package perfbench

import graft.core.Tables
import graft.dedup.{Components, Dedup}
import graft.feature.TextPipeline
import graft.mlops.{ClusterOps, Composition, LinearOps, NaiveBayesOps, Scoring}
import graft.similarity.Similarity
import org.apache.spark.ml.feature.CountVectorizerModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What a workload sees: the session, its generated inputs, a directory
  * for the durable assets it builds, and the hooks that trace a call
  * into a module when this execution is the traced one.
  */
final class Ctx(val spark: SparkSession, dataDir: String,
                val assetDir: String, trace: Option[Trace]) {
  val tables: Tables = Tables(spark, dataDir)

  /** A module call that returns a lazy frame. Traced, it runs in its own
    * span and its output is materialized there; `countAs` records the
    * output's row count.
    */
  def call(span: String, countAs: String = "")(f: => DataFrame): DataFrame =
    trace match {
      case None => f
      case Some(t) => t.span(span) {
        val (m, n) = t.materialize(f)
        if (countAs.nonEmpty) t.count(countAs, n.toDouble)
        m
      }
    }

  /** A module call that does its work before returning. */
  def run[A](span: String)(f: => A): A = trace.fold(f)(_.span(span)(f))

  def count(name: String, v: => Double): Unit = trace.foreach(_.count(name, v))
}

/** One pipeline, written the way a user calls the modules. Its outputs
  * are written to the sink by the harness; `mirrors` names, for each
  * output that a registered `SparkEntry` query computes too, that query.
  */
trait Workload {
  def name: String
  def mirrors: Map[String, String]
  def run(c: Ctx): Seq[(String, DataFrame)]
}

object Workloads {
  val all: Seq[Workload] = Seq(DedupWorkload, ModelSelectWorkload,
    VectorIndexWorkload)

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload: $n"))

  /** Per-label mean vectors: the deterministic centroid set the
    * registered dedup and similarity queries build their cells from.
    */
  def labelCenters(emb: DataFrame): DataFrame =
    NaiveBayesOps.toLongForm(emb, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))
}

/** Corpus near-duplicate pipeline: the work of `dedup_ngram_jaccard` and
  * `dedup_provenance_clusters` sharing one shingling and one signature
  * pass.
  */
object DedupWorkload extends Workload {
  val name = "dedup"
  val mirrors = Map("jaccard" -> "dedup_ngram_jaccard",
    "clusters" -> "dedup_provenance_clusters")

  def run(c: Ctx): Seq[(String, DataFrame)] = {
    val docs = c.call("sources.read")(c.tables.documents)
    val emb = c.call("sources.read")(c.tables.embeddings)
    val sh = c.call("dedup.shingle")(
      Dedup.shingles(docs, "doc_id", "text", n = 3))
    val fused = c.call("dedup.signature")(
      Dedup.fusedSignatures(sh, "doc_id", numHashes = 8, bits = 60))
    val cand = c.call("dedup.candidate", "dedup.candidate_pairs")(
      Dedup.minhashBandCandidates(fused.select(col("doc_id"),
        posexplode(col("sig")).as(Seq("h", "minhash"))), "doc_id",
        rowsPerBand = 2))
    val verified = c.call("dedup.verify", "dedup.verified_pairs")(
      Dedup.jaccardPairs(sh, "doc_id", threshold = 0.05,
        candidates = Some(cand)))

    val hashed = docs.select(col("doc_id"), md5(col("text")).as("_h"))
    val exact = c.call("dedup.candidate")(
      hashed.select(col("doc_id").as("id_a"), col("_h"))
        .join(hashed.select(col("doc_id").as("id_b"), col("_h")), "_h")
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit("exact").as("src")))
    val sim = c.call("dedup.candidate")(
      Dedup.simhashPairsBlocked(fused.select(col("doc_id"), col("simhash")),
        "doc_id", maxHamming = 3, bits = 60)
        .select(col("id_a"), col("id_b"), lit("simhash").as("src")))
    val cos = c.call("dedup.candidate")(
      Dedup.embeddingNearDupCells(emb, "vec_id", "embedding",
        Workloads.labelCenters(emb), "cell", threshold = 0.45)
        .select(col("id_a"), col("id_b"), lit("cosine").as("src")))
    val near = cand.select(col("id_a"), col("id_b"), lit("minhash").as("src"))
    val clusters = c.call("dedup.components")(
      Components.provenanceClusters(
        exact.unionByName(near).unionByName(sim).unionByName(cos))
        .select(col("id").as("doc_id"), col("comp").as("component"),
          col("is_survivor"), col("cluster_size"), col("sources")))
    Seq("jaccard" -> verified, "clusters" -> clusters)
  }
}

/** The paper's own surface on a labelled corpus: vocabulary fit, TF-IDF,
  * Naive Bayes, block-averaged logistic GD, Lloyd k-means, the pipeline
  * grid search, and scoring. The NB and grid outputs are those of
  * `n3_nb_predict_lang` and `cv_grid_search_pipeline`.
  */
object ModelSelectWorkload extends Workload {
  val name = "model_select"
  val mirrors = Map("nb_predict" -> "n3_nb_predict_lang",
    "grid" -> "cv_grid_search_pipeline")

  val GdRounds = 2
  val LloydRounds = 2
  val Clusters = 8
  val Blocks = 4

  /** A vector's nonzero coordinates as (dim, v) pairs. */
  private val nonZeros = udf { (x: Vector) =>
    val s = x.toSparse
    s.indices.toSeq.zip(s.values.toSeq)
  }

  def run(c: Ctx): Seq[(String, DataFrame)] = {
    val docs = c.call("sources.read")(c.tables.documents)
    // the default vocabulary cap is above the corpus vocabulary, so every
    // term is a feature: a cap that falls among terms of equal count
    // would let CountVectorizer pick the features arbitrarily
    val vocab = c.run("feature.vocab")(TextPipeline.tfidfPipeline().fit(docs))
    val terms = vocab.stages.collectFirst {
      case m: CountVectorizerModel => m.vocabulary
    }.getOrElse(Array.empty[String])
    c.count("feature.vocab_terms", terms.length.toDouble)
    // vector dimensions are reported by term: CountVectorizer orders
    // terms of equal count arbitrarily
    val dimTerms = c.spark.createDataFrame(terms.toSeq.zipWithIndex
      .map { case (t, i) => (i, t) }).toDF("dim", "term")
    // TF-IDF in long form, nonzero coordinates only: with one dimension
    // per corpus term, dense rows would be almost all zeros
    val points = c.call("feature.transform")(vocab.transform(docs)
      .select(col("doc_id"), explode(nonZeros(col("tfidf"))).as("e"))
      .select(col("doc_id"), col("e._1").as("dim"), col("e._2").as("v")))

    val tokens = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val classDocs = docs.select(col("doc_id"), col("lang"))
    val nb = c.call("mlops.nb")(
      NaiveBayesOps.multinomialPredict(tokens, "doc_id", "term", classDocs,
          "lang")
        .join(classDocs.withColumnRenamed("lang", "actual"), "doc_id")
        .select(col("doc_id"), col("pred"), col("actual"),
          (col("pred") === col("actual")).cast("int").as("correct")))

    val labels = docs.select(col("doc_id"),
      (col("lang") === "en").cast("double").as("y"))
    val gd = c.call("mlops.gd")(
      LinearOps.blockAveragedLogisticGd(
        points.withColumn("block", pmod(col("doc_id"), lit(Blocks))),
        labels, "doc_id", "block", "y", iters = GdRounds, lr = 0.5))
    // on the sparse long form, a point's distance to a center runs over
    // the dimensions both carry
    val centers = c.call("mlops.kmeans")(
      ClusterOps.lloydIterations(points, "doc_id", k = Clusters,
        iters = LloydRounds))
    val grid = c.call("mlops.grid")(
      Composition.cvNbPipelineGrid(docs, "doc_id", "text", "lang",
        caps = Seq(8, 32), alphas = Seq(0.5, 1.0), k = 2))
    val assign = ClusterOps.assignToCenters(points, centers, "doc_id", "cid")
    val kmeansScore = c.call("mlops.score")(
      Scoring.score(assign, "cluster", "", "dist2"))
    Seq("nb_predict" -> nb, "grid" -> grid,
      "gd_weights" -> gd.join(dimTerms, "dim").drop("dim"),
      "kmeans_score" -> kmeansScore)
  }
}

/** IVF asset lifecycle and kNN graph refinement: the sequences of
  * `sim_ivf_index_compact` and `sim_knn_refine`.
  */
object VectorIndexWorkload extends Workload {
  val name = "vector_index"
  val mirrors = Map("ivf_topk" -> "sim_ivf_index_compact",
    "knn_refine" -> "sim_knn_refine")

  def run(c: Ctx): Seq[(String, DataFrame)] = {
    val emb = c.call("sources.read")(c.tables.embeddings)
    val centers = Workloads.labelCenters(emb)
    val path = s"${c.assetDir}/ivf"
    c.run("similarity.build")(Similarity.writeIvfIndex(
      emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", centers,
      "cell", path))
    c.run("similarity.append")(Similarity.mergeIvfIndex(
      emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", path))
    c.run("sources.compact")(Similarity.compactIvfIndex(c.spark, path))
    val topk = c.call("similarity.query", "similarity.result_edges")(
      Similarity.queryIvfIndexed(c.spark, path,
        emb.where(col("vec_id") < 10), "vec_id", "embedding", nProbe = 2,
        k = 3))
    val graph = c.call("similarity.knn_graph", "similarity.result_edges")(
      Similarity.knnGraphCells(emb, "vec_id", "embedding", centers, "cell",
        k = 3, nProbe = 2))
    val refined = c.call("similarity.knn_refine", "similarity.result_edges")(
      Similarity.knnRefine(emb, "vec_id", "embedding", graph, k = 3))
    Seq("ivf_topk" -> topk, "knn_refine" -> refined)
  }
}
