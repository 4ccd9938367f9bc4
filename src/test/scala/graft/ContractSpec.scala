package graft

import graft.dedup.{Components, Dedup}
import graft.feature.TextPipeline
import graft.multimodal.Multimodal
import graft.mlops.Composition
import graft.operators.Sampling
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ContractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("every oracle key has a query; names are sane") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet.diff(qs)
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    val badBench = SparkEntry.benchNames.toSet.diff(qs)
    assert(badBench.isEmpty, s"bench names without queries: $badBench")
    assert(qs.forall(_.matches("[a-z0-9_]+")))
  }

  test("every registered query is DuckDB-oracled (zero-no_oracle invariant)") {
    // The r14 verdict's one red row was a query registered without its
    // oracle — the driver silently downgrades those to a rows-only
    // check. The surface has been 100% oracled since; a new query
    // must ship its oracle in the same commit to keep this green.
    val unOracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unOracled.isEmpty,
      s"queries without a DuckDB oracle: ${unOracled.toSeq.sorted.mkString(",")}")
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("curation capstone funnel is exact on sf0.001") {
    // Hand-derived over the 500-doc corpus and the fixture residues:
    // url fails   = |{id ≡ 5 (mod 8)}|                        = 62
    // quality     = |{id ≡ 5 (mod 13)} \ url fails|           = 39 - 5
    // dup drops   = qualified {id ≡ 0 (mod 11)} = 46 - 4 - 5 = 37 docs
    //               in 4 clusters -> 33 non-keepers
    // e_scored: the in-corpus logistic gate is trained ON the rule
    // gates' verdict and the fixture's quality classes are separable
    // in its feature space, so the learned margin agrees with the rule
    // gates exactly — every survivor passes the scored stage too.
    val f = SparkEntry.queries("curation_funnel")(spark,
        "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(f === Map("a_input" -> 500L, "b_url_ok" -> 438L,
      "c_quality_ok" -> 404L, "d_survivor" -> 371L, "e_scored" -> 371L))
  }

  test("multimodal decode: parsed type/hash survive the Spark round trip") {
    // doc_id 6 -> doc_id%4=2 -> PPM container; n=5 -> w=8+5%61=13, h=1
    val docs = Seq((6L, "hello")).toDF("doc_id", "text")
    val f = Multimodal.decodeMedia(Multimodal.encodeCorpus(docs)).head()
    assert(f.media_type === "image/ppm")
    assert(f.data_hash === "5d41402abc4b2a76b9719d911017c592") // md5("hello")
    assert(f.width === 13 && f.height === 1 && f.n_frames === 1L)
    assert(f.data_len === 5L && f.n_bytes === f.data_offset + 5L)
  }

  test("Graft facade composes an end-to-end pipeline") {
    val docs = Seq((0L, "a b c d e f"), (1L, "a b c d e f"), (2L, "x y z w q r"))
      .toDF("doc_id", "text")
    val vocab = TextPipeline.countVectorizeFit(docs, "doc_id", "text")
    assert(vocab.count() === 12)
    val dups = Dedup.minhashNearDuplicates(docs, "doc_id", "text", 0.9)
      .as[(Long, Long, Double)].collect()
    assert(dups.toSeq === Seq((0L, 1L, 1.0)))
    assert(Dedup.dropExactDuplicates(docs, "doc_id", "text").count() === 2)
    val q = TextAnalysis.qualityFeatures(docs, "doc_id", "text")
    assert(q.columns.contains("is_quality") && q.count() === 3)
    // end-to-end corpus dedup: docs 0 and 1 cluster, 0 survives; doc 2
    // shares no edges so it is absent (isolated = trivially unique)
    val clusters = Components.dedupCorpus(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(clusters === Set((0L, 0L, 1), (1L, 0L, 0)))
    // round-6 facade surface: splits, quantization, media decode
    val split = Sampling.assignSplit(docs, col("doc_id"), 800, 100)
    assert(split.columns.contains("split") && split.count() === 3)
    val media = graft.multimodal.Multimodal.encodeCorpus(docs)
    assert(Multimodal.decodeMedia(media).count() === 3)
  }

  test("validation gate fails fast with precise messages (D12)") {
    import graft.core.Validation
    val df = Seq((1, "a")).toDF("id", "s")
    assert(Validation.requireColumns(df, "id", "s") eq df)
    val e = intercept[IllegalArgumentException](
      Validation.requireColumns(df, "id", "nope"))
    assert(e.getMessage.contains("nope"))
    intercept[IllegalArgumentException](
      Validation.requireColumn(df, "id",
        org.apache.spark.sql.types.StringType))
  }

  test("block-averaged OLS equals global OLS on a noiseless line (L1)") {
    import graft.operators.Blocking
    import graft.mlops.LinearOps
    val df = (1 to 100).map(i => (i, i.toDouble, 3.0 * i + 7.0))
      .toDF("k", "x", "y")
    val blocked = Blocking.withBlockId(df, bsize = 25, Seq(col("k")))
    val fit = LinearOps.blockAveragedOlsFit(blocked, "block_id", "x", "y")
      .as[(Double, Double, Long)].head()
    assert(math.abs(fit._1 - 3.0) < 1e-6 && math.abs(fit._2 - 7.0) < 1e-6)
    assert(fit._3 === 4L)
  }

  test("bivariate OLS recovers exact coefficients on a noiseless plane (L5)") {
    import graft.mlops.LinearOps
    val df = (for { i <- 1 to 50; j <- 1 to 4 } yield
      (i.toDouble, j.toDouble, 2.0 + 3.0 * i - 4.0 * j))
      .toDF("x1", "x2", "y")
    val fit = LinearOps.olsFitN(df, Seq("x1", "x2"), "y", roundTo = 6)
      .as[(Double, Double, Double)].head()
    assert(math.abs(fit._1 - 2.0) < 1e-5, s"b0=${fit._1}")
    assert(math.abs(fit._2 - 3.0) < 1e-5, s"b1=${fit._2}")
    assert(math.abs(fit._3 + 4.0) < 1e-5, s"b2=${fit._3}")
  }

  test("featureUnion stacks columns into one vector (P2)") {
    val df = Seq((1.0, 2.0, 3.0)).toDF("a", "b", "c")
    val out = Composition.featureUnion(Seq("a", "b", "c")).transform(df)
    val v = out.select("features").head
      .getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.toArray.toSeq === Seq(1.0, 2.0, 3.0))
  }

  test("cvRidgeUnivariate: zero error on an exact line at lambda=0, mse grows with lambda") {
    // y = 2x + 1 exactly: the lambda=0 fold fits recover the line, so
    // held-out mse is ~0; ridge shrinkage biases the slope, so mse rises
    // monotonically along the grid.
    val df = (1 to 200).map(i => (i.toLong, i.toDouble, 2.0 * i + 1.0))
      .toDF("k", "x", "y")
    val out = Composition.cvRidgeUnivariate(df, col("k"), col("x"), col("y"),
        lambdas = Seq(0.0, 1000.0, 100000.0), k = 3)
      .orderBy("grid_idx")
      .select("avg_mse").as[Double].collect()
    assert(out.length === 3)
    assert(out(0) === 0.0, s"lambda=0 mse=${out(0)}")
    assert(out(0) < out(1) && out(1) < out(2), out.toSeq.toString)
  }

  test("cvRidgeGrid: each feature axis reproduces the univariate grid") {
    // Two candidate features over the same rows: the multi-axis result
    // restricted to one feature must equal cvRidgeUnivariate on that
    // feature alone (stacking must not couple the axes), and the exact
    // feature (y = 2x + 1) must beat the noise feature at lambda=0.
    val rnd = new scala.util.Random(11)
    val df = (1 to 200).map(i =>
        (i.toLong, i.toDouble, rnd.nextDouble() * 100.0, 2.0 * i + 1.0))
      .toDF("k", "x", "noise", "y")
    val lambdas = Seq(0.0, 1000.0)
    val multi = Composition.cvRidgeGrid(df, col("k"),
        Seq("x" -> col("x"), "noise" -> col("noise")), col("y"), lambdas, k = 3)
      .select("feature", "grid_idx", "avg_mse")
      .as[(String, Int, Double)].collect()
    assert(multi.length === 4)
    val byFeat = multi.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    for (feat <- Seq("x", "noise")) {
      val uni = Composition.cvRidgeUnivariate(df, col("k"), col(feat), col("y"),
          lambdas, k = 3)
        .orderBy("grid_idx").select("avg_mse").as[Double].collect().toSeq
      assert(byFeat(feat) === uni, s"feature=$feat")
    }
    assert(byFeat("x").head < byFeat("noise").head)
  }

  test("composition: pipeline + grid search pick a fitted model") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(col("label") < 3).limit(120)
    val cv = Composition.gridSearchLogistic(emb, "embedding", "label",
      regParams = Seq(0.0, 0.5), numFolds = 2)
    assert(cv.avgMetrics.length === 2)
    assert(cv.bestModel !== null)
  }
}
