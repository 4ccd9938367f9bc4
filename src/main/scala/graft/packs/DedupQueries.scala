package graft.packs

import graft.QueryPack
import graft.core.{Caches, Tables}
import graft.dedup.{Components, Dedup, SuffixRank}
import graft.text.LineDedup
import graft.mlops.NaiveBayesOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication (north-star extension): exact, MinHash+LSH banding,
  * SimHash, n-gram Jaccard, embedding-cosine — every stage oracle-checked
  * via the engine-portable md5 hash family.
  */
object DedupQueries extends QueryPack {

  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Dedup.shingles(Tables(s, dir).documentsSpread, "doc_id", "text", n = 3)

  // exact-md5 ∪ banded-minhash edge set over the doc corpus — the edge
  // source shared by dedup_pipeline_clusters and dedup_clusters_total
  // (one definition, so the twins and their oracles cannot drift apart).
  private def pipelineEdges(s: SparkSession, dir: String): DataFrame = {
    val exactEdges = Dedup.exactPairs(Tables(s, dir).documents, "doc_id",
      "text")
    val sig = Dedup.minhashSignatures(docShingles(s, dir), "doc_id",
      numHashes = 8)
    val near = Dedup.minhashBandCandidates(sig, "doc_id", rowsPerBand = 2)
    exactEdges.union(near).distinct()
  }

  // Deterministic per-label-mean centroids (same construction as
  // sim_ivf_topk) — the cell index for SemDeDup-style embedding dedup.
  // NOT checkpointed: every consumer references the centers frame exactly
  // once (the broadcast side of assignToCenters), so an eager
  // localCheckpoint would add a materialization job per query without
  // removing any recomputation (measured: provenance_clusters 2.6→3.4s
  // with a checkpoint here).
  private def labelCenters(s: SparkSession, dir: String): DataFrame =
    NaiveBayesOps.toLongForm(Tables(s, dir).embeddings, Seq("label"), "embedding")
      .groupBy(col("label").as("cell"), col("dim"))
      .agg(avg(col("v")).as("c"))

  // Shared oracle CTE: distinct word-trigram shingles (relational 3-way
  // join formulation — intentionally a different algorithm than the Spark
  // array-lambda, same semantics).
  private val shingleCte =
    """toks AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS p,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS shingle
      |  FROM toks a
      |  JOIN toks b ON a.doc_id = b.doc_id AND b.p = a.p + 1
      |  JOIN toks c ON a.doc_id = c.doc_id AND c.p = a.p + 2)""".stripMargin

  /** Shared by dedup_incremental_pairs AND the durable band-index asset
    * queries — both compute the odd(new) × even(index) banded pair set,
    * in-memory or through the asset.
    */
  private val incrementalPairsOracle: String =
    s"""WITH $shingleCte,
       |sig AS (
       |  SELECT doc_id, CAST(g.h AS INT) AS h,
       |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
       |      AS minhash
       |  FROM sh, generate_series(0, 7) g(h)
       |  GROUP BY doc_id, g.h),
       |bands AS (
       |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
       |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
       |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT))
       |SELECT s.doc_id AS new_id, i.doc_id AS index_id,
       |  CAST(count(*) AS BIGINT) AS n_shared_bands
       |FROM bands s JOIN bands i
       |  ON s.band = i.band AND s.band_sig = i.band_sig
       |WHERE s.doc_id % 2 = 1 AND i.doc_id % 2 = 0
       |GROUP BY s.doc_id, i.doc_id
       |ORDER BY new_id, index_id""".stripMargin

  /** Per-(sf, JVM, suffix) tmp path for a band-index asset, shutdown-
    * hook-removed (the TextAnalysisQueries tmpIndexPath pattern; the
    * graft_posidx prefix keeps it under Bench's between-query sweep).
    */
  private val hookedBandPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def tmpBandPath(dir: String, suffix: String): String = {
    val path =
      s"${System.getProperty("java.io.tmpdir")}/graft_posidx_band$suffix" +
        s"_${dir.replaceAll("[^A-Za-z0-9]", "")}" +
        s"_${ProcessHandle.current().pid()}"
    if (hookedBandPaths.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))
    path
  }

  /** The suffix-family input: the first 40 documents' texts concatenated
    * (in doc_id order) into one 0-based contiguous token stream. Doc
    * offsets come from per-doc token counts — the offset window runs
    * over one row per DOC, not per token, and the tiny offset table
    * broadcasts.
    */
  private def cappedTokenStream(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir).documents.where(col("doc_id") < 40)
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("p", "tok")))
    val offs = toks.groupBy("doc_id").agg(count(lit(1)).as("c"))
      .withColumn("off", coalesce(
        sum(col("c")).over(Window.orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("off"))
    toks.join(broadcast(offs), "doc_id")
      .select((col("off") + col("p")).as("pos"), col("tok"))
  }

  val queries: Map[String, Q] = Map(
    // Exact dedup stats: raw text + bag-of-words canonical hash.
    "dedup_exact_stats" -> ((s, dir) =>
      Dedup.exactStats(Tables(s, dir).documents, "text")),

    // Distributed suffix ranking (prefix doubling) over the token stream
    // of a capped corpus slice — the suffix-array index behind
    // exact-substring dedup (Lee et al. 2022). The cap (40 docs, ~2k
    // tokens) exists for the O(n²)-string oracle, not the operator:
    // suffixRanks itself is all shuffle-bounded dataframe ops with no
    // single-task window, ⌈log₂ n⌉ rounds.
    "dedup_suffix_ranks" -> ((s, dir) =>
      SuffixRank.suffixRanks(cappedTokenStream(s, dir), "pos", "tok")
        .orderBy("pos")),

    // LCP array over the same stream: token length of the common prefix
    // of every rank-adjacent suffix pair (sparse-table descent over the
    // doubling rounds' rank history — ⌈log₂ n⌉ equi-join levels, no
    // single-task step). Oracle recomputes each adjacent pair's LCP by
    // elementwise token comparison over materialized suffix arrays — a
    // deliberately different algorithm.
    "dedup_lcp" -> ((s, dir) =>
      SuffixRank.lcpArray(cappedTokenStream(s, dir), "pos", "tok")
        .orderBy("rank")),

    // Exact-substring repeat detection (the Lee et al. 2022 primitive):
    // starting positions of every 3-token gram occurring more than once,
    // read off the LCP array (lcp ≥ 3 with a rank-neighbor ⟺ the gram
    // repeats — shared-prefix suffixes are SA-contiguous). L=3 because
    // the capped synthetic slice tops out at LCP 4 — longer L would make
    // the oracle vacuously empty. Oracle groups the 3-grams directly
    // (independent algorithm, no suffix structure).
    "dedup_repeated_lgrams" -> ((s, dir) =>
      SuffixRank.repeatedGramPositions(cappedTokenStream(s, dir),
        "pos", "tok", minLen = 3).orderBy("pos")),

    // MinHash signatures (8 hash fns) in long form.
    "dedup_minhash_sig" -> ((s, dir) => {
      Dedup.minhashSignatures(docShingles(s, dir), "doc_id", numHashes = 8)
        .where(col("doc_id") < 50)
        .orderBy(col("doc_id"), col("h"))
    }),

    // LSH banding (4 bands × 2 rows) → candidate pairs → jaccard verify.
    // The full pipeline: only candidate pairs ever reach the pairwise step.
    // The shingle relation feeds both the signature branch and the
    // verify-side arrays — checkpoint so the explode runs once (the r6
    // driver bench measured 2.0× without it).
    "dedup_minhash_candidates" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY persist (r9
      // durability criterion), still materialized once for all readers
      val sh = Caches.track(docShingles(s, dir).persist(StorageLevel.DISK_ONLY))
      val sig = Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
      val cand = Dedup.minhashBandCandidates(sig, "doc_id", rowsPerBand = 2)
      Dedup.jaccardPairs(sh, "doc_id", threshold = 0.0, candidates = Some(cand))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Two-stage fuzzy dedup, edit-distance flavor: banded-minhash
    // candidates VERIFIED by exact Levenshtein ratio — the other
    // standard verify next to the Jaccard one above (MinHash gates,
    // an exact metric decides). Cost is candidate-bounded, never
    // corpus-quadratic; both engines ship levenshtein natively.
    "dedup_edit_verify" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val sig = Dedup.minhashSignatures(docShingles(s, dir), "doc_id",
        numHashes = 8)
      val cand = Dedup.minhashBandCandidates(sig, "doc_id", rowsPerBand = 2)
      Dedup.editVerifyPairs(cand, docs, "doc_id", "text")
        .withColumn("verified", col("edit_ratio") <= 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // LSH S-curve auto-tuner: the full (bands, rowsPerBand) curve
    // family for a 16-hash signature at target J=0.8 with a 5% budget
    // on J=0.2 collisions, `chosen` marking the solved config — the
    // operator that closes the banding surface's last manual knob.
    // Pure arithmetic over three scalars; the oracle unrolls
    // 1−(1−jʳ)ᵇ directly.
    "dedup_lsh_tune" -> ((s, dir) =>
      Dedup.tuneBands(s, numHashes = 16, threshold = 0.8,
        fpJaccard = 0.2, fpBudget = 0.05)),

    // The tuner wired END TO END on the corpus: banding solved from
    // (threshold 0.8, fp budget 0.05) over the 8-hash signatures —
    // r=3, b=2, surplus hashes dropped so only FULL bands form — then
    // the standard bucket-join candidate generation. The oracle
    // replays the solved configuration literally (h < 6, band = h//3):
    // if the tuner's argmax ever drifts, the banding changes and every
    // row hash goes red.
    "dedup_tuned_candidates" -> ((s, dir) => {
      val sig = Dedup.minhashSignatures(docShingles(s, dir), "doc_id",
        numHashes = 8)
      Dedup.minhashBandCandidatesTuned(sig, "doc_id", numHashes = 8,
          threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Deterministic fixed-round PageRank over the near-dup similarity
    // graph (operators.Graph — the c4_svd_power determinism contract
    // applied to graph centrality): banded-minhash candidate pairs,
    // symmetrized, 6 rounds at damping 0.85 from the uniform start;
    // singleton docs are dangling and their mass redistributes
    // uniformly, so the rank vector stays a distribution. Rank
    // concentrates on docs inside large duplication families — the
    // centrality-weighted canonical-selection signal. The oracle
    // unrolls all 6 rounds as materialized CTEs.
    "graph_pagerank" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY persist (r9
      // durability criterion), still materialized once for all readers
      val sh = Caches.track(docShingles(s, dir).persist(StorageLevel.DISK_ONLY))
      val cand = Dedup.minhashBandCandidates(
        Dedup.minhashSignatures(sh, "doc_id", numHashes = 8),
        "doc_id", rowsPerBand = 2)
      val sym = cand.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(cand.select(col("id_b").as("src"), col("id_a").as("dst")))
      graft.operators.Graph.pageRank(sym, "src", "dst",
          Tables(s, dir).documents, "doc_id", iters = 6, damping = 0.85)
        .select(col("id").as("doc_id"),
          (round(col("rank"), 8) + lit(0.0)).as("rank"))
        .orderBy(col("doc_id"))
    }),

    // Exact triangle census of the near-dup graph (compact-forward,
    // wedges ordered by node id): the clustering-coefficient signal
    // that separates genuine duplication families (dense, triangle-
    // rich) from chains of borderline pairwise matches — the structural
    // check on banding output before survivors are chosen.
    "graph_triangles" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY persist (r9
      // durability criterion), still materialized once for all readers
      val sh = Caches.track(docShingles(s, dir).persist(StorageLevel.DISK_ONLY))
      val cand = Dedup.minhashBandCandidates(
        Dedup.minhashSignatures(sh, "doc_id", numHashes = 8),
        "doc_id", rowsPerBand = 2)
      graft.operators.Graph.triangleCount(cand, "id_a", "id_b")
    }),

    // Incremental-ingest dedup: the even-id half of the corpus is the
    // materialized band index (the 100 TB side, built once); the
    // odd-id half arrives as the increment and pays one signature pass
    // + one bucket join. Output is keeper-policy provenance — which
    // index doc each new doc collides with and across how many bands.
    "dedup_incremental_pairs" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsSpread
      val index = Dedup.bandSignatures(
        Dedup.minhashSignatures(
          Dedup.shingles(docs.where(col("doc_id") % 2 === 0),
            "doc_id", "text"),
          "doc_id"),
        "doc_id")
      Dedup.nearDupPairsAgainstIndex(docs.where(col("doc_id") % 2 === 1),
          index, "doc_id", "text", indexIdCol = "doc_id")
        .orderBy(col("new_id"), col("index_id"))
    }),

    // The DURABLE form of the band index (the third index asset): a
    // quarter-built asset plus an appended quarter equals the even-half
    // index (merge ≡ rebuild — the banding knobs ride in the asset's
    // _graft_banding sidecar, never re-supplied), and the odd half
    // queried against it returns the same pair set as the in-memory
    // path — dedup_incremental_pairs' oracle pins it verbatim.
    "dedup_band_index" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsSpread
      val path = tmpBandPath(dir, "")
      Dedup.writeBandIndex(docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text", path)
      Dedup.mergeBandIndexAsset(docs.where(col("doc_id") % 4 === 2),
        "doc_id", "text", path)
      Dedup.queryBandIndex(s, path, docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy(col("new_id"), col("index_id"))
    }),

    // And compact ≡ no-op on the same lifecycle: rewrite the
    // twice-written buckets to one file each, query — identical pairs.
    "dedup_band_index_compact" -> ((s, dir) => {
      val docs = Tables(s, dir).documentsSpread
      val path = tmpBandPath(dir, "c")
      Dedup.writeBandIndex(docs.where(col("doc_id") % 4 === 0),
        "doc_id", "text", path)
      Dedup.mergeBandIndexAsset(docs.where(col("doc_id") % 4 === 2),
        "doc_id", "text", path)
      Dedup.compactBandIndex(s, path)
      Dedup.queryBandIndex(s, path, docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy(col("new_id"), col("index_id"))
    }),

    // Label-propagation communities over the near-dup graph, 4
    // synchronous rounds with deterministic ties (most frequent
    // neighbor label, then smallest) — finer than components: families
    // bridged by one borderline candidate edge keep distinct labels.
    "graph_label_communities" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY persist (r9
      // durability criterion), still materialized once for all readers
      val sh = Caches.track(docShingles(s, dir).persist(StorageLevel.DISK_ONLY))
      val cand = Dedup.minhashBandCandidates(
        Dedup.minhashSignatures(sh, "doc_id", numHashes = 8),
        "doc_id", rowsPerBand = 2)
      graft.operators.Graph.labelPropagation(cand, "id_a", "id_b",
          rounds = 4)
        .select(col("id").as("doc_id"), col("label").as("community"))
        .orderBy(col("doc_id"))
    }),

    // 2-core of the near-dup graph (iterative peeling to the fixpoint):
    // docs that survive are pinned by >= 2 independent banding matches
    // WITHIN the core — chains of borderline pairwise hits peel away,
    // dense duplication families remain. The structural noise filter
    // run on band-index output before cluster survivors are chosen.
    // Oracle unrolls 4 peel rounds (the fixture converges in 1; extra
    // rounds are no-ops on both sides by the fixpoint argument in
    // operators.Graph.kCore).
    "graph_kcore" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY persist (r9
      // durability criterion), still materialized once for all readers
      val sh = Caches.track(docShingles(s, dir).persist(StorageLevel.DISK_ONLY))
      val cand = Dedup.minhashBandCandidates(
        Dedup.minhashSignatures(sh, "doc_id", numHashes = 8),
        "doc_id", rowsPerBand = 2)
      graft.operators.Graph.kCore(cand, "id_a", "id_b", k = 2, maxRounds = 4)
        .select(col("id").as("doc_id"), col("core_degree"))
        .orderBy(col("doc_id"))
    }),

    // MinHash Jaccard ESTIMATE vs exact on the banded candidates — the
    // estimator the signatures exist for, next to its ground truth.
    "dedup_minhash_estimate" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY persist (r9
      // durability criterion), still materialized once for all readers
      val sh = Caches.track(docShingles(s, dir).persist(StorageLevel.DISK_ONLY))
      val sig = Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
      val cand = Dedup.minhashBandCandidates(sig, "doc_id", rowsPerBand = 2)
      val est = Dedup.minhashEstimate(sig, "doc_id", cand, numHashes = 8)
      val exact = Dedup.jaccardPairs(sh, "doc_id", threshold = 0.0,
        candidates = Some(cand))
      est.join(exact, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"),
          round(col("est_jaccard"), 4).as("est_jaccard"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash 16-bit signatures (per-bit majority over shingle hashes).
    "dedup_simhash" -> ((s, dir) => {
      Dedup.simhash(docShingles(s, dir).where(col("doc_id") < 50), "doc_id")
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs: hamming <= 3 over the 16-bit signatures.
    "dedup_simhash_pairs" -> ((s, dir) => {
      val sh = Dedup.simhash(docShingles(s, dir), "doc_id")
      Dedup.simhashPairs(sh, "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash pairs via Manku multi-block indexing — the scale path.
    // 60-bit signatures (vs the 16-bit compact form above): with 4 blocks
    // of 15 bits, block values are sparse enough that buckets hold only
    // genuinely-similar prefixes; at 16 bits the 4-bit block space (16
    // values) saturates and candidate generation degenerates toward the
    // cross join it replaces. Recall within hamming<=3 is exact
    // (pigeonhole); the oracle recomputes the same 60-bit pipeline.
    "dedup_simhash_blocked" -> ((s, dir) => {
      val sh = Dedup.simhash(docShingles(s, dir), "doc_id", bits = 60)
      Dedup.simhashPairsBlocked(sh, "doc_id", maxHamming = 3, bits = 60)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Cluster resolution: candidate pairs → connected components →
    // canonical survivor per cluster (iterative min-label propagation;
    // the DuckDB oracle recomputes it with a recursive CTE).
    "dedup_components" -> ((s, dir) => {
      val sh = docShingles(s, dir)
      val sig = Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
      val cand = Dedup.minhashBandCandidates(sig, "doc_id", rowsPerBand = 2)
      Components.dedupClusters(cand, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("comp").as("component"),
          col("is_survivor"))
        .orderBy(col("doc_id"))
    }),

    // The end-to-end corpus dedup pipeline in one query: exact-duplicate
    // edges (same md5 text) UNION banded-minhash near-dup edges →
    // connected components → survivor + cluster size. What a user runs
    // to dedup a training corpus.
    "dedup_pipeline_clusters" -> ((s, dir) => {
      val wComp = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      Components.dedupClusters(pipelineEdges(s, dir), "id_a", "id_b")
        .withColumn("cluster_size", count(lit(1)).over(wComp))
        .select(col("id").as("doc_id"), col("comp").as("component"),
          col("is_survivor"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // Same pipeline over the FULL doc universe: isolated docs (no dup
    // edges at all) appear as singleton clusters instead of vanishing —
    // the report shape a dedup job actually emits (every input doc has a
    // disposition).
    "dedup_clusters_total" -> ((s, dir) => {
      val wComp = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      Components.dedupClustersAll(pipelineEdges(s, dir), "id_a", "id_b",
          Tables(s, dir).documents.select(col("doc_id")), "doc_id")
        .withColumn("cluster_size", count(lit(1)).over(wComp))
        .select(col("id").as("doc_id"), col("comp").as("component"),
          col("is_survivor"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // Components over the UNION of ALL near-dup edge sources — exact ∪
    // banded-minhash ∪ Manku-blocked-simhash ∪ embedding-cosine — with
    // per-cluster provenance (which detectors fired). The full-corpus
    // answer to "is this a duplicate, and says who".
    "dedup_provenance_clusters" -> ((s, dir) => {
      val exact = Dedup.exactPairs(Tables(s, dir).documents, "doc_id", "text")
        .select(col("id_a"), col("id_b"), lit("exact").as("src"))
      // Fused signature operator, UNPERSISTED here on purpose: Catalyst
      // prunes the fused aggregate per consumer (minhash branch keeps the
      // 8 mins, simhash branch the 60 votes), so this degrades into two
      // pruned parallel passes — measured fastest at bench scale (1.4s vs
      // 2.2s separate / 1.7s checkpointed). A deployment that must not
      // scan a 100 TB corpus twice persists the fused output instead (one
      // row per doc: id + 8 longs + 1 long).
      val fused = Dedup.fusedSignatures(docShingles(s, dir), "doc_id",
        numHashes = 8, bits = 60)
      val near = Dedup.minhashBandCandidates(
          fused.select(col("doc_id"),
            posexplode(col("sig")).as(Seq("h", "minhash"))),
          "doc_id", rowsPerBand = 2)
        .select(col("id_a"), col("id_b"), lit("minhash").as("src"))
      val sim = Dedup.simhashPairsBlocked(
          fused.select(col("doc_id"), col("simhash")),
          "doc_id", maxHamming = 3, bits = 60)
        .select(col("id_a"), col("id_b"), lit("simhash").as("src"))
      // SemDeDup cell-gated cosine edges — no quadratic operator in the
      // capstone plan (the exact all-pairs twin stays in
      // dedup_embedding_cosine). Deterministic, so the oracle mirrors
      // the same cell assignment; cross-cell pairs forgone by design.
      val cos = Dedup.embeddingNearDupCells(Tables(s, dir).embeddings,
          "vec_id", "embedding", labelCenters(s, dir), "cell",
          threshold = 0.45)
        .select(col("id_a"), col("id_b"), lit("cosine").as("src"))
      Components.provenanceClusters(
          exact.unionByName(near).unionByName(sim).unionByName(cos))
        .select(col("id").as("doc_id"), col("comp").as("component"),
          col("is_survivor"), col("cluster_size"), col("sources"))
        .orderBy(col("doc_id"))
    }),

    // n-gram Jaccard GATED by banded-minhash candidates — the 100 TB
    // path end to end: no pairwise computation ever runs outside the
    // candidate set. This is the form the bench measures; the ungated
    // all-pairs twin is dedup_ngram_jaccard_exact below.
    "dedup_ngram_jaccard" -> ((s, dir) => {
      // shingle relation is corpus-sized → DISK_ONLY blocks (r9
      // durability criterion). localCheckpoint(eager), not a lazy
      // persist (r22): the signature/candidate subtree and the gated
      // jaccard join both reference it from concurrently-materialized
      // stages — racing a lazy persist re-ran the shingle explode; the
      // eager checkpoint materializes it exactly once at the
      // AQE-coalesced width (tracked: released by the harness sweep).
      val sh = graft.core.Caches.pinShared(docShingles(s, dir),
        StorageLevel.DISK_ONLY)
      val sig = Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
      val cand = Dedup.minhashBandCandidates(sig, "doc_id", rowsPerBand = 2)
      Dedup.jaccardPairs(sh, "doc_id", threshold = 0.05,
          candidates = Some(cand))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Full ungated n-gram Jaccard above threshold — the small-scale
    // verification twin of the gated form (catches pairs banding missed;
    // quadratic postings join, never in the bench set).
    "dedup_ngram_jaccard_exact" -> ((s, dir) => {
      Dedup.jaccardPairs(docShingles(s, dir), "doc_id", threshold = 0.05)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // EXACT threshold join by prefix filtering (AllPairs): every pair
    // with trigram-set jaccard >= 0.3, provably — no LSH recall loss.
    // The oracle is pure brute force; the prefix filter must reproduce
    // it exactly or this query goes red.
    "dedup_ppjoin_pairs" -> ((s, dir) => {
      Dedup.ppJoinPairs(docShingles(s, dir), "doc_id", threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // n-gram containment |A∩B|/min(|A|,|B|): subset-duplication pairs
    // Jaccard under-scores (quotes, embedded passages).
    "dedup_containment" -> ((s, dir) => {
      Dedup.containmentPairs(docShingles(s, dir), "doc_id", threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // CCNet-style segment-level dedup: per-doc duplicated-segment
    // fraction over fixed 8-token chunks.
    "dedup_segment_stats" -> ((s, dir) => {
      Dedup.segmentDupStats(Tables(s, dir).documents, "doc_id", "text",
          w = 8)
        .orderBy(col("doc_id"))
    }),

    // The removal transform: duplicate segments keep their canonical
    // first occurrence, docs reassemble from survivors (hash-compared).
    "dedup_segment_clean" -> ((s, dir) => {
      Dedup.removeDuplicateSegments(Tables(s, dir).documents,
          "doc_id", "text", w = 8)
        .select(col("doc_id"), col("n_kept"),
          md5(col("cleaned_text")).as("cleaned_hash"))
        .orderBy(col("doc_id"))
    }),

    // Exact-substring duplication diagnostic (Lee et al. 2022 shape at
    // window L=8): per-doc fraction of token positions covered by an
    // 8-token window occurring more than once in the corpus; overlapping
    // windows merge (gaps-and-islands), so coverage never double-counts.
    "dedup_repeated_spans" -> ((s, dir) => {
      Dedup.repeatedSpanStats(Tables(s, dir).documentsSpread, "doc_id", "text",
          windowTokens = 8)
        .orderBy(col("doc_id"))
    }),

    // The removal transform for repeated spans: canonical (global-min
    // (doc, pos)) occurrence of each duplicated 8-token window survives,
    // positions covered only by non-canonical duplicated windows are
    // stripped, docs reassemble in order (hash-compared).
    "dedup_repeated_spans_clean" -> ((s, dir) => {
      Dedup.removeRepeatedSpans(Tables(s, dir).documentsSpread, "doc_id", "text",
          windowTokens = 8)
        .select(col("doc_id"), col("n_kept"),
          md5(col("cleaned_text")).as("cleaned_hash"))
        .orderBy(col("doc_id"))
    }),

    // Suffix-array twin of dedup_repeated_spans: the SAME per-doc span
    // coverage, but detection runs on the corpus suffix array
    // (SuffixRank + LCP over the separator-joined global token stream,
    // Lee et al. 2022's construction proper) instead of L-gram hash
    // multiplicity. Shares dedup_repeated_spans' oracle verbatim — the
    // two paths must agree exactly.
    "dedup_sa_spans" -> ((s, dir) => {
      Dedup.saRepeatedSpanStats(Tables(s, dir).documentsSpread, "doc_id", "text",
          windowTokens = 8)
        .orderBy(col("doc_id"))
    }),

    // SA-detected removal: same canonical-survivor contract (and
    // oracle) as dedup_repeated_spans_clean, detection via the suffix
    // array — closes the SA→removal integration gap.
    "dedup_sa_spans_clean" -> ((s, dir) => {
      Dedup.saRemoveRepeatedSpans(Tables(s, dir).documentsSpread, "doc_id", "text",
          windowTokens = 8)
        .select(col("doc_id"), col("n_kept"),
          md5(col("cleaned_text")).as("cleaned_hash"))
        .orderBy(col("doc_id"))
    }),

    // Mid-scale suffix/LCP invariants over the FULL corpus token stream
    // (27k tokens at sf0.01, 276k at sf0.1 — well beyond the 2.1k-token
    // capped oracle slice, where an O(n²) string-sort oracle can't
    // follow): (a) the rank column of the LCP pair frame is a dense
    // 1..n-1 enumeration whose pos/pos_next cover all n positions —
    // permutation evidence (the doubling loop additionally throws if
    // ranks fail to separate); (b) on ~64 deterministically sampled
    // rank-adjacent pairs, the claimed LCP is re-verified ELEMENTWISE
    // against the token stream (tokens agree for j < lcp, differ or run
    // out at j = lcp) — an independent recomputation, no rank
    // structure. Expected values are constants (plus two counts the
    // oracle derives from the documents table), so the DuckDB oracle
    // pins them without replaying the SA build.
    "dedup_sa_invariants" -> ((s, dir) => {
      // token stream and LCP frame are corpus-sized and re-read —
      // DISK_ONLY persist per the r9 durability criterion
      val stream = Dedup.corpusTokenStream(
          Tables(s, dir).documentsSpread, "doc_id", "text")
        .persist(StorageLevel.DISK_ONLY)
      val lcp = SuffixRank.lcpArray(stream, "pos", "tok")
        .persist(StorageLevel.DISK_ONLY)
      val n = stream.count()
      val step = math.max(1L, n / 64L)
      val inv = lcp.agg(
        (count(lit(1)) === (n - 1) &&
          countDistinct(col("rank")) === (n - 1) &&
          min(col("rank")) === 1L && max(col("rank")) === (n - 1) &&
          countDistinct(col("pos")) === (n - 1) &&
          countDistinct(col("pos_next")) === (n - 1)).as("_dense"))
      val covered = lcp.select(col("pos"))
        .union(lcp.select(col("pos_next"))).distinct()
        .agg((count(lit(1)) === n).as("_covered"))
      val sA = stream.select(col("pos").as("_pa"), col("tok").as("_ta"))
      val sB = stream.select(col("pos").as("_pb"), col("tok").as("_tb"))
      val checks = lcp.where(pmod(col("rank"), lit(step)) === 0)
        .select(col("rank"), col("pos"), col("pos_next"), col("lcp"),
          explode(expr("sequence(0, lcp)")).as("j"))
        .join(sA, col("pos") + col("j") === col("_pa"), "left")
        .join(sB, col("pos_next") + col("j") === col("_pb"), "left")
        .withColumn("_ok",
          when(col("j") < col("lcp"), col("_ta") === col("_tb"))
            .otherwise(col("_ta").isNull || col("_tb").isNull ||
              col("_ta") =!= col("_tb")))
        .agg(countDistinct(col("rank")).as("sampled_pairs"),
          (min(col("_ok").cast("int")) === 1).as("lcp_sample_ok"))
      inv.crossJoin(covered).crossJoin(checks)
        .select(lit(n).as("n_positions"),
          (col("_dense") && col("_covered")).as("rank_is_permutation"),
          col("sampled_pairs"), col("lcp_sample_ok"))
    }),

    // Embedding cosine near-duplicates — EXACT all-pairs twin
    // (verification baseline for the cell-gated scale path below).
    "dedup_embedding_cosine" -> ((s, dir) => {
      Dedup.embeddingNearDup(Tables(s, dir).embeddings, "vec_id", "embedding",
        threshold = 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup cell-gated cosine near-dup — the scale path: nearest-
    // centroid assignment (deterministic per-label means), exact cosine
    // inside each cell only. Equi-join plan, oracle mirrors the cells.
    "dedup_embedding_cosine_cells" -> ((s, dir) => {
      Dedup.embeddingNearDupCells(Tables(s, dir).embeddings, "vec_id",
        "embedding", labelCenters(s, dir), "cell", threshold = 0.45)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multi-probe twin (nProbe=2): each embedding indexed under its TWO
    // nearest cells, recovering near-dup pairs that straddle a cell
    // boundary (the single-probe SemDeDup recall gap). Cost stays
    // Σ|cell|²-bounded — candidate pairs double, never quadratic.
    "dedup_embedding_cosine_cells2" -> ((s, dir) => {
      Dedup.embeddingNearDupCells(Tables(s, dir).embeddings, "vec_id",
        "embedding", labelCenters(s, dir), "cell", threshold = 0.45,
        nProbe = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Quality-weighted survivor selection: min-id survivorship is
    // arbitrary — production keeper policies keep the BEST copy. One
    // keeper per dup cluster by argmax(n_chars, ties to lowest id)
    // via a min-struct aggregate (map-side combinable, no window on
    // the engine side), over the full universe.
    "dedup_quality_survivors" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val cl = Components.dedupClustersAll(pipelineEdges(s, dir),
          "id_a", "id_b", docs.select(col("doc_id")), "doc_id")
        .select(col("id").as("doc_id"), col("comp").as("component"))
        .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      val keep = cl.groupBy(col("component"))
        .agg(min(struct((-col("n_chars")).as("nq"),
          col("doc_id").as("kid"))).as("_k"))
        .select(col("component"), col("_k.kid").as("_kid"))
      cl.join(keep, "component")
        .select(col("doc_id"), col("component"),
          (col("doc_id") === col("_kid")).as("is_keeper"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Index maintenance invariant: merging the odd-id increment into
    // the even-id index equals rebuilding the index from the full
    // corpus, row for row — incremental ingest introduces no drift.
    // (The even side builds via the AGGREGATED signature path, the
    // increment via the IN-ROW path; their bit-parity is load-bearing
    // here, not just spec-pinned.)
    "dedup_index_rebuild" -> ((s, dir) => {
      val docs = Tables(s, dir).documents
      val index = Dedup.bandSignatures(
        Dedup.minhashSignatures(
          Dedup.shingles(docs.where(col("doc_id") % 2 === 0),
            "doc_id", "text"),
          "doc_id"),
        "doc_id")
      Dedup.mergeBandIndex(index, docs.where(col("doc_id") % 2 === 1),
          "doc_id", "text")
        .orderBy(col("doc_id"), col("band"))
    }),

    // SemDeDup END TO END (Abbas et al. 2023): cosine pairs within the
    // 2-probed centroid cells -> connected components over the
    // semantic-dup graph -> one survivor per cluster over the FULL
    // embedding universe (semantically unique vectors are singleton
    // keepers). The keep/drop disposition a semantic dedup job emits —
    // composition of two already-oracled stages, pinned as one
    // artifact so the composed pipeline (not just its parts) is
    // hash-checked.
    "dedup_semantic_prune" -> ((s, dir) => {
      val wComp = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      val edges = Dedup.embeddingNearDupCells(Tables(s, dir).embeddings,
        "vec_id", "embedding", labelCenters(s, dir), "cell",
        threshold = 0.45, nProbe = 2)
      Components.dedupClustersAll(edges, "id_a", "id_b",
          Tables(s, dir).embeddings.select(col("vec_id")), "vec_id")
        .withColumn("cluster_size", count(lit(1)).over(wComp))
        .select(col("id").as("vec_id"), col("comp").as("component"),
          col("is_survivor"), col("cluster_size"))
        .orderBy(col("vec_id"))
    }),

    // Winnowing (MOSS) fingerprints -> shared-passage candidates: local
    // similarity the whole-doc minhash can't see.
    "dedup_winnow_candidates" -> ((s, dir) => {
      Dedup.winnowCandidates(
          Dedup.winnowFingerprints(Tables(s, dir).documents,
            "doc_id", "text", k = 4, w = 4),
          "doc_id", minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- line-level corpus dedup (CCNet/RefinedWeb stage) -------------
    // The documents table is single-line, so each query derives a
    // deterministic multi-line page from (doc_id, text) via
    // [[multiLineSql]] — one SQL fragment evaluated by expr() on the
    // engine side and spliced verbatim into the oracle, the same
    // no-drift fixture pattern as UrlQueries.rawUrlSql. The fixture
    // plants the three populations a crawl has: nav/cookie headers in
    // EVERY page, footers in a third each, quoted blocks shared by
    // ~1/35 of pages, and unique body lines (plus a blank line for
    // short docs, exercising the blank-exempt path).

    // Which lines repeat, and how widely — the report a curation run
    // reads before picking dropFrequentLines' threshold.
    "dedup_line_stats" -> ((s, dir) => {
      LineDedup.duplicateLineStats(multiLineDocs(s, dir), "doc_id", "page")
        .orderBy(col("n_docs").desc, col("n_occs").desc, col("line"))
    }),

    // CCNet keep-first: every distinct line survives exactly once,
    // at its globally first (doc_id, pos); documents reassembled.
    "dedup_line_keepfirst" -> ((s, dir) => {
      LineDedup.keepFirstLines(multiLineDocs(s, dir), "doc_id", "page")
        .orderBy(col("doc_id"))
    }),

    // RefinedWeb boilerplate stance: a line in >= 3 distinct docs is
    // chrome — removed everywhere, including its first copy.
    "dedup_line_boilerplate" -> ((s, dir) => {
      LineDedup.dropFrequentLines(multiLineDocs(s, dir), "doc_id", "page",
          minDocs = 3)
        .orderBy(col("doc_id"))
    })
  )

  /** Deterministic multi-line page fixture shared verbatim by engine
    * (via `expr`) and oracle (spliced): header + cookie banner on every
    * page, two body slices of the doc's own text, a quoted block on
    * doc_id % 7 == 0 (5 variants), and one of three footers. Both
    * dialects accept chr(10), substr, CASE, %, ||, CAST AS STRING.
    * Docs shorter than 81 chars make the second body slice '' — a
    * blank line, exercising the blank-exempt path at every SF.
    */
  private val multiLineSql: String =
    """'Home | About | Contact | Sign in' || chr(10) ||
      |'This site uses cookies to improve your experience' || chr(10) ||
      |substr(text, 1, 80) || chr(10) ||
      |CASE WHEN doc_id % 7 = 0
      |  THEN 'Shared quotation block ' || CAST(doc_id % 5 AS STRING) || chr(10)
      |  ELSE '' END ||
      |substr(text, 81, 80) || chr(10) ||
      |CASE doc_id % 3
      |  WHEN 0 THEN 'Copyright 2024 Example Corp'
      |  WHEN 1 THEN 'All rights reserved'
      |  ELSE 'Subscribe to our newsletter' END""".stripMargin

  private def multiLineDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir).documents
      .select(col("doc_id"), expr(multiLineSql).as("page"))

  private val simhashPairsOracle: String =
    s"""WITH $shingleCte,
       |bits AS (
       |  SELECT doc_id, g.j AS j,
       |    CASE WHEN CAST(floor((('0x' || substr(md5(shingle), 1, 4))::BIGINT) / pow(2, g.j)) AS BIGINT) % 2 = 1
       |      THEN 1 ELSE -1 END AS vote
       |  FROM sh, generate_series(0, 15) g(j)),
       |tally AS (SELECT doc_id, j, sum(vote) AS t FROM bits GROUP BY doc_id, j),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN t > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
       |      AS simhash
       |  FROM tally GROUP BY doc_id)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY id_a, id_b""".stripMargin

  /** Shared CTE prefix for the suffix-family oracles: rebuild the capped
    * concatenated token stream (mirrors `cappedTokenStream`) as
    * `toks(pos, term)`.
    */
  private val tokenStreamCte: String =
    """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
      |toks0 AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS p,
      |    unnest(string_split(text, ' ')) AS term
      |  FROM d),
      |offs AS (
      |  SELECT doc_id, COALESCE(SUM(cnt) OVER (ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |  FROM (SELECT doc_id, count(*) AS cnt FROM toks0 GROUP BY doc_id) c),
      |toks AS (
      |  SELECT CAST(o.off + t.p - 1 AS BIGINT) AS pos, t.term
      |  FROM toks0 t JOIN offs o ON t.doc_id = o.doc_id)""".stripMargin

  val oracles: Map[String, String] = {
    val base = Map(
    // Oracle ranks suffixes by sorting the space-joined suffix STRINGS —
    // a deliberately different algorithm than prefix doubling. The two
    // orders agree because ' ' compares below every token character
    // (verified: no control chars in the corpus), so joined-string order
    // = token-sequence order, including shorter-prefix-sorts-first.
    "dedup_suffix_ranks" ->
      (tokenStreamCte +
        """,
        |suf AS (
        |  SELECT a.pos, string_agg(b.term, ' ' ORDER BY b.pos) AS s
        |  FROM toks a JOIN toks b ON b.pos >= a.pos
        |  GROUP BY a.pos)
        |SELECT pos, CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS rank
        |FROM suf
        |ORDER BY pos""".stripMargin),

    // Adjacent-suffix LCP recomputed directly: materialize each suffix's
    // token ARRAY, sort by the joined string (same order argument as
    // dedup_suffix_ranks), pair with lead(), and count leading equal
    // tokens via first-mismatch position — elementwise comparison, no
    // doubling, no rank structure.
    "dedup_lcp" ->
      (tokenStreamCte +
        """,
        |suf AS (
        |  SELECT a.pos, string_agg(b.term, ' ' ORDER BY b.pos) AS s,
        |    count(*) AS len, list(b.term ORDER BY b.pos) AS arr
        |  FROM toks a JOIN toks b ON b.pos >= a.pos
        |  GROUP BY a.pos),
        |ord AS (
        |  SELECT pos, len, arr,
        |    CAST(row_number() OVER (ORDER BY s) AS BIGINT) AS rank,
        |    lead(pos) OVER (ORDER BY s) AS pos_next,
        |    lead(len) OVER (ORDER BY s) AS len2,
        |    lead(arr) OVER (ORDER BY s) AS arr2
        |  FROM suf)
        |SELECT rank, pos, CAST(pos_next AS BIGINT) AS pos_next,
        |  CAST(coalesce(
        |    nullif(list_position(
        |      list_transform(range(1, CAST(least(len, len2) AS INT) + 1),
        |        i -> (arr[i] = arr2[i])), false), 0) - 1,
        |    least(len, len2)) AS BIGINT) AS lcp
        |FROM ord WHERE pos_next IS NOT NULL
        |ORDER BY rank""".stripMargin),

    // Repeated 3-gram start positions found WITHOUT any suffix
    // structure: materialize every 3-token gram and group by content.
    "dedup_repeated_lgrams" ->
      (tokenStreamCte +
        """,
        |grams AS (
        |  SELECT a.pos, string_agg(b.term, ' ' ORDER BY b.pos) AS g
        |  FROM toks a JOIN toks b ON b.pos BETWEEN a.pos AND a.pos + 2
        |  GROUP BY a.pos
        |  HAVING count(*) = 3)
        |SELECT pos FROM grams
        |WHERE g IN (SELECT g FROM grams GROUP BY g HAVING count(*) > 1)
        |ORDER BY pos""".stripMargin),

    "dedup_exact_stats" ->
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_unique_text,
        |  count(DISTINCT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')))
        |    AS n_unique_bow
        |FROM documents""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH $shingleCte
         |SELECT doc_id, CAST(g.h AS INT) AS h,
         |  min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |    AS minhash
         |FROM sh, generate_series(0, 7) g(h)
         |WHERE doc_id < 50
         |GROUP BY doc_id, g.h
         |ORDER BY doc_id, h""".stripMargin,

    // The S-curve unrolled: p(j) = 1 − (1 − j^r)^b per candidate
    // config, the same ranking (budget first, then catch probability,
    // then index size) deciding `chosen`.
    "dedup_lsh_tune" ->
      """WITH cand AS (
        |  SELECT CAST(r AS INT) AS rows_per_band,
        |    CAST(16 // r AS INT) AS bands
        |  FROM generate_series(1, 16) g(r)),
        |p AS (
        |  SELECT rows_per_band, bands,
        |    1 - pow(1 - pow(0.8, rows_per_band), bands) AS pt,
        |    1 - pow(1 - pow(0.2, rows_per_band), bands) AS pfp
        |  FROM cand),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    ORDER BY CAST(pfp <= 0.05 AS INT) DESC, pt DESC,
        |      bands ASC, rows_per_band DESC) AS rn
        |  FROM p)
        |SELECT rows_per_band, bands,
        |  round(pt, 6) + 0.0 AS p_at_threshold,
        |  round(pfp, 6) + 0.0 AS p_at_fp,
        |  rn = 1 AS chosen
        |FROM r
        |ORDER BY rows_per_band""".stripMargin,

    // The solved (b=2, r=3) banding replayed literally: six of eight
    // hashes, three rows per band.
    "dedup_tuned_candidates" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 3 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig WHERE h < 6
         |  GROUP BY doc_id, CAST(h // 3 AS INT))
         |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |FROM bands x JOIN bands y
         |  ON x.band = y.band AND x.band_sig = y.band_sig
         |  AND x.doc_id < y.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    // NOTE: this oracle (and dedup_components / dedup_pipeline_clusters
    // downstream of the same banding) models an UNCAPPED bucket self-join.
    // The engine's maxBucket guard (default 65536) never trips at these
    // scale factors; if a larger sf ever produces a bucket over the cap,
    // the engine drops it (observable via the `minhash_banding_*` observe
    // metric) and this oracle would go red — that red is the diagnostic.
    "dedup_minhash_candidates" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.id_a, p.id_b, count(*) AS i
         |  FROM cand p
         |  JOIN sh x ON x.doc_id = p.id_a
         |  JOIN sh y ON y.doc_id = p.id_b AND y.shingle = x.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT t.id_a, t.id_b,
         |  round(t.i * 1.0 / (sa.n + sb.n - t.i), 4) AS jaccard
         |FROM inter t
         |JOIN sizes sa ON sa.doc_id = t.id_a
         |JOIN sizes sb ON sb.doc_id = t.id_b
         |ORDER BY id_a, id_b""".stripMargin,

    // Same banding chain as dedup_minhash_candidates, then exact
    // Levenshtein on the candidate pair texts; `verified` compares
    // the ROUNDED ratio on both sides so the boundary cannot drift.
    "dedup_edit_verify" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |ed AS (
         |  SELECT c.id_a, c.id_b,
         |    CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist,
         |    CASE WHEN greatest(length(a.text), length(b.text)) = 0
         |         THEN 0.0::DOUBLE
         |         ELSE round(levenshtein(a.text, b.text) * 1.0 /
         |           greatest(length(a.text), length(b.text)), 4)
         |    END AS edit_ratio
         |  FROM cand c
         |  JOIN documents a ON a.doc_id = c.id_a
         |  JOIN documents b ON b.doc_id = c.id_b)
         |SELECT id_a, id_b, edit_dist, edit_ratio,
         |  (edit_ratio <= 0.3) AS verified
         |FROM ed ORDER BY id_a, id_b""".stripMargin,

    // Unrolled 6-round PageRank replay. Every CTE referenced more than
    // once is MATERIALIZED (the DuckDB inliner would otherwise expand
    // the iteration chain multiplicatively — the long-CTE gotcha).
    // Arithmetic mirrors the engine literally: (1.0 - 0.85) and
    // 1.0/n are written as the same IEEE expressions Spark evaluates.
    "graph_pagerank" -> {
      val d = "0.85"
      val rounds = (1 to 6).map { k =>
        s"""r$k AS MATERIALIZED (
           |  SELECT nd.id,
           |    (1.0 - $d)/(SELECT n FROM nn) + $d * (COALESCE(c.s, 0) +
           |      dm.m/(SELECT n FROM nn)) AS rank
           |  FROM nodes nd
           |  LEFT JOIN (SELECT e.dst AS id, sum(r.rank / dg.deg) AS s
           |             FROM edges e JOIN deg dg ON dg.src = e.src
           |             JOIN r${k - 1} r ON r.id = e.src
           |             GROUP BY e.dst) c ON nd.id = c.id
           |  CROSS JOIN (SELECT COALESCE(sum(r.rank), 0) AS m FROM r${k - 1} r
           |              WHERE r.id NOT IN (SELECT src FROM edges)) dm)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |edges AS MATERIALIZED (
         |  SELECT id_a AS src, id_b AS dst FROM cand
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM cand),
         |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents),
         |nn AS (SELECT count(*) * 1.0 AS n FROM nodes),
         |r0 AS MATERIALIZED (
         |  SELECT id, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
         |$rounds
         |SELECT id AS doc_id, round(rank, 8) + 0.0 AS rank FROM r6
         |ORDER BY doc_id""".stripMargin
    },

    // Same banded candidates; then the degree-ordered orientation and
    // wedge/closure joins replay the engine's compact-forward count —
    // row-value comparisons (d, v) mirror the engine's struct ordering.
    "graph_triangles" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS lo, y.doc_id AS hi
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig
         |    AND x.doc_id < y.doc_id),
         |deg AS MATERIALIZED (SELECT v, count(*) AS d FROM (
         |    SELECT lo AS v FROM e UNION ALL SELECT hi AS v FROM e)
         |  GROUP BY v),
         |dir AS MATERIALIZED (
         |  SELECT CASE WHEN (dl.d, e.lo) < (dh.d, e.hi)
         |      THEN e.lo ELSE e.hi END AS src,
         |    CASE WHEN (dl.d, e.lo) < (dh.d, e.hi)
         |      THEN e.hi ELSE e.lo END AS dst,
         |    CASE WHEN (dl.d, e.lo) < (dh.d, e.hi)
         |      THEN dh.d ELSE dl.d END AS ddeg
         |  FROM e JOIN deg dl ON dl.v = e.lo JOIN deg dh ON dh.v = e.hi),
         |w AS MATERIALIZED (
         |  SELECT e1.dst AS b, e2.dst AS c
         |  FROM dir e1 JOIN dir e2 ON e1.src = e2.src
         |    AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
         |cl AS (SELECT * FROM w
         |  WHERE EXISTS (SELECT 1 FROM dir
         |    WHERE dir.src = w.b AND dir.dst = w.c))
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
         |  (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_triangles""".stripMargin,

    // Both halves' md5 minhash families recomputed from scratch; the
    // pair set is the band equi-join filtered to odd(new) × even(index),
    // counting agreeing bands.
    "dedup_incremental_pairs" -> incrementalPairsOracle,

    // merge ≡ rebuild survives the durable form: a quarter-built asset
    // plus an appended quarter equals the even-half index, so the SAME
    // odd-vs-even pair oracle pins the asset path verbatim
    "dedup_band_index" -> incrementalPairsOracle,

    // and compact ≡ no-op on top of it
    "dedup_band_index_compact" -> incrementalPairsOracle,

    // Same banded edge set symmetrized; 4 unrolled propagation rounds,
    // each one neighbor-label count + a (count DESC, label) argmax —
    // the engine's min-struct argmax as a row_number window.
    "graph_label_communities" -> {
      val rounds = (1 to 4).map { r =>
        s"""l$r AS MATERIALIZED (
           |  SELECT src AS id, nl AS label FROM (
           |    SELECT src, nl, row_number() OVER (
           |      PARTITION BY src ORDER BY c DESC, nl) AS rn
           |    FROM (SELECT e.src, l.label AS nl, count(*) AS c
           |          FROM edges e JOIN l${r - 1} l ON l.id = e.dst
           |          GROUP BY e.src, l.label) t) rk
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS lo, y.doc_id AS hi
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig
         |    AND x.doc_id < y.doc_id),
         |edges AS MATERIALIZED (
         |  SELECT lo AS src, hi AS dst FROM cand
         |  UNION ALL SELECT hi AS src, lo AS dst FROM cand),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS id, src AS label FROM edges),
         |$rounds
         |SELECT id AS doc_id, label AS community FROM l4
         |ORDER BY doc_id""".stripMargin
    },

    // Same banded edge set; 4 unrolled peel rounds (degree filter on
    // both endpoints), then the surviving nodes with their in-core
    // degree. Materialized per round — the PageRank-oracle inliner
    // discipline.
    "graph_kcore" -> {
      val rounds = (1 to 4).map { r =>
        s"""d$r AS (SELECT v, count(*) AS d FROM (
           |    SELECT lo AS v FROM e${r - 1} UNION ALL SELECT hi AS v FROM e${r - 1})
           |  GROUP BY v),
           |e$r AS MATERIALIZED (
           |  SELECT e${r - 1}.* FROM e${r - 1}
           |  JOIN d$r da ON da.v = e${r - 1}.lo AND da.d >= 2
           |  JOIN d$r db ON db.v = e${r - 1}.hi AND db.d >= 2)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT x.doc_id AS lo, y.doc_id AS hi
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig
         |    AND x.doc_id < y.doc_id),
         |$rounds
         |SELECT id AS doc_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM (SELECT lo AS id FROM e4 UNION ALL SELECT hi AS id FROM e4)
         |GROUP BY id ORDER BY id""".stripMargin
    },

    "dedup_minhash_estimate" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |est AS (
         |  SELECT c.id_a, c.id_b,
         |    sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / 8.0 AS est_jaccard
         |  FROM cand c
         |  JOIN sig sa ON sa.doc_id = c.id_a
         |  JOIN sig sb ON sb.doc_id = c.id_b AND sb.h = sa.h
         |  GROUP BY c.id_a, c.id_b),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.id_a, p.id_b, count(*) AS i
         |  FROM cand p
         |  JOIN sh x ON x.doc_id = p.id_a
         |  JOIN sh y ON y.doc_id = p.id_b AND y.shingle = x.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT e.id_a, e.id_b, round(e.est_jaccard, 4) AS est_jaccard,
         |  round(t.i * 1.0 / (sa.n + sb.n - t.i), 4) AS jaccard
         |FROM est e
         |JOIN inter t ON t.id_a = e.id_a AND t.id_b = e.id_b
         |JOIN sizes sa ON sa.doc_id = e.id_a
         |JOIN sizes sb ON sb.doc_id = e.id_b
         |ORDER BY 1, 2""".stripMargin,

    "dedup_simhash" ->
      s"""WITH $shingleCte,
         |bits AS (
         |  SELECT doc_id, g.j AS j,
         |    CASE WHEN CAST(floor((('0x' || substr(md5(shingle), 1, 4))::BIGINT) / pow(2, g.j)) AS BIGINT) % 2 = 1
         |      THEN 1 ELSE -1 END AS vote
         |  FROM sh, generate_series(0, 15) g(j)
         |  WHERE doc_id < 50),
         |tally AS (SELECT doc_id, j, sum(vote) AS t FROM bits GROUP BY doc_id, j)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN t > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
         |    AS simhash
         |FROM tally GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" -> simhashPairsOracle,

    // Same pipeline at 60 bits; integer div/mod mirrors the engine's
    // integer bit ops (double division corrupts bits past 2^53).
    "dedup_simhash_blocked" ->
      s"""WITH $shingleCte,
         |bits AS (
         |  SELECT doc_id, g.j AS j,
         |    CASE WHEN (('0x' || substr(md5(shingle), 1, 15))::BIGINT
         |               // CAST(pow(2, g.j) AS BIGINT)) % 2 = 1
         |      THEN 1 ELSE -1 END AS vote
         |  FROM sh, generate_series(0, 59) g(j)),
         |tally AS (SELECT doc_id, j, sum(vote) AS t FROM bits GROUP BY doc_id, j),
         |sig AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN t > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS simhash
         |  FROM tally GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    // Recursive-CTE twin of the iterative min-label propagation: cc
    // enumerates every (node, reachable-label) pair — UNION dedups, so
    // the recursion terminates — and the component is the min label.
    "dedup_components" ->
      s"""WITH RECURSIVE $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |e AS (SELECT id_a AS a, id_b AS b FROM cand
         |      UNION SELECT id_b, id_a FROM cand),
         |cc(id, comp) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON cc.id = e.a)
         |SELECT id AS doc_id, CAST(min(comp) AS BIGINT) AS component,
         |  CAST(CASE WHEN id = min(comp) THEN 1 ELSE 0 END AS INT) AS is_survivor
         |FROM cc GROUP BY id
         |ORDER BY doc_id""".stripMargin,

    // Full-universe twin of dedup_pipeline_clusters: LEFT JOIN documents
    // to the cc fixpoint, isolated docs coalesce to themselves.
    "dedup_clusters_total" ->
      s"""WITH RECURSIVE $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |ex AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM documents x JOIN documents y
         |    ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id),
         |edges0 AS (SELECT id_a, id_b FROM ex UNION SELECT id_a, id_b FROM cand),
         |e AS (SELECT id_a AS a, id_b AS b FROM edges0
         |      UNION SELECT id_b, id_a FROM edges0),
         |cc(id, comp) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON cc.id = e.a),
         |fix AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         |final AS (
         |  SELECT d.doc_id AS id, COALESCE(f.comp, d.doc_id) AS comp
         |  FROM documents d LEFT JOIN fix f ON f.id = d.doc_id)
         |SELECT id AS doc_id, CAST(comp AS BIGINT) AS component,
         |  CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS INT) AS is_survivor,
         |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
         |FROM final
         |ORDER BY doc_id""".stripMargin,

    "dedup_pipeline_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |ex AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM documents x JOIN documents y
         |    ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id),
         |edges0 AS (SELECT id_a, id_b FROM ex UNION SELECT id_a, id_b FROM cand),
         |e AS (SELECT id_a AS a, id_b AS b FROM edges0
         |      UNION SELECT id_b, id_a FROM edges0),
         |cc(id, comp) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON cc.id = e.a),
         |final AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
         |SELECT id AS doc_id, CAST(comp AS BIGINT) AS component,
         |  CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS INT) AS is_survivor,
         |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
         |FROM final
         |ORDER BY doc_id""".stripMargin,

    // The all-sources capstone oracle: every edge CTE is the same text as
    // its standalone oracle (minhash bands, exact md5, 60-bit simhash,
    // cell-gated list_cosine_similarity), tagged and unioned; recursive
    // cc as in dedup_components; provenance = sorted distinct tags per
    // component. The cosine CTEs mirror dedup_embedding_cosine_cells.
    "dedup_provenance_clusters" ->
      s"""WITH RECURSIVE $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |ex AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM documents x JOIN documents y
         |    ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id),
         |sbits AS (
         |  SELECT doc_id, g.j AS j,
         |    CASE WHEN (('0x' || substr(md5(shingle), 1, 15))::BIGINT
         |               // CAST(pow(2, g.j) AS BIGINT)) % 2 = 1
         |      THEN 1 ELSE -1 END AS vote
         |  FROM sh, generate_series(0, 59) g(j)),
         |stally AS (SELECT doc_id, j, sum(vote) AS t FROM sbits GROUP BY doc_id, j),
         |ssig AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN t > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT)
         |      AS simhash
         |  FROM stally GROUP BY doc_id),
         |simp AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ssig a JOIN ssig b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |pts AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |ptsl AS (
         |  SELECT label, generate_subscripts(embedding, 1) AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS v
         |  FROM embeddings),
         |ctr AS (SELECT label AS cell, dim, avg(v) AS c FROM ptsl GROUP BY label, dim),
         |assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
         |    FROM (SELECT p.vec_id, c.cell, sum((p.v - c.c) * (p.v - c.c)) AS dist2
         |          FROM pts p JOIN ctr c ON p.dim = c.dim
         |          GROUP BY p.vec_id, c.cell) d) r
         |  WHERE rn = 1),
         |cosp AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assign xa JOIN assign xb ON xa.cell = xb.cell AND xa.vec_id < xb.vec_id
         |  JOIN embeddings a ON a.vec_id = xa.vec_id
         |  JOIN embeddings b ON b.vec_id = xb.vec_id
         |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45),
         |eprov AS (
         |  SELECT id_a, id_b, 'exact' AS src FROM ex
         |  UNION ALL SELECT id_a, id_b, 'minhash' FROM cand
         |  UNION ALL SELECT id_a, id_b, 'simhash' FROM simp
         |  UNION ALL SELECT id_a, id_b, 'cosine' FROM cosp),
         |edges0 AS (SELECT DISTINCT id_a, id_b FROM eprov),
         |e AS (SELECT id_a AS a, id_b AS b FROM edges0
         |      UNION SELECT id_b, id_a FROM edges0),
         |cc(id, comp) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON cc.id = e.a),
         |final AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         |csrc AS (
         |  SELECT DISTINCT f.comp, ep.src
         |  FROM eprov ep JOIN final f ON ep.id_a = f.id),
         |srcs AS (
         |  SELECT comp, string_agg(src, ',' ORDER BY src) AS sources
         |  FROM csrc GROUP BY comp)
         |SELECT f.id AS doc_id, CAST(f.comp AS BIGINT) AS component,
         |  CAST(CASE WHEN f.id = f.comp THEN 1 ELSE 0 END AS INT) AS is_survivor,
         |  CAST(count(*) OVER (PARTITION BY f.comp) AS BIGINT) AS cluster_size,
         |  s.sources
         |FROM final f JOIN srcs s ON s.comp = f.comp
         |ORDER BY doc_id""".stripMargin,

    // Gated form: same banding CTEs as dedup_minhash_candidates, then the
    // exact jaccard on candidates only, thresholded.
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT p.id_a, p.id_b, count(*) AS i
         |  FROM cand p
         |  JOIN sh x ON x.doc_id = p.id_a
         |  JOIN sh y ON y.doc_id = p.id_b AND y.shingle = x.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT t.id_a, t.id_b,
         |  round(t.i * 1.0 / (sa.n + sb.n - t.i), 4) AS jaccard
         |FROM inter t
         |JOIN sizes sa ON sa.doc_id = t.id_a
         |JOIN sizes sb ON sb.doc_id = t.id_b
         |WHERE t.i * 1.0 / (sa.n + sb.n - t.i) >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_jaccard_exact" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id)
         |SELECT t.id_a, t.id_b,
         |  round(t.i * 1.0 / (sa.n + sb.n - t.i), 4) AS jaccard
         |FROM inter t
         |JOIN sizes sa ON sa.doc_id = t.id_a
         |JOIN sizes sb ON sb.doc_id = t.id_b
         |WHERE t.i * 1.0 / (sa.n + sb.n - t.i) >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,

    // Brute force IS the oracle: the prefix filter claims exact
    // recall, so the reference computation has no prefix anywhere.
    "dedup_ppjoin_pairs" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id)
         |SELECT t.id_a, t.id_b,
         |  round(t.i * 1.0 / (sa.n + sb.n - t.i), 4) AS jaccard
         |FROM inter t
         |JOIN sizes sa ON sa.doc_id = t.id_a
         |JOIN sizes sb ON sb.doc_id = t.id_b
         |WHERE t.i * 1.0 / (sa.n + sb.n - t.i) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_segment_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS p,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, (p - 1) // 8 AS si,
        |    string_agg(term, ' ' ORDER BY p) AS segment
        |  FROM toks GROUP BY doc_id, (p - 1) // 8),
        |kept AS (
        |  SELECT doc_id, si, segment FROM segs
        |  QUALIFY row_number() OVER (PARTITION BY segment
        |    ORDER BY doc_id, si) = 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  md5(string_agg(segment, ' ' ORDER BY si)) AS cleaned_hash
        |FROM kept
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "dedup_segment_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS p,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |segs AS (
        |  SELECT doc_id, (p - 1) // 8 AS si,
        |    string_agg(term, ' ' ORDER BY p) AS segment
        |  FROM toks GROUP BY doc_id, (p - 1) // 8),
        |g AS (SELECT segment, count(*) AS c FROM segs GROUP BY segment)
        |SELECT s.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_segments,
        |  round(sum(CASE WHEN g.c > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
        |    + 0.0 AS dup_frac
        |FROM segs s JOIN g USING (segment)
        |GROUP BY s.doc_id
        |ORDER BY s.doc_id""".stripMargin,

    "dedup_containment" ->
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS i
         |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY x.doc_id, y.doc_id)
         |SELECT t.id_a, t.id_b,
         |  round(t.i * 1.0 / least(sa.n, sb.n), 4) AS containment
         |FROM inter t
         |JOIN sizes sa ON sa.doc_id = t.id_a
         |JOIN sizes sb ON sb.doc_id = t.id_b
         |WHERE t.i * 1.0 / least(sa.n, sb.n) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    // Same L-gram multiplicity + interval-merge formulation; t[i:j] list
    // slicing is inclusive in DuckDB, mirroring Spark's slice(t, i, L).
    "dedup_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |base AS (SELECT doc_id, len(t) AS n FROM toks),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS i,
        |    md5(array_to_string(t[i:i + 7], ' ')) AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |        FROM toks WHERE len(t) >= 8) s),
        |duph AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
        |ms AS (
        |  SELECT g.doc_id, g.i, g.i + 7 AS e
        |  FROM grams g JOIN duph USING (h)),
        |isl AS (
        |  SELECT doc_id, i, e,
        |    CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |      OR i > max(e) OVER (PARTITION BY doc_id ORDER BY i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
        |      THEN 1 ELSE 0 END AS ni
        |  FROM ms),
        |isl2 AS (
        |  SELECT doc_id, i, e, sum(ni) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS UNBOUNDED PRECEDING) AS iid
        |  FROM isl),
        |cov AS (SELECT doc_id, iid, max(e) - min(i) + 1 AS c
        |        FROM isl2 GROUP BY doc_id, iid),
        |dup AS (SELECT doc_id, sum(c) AS nd FROM cov GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(d.nd, 0) AS BIGINT) AS n_dup_tokens,
        |  round(CAST(COALESCE(d.nd, 0) AS DOUBLE) / b.n, 6) + 0.0 AS dup_frac
        |FROM base b LEFT JOIN dup d USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    // Same mark pass as dedup_repeated_spans + canonical flag; the strip
    // is token-level EXISTS over the doc's own marked intervals.
    "dedup_repeated_spans_clean" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (
        |  SELECT doc_id, CAST(p AS INT) AS p, t[p] AS tok
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p
        |        FROM toks) s),
        |grams AS (
        |  SELECT doc_id, CAST(i AS INT) AS i,
        |    md5(array_to_string(t[i:i + 7], ' ')) AS h
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 6)) AS i
        |        FROM toks WHERE len(t) >= 8) s),
        |occ AS (
        |  SELECT doc_id, i, i + 7 AS e,
        |    row_number() OVER (PARTITION BY h ORDER BY doc_id, i) AS rn,
        |    count(*) OVER (PARTITION BY h) AS c
        |  FROM grams),
        |marked AS MATERIALIZED (
        |  SELECT doc_id, i, e, (rn = 1) AS canon FROM occ WHERE c > 1),
        |kept AS (
        |  SELECT p.doc_id, p.p, p.tok FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM marked m
        |          WHERE m.doc_id = p.doc_id AND NOT m.canon
        |            AND p.p BETWEEN m.i AND m.e)
        |     OR EXISTS (SELECT 1 FROM marked m
        |          WHERE m.doc_id = p.doc_id AND m.canon
        |            AND p.p BETWEEN m.i AND m.e))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  md5(string_agg(tok, ' ' ORDER BY p)) AS cleaned_hash
        |FROM kept
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "dedup_embedding_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
        |    AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_cosine_cells" ->
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ptsl AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ctr AS (SELECT label AS cell, dim, avg(v) AS c FROM ptsl GROUP BY label, dim),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
        |    FROM (SELECT p.vec_id, c.cell, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |          FROM pts p JOIN ctr c ON p.dim = c.dim
        |          GROUP BY p.vec_id, c.cell) d) r
        |  WHERE rn = 1)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
        |    AS cos
        |FROM assign xa JOIN assign xb ON xa.cell = xb.cell AND xa.vec_id < xb.vec_id
        |JOIN embeddings a ON a.vec_id = xa.vec_id
        |JOIN embeddings b ON b.vec_id = xb.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_embedding_cosine_cells2" ->
      """WITH pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ptsl AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ctr AS (SELECT label AS cell, dim, avg(v) AS c FROM ptsl GROUP BY label, dim),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
        |    FROM (SELECT p.vec_id, c.cell, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |          FROM pts p JOIN ctr c ON p.dim = c.dim
        |          GROUP BY p.vec_id, c.cell) d) r
        |  WHERE rn <= 2),
        |cand AS (
        |  SELECT DISTINCT xa.vec_id AS id_a, xb.vec_id AS id_b
        |  FROM assign xa JOIN assign xb ON xa.cell = xb.cell AND xa.vec_id < xb.vec_id)
        |SELECT p.id_a, p.id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
        |    AS cos
        |FROM cand p
        |JOIN embeddings a ON a.vec_id = p.id_a
        |JOIN embeddings b ON b.vec_id = p.id_b
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        |ORDER BY id_a, id_b""".stripMargin,

    // The clusters_total component fixpoint, keeper re-derived by a
    // (n_chars DESC, id) window argmax per component.
    "dedup_quality_survivors" ->
      s"""WITH RECURSIVE $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h),
         |bands AS (
         |  SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |    string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |  FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id),
         |ex AS (
         |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
         |  FROM documents x JOIN documents y
         |    ON md5(x.text) = md5(y.text) AND x.doc_id < y.doc_id),
         |edges0 AS (SELECT id_a, id_b FROM ex UNION SELECT id_a, id_b FROM cand),
         |e AS (SELECT id_a AS a, id_b AS b FROM edges0
         |      UNION SELECT id_b, id_a FROM edges0),
         |cc(id, comp) AS (
         |  SELECT DISTINCT a, a FROM e
         |  UNION
         |  SELECT e.b, cc.comp FROM cc JOIN e ON cc.id = e.a),
         |fix AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
         |q AS (
         |  SELECT d.doc_id AS id, COALESCE(f.comp, d.doc_id) AS comp,
         |    d.n_chars
         |  FROM documents d LEFT JOIN fix f ON f.id = d.doc_id),
         |k AS (
         |  SELECT comp, id AS kid FROM (
         |    SELECT comp, id, row_number() OVER (
         |      PARTITION BY comp ORDER BY n_chars DESC, id) AS rn
         |    FROM q) t
         |  WHERE rn = 1)
         |SELECT q.id AS doc_id, CAST(q.comp AS BIGINT) AS component,
         |  q.id = k.kid AS is_keeper, q.n_chars
         |FROM q JOIN k USING (comp)
         |ORDER BY doc_id""".stripMargin,

    // The from-scratch rebuild IS the oracle: full-corpus md5 minhash
    // bands, no even/odd distinction anywhere.
    "dedup_index_rebuild" ->
      s"""WITH $shingleCte,
         |sig AS (
         |  SELECT doc_id, CAST(g.h AS INT) AS h,
         |    min(('0x' || substr(md5('s' || CAST(g.h AS VARCHAR) || ':' || shingle), 1, 8))::BIGINT)
         |      AS minhash
         |  FROM sh, generate_series(0, 7) g(h)
         |  GROUP BY doc_id, g.h)
         |SELECT doc_id, CAST(h // 2 AS INT) AS band,
         |  string_agg(CAST(minhash AS VARCHAR), '-' ORDER BY h) AS band_sig
         |FROM sig GROUP BY doc_id, CAST(h // 2 AS INT)
         |ORDER BY doc_id, band""".stripMargin,

    // The cells2 pair replay feeding the clusters_total component
    // fixpoint, universe = embeddings.
    "dedup_semantic_prune" ->
      """WITH RECURSIVE pts AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ptsl AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings),
        |ctr AS (SELECT label AS cell, dim, avg(v) AS c FROM ptsl GROUP BY label, dim),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist2, cell) AS rn
        |    FROM (SELECT p.vec_id, c.cell, sum((p.v - c.c) * (p.v - c.c)) AS dist2
        |          FROM pts p JOIN ctr c ON p.dim = c.dim
        |          GROUP BY p.vec_id, c.cell) d) r
        |  WHERE rn <= 2),
        |cand AS (
        |  SELECT DISTINCT xa.vec_id AS id_a, xb.vec_id AS id_b
        |  FROM assign xa JOIN assign xb ON xa.cell = xb.cell AND xa.vec_id < xb.vec_id),
        |sem AS MATERIALIZED (
        |  SELECT p.id_a, p.id_b
        |  FROM cand p
        |  JOIN embeddings a ON a.vec_id = p.id_a
        |  JOIN embeddings b ON b.vec_id = p.id_b
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45),
        |e AS (SELECT id_a AS a, id_b AS b FROM sem
        |      UNION SELECT id_b, id_a FROM sem),
        |cc(id, comp) AS (
        |  SELECT DISTINCT a, a FROM e
        |  UNION
        |  SELECT e.b, cc.comp FROM cc JOIN e ON cc.id = e.a),
        |fix AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
        |final AS (
        |  SELECT d.vec_id AS id, COALESCE(f.comp, d.vec_id) AS comp
        |  FROM embeddings d LEFT JOIN fix f ON f.id = d.vec_id)
        |SELECT id AS vec_id, CAST(comp AS BIGINT) AS component,
        |  CAST(CASE WHEN id = comp THEN 1 ELSE 0 END AS INT) AS is_survivor,
        |  CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS cluster_size
        |FROM final
        |ORDER BY vec_id""".stripMargin,

    "dedup_winnow_candidates" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, len(t) - 2),
        |      i -> ('0x' || substr(md5(array_to_string(t[i:i+3], ' ')), 1, 8))::BIGINT)
        |      AS hs
        |  FROM toks WHERE len(t) >= 7),
        |fp AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(hs) - 2),
        |        i -> list_min(hs[i:i+3]))) AS fp
        |    FROM h)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared FROM pairs
        |WHERE n_shared >= 2
        |ORDER BY id_a, id_b""".stripMargin
    )
    // The SA-detected span queries must agree with the L-gram path
    // EXACTLY — sharing the oracle text makes that contract literal.
    base ++ Map(
      "dedup_sa_spans" -> base("dedup_repeated_spans"),
      "dedup_sa_spans_clean" -> base("dedup_repeated_spans_clean"),
      // Constants-plus-derived-counts pin for the invariant row: n is
      // the token count + one separator per doc; the sample size is the
      // number of ranks in [1, n-1] divisible by max(1, n div 64).
      "dedup_sa_invariants" ->
        """WITH nn AS (
          |  SELECT CAST(sum(len(string_split(text, ' ')) + 1) AS BIGINT) AS n
          |  FROM documents)
          |SELECT n AS n_positions, true AS rank_is_permutation,
          |  CAST((n - 1) // greatest(1, n // 64) AS BIGINT) AS sampled_pairs,
          |  true AS lcp_sample_ok
          |FROM nn""".stripMargin,

      "dedup_line_stats" ->
        (lineCte +
          """
          |SELECT trim(line) AS line,
          |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
          |  CAST(count(*) AS BIGINT) AS n_occs
          |FROM l WHERE trim(line) <> ''
          |GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
          |ORDER BY n_docs DESC, n_occs DESC, line""".stripMargin),

      // Keep-first replayed as a window: rank each trimmed line's
      // occurrences by (doc_id, pos); rank 1 survives. Blank lines are
      // policy-exempt (always kept). The engine's min-struct keeper +
      // hash join equals rank 1 by construction.
      "dedup_line_keepfirst" ->
        (lineCte +
          """,
          |k AS (
          |  SELECT doc_id, pos, line,
          |    CASE WHEN trim(line) = '' THEN TRUE
          |      ELSE row_number() OVER (PARTITION BY trim(line)
          |             ORDER BY doc_id, pos) = 1 END AS keep
          |  FROM l)
          |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
          |  CAST(count(*) FILTER (WHERE keep) AS INT) AS n_kept,
          |  coalesce(string_agg(line, chr(10) ORDER BY pos)
          |    FILTER (WHERE keep), '') AS text_clean
          |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),

      "dedup_line_boilerplate" ->
        (lineCte +
          """,
          |f AS (
          |  SELECT trim(line) AS tl FROM l WHERE trim(line) <> ''
          |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
          |k AS (
          |  SELECT doc_id, pos, line,
          |    (trim(line) = '' OR trim(line) NOT IN (SELECT tl FROM f))
          |      AS keep
          |  FROM l)
          |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
          |  CAST(count(*) FILTER (WHERE NOT keep) AS INT) AS n_removed,
          |  coalesce(string_agg(line, chr(10) ORDER BY pos)
          |    FILTER (WHERE keep), '') AS text_clean
          |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    )
  }

  /** Shared oracle prefix for the line-dedup family: rebuild the
    * multi-line page fixture (same fragment the engine evaluates) and
    * explode it to l(doc_id, pos, line) with 0-based positions.
    */
  private def lineCte: String =
    s"""WITH raw AS (SELECT doc_id, $multiLineSql AS page FROM documents),
       |lt AS (SELECT doc_id, string_split(page, chr(10)) AS lns FROM raw),
       |l AS (
       |  SELECT doc_id, s AS pos, lns[s + 1] AS line
       |  FROM (SELECT doc_id, lns, unnest(range(0, len(lns))) AS s
       |        FROM lt) u)""".stripMargin
}
