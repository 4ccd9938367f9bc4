package graft

import graft.dedup.Dedup
import graft.operators.Relational
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke: synthesizes data well beyond sf0.1 in-memory (no testdata
  * mutation) and drives the core operator families, printing one JSON line
  * per stage. Not part of the driver contract — evidence that plans hold
  * when rows grow 20-100x past the bench scale.
  */
object StressBench {
  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(20000000L) // 20M
    // Optional 2nd arg: comma-separated stage filter, so one family can
    // be pushed an order of magnitude past the suite default without
    // paying for every other stage at that row count.
    val only: Option[Set[String]] =
      args.drop(1).headOption.map(_.split(",").map(_.trim).toSet)
    // Core count env-driven (r22, VERDICT item 8): sf0.1 is too small
    // for wall-clock to show parallelism (the c8 suite matched the c32
    // suite), so scale claims are measured HERE — the same stage at
    // SPARK_GRAFT_CPUS=8 vs 32 at stress row counts gives the
    // cores-ratio evidence. Shuffle partitions stay fixed at 64 so the
    // plans (and work per stage) are identical across core counts —
    // only the executor slots change.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def timed(name: String)(f: => Long): Unit =
      if (only.forall(_.contains(name))) {
        val t0 = System.nanoTime()
        val n = f
        println(f"""{"stage":"$name","rows":$n,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
        // Release persisted/localCheckpoint blocks between stages (the
        // Bench hygiene): ~30 stages share ONE 8g JVM here, and after
        // the r17 MEMORY_AND_DISK_SER sweep the leaked slim frames
        // accumulate in HEAP (they used to leak harmlessly to disk) —
        // the full-sweep run died broadcasting in a late stage from
        // exactly this. Outside the timed region; every stage builds
        // its own frames (the shared-graph group was split for this).
        graft.core.Caches.freeAll(spark)
        // r19: also drop the CacheManager PLAN entries (RDD-level
        // unpersist never removes them — they accumulate across ~60
        // stages and every later stage's planning compares against
        // each) and let the ContextCleaner reclaim dead shuffle
        // files/broadcasts (only happens when their references are
        // GC'd). Same policy as Bench (BASELINE.md r19).
        graft.core.Caches.release(spark)
        spark.catalog.clearCache()
        System.gc()
      }

    // synthetic fact table: skewed key, timestamp, value
    val fact = spark.range(rows).select(
      col("id"),
      pmod(hash(col("id")), lit(100000)).as("key"),
      // 1% of rows land on a single hot key — skew stressor
      when(pmod(col("id"), lit(100)) === 0, lit(7L)).otherwise(
        pmod(hash(col("id") * 13), lit(100000))).as("skew_key"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000).as("ts"),
      (rand(42) * 100).as("value"))

    timed("agg_groupBy_100k_keys") {
      fact.groupBy("key").agg(sum("value"), count(lit(1))).count()
    }
    timed("agg_skewed_hot_key") {
      fact.groupBy("skew_key").agg(sum("value")).count()
    }
    timed("window_topk_per_key") {
      Relational.topKPerGroup(
        fact.where(col("key") < 1000), Seq(col("key")),
        Seq(col("value").desc, col("id")), 3).count()
    }
    timed("distinct_hll") {
      fact.agg(approx_count_distinct(col("key"), 0.02)).count()
    }
    val dim = spark.range(100000).select(col("id").as("key"),
      concat(lit("d"), col("id")).as("attr"))
    timed("join_fact_dim_broadcast") {
      fact.join(broadcast(dim), "key").groupBy("attr").count().count()
    }
    timed("exact_dedup_hash") {
      fact.select(md5(concat_ws(":", col("key"), col("value"))).as("h"))
        .distinct().count()
    }
    // one-pass minhash signatures (xxhash64 base + splitmix family) over
    // rows shingles for rows/10 docs — the dedup throughput path
    timed("minhash_fast_signatures") {
      val sh = spark.range(rows).select(
        (col("id") / 10).cast("long").as("doc_id"),
        concat(lit("sh"), pmod(hash(col("id")), lit(10000000)).cast("string"))
          .as("shingle"))
      graft.dedup.Dedup.minhashSignaturesFast(sh, "doc_id", numHashes = 16)
        .count()
    }
    // oracle-pinned md5 family via the native one-eval-per-shingle
    // expression (rows/10 shingles: md5 is ~10x xxhash64 per shingle, so
    // same wall ballpark at a tenth the rows — the family you use when a
    // SQL oracle must reproduce the values)
    timed("minhash_md5_native_signatures") {
      val sh = spark.range(rows / 10).select(
        (col("id") / 10).cast("long").as("doc_id"),
        concat(lit("sh"), pmod(hash(col("id")), lit(10000000)).cast("string"))
          .as("shingle"))
      graft.dedup.Dedup.minhashSignatures(sh, "doc_id", numHashes = 8)
        .count()
    }
    // fused minhash(8) + simhash(60) from ONE pass over the same shingle
    // volume — the all-detectors scan the provenance pipeline runs
    timed("fused_signatures") {
      val sh = spark.range(rows / 10).select(
        (col("id") / 10).cast("long").as("doc_id"),
        concat(lit("sh"), pmod(hash(col("id")), lit(10000000)).cast("string"))
          .as("shingle"))
      Dedup.fusedSignatures(sh, "doc_id", numHashes = 8, bits = 60).count()
    }
    // count-min sketch over a Zipf-ish term stream (hash-power-skewed:
    // term ids concentrate mass at low ids the way corpus vocabularies
    // do). Sketch + one point-estimate probe for 1000 query terms; the
    // fixed 4×1024 counter table is the whole shuffle payload per task
    // regardless of `rows` — the memory-boundedness claim, measured.
    timed("count_min_sketch") {
      val terms = spark.range(rows).select(
        concat(lit("t"), (pow(lit(2.0),
          (pmod(hash(col("id")), lit(1000000)) / lit(50000.0)))
          .cast("long")).cast("string")).as("term"))
      val sk = graft.stats.Sketches
        .countMinSketch(terms, "term", depth = 4, width = 1024)
        .localCheckpoint()
      val queries = spark.range(1000).select(
        concat(lit("t"), col("id")).as("term"))
      graft.stats.Sketches
        .cmsEstimate(sk, queries, "term", depth = 4, width = 1024).count()
    }
    // xxhash64 throughput twin — same stream, same probe; the delta vs
    // count_min_sketch is pure hash cost (md5 is the oracle tax)
    timed("count_min_sketch_fast") {
      val terms = spark.range(rows).select(
        concat(lit("t"), (pow(lit(2.0),
          (pmod(hash(col("id")), lit(1000000)) / lit(50000.0)))
          .cast("long")).cast("string")).as("term"))
      val sk = graft.stats.Sketches
        .countMinSketchFast(terms, "term", depth = 4, width = 1024)
        .localCheckpoint()
      val queries = spark.range(1000).select(
        concat(lit("t"), col("id")).as("term"))
      graft.stats.Sketches
        .cmsEstimateFast(sk, queries, "term", depth = 4, width = 1024).count()
    }
    // exact-substring coverage over synthetic ~200-token docs where every
    // 10th doc embeds a shared 40-token boilerplate block (L-gram hash,
    // global multiplicity, gaps-and-islands merge — linear end to end)
    timed("repeated_span_stats") {
      val nDocs = math.max(rows / 2000L, 1000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ",
          expr("transform(sequence(1, 80), " +
            "i -> concat('w', hash(id, i) % 1000000))"),
          expr("CASE WHEN id % 10 = 0 THEN transform(sequence(1, 40), " +
            "i -> concat('b', i)) ELSE transform(sequence(1, 40), " +
            "i -> concat('w', hash(id, i + 80) % 1000000)) END"),
          expr("transform(sequence(1, 80), " +
            "i -> concat('w', hash(id, i + 120) % 1000000))")).as("text"))
      Dedup.repeatedSpanStats(docs, "doc_id", "text", windowTokens = 8)
        .count()
    }
    // components at graph scale: rows/10 edges forming rows/100 clusters
    // of 10 (star shape — min-label converges in 2 rounds; the loop's
    // per-round cost is the point, not diameter)
    timed("connected_components") {
      val edges = spark.range(rows / 10).select(
        col("id").as("id_a"), (col("id") - pmod(col("id"), lit(10))).as("id_b"))
      graft.dedup.Components.dedupClusters(
        edges.where(col("id_a") =!= col("id_b")), "id_a", "id_b").count()
    }
    // components at FULL edge scale with a diameter stressor: rows star
    // edges (clusters of 10 — the realistic dedup shape) PLUS rows/8
    // chain edges in 1024-node chains. The chains are the point: a
    // diameter-1024 component converges only because of path halving
    // (O(log d) rounds ≈ 11, vs 1024 rounds for plain label
    // propagation) — this stage records the actual round count and
    // wall time backing that claim at ~20M edges.
    timed("connected_components_chain_mix") {
      val stars = spark.range(rows).select(
        col("id").as("id_a"), (col("id") - pmod(col("id"), lit(10))).as("id_b"))
        .where(col("id_a") =!= col("id_b"))
      val base = 1000000000L
      val chains = spark.range(rows / 8).select(
        (lit(base) + col("id")).as("id_a"),
        (lit(base) + col("id") + 1).as("id_b"))
        .where(pmod(col("id"), lit(1024)) =!= 1023)
      var rounds = -1
      val n = graft.dedup.Components.dedupClusters(
        stars.union(chains), "id_a", "id_b", onRounds = rounds = _).count()
      println(s"""{"stage":"connected_components_chain_mix_rounds","rounds":$rounds}""")
      n
    }
    // suffix ranking (prefix doubling) over rows/20 tokens with recurring
    // 200-token boilerplate runs (every 1000-block starts with the same
    // 40-period cycle repeated 5x) — long shared prefixes force the
    // doubling loop well past the vocabulary-separation rounds, so this
    // measures the O(log n)-round distributed dense-rank machinery at a
    // token count where per-round job overhead no longer dominates.
    timed("suffix_ranks_prefix_doubling") {
      val nTok = math.max(rows / 20L, 100000L)
      val toks = spark.range(nTok).select(col("id").as("pos"),
        when(pmod(col("id"), lit(1000)) < 200,
          concat(lit("b"), pmod(col("id"), lit(40))))
          .otherwise(concat(lit("w"), pmod(hash(col("id")), lit(5000))))
          .as("tok"))
      graft.dedup.SuffixRank.suffixRanks(toks, "pos", "tok").count()
    }
    // LCP sparse-table descent over the same boilerplate-heavy token
    // shape — exercises the level-by-level rank-history consumption:
    // history levels pin DISK_ONLY (memory stays at the two working
    // frames) and each level is released as the descent uses it, so the
    // on-disk level set drains monotonically instead of being held to
    // the end of the descent.
    timed("lcp_sparse_table") {
      val nTok = math.max(rows / 20L, 100000L)
      val toks = spark.range(nTok).select(col("id").as("pos"),
        when(pmod(col("id"), lit(1000)) < 200,
          concat(lit("b"), pmod(col("id"), lit(40))))
          .otherwise(concat(lit("w"), pmod(hash(col("id")), lit(5000))))
          .as("tok"))
      graft.dedup.SuffixRank.lcpArray(toks, "pos", "tok").count()
    }
    // SA-detected repeated spans end to end (global token stream with
    // separators -> distributed prefix-sum offsets -> suffix ranks ->
    // LCP descent -> doc-relative spans -> islands merge) over the same
    // boilerplate-doc shape as repeated_span_stats: rows/4000 docs of
    // 200 tokens (rows/20 tokens total), every 10th doc embedding a
    // shared 40-token block.
    timed("sa_repeated_spans") {
      val nDocs = math.max(rows / 4000L, 500L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ",
          expr("transform(sequence(1, 80), " +
            "i -> concat('w', hash(id, i) % 1000000))"),
          expr("CASE WHEN id % 10 = 0 THEN transform(sequence(1, 40), " +
            "i -> concat('b', i)) ELSE transform(sequence(1, 40), " +
            "i -> concat('w', hash(id, i + 80) % 1000000)) END"),
          expr("transform(sequence(1, 80), " +
            "i -> concat('w', hash(id, i + 120) % 1000000))")).as("text"))
      Dedup.saRepeatedSpanStats(docs, "doc_id", "text", windowTokens = 8)
        .count()
    }
    // Gramian + fixed-round power iteration over rows/100 64-dim vectors
    // (in-row d^2 pair explode, no self-join: the only exchange is the
    // partial-agg merge; n*d^2 multiply-adds stream through codegen)
    // fixed-round PageRank over a synthetic web-ish graph: a global
    // chain (long diameter is irrelevant — rounds are FIXED) + 1k hub
    // targets drawing 10% of nodes, ~1.1 edges/node. Exercises the
    // per-round edges⋈ranks shuffle + dangling aggregate at node counts
    // 3 orders past the bench graphs.
    timed("pagerank_fixed_rounds") {
      val nNodes = math.max(rows / 10L, 100000L)
      val chain = spark.range(nNodes).select(col("id").as("src"),
        pmod(col("id") + 1, lit(nNodes)).as("dst"))
      val hubs = spark.range(nNodes).where(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("src"),
          pmod(hash(col("id")), lit(1000)).cast("long").as("dst"))
      val nodes = spark.range(nNodes).select(col("id"))
      graft.operators.Graph.pageRank(chain.unionByName(hubs), "src", "dst",
        nodes, "id", iters = 6).count()
    }
    // same chain+1k-hub shape as pagerank: degree orientation keeps
    // each hub's wedges at ~0 (its edges all point AT it), where id
    // orientation would pay C(hub_degree, 2) per low-id hub
    timed("triangle_census") {
      val nNodes = math.max(rows / 10L, 100000L)
      val chain = spark.range(nNodes).select(col("id").as("src"),
        pmod(col("id") + 1, lit(nNodes)).as("dst"))
      val hubs = spark.range(nNodes).where(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("src"),
          pmod(hash(col("id")), lit(1000)).cast("long").as("dst"))
      graft.operators.Graph.triangleCount(
        chain.unionByName(hubs), "src", "dst").count()
    }
    // k-core peeling with a CASCADE: rows/40 triangles, each vertex
    // carrying a pendant 6-node path (21·T edges total). The paths
    // dissolve tip-first over ~7 peel rounds — the multi-round regime
    // the fixpoint loop exists for — while every triangle survives, so
    // the returned core is exactly the 3·T triangle vertices. Prices
    // the per-round degree-aggregate + two-semi-join machinery at ~10M
    // edges.
    timed("kcore_peel_cascade") {
      val t = math.max(rows / 40L, 50000L)
      val tri = spark.range(t).select(explode(array(
        struct((col("id") * 3).as("src"), (col("id") * 3 + 1).as("dst")),
        struct((col("id") * 3 + 1).as("src"), (col("id") * 3 + 2).as("dst")),
        struct((col("id") * 3).as("src"), (col("id") * 3 + 2).as("dst"))))
        .as("e")).select(col("e.src"), col("e.dst"))
      val base = t * 3
      val paths = spark.range(t * 3).select(explode(array(
        (0 to 4).map(j => struct(
          (lit(base) + col("id") * 6 + j).as("src"),
          (lit(base) + col("id") * 6 + j + 1).as("dst"))): _*)).as("e"))
        .select(col("e.src"), col("e.dst"))
      val anchors = spark.range(t * 3).select(col("id").as("src"),
        (lit(base) + col("id") * 6).as("dst"))
      graft.operators.Graph.kCore(
        tri.unionByName(paths).unionByName(anchors), "src", "dst",
        k = 2, maxRounds = 10).count()
    }
    // fixed-round label propagation on the same chain+hub shape as
    // pagerank: per-round cost is one edges⋈labels join + two
    // aggregates at 1.1·rows/10 edges
    timed("label_propagation_rounds") {
      val nNodes = math.max(rows / 10L, 100000L)
      val chain = spark.range(nNodes).select(col("id").as("src"),
        pmod(col("id") + 1, lit(nNodes)).as("dst"))
      val hubs = spark.range(nNodes).where(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("src"),
          pmod(hash(col("id")), lit(1000)).cast("long").as("dst"))
      graft.operators.Graph.labelPropagation(
        chain.unionByName(hubs), "src", "dst", rounds = 4).count()
    }
    // FS m/u/p EM fit over rows candidate pairs (10% planted matches
    // where both fields agree; non-match agreement rare): 3 rounds,
    // each ONE map-side-combinable aggregate over the pair scan — the
    // fit costs three passes regardless of parameter count
    timed("fs_estimate_mu_em") {
      val n = rows
      val pairs = spark.range(n).select(
        (pmod(col("id"), lit(10)) === 0).as("t1_match"),
        col("id"))
        .select(col("id"),
          (col("t1_match") || pmod(hash(col("id")), lit(9)) === 0).as("a1c"),
          (col("t1_match") || pmod(hash(col("id") * 7), lit(13)) === 0).as("a2c"))
      graft.operators.Linkage.estimateMU(pairs, Seq(
        ("f1", col("a1c")), ("f2", col("a2c"))), rounds = 3).count()
    }
    // exact-threshold jaccard join via prefix filtering at rows/1000
    // docs × ~200 trigrams (rows/5 shingle rows): every 10th doc pair
    // shares a 180-token prefix (J ≈ 0.82 ≥ the 0.8 gate), the rest
    // draw from a 1e8 shingle universe so rarest-first prefixes are
    // near-unique and the candidate join stays linear-ish — the
    // selectivity regime the AllPairs filter is built for.
    timed("ppjoin_exact_threshold") {
      val nDocs = math.max(rows / 1000L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 200), i -> " +
          "CASE WHEN id % 10 = 1 AND i <= 180 " +
          "THEN concat('w', hash(id - 1, i) % 100000000) " +
          "ELSE concat('w', hash(id, i) % 100000000) END)")).as("text"))
      Dedup.ppJoinPairs(Dedup.shingles(docs, "doc_id", "text"),
        "doc_id", threshold = 0.8).count()
    }
    // the positional filter's regime: every doc carries 11 unique
    // shingles, one of 20 HUB shingles (landing exactly last in the
    // 12-slot prefix), and the same 44 corpus-wide commons (outside
    // every prefix). Same-hub pairs flood the prefix join — ~1e7
    // candidates at 20k docs — but their true jaccard is 0.67 < 0.8
    // and the positional bound (45 < the required 50 overlap) kills
    // every one BEFORE the distinct + array-verify; the prefix-only
    // variant pays the full candidate set. Result set is empty by
    // construction — this stage prices pure filtering.
    timed("ppjoin_positional_hub") {
      val nDocs = math.max(rows / 1000L, 10000L)
      val uni = spark.range(nDocs).select(col("id").as("doc_id"),
        explode(expr("transform(sequence(0, 10), " +
          "j -> concat('u', id * 11 + j))")).as("shingle"))
      val hub = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(lit("h"), pmod(col("id"), lit(20))).as("shingle"))
      val com = spark.range(nDocs).select(col("id").as("doc_id"),
        explode(expr("transform(sequence(0, 43), j -> concat('c', j))"))
          .as("shingle"))
      Dedup.ppJoinPairs(uni.unionByName(hub).unionByName(com),
        "doc_id", threshold = 0.8).count()
    }
    // corpus-wide kNN graph at rows/40 64-dim vectors, 1024 true
    // clusters (center + unit noise, so group means ARE the centroids
    // and cells stay balanced): native in-row argmin assignment, then
    // Σ|cell|² in-cell cosine pairs (~2.4e8 at the 500k default) and a
    // per-source top-5 — the all-points search pass semantic dedup
    // consumes, never n².
    timed("knn_graph_cells") {
      val n = math.max(rows / 40L, 100000L)
      val emb = spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "cast(hash(pmod(id, 1024), i) % 1000 as double) + " +
          "cast(hash(id, i) % 100 as double) / 100.0)").as("embedding"))
      val coarse = graft.mlops.NaiveBayesOps.toLongForm(
          emb.withColumn("cell", pmod(col("vec_id"), lit(1024))),
          Seq("cell"), "embedding")
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
      graft.similarity.Similarity.knnGraphCells(
        emb, "vec_id", "embedding", coarse, "cell", k = 5, nProbe = 1)
        .count()
    }
    // one NN-descent refinement round over the knn_graph_cells output
    // at the same geometry: undirected closure, neighbor-of-neighbor
    // candidates (Σ deg² ≈ n·(2k)²) through the salted mid-keyed join
    // with vectors attached before pair enumeration, re-ranked top-5
    timed("knn_refine") {
      val n = math.max(rows / 40L, 100000L)
      val emb = spark.range(n).select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> " +
          "cast(hash(pmod(id, 1024), i) % 1000 as double) + " +
          "cast(hash(id, i) % 100 as double) / 100.0)").as("embedding"))
      val coarse = graft.mlops.NaiveBayesOps.toLongForm(
          emb.withColumn("cell", pmod(col("vec_id"), lit(1024))),
          Seq("cell"), "embedding")
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
      val g = graft.similarity.Similarity.knnGraphCells(
          emb, "vec_id", "embedding", coarse, "cell", k = 5, nProbe = 1)
        .localCheckpoint()
      graft.similarity.Similarity.knnRefine(
        emb, "vec_id", "embedding", g, k = 5).count()
    }
    // The convergence knob priced against its fixed-count twin at the
    // same geometry. Corpus: 256 clusters on a circle in a 2-d signal
    // subspace (adjacent clusters overlap in cosine, so border points'
    // true neighbors live in the NEXT cluster and the initial graph
    // misses one side); NN-descent pulls them in over 2-hop paths and
    // the per-round changed-edge count collapses geometrically
    // (measured at 100k×64d: 10764 → 2107 → 481 → 113). The tail to an
    // EXACT fixed point is long — which is precisely why Dong et al.
    // run the knob at a relative tolerance; this stage uses their
    // δ = 0.001 (stop when a round changes ≤ 0.1% of directed edges —
    // bounded recall impact) against maxRounds = 6. The info line
    // records rounds_run/changed_per_round — rounds_run < max_rounds
    // is the early-exit evidence; the wall-clock delta vs
    // knn_refine_fixed (same maxRounds, no knob) is the saving.
    // 2048 clusters keep the per-cell candidate list ~|cell|·nProbe
    // ≈ 500 at 500k rows — the cell self-join stays ~500M slim pairs
    // (the r13 knn_graph_cells budget); 256 cells at this n would
    // enumerate ~4B pairs and fill the shuffle disk. Radius 320 keeps
    // the adjacent-cluster chord (~0.98) at the same overlap-to-noise
    // ratio the 100k tuning measured, so the convergence shape holds.
    def circleVecs(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), i -> CASE " +
        "WHEN i = 1 THEN 320.0 * cos(2 * pi() * pmod(id, 2048) / 2048) " +
        "WHEN i = 2 THEN 320.0 * sin(2 * pi() * pmod(id, 2048) / 2048) " +
        "ELSE cast(hash(id, i) % 1000 as double) / 1000.0 END)")
        .as("embedding"))
    def circleGraph(emb: org.apache.spark.sql.DataFrame) = {
      val coarse = graft.mlops.NaiveBayesOps.toLongForm(
          emb.withColumn("cell", pmod(col("vec_id"), lit(2048))),
          Seq("cell"), "embedding")
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
      // nProbe=2 seeds cross-cell edges (one adjacent side per point);
      // NN-descent must close the other side over 2-hop paths — with
      // nProbe=1 the candidate closure can never leave a cell and the
      // graph is trivially converged at round 1
      graft.similarity.Similarity.knnGraphCells(
          emb, "vec_id", "embedding", coarse, "cell", k = 5, nProbe = 2)
        .localCheckpoint()
    }
    // The initial graph is built OUTSIDE each timed region (it is
    // identical input to both loops — circleGraph is deterministic, so
    // per-stage rebuilds see the same graph — and its cell self-join
    // would otherwise dominate the k=5 round cost, hiding the loop
    // delta the stages exist to price). Each stage builds its OWN copy
    // so the between-stage block release in timed() stays safe: a
    // shared localCheckpoint frame cannot survive an unpersist (its
    // lineage is truncated).
    // a generous ceiling, as a user who does NOT know the convergence
    // round would set it — the knob's job is to find the real stopping
    // point under it
    val refineMaxRounds = 8
    if (only.forall(_.contains("knn_refine_converged"))) {
      val n = math.max(rows / 40L, 100000L)
      // emb stays a cheap synthetic projection (recomputed per use) —
      // checkpointing 500k×64d vectors alongside the per-round edge
      // checkpoints overruns the 8g stress heap
      val emb = circleVecs(n)
      val g = circleGraph(emb)
      timed("knn_refine_converged") {
        val conv = graft.similarity.Similarity.knnRefineConverged(
          emb, "vec_id", "embedding", g, k = 5, maxRounds = refineMaxRounds,
          tol = 0.001)
        println(s"""{"stage":"knn_refine_converged_info","rounds_run":${
          conv.roundsRun},"max_rounds":$refineMaxRounds,"changed_per_round":[${
          conv.changedPerRound.mkString(",")}]}""")
        conv.graph.count()
      }
    }
    if (only.forall(_.contains("knn_refine_fixed"))) {
      val n = math.max(rows / 40L, 100000L)
      val emb = circleVecs(n)
      val g = circleGraph(emb)
      timed("knn_refine_fixed") {
        graft.similarity.Similarity.knnRefineIterated(
          emb, "vec_id", "embedding", g, k = 5,
          rounds = refineMaxRounds).count()
      }
    }
    // The graph ANN QUERY path at the same boundary-heavy circle
    // geometry (rows/40 = 500k vectors at the default, 2048 cells):
    // 1024 queries (one per even cell — ids 0..1023 are spread across
    // distinct cells by the id%2048 assignment) enter at their coarse
    // cell and walk 2 bounded-beam rounds over the prebuilt k-NN
    // graph. The graph build is outside the timed region (it is the
    // index; the stage prices SEARCH) — frontier state is 1024×16
    // rows, candidates ≤ queries × beam × (k+1) per round, and no
    // corpus scan recurs after the entry probe.
    if (only.forall(_.contains("graph_search_topk"))) {
      val n = math.max(rows / 40L, 100000L)
      val emb = circleVecs(n)
      val g = circleGraph(emb)
      timed("graph_search_topk") {
        val got = graft.similarity.Similarity.graphSearchTopK(
          emb, emb.where(col("vec_id") < 1024), "vec_id", "embedding",
          graft.mlops.NaiveBayesOps.toLongForm(
              emb.withColumn("cell", pmod(col("vec_id"), lit(2048))),
              Seq("cell"), "embedding")
            .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c")),
          "cell", g, k = 10, rounds = 2, beam = 16).count()
        require(got == 1024L * 10,
          s"graph search ground truth: $got rows vs expected 10240")
        got
      }
    }
    // JPEG codec throughput at rows/2000 images (~64x48 color): full
    // encode (RGB->YCbCr, 2x DCT-quantize per block family, Huffman)
    // + full decode back to RGB per payload, partition-iterator — the
    // per-core cost model for bringing a crawl's JPEGs into the
    // perceptual-hash surfaces
    timed("jpeg_codec_throughput") {
      val n = math.max(rows / 2000L, 1000L)
      val imgs = spark.range(n).select(col("id"))
      imgs.as[Long].mapPartitions { it =>
        it.map { id =>
          val w = 64; val h = 48
          val rgb = new Array[Byte](w * h * 3)
          var i = 0
          while (i < rgb.length) {
            rgb(i) = (((id + i) * 2654435761L >> 16) & 0xff).toByte
            i += 1
          }
          val enc = graft.multimodal.JpegCodec
            .encodeColor(w, h, rgb, quality = 85, subsample = true)
          graft.multimodal.JpegCodec.decodeRgb(enc) match {
            case Some((dw, dh, _)) => dw.toLong * dh
            case None => -1L
          }
        }
      }.filter(_ > 0).count()
    }
    // VIDEO pipeline end-to-end at rows/2000 MJPEG AVIs x 8 frames of
    // 64x48 grey: mux (8 real JPEG encodes + RIFF assembly per video),
    // demux + per-frame JPEG decode + digest (videoFrameFeatures), then
    // the frame-level near-dup join. Every 50th video reuses its
    // predecessor's content seed, so the join has real hits to count —
    // the returned number is the planted-pair count, a correctness
    // check riding the throughput stage.
    timed("video_mjpeg_pipeline") {
      val nVid = math.max(rows / 2000L, 1000L)
      val media = spark.range(nVid).as[Long].mapPartitions { it =>
        it.map { id =>
          val seedId = if (id % 50 == 1) id - 1 else id
          val w = 64; val h = 48; val nf = 8
          val frames = (0 until nf).map { f =>
            val raster = new Array[Byte](w * h)
            var j = 0
            while (j < raster.length) {
              raster(j) =
                ((((seedId * 131 + f) * 2654435761L + j * 40503L) >> 12)
                  & 0xff).toByte
              j += 1
            }
            graft.multimodal.JpegCodec.encodeGray(w, h, raster)
          }
          graft.multimodal.MediaRecord(id,
            graft.multimodal.MediaCodec.encodeAviMjpeg(w, h, 24, frames),
            "video/avi")
        }
      }
      val frames = graft.multimodal.Multimodal
        .videoFrameFeatures(media, stride = 1)
      graft.multimodal.Multimodal
        .videoNearDupPairs(frames.toDF(), minShared = 4).count()
    }
    // AUDIO pipeline end-to-end at rows/200 WAVs of 2048 16-bit mono
    // samples: synth PCM + RIFF mux, spectral-print extraction (128
    // WHT frames per payload), then the shingled-print near-dup join.
    // Every 50th doc reuses its predecessor's sample seed — the
    // returned number is the planted-pair count, a correctness check
    // riding the throughput stage (same discipline as the video one).
    timed("audio_spectral_pipeline") {
      val nDoc = math.max(rows / 200L, 10000L)
      val nSamp = 2048
      val media = spark.range(nDoc).as[Long].mapPartitions { it =>
        it.map { id =>
          val seedId = if (id % 50 == 1) id - 1 else id
          val pcm = new Array[Byte](nSamp * 2)
          var i = 0
          while (i < nSamp) {
            // full-avalanche per-sample mix (splitmix64-style
            // finalizer): a weak mix here makes docs differ by a
            // near-constant PCM offset, which the volume-invariant
            // prints are BUILT to ignore — the whole corpus then
            // shares its shingles and the join measures a pathology,
            // not throughput
            var hm = seedId * 0x9E3779B97F4A7C15L +
              i * 0xC2B2AE3D27D4EB4FL
            hm ^= hm >>> 29; hm *= 0xBF58476D1CE4E5B9L; hm ^= hm >>> 32
            val v = (hm & 0xffffL).toShort
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          graft.multimodal.MediaRecord(id,
            graft.multimodal.MediaCodec.encodeWav(1, 16000, 16, pcm),
            "audio/wav")
        }
      }
      val prints = graft.multimodal.Multimodal
        .audioSpectralPrints(media, frameLen = 16, bands = 8)
      graft.multimodal.Multimodal
        .audioNearDupPairs(prints.toDF(), shingle = 4, minShared = 8)
        .count()
    }
    // farthest-point traversal at rows/20 64-dim vectors, k=8: each
    // round is one native-l2sq map pass + a min-struct argmax — the
    // O(n·k·d) running-min fold, never a pairwise matrix
    timed("kcenter_coreset") {
      val n = math.max(rows / 20L, 100000L)
      val emb = spark.range(n).select(
        col("id").as("vec_id"),
        expr("transform(sequence(1, 64), " +
          "i -> cast(hash(id, i) % 1000 as double) / 1000.0)").as("embedding"))
      graft.similarity.Similarity.kCenterCoreset(
        emb, "vec_id", "embedding", k = 8).count()
    }
    // blocked Fellegi–Sunter linkage at 2×rows/10 records: block keys
    // keep ~16-row blocks, so the scored pair set stays ~16× the
    // record count, never quadratic in it
    timed("fs_linkage_best") {
      val n = math.max(rows / 10L, 100000L)
      val base = spark.range(n).select(col("id"),
        pmod(col("id"), lit(25)).as("nat"),
        pmod(col("id"), lit(5)).as("seg"),
        (abs(hash(col("id"))) % 10000).cast("double").as("bal"))
      val a = base.select(col("id").as("id_a"), col("nat"), col("seg"),
        col("bal"), (col("bal") / 10).cast("long").as("balb"))
      val b = base.select(col("id").as("id_b"), col("nat"), col("seg"),
        (round(col("bal") / 10) * 10).as("d_bal"))
        .withColumn("balb", (col("d_bal") / 10).cast("long"))
      val scored = graft.operators.Linkage.scorePairs(a, b,
        Seq("nat", "seg", "balb"), Seq(
          graft.operators.Linkage.FieldRule("bal",
            abs(col("bal") - col("d_bal")) <= 5, 2.3, -2.0)))
      graft.operators.Linkage.bestMatches(scored, "id_a", "id_b", 2.0)
        .count()
    }
    // Skew-realistic linkage: block keys drawn Zipf(1)-ish (the
    // count_min construction — k = 2^(u/25000) puts P(k) ∝ 1/k over
    // ~2^40 keys), so the top block alone holds ~2.5% of each side
    // (25k rows at the 1M default → ~6e8 pairs in ONE block) while the
    // tail blocks stay tiny. The plain equi-join lands that entire
    // quadratic pair set on one task; this stage prices that
    // straggler. The _salted twin runs the SAME records through
    // scorePairsSkewAware: blocks past the per-task pair budget split
    // across per-block-sized sub-block counts. The report line in
    // between records what the diagnostic sees on this key.
    def zipfLinkSides(n: Long) = {
      val base = spark.range(n).select(col("id"),
        pow(lit(2.0), pmod(abs(hash(col("id"))), lit(1000000)) / lit(25000.0))
          .cast("long").as("zb"),
        (abs(hash(col("id") * 31)) % 10000).cast("double").as("bal"))
      val a = base.select(col("id").as("id_a"), col("zb"), col("bal"))
      val b = base.select(col("id").as("id_b"), col("zb"),
        (round(col("bal") / 10) * 10).as("d_bal"))
      (a, b)
    }
    timed("fs_linkage_zipf_plain") {
      val (a, b) = zipfLinkSides(math.max(rows / 20L, 100000L))
      val scored = graft.operators.Linkage.scorePairs(a, b, Seq("zb"), Seq(
        graft.operators.Linkage.FieldRule("bal",
          abs(col("bal") - col("d_bal")) <= 5, 2.3, -2.0)))
      graft.operators.Linkage.bestMatches(scored, "id_a", "id_b", 2.0)
        .count()
    }
    timed("fs_linkage_zipf_report") {
      val (a, _) = zipfLinkSides(math.max(rows / 20L, 100000L))
      val rep = graft.operators.Diagnostics.keySkewReport(a, col("zb"))
        .head()
      println(s"""{"stage":"fs_linkage_zipf_report_detail","skew_ratio":${
        rep.getAs[Double]("skew_ratio")},"top1_share":${
        rep.getAs[Double]("top1_share")},"salt_factor":${
        rep.getAs[Long]("salt_factor")}}""")
      rep.getAs[Long]("n_keys")
    }
    timed("fs_linkage_zipf_salted") {
      val (a, b) = zipfLinkSides(math.max(rows / 20L, 100000L))
      val scored = graft.operators.Linkage.scorePairsSkewAware(a, "id_a", b,
        Seq("zb"), Seq(
          graft.operators.Linkage.FieldRule("bal",
            abs(col("bal") - col("d_bal")) <= 5, 2.3, -2.0)))
      graft.operators.Linkage.bestMatches(scored, "id_a", "id_b", 2.0)
        .count()
    }
    // AQE-off twins: on a shuffle-joined plan, AQE's skew-join split
    // already levels the hot block (the Spark-first mitigation), so the
    // pair above measures salting as pure overhead. With AQE disabled —
    // the regime of engines/configs without runtime re-plan, and of
    // plans AQE cannot split — the plain join serializes the hot
    // block's pair set on one task and the salted plan is what removes
    // the straggler. These two stages price exactly that.
    def aqeOff[T](f: => T): T = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try f finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    timed("fs_linkage_zipf_plain_noaqe") {
      aqeOff {
        val (a, b) = zipfLinkSides(math.max(rows / 20L, 100000L))
        val scored = graft.operators.Linkage.scorePairs(a, b, Seq("zb"), Seq(
          graft.operators.Linkage.FieldRule("bal",
            abs(col("bal") - col("d_bal")) <= 5, 2.3, -2.0)))
        graft.operators.Linkage.bestMatches(scored, "id_a", "id_b", 2.0)
          .count()
      }
    }
    timed("fs_linkage_zipf_salted_noaqe") {
      aqeOff {
        val (a, b) = zipfLinkSides(math.max(rows / 20L, 100000L))
        val scored = graft.operators.Linkage.scorePairsSkewAware(a, "id_a", b,
          Seq("zb"), Seq(
            graft.operators.Linkage.FieldRule("bal",
              abs(col("bal") - col("d_bal")) <= 5, 2.3, -2.0)))
        graft.operators.Linkage.bestMatches(scored, "id_a", "id_b", 2.0)
          .count()
      }
    }
    // encode rows/200 docs × 200 4-char words (vocab ≈ 26^4) through a
    // 6-entry merge table: folds run once per DISTINCT word, the
    // corpus pays one explode + one vocabulary join
    timed("bpe_encode_corpus") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 200), i -> concat(" +
          "chr(97 + abs(hash(id, i)) % 26), " +
          "chr(97 + abs(hash(id, i, 7)) % 26), " +
          "chr(97 + abs(hash(id, i, 13)) % 26), " +
          "chr(97 + abs(hash(id, i, 19)) % 26)))")).as("text"))
      graft.text.Bpe.applyMerges(docs, "doc_id", "text",
        Seq(("a", "b"), ("c", "d"), ("ab", "c"), ("e", "f"),
          ("g", "h"), ("i", "j"))).count()
    }
    timed("power_iteration_svd") {
      val emb = spark.range(math.max(rows / 100L, 10000L)).select(
        col("id").as("vec_id"),
        expr("transform(sequence(1, 64), " +
          "i -> cast(hash(id, i) % 1000 as double) / 1000.0)").as("embedding"))
      graft.mlops.ClusterOps.powerIterationTop(
        emb, "vec_id", "embedding", iters = 8).count()
    }
    // rows/20 64-dim vectors; codebooks trained on a 1% deterministic
    // sample (the at-scale path — codebook quality needs thousands of
    // vectors per code, not the corpus), all vectors encoded, then
    // EXHAUSTIVE ADC for 32 queries: |q|·n candidate pairs scored
    // through 4-int codes. The gated twin below is the production
    // search shape; this stage prices the ungated scan.
    def stressVecs(n: Long) = spark.range(n).select(
      col("id").as("vec_id"),
      expr("transform(sequence(1, 64), " +
        "i -> cast(hash(id, i) % 1000 as double) / 1000.0)").as("embedding"))
    timed("pq_adc_topk") {
      val n = math.max(rows / 20L, 100000L)
      val emb = stressVecs(n)
      val cb = graft.similarity.Similarity.pqCodebooks(
        emb.where(pmod(col("vec_id"), lit(100)) === 0),
        "vec_id", "embedding", dsub = 16, ksub = 16, iters = 2)
      graft.similarity.Similarity.pqTopK(emb,
        emb.where(col("vec_id") < 32),
        "vec_id", "embedding", cb, dsub = 16, k = 10).count()
    }
    // Same corpus/codebooks, but the coarse quantizer (256 group-mean
    // cells) gates to nProbe=16 cells first: candidates drop ~16× and
    // the ADC join touches n/16 pairs per query instead of n.
    timed("ivfpq_gated_topk") {
      val n = math.max(rows / 20L, 100000L)
      val emb = stressVecs(n)
      val coarse = graft.mlops.NaiveBayesOps.toLongForm(
          emb.withColumn("cell", pmod(col("vec_id"), lit(256))),
          Seq("cell"), "embedding")
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
      val cb = graft.similarity.Similarity.pqCodebooks(
        emb.where(pmod(col("vec_id"), lit(100)) === 0),
        "vec_id", "embedding", dsub = 16, ksub = 16, iters = 2)
      graft.similarity.Similarity.ivfPqTopK(emb,
        emb.where(col("vec_id") < 32),
        "vec_id", "embedding", coarse, "cell", cb, dsub = 16,
        nProbe = 16, k = 10).count()
    }
    // The two-stage production ranker on the same corpus: stage 1 is
    // the gated ADC search above taking top-50, stage 2 re-ranks those
    // 50 finalists per query by exact L2 (50·|q| full-precision
    // distances — candidate-pool-sized, corpus-independent). The delta
    // vs ivfpq_gated_topk prices the refine stage.
    timed("ivfpq_rerank_topk") {
      val n = math.max(rows / 20L, 100000L)
      val emb = stressVecs(n)
      val coarse = graft.mlops.NaiveBayesOps.toLongForm(
          emb.withColumn("cell", pmod(col("vec_id"), lit(256))),
          Seq("cell"), "embedding")
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
      val cb = graft.similarity.Similarity.pqCodebooks(
        emb.where(pmod(col("vec_id"), lit(100)) === 0),
        "vec_id", "embedding", dsub = 16, ksub = 16, iters = 2)
      graft.similarity.Similarity.ivfPqRerankTopK(emb,
        emb.where(col("vec_id") < 32),
        "vec_id", "embedding", coarse, "cell", cb, dsub = 16,
        nProbe = 16, m = 50, k = 10).count()
    }
    // Durable IVF asset lifecycle at stress scale: build on a quarter
    // of the corpus, append the other three quarters as increments
    // (each landing one more file per touched cell), query, compact,
    // query again — the ANN results are IDENTICAL before and after the
    // rewrite (asserted row-for-row on the bounded 32-query top-10 set)
    // while the file count drops to one per cell. Prices both the merge
    // path and the compaction rewrite at corpus scale.
    timed("ivf_index_compact") {
      val n = math.max(rows / 20L, 100000L)
      val emb = stressVecs(n)
      val coarse = graft.mlops.NaiveBayesOps.toLongForm(
          emb.withColumn("cell", pmod(col("vec_id"), lit(256))),
          Seq("cell"), "embedding")
        .groupBy(col("cell"), col("dim")).agg(avg(col("v")).as("c"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_posidx" +
        s"_stress_ivfcpt_${ProcessHandle.current().pid()}"
      graft.similarity.Similarity.writeIvfIndex(
        emb.where(pmod(col("vec_id"), lit(4)) === 0),
        "vec_id", "embedding", coarse, "cell", path)
      (1 to 3).foreach { q =>
        graft.similarity.Similarity.mergeIvfIndex(
          emb.where(pmod(col("vec_id"), lit(4)) === q),
          "vec_id", "embedding", path)
      }
      def topk() = graft.similarity.Similarity.queryIvfIndexed(
          spark, path, emb.where(col("vec_id") < 32),
          "vec_id", "embedding", nProbe = 16, k = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val pre = topk()
      require(pre.nonEmpty, "pre-compact ANN query returned no rows")
      val nCells = spark.read.parquet(path)
        .select(col("cell")).distinct().count()
      val (before, after) =
        graft.similarity.Similarity.compactIvfIndex(spark, path)
      require(after == nCells && before > after,
        s"compaction file counts: $before -> $after, cells $nCells")
      require(topk() == pre, "ANN results changed across compaction")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(path))
      before - after
    }
    // rows/200 distinct 8-char words: 6 BPE merge rounds, each a pair
    // count + argmax + in-row greedy fold over the VOCABULARY — this
    // stage prices the rounds at 100k words (the corpus-sized pass is
    // the word count, priced implicitly by the range explode).
    timed("bpe_merge_rounds") {
      val nWords = math.max(rows / 200L, 20000L)
      val docs = spark.range(nWords).select(
        concat_ws("", expr("transform(sequence(1, 8), " +
          "i -> chr(97 + abs(hash(id, i)) % 26))")).as("text"))
      graft.text.Bpe.learnMerges(docs, "text", merges = 6).count()
    }
    // Unigram-LM tokenizer ENCODE throughput at rows tokens (rows/200
    // docs x 200 tokens, 500-term surface vocabulary): train (2
    // Viterbi-EM rounds — vocabulary-scale, amortized) then encode,
    // whose corpus-scale cost is one explode + one distinct-word join
    // (the Bpe.applyMerges shape); the per-word DP runs once per
    // DISTINCT word, never per token instance.
    timed("unigram_encode") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 200), " +
          "i -> concat('t', abs(hash(id, i)) % 500))")).as("text"))
      val vocab = graft.text.Unigram.learn(docs, "text", maxPieceLen = 4,
        seedMultiTopK = 256, emRounds = 2, vocabSize = 300)
      val n = graft.text.Unigram.encodeStats(docs, "doc_id", "text",
        vocab, maxPieceLen = 4).count()
      require(n == nDocs, s"unigram encode ground truth: $n vs $nDocs")
      rows
    }
    // rows tokens across rows/200 docs, 500-term vocabulary, a 3-term
    // phrase planted in every 100th doc: index build (one explode +
    // checkpoint) + three posting-list joins. The regex twin this
    // replaces rescans every byte per phrase.
    timed("phrase_search_positional") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) === 0,
          concat(concat_ws(" ", expr("transform(sequence(1, 197), " +
            "i -> concat('t', abs(hash(id, i)) % 500))")),
            lit(" alpha beta gamma")))
          .otherwise(concat_ws(" ", expr("transform(sequence(1, 200), " +
            "i -> concat('t', abs(hash(id, i)) % 500))"))).as("text"))
      graft.text.TextAnalysis.phraseMatchCounts(docs, "doc_id", "text",
        Seq("alpha", "beta", "gamma")).count()
    }
    // The batch-amortization twin: EIGHT phrases against ONE index
    // build over the same corpus shape (the planted 3-term phrase, its
    // sub-phrases, and five vocabulary bigrams). Compare to 8x the
    // single-phrase stage: the corpus tokenize+prune happens once, so
    // the marginal phrase costs only its posting-list joins. Ground
    // truth: the planted phrase (id 0) still hits every 100th doc.
    // CCNet perplexity bucketing at scale with EXACT ground truth:
    // three planted quality tiers (identical text within a tier, so
    // every tier doc has the identical mean LM score; branching factor
    // 1/2/4 after the pivot word separates the tiers' scores as
    // 0 / ln(1/2)-ish / ln(1/4)-ish). Tier sizes 40/30/30 so the
    // tercile target ranks land WELL INSIDE a tier (margin ~0.07n >>
    // the sketch's n/accuracy rank error): the cut VALUE is exact by
    // construction and every tier maps to exactly one bucket —
    // C (40%, most branching = lowest likelihood) -> c_tail,
    // B (30%) -> b_middle, A (30%, deterministic bigrams) -> a_head.
    // shared three-tier corpus for the LM-family stages: identical
    // text within a tier, branching factor 4/2/1 after the pivot word
    // separates tier likelihoods; 40/30/30 sizes keep tercile ranks
    // far from tier edges
    def tierCorpus(nDocs: Long) = spark.range(nDocs)
      .select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) < 4,
          concat_ws(" ", expr(
            "transform(sequence(1, 25), i -> 's t s u s v s w')")))
          .when(pmod(col("id"), lit(10)) < 7,
            concat_ws(" ", expr(
              "transform(sequence(1, 50), i -> 'p q p r')")))
          .otherwise(concat_ws(" ", expr(
            "transform(sequence(1, 100), i -> 'u v')"))).as("text"))
    timed("ppl_buckets_sketch") {
      val nDocs = math.max(rows / 200L, 10000L) / 10L * 10L
      val docs = tierCorpus(nDocs)
      val out = graft.text.TextAnalysis
        .pplBuckets(docs, "doc_id", "text", accuracy = 10000)
      val cells = out.groupBy(
          when(pmod(col("doc_id"), lit(10)) < 4, lit("C"))
            .when(pmod(col("doc_id"), lit(10)) < 7, lit("B"))
            .otherwise(lit("A")).as("tier"),
          col("ppl_bucket"))
        .count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      require(cells.size == 3 &&
        cells.get(("C", "c_tail")).contains(nDocs * 4 / 10) &&
        cells.get(("B", "b_middle")).contains(nDocs * 3 / 10) &&
        cells.get(("A", "a_head")).contains(nDocs * 3 / 10),
        s"tier-bucket cells wrong: $cells")
      out.count()
    }
    // DSIR importance weights at scale with exact ground truth: the
    // target is a small pure tier-A corpus ("u v" docs), so tier-A
    // documents' transitions are all in-target while tiers B/C see
    // only the add-one floor from the target model — EVERY in-domain
    // doc must out-score every out-of-domain doc on the per-bigram
    // mean log-ratio.
    timed("dsir_weights_tiered") {
      val nDocs = math.max(rows / 200L, 10000L) / 10L * 10L
      val docs = tierCorpus(nDocs)
      val target = spark.range(200L).select(col("id").as("doc_id"),
        concat_ws(" ", expr(
          "transform(sequence(1, 100), i -> 'u v')")).as("text"))
      val w = graft.text.TextAnalysis
        .importanceWeights(docs, target, "doc_id", "text")
      val stats = w.groupBy(
          (pmod(col("doc_id"), lit(10)) >= 7).as("in_domain"))
        .agg(min(col("sum_mnat") * lit(1.0) / col("n_bigrams")).as("lo"),
          max(col("sum_mnat") * lit(1.0) / col("n_bigrams")).as("hi"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getBoolean(0) ->
          (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
      require(stats(true)._3 == nDocs * 3 / 10 &&
        stats(false)._3 == nDocs * 7 / 10 &&
        stats(true)._1 > stats(false)._2,
        s"in-domain weights must dominate: $stats")
      w.count()
    }
    timed("phrase_search_batch8") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) === 0,
          concat(concat_ws(" ", expr("transform(sequence(1, 197), " +
            "i -> concat('t', abs(hash(id, i)) % 500))")),
            lit(" alpha beta gamma")))
          .otherwise(concat_ws(" ", expr("transform(sequence(1, 200), " +
            "i -> concat('t', abs(hash(id, i)) % 500))"))).as("text"))
      val phrases = Seq(
        Seq("alpha", "beta", "gamma"), Seq("alpha", "beta"),
        Seq("beta", "gamma"),
        Seq("t1", "t2"), Seq("t3", "t4"), Seq("t5", "t6"),
        Seq("t7", "t8"), Seq("t9", "t10"))
      val out = graft.text.TextAnalysis
        .phraseMatchCountsMany(docs, "doc_id", "text", phrases)
      val planted = out.where(col("phrase_id") === 0).count()
      require(planted == (nDocs + 99) / 100,
        s"planted phrase hit $planted docs, expected ${(nDocs + 99) / 100}")
      out.count()
    }
    // Daily-increment index maintenance at stress scale: build the
    // durable asset on the doc_id%7!=0 slice (~86%), append the
    // doc_id%7==0 slice with mergePositionalIndex (modulus from the
    // asset's metadata), then phrase-query the merged asset. The
    // increment modulus (7) is COPRIME to the planting modulus (100),
    // so planted docs land in BOTH halves (base: id%100==0 ∧ id%7!=0;
    // increment: id%700==0) — and the per-half assertions below pin
    // that the merge PRESERVED the base's postings and ADDED the
    // increment's: an append that overwrote the base, or a
    // wrong-modulus append that missed partitions, fails its half's
    // exact count, not just the total.
    timed("phrase_index_merge") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) === 0,
          concat(concat_ws(" ", expr("transform(sequence(1, 197), " +
            "i -> concat('t', abs(hash(id, i)) % 500))")),
            lit(" alpha beta gamma")))
          .otherwise(concat_ws(" ", expr("transform(sequence(1, 200), " +
            "i -> concat('t', abs(hash(id, i)) % 500))"))).as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_posidx" +
        s"_stress_${ProcessHandle.current().pid()}"
      graft.text.TextAnalysis.writePositionalIndex(
        docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
        "doc_id", "text", path)
      graft.text.TextAnalysis.mergePositionalIndex(
        docs.where(pmod(col("doc_id"), lit(7)) === 0),
        "doc_id", "text", path)
      val hitDocs = graft.text.TextAnalysis.phraseMatchCountsIndexed(
          spark, path, "doc_id", Seq("alpha", "beta", "gamma"))
        .select(col("doc_id")).collect().map(_.getLong(0))
      // exact ground truth per half: planted ids are 0,100,...; the
      // increment's are those also divisible by 7 (i.e. by 700)
      val expTotal = (nDocs + 99) / 100
      val expInc = (nDocs + 699) / 700
      val gotInc = hitDocs.count(_ % 7 == 0)
      val gotBase = hitDocs.length - gotInc
      require(gotBase == expTotal - expInc && gotInc == expInc,
        s"merged-index phrase hits base=$gotBase inc=$gotInc, expected " +
          s"base=${expTotal - expInc} inc=$expInc of $expTotal")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(path))
      hitDocs.length.toLong
    }
    // Compaction after a simulated 10-day append cycle: build on slice
    // 0 (doc_id%11==0), append slices 1..10 — each append lands one
    // more parquet file in every touched term_bucket, the small-file
    // accumulation that kills scan planning at 100 TB — then rewrite to
    // one file per bucket. Ground truth exact on BOTH axes: the planted
    // phrase count is identical before and after the rewrite (compact ≡
    // no-op at row level), and the data-file count drops to exactly the
    // bucket count (the whole point of the op, measured, not assumed).
    timed("phrase_index_compact") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) === 0,
          concat(concat_ws(" ", expr("transform(sequence(1, 197), " +
            "i -> concat('t', abs(hash(id, i)) % 500))")),
            lit(" alpha beta gamma")))
          .otherwise(concat_ws(" ", expr("transform(sequence(1, 200), " +
            "i -> concat('t', abs(hash(id, i)) % 500))"))).as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_posidx" +
        s"_stress_cpt_${ProcessHandle.current().pid()}"
      graft.text.TextAnalysis.writePositionalIndex(
        docs.where(pmod(col("doc_id"), lit(11)) === 0),
        "doc_id", "text", path)
      (1 to 10).foreach { day =>
        graft.text.TextAnalysis.mergePositionalIndex(
          docs.where(pmod(col("doc_id"), lit(11)) === day),
          "doc_id", "text", path)
      }
      def hits() = graft.text.TextAnalysis.phraseMatchCountsIndexed(
        spark, path, "doc_id", Seq("alpha", "beta", "gamma")).count()
      val expTotal = (nDocs + 99) / 100
      require(hits() == expTotal,
        s"pre-compact phrase hits ${hits()}, expected $expTotal")
      val nBuckets = spark.read.parquet(path)
        .select(col("term_bucket")).distinct().count()
      val (before, after) =
        graft.text.TextAnalysis.compactPositionalIndex(spark, path)
      require(after == nBuckets && before > after,
        s"compaction file counts: $before -> $after, buckets $nBuckets")
      require(hits() == expTotal,
        s"post-compact phrase hits ${hits()}, expected $expTotal")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(path))
      before - after
    }
    // Durable band-index lifecycle at stress scale: plant an EXACT
    // duplicate (doc id, text of doc id−1) at every id%50==0 — exact
    // dups share ALL 4 bands deterministically, so ground truth is
    // exact even though banding is probabilistic for near-dups. Build
    // the asset on one even quarter, append the other (sidecar knobs,
    // merge ≡ rebuild), then query the whole ODD half against it: every
    // planted odd doc must pair with its even twin at n_shared_bands=4.
    timed("band_index_lifecycle") {
      val nDocs = math.max(rows / 200L, 20000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 50), i -> concat('t', " +
          "abs(hash(CASE WHEN id % 50 = 0 AND id > 0 THEN id - 1 " +
          "ELSE id END, i)) % 1000))")).as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_posidx" +
        s"_stress_band_${ProcessHandle.current().pid()}"
      graft.dedup.Dedup.writeBandIndex(
        docs.where(pmod(col("doc_id"), lit(4)) === 0),
        "doc_id", "text", path)
      graft.dedup.Dedup.mergeBandIndexAsset(
        docs.where(pmod(col("doc_id"), lit(4)) === 2),
        "doc_id", "text", path)
      val pairs = graft.dedup.Dedup.queryBandIndex(spark, path,
        docs.where(pmod(col("doc_id"), lit(2)) === 1), "doc_id", "text")
      val planted = pairs.where(col("new_id") === col("index_id") - 1 &&
        pmod(col("index_id"), lit(50)) === 0 &&
        col("n_shared_bands") === 4).count()
      val expected = (nDocs - 1) / 50
      require(planted == expected,
        s"planted exact-dup pairs $planted, expected $expected")
      val total = pairs.count()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(path))
      total
    }
    // rows/20 docs x 20 lines: 2 lines shared by EVERY doc (the hot-key
    // stressor — one line hash carrying nDocs occurrences through the
    // keeper join), 3 lines shared per doc_id%1000 group, 15 unique.
    // Ground truth is exact, so both stages double as at-scale
    // correctness checks: boilerplate removes exactly 5 lines/doc;
    // keep-first keeps 15*nDocs uniques + 2 hot + 3*1000 group lines.
    def lineCorpus(nDocs: Long) = spark.range(nDocs).select(
      col("id").as("doc_id"),
      concat_ws("\n",
        lit("Home | About | Contact"),
        lit("This site uses cookies"),
        concat(lit("group line a "), pmod(col("id"), lit(1000))),
        concat(lit("group line b "), pmod(col("id"), lit(1000))),
        concat(lit("group line c "), pmod(col("id"), lit(1000))),
        expr("concat_ws('\n', transform(sequence(1, 15), " +
          "i -> concat('unique ', id, ' ', i)))")).as("text"))
    timed("line_dedup_boilerplate") {
      val nDocs = math.max(rows / 20L, 200000L)
      val s = graft.text.LineDedup.dropFrequentLines(
          lineCorpus(nDocs), "doc_id", "text", minDocs = 100)
        .agg(sum("n_removed"), sum("n_lines")).head()
      require(s.getLong(0) == 5L * nDocs && s.getLong(1) == 20L * nDocs,
        s"boilerplate ground truth: $s vs nDocs=$nDocs")
      20L * nDocs
    }
    timed("line_dedup_keepfirst") {
      val nDocs = math.max(rows / 20L, 200000L)
      val s = graft.text.LineDedup.keepFirstLines(
          lineCorpus(nDocs), "doc_id", "text")
        .agg(sum("n_kept")).head()
      require(s.getLong(0) == 15L * nDocs + 2L + 3L * 1000L,
        s"keepfirst ground truth: ${s.getLong(0)} vs nDocs=$nDocs")
      20L * nDocs
    }
    // rows/40 docs encoded as real multi-page PDFs (xref, Flate on
    // even ids, TJ stratum) and extracted back: mux + object scan +
    // page walk + inflate + show-string parse. Ground truth is exact:
    // 200 tokens -> ceil(200/40) = 5 pages per doc, page text byte
    // count equals the token arithmetic.
    timed("pdf_text_pipeline") {
      val nDocs = math.max(rows / 40L, 100000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 200), " +
          "i -> concat('tok', abs(hash(id, i)) % 50000))")).as("text"))
      val pages = graft.multimodal.Multimodal.pdfPageTexts(
        graft.multimodal.Multimodal.encodePdfCorpus(docs))
      val s = pages.toDF().agg(sum(lit(1)), sum(length(col("text")))).head()
      require(s.getLong(0) == 5L * nDocs, s"pdf pages: $s vs nDocs=$nDocs")
      5L * nDocs
    }
    // rows/40 docs through the WARC transport: group into 10-record
    // archives (half gzip-member, half plain), extract every record
    // back map-side. Ground truth exact: record count and body byte
    // sum must survive the round trip.
    timed("warc_transport_pipeline") {
      val nDocs = math.max(rows / 40L, 100000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 100), " +
          "i -> concat('w', abs(hash(id, i)) % 50000))")).as("text"))
      val recs = graft.multimodal.Multimodal.warcRecords(
        graft.multimodal.Multimodal.encodeWarcCorpus(docs))
      val expected = docs.agg(sum(length(col("text")))).head().getLong(0)
      val s = recs.toDF().agg(count(lit(1)), sum(col("n_bytes"))).head()
      require(s.getLong(0) == nDocs && s.getLong(1) == expected,
        s"warc ground truth: $s vs ($nDocs, $expected)")
      nDocs
    }
    // rows/40 synthetic pages through the full jusText pipeline
    // (strip-invisible, block split, per-block density, reassembly):
    // regex-throughput stage, every page keeps exactly its one prose
    // block and drops the nav + footer chrome.
    timed("html_main_content_extract") {
      val nPages = math.max(rows / 40L, 200000L)
      val pages = spark.range(nPages).select(col("id").as("doc_id"),
        concat(
          lit("<html><head><style>x{color:#333}</style>" +
            "<script>var a = \"</div>\";</script></head><body>" +
            "<div><a href='/'>Home</a> <a href='/a'>About</a> " +
            "<a href='/c'>Contact us</a></div><p>"),
          expr("concat_ws(' ', transform(sequence(1, 30), " +
            "i -> concat('w', abs(hash(id, i)) % 1000)))"),
          lit("</p><div class='f'>&copy; 2024 <a href='/t'>Terms</a> " +
            "<a href='/p'>Privacy</a></div></body></html>")).as("page"))
      val s = graft.text.Html.mainContent(pages, "doc_id", "page")
        .agg(sum("n_kept"), sum("n_blocks")).head()
      require(s.getLong(0) == nPages && s.getLong(1) == 3L * nPages,
        s"main-content ground truth: $s vs nPages=$nPages")
      nPages
    }
    // rows/100 docs, 4 classes, 21 tokens each: every doc carries its
    // class marker + 20 tokens from a 12-token background pool. The
    // declarative grid (cap 4 vs 16 × α 0.5 vs 1.0, md5 2-fold CV) has
    // EXACT ground truth: cap-4 vocabulary = the 4 most frequent
    // background tokens (~333k occurrences each vs 50k per marker), so
    // markers fall out and accuracy ≈ chance; cap-16 admits the whole
    // 16-term vocabulary, the held-out marker separates every doc, and
    // accuracy is exactly 1.0 — chosen must be (16, 0.5) by the
    // (accuracy DESC, cap ASC, alpha ASC) rule (both alphas tie at 1.0).
    timed("nb_grid_cv") {
      val nDocs = math.max(rows / 100L, 100000L)
      val docs = spark.range(nDocs).select(
        col("id"),
        concat(lit("cls"), pmod(col("id"), lit(4))).as("lang_label"),
        concat(concat(lit("marker"), pmod(col("id"), lit(4))), lit(" "),
          expr("concat_ws(' ', transform(sequence(1, 20), " +
            "i -> concat('bg', abs(hash(id, i)) % 12)))")).as("text"))
      val grid = graft.mlops.Composition.cvNbPipelineGrid(docs, "id",
          "text", "lang_label", caps = Seq(4, 16), alphas = Seq(0.5, 1.0),
          k = 2)
        .collect()
      val chosen = grid.filter(_.getAs[Int]("chosen") == 1)
      require(chosen.length == 1 &&
        chosen(0).getAs[Int]("vocab_cap") == 16 &&
        chosen(0).getAs[Double]("alpha") == 0.5 &&
        chosen(0).getAs[Double]("cv_accuracy") == 1.0,
        s"grid ground truth: ${grid.mkString(";")}")
      nDocs
    }
    // rows/40 pages through the FULL scored funnel (URL gate → jusText
    // extraction → quality gate → exact dedup → in-corpus logistic
    // gate). Disjoint id%100 populations give exact set arithmetic:
    // cls 0-9 malformed URL (good page), cls 10-19 chrome-only page,
    // cls 20-24 exact-dup clusters keyed by id%1000 (50 clusters of
    // nPages/1000 docs), the rest unique prose. Expected funnel:
    // input n, url_ok 0.9n, quality_ok 0.8n, survivors 0.75n + 50
    // keepers — and the learned gate must agree with the rule gates
    // (failed pages have all-zero features ⇒ margin 0, survivors have
    // the shared good-page feature vector ⇒ positive margin), so
    // e_scored == d_survivor EXACTLY at any scale.
    timed("curation_scored_gate") {
      val nPages = math.max(rows / 40L, 200000L) / 1000L * 1000L
      val pages = spark.range(nPages).select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) < 10, lit("not a url"))
          .otherwise(concat(lit("https://site"), pmod(col("id"), lit(1000)),
            lit(".com/p"), col("id"))).as("url"),
        concat(
          lit("<html><body><div><a href='/'>Home</a> " +
            "<a href='/a'>About</a> <a href='/c'>Contact</a></div>"),
          when(pmod(col("id"), lit(100)).between(10, 19), lit(""))
            .otherwise(concat(lit("<p>the "),
              when(pmod(col("id"), lit(100)).between(20, 24),
                expr("concat_ws(' ', transform(sequence(1, 14), " +
                  "i -> concat('d', id % 1000, 'x', i)))"))
                .otherwise(expr("concat_ws(' ', transform(sequence(1, 14), " +
                  "i -> concat('u', id, 'x', i)))")),
              lit(" of</p>"))),
          lit("</body></html>")).as("page"))
      val f = graft.text.Curation.funnel(
          graft.text.Curation.scoredDisposition(pages, "doc_id", "url",
            "page"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(f("a_input") == nPages &&
        f("b_url_ok") == nPages * 90L / 100L &&
        f("c_quality_ok") == nPages * 80L / 100L &&
        f("d_survivor") == nPages * 75L / 100L + 50L &&
        f("e_scored") == f("d_survivor"),
        s"scored funnel ground truth: $f vs nPages=$nPages")
      nPages
    }
    // rows/10 docs, 10 tokens each, SKEWED components (c0 carries 70%
    // — exactly the giant partition the bucketed two-phase threshold
    // exists to never globally sort). Budgets = 40% of each
    // component's token mass; with uniform 10-token docs the kept
    // count per component is exactly floor(budget/10), so the total is
    // exact ground truth computed from the 4-row budget table.
    timed("mixture_budget") {
      val nDocs = math.max(rows / 10L, 1000000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) < 7, lit("c0"))
          .otherwise(concat(lit("c"), pmod(col("id"), lit(3)) + 1))
          .as("comp"),
        lit(10L).as("tokens"))
      val budgets = docs.groupBy(col("comp"))
        .agg((sum(col("tokens")) * 2L / 5L).cast("long").as("budget"))
      val expected = budgets.collect()
        .map(_.getAs[Long]("budget") / 10L).sum
      val n = graft.operators.Mixture
        .mixToBudget(docs, "doc_id", "comp", "tokens", budgets)
        .count()
      require(n == expected, s"mixture ground truth: $n vs $expected")
      nDocs
    }
    // Per-fold vocabulary top-cap at >= 10M DISTINCT terms (the r16
    // verdict's done-criterion for the cv-grid two-phase fix): no fold
    // task ever sorts the whole vocabulary — phase 1 is salted, phase 2
    // sees <= salts*maxCap rows. Ground truth exact by construction:
    // unique per-fold counts (= id), so the top-500 per fold is the 500
    // largest ids of that parity.
    timed("vocab_topcap_fold") {
      val nTerms = math.max(rows / 2L, 12000000L)
      val tc = spark.range(nTerms).select(
        concat(lit("t"), col("id")).as("term"),
        pmod(col("id"), lit(2)).cast("int").as("fold"),
        col("id").as("_train"))
      val got = graft.mlops.Composition.topTermsPerFold(tc, maxCap = 500)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"), min(col("_train")).as("mn"),
          max(col("_rk")).as("mr"))
        .collect()
      require(got.length == 2, s"folds: ${got.length}")
      got.foreach { r =>
        val p = r.getAs[Int]("fold").toLong
        val top = if ((nTerms - 1) % 2 == p) nTerms - 1 else nTerms - 2
        require(r.getAs[Long]("n") == 500L &&
          r.getAs[Long]("mn") == top - 998L &&
          r.getAs[Int]("mr") == 500,
          s"topcap ground truth fold=$p: $r (expect mn=${top - 998})")
      }
      nTerms
    }
    // Globally-exact sequence packing at `rows` tokens: ground truth by
    // conservation — chunk count is exactly ceil(total/seqLen), token
    // slices sum to the corpus total, every chunk but at most one is
    // exactly full. No single-task window anywhere (two-phase prefix).
    timed("pack_sequences") {
      val nDocs = math.max(rows / 50L, 100000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        (pmod(col("id") * 7L + 3L, lit(99)) + 1L).as("tokens"))
      val total = docs.agg(sum("tokens")).head().getLong(0)
      val rep = graft.operators.Packing.chunkReport(
        graft.operators.Packing.packSequences(docs, "doc_id", "tokens",
          seqLen = 2048L))
      val a = rep.agg(count(lit(1)).as("c"),
        sum(col("n_tokens")).as("t"),
        sum(when(col("n_tokens") === 2048L, 1L).otherwise(0L)).as("full"))
        .head()
      val nChunks = (total + 2047L) / 2048L
      require(a.getLong(0) == nChunks && a.getLong(1) == total &&
        a.getLong(2) >= nChunks - 1,
        s"packing ground truth: $a vs total=$total chunks=$nChunks")
      total
    }
    // Approx-quantile binning at `rows` rows: ONE mergeable sketch pass
    // + broadcast cut points, no global sort (the 100 TB twin of the
    // ntile discretizer). Ground truth: a uniform value column must
    // land each of the 8 bins within the sketch's rank-error bound
    // (eps = 1/accuracy -> per-bin deviation <= 2*eps*n plus the value
    // granularity), and bin counts must conserve n.
    timed("kbins_approx_sketch") {
      val n = rows
      val d = spark.range(n).select(
        pmod(col("id") * 2654435761L, lit(100000L)).cast("double").as("v"))
      val per = graft.stats.Moments
        .kBinsApprox(d, "v", bins = 8, "bin", accuracy = 10000)
        .groupBy(col("bin")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getAs[Int]("bin") -> r.getAs[Long]("c"))
        .toMap
      require(per.keySet == (1 to 8).toSet, s"bins: ${per.keySet}")
      require(per.values.sum == n, s"conservation: ${per.values.sum}")
      val ideal = n / 8.0
      per.foreach { case (b, c) =>
        require(math.abs(c - ideal) <= ideal * 0.02 + n / 100000.0 * 2,
          s"bin $b count $c vs ideal $ideal beyond sketch error")
      }
      n
    }
    // Exact AUC over `rows` rows with ~1000 distinct quantized scores
    // (heavy ties — the average-rank path is the whole computation).
    // Ground truth by construction: labels independent of scores give
    // EXACTLY 0.5 under average ranks (each tie group is half/half when
    // rows % 2000 == 0); a perfectly separating threshold gives 1.0.
    timed("eval_auc_exact") {
      val n = (rows / 2000L) * 2000L
      val d = spark.range(n).select(
        (pmod(col("id"), lit(1000)) / lit(100.0)).as("s"),
        // label from a DIFFERENT id bit-range than the score: each
        // score group is exactly half/half (n/1000 is even), so the
        // tie-averaged rank sum gives 0.5 exactly
        pmod(col("id") / 1000L, lit(2)).cast("int").as("y"),
        (pmod(col("id"), lit(1000)) >= 500).cast("int").as("ysep"))
      val a = graft.mlops.Eval.aucExact(d, "s", "y", quantize = 6)
        .head().getAs[Double]("auc")
      require(a == 0.5, s"independent-label AUC ground truth: $a")
      val b = graft.mlops.Eval.aucExact(d, "s", "ysep", quantize = 6)
        .head().getAs[Double]("auc")
      require(b == 1.0, s"separating AUC ground truth: $b")
      n
    }
    // One-pass numeric profile at `rows` rows with distinct counts
    // exact by construction (id % k has exactly k values).
    timed("profile_numeric") {
      val d = spark.range(rows).select(
        pmod(col("id"), lit(97)).as("a"),
        pmod(col("id"), lit(100003)).as("b"),
        when(pmod(col("id"), lit(10)) === 0, lit(null).cast("long"))
          .otherwise(col("id")).as("c"))
      val p = graft.stats.Profile.profileNumeric(d, Seq("a", "b", "c"))
        .orderBy("column").collect()
      require(p(0).getAs[Long]("n_distinct") == 97L &&
        p(1).getAs[Long]("n_distinct") == math.min(rows, 100003L) &&
        p(2).getAs[Long]("n_null") == (rows + 9) / 10,
        s"profile ground truth: ${p.mkString(";")}")
      rows
    }
    // Token drift at rows tokens across two synthesized snapshots.
    // Ground truth: identical snapshots -> PSI/KL/JS exactly 0 (the
    // smoothed p and q are equal term-for-term regardless of scale).
    timed("drift_token_psi") {
      val nDocs = math.max(rows / 200L, 10000L)
      val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat_ws(" ", expr("transform(sequence(1, 200), " +
          "i -> concat('t', abs(hash(id, i)) % 50000))")).as("text"))
      val d = graft.stats.Profile.tokenDrift(docs, docs, "text").head()
      require(d.getAs[Double]("psi") == 0.0 &&
        d.getAs[Double]("js") == 0.0,
        s"identical-snapshot drift ground truth: $d")
      nDocs * 200L
    }
    spark.stop()
  }
}
