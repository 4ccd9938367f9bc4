package graft.similarity

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Approximate-nearest-neighbor search over embedding columns (north-star
  * extension).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k via pruned cross join +
  *    windowed rank — the correctness baseline. Quadratic; only for
  *    verification scale or when the query set is small (queries ×
  *    corpus is fine when |queries| is bounded — that IS the common
  *    production shape).
  *  - [[signBuckets]] / [[lshTopK]]: deterministic sign-LSH (axis-aligned
  *    random-projection hyperplanes): bucket on the sign pattern of the
  *    leading dims, search within bucket. Linear build, per-bucket
  *    quadratic bounded by bucket size; multi-probe = widen `nBits`
  *    choice. Deterministic ⇒ SQL-oracle-able, unlike
  *    BucketedRandomProjectionLSH's random hyperplanes.
  */
object Similarity {

  /** Exact top-k neighbors by cosine for each query row. Ties broken by
    * neighbor id; ranking happens on full-precision cosines.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     arrCol: String, k: Int): DataFrame = {
    graft.plans.GraftExpressions.register(corpus.sparkSession)
    val q = queries.select(col(idCol).as("query_id"), col(arrCol).as("_q"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(arrCol).as("_c"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    q.crossJoin(c)
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("_cos", graft.plans.GraftExpressions.cosine(col("_q"), col("_c")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into cells by nearest
    * centroid; a query probes only its `nProbe` closest cells and ranks
    * candidates by exact cosine. Build is one assignment pass (linear);
    * search cost is the probed cells' population. With deterministic
    * centroids the whole index is SQL-oracle-able — the judge-checkable
    * counterpart of a trained FAISS-style IVF.
    *
    * `centersLong` is (centerCol, dim, c) long form — e.g. per-label means
    * or `ml.clustering.KMeans` centroids exploded to long form.
    */
  def ivfTopK(emb: DataFrame, queries: DataFrame, idCol: String,
              arrCol: String, centersLong: DataFrame, centerCol: String,
              nProbe: Int, k: Int): DataFrame = {
    import graft.mlops.{ClusterOps, NaiveBayesOps}
    graft.plans.GraftExpressions.register(emb.sparkSession)
    // build: corpus cell assignment (argmin over centroids)
    val cells = ClusterOps.assignToCenters(
      NaiveBayesOps.toLongForm(emb, Seq(idCol), arrCol),
      centersLong, idCol, centerCol)
      .select(col(idCol).as("neighbor_id"), col(centerCol))
    // search: nProbe nearest cells per query
    val qLong = NaiveBayesOps.toLongForm(queries, Seq(idCol), arrCol)
    val qDists = qLong.join(broadcast(centersLong), "dim")
      .groupBy(col(idCol), col(centerCol))
      .agg(sum(pow(col("v") - col("c"), 2)).as("qdist"))
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("qdist").asc, col(centerCol))
    val probes = qDists
      .withColumn("_pr", row_number().over(wProbe))
      .where(col("_pr") <= nProbe)
      .select(col(idCol).as("query_id"), col(centerCol))
    // candidates: vectors in probed cells; exact cosine re-rank
    val cand = probes.join(cells, centerCol)
      .where(col("query_id") =!= col("neighbor_id"))
    val qU = queries.select(col(idCol).as("query_id"), col(arrCol).as("_q"))
    val cU = emb.select(col(idCol).as("neighbor_id"), col(arrCol).as("_c"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    cand
      .join(qU, "query_id")
      .join(cU, "neighbor_id")
      .withColumn("_cos", graft.plans.GraftExpressions.cosine(col("_q"), col("_c")))
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** [[ivfTopK]] with an exhaustive-fallback guarantee (the production
    * hybrid: FAISS's nprobe-escalation made one-shot): queries whose
    * probed cells hold fewer than `minCand` candidates re-run against
    * the WHOLE corpus instead of returning an under-filled (or
    * low-recall) top-k. The gate is per query — well-covered queries
    * pay only their probed cells; only the sparse tail pays the
    * brute-force scan, so the expected cost stays IVF-shaped while
    * the recall floor becomes exact. `fell_back` marks which branch
    * served each row (the observability column the threshold is tuned
    * by). Both branches and the gate are deterministic arithmetic —
    * fully SQL-oracle-able.
    */
  def ivfTopKAdaptive(emb: DataFrame, queries: DataFrame, idCol: String,
                      arrCol: String, centersLong: DataFrame,
                      centerCol: String, nProbe: Int, k: Int,
                      minCand: Int): DataFrame = {
    import graft.mlops.{ClusterOps, NaiveBayesOps}
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val cells = ClusterOps.assignToCenters(
      NaiveBayesOps.toLongForm(emb, Seq(idCol), arrCol),
      centersLong, idCol, centerCol)
      .select(col(idCol).as("neighbor_id"), col(centerCol))
    val qLong = NaiveBayesOps.toLongForm(queries, Seq(idCol), arrCol)
    val qDists = qLong.join(broadcast(centersLong), "dim")
      .groupBy(col(idCol), col(centerCol))
      .agg(sum(pow(col("v") - col("c"), 2)).as("qdist"))
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("qdist").asc, col(centerCol))
    val probes = qDists
      .withColumn("_pr", row_number().over(wProbe))
      .where(col("_pr") <= nProbe)
      .select(col(idCol).as("query_id"), col(centerCol))
    val cand = graft.core.Caches.track(probes.join(cells, centerCol)
      .where(col("query_id") =!= col("neighbor_id"))
      // feeds the gate AND the gated branch; workload-sized (queries ×
      // probed candidates), so DISK_ONLY persist per the r9 durability
      // criterion — lineage stays, a lost block recomputes from the scan.
      // Session-tracked: the result is lazy, release at job boundaries.
      .persist(StorageLevel.DISK_ONLY))
    // the gate: queries under minCand probed candidates fall back
    val under = queries.select(col(idCol).as("query_id"))
      .join(cand.groupBy(col("query_id")).agg(count(lit(1)).as("_nc")),
        Seq("query_id"), "left")
      .where(coalesce(col("_nc"), lit(0L)) < minCand)
      .select(col("query_id"))
      // tiny: one row per falling-back query — localCheckpoint is safe
      // here by the r9 criterion (metadata-scale, trivially re-run)
      .localCheckpoint()
    val qU = queries.select(col(idCol).as("query_id"), col(arrCol).as("_q"))
    val cU = emb.select(col(idCol).as("neighbor_id"), col(arrCol).as("_c"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    def rank(pairs: DataFrame, fellBack: Boolean): DataFrame = pairs
      .join(qU, "query_id")
      .join(cU, "neighbor_id")
      .withColumn("_cos",
        graft.plans.GraftExpressions.cosine(col("_q"), col("_c")))
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"), lit(fellBack).as("fell_back"))
    val gated = rank(
      cand.join(under, Seq("query_id"), "left_anti")
        .select(col("query_id"), col("neighbor_id")), fellBack = false)
    val exhaustive = rank(
      under.crossJoin(cU.select(col("neighbor_id")))
        .where(col("query_id") =!= col("neighbor_id")), fellBack = true)
    gated.unionByName(exhaustive)
  }

  /** spark.ml BucketedRandomProjectionLSH wrapper — the library's
    * general-purpose (seeded random hyperplane) LSH for euclidean ANN;
    * `approxSimilarityJoin` / `approxNearestNeighbors` come with it. The
    * sign-LSH below remains the oracle-checkable deterministic variant.
    */
  def fitMlLsh(emb: DataFrame, idCol: String, arrCol: String,
               bucketLength: Double = 1.0, numTables: Int = 3,
               seed: Long = 42L): (DataFrame, org.apache.spark.ml.feature.BucketedRandomProjectionLSHModel) = {
    val prepared = emb.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col(arrCol).cast("array<double>")))
    val model = new org.apache.spark.ml.feature.BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setBucketLength(bucketLength).setNumHashTables(numTables).setSeed(seed)
      .fit(prepared)
    (model.transform(prepared), model)
  }

  /** Sign-LSH bucket id from the first `nBits` dimensions: bit j set iff
    * dim j+1 > 0. Exact float comparison — deterministic across engines.
    */
  def signBucket(arrCol: Column, nBits: Int = 8): Column =
    (0 until nBits).map { j =>
      when(element_at(arrCol, j + 1) > 0f, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  def signBuckets(emb: DataFrame, idCol: String, arrCol: String,
                  nBits: Int = 8): DataFrame =
    emb.select(col(idCol), signBucket(col(arrCol), nBits).as("bucket"),
      col(arrCol).as("_v"))

  /** ANN top-k restricted to the query's bucket. Recall < 1 by design;
    * the bucket join replaces the full cross join — the scale path.
    */
  def lshTopK(emb: DataFrame, queries: DataFrame, idCol: String,
              arrCol: String, k: Int, nBits: Int = 8): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val c = signBuckets(emb, idCol, arrCol, nBits)
      .select(col(idCol).as("neighbor_id"), col("bucket"), col("_v").as("_c"))
    val q = signBuckets(queries, idCol, arrCol, nBits)
      .select(col(idCol).as("query_id"), col("bucket"), col("_v").as("_q"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    q.join(c, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("_cos", graft.plans.GraftExpressions.cosine(col("_q"), col("_c")))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** Symmetric per-vector int8 quantization: scale = max|v| / 127,
    * q_i = round(v_i / scale) ∈ [−127, 127] — the 4× memory cut that
    * makes a 100 TB ANN index RAM-resident (FAISS SQ8 shape). Pure
    * per-row array arithmetic: map-side, stateless, codegen'd — no
    * shuffle, no model to fit. Zero vectors quantize to NULL (no scale),
    * never a division error. Emits the quantized array, its scale, and
    * the L2 dequantization error so callers can bound recall impact.
    */
  /** Product-quantization codebooks: split the d dims into contiguous
    * dsub-wide subspaces and train ONE multi-subspace Lloyd fit. Dims
    * are globally numbered and disjoint across subspaces, so joining
    * points to centers on `dim` confines every distance term to its own
    * subspace — all m = d/dsub codebooks train in the same broadcast
    * join + aggregate pass per round, not m sequential jobs.
    * Deterministic seeding mirrors [[graft.mlops.ClusterOps.lloydIterations]]:
    * the ksub lowest ids by rank seed code 0..ksub-1 in every subspace.
    * Returns (sub, cid, dim, c) long form — m·ksub·dsub rows, eagerly
    * checkpointed (consumers join it twice; the Lloyd chain must not
    * re-execute per consumer) and broadcastable.
    */
  def pqCodebooks(emb: DataFrame, idCol: String, arrCol: String,
                  dsub: Int, ksub: Int, iters: Int): DataFrame = {
    require(dsub >= 1 && ksub >= 1 && iters >= 1,
      s"dsub=$dsub ksub=$ksub iters=$iters must all be positive")
    // Each Lloyd round reads the long form twice (assign + recompute);
    // pin it once instead of re-exploding the input 2·iters times. At
    // 100 TB train on a bounded deterministic sample (pass
    // Sampling.deterministicSample's output as `emb`) — codebook
    // quality needs thousands of vectors per code, not the corpus —
    // so the pinned frame stays executor-memory-sized. localCheckpoint
    // is acceptable by the r9 criterion BECAUSE of that sample-size
    // contract (a lost executor re-runs a sample-scale training job,
    // not a corpus pass).
    val pts = pqLongForm(emb, idCol, arrCol, dsub).localCheckpoint()
    val seedIds = pts.select(col(idCol)).distinct()
      .orderBy(col(idCol)).limit(ksub)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col(idCol))) - 1).cast("int"))
    var centers = pts.join(broadcast(seedIds), idCol)
      .select(col("sub"), col("cid"), col("dim"), col("v").as("c"))
    for (_ <- 1 to iters) {
      val assign = pqAssign(pts, centers, idCol)
      centers = pts.join(assign, Seq(idCol, "sub"))
        .groupBy(col("sub"), col("cid"), col("dim"))
        .agg(avg(col("v")).as("c"))
    }
    centers.localCheckpoint()
  }

  /** PQ codes: each vector compressed to its nearest codebook entry per
    * subspace — d floats become m small ints, the 32×-and-beyond memory
    * cut that keeps a 100 TB ANN index RAM-resident (the FAISS IVFPQ
    * storage shape; [[quantizeInt8]] is the 4× cousin).
    *
    * Runs IN-ROW: the codebooks pack into one broadcast row and each
    * vector argmins per subspace with the native graft_nearest_cell
    * expression over its dsub-slice — a map-side scan at any corpus
    * size. The long-form join alternative (still used INSIDE Lloyd
    * training, where inputs are sample-sized and the assignment must
    * re-join the points anyway) emits |corpus|·ksub rows through a
    * corpus×m-keyed aggregate — the same shuffle-amplification that
    * OOMed the coarse quantizer at stress scale. Output (id, sub, cid).
    */
  def pqEncode(emb: DataFrame, idCol: String, arrCol: String,
               centers: DataFrame, dsub: Int): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    // An empty codebook would silently encode the whole corpus to ZERO
    // rows (collect_list → empty _subs → explode drops every vector) —
    // a mis-wired input must fail here, not masquerade as an empty
    // corpus downstream. centers is codebook-sized (m·ksub·dsub rows,
    // usually localCheckpointed), so the probe is a metadata-cost job.
    require(!centers.isEmpty,
      "pqEncode: empty PQ codebook (centers has no rows)")
    val packed = centers
      .groupBy(col("sub"), col("cid"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
        .as("cv"))
      .groupBy(col("sub"))
      .agg(expr(
        "sort_array(collect_list(struct(CAST(cid AS BIGINT) AS cell, cv)))")
        .as("cells"))
      .agg(expr("sort_array(collect_list(struct(sub, cells)))").as("_subs"))
    emb.crossJoin(broadcast(packed))
      .select(col(idCol), explode(expr(
        s"""transform(_subs, sc -> struct(sc.sub AS sub,
           |  graft_nearest_cell(
           |    CAST(slice($arrCol, sc.sub * $dsub + 1, $dsub)
           |      AS ARRAY<DOUBLE>),
           |    sc.cells) AS cid))""".stripMargin)).as("_sc"))
      .select(col(idCol), col("_sc.sub").as("sub"), col("_sc.cid").as("cid"))
  }

  /** Asymmetric-distance (ADC) top-k: the query stays full-precision —
    * its per-(subspace, code) squared distances to every codebook entry
    * form a tiny broadcast lookup table (|queries|·m·ksub rows) — and
    * each corpus vector's approximate distance is the sum of m table
    * lookups keyed by its stored code. The corpus is touched ONLY
    * through its m-int codes: no float vectors move at query time.
    * Linear ADC scan per query (IVF-gate it for sublinear search; this
    * is the exhaustive-ADC tier). Ranks on the PUBLISHED (4-dp rounded)
    * distance, ties to the lowest neighbor id: vectors sharing all m
    * codes have mathematically identical ADC distances, and ranking on
    * full-precision sums would let FP summation order — which no two
    * engines share — break those ties differently per engine.
    */
  def pqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
             arrCol: String, centers: DataFrame, dsub: Int,
             k: Int): DataFrame = {
    // In-row encode (map-side); at deployment scale codes are WRITTEN
    // once at ingest and this stage reads them back — encoding inline
    // here keeps the operator self-contained.
    val codes = pqEncode(emb, idCol, arrCol, centers, dsub)
      .select(col(idCol).as("neighbor_id"), col("sub"), col("cid"))
    val dt = pqLongForm(queries, idCol, arrCol, dsub)
      .join(broadcast(centers.select(col("cid"), col("dim"), col("c"))), "dim")
      .groupBy(col(idCol).as("query_id"), col("sub"), col("cid"))
      .agg(sum(pow(col("v") - col("c"), 2)).as("pd"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2"), col("neighbor_id"))
    codes.join(broadcast(dt), Seq("sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((round(sum(col("pd")), 4) + lit(0.0)).as("adist2"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        col("adist2"))
  }

  /** IVF+PQ — the two indexes composed the way FAISS's IVFPQ composes
    * them: the coarse quantizer GATES (each query probes its nProbe
    * nearest cells; only vectors assigned to those cells are
    * candidates) and PQ-ADC RANKS (candidates are scored through their
    * m-int codes via the query's broadcast distance tables — corpus
    * floats are touched only by the ingest-time assignments computed
    * here inline). Candidate count is the probed cells' population —
    * sublinear in the corpus — and ranking cost per candidate is m
    * lookups: the memory and compute shape that makes 1e9-vector
    * search feasible. Both quantizers deterministic ⇒ the whole search
    * is SQL-oracle-able.
    */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
                arrCol: String, coarseLong: DataFrame, centerCol: String,
                pqCenters: DataFrame, dsub: Int, nProbe: Int,
                k: Int): DataFrame = {
    // Corpus cell assignment runs IN-ROW: the centroid table is MODEL
    // state (O(cells·d) values — packed into one broadcast row), and
    // each vector argmins over it in a single map-side pass. The
    // long-form join alternative emits |corpus|·|cells| rows through a
    // corpus×cells-keyed hash aggregate — measured OOM at 1M vectors ×
    // 256 cells on an 8g heap (StressBench ivfpq_gated_topk) — while
    // this shape scans at any corpus size: the FAISS coarse-
    // quantization design. The argmin is the NATIVE graft_nearest_cell
    // expression — one primitive cells×dims loop per row, zero
    // per-cell allocation. The escalation is measured in
    // plans/NearestCell.scala's Scaladoc (join: OOM; lambda distance:
    // ~300s; native scalar distance under a per-cell transform: ~141s;
    // this: see SCALE.md) — tie rule identical to min(struct(d2, cell)).
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val cellsPacked = coarseLong
      .groupBy(col(centerCol))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
        .as("cv"))
      .agg(expr(
        s"sort_array(collect_list(struct(CAST($centerCol AS BIGINT) AS cell," +
          " cv)))").as("_cells"))
    val cells = emb.crossJoin(broadcast(cellsPacked))
      .select(col(idCol).as("neighbor_id"),
        expr(s"graft_nearest_cell(CAST($arrCol AS ARRAY<DOUBLE>), _cells)")
          .as(centerCol))
    val codes = pqEncode(emb, idCol, arrCol, pqCenters, dsub)
      .select(col(idCol).as("neighbor_id"), col("sub"), col("cid"))
    // query side: nProbe nearest cells + ADC distance tables, one
    // explode. Re-read twice (cell probes + distance tables) and sized
    // by the query workload — which in self-query/backfill runs IS the
    // corpus — so DISK_ONLY persist per the r9 durability criterion.
    val qLong = graft.core.Caches.track(
      pqLongForm(queries, idCol, arrCol, dsub)
        .persist(StorageLevel.DISK_ONLY))
    val qDists = qLong
      .join(broadcast(coarseLong.select(col(centerCol), col("dim"), col("c"))),
        "dim")
      .groupBy(col(idCol), col(centerCol))
      .agg(sum(pow(col("v") - col("c"), 2)).as("qdist"))
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("qdist").asc, col(centerCol))
    val probes = qDists
      .withColumn("_pr", row_number().over(wProbe))
      .where(col("_pr") <= nProbe)
      .select(col(idCol).as("query_id"), col(centerCol))
    val dt = qLong
      .join(broadcast(pqCenters.select(col("cid"), col("dim"), col("c"))),
        "dim")
      .groupBy(col(idCol).as("query_id"), col("sub"), col("cid"))
      .agg(sum(pow(col("v") - col("c"), 2)).as("pd"))
    // gate first, then rank codes-only (same rounded-tie rule as pqTopK)
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2"), col("neighbor_id"))
    probes.join(cells, centerCol)
      .where(col("query_id") =!= col("neighbor_id"))
      .join(codes, "neighbor_id")
      .join(broadcast(dt), Seq("query_id", "sub", "cid"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg((round(sum(col("pd")), 4) + lit(0.0)).as("adist2"))
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("adist2"))
  }

  /** Two-stage IVF+PQ ranker — the production search shape (FAISS's
    * IVFPQ + refine): stage 1 is [[ivfPqTopK]] taking the top `m` by
    * ADC (codes-only, sublinear via the coarse gate); stage 2 re-ranks
    * ONLY those m candidates by exact L2 on the full-precision vectors
    * and keeps the top `k`. ADC error (each code stands in for its
    * cell centroid) costs recall exactly at the ranking margin — the
    * refine stage buys it back for the price of m·|queries| exact
    * distances, corpus floats touched only for the m finalists, never
    * the cell population. Ranks on the PUBLISHED (4-dp rounded)
    * distance, ties to the lowest neighbor id — same engine-portable
    * tie rule as the ADC tiers (FP summation order differs per
    * engine below the rounding).
    */
  def ivfPqRerankTopK(emb: DataFrame, queries: DataFrame, idCol: String,
                      arrCol: String, coarseLong: DataFrame,
                      centerCol: String, pqCenters: DataFrame, dsub: Int,
                      nProbe: Int, m: Int, k: Int): DataFrame = {
    require(m >= k, s"re-rank pool m=$m must be >= k=$k")
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val adcTop = ivfPqTopK(emb, queries, idCol, arrCol, coarseLong,
        centerCol, pqCenters, dsub, nProbe, m)
      .select(col("query_id"), col("neighbor_id"))
    val qU = queries.select(col(idCol).as("query_id"), col(arrCol).as("_q"))
    val cU = emb.select(col(idCol).as("neighbor_id"), col(arrCol).as("_c"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("dist2"), col("neighbor_id"))
    adcTop
      .join(qU, "query_id")
      .join(cU, "neighbor_id")
      .withColumn("dist2",
        round(graft.plans.GraftExpressions.l2sq(
          col("_q").cast("array<double>"), col("_c").cast("array<double>")),
          4) + lit(0.0))
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"), col("dist2"))
  }

  /** (id, dim, v, sub) long form, dims 1-based, sub = (dim-1) / dsub. */
  private def pqLongForm(emb: DataFrame, idCol: String, arrCol: String,
                         dsub: Int): DataFrame =
    graft.mlops.NaiveBayesOps.toLongForm(emb, Seq(idCol), arrCol)
      .withColumn("sub", ((col("dim") - 1) / dsub).cast("int"))

  /** Nearest-code assignment per (row, subspace): broadcast join on dim
    * (dims disjoint per subspace ⇒ every distance term lands in its own
    * sub), min-struct argmin — both aggregations map-side combinable,
    * same verdict as a row_number window without its sort exchange.
    */
  private def pqAssign(pts: DataFrame, centers: DataFrame,
                       idCol: String): DataFrame =
    pts.join(broadcast(centers.select(col("cid"), col("dim"), col("c"))), "dim")
      .groupBy(col(idCol), col("sub"), col("cid"))
      .agg(sum(pow(col("v") - col("c"), 2)).as("d2"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("d2"), col("cid"))).as("_m"))
      .select(col(idCol), col("sub"), col("_m.cid").as("cid"))

  /** Centroid-cell assignment shared by the cell-gated family
    * ([[knnGraphCells]], [[cellLoadHistogram]]): (id, cell) with each
    * point in its `nProbe` nearest cells. BOTH probe settings assign
    * IN-ROW over the packed broadcast centroid table: nProbe=1 via the
    * native graft_nearest_cell argmin, nProbe>1 via the
    * graft_nearest_cells top-N (the long-form join it replaced emitted
    * |corpus|·|cells|·d rows — ~65B at 500k×2048×64d, a 28-minute
    * stage; the in-row form is seconds). Tie rule identical to
    * min(struct(d2, cell)).
    */
  def assignCells(emb: DataFrame, idCol: String, arrCol: String,
                  centersLong: DataFrame, centerCol: String,
                  nProbe: Int = 1): DataFrame = {
    import graft.mlops.ClusterOps
    graft.plans.GraftExpressions.register(emb.sparkSession)
    if (nProbe == 1) {
      val packed = centersLong
        .groupBy(col(centerCol))
        .agg(expr(
          "transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
          .as("cv"))
        .agg(expr(
          s"sort_array(collect_list(struct(CAST($centerCol AS BIGINT)" +
            " AS cell, cv)))").as("_cells"))
      emb.crossJoin(broadcast(packed))
        .select(col(idCol),
          expr(s"graft_nearest_cell(CAST($arrCol AS ARRAY<DOUBLE>), _cells)")
            .as(centerCol))
    } else
      ClusterOps.assignToCentersTopN(emb, idCol, arrCol,
        centersLong, centerCol, nProbe)
        .select(col(idCol), col(centerCol))
  }

  // ---- durable IVF index asset (the positional-index ladder, for
  // vectors): build ONCE into a cell-partitioned parquet asset carrying
  // its own centroids, then every ANN query partition-prunes to its
  // probed cells — the corpus embedding table is never rescanned. ----

  /** In-row nearest-cell assignment keeping the vector column — the
    * asset build's one map pass (broadcast packed centroids + the
    * native `graft_nearest_cell` argmin; no join, no shuffle before
    * the partitioned write). Ties break by lowest cell id, matching
    * [[ivfTopK]]'s assignment and the SQL oracles' ORDER BY dist2, cell.
    */
  private def cellAssignInRow(emb: DataFrame, idCol: String,
                              arrCol: String,
                              centersNorm: DataFrame): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val packed = centersNorm
      .groupBy(col("cell"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(dim, c))), x -> x.c)")
        .as("cv"))
      .agg(expr("sort_array(collect_list(struct(CAST(cell AS BIGINT)" +
        " AS cell, cv)))").as("_cells"))
    emb.crossJoin(broadcast(packed))
      .select(col(idCol), col(arrCol),
        expr(s"graft_nearest_cell(CAST($arrCol AS ARRAY<DOUBLE>), _cells)")
          .as("cell"))
  }

  private def centroidSidecarPath(path: String) = s"$path/_graft_centroids"

  /** Build the durable IVF asset: every vector lands in its nearest
    * cell's partition (`cell=<id>` parquet layout), and the CENTROIDS
    * ride inside the asset as an underscore-hidden `_graft_centroids`
    * parquet sidecar (invisible to the data read, like the positional
    * index's `_graft_buckets`). The centroids are part of the asset,
    * not a read-side parameter: probing with different centroids would
    * prune to the wrong partitions and silently return low-recall
    * results. Sidecar written AFTER the data commit — a failed build
    * never leaves metadata pointing at a partial table. `centersLong`
    * is the usual (centerCol, dim, c) long form.
    *
    * Floating-point near-tie caveat: the build assigns cells with the
    * in-row `graft_nearest_cell` kernel (dim-ordered summation — the
    * scale path: one broadcast, no |corpus|·|cells|·d explode), while
    * [[ivfTopK]]'s build side sums the long form through an unordered
    * hash aggregate. The two orderings agree except when a vector is
    * an exact fp near-tie between two cells, where associativity can
    * flip the argmin — so "identical results to ivfTopK" holds up to
    * that measure-zero tie set (none exist in the oracle fixtures;
    * both paths are pinned to one DuckDB oracle at two SFs).
    */
  def writeIvfIndex(emb: DataFrame, idCol: String, arrCol: String,
                    centersLong: DataFrame, centerCol: String,
                    path: String): Unit = {
    val centersNorm = centersLong.select(
      col(centerCol).cast("long").as("cell"),
      col("dim").cast("int").as("dim"), col("c").cast("double").as("c"))
    // Clustered write — one task (so one file) per cell per write; an
    // unclustered partitionBy lands a file per (task x cell). Write
    // parallelism = cell count, which grows with the corpus (centroid
    // counts scale as ~sqrt(n)); oversized cells split via
    // compactIvfIndex(maxRecordsPerFile). See writePositionalIndex.
    cellAssignInRow(emb, idCol, arrCol, centersNorm)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(path)
    // plain-text sidecar (one "cell,dim,c" line per row, Double.toString
    // — roundtrips exactly), not a nested parquet dir: Spark's file
    // index special-cases hidden FILES cleanly (the _graft_buckets
    // pattern) but reading a parquet dir whose name starts with "_"
    // leans on path-filter internals. Centroid count is metadata-scale
    // by definition (they broadcast everywhere), so driver-side text is
    // free.
    val rows = centersNorm.collect().map(r =>
      s"${r.getLong(0)},${r.getInt(1)},${r.getDouble(2)}")
    val p = new org.apache.hadoop.fs.Path(centroidSidecarPath(path))
    val fs = p.getFileSystem(
      emb.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(rows.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The centroids a [[writeIvfIndex]] asset was built with — the read
    * side derives them from the asset itself. Fails loudly on a
    * directory that is not an IVF asset.
    */
  def ivfIndexCentroids(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(centroidSidecarPath(path))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path has no _graft_centroids sidecar - not a writeIvfIndex asset")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    val rows = txt.split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val Array(cell, dim, c) = l.split(",")
      (cell.toLong, dim.toInt, c.toDouble)
    }
    import spark.implicits._
    rows.toDF("cell", "dim", "c")
  }

  /** Incremental maintenance: assign NEW vectors with the ASSET'S OWN
    * centroids and append into the same cell partitions — merge ≡
    * rebuild row-for-row (the mergePositionalIndex contract; oracled by
    * `sim_ivf_index_merge`). Increment ids must be new; existing index
    * bytes are never read or rewritten.
    */
  def mergeIvfIndex(emb: DataFrame, idCol: String, arrCol: String,
                    path: String): Unit = {
    val centers = ivfIndexCentroids(emb.sparkSession, path)
    cellAssignInRow(emb, idCol, arrCol, centers)
      .repartition(col("cell")) // one file per cell per append
      .write.partitionBy("cell").mode("append").parquet(path)
  }

  /** Rewrite an IVF asset's accumulated per-increment small files into
    * one file per cell (see [[graft.sources.AssetMaintenance]] — each
    * [[mergeIvfIndex]] appends a file per touched cell, so N daily
    * increments make N-file cells). Rows, cells, and the centroid
    * sidecar are unchanged — compact ≡ no-op, pinned by running
    * [[queryIvfIndexed]]'s own oracle over the compacted asset
    * (`sim_ivf_index_compact` shares `sim_ivf_topk`'s oracle verbatim).
    * `minFilesPerPartition` > 1 makes the pass selective — only cells
    * the appends actually bloated are rewritten (the daily-maintenance
    * shape; see AssetMaintenance). Returns
    * (dataFilesBefore, dataFilesAfter).
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String,
                      maxRecordsPerFile: Long = 0L,
                      minFilesPerPartition: Int = 1): (Long, Long) = {
    ivfIndexCentroids(spark, path) // fail loudly on a non-asset dir
    graft.sources.AssetMaintenance.compactPartitionedAsset(
      spark, path, "cell", maxRecordsPerFile, minFilesPerPartition)
  }

  /** Centroid-drift report for a [[writeIvfIndex]] asset against a
    * candidate increment — the recall early-warning [[mergeIvfIndex]]
    * cannot give by itself: the merge path correctly refuses FOREIGN
    * centroids, but a corpus that drifts under the ASSET'S OWN
    * centroids degrades probe recall with no signal (vectors land ever
    * farther from every centroid, so nProbe cells cover an ever-smaller
    * fraction of each query's true neighbors).
    *
    * Signal: the distribution of squared assignment distance — for the
    * asset, each stored row's distance to its OWN cell's centroid (one
    * pruned-scan pass, join on (cell, dim) against the broadcast
    * sidecar); for the increment, each new vector's distance to its
    * NEAREST centroid (the assignment the merge would perform). The two
    * distributions reduce through [[graft.stats.Profile.numericDrift]]
    * (`bins` equal-width bins over [lo, hi), add-one-smoothed PSI / KL /
    * JS) — one row out, everything after the two corpus passes is
    * bins-scale. Distances are rounded to 1e-6 before binning: bin
    * edges are hard thresholds, and a last-ulp fp-associativity
    * difference between plans (or engines — the DuckDB oracle) must not
    * flip a boundary value's bin; monitoring artifacts are
    * engine-portable by the same convention as numericDrift's fixed
    * caller-supplied edges.
    *
    * Retrain contract (the standard PSI bands, stated here so the knob
    * has a documented decision rule): psi < 0.1 — append freely;
    * 0.1 ≤ psi < 0.2 — append but raise nProbe by one until the next
    * rebuild (recall insurance costs one extra cell scan per query);
    * psi ≥ 0.2 — retrain centroids on asset+increment and rebuild
    * (one full rewrite, vs. serving permanently degraded recall).
    * Spec-pinned: a same-distribution increment stays under 0.1, a
    * shifted increment lands over 0.2 (DedupSimilaritySpec).
    */
  def ivfDriftReport(spark: org.apache.spark.sql.SparkSession,
                     path: String, increment: DataFrame, idCol: String,
                     arrCol: String, bins: Int, lo: Double,
                     hi: Double): DataFrame = {
    import graft.mlops.{ClusterOps, NaiveBayesOps}
    val centers = ivfIndexCentroids(spark, path)
    val assetDists = NaiveBayesOps.toLongForm(
        spark.read.parquet(path).select(col(idCol), col("cell"),
          col(arrCol)),
        Seq(idCol, "cell"), arrCol)
      .join(broadcast(centers), Seq("cell", "dim"))
      .groupBy(col(idCol))
      .agg(round(sum(pow(col("v") - col("c"), 2)), 6).as("dist2"))
    val incDists = ClusterOps.assignToCenters(
        NaiveBayesOps.toLongForm(increment, Seq(idCol), arrCol),
        centers, idCol, "cell")
      .select(col(idCol), round(col("dist2"), 6).as("dist2"))
    graft.stats.Profile.numericDrift(
      assetDists, incDists, "dist2", bins, lo, hi)
  }

  /** The psi ≥ 0.2 branch of [[ivfDriftReport]]'s retrain contract:
    * re-center the asset's centroids on the DRIFTED corpus (asset rows
    * ∪ increment) with `iters` deterministic Lloyd rounds warm-started
    * FROM THE ASSET'S OWN CENTROIDS — warm start preserves cell
    * identity where the corpus hasn't moved (a cold lowest-id reseed
    * would arbitrarily renumber every cell), and one round is usually
    * enough because the start is the previous optimum — then rebuild
    * the whole asset with the retrained centroids into a sibling tmp
    * dir and atomically swap it in ([[graft.sources.AssetMaintenance
    * .installAsset]] — readers see the old asset or the new one, never
    * a mix). Cost contract (why the drift report gates this): `iters`+1
    * full passes over asset+increment plus one clustered rewrite —
    * versus [[mergeIvfIndex]]'s one pass over the increment alone; you
    * pay it when the report says recall is already decaying. Cells
    * that end a round empty drop out (the [[graft.mlops.ClusterOps
    * .lloydIterations]] convention — their vectors re-home to the
    * surviving cells' partitions).
    */
  def retrainIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, increment: DataFrame, idCol: String,
                      arrCol: String, iters: Int = 1): Unit = {
    import graft.mlops.{ClusterOps, NaiveBayesOps}
    require(iters >= 1, s"iters=$iters must be >= 1")
    val all = spark.read.parquet(path).select(col(idCol), col(arrCol))
      .unionByName(increment.select(col(idCol), col(arrCol)))
    val allLong = NaiveBayesOps.toLongForm(all, Seq(idCol), arrCol)
    var centers = ivfIndexCentroids(spark, path)
    (1 to iters).foreach { _ =>
      val assign = ClusterOps.assignToCenters(
        allLong, centers, idCol, "cell").select(col(idCol), col("cell"))
      centers = allLong.join(assign, idCol)
        .groupBy(col("cell"), col("dim"))
        .agg(avg(col("v")).as("c"))
    }
    // centers feeds BOTH writeIvfIndex consumers (the sidecar collect
    // and the assignment broadcast) and its lineage is `iters` corpus
    // passes — materialize once, unpersist after the rebuild (the
    // eager-action carve-out: this operator runs actions before
    // returning, so it cleans up itself; nothing lands in Caches).
    val trained = centers
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    trained.count()
    try {
      val tmp = path + ".retrain.tmp"
      writeIvfIndex(all, idCol, arrCol, trained, "cell", tmp)
      graft.sources.AssetMaintenance.installAsset(spark, tmp, path)
    } finally trained.unpersist(): Unit
  }

  /** IVF ANN against a [[writeIvfIndex]] asset: probe cells are ranked
    * per query against the sidecar centroids (broadcast — centroid
    * count is metadata-scale by definition), the DISTINCT probed-cell
    * set is collected driver-side (bounded by the centroid count, never
    * the corpus or the query count) and pushed as partition filters, so
    * the scan reads only the probed cells' partitions. Exact cosine
    * re-rank within candidates — identical results to [[ivfTopK]] with
    * the same centroids/nProbe/k by construction (shared oracle), up to
    * floating-point associativity of the two assignment kernels (see
    * the [[writeIvfIndex]] near-tie caveat).
    *
    * The probes frame is persisted before the driver-side distinct-cell
    * collect: it is consumed twice (the collect AND the candidate
    * join), and for self-query/backfill workloads where `queries` is
    * corpus-sized an unpersisted subtree would run the qDists aggregate
    * and probe window twice — a second corpus-scale pass for nothing.
    * Tracked in [[graft.core.Caches]] (the result is lazy, so the
    * operator cannot unpersist before returning).
    */
  def queryIvfIndexed(spark: org.apache.spark.sql.SparkSession,
                      path: String, queries: DataFrame, idCol: String,
                      arrCol: String, nProbe: Int, k: Int): DataFrame = {
    import graft.mlops.NaiveBayesOps
    graft.plans.GraftExpressions.register(spark)
    val centers = ivfIndexCentroids(spark, path)
    val qLong = NaiveBayesOps.toLongForm(queries, Seq(idCol), arrCol)
    val qDists = qLong.join(broadcast(centers), "dim")
      .groupBy(col(idCol), col("cell"))
      .agg(sum(pow(col("v") - col("c"), 2)).as("qdist"))
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("qdist").asc, col("cell"))
    val probes = graft.core.Caches.track(qDists
      .withColumn("_pr", row_number().over(wProbe))
      .where(col("_pr") <= nProbe)
      .select(col(idCol).as("query_id"), col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val probedCells = probes.select(col("cell").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    // isInCollection, not isin(varargs): at ~64k cells x high nProbe the
    // varargs form inlines a giant In literal into the plan; the
    // collection form converts to InSet past the optimizer threshold
    // and still prunes partitions at the scan.
    val idx = spark.read.parquet(path)
      .where(col("cell").isInCollection(probedCells))
      .select(col(idCol).as("neighbor_id"), col("cell"),
        col(arrCol).as("_c"))
    val qU = queries.select(col(idCol).as("query_id"), col(arrCol).as("_q"))
    val wK = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    probes.join(idx, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .join(qU, "query_id")
      .withColumn("_cos",
        graft.plans.GraftExpressions.cosine(col("_q"), col("_c")))
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** nProbe tuning table: exact recall@k of IVF search vs brute-force
    * ground truth, one row per candidate nProbe in 1..maxProbe — the
    * measurable behind [[ivfDriftReport]]'s 0.1–0.2 "raise nProbe"
    * band (and the [[cellLoadHistogram]] twin for the OTHER search
    * knob). Exactness without per-nProbe searches: the IVF re-rank is
    * exact cosine within candidates, so a ground-truth top-k neighbor
    * appears in IVF's top-k IFF its cell is among the query's first
    * nProbe probes (anything outranking it among candidates outranks
    * it globally, and fewer than k such rows exist for a global top-k
    * member — so membership survives). Recall@k(p) is therefore a
    * JOIN COUNT: truth pairs whose neighbor-cell probe rank ≤ p.
    *
    * Cost: one brute-force pass over |queries|×|corpus| (the ground
    * truth — tune on a query SAMPLE; this is the one quadratic leg and
    * it is bounded by the sample), one corpus assignment pass, one
    * probe ranking over queries×cells; the curve itself is arithmetic
    * over the |queries|·k truth pairs × maxProbe — bounded, never
    * corpus-scale.
    */
  def ivfRecallCurve(emb: DataFrame, queries: DataFrame, idCol: String,
                     arrCol: String, centersLong: DataFrame,
                     centerCol: String, maxProbe: Int, k: Int): DataFrame = {
    import graft.mlops.{ClusterOps, NaiveBayesOps}
    require(maxProbe >= 1, s"maxProbe=$maxProbe must be >= 1")
    val truth = bruteForceTopK(emb, queries, idCol, arrCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val cells = ClusterOps.assignToCenters(
      NaiveBayesOps.toLongForm(emb, Seq(idCol), arrCol),
      centersLong, idCol, centerCol)
      .select(col(idCol).as("neighbor_id"), col(centerCol))
    val qLong = NaiveBayesOps.toLongForm(queries, Seq(idCol), arrCol)
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(col("qdist").asc, col(centerCol))
    val probes = qLong.join(broadcast(centersLong), "dim")
      .groupBy(col(idCol), col(centerCol))
      .agg(sum(pow(col("v") - col("c"), 2)).as("qdist"))
      .withColumn("_pr", row_number().over(wProbe))
      .where(col("_pr") <= maxProbe)
      .select(col(idCol).as("query_id"), col(centerCol), col("_pr"))
    truth
      .join(cells, "neighbor_id")
      .join(probes, Seq("query_id", centerCol), "left")
      .select(coalesce(col("_pr"), lit(Int.MaxValue)).as("_found_at"))
      .crossJoin(
        emb.sparkSession.range(1, maxProbe + 1L)
          .select(col("id").cast("int").as("n_probe")))
      .groupBy(col("n_probe"))
      .agg(count(lit(1)).as("n_truth"),
        sum(when(col("_found_at") <= col("n_probe"), 1L).otherwise(0L))
          .as("n_found"))
      .withColumn("recall",
        round(col("n_found") / col("n_truth"), 4) + lit(0.0))
      .orderBy(col("n_probe"))
  }

  /** Cell-load histogram with a cumulative pair-cost ledger — the
    * tuning table for [[knnGraphCells]]'s `maxCell` knob. One row per
    * DISTINCT cell size s: how many cells have exactly s members
    * (`n_cells`), the directed non-self pairs those cells enumerate
    * (`pairs` = s·(s−1)·n_cells — the join's work, pre-dedup under
    * multi-probe), the running total if the cap were set to s
    * (`cum_pairs`, ascending in s), and whether that running total
    * fits `pairBudget` (`within_budget`). Because cum_pairs is
    * monotone in s, within_budget is a prefix — the largest true row
    * IS the cap to pass as `maxCell`.
    *
    * Scale: the corpus-sized work is the assignment pass (map-side,
    * broadcast centroids) and one count-per-cell aggregation; the
    * histogram itself is ≤ one row per distinct size ≤ |cells| —
    * metadata-scale, so the single-partition cumulative window is on
    * a centroid-count-sized frame, never the corpus.
    */
  def cellLoadHistogram(emb: DataFrame, idCol: String, arrCol: String,
                        centersLong: DataFrame, centerCol: String,
                        pairBudget: Long, nProbe: Int = 1): DataFrame = {
    require(pairBudget >= 0, s"pairBudget=$pairBudget must be >= 0")
    val cells = assignCells(emb, idCol, arrCol, centersLong, centerCol, nProbe)
    val wCum = Window.orderBy(col("cell_size"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.groupBy(col(centerCol))
      .agg(count(lit(1)).as("cell_size"))
      .groupBy(col("cell_size"))
      .agg(count(lit(1)).as("n_cells"))
      .withColumn("pairs",
        col("cell_size") * (col("cell_size") - 1) * col("n_cells"))
      .withColumn("cum_pairs", sum(col("pairs")).over(wCum))
      .withColumn("within_budget", col("cum_pairs") <= lit(pairBudget))
      .select(col("cell_size"), col("n_cells"), col("pairs"),
        col("cum_pairs"), col("within_budget"))
  }

  /** [[knnGraphCells]] with `maxCell` AUTO-TUNED from the cell-load
    * histogram: the cap is the largest cell size whose cumulative
    * directed-pair cost still fits `pairBudget`, so the self-join's
    * total work is bounded by the caller's budget no matter how skewed
    * the assignment came out — the a-priori guess the fixed knob
    * requires ("is 2^16 right for THIS corpus?") becomes a measured
    * decision. Cells above the cap are dropped exactly as the manual
    * knob drops them (their members keep only edges through their
    * other probes, or none). If even the size-2 cells blow the budget
    * the graph is EMPTY — `onTuned` reports (cap=1, projectedPairs=0)
    * and the caller should raise the budget or refine the centroids.
    *
    * Driver motion: ONE aggregate row (cap + projected pairs) — the
    * histogram never leaves the cluster. The assignment pass runs
    * twice (once sizing, once building); it is the map-side cheap
    * part, and threading the materialized assignment through would
    * couple the two plans' lifetimes for a pass that costs seconds
    * where the gated join costs minutes.
    */
  def knnGraphCellsBudget(emb: DataFrame, idCol: String, arrCol: String,
                          centersLong: DataFrame, centerCol: String, k: Int,
                          pairBudget: Long, nProbe: Int = 1,
                          onTuned: (Long, Long) => Unit = (_, _) => ())
      : DataFrame = {
    val pick = cellLoadHistogram(emb, idCol, arrCol, centersLong, centerCol,
        pairBudget, nProbe)
      .where(col("within_budget"))
      .agg(max(col("cell_size")).as("cap"), max(col("cum_pairs")).as("pp"))
      .collect()(0)
    val cap = if (pick.isNullAt(0)) 1L else pick.getLong(0)
    val projected = if (pick.isNullAt(1)) 0L else pick.getLong(1)
    onTuned(cap, projected)
    knnGraphCells(emb, idCol, arrCol, centersLong, centerCol, k,
      nProbe, math.min(cap, Int.MaxValue.toLong).toInt)
  }

  /** Cell-gated k-NN GRAPH construction: every corpus point's top-k
    * cosine neighbors among points sharing any of its `nProbe` probed
    * centroid cells — the batch all-points analog of [[ivfTopK]]
    * (queries = the whole corpus) and the input structure SemDeDup-
    * style semantic dedup, graph clustering, and connectivity
    * curation consume. Cost is Σ|cell|²·nProbe, never n²: the knob is
    * centroid count, exactly the embeddingNearDupCells tradeoff (and
    * like it, cross-cell true neighbors outside every shared probe
    * are forgone by design — raise nProbe to recover boundary
    * straddlers).
    *
    * Shape: one in-row assignment pass, then a cell-keyed SELF-JOIN
    * with both vectors already attached — pairs are enumerated INSIDE
    * the join and stream straight through the fused-codegen cosine
    * into the top-k (WindowGroupLimit prunes per task before the rank
    * exchange). The dedup-style alternative (id-only pair explode,
    * vectors re-joined afterwards) was measured 543s at 500k×64d —
    * the directed pair set crosses TWO vector joins, ~240 GB of
    * array shuffle, where the self-join shuffles each vector once
    * (this shape: 43s, SCALE.md round 12). `maxCell` drops degenerate
    * cells BEFORE the join (the quadratic bombs) rather than letting
    * one hot centroid own the wall clock.
    */
  def knnGraphCells(emb: DataFrame, idCol: String, arrCol: String,
                    centersLong: DataFrame, centerCol: String, k: Int,
                    nProbe: Int = 1, maxCell: Int = 1 << 16): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val cells = assignCells(emb, idCol, arrCol, centersLong, centerCol, nProbe)
    // degenerate-cell guard runs on the ID-SIZED assignment, before
    // any vector is attached
    val okCells = cells.groupBy(col(centerCol))
      .agg(count(lit(1)).as("_cn"))
      .where(col("_cn").between(2, maxCell.toLong))
      .select(col(centerCol))
    val withVec = graft.core.Caches.track(cells
      .join(okCells, Seq(centerCol), "left_semi")
      .join(emb.select(col(idCol), col(arrCol).as("_v")), idCol)
      .select(col(centerCol), col(idCol), col("_v"))
      // one materialization feeds both sides of the self-join —
      // otherwise the whole assignment subtree evaluates twice (the
      // shingle-reuse lesson). Carries every vector (corpus-sized) —
      // DISK_ONLY, and measured, not just principled: the r17 A/B
      // tried MEMORY_AND_DISK_SER here and the 500k-vector StressBench
      // graph build OOM'd the 8g heap — a FAT frame cached in-heap
      // competes with the Σ|cell|² self-join's execution memory, the
      // exact pressure DISK_ONLY avoids (SCALE.md r17).
      // LAZY persist KEPT here (r22): the eager-checkpoint conversion
      // the other shared frames got this round (see knnRefine) was
      // built, measured at BOTH scales for this frame, and REJECTED —
      // at stress (500k×64d) the eager checkpoint + re-spread read
      // 87.7s vs 53.9s for this lazy shape (the ~270 MB frame lands at
      // ~4 AQE blocks, just under the spread target, so the guard
      // FIRES and re-shuffles the fat frame; without the re-spread the
      // narrow width starves the self-join's map side for 64.3s), and
      // at bench SF the eager barrier serialized ~0.7s that the lazy
      // race pays in overlapped executor time. The race's duplicate
      // work is bounded here: the expensive references sit inside ONE
      // stage's task set (per-block cache locks dedupe within it),
      // unlike knnRefine's closure, whose consumers are separate
      // concurrent AQE subquery JOBS.
      // Session-tracked (Caches): lazy result, release at job
      // boundaries.
      .persist(StorageLevel.DISK_ONLY))
    // the self-join runs through the shared per-key salted join: a
    // cell at the maxCell cap still means |cell|² pairs, and without
    // salting they all land on ONE task (AQE can't split inside a key)
    val aSide = withVec.select(col(centerCol), col(idCol).as("src_id"),
      col("_v").as("_va"))
    val bSide = withVec.select(col(centerCol),
      col(idCol).as("neighbor_id"), col("_v").as("_vb"))
    // Score each UNORDERED pair once (src < neighbor halves the join
    // output and the cosine work — r21), then mirror both directions
    // in-row: graft_cosine is bit-symmetric (the dot terms and the norm
    // product commute), so the emitted rows are identical to the old
    // ordered enumeration's, per shared cell.
    // The cosine is computed in its OWN projection below the mirror
    // explode: `select(cos, explode(...))` would analyze to
    // Project(cos) ABOVE the Generate — one cosine per MIRRORED row,
    // i.e. the 2x work the a<b filter exists to avoid. Split this way
    // the Generate passes the scored column through and the mirror
    // costs only the row copy (plan-checked: graft_cosine sits below
    // Generate in plans/r21/sim_knn_graph_after.txt).
    val scored = graft.operators.SkewJoin
      .saltedInnerJoin(aSide, col("src_id"), bSide, Seq(centerCol))
      .where(col("src_id") < col("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        graft.plans.GraftExpressions.cosine(col("_va"), col("_vb"))
          .as("_cos"))
    // multi-probe enumerates a pair once per shared cell — identical
    // (src, neighbor, cos) rows, deduped on the slim scored triple
    // BEFORE the mirror explode (r22): every pre-mirror row has
    // src < neighbor and the mirror is injective on ordered pairs, so
    // distinct-then-mirror emits exactly the rows mirror-then-distinct
    // did, through a dedup exchange carrying HALF the rows.
    val pairs = if (nProbe == 1) scored else scored.distinct()
    val mirrored = pairs
      .select(col("_cos"), explode(array(
          struct(col("src_id"), col("neighbor_id")),
          struct(col("neighbor_id").as("src_id"),
            col("src_id").as("neighbor_id")))).as("_e"))
      .select(col("_e.src_id").as("src_id"),
        col("_e.neighbor_id").as("neighbor_id"), col("_cos"))
    val wK = Window.partitionBy(col("src_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    mirrored
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("src_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** Greedy BEAM SEARCH over a built k-NN graph — the HNSW-style query
    * path on top of [[knnGraphCells]]/[[knnRefine]]'s index: enter at
    * the query's IVF coarse cell (top-`beam` members by exact cosine),
    * then `rounds` expansions walk neighbor-of-neighbor through the
    * graph's directed edges, re-ranking a bounded frontier each round.
    * The candidate set grows along the graph's geometry instead of the
    * cell partition, so a query near a cell boundary recovers true
    * neighbors the pure IVF probe forgoes — recall@k is pinned ≥ the
    * adaptive-IVF baseline on a boundary-heavy fixture
    * (DedupSimilaritySpec) and the whole search is deterministic
    * (fixed rounds, ties (cos DESC, id)), so it unrolls into a SQL
    * oracle round for round.
    *
    * 100 TB shape: after the one entry probe (the query's single
    * nearest cell), every step is a KEYED join — frontier×graph on the
    * source id, candidates×vectors on the point id — with the frontier
    * bounded at queries×beam rows and candidates at
    * queries×beam×(graph degree+1) per round. No corpus scan recurs;
    * the graph edge list (n·k rows) is the only corpus-scale relation
    * and it is touched once per round, keyed. Frontier state is
    * batch-of-queries-sized (localCheckpoint per round: it is
    * referenced twice per round — expansion join + union — the 2^i
    * re-execution lesson; metadata-scale by the r9 slim-frame
    * carve-out).
    */
  def graphSearchTopK(emb: DataFrame, queries: DataFrame, idCol: String,
                      arrCol: String, centersLong: DataFrame,
                      centerCol: String, graph: DataFrame, k: Int,
                      rounds: Int = 2, beam: Int = 8): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    require(k >= 1, s"k=$k must be positive")
    require(beam >= k, s"beam=$beam must be >= k=$k")
    require(rounds >= 0, s"rounds=$rounds must be non-negative")
    // corpus cell membership (each point's single nearest cell) and the
    // query's entry cell — the native in-row argmin ([[assignCells]]
    // nProbe=1: broadcast packed centroids, map-side, no long-form
    // blowup; the first cut used the dim-keyed long-form join and
    // OOM'd the 500k stress build — 32M exploded rows × centers).
    val cells = assignCells(emb, idCol, arrCol, centersLong, centerCol, 1)
      .select(col(idCol).as("neighbor_id"), col(centerCol))
    val entryCell = assignCells(queries, idCol, arrCol, centersLong,
      centerCol, 1)
      .select(col(idCol).as("query_id"), col(centerCol))
    val qU = queries.select(col(idCol).as("query_id"), col(arrCol).as("_q"))
    val cU = emb.select(col(idCol).as("neighbor_id"), col(arrCol).as("_c"))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    // candidates arrive as SLIM deduped (query, point) pairs; vectors
    // attach per candidate (keyed joins), exact cosine, top-beam
    def scoreAndBeam(pairs: DataFrame): DataFrame = pairs
      .join(qU, "query_id")
      .join(cU, "neighbor_id")
      .withColumn("_cos",
        graft.plans.GraftExpressions.cosine(col("_q"), col("_c")))
      .withColumn("_rn", row_number().over(wBeam))
      .where(col("_rn") <= beam)
      .select(col("query_id"), col("neighbor_id"), col("_cos"))
    var frontier = scoreAndBeam(
      entryCell.join(cells, centerCol)
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id")))
      .localCheckpoint()
    val edges = graph.select(col("src_id").as("_e_src"),
      col("neighbor_id").as("_e_dst"))
    (1 to rounds).foreach { _ =>
      val expanded = frontier
        .select(col("query_id"), col("neighbor_id").as("_e_src"))
        .join(edges, "_e_src")
        .select(col("query_id"), col("_e_dst").as("neighbor_id"))
        .where(col("query_id") =!= col("neighbor_id"))
        .unionByName(frontier.select(col("query_id"), col("neighbor_id")))
        .distinct()
      frontier = scoreAndBeam(expanded).localCheckpoint()
    }
    frontier
      .withColumn("rnk", row_number().over(wBeam))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** Semantic communities over the MUTUAL k-NN graph: keep an edge
    * only when each endpoint ranks in the other's top-k (the standard
    * symmetrization that kills hub edges — a generic vector close to
    * everything appears in many top-k lists but reciprocates few),
    * then run fixed-round label propagation. Communities resolve finer
    * than both components (no bridge-merging) and raw cells (a cell
    * can hold several distinct semantic groups). Points with no
    * mutual neighbor are singleton communities of themselves —
    * returned over the FULL universe, one disposition per input row.
    *
    * Shape: the knn graph (one cell-gated pass), one self-join on the
    * reversed pair for mutuality, `rounds` propagation rounds, one
    * universe left join. All keyed by point id; nothing quadratic.
    */
  /** One NN-descent refinement round over an existing k-NN graph (Dong
    * et al. WWW 2011): re-rank each point's top-k among its current
    * graph NEIGHBORHOOD'S neighborhood — candidates are the undirected
    * edges plus every neighbor-of-my-neighbor — recovering cross-cell
    * true neighbors the cell gate forgoes ([[knnGraphCells]] misses a
    * boundary straddler exactly when no probed cell is shared; its
    * true neighbors usually ARE reachable through a mutual
    * intermediate). One fixed round keeps the operator a pure function
    * of its input graph (deterministic, oracle-replayable); iterate
    * externally for more rounds.
    *
    * Cost is O(Σ_m deg(m)²) candidate rows — n·(2k)²-ish on a healthy
    * graph, never n². Two guards hold that at 100 TB: `maxDegree`
    * drops hub INTERMEDIATES from the expansion (a node appearing in
    * many top-k lists owns deg² pairs; its own edges remain candidates
    * via the direct-edge union), and the mid-keyed self-join runs
    * through [[graft.operators.SkewJoin.saltedInnerJoin]] so the pairs
    * a surviving heavy mid does own spread across tasks instead of
    * landing on one. Vectors attach BEFORE the mid join (the
    * knnGraphCells lesson: enumerate pairs with both vectors already
    * in-row; id-only pairs re-joined to vectors shuffled the corpus
    * twice and measured 12.5× slower at stress scale).
    *
    * Degenerate input note (r21 change, documented r22): SELF-LOOP
    * edges (src_id == neighbor_id) in the input graph are IGNORED —
    * the unordered-pair enumeration scores only src < neighbor, so a
    * self-loop neither occupies a top-k slot (pre-r21 it scored
    * cos = 1.0 and could) nor contributes expansion candidates beyond
    * the node's own real edges. k-NN builders never emit self-loops
    * ([[knnGraphCells]] filters src = neighbor); only hand-built
    * graphs could observe the difference.
    */
  def knnRefine(emb: DataFrame, idCol: String, arrCol: String,
                graph: DataFrame, k: Int,
                maxDegree: Int = 1 << 12): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    require(k >= 1, s"k=$k must be positive")
    require(maxDegree >= 1, s"maxDegree=$maxDegree must be positive")
    // materialize the slim edge list BEFORE the symmetric union: the
    // union's two branches would otherwise evaluate the caller's whole
    // graph-build subtree twice (the r12 knn-graph union lesson).
    // n·k rows of two longs, corpus-proportional and re-read HOT
    // several times within this one job — MEMORY_AND_DISK_SER, not
    // DISK_ONLY: lineage (and so executor-loss recoverability) is
    // identical under any persist level, and the r16 sweep's DISK_ONLY
    // forced every re-read through disk for a ~33% wall cost
    // (5.98s→ the r15 band; SCALE.md r17 A/B).
    // EAGER, AQE-width-sized materialization of the shared slim frames
    // (r22, Drill-measured). Two problems with the r21 lazy persists:
    // (1) a lazy persist does NOT stop the symmetric union's two
    // branches — or AQE's CONCURRENT broadcast-subquery jobs — from
    // each re-evaluating the caller's whole graph-build subtree before
    // any block lands in the cache (Drill: the distinct's reduce stage
    // executed 4x per refine, ~40s of the 110s executor total at bench
    // scale; at 100 TB the same race re-runs a corpus-scale subtree);
    // (2) a cached plan keeps the session's shuffle width however
    // small the data (AQE cannot re-shape cached plans), so every
    // consumer paid a full-width task wave to read kilobytes.
    // localCheckpoint(eager) fixes both: it materializes ONCE, at the
    // AQE-coalesced width — bytes-derived, so ~1 block at bench scale
    // and full width at corpus scale. Lineage truncation is the
    // established trade for these loop/fan-in frames (the Components
    // adjacency discipline). Session-tracked: Caches.release frees the
    // checkpoint blocks.
    val edges = graft.core.Caches.pinShared(graph
      .select(col("src_id").cast("long").as("a"),
        col("neighbor_id").cast("long").as("b")),
      StorageLevel.MEMORY_AND_DISK_SER)
    // feeds the degree count and all three legs — same treatment
    val und = graft.core.Caches.pinShared(edges
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct(), StorageLevel.MEMORY_AND_DISK_SER)
    // hub-intermediate guard on the ID-SIZED edge list (degree in the
    // symmetric closure = out-degree + reciprocated in-degree)
    val okMid = und.groupBy(col("b")).agg(count(lit(1)).as("_d"))
      .where(col("_d") <= maxDegree.toLong)
      .select(col("b").as("_mid"))
    val vecs = emb.select(col(idCol).cast("long").as("_vid"),
      col(arrCol).as("_v"))
    // ONE vector-attach shared by every leg (r22): attachedAll =
    // und ⋈ vecs on the source endpoint — (a, b, v_a) for every
    // directed edge of the symmetric closure. Because und is symmetric,
    // this one relation read as (m = b, point = a, v_point) IS both
    // sides of the mid-keyed self-join (the r21 shape's `left` and
    // `right` are the same multiset modulo column names — substitute
    // (a,b) ↦ (b,a) and use closure symmetry), and its a < b slice is
    // the direct leg's source-vector attach. The r21 shape paid FOUR
    // vecs joins (two per expansion side + two direct); this pays the
    // attach once plus one join for the direct leg's second vector.
    // Vector-fat (edge-proportional rows × the embedding array) →
    // DISK_ONLY blocks, the knnGraphCells withVec precedent (a fat
    // frame held in-heap competes with the self-join's execution
    // memory; r17 A/B). Same eager/AQE-width reasoning as edges/und;
    // session-tracked: released at job boundaries.
    val attachedAllCk = graft.core.Caches.pinShared(und
      .join(vecs, col("a") === col("_vid"))
      .select(col("a"), col("b"), col("_v")), StorageLevel.DISK_ONLY)
    // re-spread for the CPU-heavy mid-join map sides — identity at
    // corpus width, one small exchange at bench width (see
    // knnGraphCells' withVecW note)
    val attachedAll = graft.sources.Sources.spreadIfNarrow(attachedAllCk,
      col("a"), math.max(2,
        emb.sparkSession.sparkContext.defaultParallelism / 4))
    val filtered = attachedAll
      .join(okMid, col("b") === col("_mid"), "left_semi")
    val left = filtered
      .select(col("b").as("_m"), col("a").as("src_id"),
        col("_v").as("_va"))
    val right = filtered
      .select(col("b").as("_m"), col("a").as("neighbor_id"),
        col("_v").as("_vb"))
    // Both legs score each UNORDERED pair once (src < neighbor before
    // the cosine — r21): graft_cosine is bit-symmetric, so one score
    // per unordered pair reproduces the ordered enumeration exactly.
    def scoredPairs(pairs: DataFrame): DataFrame = pairs
      .select(col("src_id"), col("neighbor_id"),
        graft.plans.GraftExpressions.cosine(col("_va"), col("_vb"))
          .as("_cos"))
    // okMid already bounds every mid key to ≤ maxDegree rows per side,
    // so when maxDegree ≤ the join's hotThreshold the hot-key set is
    // empty BY CONSTRUCTION — pass the bound so the join skips the
    // salting machinery (aggregate + broadcast + per-row salt) it could
    // never use (r22; SkewJoin's proven-cold fast path).
    val expanded = scoredPairs(graft.operators.SkewJoin
      .saltedInnerJoin(left, col("src_id"), right, Seq("_m"),
        aKeyRowBound = Some(maxDegree.toLong))
      .where(col("src_id") < col("neighbor_id")))
    // direct edges union in explicitly: two endpoints need not share a
    // third neighbor, and the refinement must never score WORSE than
    // the input graph
    val direct = scoredPairs(attachedAll
      .where(col("a") < col("b"))
      .select(col("a").as("src_id"), col("b").as("neighbor_id"),
        col("_v").as("_va"))
      .join(vecs, col("neighbor_id") === col("_vid"))
      .select(col("src_id"), col("neighbor_id"), col("_va"),
        col("_v").as("_vb")))
    // the same pair arrives once per shared intermediate — identical
    // scored triples, deduped slim (the knnGraphCells nProbe pattern),
    // and deduped BEFORE the mirror explode (r22): every scored row has
    // src < neighbor and the mirror is injective on ordered pairs, so
    // distinct-then-mirror emits exactly what mirror-then-distinct did,
    // through a dedup exchange carrying HALF the rows.
    val deduped = expanded.unionAll(direct).distinct()
    val mirroredAll = deduped
      .select(col("_cos"), explode(array(
          struct(col("src_id"), col("neighbor_id")),
          struct(col("neighbor_id").as("src_id"),
            col("src_id").as("neighbor_id")))).as("_e"))
      .select(col("_e.src_id").as("src_id"),
        col("_e.neighbor_id").as("neighbor_id"), col("_cos"))
    val wK = Window.partitionBy(col("src_id"))
      .orderBy(col("_cos").desc, col("neighbor_id"))
    mirroredAll
      .withColumn("rnk", row_number().over(wK))
      .where(col("rnk") <= k)
      .select(col("src_id"), col("neighbor_id"), col("rnk"),
        round(col("_cos"), 4).as("cos"))
  }

  /** Fixed-count NN-descent iteration: run [[knnRefine]] `rounds`
    * times, feeding each round's graph into the next. Recall is
    * non-decreasing per round on the candidates it can see (each
    * round's output re-ranks a SUPERSET containing the previous
    * edges), and in practice a handful of rounds converge to
    * brute-force on clusterable data (Dong et al. report 90%+ recall
    * within ~5 rounds) — the quality ceiling knob for SemDeDup built
    * on the cell-gated graph. Fixed rounds keep the determinism
    * contract; per-round `localCheckpoint` truncates the iterated
    * lineage (the Components loop discipline).
    */
  def knnRefineIterated(emb: DataFrame, idCol: String, arrCol: String,
                        graph: DataFrame, k: Int, rounds: Int,
                        maxDegree: Int = 1 << 12): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be positive")
    var g = graph
    var r = 0
    while (r < rounds) {
      // iterated frame: lineage truncation is the point here (the plan
      // would grow per round), so localCheckpoint stays — the Components
      // loop discipline — but at DISK_ONLY so the edge list is not
      // duplicated in storage memory across rounds. Durability waiver
      // as in Components: a reliable checkpoint dir is the cluster fix.
      g = knnRefine(emb, idCol, arrCol, g, k, maxDegree)
        .localCheckpoint(eager = true, storageLevel = StorageLevel.DISK_ONLY)
      r += 1
    }
    g
  }

  /** NN-descent with EARLY TERMINATION (the convergence knob of Dong
    * et al. WWW 2011 §2.3): iterate [[knnRefine]] until a round
    * changes at most `ceil(tol · |edges|)` directed edges — the
    * SYMMETRIC difference (additions PLUS removals) of the new edge
    * set vs the previous one, an id-only edge-sized aggregate, never
    * a vector shuffle — or until `maxRounds`. Counting both sides
    * matters on the first round: an input graph with per-source
    * degree > k is cut down to k edges per source, and a
    * removals-blind count would read that round as a fixed point
    * even though the next round re-ranks a genuinely different
    * graph. On a converged graph a further round re-ranks the
    * same candidate set to the same top-k, so every extra iteration
    * is pure waste; real corpora converge in a handful of rounds
    * while a fixed-count loop would keep paying the O(Σ deg²)
    * expansion regardless. At 100 TB that skipped round is the whole
    * point of the knob.
    *
    * Determinism: the changed-edge count is a pure function of the
    * data, so the stop round replays identically. With `tol = 0`
    * (stop only at an exact fixed point) the result is
    * oracle-replayable by an unrolled `maxRounds`-round SQL twin —
    * a fixed point is idempotent under further rounds, so stopping
    * early cannot diverge from the fixed-count answer.
    *
    * Returns the refined graph plus the per-round changed-edge
    * telemetry (driver-side scalars — one count per executed round,
    * the curation signal for picking `maxRounds` on a new corpus).
    */
  def knnRefineConverged(emb: DataFrame, idCol: String, arrCol: String,
                         graph: DataFrame, k: Int, maxRounds: Int,
                         tol: Double = 0.0,
                         maxDegree: Int = 1 << 12): RefineConverged = {
    require(maxRounds >= 1, s"maxRounds=$maxRounds must be positive")
    require(tol >= 0 && tol < 1, s"tol=$tol out of [0, 1)")
    // distinct: the loop compares EDGE SETS round over round, and the
    // caller's graph may carry duplicate rows (knnRefine itself
    // dedupes internally, so the refined output is unaffected)
    // iterated loop frames: localCheckpoint (lineage truncation — the
    // Components discipline) at DISK_ONLY; see knnRefineIterated's note
    var g = graph.select(col("src_id"), col("neighbor_id")).distinct()
      .localCheckpoint(eager = true, storageLevel = StorageLevel.DISK_ONLY)
    var full: DataFrame = graph
    val changed = Seq.newBuilder[Long]
    var r = 0
    var converged = false
    while (r < maxRounds && !converged) {
      full = knnRefine(emb, idCol, arrCol, g, k, maxDegree)
        .localCheckpoint(eager = true, storageLevel = StorageLevel.DISK_ONLY)
      val next = full.select(col("src_id"), col("neighbor_id"))
      // symmetric difference AND the new-edge total in ONE driver
      // action: tag each side, group by edge (both sides are
      // duplicate-free, so a group size of 1 means exactly-one-side),
      // then fold to two scalars. At 100 TB every extra action is a
      // full pass over the checkpointed edge list per round — the
      // previous shape (anti-join count + a second count() for the
      // tol denominator) paid two.
      val tagged = next.select(col("src_id"), col("neighbor_id"),
          lit(1L).as("_in_next"))
        .unionAll(g.select(col("src_id"), col("neighbor_id"),
          lit(0L).as("_in_next")))
      val scalars = tagged.groupBy(col("src_id"), col("neighbor_id"))
        .agg(sum(col("_in_next")).as("_n"), count(lit(1)).as("_c"))
        .agg(
          coalesce(sum(when(col("_c") === 1L, 1L).otherwise(0L)), lit(0L))
            .as("_delta"),
          coalesce(sum(col("_n")), lit(0L)).as("_total"))
        .head()
      val delta = scalars.getLong(0)
      val total = scalars.getLong(1)
      changed += delta
      converged =
        if (tol == 0.0) delta == 0L
        else delta <= math.ceil(tol * total).toLong
      g = next
      r += 1
    }
    RefineConverged(full, r, changed.result())
  }

  def knnCommunities(emb: DataFrame, idCol: String, arrCol: String,
                     centersLong: DataFrame, centerCol: String, k: Int,
                     nProbe: Int = 1, rounds: Int = 4): DataFrame = {
    // both sides of the mutuality join read this; corpus-proportional
    // edge list — DISK_ONLY persist per the r9 durability criterion
    val g = graft.core.Caches.track(
      knnGraphCells(emb, idCol, arrCol, centersLong, centerCol,
        k, nProbe).persist(StorageLevel.DISK_ONLY))
    val mutual = g.as("a").join(g.as("b"),
        col("a.src_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.src_id"), "left_semi")
      .select(col("src_id"), col("neighbor_id"))
    val lab = graft.operators.Graph.labelPropagation(
      mutual, "src_id", "neighbor_id", rounds)
    emb.select(col(idCol).cast("long").as("id"))
      .join(lab, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("community"))
  }

  /** Greedy k-center coreset (Gonzalez 1985; the farthest-point
    * traversal behind coreset/data-pruning selection à la Sener &
    * Savarese 2018): seed at the lowest id, then k−1 rounds of "select
    * the point farthest (L2) from everything selected so far". The
    * selected set 2-approximates the optimal k-center cover — the
    * diversity-maximizing sample for curating a training subset from
    * an embedded corpus.
    *
    * Determinism: seed and every tie (equal min-distances) break by
    * lowest id, so the traversal is a pure function of the embedding
    * column and an unrolled SQL oracle replays it round for round.
    *
    * Scale shape: the running min-distance frame is ONE column updated
    * map-side per round against the newly selected vector (a 1-row
    * broadcast crossJoin — never the full selected set: the classic
    * O(nk) trick of folding mind = least(mind, d(x, new))). Each round
    * costs one native-l2sq map pass + one min-struct argmax aggregate
    * (map-side combinable, no sort); `localCheckpoint` truncates the
    * per-round lineage. Total work O(n·k·d) — linear in the corpus,
    * never quadratic; the only driver state is the round counter.
    *
    * Returns (sel_rank, id, radius): selection order and the L2
    * distance (rounded, 6) from the selected point to its nearest
    * prior selection — a non-increasing sequence whose tail bounds
    * the cover radius of the whole corpus.
    */
  def kCenterCoreset(emb: DataFrame, idCol: String, arrCol: String,
                     k: Int): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    require(k >= 1, s"k=$k must be positive")
    // corpus-sized with vectors and read every round — DISK_ONLY
    // persist per the r9 durability criterion (count() below
    // materializes it eagerly)
    val pts = emb.select(col(idCol).cast("long").as("id"),
      col(arrCol).cast("array<double>").as("_v"))
      .persist(StorageLevel.DISK_ONLY)
    // the count doubles as the eager materialization; k beyond the
    // corpus would make the argmax aggregate empty mid-traversal and
    // silently truncate the selection
    val n = pts.count()
    require(k <= n, s"k=$k exceeds the corpus size $n")
    val seed = pts.agg(min(col("id")).as("_sid"))
    // sel / nextRow are ≤ k rows (metadata-scale): plain localCheckpoint
    // is fine by the r9 criterion, and the truncation keeps the k-round
    // union plan flat
    var sel = pts.join(broadcast(seed), col("id") === col("_sid"))
      .select(lit(1).as("sel_rank"), col("id"), col("_v"),
        lit(0.0).as("_rad"))
      .localCheckpoint()
    // cur is corpus-sized AND iterated: lineage truncation is required
    // (the min-fold plan would nest k deep), so localCheckpoint stays —
    // the Components loop discipline — at DISK_ONLY to keep k rounds of
    // blocks out of storage memory. Durability waiver as in Components.
    var cur = graft.core.Caches.pin(pts
      .crossJoin(broadcast(sel.select(col("_v").as("_sv"))))
      .select(col("id"), col("_v"),
        graft.plans.GraftExpressions.l2sq(col("_v"), col("_sv")).as("_mind")),
      StorageLevel.DISK_ONLY)
    for (r <- 2 to k) {
      // argmax mind, ties to lowest id, over not-yet-selected points
      val next = cur.df
        .join(sel.select(col("id")), Seq("id"), "left_anti")
        .agg(min(struct((-col("_mind")).as("nm"), col("id").as("nid"))).as("_x"))
        .select(col("_x.nid").as("_nid"), (-col("_x.nm")).as("_nd"))
      val nextRow = cur.df.crossJoin(broadcast(next))
        .where(col("id") === col("_nid"))
        .select(lit(r).as("sel_rank"), col("id"), col("_v"),
          col("_nd").as("_rad"))
        .localCheckpoint()
      sel = sel.unionByName(nextRow).localCheckpoint()
      val folded = graft.core.Caches.pin(cur.df
        .crossJoin(broadcast(nextRow.select(col("_v").as("_sv"))))
        .select(col("id"), col("_v"),
          least(col("_mind"),
            graft.plans.GraftExpressions.l2sq(col("_v"), col("_sv")))
            .as("_mind")), StorageLevel.DISK_ONLY)
      // The round's checkpoint supersedes the previous one the moment it
      // is (eagerly) materialized — without this release the traversal
      // keeps k CORPUS-SIZED block sets alive at once (k=32 ⇒ 32× the
      // corpus on executor disks; the Components round discipline).
      cur.free(blocking = false)
      cur = folded
    }
    // sel is (eagerly) checkpointed ≤k rows — the result no longer reads
    // pts or cur, so both release NOW instead of leaking for the session
    // (the Curation materialize-then-unpersist discipline).
    cur.free(blocking = false)
    pts.unpersist(blocking = false)
    sel.select(col("sel_rank"), col("id"),
      (round(sqrt(col("_rad")), 6) + lit(0.0)).as("radius"))
  }

  def quantizeInt8(emb: DataFrame, idCol: String, arrCol: String): DataFrame =
    emb
      .withColumn("_v", col(arrCol).cast("array<double>"))
      .withColumn("_ma",
        nullif(expr("aggregate(_v, 0D, (acc, x) -> greatest(acc, abs(x)))"),
          lit(0.0)))
      .withColumn("q_scale", col("_ma") / lit(127.0))
      .withColumn("q",
        expr("transform(_v, x -> CAST(round(x * 127D / _ma) AS INT))"))
      .withColumn("q_err_l2",
        sqrt(expr(
          "aggregate(zip_with(_v, q, (x, qi) -> pow(x - qi * q_scale, 2)), " +
            "0D, (acc, e) -> acc + e)")))
      .drop("_v", "_ma")
}

/** Result of [[Similarity.knnRefineConverged]]: the refined graph,
  * the number of NN-descent rounds actually executed, and the
  * directed-edge change count each round reported — the symmetric
  * difference (additions + removals) of the round's edge set vs the
  * previous one (monotone-ish decreasing on clusterable data; the
  * last entry is at or under the tolerance when the loop stopped
  * before `maxRounds`).
  */
final case class RefineConverged(graph: org.apache.spark.sql.DataFrame,
                                 roundsRun: Int,
                                 changedPerRound: Seq[Long])
