package graft.dedup

import graft.functions.GraftFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for training-data pipelines (north-star extension;
  * SURVEY §7 phase 7). All variants are declarative DataFrame plans with
  * engine-portable md5-based hashing (see [[graft.functions.GraftFunctions]])
  * so every stage is oracle-checkable.
  *
  * Algorithms follow the published literature: MinHash resemblance
  * estimation and shingling (Broder, "On the resemblance and containment
  * of documents", SEQUENCES 1997), LSH banding (Indyk & Motwani, STOC
  * 1998; banding analysis as in Rajaraman & Ullman, "Mining of Massive
  * Datasets" ch. 3), and SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002; web-scale use as in
  * Manku et al., WWW 2007).
  *
  * 100 TB design: the only pairwise computation ever performed is on
  * CANDIDATE pairs emitted by banding/bucketing — never a full self-join.
  * Exact dedup is hash-groupBy (linear); minhash signatures are one
  * explode+groupBy (linear); band candidates are an equi-join on band
  * signature (linear in bucket sizes); verification jaccard runs only on
  * candidates. Skewed buckets (a shingle shared by millions of docs) are
  * handled by AQE skew-join splitting plus the `maxBucket` guard.
  */
object Dedup {

  // Unique suffix for `observe` metric names: two capped stages in one
  // query plan (e.g. the dedup capstone unions several edge sources)
  // would otherwise collide on the observation name.
  private val obsId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Distinct word n-gram shingles per document. Implemented with an array
    * lambda (no joins, stays in codegen): doc → transform(sequence) →
    * array_distinct → explode. Deduping INSIDE the row (`array_distinct`)
    * is equivalent to a global distinct on (id, shingle) — the id is part
    * of every row — but costs zero shuffles, which matters because the
    * dedup pipelines rescan this relation several times (signatures,
    * jaccard sizes, jaccard pair sides).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= n)
      .select(col(idCol),
        explode(array_distinct(expr(
          s"transform(sequence(1, size(_toks) - ${n - 1}), " +
            s"i -> concat_ws(' ', ${(0 until n).map(k => s"_toks[i + ${k - 1}]").mkString(", ")}))")))
          .as("shingle"))
  }

  /** Exact-duplicate statistics: total vs distinct under (a) raw text and
    * (b) order-insensitive bag-of-words canonicalization. Hash-groupBy —
    * the linear-scan exact-dedup path.
    */
  def exactStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col(textCol))).as("n_unique_text"),
      countDistinct(md5(array_join(sort_array(split(col(textCol), " ")), " ")))
        .as("n_unique_bow"))

  /** Keep-first exact dedup: one survivor per identical text (min id). */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    docs.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** MinHash signatures in long form (id, h, minhash): for each of
    * `numHashes` seeded hash functions, the min over the doc's shingles.
    * One posexplode + one groupBy — linear, partial-agg friendly, no
    * driver state. The whole seed family is computed by ONE native
    * expression eval per shingle ([[graft.plans.Md5SeedHashes]]):
    * same oracle-pinned md5 values, none of the per-seed concat /
    * hex-string / base-16-parse machinery of the declarative form.
    */
  def minhashSignatures(shingleDf: DataFrame, idCol: String, numHashes: Int = 8): DataFrame = {
    graft.plans.GraftExpressions.register(shingleDf.sparkSession)
    // One min-aggregate column per seed over groupBy(id), then posexplode
    // AFTER aggregation — not posexplode-per-shingle + groupBy(id, h),
    // which pushes numHashes× the rows through the exchange. Same values
    // (spec-pinned against inRowSignature), 8× less shuffle input.
    val minCols = (0 until numHashes).map(j =>
      min(element_at(col("_mh"), j + 1)).as(s"_m$j"))
    shingleDf
      .select(col(idCol), graft.plans.GraftExpressions.md5SeedHashes(
        col("shingle"), lit(numHashes)).as("_mh"))
      .groupBy(col(idCol))
      .agg(minCols.head, minCols.tail: _*)
      .select(col(idCol), posexplode(
        array((0 until numHashes).map(j => col(s"_m$j")): _*))
        .as(Seq("h", "minhash")))
  }
  // Note: hashing each DISTINCT shingle once and joining back was measured
  // SLOWER here (9.1s vs 5.2s at sf0.1) — the distinct+broadcast join costs
  // more than the md5 savings while partial-agg min already bounds the
  // shuffle at |docs|×|hashes|. Inline hashing is the keeper.

  /** One-pass minhash via the typed [[MinHashAgg]] Aggregator: no row
    * multiplication, buffer = running minima, partial-agg merged. The
    * throughput path; [[minhashSignatures]] stays the oracle-checked twin
    * (different hash family, same semantics).
    *
    * Base hash is `xxhash64` — a native codegen expression, an order of
    * magnitude cheaper per shingle than md5 (which runs a MessageDigest
    * through reflection-free but still heavyweight JNI-less Java). md5
    * belongs only where a SQL oracle must reproduce the value; the sign
    * bit is masked off so the splitmix family derivation sees the same
    * non-negative domain either way.
    */
  def minhashSignaturesFast(shingleDf: DataFrame, idCol: String,
                            numHashes: Int = 8): DataFrame = {
    val spark = shingleDf.sparkSession
    import spark.implicits._
    val hashed = shingleDf
      .select(col(idCol).cast("long"),
        xxhash64(col("shingle")).bitwiseAND(lit(Long.MaxValue)))
      .as[(Long, Long)]
    hashed.groupByKey(_._1)
      .mapValues(_._2)
      .agg(new MinHashAgg(numHashes).toColumn.name("sig"))
      .toDF(idCol, "sig")
  }

  /** Band signature strings per (id, band) from long-form signatures.
    * Band signature = the band's minhashes joined in h order. Each h
    * occurs exactly once per doc, so position j of the band is
    * min(when(h % rowsPerBand = j)) — plain codegen'd HashAggregate.
    * (The obvious collect_list(struct)+array_sort+transform formulation
    * runs the sort comparator and lambda through the expression
    * interpreter per group — measured 3× the cost of the whole rest of
    * the banding stage.) Shared by [[minhashBandCandidates]] and the
    * static index side of [[nearDupAgainstIndex]].
    */
  def bandSignatures(signatures: DataFrame, idCol: String,
                     rowsPerBand: Int = 2): DataFrame = {
    val slots = (0 until rowsPerBand).map(j =>
      min(when(pmod(col("h"), lit(rowsPerBand)) === j, col("minhash")))
        .cast("string"))
    signatures
      .withColumn("band", (col("h") / rowsPerBand).cast("int"))
      .groupBy(col(idCol), col("band"))
      .agg(concat_ws("-", slots: _*).as("band_sig"))
  }

  /** Whole minhash signature computed IN-ROW (one `array<long>` per doc,
    * no aggregation): shingle lambda → native seeded-md5 family per
    * shingle → elementwise-min fold. Values are bit-identical to the
    * aggregated [[minhashSignatures]] (spec-pinned); the shape matters
    * because a per-row plan carries NO state — it runs unchanged on a
    * STREAMING frame, which a groupBy signature cannot (unbounded
    * aggregation state). The signature path for stream-side docs in
    * [[nearDupAgainstIndex]].
    */
  def inRowSignature(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, numHashes: Int = 8,
                     passthroughCols: Seq[String] = Nil): DataFrame = {
    graft.plans.GraftExpressions.register(docs.sparkSession)
    val shingleExpr = s"transform(sequence(1, size(_toks) - ${n - 1}), " +
      s"i -> concat_ws(' ', ${(0 until n).map(k => s"_toks[i + ${k - 1}]").mkString(", ")}))"
    // passthroughCols ride along UNPROJECTED (same attribute), so
    // stream metadata pinned to them — a watermark above all — survives
    // into the signature frame (the event-time gate depends on it)
    docs
      .select(col(idCol) +: passthroughCols.map(col) :+
        split(col(textCol), " ").as("_toks"): _*)
      .where(size(col("_toks")) >= n)
      .select(col(idCol) +: passthroughCols.map(col) :+
        expr(s"aggregate(array_distinct($shingleExpr), " +
          s"array_repeat(9223372036854775807L, $numHashes), " +
          s"(acc, s) -> zip_with(acc, graft_md5_seed_hashes(s, $numHashes), " +
          "(a, b) -> least(a, b)))").as("sig"): _*)
  }

  /** Streaming near-dup gate: band the in-row signatures and join
    * (stream-static — STATELESS, re-evaluated per micro-batch) against a
    * static `(band, band_sig)` index built from the existing corpus via
    * [[bandSignatures]]. Returns the ids of incoming docs that collide
    * with any indexed bucket — the "is this new document a near-dup of
    * the corpus?" gate of an ingestion pipeline. Works identically on
    * batch frames. Note: the final per-id dropDuplicates is the one
    * stateful step on a streaming frame; bound it with a watermark on
    * the caller's side for continuous (non-AvailableNow) runs.
    */
  def nearDupAgainstIndex(docs: DataFrame, bandIndex: DataFrame,
                          idCol: String, textCol: String, n: Int = 3,
                          numHashes: Int = 8,
                          rowsPerBand: Int = 2): DataFrame = {
    val nb = numHashes / rowsPerBand
    val sig = inRowSignature(docs, idCol, textCol, n, numHashes)
    val bandCols = s"transform(sequence(0, ${nb - 1}), " +
      s"b -> concat_ws('-', transform(sequence(0, ${rowsPerBand - 1}), " +
      s"j -> cast(sig[b * $rowsPerBand + j] as string))))"
    sig
      .select(col(idCol), posexplode(expr(bandCols)).as(Seq("band", "band_sig")))
      .join(bandIndex.select(col("band"), col("band_sig")),
        Seq("band", "band_sig"), "left_semi")
      .dropDuplicates(idCol)
  }

  /** Incremental-ingest near-dup CANDIDATE PAIRS: incoming docs against
    * a static band index that carries its doc ids — the batch shape of
    * daily-increment dedup at 100 TB, where the corpus index is a
    * materialized (band, band_sig, id) table and each increment pays
    * only its own signatures plus one bucket join; the existing corpus
    * is never re-scanned. Where [[nearDupAgainstIndex]] only FLAGS
    * incoming docs (the streaming gate), this returns (new_id,
    * index_id, n_shared_bands) — the provenance a keeper policy needs
    * (which existing doc collides, at what banding confidence:
    * P[band agrees] = jaccard^rowsPerBand, so shared-band count is a
    * monotone similarity signal before any verify step).
    */
  def nearDupPairsAgainstIndex(docs: DataFrame, indexBands: DataFrame,
                               idCol: String, textCol: String,
                               indexIdCol: String, n: Int = 3,
                               numHashes: Int = 8,
                               rowsPerBand: Int = 2): DataFrame = {
    val nb = numHashes / rowsPerBand
    val sig = inRowSignature(docs, idCol, textCol, n, numHashes)
    val bandCols = s"transform(sequence(0, ${nb - 1}), " +
      s"b -> concat_ws('-', transform(sequence(0, ${rowsPerBand - 1}), " +
      s"j -> cast(sig[b * $rowsPerBand + j] as string))))"
    sig
      .select(col(idCol).as("new_id"),
        posexplode(expr(bandCols)).as(Seq("band", "band_sig")))
      .join(indexBands.select(col(indexIdCol).as("index_id"),
        col("band"), col("band_sig")), Seq("band", "band_sig"))
      .where(col("new_id") =!= col("index_id"))
      .groupBy(col("new_id"), col("index_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** EXACT Jaccard-threshold similarity join by prefix filtering
    * (AllPairs — Bayardo, Ma & Srikant, WWW 2007; the PPJoin family's
    * base filter): order each doc's distinct shingles rarest-first by
    * global document frequency, index only the first
    * |x| − ⌈t·|x|⌉ + 1 of them, and generate candidates by joining on
    * those prefix shingles alone. Pigeonhole guarantee: J(a,b) ≥ t
    * forces an overlap of at least ⌈t·max(|a|,|b|)⌉, so two docs
    * sharing NO prefix shingle cannot reach the threshold — recall is
    * EXACT, the property LSH banding trades away. The complement to
    * minhash in the toolbox: banding for recall-tolerant web-scale
    * sweeps, prefix filtering when the contract is "every pair above
    * t, provably".
    *
    * Scale shape: one document-frequency aggregate, one in-doc sort
    * (vocabulary-priced), a prefix-shingle equi-join on ids only,
    * then exact verification on the candidate set via the one-array-
    * row-per-doc join. Rarest-first ordering is what keeps prefix
    * buckets small — a stopword lands in nobody's prefix unless the
    * doc is nearly all stopwords. Selectivity improves as t rises
    * (prefix shrinks); at web-dedup thresholds (t ≥ 0.8) prefixes are
    * a few shingles per doc.
    */
  def ppJoinPairs(shingleDf: DataFrame, idCol: String,
                  threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold=$threshold out of (0, 1]")
    val spark = shingleDf.sparkSession
    import spark.implicits._
    graft.plans.GraftExpressions.register(spark)
    // feeds df-counts AND doc arrays; corpus-sized → DISK_ONLY persist
    // (r9 durability criterion)
    val sh = graft.core.Caches.track(shingleDf
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    // Vocabulary RANK-RECODING: dense global rank in rarest-first
    // (df, shingle) order via range-sort + zipWithIndex — a scalable
    // total order (no single-partition window; rank = position in the
    // global sort, deterministic regardless of partition boundaries).
    // Everything downstream runs on longs: the prefix candidate join
    // keys on an 8-byte rank instead of a shingle string (the big
    // exchange shrinks), doc arrays become strictly-increasing long
    // arrays, and verification becomes a native merge with early exit
    // (graft_sorted_overlap) instead of array_intersect's per-row
    // string hash set. Rank↔shingle is a bijection, so every Jaccard
    // value is unchanged. DISK_ONLY persist (r9 criterion — the vocab
    // is distinct-shingle-sized, i.e. corpus-scale): the (df, shingle)
    // sort is a TOTAL order, so zipWithIndex is deterministic and a
    // lost block recomputes to the identical rank assignment — the
    // retry-pinning localCheckpoint once bought is no longer needed.
    val vocab = graft.core.Caches.track(
      dfreq.orderBy(col("_df"), col("shingle"))
        .select(col("shingle")).as[String]
        .rdd.zipWithIndex.toDF("shingle", "_rk")
        .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // collect_set, not collect_list: the contract takes ANY shingleDf,
    // and a duplicate (id, shingle) row must not double-count in the
    // sorted-merge overlap the way it would in a list (set-Jaccard is
    // the published semantics; array_intersect's old path deduped too)
    val ordered = graft.core.Caches.track(sh.join(vocab, "shingle")
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("_rk"))).as("_toks"))
      // feeds prefix explode AND both verify sides; one array row per
      // doc carrying every shingle rank = corpus-sized → DISK_ONLY
      // persist (r9 criterion)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    // prefix with POSITIONS: the positional filter (PPJoin, Xiao et
    // al. WWW 2008) bounds the overlap reachable from a shared token
    // at (pa, pb) by 1 + min(|a|−pa−1, |b|−pb−1); rows under the
    // required overlap ⌈t/(1+t)·(|a|+|b|)⌉ can't contribute a
    // qualifying pair. Exact: the FIRST common token's row always
    // passes for a true pair (every common token sits at or after it
    // on both sides), so filtering per occurrence loses nothing.
    // Both ⌈·⌉ bounds subtract 1e-9 before ceil: when the exact
    // product is an integer, double arithmetic can land a hair ABOVE
    // it (0.25·10 → 2.0000000000000004), and a raw ceil would
    // over-tighten the exact filter and drop true boundary pairs with
    // J == t. The epsilon is far below the 1/(na·nb) granularity of
    // any real bound, so it can never LOOSEN a non-integer ceil.
    val pref = ordered
      .select(col(idCol), size(col("_toks")).as("_n"),
        posexplode(expr(s"slice(_toks, 1, size(_toks) - " +
          s"cast(ceil(${threshold}D * size(_toks) - 1e-9) as int) + 1)"))
          .as(Seq("_pos", "_rk")))
    val cand = pref.select(col(idCol).as("id_a"), col("_n").as("_na"),
        col("_pos").as("_pa"), col("_rk"))
      .join(pref.select(col(idCol).as("id_b"), col("_n").as("_nb"),
        col("_pos").as("_pb"), col("_rk")), "_rk")
      .where(col("id_a") < col("id_b"))
      .where(lit(1) +
        least(col("_na") - col("_pa") - 1, col("_nb") - col("_pb") - 1) >=
        ceil(lit(threshold) / (1 + threshold) * (col("_na") + col("_nb"))
          - lit(1e-9)))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // verification: required overlap from the sizes, then the native
    // early-exit merge — a cold candidate exits after a few primitive
    // comparisons; survivors report the EXACT intersection
    cand
      .join(ordered.select(col(idCol).as("id_a"), col("_toks").as("_aa")),
        "id_a")
      .join(ordered.select(col(idCol).as("id_b"), col("_toks").as("_ab")),
        "id_b")
      .withColumn("_req",
        ceil(lit(threshold) / (1 + threshold) *
          (size(col("_aa")) + size(col("_ab"))) - lit(1e-9)).cast("int"))
      .withColumn("inter", graft.plans.GraftExpressions.sortedOverlap(
        col("_aa"), col("_ab"), col("_req")))
      .withColumn("jaccard",
        col("inter") / (size(col("_aa")) + size(col("_ab")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Band-index MAINTENANCE across an increment: compute the incoming
    * docs' band rows from in-row signatures (bit-identical to the
    * aggregated path — spec-pinned) and append them to the
    * materialized (id, band, band_sig) index. Append-only by design —
    * at 100 TB the standing index is never shuffled or re-scanned, so
    * re-ingesting an already-indexed id is the CALLER's invariant to
    * hold (it would duplicate that id's rows). The oracle contract
    * that makes this operator trustworthy: merging the increment into
    * yesterday's index equals rebuilding the index from the full
    * corpus, row for row (`dedup_index_rebuild`) — incremental
    * maintenance introduces no drift.
    */
  def mergeBandIndex(indexBands: DataFrame, docs: DataFrame,
                     idCol: String, textCol: String, n: Int = 3,
                     numHashes: Int = 8,
                     rowsPerBand: Int = 2): DataFrame = {
    indexBands.select(col(idCol), col("band"), col("band_sig"))
      .unionByName(
        bandRowsInRow(docs, idCol, textCol, n, numHashes, rowsPerBand))
  }

  /** (id, band, band_sig) rows from in-row signatures — the shared
    * construction of [[mergeBandIndex]] / [[nearDupPairsAgainstIndex]]
    * and the durable asset below.
    */
  private def bandRowsInRow(docs: DataFrame, idCol: String,
                            textCol: String, n: Int, numHashes: Int,
                            rowsPerBand: Int): DataFrame = {
    val nb = numHashes / rowsPerBand
    val bandCols = s"transform(sequence(0, ${nb - 1}), " +
      s"b -> concat_ws('-', transform(sequence(0, ${rowsPerBand - 1}), " +
      s"j -> cast(sig[b * $rowsPerBand + j] as string))))"
    inRowSignature(docs, idCol, textCol, n, numHashes)
      .select(col(idCol),
        posexplode(expr(bandCols)).as(Seq("band", "band_sig")))
  }

  private def bandMetaPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_banding")

  private def bandBucket(buckets: Int): Column =
    pmod(md5Long(concat_ws("|", col("band"), col("band_sig")), 8),
      lit(buckets))

  /** Durable LSH band-index asset — the third durable index (the
    * positional index's and IVF asset's dedup sibling): (id, band,
    * band_sig) rows bucket-partitioned by `sig_bucket =
    * md5(band|band_sig) % buckets`, with the FOUR banding knobs
    * (shingle n, numHashes, rowsPerBand, buckets) riding inside the
    * asset as the `_graft_banding` sidecar. They are asset facts, not
    * read-side parameters: a query that signed its docs with a
    * different n/numHashes/rowsPerBand would hash into disjoint
    * (band, band_sig) keys and silently return ZERO candidates — the
    * `_graft_buckets` lesson applied to four knobs at once. Clustered
    * write (one file per bucket per write); sidecar written after the
    * data commit.
    */
  def writeBandIndex(docs: DataFrame, idCol: String, textCol: String,
                     path: String, n: Int = 3, numHashes: Int = 8,
                     rowsPerBand: Int = 2, buckets: Int = 64): Unit = {
    require(numHashes % rowsPerBand == 0 && buckets >= 1,
      s"need rowsPerBand | numHashes and buckets >= 1: " +
        s"$numHashes/$rowsPerBand, $buckets")
    bandRowsInRow(docs, idCol, textCol, n, numHashes, rowsPerBand)
      .withColumn("sig_bucket", bandBucket(buckets))
      .repartition(col("sig_bucket"))
      .write.partitionBy("sig_bucket").mode("overwrite").parquet(path)
    val p = bandMetaPath(path)
    val fs = p.getFileSystem(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$n,$numHashes,$rowsPerBand,$buckets"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The banding knobs a [[writeBandIndex]] asset was built with:
    * (n, numHashes, rowsPerBand, buckets). Fails loudly on a directory
    * that is not a band-index asset.
    */
  def bandIndexMeta(spark: org.apache.spark.sql.SparkSession,
                    path: String): (Int, Int, Int, Int) = {
    val p = bandMetaPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path has no _graft_banding metadata - not a writeBandIndex asset")
    val in = fs.open(p)
    val txt = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8).trim finally in.close()
    val Array(n, h, r, b) = txt.split(",").map(_.toInt)
    (n, h, r, b)
  }

  /** Incremental maintenance for a [[writeBandIndex]] asset: the NEW
    * docs' band rows are computed with the ASSET'S OWN banding knobs
    * and appended into the same sig_bucket partitions — merge ≡ rebuild
    * row-for-row (the mergePositionalIndex contract; `dedup_band_index`
    * shares `dedup_incremental_pairs`' oracle verbatim). Increment doc
    * ids must be NEW — the [[mergeBandIndex]] caller invariant.
    */
  def mergeBandIndexAsset(docs: DataFrame, idCol: String,
                          textCol: String, path: String): Unit = {
    val (n, h, r, buckets) = bandIndexMeta(docs.sparkSession, path)
    bandRowsInRow(docs, idCol, textCol, n, h, r)
      .withColumn("sig_bucket", bandBucket(buckets))
      .repartition(col("sig_bucket")) // one file per bucket per append
      .write.partitionBy("sig_bucket").mode("append").parquet(path)
  }

  /** Candidate near-dup pairs of a query/increment batch against a
    * [[writeBandIndex]] asset — [[nearDupPairsAgainstIndex]] with the
    * index read from its durable form: the batch's band rows are
    * computed with the asset's own knobs, their DISTINCT sig_buckets
    * (bounded by the bucket modulus, never the batch) are pushed as
    * partition filters, and the pruned asset joins on
    * (band, band_sig). The batch band-row frame feeds BOTH the probe
    * collect and the join, so it is persisted and tracked
    * ([[graft.core.Caches]] — the queryIvfIndexed discipline). Output
    * (new_id, index_id, n_shared_bands), self-matches dropped.
    */
  def queryBandIndex(spark: org.apache.spark.sql.SparkSession,
                     path: String, docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val (n, h, r, buckets) = bandIndexMeta(spark, path)
    val qRows = graft.core.Caches.track(
      bandRowsInRow(docs, idCol, textCol, n, h, r)
        .withColumn("sig_bucket", bandBucket(buckets))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val probed = qRows.select(col("sig_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    spark.read.parquet(path)
      .where(col("sig_bucket").isInCollection(probed))
      .select(col(idCol).as("index_id"), col("band"), col("band_sig"))
      .join(qRows.select(col(idCol).as("new_id"), col("band"),
        col("band_sig")), Seq("band", "band_sig"))
      .where(col("new_id") =!= col("index_id"))
      .groupBy(col("new_id"), col("index_id"))
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** Rewrite a band-index asset's accumulated per-increment small files
    * to one per bucket (selective when `minFilesPerPartition` > 1 — see
    * [[graft.sources.AssetMaintenance]]). compact ≡ no-op at row level.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
                       path: String, maxRecordsPerFile: Long = 0L,
                       minFilesPerPartition: Int = 1): (Long, Long) = {
    bandIndexMeta(spark, path) // fail loudly on a non-asset dir
    graft.sources.AssetMaintenance.compactPartitionedAsset(
      spark, path, "sig_bucket", maxRecordsPerFile, minFilesPerPartition)
  }

  /** LSH banding: group `rowsPerBand` consecutive hashes into a band
    * signature string; docs sharing any (band, signature) are candidates.
    * Returns distinct candidate pairs (id_a < id_b).
    *
    * Shape: bucket-groupBy + in-row pair generation (one aggregation over
    * the bucket, pairs emitted by an array lambda) instead of a
    * signature self-join — half the exchanges, and the `maxBucket` guard
    * bounds the quadratic blow-up of a degenerate bucket (a band
    * signature shared by a huge near-duplicate cluster) by dropping it;
    * at 100 TB such buckets are exactly the ones you handle separately.
    */
  /** LSH S-curve auto-tuner: solve (bands, rowsPerBand) from a target
    * Jaccard threshold and a false-positive budget, closing the last
    * manual knob in the banding surface. For every rowsPerBand
    * r ∈ 1..numHashes (bands b = ⌊numHashes/r⌋), the collision
    * probability of a pair at similarity j is the standard S-curve
    * p(j) = 1 − (1 − jʳ)ᵇ (Leskovec/Rajaraman/Ullman, MMDS ch. 3).
    * The tuner publishes the full curve family — p at the target
    * threshold (catch probability) and p at `fpJaccard` (how often a
    * clearly-dissimilar pair still collides) — and marks `chosen` the
    * config maximizing catch probability SUBJECT TO the fp budget
    * (ties: fewer bands = smaller index, then larger r). If no config
    * meets the budget, the ranking degrades gracefully to the best
    * catch probability overall rather than failing.
    *
    * Everything is a pure arithmetic function of the three scalars —
    * numHashes rows total, a metadata-scale frame (the global window
    * sorts ≤ numHashes rows; nothing here touches the corpus).
    */
  def tuneBands(spark: org.apache.spark.sql.SparkSession, numHashes: Int,
                threshold: Double, fpJaccard: Double = 0.2,
                fpBudget: Double = 0.05): DataFrame = {
    require(numHashes >= 1, s"numHashes=$numHashes must be positive")
    require(threshold > 0 && threshold < 1,
      s"threshold=$threshold out of (0, 1)")
    require(fpJaccard > 0 && fpJaccard < threshold,
      s"fpJaccard=$fpJaccard must sit below the target threshold")
    require(fpBudget > 0 && fpBudget < 1, s"fpBudget=$fpBudget out of (0, 1)")
    val w = Window.orderBy(col("_meets").desc, col("_pt").desc,
      col("bands").asc, col("rows_per_band").desc)
    spark.range(1, numHashes + 1L)
      .select(col("id").cast("int").as("rows_per_band"))
      .withColumn("bands",
        floor(lit(numHashes) / col("rows_per_band")).cast("int"))
      .withColumn("_pt", lit(1.0) -
        pow(lit(1.0) - pow(lit(threshold), col("rows_per_band")),
          col("bands")))
      .withColumn("_pfp", lit(1.0) -
        pow(lit(1.0) - pow(lit(fpJaccard), col("rows_per_band")),
          col("bands")))
      .withColumn("_meets", (col("_pfp") <= lit(fpBudget)).cast("int"))
      .withColumn("chosen", row_number().over(w) === 1)
      .select(col("rows_per_band"), col("bands"),
        (round(col("_pt"), 6) + lit(0.0)).as("p_at_threshold"),
        (round(col("_pfp"), 6) + lit(0.0)).as("p_at_fp"),
        col("chosen"))
      .orderBy(col("rows_per_band"))
  }

  /** The tuner's argmax as driver-side scalars — same arithmetic as
    * [[tuneBands]] (Math.pow is what Spark's `pow` runs), no job.
    * Returns (bands, rowsPerBand).
    */
  def tunedBandConfig(numHashes: Int, threshold: Double,
                      fpJaccard: Double = 0.2,
                      fpBudget: Double = 0.05): (Int, Int) = {
    require(numHashes >= 1 && threshold > 0 && threshold < 1 &&
      fpJaccard > 0 && fpJaccard < threshold && fpBudget > 0 && fpBudget < 1,
      "tunedBandConfig: same domain as tuneBands")
    (1 to numHashes).map { r =>
      val b = numHashes / r
      val pt = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      val pfp = 1.0 - math.pow(1.0 - math.pow(fpJaccard, r), b)
      (if (pfp <= fpBudget) 0 else 1, -pt, b, -r)
    }.min match { case (_, _, b, negR) => (b, -negR) }
  }

  /** [[minhashBandCandidates]] with the banding solved from a target
    * threshold instead of a hand-picked rowsPerBand — the tuner wired
    * in as the default path. `numHashes` must be the signature length
    * `signatures` was built with. Hashes beyond bands·rowsPerBand are
    * dropped so only FULL bands form — a trailing partial band of
    * r′ < r rows would collide like an r′-row band and silently blow
    * the fp budget the tuner just enforced.
    */
  def minhashBandCandidatesTuned(signatures: DataFrame, idCol: String,
                                 numHashes: Int, threshold: Double,
                                 fpJaccard: Double = 0.2,
                                 fpBudget: Double = 0.05,
                                 maxBucket: Int = 1 << 16): DataFrame = {
    val (b, r) = tunedBandConfig(numHashes, threshold, fpJaccard, fpBudget)
    minhashBandCandidates(signatures.where(col("h") < b * r), idCol, r,
      maxBucket)
  }

  def minhashBandCandidates(signatures: DataFrame, idCol: String,
                            rowsPerBand: Int = 2,
                            maxBucket: Int = 1 << 16): DataFrame = {
    // Band signature = the band's minhashes joined in h order. Each h
    // occurs exactly once per doc, so position j of the band is
    // min(when(h % rowsPerBand = j)) — plain codegen'd HashAggregate.
    // (The obvious collect_list(struct)+array_sort+transform formulation
    // runs the sort comparator and lambda through the expression
    // interpreter per group — measured 3× the cost of the whole rest of
    // the banding stage.)
    val bands = bandSignatures(signatures, idCol, rowsPerBand)
    bands
      .groupBy(col("band"), col("band_sig"))
      // sort_array, NOT array_sort: array_sort's comparator is a lambda the
      // expression interpreter runs per comparison (measured ~10× this whole
      // stage); sort_array's natural ordering stays in codegen
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      // Truncation is observable, not silent: the cap protects against a
      // degenerate bucket going quadratic, but recall silently dropping
      // (and the uncapped DuckDB oracles going red) must be diagnosable.
      // `observe` rides the existing aggregation — zero extra jobs; the
      // metrics surface via QueryExecutionListener / ObservationManager.
      .observe(s"minhash_banding_${obsId.getAndIncrement()}",
        sum(when(size(col("_ids")) > maxBucket, 1).otherwise(0))
          .as("buckets_dropped"),
        sum(when(size(col("_ids")) > maxBucket, size(col("_ids")))
          .otherwise(0)).as("ids_in_dropped_buckets"))
      .where(size(col("_ids")).between(2, maxBucket))
      .select(explode(expr(
        "flatten(transform(_ids, (a, i) -> " +
          "transform(slice(_ids, i + 2, size(_ids) - i - 1), " +
          "b -> named_struct('id_a', a, 'id_b', b))))")).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
      .distinct()
  }

  /** SimHash: per-bit majority vote over shingle hashes. Linear: explode
    * bits × shingles, two groupBys. `bits` up to 60 (multiple of 4 — the
    * hash source is hex-prefix md5). Bit extraction and assembly are
    * INTEGER ops (`div`/`pmod` on longs, `pow` only as an exactly-
    * representable 2^j): a double division would silently corrupt bits
    * once the hash exceeds 2^53.
    */
  def simhash(shingleDf: DataFrame, idCol: String, bits: Int = 16): DataFrame = {
    require(bits % 4 == 0 && bits > 0 && bits <= 60,
      s"bits=$bits must be a positive multiple of 4, at most 60")
    // Native digest-prefix read (one eval per shingle) — bit-identical
    // to the declarative md5Long/conv form the oracle mirrors.
    graft.plans.GraftExpressions.register(shingleDf.sparkSession)
    val h = graft.plans.GraftExpressions.md5PrefixLong(
      col("shingle"), lit(bits / 4))
    // One groupBy with `bits` tally columns, not explode(bits)×shingles +
    // a (doc, bit) groupBy: same math, but no bits-fold row
    // multiplication (60-bit signatures over 260k shingles would
    // materialize and shuffle 15.6M rows) and a single exchange keyed by
    // doc. Bit extraction is a long bitwise AND (hash prefix < 2^60 is
    // nonnegative); integer ops only — a double division would silently
    // corrupt bits once the hash exceeds 2^53.
    // Measured (sf0.1, local[32], median-of-3, full bench set):
    // dedup_simhash 0.26–0.32s with this form, matching the explode
    // form's best round (r5 driver 0.24s). The r6 driver's 0.87s reading
    // did not reproduce locally under identical config — that whole run
    // carried 1.3–1.4× ambient drift; treat cross-round driver deltas
    // under ~0.5s as environment noise, not plan signal.
    val votes = (0 until bits).map { j =>
      sum(when(expr(s"(_h & ${1L << j}) != 0"), 1).otherwise(-1))
        .as(s"_t$j")
    }
    val assembled = (0 until bits).map { j =>
      when(col(s"_t$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    shingleDf
      .select(col(idCol), h.as("_h"))
      .groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), assembled.as("simhash"))
  }

  /** Fused signature pass: the whole minhash seed family AND the simhash
    * bit tally from ONE shingle explode and ONE per-doc exchange. When a
    * pipeline needs both detectors (e.g. provenance-tagged dedup), the
    * corpus-proportional work — tokenize, shingle, hash, shuffle-by-doc —
    * is the dominant cost at 100 TB; running [[minhashSignatures]] and
    * [[simhash]] separately pays it twice for identical inputs. Values
    * are bit-identical to both (same native expressions, same vote /
    * assembly arithmetic — spec-pinned), so the oracles don't move.
    *
    * Output: one row per doc, `sig array<long>` (posexplode to feed
    * [[bandSignatures]]/[[minhashBandCandidates]]) + `simhash long`
    * (feed [[simhashPairsBlocked]]). One row per doc — cheap to
    * `localCheckpoint` so both consumers read it without recomputing.
    */
  def fusedSignatures(shingleDf: DataFrame, idCol: String,
                      numHashes: Int = 8, bits: Int = 60): DataFrame = {
    require(bits % 4 == 0 && bits > 0 && bits <= 60,
      s"bits=$bits must be a positive multiple of 4, at most 60")
    graft.plans.GraftExpressions.register(shingleDf.sparkSession)
    val mh = graft.plans.GraftExpressions.md5SeedHashes(
      col("shingle"), lit(numHashes))
    val sh = graft.plans.GraftExpressions.md5PrefixLong(
      col("shingle"), lit(bits / 4))
    val minCols = (0 until numHashes).map(j =>
      min(element_at(col("_mh"), j + 1)).as(s"_m$j"))
    val votes = (0 until bits).map { j =>
      sum(when(expr(s"(_sh & ${1L << j}) != 0"), 1).otherwise(-1))
        .as(s"_t$j")
    }
    val assembled = (0 until bits).map { j =>
      when(col(s"_t$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    val aggs = minCols ++ votes
    // Relational 68-column hash aggregate, not a single-buffer typed
    // Aggregator: a UDAF is opaque to Catalyst, so a consumer reading
    // only `sig` or only `simhash` could no longer prune the aggregate
    // to 8 / 60 columns (measured at sf0.1: dedup_provenance_clusters
    // 5.15s via the Aggregator vs 4.45s relational).
    shingleDf
      .select(col(idCol), mh.as("_mh"), sh.as("_sh"))
      .groupBy(col(idCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(j => col(s"_m$j")): _*).as("sig"),
        assembled.as("simhash"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003 —
    * the MOSS algorithm): hash every token k-gram, then keep the MINIMUM
    * hash of each sliding window of `w` consecutive k-grams. Guarantee:
    * two documents sharing any run of at least `w + k - 1` tokens share a
    * fingerprint — LOCAL similarity detection (shared passages), which
    * whole-doc minhash can't see.
    *
    * Entirely in-row (k-gram hashing and window minima are array lambdas
    * over the token list; the native md5-prefix expression does the
    * hashing) — one projection, no aggregation state, runs unchanged on
    * streaming frames. Output is the exploded distinct (id, fp) set.
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k, w=$w must be positive")
    graft.plans.GraftExpressions.register(docs.sparkSession)
    val gramHashes =
      s"transform(sequence(1, size(_toks) - ${k - 1}), " +
        s"i -> graft_md5_prefix_long(concat_ws(' ', " +
        (0 until k).map(j => s"_toks[i + ${j - 1}]").mkString(", ") + "), 8))"
    docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= k + w - 1)
      // hash array materialized once per row, NOT inside the window
      // lambda (which would re-hash every k-gram per window: O(m*w) work
      // becomes O(m^2 * w))
      .select(col(idCol), expr(gramHashes).as("_h"))
      .select(col(idCol), explode(expr(
        s"array_distinct(transform(sequence(1, size(_h) - ${w - 1}), " +
          s"i -> array_min(slice(_h, i, $w))))")).as("fp"))
  }

  /** Candidate pairs from shared winnowing fingerprints: docs sharing at
    * least `minShared` selected hashes. Same bucket-groupBy + in-row pair
    * generation shape as [[minhashBandCandidates]] (maxBucket guards the
    * degenerate fingerprint), then a pair-count filter. Linear in bucket
    * sizes; pairwise work only on colliding docs.
    */
  def winnowCandidates(fingerprints: DataFrame, idCol: String,
                       minShared: Int = 2,
                       maxBucket: Int = 1 << 16): DataFrame =
    fingerprints
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .where(size(col("_ids")).between(2, maxBucket))
      .select(explode(expr(
        "flatten(transform(_ids, (a, i) -> " +
          "transform(slice(_ids, i + 2, size(_ids) - i - 1), " +
          "b -> named_struct('id_a', a, 'id_b', b))))")).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)

  /** MinHash Jaccard estimation: est = fraction of hash functions whose
    * minima agree — the estimator the signatures exist for (error
    * O(1/√H)). Runs on signatures only: after the one linear signature
    * pass, similarity of any pair costs O(H) integers, never a shingle
    * set intersection.
    */
  def minhashEstimate(signatures: DataFrame, idCol: String,
                      candidates: DataFrame, numHashes: Int): DataFrame = {
    val a = signatures.select(col(idCol).as("id_a"), col("h"), col("minhash").as("_ma"))
    val b = signatures.select(col(idCol).as("id_b"), col("h"), col("minhash").as("_mb"))
    candidates
      .join(a, "id_a")
      .join(b, Seq("id_b", "h"))
      .groupBy(col("id_a"), col("id_b"))
      .agg((sum(when(col("_ma") === col("_mb"), 1).otherwise(0)) /
        lit(numHashes.toDouble)).as("est_jaccard"))
  }

  /** SimHash near-duplicate pairs: hamming distance via `bit_count(xor)`
    * — integer ops on the compact signatures, never on the documents.
    * Quadratic signature cross join: correct at any scale where |docs|²
    * signature comparisons are affordable (they are integer ops, but
    * still quadratic). The scale path is [[simhashPairsBlocked]].
    */
  def simhashPairs(simhashes: DataFrame, idCol: String,
                   maxHamming: Int): DataFrame = {
    val a = simhashes.select(col(idCol).as("id_a"), col("simhash").as("_ha"))
    val b = simhashes.select(col(idCol).as("id_b"), col("simhash").as("_hb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("_ha").bitwiseXOR(col("_hb"))))
      .where(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-duplicate pairs via multi-block indexing (Manku,
    * Jain & Das Sarma, "Detecting near-duplicates for web crawling",
    * WWW 2007, §3): split the `bits`-bit signature into `maxHamming + 1`
    * equal blocks — by pigeonhole, two signatures within hamming
    * `maxHamming` agree EXACTLY on at least one block. Candidates = docs
    * sharing a (block index, block value); the hamming check then runs
    * only on candidates. Linear in corpus size + bucket-local pairing,
    * replacing [[simhashPairs]]'s |docs|² comparisons with ~|docs| ·
    * (maxHamming+1) bucket entries. 100% recall — the blocked result is
    * EQUAL to the exact cross-join result, not an approximation
    * (pinned by the `dedup_simhash_blocked` oracle and a spec test).
    */
  def simhashPairsBlocked(simhashes: DataFrame, idCol: String,
                          maxHamming: Int, bits: Int = 16,
                          maxBucket: Int = 1 << 16): DataFrame = {
    val nBlocks = maxHamming + 1
    require(bits > 0 && bits <= 60,
      s"bits=$bits out of range (1..60 — the md5-hex simhash domain)")
    require(bits % nBlocks == 0,
      s"bits=$bits must divide evenly into maxHamming+1=$nBlocks blocks")
    val blockBits = bits / nBlocks
    // Signatures ride along inside the bucket (struct of id + simhash),
    // so the signature relation is referenced exactly ONCE — a
    // join-back formulation re-evaluates the whole upstream simhash
    // chain per reference (measured 3× the cost on the bench corpus).
    simhashes
      .select(col(idCol).as("_id"), col("simhash"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"))
      // shiftright + a LONG modulus: simhash is non-negative (<= 60 bits),
      // so shiftright == div 2^k exactly. The modulus must be 1L << k —
      // an Int shift would wrap for blockBits >= 31 (1 << 60 == 1 << 28
      // on Int), silently corrupting block values and dropping pairs.
      .withColumn("blk_val",
        expr(s"pmod(shiftright(simhash, blk * $blockBits), ${1L << blockBits})"))
      .groupBy(col("blk"), col("blk_val"))
      .agg(sort_array(collect_list(struct(col("_id"), col("simhash")))).as("_members"))
      .observe(s"simhash_blocking_${obsId.getAndIncrement()}",
        sum(when(size(col("_members")) > maxBucket, 1).otherwise(0))
          .as("buckets_dropped"),
        sum(when(size(col("_members")) > maxBucket, size(col("_members")))
          .otherwise(0)).as("ids_in_dropped_buckets"))
      .where(size(col("_members")).between(2, maxBucket))
      .select(explode(expr(
        "flatten(transform(_members, (a, i) -> " +
          "transform(slice(_members, i + 2, size(_members) - i - 1), " +
          "b -> named_struct('id_a', a._id, 'id_b', b._id, " +
          "'ha', a.simhash, 'hb', b.simhash))))")).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"),
        bit_count(col("_p.ha").bitwiseXOR(col("_p.hb"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** n-gram Jaccard similarity. With `candidates` given, computes only
    * those pairs (the 100 TB path, fed from [[minhashBandCandidates]]);
    * without, all pairs sharing >= 1 shingle (small-scale verification).
    *
    * Gated path shape: aggregate shingles to one array per doc, join the
    * (small) candidate set to the arrays on each side, and take
    * `array_intersect` sizes in-row. The quadratic shingle⋈shingle join
    * never runs — at scale, common shingles ("the end of") pair up
    * thousands of docs each and dominate everything if the gate is
    * applied after the join instead of before it.
    */
  /** Segment-level dedup stats — the CCNet line-dedup shape with a
    * fixed-width token segmenter (corpora without natural line
    * boundaries segment deterministically into `w`-token chunks; swap
    * the segmenter for `split(text, '\n')` when real lines exist).
    * Each doc's segments are hashed, occurrence-counted across the
    * corpus, and the doc reports its duplicated-segment fraction — the
    * per-doc boilerplate score line-dedup pipelines filter on. Removal
    * policy stays with the caller: filter on `dup_frac`, or anti-join
    * the duplicate segment set for span-level removal.
    *
    * Scale: segments are map-side (in-row chunking), the count is one
    * md5-keyed aggregation (partial-combined), the join back is
    * hash-keyed — linear end to end; hot boilerplate segments are
    * exactly the high-count keys and never fan out into pairs.
    */
  def segmentDupStats(docs: DataFrame, idCol: String, textCol: String,
                      w: Int = 8): DataFrame = {
    require(w >= 1, s"w=$w must be positive")
    val segs = docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= 1)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(_toks), $w), " +
          s"i -> concat_ws(' ', slice(_toks, i, $w)))")).as("segment"))
      .withColumn("_h", md5(col("segment")))
    val counts = segs.groupBy(col("_h")).agg(count(lit(1)).as("_c"))
    segs.join(counts, "_h")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("_c") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
      .withColumn("dup_frac",
        (round(col("n_dup_segments") * lit(1.0) / col("n_segments"), 6)
          + lit(0.0)))
  }

  /** Segment-level dedup as a TRANSFORM: every duplicate segment keeps
    * only its canonical first occurrence (min (doc, position) — a
    * deterministic total order, so retries and engines agree on the
    * keeper) and each doc's surviving segments reassemble in original
    * order. Docs whose every segment was seen earlier vanish — exact
    * duplicates fall out as a special case.
    *
    * Keeper selection is an AGGREGATION, not a window: struct comparison
    * is lexicographic by field order, so `min(struct(doc, si))` per
    * segment IS the canonical first occurrence — with map-side partial
    * combine, no Exchange+Sort, and no skew cliff on hot boilerplate
    * segments (the hottest keys are exactly where a sort-window pays
    * most; the same rewrite took `ClusterOps.assignToCenters` from
    * 1.96s to 0.74s). The aggregation output (one (doc, si, segment) row
    * per distinct segment) is already the kept set — no join back.
    */
  def removeDuplicateSegments(docs: DataFrame, idCol: String,
                              textCol: String, w: Int = 8): DataFrame = {
    require(w >= 1, s"w=$w must be positive")
    val segs = docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .where(size(col("_toks")) >= 1)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, size(_toks), $w), " +
          s"i -> concat_ws(' ', slice(_toks, i, $w)))")).as(Seq("si", "segment")))
    segs
      .groupBy(col("segment"))
      .agg(min(struct(col(idCol), col("si"))).as("_k"))
      .select(col(s"_k.$idCol").as(idCol), col("_k.si").as("si"),
        col("segment"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(si, segment))), " +
            "x -> x.segment)"), " ").as("cleaned_text"))
  }

  /** Exact-substring duplication diagnostic (the window-L shape of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022 — their ExactSubstr finds repeated ≥50-token spans via a
    * suffix array; at a fixed window L the same signal reduces to
    * L-gram multiplicity): a token position is DUPLICATED if it lies
    * inside any L-token window whose content occurs more than once in
    * the corpus (any doc, any position — same-doc repeats are
    * boilerplate too). Returns per doc: n_tokens, n_dup_tokens (size of
    * the UNION of duplicated windows — overlaps merged, not
    * double-counted), dup_frac.
    *
    * Shape, linear end to end: in-row L-gram hashing (array lambda —
    * no join), ONE global count by gram hash (partial-agg combined), a
    * left-semi join marking duplicated window starts, then a per-doc
    * gaps-and-islands sweep (two window functions over (doc, start))
    * merging overlapping windows into covered intervals. No pairwise
    * computation exists anywhere — the multiplicity count replaces the
    * suffix-array LCP scan.
    */
  def repeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                        windowTokens: Int = 8): DataFrame = {
    val L = windowTokens
    require(L >= 2, s"windowTokens=$L must be at least 2")
    // The tokenized corpus feeds gram starts AND per-doc token counts.
    // DISK_ONLY persist, NOT localCheckpoint: this relation is
    // corpus-sized, and localCheckpoint blocks are unrecoverable after
    // executor loss — at 100 TB one lost executor would fail the job,
    // and the corpus would sit duplicated in storage memory. persist
    // keeps the lineage (lost blocks recompute from the scan) while
    // still materializing the split exactly once for both consumers.
    val toks = graft.core.Caches.track(docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val base = toks.select(col(idCol), size(col("_toks")).as("n_tokens"))
    val grams = toks
      .where(size(col("_toks")) >= L)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, size(_toks) - ${L - 1}), " +
          s"i -> md5(concat_ws(' ', slice(_toks, i, $L))))"))
        .as(Seq("_p", "_h")))
      .select(col(idCol), (col("_p") + 1).as("i"), col("_h"))
    val dupHashes = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c")).where(col("_c") > 1)
      .select(col("_h"))
    val marked = grams.join(dupHashes, Seq("_h"), "left_semi")
      .select(col(idCol), col("i"), (col("i") + (L - 1)).as("e"))
    spanCoverageStats(base, marked, idCol)
  }

  /** Gaps-and-islands union coverage of marked duplicated windows
    * `(idCol, i, e)` joined back onto per-doc `(idCol, n_tokens)` —
    * the shared tail of [[repeatedSpanStats]] and
    * [[saRepeatedSpanStats]]: per-doc windows over (doc, start) merge
    * overlapping intervals so coverage never double-counts.
    */
  private def spanCoverageStats(base: DataFrame, marked: DataFrame,
                                idCol: String): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("i"))
    val prevEnd = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val islands = marked
      .withColumn("_ni",
        when(prevEnd.isNull || col("i") > prevEnd + 1, 1L).otherwise(0L))
      .withColumn("_iid", sum(col("_ni")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("_iid"))
      .agg((max(col("e")) - min(col("i")) + 1).as("_cov"))
      .groupBy(col(idCol))
      .agg(sum(col("_cov")).as("n_dup_tokens"))
    base.join(islands, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_frac",
        round(col("n_dup_tokens") * lit(1.0) / col("n_tokens"), 6) + lit(0.0))
  }

  /** The REMOVAL transform for [[repeatedSpanStats]] (Lee et al. 2022
    * remove all-but-one occurrence of each repeated span): every
    * duplicated L-token window keeps its CANONICAL occurrence — the
    * global minimum (doc, position), a deterministic total order — and
    * every position covered only by non-canonical duplicated windows is
    * stripped; docs reassemble from the surviving tokens in order. A
    * position covered by both a canonical and a non-canonical window
    * stays (the canonical copy must remain intact). Docs whose every
    * token is stripped vanish — a doc that is one big repeated span
    * falls out entirely, the exact-duplicate special case.
    *
    * Shape: the gram/mark pass is [[repeatedSpanStats]]'s (linear); the
    * canonical flag is one row_number over the gram-hash partition; the
    * strip itself is IN-ROW — each doc joins its (small) interval lists
    * once and filters its token array with an interval-membership
    * lambda, so no token-level join exists. Interval lists stay small
    * because they only hold DUPLICATED windows (boilerplate), not the
    * text.
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 8): DataFrame = {
    val L = windowTokens
    require(L >= 2, s"windowTokens=$L must be at least 2")
    // Corpus-sized relation: DISK_ONLY persist, not localCheckpoint —
    // lineage retained so executor loss recomputes instead of failing
    // the job (see repeatedSpanStats).
    val toks = graft.core.Caches.track(docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val grams = toks
      .where(size(col("_toks")) >= L)
      .select(col(idCol), posexplode(expr(
        s"transform(sequence(1, size(_toks) - ${L - 1}), " +
          s"i -> md5(concat_ws(' ', slice(_toks, i, $L))))"))
        .as(Seq("_p", "_h")))
      .select(col(idCol), (col("_p") + 1).as("i"), col("_h"))
    // Multiplicity + canonical occurrence per gram hash as ONE
    // aggregation (map-side combined; min(struct) is the lexicographic
    // (doc, pos) minimum), then an inner join back — duplicated hashes
    // only, so the join's build side holds boilerplate grams, not the
    // corpus. The former count+row_number window planned Exchange+Sort
    // over every gram with the hottest (boilerplate) keys sorting
    // largest — exactly the skew cliff at scale.
    val dupStats = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"),
        min(struct(col(idCol), col("i"))).as("_k"))
      .where(col("_c") > 1)
    val marked = grams.join(dupStats, "_h")
      .select(col(idCol), col("i"), (col("i") + (L - 1)).as("e"),
        (col(s"_k.$idCol") === col(idCol) && col("_k.i") === col("i"))
          .as("_canon"))
    stripByIntervals(toks, marked, idCol)
  }

  /** The IN-ROW strip shared by [[removeRepeatedSpans]] and
    * [[saRemoveRepeatedSpans]]: each doc joins its (small) canonical /
    * non-canonical interval lists once and filters its token array with
    * an interval-membership lambda — no token-level join. `toks` is
    * `(idCol, _toks)`; `marked` is `(idCol, i, e, _canon)`.
    */
  private def stripByIntervals(toks: DataFrame, marked: DataFrame,
                               idCol: String): DataFrame = {
    val ivs = marked.groupBy(col(idCol)).agg(
      collect_list(when(!col("_canon"), struct(col("i"), col("e"))))
        .as("_rem"),
      collect_list(when(col("_canon"), struct(col("i"), col("e"))))
        .as("_keep"))
    toks.join(ivs, Seq(idCol), "left")
      .withColumn("_kept", expr(
        "filter(transform(_toks, (t, p0) -> named_struct('t', t, 'p', p0 + 1)), " +
          "x -> NOT exists(coalesce(_rem, array()), " +
          "iv -> x.p >= iv.i AND x.p <= iv.e) " +
          "OR exists(coalesce(_keep, array()), " +
          "iv -> x.p >= iv.i AND x.p <= iv.e))"))
      .select(col(idCol), size(col("_kept")).cast("long").as("n_kept"),
        concat_ws(" ", expr("transform(_kept, x -> x.t)"))
          .as("cleaned_text"))
      .where(col("n_kept") > 0)
  }

  /** The corpus as ONE contiguous 0-based global token stream with a
    * unique per-doc separator token appended after each doc (separators
    * cannot repeat, so no repeated substring spans a document
    * boundary). Offsets are a distributed exclusive prefix sum over
    * doc order ([[SuffixRank.prefixOffsets]] — no single-task window).
    *
    * Returns (persisted token-array frame, per-doc base `(idCol,
    * n_tokens)`, position map `(idCol, i, pos, tok)` with `i` 1-based
    * doc-relative and `pos` global, full stream `(pos, tok)` incl.
    * separators, the pinned offsets the other frames read).
    */
  private def globalTokenStream(docs: DataFrame, idCol: String,
                                textCol: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, graft.core.Pinned) = {
    // Corpus-sized: DISK_ONLY persist, lineage kept for recovery (see
    // repeatedSpanStats).
    val toks = graft.core.Caches.track(docs
      .select(col(idCol), split(col(textCol), " ").as("_toks"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val base = toks.select(col(idCol), size(col("_toks")).as("n_tokens"))
    val offsets = SuffixRank.prefixOffsets(
      base.select(col(idCol), (col("n_tokens") + 1).cast("long").as("_cnt")),
      idCol, "_cnt")
    val posed = toks
      .select(col(idCol), posexplode(col("_toks")).as(Seq("_p0", "tok")))
      .join(offsets.df.select(col(idCol), col("_off")), Seq(idCol))
      .select(col(idCol), (col("_p0") + 1).as("i"),
        (col("_off") + col("_p0")).as("pos"), col("tok"))
    // Separator = "\\u0001" + doc id: the control-char prefix keeps it
    // disjoint from every real token (corpus tokens are whitespace-split
    // text), and the id suffix makes each separator unique, so no two
    // separator positions can ever share an L-prefix.
    val seps = offsets.df
      .select((col("_off") + col("_cnt") - 1).as("pos"),
        concat(lit("\u0001"), col(idCol).cast("string")).as("tok"))
    val stream = posed.select(col("pos"), col("tok")).union(seps)
    (toks, base, posed, stream, offsets)
  }

  /** Public view of [[globalTokenStream]]: just the `(pos, tok)` stream
    * (contiguous 0-based positions, unique per-doc separators) — the
    * input for suffix-index invariant checks and ad-hoc SA consumers.
    */
  def corpusTokenStream(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val (_, _, _, stream, _) = globalTokenStream(docs, idCol, textCol)
    stream
  }

  /** Duplicated window spans detected on the corpus SUFFIX ARRAY
    * (Lee et al. 2022's actual index) instead of L-gram hash
    * multiplicity: a doc-relative position is duplicated iff its
    * global-stream suffix shares ≥ L leading tokens with a suffix-array
    * neighbor ([[SuffixRank.repeatedGramPositions]]). Unique per-doc
    * separator tokens guarantee no flagged window crosses a doc
    * boundary, so the flagged set equals the L-gram path's duplicated
    * window starts exactly (the hash path differs only by md5
    * collisions). Returns the persisted token arrays, per-doc base, and
    * the eagerly-materialized `(idCol, i, e)` span set.
    */
  private def saMarkedSpans(docs: DataFrame, idCol: String,
                            textCol: String, L: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val (toks, base, posed, stream, offsets) =
      globalTokenStream(docs, idCol, textCol)
    val flagged = SuffixRank.repeatedGramPositions(stream, "pos", "tok", L)
    // Boilerplate-sized: eager checkpoint both cuts the SA lineage for
    // the downstream island/strip plans and lets the offsets free.
    val marked = flagged
      .join(posed.select(col("pos"), col(idCol), col("i")), "pos")
      .select(col(idCol), col("i"), (col("i") + (L - 1)).as("e"))
      .localCheckpoint(eager = true,
        storageLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    offsets.free(blocking = false)
    (toks, base, marked)
  }

  /** Suffix-array twin of [[repeatedSpanStats]] — same output contract
    * (per-doc n_tokens, n_dup_tokens, dup_frac; same oracle), detection
    * via SuffixRank + LCP. Where both paths apply (no md5 collisions)
    * the outputs are identical; the SA path generalizes to
    * variable-length repeats (minLen is a floor, not a fixed window)
    * and is the Lee et al. 2022 construction proper.
    */
  def saRepeatedSpanStats(docs: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 2, s"windowTokens=$windowTokens must be at least 2")
    val (_, base, marked) = saMarkedSpans(docs, idCol, textCol, windowTokens)
    spanCoverageStats(base, marked, idCol)
  }

  /** Suffix-array twin of [[removeRepeatedSpans]]: detection on the
    * suffix array ([[saMarkedSpans]]); canonical selection (global-min
    * (doc, pos) occurrence per distinct window content) recovers each
    * flagged span's gram IN-ROW from its doc's token array and groups
    * by gram hash — that group-by touches only the duplicated
    * (boilerplate-sized) subset, never the corpus. Same strip, same
    * output, same oracle as the L-gram path.
    */
  def saRemoveRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            windowTokens: Int = 8): DataFrame = {
    val L = windowTokens
    require(L >= 2, s"windowTokens=$L must be at least 2")
    val (toks, _, marked) = saMarkedSpans(docs, idCol, textCol, L)
    val withHash = marked.join(toks, Seq(idCol))
      .select(col(idCol), col("i"), col("e"),
        md5(concat_ws(" ", expr(s"slice(_toks, i, $L)"))).as("_h"))
    val canon = withHash.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("i"))).as("_k"))
    val markedC = withHash.join(canon, "_h")
      .select(col(idCol), col("i"), col("e"),
        (col(s"_k.$idCol") === col(idCol) && col("_k.i") === col("i"))
          .as("_canon"))
    stripByIntervals(toks, markedC, idCol)
  }

  /** n-gram CONTAINMENT: |A∩B| / min(|A|, |B|) — catches subset
    * duplication (one doc quoted or embedded inside another) that
    * symmetric Jaccard under-scores: a 100-shingle doc inside a
    * 10 000-shingle doc has J ≈ 0.01 but containment 1.0. Same postings
    * join + hot-shingle guard shape as [[jaccardPairs]]; at scale, gate
    * with banded candidates the same way (containment ≥ t implies the
    * small side's minhash still collides with useful probability).
    */
  def containmentPairs(shingleDf: DataFrame, idCol: String,
                       threshold: Double,
                       maxDf: Int = 1 << 16): DataFrame = {
    // Same five-reference shape as the ungated [[jaccardPairs]] branch —
    // materialize once so the upstream shingle explode runs once.
    // DISK_ONLY persist (corpus-sized; lineage kept for recovery).
    val sh = graft.core.Caches.track(shingleDf
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val kept = sh.join(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
        .where(col("_df") <= maxDf)
        .select(col("shingle")),
      Seq("shingle"), "left_semi")
    val x = kept.select(col(idCol).as("id_a"), col("shingle"))
    val y = kept.select(col(idCol).as("id_b"), col("shingle"))
    x.join(y, "shingle").where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("containment", col("inter") / least(col("na"), col("nb")))
      .where(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 4).as("containment"))
  }

  def jaccardPairs(shingleDf: DataFrame, idCol: String,
                   threshold: Double,
                   candidates: Option[DataFrame] = None,
                   maxDf: Int = 1 << 16): DataFrame =
    candidates match {
      case Some(c) =>
        // One array row per doc, materialized once: the relation feeds
        // BOTH pair sides (id_a and id_b joins), and without it each
        // side re-runs the whole upstream shingle explode — measured
        // 2.0× on the driver bench (r5→r6 regression). One row per doc
        // but each row carries ALL the doc's shingles — corpus-sized,
        // so DISK_ONLY persist per the r9 durability criterion.
        val arrs = graft.core.Caches.track(shingleDf.groupBy(col(idCol))
          .agg(collect_list(col("shingle")).as("_arr"))
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
        c.join(arrs.select(col(idCol).as("id_a"), col("_arr").as("_aa")), "id_a")
          .join(arrs.select(col(idCol).as("id_b"), col("_arr").as("_ab")), "id_b")
          .withColumn("inter", size(array_intersect(col("_aa"), col("_ab"))))
          .withColumn("jaccard",
            col("inter") / (size(col("_aa")) + size(col("_ab")) - col("inter")))
          .where(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      case None =>
        // The ungated plan references the shingle relation five times
        // (sizes, df-count, semi left side, both pair sides) — without a
        // materialization each reference re-runs the upstream explode,
        // which the r6 driver bench measured as a 4.1× regression when
        // the df-count guard added references. DISK_ONLY persist
        // (corpus-sized; lineage kept for executor-loss recovery), every
        // downstream reference reads the cached blocks.
        val sh = graft.core.Caches.track(shingleDf.persist(
          org.apache.spark.storage.StorageLevel.DISK_ONLY))
        val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
        // Hot-shingle guard: the postings join is quadratic PER POSTING
        // LIST — one boilerplate shingle shared by m docs contributes
        // m(m-1)/2 join rows, and at corpus scale the hottest shingles
        // ("all rights reserved" trigrams) dominate everything. Shingles
        // over `maxDf` docs are dropped from the join (denominators still
        // count them), observable via the jaccard_postings_* metric; the
        // cap never trips at test scale factors, so the DuckDB oracle
        // stays exact — if a larger corpus ever trips it, the oracle
        // going red IS the diagnostic (same contract as maxBucket).
        val kept = sh.join(
          sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
            .observe(s"jaccard_postings_${obsId.getAndIncrement()}",
              sum(when(col("_df") > maxDf, 1).otherwise(0))
                .as("shingles_dropped"),
              sum(when(col("_df") > maxDf, col("_df")).otherwise(0))
                .as("postings_in_dropped"))
            .where(col("_df") <= maxDf)
            .select(col("shingle")),
          Seq("shingle"), "left_semi")
        val x = kept.select(col(idCol).as("id_a"), col("shingle"))
        val y = kept.select(col(idCol).as("id_b"), col("shingle"))
        x.join(y, "shingle").where(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col(idCol).as("id_a"), col("n").as("na")), "id_a")
          .join(sizes.select(col(idCol).as("id_b"), col("n").as("nb")), "id_b")
          .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
          .where(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    }

  /** Embedding cosine near-duplicates above a threshold — the EXACT
    * all-pairs twin (quadratic; verification scale only). The scale path
    * is [[embeddingNearDupCells]].
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, arrCol: String,
                       threshold: Double): DataFrame = {
    // fused codegen cosine straight over the raw (float) arrays — one
    // loop per pair computes dot + both norms, no normalized copies
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val a = emb.select(col(idCol).as("id_a"), col(arrCol).as("_va"))
    val b = emb.select(col(idCol).as("id_b"), col(arrCol).as("_vb"))
    a.crossJoin(b)
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", graft.plans.GraftExpressions.cosine(col("_va"), col("_vb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** Embedding near-duplicates gated by centroid-cell assignment
    * (SemDeDup — Abbas et al. 2023, arXiv:2303.09540: cluster the
    * embeddings, mine exact-cosine pairs INSIDE each cell only).
    * Deterministic given deterministic centroids (per-label means,
    * [[graft.mlops.ClusterOps.lloydIterations]] output), so the whole
    * pipeline stays SQL-oracle-able — unlike any probabilistic LSH gate.
    *
    * Why not sign-LSH here (measured on the synthetic embeddings): at
    * cosine 0.45 — a 63° angle, per-hyperplane agreement p ≈ 1-θ/π ≈
    * 0.65 — banding is non-selective: 16 bands × 2 bits admit ~99% of
    * ALL pairs while exact-bucket matching ([[
    * graft.similarity.Similarity.signBuckets]]) misses 14/14 true pairs
    * at sf0.01. Cell gating is the published scale design instead: cost
    * is Σ|cell|² ≈ n²/k (k the tuning knob), and cross-cell pairs are
    * forgone BY DESIGN — the SemDeDup recall tradeoff, measured here as
    * 40/144 pairs retained at sf0.1 with k=10 label-mean centroids. The
    * exact twin [[embeddingNearDup]] is the verification baseline.
    *
    * Shape: one assignment pass (the long-form broadcast join at
    * nProbe = 1, the in-row [[graft.mlops.ClusterOps.assignCells]]
    * above it), id-only pair generation per cell (16-byte structs —
    * vectors are re-joined AFTER pair-gen so the in-row pair array stays
    * small), then one fused-codegen cosine per candidate. `maxCell`
    * drops degenerate cells (quadratic bombs), observable via the
    * `embedding_cells_*` observe metric; at test scale factors it never
    * trips, so the oracle stays exact.
    */
  def embeddingNearDupCells(emb: DataFrame, idCol: String, arrCol: String,
                            centersLong: DataFrame, centerCol: String,
                            threshold: Double,
                            maxCell: Int = 1 << 16,
                            nProbe: Int = 1): DataFrame = {
    graft.plans.GraftExpressions.register(emb.sparkSession)
    val pointsLong =
      graft.mlops.NaiveBayesOps.toLongForm(emb, Seq(idCol), arrCol)
    // nProbe > 1 = multi-probe assignment (each point indexed under its
    // nProbe nearest cells): near-dups straddling a cell boundary — the
    // published SemDeDup design forgoes them, measured 40/144 pairs
    // retained at sf0.1 single-probe — are recovered when any probed
    // cell is shared (101/144 at nProbe=2, 139/144 at nProbe=3, vs
    // 40/144 single-probe — measured at sf0.1, k=10 label-mean
    // centroids; ~nProbe x cost, still Σ|cell|²-bounded, never
    // all-pairs).
    // nProbe = 1 keeps the long-form equi-join: the in-row kernels
    // attach their centroid table through a one-row broadcast cross
    // join (a BroadcastNestedLoopJoin), and this detector's plan, alone
    // and in the provenance capstone, is pinned to equi-joins only
    // (PlanSpec "round-5 pipelines").
    val cells =
      if (nProbe == 1)
        graft.mlops.ClusterOps.assignToCenters(
          pointsLong, centersLong, idCol, centerCol)
      else
        graft.mlops.ClusterOps.assignCells(
          emb, idCol, arrCol, centersLong, centerCol, nProbe)
    // Effective cap scales with nProbe: multi-probe grows every cell's
    // id list ~nProbe-fold, so a fixed cutoff would trip nProbe× earlier
    // than single-probe on the same data — and a tripped cell silently
    // diverges from the DuckDB oracle (which has no cap). Scaling keeps
    // the per-probe drop semantics identical across nProbe settings; the
    // observe metric stays the trip diagnostic either way.
    val effCap = maxCell.toLong * nProbe
    val rawPairs = cells
      .groupBy(col(centerCol))
      .agg(sort_array(collect_list(col(idCol))).as("_ids"))
      .observe(s"embedding_cells_${obsId.getAndIncrement()}",
        sum(when(size(col("_ids")) > effCap, 1).otherwise(0))
          .as("cells_dropped"),
        sum(when(size(col("_ids")) > effCap, size(col("_ids")))
          .otherwise(0)).as("ids_in_dropped_cells"))
      .where(size(col("_ids")).between(2, effCap))
      .select(explode(expr(
        "flatten(transform(_ids, (a, i) -> " +
          "transform(slice(_ids, i + 2, size(_ids) - i - 1), " +
          "b -> named_struct('id_a', a, 'id_b', b))))")).as("_p"))
      .select(col("_p.id_a").as("id_a"), col("_p.id_b").as("id_b"))
    // A pair sharing more than one probed cell is generated once per
    // shared cell — dedupe the 16-byte id pairs BEFORE the vector join
    // and the cosine so each candidate is scored exactly once.
    val pairs = if (nProbe == 1) rawPairs else rawPairs.distinct()
    pairs
      .join(emb.select(col(idCol).as("id_a"), col(arrCol).as("_va")), "id_a")
      .join(emb.select(col(idCol).as("id_b"), col(arrCol).as("_vb")), "id_b")
      .withColumn("cos",
        graft.plans.GraftExpressions.cosine(col("_va"), col("_vb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  // ---- end-to-end detector chains (corpus in, pairs or index out) ----

  /** Exact-duplicate edges (id_a, id_b), id_a < id_b: docs with the same
    * md5 of `textCol`. The exact edge source of every corpus-dedup graph.
    */
  def exactPairs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol), md5(col(textCol)).as("_h"))
    hashed.select(col(idCol).as("id_a"), col("_h"))
      .join(hashed.select(col(idCol).as("id_b"), col("_h")), "_h")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** Near-duplicate pairs above a Jaccard threshold via the banded
    * MinHash pipeline (candidates only — the 100 TB path end to end).
    */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            threshold: Double): DataFrame = {
    val sh = shingles(docs, idCol, textCol)
    val sig = minhashSignatures(sh, idCol)
    val cand = minhashBandCandidates(sig, idCol)
    jaccardPairs(sh, idCol, threshold, candidates = Some(cand))
  }
  /** Exact-Levenshtein verdict columns for candidate pairs (id_a, id_b):
    * attaches both texts and emits `edit_dist` + `edit_ratio`. The
    * O(|a|·|b|) levenshtein is evaluated ONCE per pair — the ratio is
    * derived from the `edit_dist` column in a second projection, and
    * CollapseProject keeps a non-cheap alias referenced twice
    * un-inlined, so this does not rely on codegen subexpression
    * elimination. A both-empty pair is ratio 0.0 by definition
    * (identical empties ARE duplicates — not a null to drop).
    */
  def editVerifyPairs(cand: DataFrame, docs: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    cand
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as("_ta")),
        "id_a")
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as("_tb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_ta"), col("_tb")).as("edit_dist"),
        greatest(length(col("_ta")), length(col("_tb"))).as("_maxlen"))
      .select(col("id_a"), col("id_b"), col("edit_dist"),
        when(col("_maxlen") === 0, lit(0.0))
          .otherwise(round(col("edit_dist").cast("double") / col("_maxlen"), 4))
          .as("edit_ratio"))
  /** SimHash near-duplicate pairs at scale: Manku multi-block candidate
    * index over wide signatures, exact recall within `maxHamming`.
    */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxHamming: Int = 3, bits: Int = 60): DataFrame = {
    val sig = simhash(shingles(docs, idCol, textCol), idCol, bits)
    simhashPairsBlocked(sig, idCol, maxHamming, bits)
  }

  // ---- fused "all detectors" signature surface ----
  // Each single-detector method above scans the corpus once; running
  // several detectors that way scans it once PER DETECTOR — the dominant
  // cost at 100 TB. The fused family computes every signature in one
  // shingle pass; persist (or localCheckpoint) the result and derive each
  // detector's view from it without touching the corpus again.

  /** One-scan signature table (idCol, `sig array<long>` minhash family,
    * `simhash long`) — bit-identical to the separate
    * [[Dedup.minhashSignatures]]/[[Dedup.simhash]] passes (spec-pinned).
    * One row per doc: cheap to persist, tiny next to the corpus.
    */
  def corpusSignatures(docs: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 8, bits: Int = 60): DataFrame =
    fusedSignatures(shingles(docs, idCol, textCol), idCol, numHashes, bits)
  /** Banded-minhash candidate pairs from a [[corpusSignatures]] frame. */
  def minhashCandidatesFromSignatures(fused: DataFrame,
                                      idCol: String): DataFrame =
    minhashBandCandidates(
      fused.select(col(idCol), posexplode(col("sig")).as(Seq("h", "minhash"))),
      idCol)
  /** Static (band, band_sig) index from a [[corpusSignatures]] frame —
    * the [[nearDupAgainstIndex]] corpus side, derived without a fresh
    * corpus scan.
    */
  def bandIndexFromSignatures(fused: DataFrame, idCol: String): DataFrame =
    bandSignatures(
        fused.select(col(idCol),
          posexplode(col("sig")).as(Seq("h", "minhash"))), idCol)
      .select(col("band"), col("band_sig")).distinct()
  /** Manku-blocked simhash pairs from a [[corpusSignatures]] frame. */
  def simhashPairsFromSignatures(fused: DataFrame, idCol: String,
                                 maxHamming: Int = 3,
                                 bits: Int = 60): DataFrame =
    simhashPairsBlocked(fused.select(col(idCol), col("simhash")),
      idCol, maxHamming, bits)
  /** Static (band, band_sig) index over a corpus for the streaming
    * near-dup gate; pair with [[nearDupAgainstIndex]].
    */
  def nearDupIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandIndex(docs, idCol, textCol)
      .select(col("band"), col("band_sig")).distinct()
  /** The id-carrying (id, band, band_sig) minhash band index — the
    * materialized artifact the incremental-ingest family (provenance
    * pairs, merge maintenance) joins against.
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    bandSignatures(
      minhashSignatures(shingles(docs, idCol, textCol), idCol), idCol)
}
