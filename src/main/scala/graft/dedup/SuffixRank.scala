package graft.dedup

import graft.core.{Caches, Pinned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix ranking by prefix doubling — the index behind
  * suffix-array exact-substring dedup (Lee et al. 2022 build suffix
  * arrays of the tokenized corpus to find every repeated substring; the
  * classic sequential construction is Manber–Myers, and prefix doubling
  * is its parallel/external-memory form).
  *
  * `suffixRanks` assigns every position `i` of a token stream its 1-based
  * rank among all suffixes `tokens[i..n)` under lexicographic
  * token-sequence order (token order = UTF-8 string order; a suffix that
  * is a strict prefix of another sorts first). The inverse permutation of
  * the ranks IS the suffix array.
  *
  * `lcpArray` extends the index with the LCP array — the token length of
  * the longest common prefix of every pair of rank-adjacent suffixes —
  * via the sparse-table method over the SAME doubling rounds: rank
  * equality at prefix length L certifies L equal tokens, so a greedy
  * descent over the retained per-round rank frames resolves each pair's
  * LCP in ⌈log₂ n⌉ equi-joins (Kasai's sequential scan has no
  * distributed form; this does, and it reuses work the ranking already
  * did). Suffix array + LCP array together solve exact-substring dedup:
  * a token L-gram is repeated iff its suffix has LCP ≥ L with a
  * rank-neighbor (`repeatedGramPositions`).
  *
  * Algorithm: rank every position by its first token (a dense rank over
  * distinct tokens); then each round k = 1, 2, 4, … re-ranks positions by
  * the pair (rank[i], rank[i+k]) — after round k every rank reflects the
  * first 2k tokens, so ⌈log₂ n⌉ rounds reach full suffixes. Positions
  * past the end contribute sentinel rank 0 (< every real rank), which
  * encodes shorter-prefix-sorts-first. The loop stops as soon as all
  * ranks are distinct.
  *
  * 100 TB notes: every step is a shuffle-bounded dataframe op — there is
  * NO single-task global window anywhere. The global dense rank is
  * computed distributedly: range-partition the distinct keys, rank
  * within each partition (parallel windows keyed by physical partition
  * id), and add broadcast per-partition offsets (one tiny collect of
  * partition counts per round — O(shuffle.partitions) rows, not data).
  * Each round is O(n) rows through ~4 shuffles, and rounds are
  * logarithmic in the corpus length, mirroring the published distributed
  * suffix-array constructions. Per-round frames are localCheckpointed
  * (lineage stays O(1), the classic iterative-DataFrame requirement) and
  * — in the rank-only path — the previous round's blocks are freed
  * eagerly, so peak storage is two rounds regardless of round count, the
  * same discipline as [[Components.connectedComponents]]. The LCP path
  * pins its per-round history levels DISK_ONLY (executor memory stays
  * bounded at the two working frames; the O(n log n)-row level set
  * lives on disk as sequential spill files), and the sparse-table
  * descent consumes levels largest-first, freeing each level's blocks
  * as soon as the step that used it materializes — so the on-disk set
  * drains monotonically during the descent instead of being held to the
  * end, and peak retained MEMORY frames stay O(2) regardless of round
  * count.
  */
object SuffixRank {

  /** Round frames checkpoint SERIALIZED: deserialized row objects cost
    * ~3× the bytes of their serialized form for these narrow long-pair
    * rows, and the doubling loop keeps two round-frames resident — see
    * the same choice (and the OOM it fixed) in [[Components]].
    */
  private val SerLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER

  /** History levels (LCP path only) pin to DISK ONLY: all ⌈log₂ n⌉
    * levels coexist between production (doubling, smallest first) and
    * consumption (descent, largest first), so putting them in memory
    * would make peak MEMORY O(n log n) rows. On disk the cost is one
    * sequential write + one sequential read per level, executor memory
    * stays bounded at the two working frames, and the on-disk set
    * drains monotonically as the descent consumes levels.
    */
  private val HistLevel = org.apache.spark.storage.StorageLevel.DISK_ONLY

  /** Global 1-based dense rank of `keys`' rows (assumed distinct) under
    * lexicographic order of `ordCols`, without a single-task window:
    * range-partition on the order columns, checkpoint to pin the
    * physical layout (the partition id must agree between the counting
    * job and the ranking job), then rank = per-partition row_number
    * (windows partitioned by partition id run in parallel) + the
    * partition's cumulative offset (broadcast — one row per partition).
    *
    * Returns (the ranked frame with a `rank` column, pinned for the
    * caller to free once its consumers are materialized; the total row
    * count).
    */
  private def globalDenseRank(keys: DataFrame, ordCols: Seq[String])
      : (Pinned, Long) = {
    val spark = keys.sparkSession
    val sorted = Caches.pin(
      keys.repartitionByRange(ordCols.map(col): _*), SerLevel)
    val counts = sorted.df
      .groupBy(spark_partition_id().as("_pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("_pid", "_off")
    val ranked = sorted.map(_
      .withColumn("_pid", spark_partition_id())
      .join(broadcast(offDf), Seq("_pid"), "left")
      .withColumn("rank",
        coalesce(col("_off"), lit(0L)) +
          row_number().over(
            Window.partitionBy(col("_pid"))
              .orderBy(ordCols.map(col): _*)).cast("long"))
      .drop("_pid", "_off"))
    (ranked, total)
  }

  /** Distributed EXCLUSIVE prefix sum: one output row per input row,
    * `_off` = sum of `countCol` over all rows strictly before it in
    * `ordCol` order — the building block for assigning contiguous
    * global positions to per-document token streams without a
    * single-task window. Same machinery as the global dense rank:
    * range-partition on the order column, checkpoint to pin the
    * physical layout, per-partition running sums (windows keyed by
    * physical partition id run in parallel) plus broadcast partition
    * offsets (one row per partition crosses the driver, not data).
    *
    * Returns the frame with `_off` added, pinned: the caller frees it
    * once its consumers are materialized.
    */
  def prefixOffsets(df: DataFrame, ordCol: String, countCol: String): Pinned = {
    val spark = df.sparkSession
    val sorted = Caches.pin(df.repartitionByRange(col(ordCol)), SerLevel)
    val counts = sorted.df
      .groupBy(spark_partition_id().as("_pid"))
      .agg(sum(col(countCol).cast("long")).as("_c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("_pid", "_poff")
    sorted.map(_
      .withColumn("_pid", spark_partition_id())
      .join(broadcast(offDf), Seq("_pid"), "left")
      .withColumn("_off",
        coalesce(col("_poff"), lit(0L)) +
          coalesce(sum(col(countCol).cast("long")).over(
            Window.partitionBy(col("_pid")).orderBy(col(ordCol))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_pid", "_poff"))
  }

  /** The doubling loop's output: final ranks (a permutation of 1..n over
    * `pos`), the stream length, and — when history was requested — every
    * round's (prefixLen, pinned rank frame) in ascending prefixLen order
    * (1, 2, 4, …; the last entry is `ranks` itself), which the caller
    * must free.
    */
  private case class Doubling(ranks: DataFrame, n: Long,
                              history: Seq[(Long, Pinned)])

  private def doubling(tokens: DataFrame, posCol: String, tokCol: String,
                       keepHistory: Boolean): Doubling = {
    // Round frames double as history levels when the LCP path asks for
    // them — then they go to disk (see HistLevel) so memory stays O(2)
    // frames regardless of round count.
    val roundLevel = if (keepHistory) HistLevel else SerLevel
    val toks = Caches.pin(tokens
      .select(col(posCol).cast("long").as("pos"), col(tokCol).cast("string").as("tok")),
      SerLevel)
    val n = toks.df.count()
    if (n == 0) {
      toks.free(blocking = true)
      val empty = toks.df.select(col("pos"), lit(0L).as("rank")).where(lit(false))
      return Doubling(empty, 0L, Nil)
    }

    var history = List.empty[(Long, Pinned)]

    // Round 0: rank by first token alone (prefix length 1).
    val (tokRanks, nDistinct0) = globalDenseRank(toks.df.select("tok").distinct(), Seq("tok"))
    var cur = Caches.pin(toks.df.join(tokRanks.df, "tok")
      .select(col("pos"), col("rank")), roundLevel)
    toks.free(blocking = true)
    tokRanks.free(blocking = true)
    if (keepHistory) history ::= (1L, cur)

    var nDistinct = nDistinct0
    var k = 1L
    val maxRounds = 2 * (64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1))) + 2
    var round = 0
    while (nDistinct < n && round < maxRounds) {
      // Pair each position's rank with the rank k positions ahead;
      // sentinel 0 (< all real ranks) when the suffix ends within k.
      val ahead = cur.df.select((col("pos") - k).as("pos"), col("rank").as("_r2"))
      val paired = cur.df.withColumnRenamed("rank", "_r1")
        .join(ahead, Seq("pos"), "left")
        .na.fill(0L, Seq("_r2"))
      val (pairRanks, d) = globalDenseRank(paired.select("_r1", "_r2").distinct(), Seq("_r1", "_r2"))
      val next = Caches.pin(paired.join(pairRanks.df, Seq("_r1", "_r2"))
        .select(col("pos"), col("rank")), roundLevel)
      pairRanks.free(blocking = true)
      if (keepHistory) history ::= (2 * k, next)
      else cur.free(blocking = true)
      cur = next
      nDistinct = d
      k *= 2
      round += 1
    }
    if (nDistinct < n) throw new IllegalStateException(
      s"suffixRanks: ranks not separated after $round rounds " +
        "(positions non-contiguous?)")
    Doubling(cur.df, n, history.reverse)
  }

  /** (pos, tok) → (pos, rank): the 1-based lexicographic suffix rank of
    * every position. Positions must be 0-based and contiguous per
    * stream; `rank` is a permutation of 1..n (its inverse is the suffix
    * array). Throws if ranks fail to separate within 2⌈log₂ n⌉ + 2
    * rounds — mathematically impossible, so the throw only fires on a
    * genuine bug (e.g. non-contiguous positions).
    */
  def suffixRanks(tokens: DataFrame, posCol: String, tokCol: String): DataFrame =
    doubling(tokens, posCol, tokCol, keepHistory = false).ranks

  /** The suffix array itself: rank → starting position, i.e. the
    * positions of all suffixes in lexicographic order. `sa = 1` is the
    * lexicographically smallest suffix.
    */
  def suffixArray(tokens: DataFrame, posCol: String, tokCol: String): DataFrame =
    suffixRanks(tokens, posCol, tokCol)
      .select(col("rank").as("sa"), col("pos"))

  /** LCP array over the token stream: one row per rank-adjacent suffix
    * pair — `(rank, pos, pos_next, lcp)` with `pos = sa[rank]`,
    * `pos_next = sa[rank+1]`, and `lcp` = number of leading tokens the
    * two suffixes share (n−1 rows, rank = 1..n−1; empty for n ≤ 1).
    *
    * Sparse-table construction over the doubling rounds: ranks separate
    * after reaching prefix length 2^m, so every pairwise LCP is < 2^m
    * and decomposes greedily into descending powers 2^(m−1) … 1. For
    * each retained level L (largest first): if both suffixes still have
    * a position `lcp` tokens in AND their level-L ranks there are equal
    * — which certifies exactly L more equal tokens (for distinct
    * suffixes of one stream, equal padded prefixes with an early
    * sentinel would force the suffixes identical, impossible) — advance
    * `lcp` by L. Each level is two shuffle equi-joins against that
    * round's n-row rank frame; ⌈log₂ n⌉ levels total, the per-pair
    * state checkpointed per level so lineage stays O(1).
    */
  def lcpArray(tokens: DataFrame, posCol: String, tokCol: String): DataFrame = {
    val d = doubling(tokens, posCol, tokCol, keepHistory = true)
    if (d.n <= 1) {
      d.history.foreach(_._2.free(blocking = true))
      return d.ranks.select(col("rank"), col("pos"),
        col("pos").as("pos_next"), lit(0L).as("lcp")).where(lit(false))
    }
    // Rank-adjacent pairs: (rank, pos=sa[rank], pos_next=sa[rank+1]).
    val nxt = d.ranks.select((col("rank") - 1).as("rank"), col("pos").as("pos_next"))
    var pairs = Caches.pin(d.ranks.select(col("rank"), col("pos"))
      .join(nxt, "rank")
      .withColumn("lcp", lit(0L)), SerLevel)
    // The final (fully separated) frame is consumed right there in the
    // pair construction and never by the descent (LCP < its prefix
    // length by construction) — free it now that `pairs` materialized.
    d.history.last._2.free(blocking = true)
    // Greedy descent over the remaining levels, largest first. Each
    // level frame is consumed by exactly this one step, so its blocks
    // are released as soon as the step's state frame materializes —
    // peak retained frames stay O(2) regardless of round count.
    for ((len, level) <- d.history.init.reverse) {
      val ra = level.df.select(col("pos").as("_pa"), col("rank").as("_ra"))
      val rb = level.df.select(col("pos").as("_pb"), col("rank").as("_rb"))
      val next = Caches.pin(pairs.df
        .join(ra, col("pos") + col("lcp") === col("_pa"), "left")
        .join(rb, col("pos_next") + col("lcp") === col("_pb"), "left")
        .withColumn("lcp",
          when(col("_ra").isNotNull && col("_ra") === col("_rb"),
            col("lcp") + len).otherwise(col("lcp")))
        .select(col("rank"), col("pos"), col("pos_next"), col("lcp")),
        SerLevel)
      pairs.free(blocking = true)
      level.free(blocking = true)
      pairs = next
    }
    pairs.df
  }

  /** Exact-substring repeat detection (the Lee et al. 2022 primitive):
    * the starting positions of every token L-gram that occurs more than
    * once in the stream. A position qualifies iff its suffix shares ≥
    * minLen leading tokens with a rank-NEIGHBOR: suffixes sharing an
    * L-prefix are contiguous in suffix-array order, so membership in a
    * ≥2-element block is visible on an adjacent LCP entry — no
    * quadratic pair expansion. Output: (pos) distinct.
    */
  def repeatedGramPositions(tokens: DataFrame, posCol: String, tokCol: String,
                            minLen: Int): DataFrame = {
    val hits = lcpArray(tokens, posCol, tokCol).where(col("lcp") >= minLen)
    hits.select(col("pos"))
      .union(hits.select(col("pos_next").as("pos")))
      .distinct()
  }
}
