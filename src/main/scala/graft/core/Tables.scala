package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the test corpus (TESTDATA.md): TPC-H-ish star schema plus
  * `events` (stream-shaped), `documents` (text corpus) and `embeddings`
  * (vector corpus). Reads are plain parquet scans so Catalyst predicate
  * pushdown / column pruning apply to every downstream query.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region: DataFrame     = t("region")
  def nation: DataFrame     = t("nation")
  def customer: DataFrame   = t("customer")
  def supplier: DataFrame   = t("supplier")
  def part: DataFrame       = t("part")
  def orders: DataFrame     = t("orders")
  def lineitem: DataFrame   = t("lineitem")

  /** `events.ts` normalized to the engine's µs TimestampType regardless of
    * how the generator wrote it — see [[Tables.normalizeTs]].
    */
  def events: DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeTs(t("events"))
  }
  /** Raw single-scan read — the bytes-on-disk view with no added
    * exchange. Kept for callers that must see the scan exactly as
    * planned (partitioning experiments, layout diagnostics).
    */
  def documentsRaw: DataFrame = t("documents")

  /** Default corpus accessor = the RAW scan (r22). r21 routed every
    * read through the conditional spread and the driver's numbers
    * split cleanly by consumer: CPU-heavy map sides (HTML extraction,
    * tokenize/explode, shingling, GD feature synthesis) won 1.2–2.9×,
    * while scan-bound consumers (projections, counts, one cheap agg)
    * paid 20–35% for an exchange they never amortize — 14 plan-
    * verified regressions. Two tiers again: cheap consumers read this,
    * CPU-heavy pipelines opt into [[documentsSpread]].
    */
  def documents: DataFrame = documentsRaw

  /** `documents`, hash-spread over the cluster WHEN the scan plans
    * fewer partitions than the spread target (r21 — see
    * [[graft.sources.Sources.spreadIfNarrow]]). The corpus files at
    * the test scale factors are single row groups, so a CPU-heavy map
    * side otherwise runs in ONE task regardless of core count; on a
    * production multi-row-group corpus the condition is false and this
    * is exactly the raw scan — no exchange, pushdown and pruning
    * intact (predicates push through RepartitionByExpression). The
    * narrow-scan decision is memoized per (path, target) — it is
    * driver-side physical planning, identical for every call against
    * the same files (r21 ADVICE: the unmemoized check re-planned the
    * scan on every accessor call).
    */
  def documentsSpread: DataFrame =
    Tables.spreadCached(documentsRaw, "doc_id", s"$dir/documents")

  /** Default vector-corpus accessor = the RAW scan (r22) — same
    * two-tier reasoning as [[documents]]: the sim_ivf asset family,
    * cosine-cells consumers and k-means assignment are scan-bound and
    * regressed under the unconditional r21 spread.
    */
  def embeddings: DataFrame = t("embeddings")

  /** `embeddings` with the same conditional spread as
    * [[documentsSpread]] — for the pair-enumeration families whose map
    * side (cell assignment + self-join exchange write) is CPU-heavy.
    */
  def embeddingsSpread: DataFrame =
    Tables.spreadCached(t("embeddings"), "vec_id", s"$dir/embeddings")
}

object Tables {

  /** Memoized narrow-scan verdicts for [[Tables.spreadCached]], keyed
    * by (table path, spread target): the planned partition count of a
    * parquet scan is a pure function of the files and the session's
    * split config, so one physical-planning pass per (path, target)
    * per JVM is enough. The test/bench data never changes mid-run;
    * a long-lived production session appending to a corpus would
    * re-plan per path only after restart — acceptable for a heuristic
    * whose false negative is just a missing repartition.
    */
  private val narrowVerdicts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** [[graft.sources.Sources.spreadIfNarrow]] with the narrow-scan
    * check memoized per (path, target) — see [[narrowVerdicts]].
    */
  private[core] def spreadCached(df: DataFrame, key: String,
                                 path: String): DataFrame = {
    val n = math.max(2, df.sparkSession.sparkContext.defaultParallelism / 4)
    val narrow = narrowVerdicts.computeIfAbsent(s"$path#$n",
      _ => java.lang.Boolean.valueOf(df.rdd.getNumPartitions < n))
    if (narrow) df.repartition(n, org.apache.spark.sql.functions.col(key))
    else df
  }

  /** Normalize `events.ts` to the engine's µs TimestampType across testdata
    * generations. The generator has written it as TIMESTAMP(NANOS) (which
    * Spark's vectorized reader surfaces as raw Long nanos under
    * `spark.sql.legacy.parquet.nanosAsLong`) and as timestamp[us] with
    * isAdjustedToUTC=false (which Spark reads as TIMESTAMP_NTZ). Dispatch
    * on the read type: Long nanos → integer-divide to µs (a double division
    * would lose precision above 2^53 ns); NTZ → cast (session timezone is
    * pinned UTC everywhere, so the wall-clock reinterpretation is the
    * identity instant-wise, matching DuckDB's timezone-free reading of the
    * same parquet). Works for batch and streaming frames alike.
    */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema(tsCol).dataType match {
      case LongType => df.withColumn(tsCol,
        expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampType => df
      case _ => df.withColumn(tsCol, col(tsCol).cast(TimestampType))
    }
  }
}
