package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sources & sinks (SURVEY §2.8 scans): the reference only ever read via
  * `sc.parallelize`/`sc.textFile` + `block()`; the engine exposes the full
  * DataSource V2 surface. These wrappers pin the engine's defaults, the
  * scale-relevant ones being:
  *
  *  - parquet everywhere by default (vectorized, pushdown, column-pruned);
  *  - partitioned writes (`writePartitioned`) so downstream reads prune
  *    whole directories (partition pruning precedes even rowgroup skips);
  *  - bucketed tables (`writeBucketed`) so repeated co-keyed joins/aggs
  *    skip their Exchange entirely — the cheapest shuffle is the one
  *    written once at ingest.
  */
object Sources {

  /** Spread a SMALL scan across the cluster before CPU-heavy per-row work
    * (shingling, hashing, tokenizing). A small parquet file is a single
    * row group → a single input split → the whole downstream map pipeline
    * runs in ONE task regardless of cluster size (measured: the banded-
    * minhash chain spent 1.9 of its 2.5s in that one task at sf0.1).
    *
    * The partition count MUST be explicit: a bare `repartition(key)` is a
    * size-based exchange that AQE's partition coalescing collapses right
    * back to one partition — AQE optimizes shuffle BYTES and cannot see
    * downstream CPU. Hash-partitioning by `key` keeps the placement
    * deterministic under task retry. At 100 TB the file count provides
    * this parallelism for free and `spread` is a no-op you simply don't
    * call; it exists for the small-file head of a pipeline (dimension
    * seeds, config corpora, samples).
    */
  def spread(df: DataFrame, key: org.apache.spark.sql.Column,
             partitions: Int = 0): DataFrame = {
    val n = if (partitions > 0) partitions
      else df.sparkSession.sparkContext.defaultParallelism
    df.repartition(n, key)
  }

  /** [[spread]] only when the scan actually plans FEWER partitions than
    * requested (r21): the conditional makes the exchange scale-adaptive —
    * on the bench's single-row-group files it buys the missing
    * parallelism for CPU-heavy per-row work, while on a production
    * multi-file/multi-row-group input (where the scan already splits at
    * least `partitions` ways) it is the identity and costs nothing. The
    * partition check is driver-side physical planning, no job.
    */
  def spreadIfNarrow(df: DataFrame, key: org.apache.spark.sql.Column,
                     partitions: Int = 0): DataFrame = {
    val n = if (partitions > 0) partitions
      else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n, key)
  }

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readCsv(spark: SparkSession, path: String, header: Boolean = true): DataFrame =
    spark.read.option("header", header.toString).option("inferSchema", "true")
      .csv(path)

  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** One string column `value` per line — the raw-corpus entry point. */
  def readText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Hive-style partitioned layout: one directory per partition value. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Bucketed mirror of the orders/lineitem fact spine, both bucketed on
    * the order key with the same bucket count: every later
    * orders⋈lineitem join or order-keyed aggregation reads co-located
    * buckets and skips its Exchange entirely. This is the "pay the
    * shuffle once at ingest" layout — at 100 TB the dominant star joins
    * should run against tables laid out like this, not re-shuffle the
    * fact table per query.
    */
  def materializeBucketedStar(t: graft.core.Tables, numBuckets: Int,
                              prefix: String = "graft_star"): BucketedStar = {
    writeBucketed(t.orders, s"${prefix}_orders", Seq("o_orderkey"), numBuckets)
    writeBucketed(t.lineitem, s"${prefix}_lineitem", Seq("l_orderkey"), numBuckets)
    BucketedStar(t.spark, prefix)
  }

  /** Bucketed managed table: co-locates rows by key at write time so a
    * later equi-join/agg on `bucketCols` needs no Exchange.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
}

/** Accessors over a materialized bucketed star (see
  * [[Sources.materializeBucketedStar]]). Reads resolve through the
  * catalog so Spark knows the bucketing and plans shuffle-free joins.
  */
final case class BucketedStar(spark: SparkSession, prefix: String) {
  def orders: DataFrame   = spark.table(s"${prefix}_orders")
  def lineitem: DataFrame = spark.table(s"${prefix}_lineitem")
  def drop(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_orders")
    spark.sql(s"DROP TABLE IF EXISTS ${prefix}_lineitem")
  }
}
