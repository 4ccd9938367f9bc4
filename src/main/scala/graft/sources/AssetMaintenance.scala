package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Maintenance for the durable partitioned index assets
  * ([[graft.text.TextAnalysis.writePositionalIndex]]'s term_bucket
  * layout, [[graft.similarity.Similarity.writeIvfIndex]]'s cell
  * layout): the append-only merge paths each add one parquet file per
  * touched partition per increment, so a daily-increment year
  * accumulates ~365 small files per partition — at 100 TB that kills
  * scan planning (file listing + footer reads scale with file COUNT)
  * and read throughput (row groups too small to amortize IO). Compaction
  * rewrites a partition's files into one file per partition value
  * (bounded by `maxRecordsPerFile` when set, so a skewed hot partition
  * still splits into full-size files) and swaps each rewritten
  * partition in atomically. The contract mirrors the merge ops':
  * compaction changes FILES, never rows — compact ≡ no-op row-for-row,
  * pinned by running the asset's own query oracle over the compacted
  * asset (`text_phrase_index_compact`, `sim_ivf_index_compact`).
  */
object AssetMaintenance {

  /** Parquet data files under `path` (recursive; underscore/dot-prefixed
    * metadata such as the `_graft_*` sidecars and `_SUCCESS` excluded) —
    * the small-file-count observable compaction exists to shrink.
    */
  def dataFileCount(spark: SparkSession, path: String): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) n += 1
    }
    n
  }

  /** Rewrite a `partitionBy(partitionCol)` parquet asset so each
    * SELECTED partition value holds one file (or
    * ⌈rows/maxRecordsPerFile⌉ files when that bound is set — the
    * giant-partition guard). `minFilesPerPartition` makes the pass
    * SELECTIVE — the production daily-maintenance shape: only
    * partitions whose data-file count has reached the threshold are
    * read, rewritten, and swapped, so the cost of a maintenance run is
    * proportional to the partitions the appends actually bloated, never
    * the whole asset. The default (1) selects every non-empty partition
    * — a full compaction.
    *
    * Shape: ONE job over the selected partitions (partition-pruned
    * scan — the predicate references only the partition column, so
    * unselected partitions are never listed into the scan), shuffle
    * hash-partitioned on the partition column (each value lands in
    * exactly one task, so the dynamic-partition write emits exactly one
    * file per value), written to a sibling tmp dir; then each selected
    * partition DIRECTORY is swapped in with two renames (metadata ops
    * on HDFS-compatible stores, restore-on-failure). Swaps are atomic
    * per partition, not across the asset — which is exactly enough:
    * compaction never changes rows, so a reader overlapping the swap
    * window sees every row of every partition in either its old or its
    * new file layout, both correct; root-level `_graft_*` sidecars are
    * never touched. Returns (dataFilesBefore, dataFilesAfter) over the
    * whole asset.
    *
    * Partition values are matched between directory names and the scan
    * through their string form — the assets this maintains partition on
    * numeric columns (term_bucket, cell), whose parquet dir names
    * roundtrip exactly.
    */
  def compactPartitionedAsset(spark: SparkSession, path: String,
                              partitionCol: String,
                              maxRecordsPerFile: Long = 0L,
                              minFilesPerPartition: Int = 1,
                              sortCols: Seq[String] = Nil): (Long, Long) = {
    require(minFilesPerPartition >= 1,
      s"minFilesPerPartition=$minFilesPerPartition must be >= 1")
    val root = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(conf)
    require(fs.exists(root), s"no asset at $path")
    // ONE recursive listing serves both the before-count and the
    // per-partition selection (r22): the old shape listed the asset
    // twice over — a whole-tree dataFileCount plus one recursive
    // listFiles per partition directory, ~65 listing round-trips on a
    // 64-bucket asset. Listings are driver-side metadata ops that
    // dominate maintenance cost on object stores; count once, group by
    // top-level partition directory.
    val perDir = scala.collection.mutable.Map.empty[String, Long]
    var before = 0L
    // listed paths come back fully qualified: qualify the root the same
    // way, or a relative / differently-qualified `path` never prefixes
    // them and nothing is selected
    val rootStr = fs.makeQualified(root).toUri.getPath
    val it0 = fs.listFiles(root, true)
    while (it0.hasNext) {
      val f = it0.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        before += 1
        // first path segment under the asset root = the partition dir
        val rel = f.getPath.toUri.getPath.stripPrefix(rootStr)
          .stripPrefix("/")
        val seg = rel.takeWhile(_ != '/')
        if (seg.startsWith(partitionCol + "="))
          perDir.update(seg, perDir.getOrElse(seg, 0L) + 1L)
      }
    }
    val selected = fs.listStatus(root)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map(_.getPath)
      .filter(d => perDir.getOrElse(d.getName, 0L) >= minFilesPerPartition)
    if (selected.isEmpty) return (before, before)
    val values = selected.toSeq
      .map(_.getName.substring(partitionCol.length + 1))
    val tmp = new Path(path + ".compact.tmp")
    fs.delete(tmp, true)
    // `sortCols` preserves a value-clustered row-group layout through
    // the rewrite (e.g. the positional index's term-sorted buckets,
    // whose min/max stats row-group-skip pushed term filters) — a
    // compaction that merged files in arrival order would silently
    // destroy the stats locality the write path paid for. Leads with
    // the partition column so the dynamic-partition writer keeps the
    // ordering instead of inserting its own sort.
    val clustered = spark.read.parquet(path)
      .where(col(partitionCol).cast("string").isInCollection(values))
      .repartition(col(partitionCol))
    val w = (if (sortCols.nonEmpty)
      clustered.sortWithinPartitions(
        (partitionCol +: sortCols).map(col): _*)
    else clustered)
      .write.partitionBy(partitionCol).mode("overwrite")
    (if (maxRecordsPerFile > 0)
      w.option("maxRecordsPerFile", maxRecordsPerFile)
    else w).parquet(tmp.toString)
    // Swaps run on a bounded driver pool (r22): each partition's swap
    // is independent (its own live/old/fresh paths, atomicity is per
    // partition by design), and the ~4 metadata ops per partition were
    // serialized on the driver — at 64+ partitions the loop itself was
    // a measurable driver gap locally and is minutes of round-trips on
    // an object store. Failure behavior is unchanged: every partition
    // still restores itself on its own failure, and the first failure
    // is rethrown after the batch with the others attached as suppressed
    // (no new partial states — the sequential loop also left prior swaps
    // installed on failure).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, math.max(1, values.size)))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    try {
      values.map { v =>
        pool.submit(new Runnable {
          override def run(): Unit = try {
            val live = new Path(root, s"$partitionCol=$v")
            val fresh = new Path(tmp, s"$partitionCol=$v")
            require(fs.exists(fresh),
              s"compact: rewrite produced no partition for $partitionCol=$v")
            // dot-prefixed: a crash between the renames leaves a
            // directory the parquet file index ignores, never a
            // duplicate partition
            val old = new Path(root, s".$partitionCol=$v.compact.old")
            fs.delete(old, true)
            require(fs.rename(live, old),
              s"compact: could not move $live aside")
            if (!fs.rename(fresh, live)) {
              fs.rename(old, live) // restore before failing — never a hole
              throw new IllegalStateException(
                s"compact: could not install $fresh")
            }
            fs.delete(old, true): Unit
          } catch { case scala.util.control.NonFatal(e) =>
            failures.add(e): Unit }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    if (!failures.isEmpty) {
      val first = failures.poll()
      failures.forEach(first.addSuppressed(_))
      throw first
    }
    fs.delete(tmp, true)
    (before, dataFileCount(spark, path))
  }

  /** Per-partition file/byte ledger for a partitioned asset — the
    * observability [[compactPartitionedAsset]]'s `minFilesPerPartition`
    * knob is tuned by (and the ops dashboard for append-heavy assets:
    * file counts grow with APPENDS, bytes with data — a partition with
    * many files and few bytes is the compaction target). Driver-side
    * listing: one row per partition directory, so the frame is
    * partition-count-sized — metadata-scale by definition (partitions
    * broadcast everywhere as pruning units).
    */
  def partitionFileStats(spark: SparkSession, path: String,
                         partitionCol: String): org.apache.spark.sql
    .DataFrame = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no asset at $path")
    val rows = fs.listStatus(root)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))
      .map { s =>
        val it = fs.listFiles(s.getPath, true)
        var files = 0L
        var bytes = 0L
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            files += 1; bytes += f.getLen
          }
        }
        (s.getPath.getName.substring(partitionCol.length + 1),
          files, bytes)
      }.toSeq
    import spark.implicits._
    rows.toDF("partition", "n_files", "n_bytes")
  }

  /** Atomically replace the live asset at `path` with the fully-built
    * one at `tmpPath`: two renames (metadata ops on HDFS-compatible
    * stores) with restore-on-failure — a reader caught mid-swap sees
    * the old asset or the new one, never a mix or a hole. Used by the
    * retrain-rebuild maintenance path (which DOES change rows, so
    * unlike compaction it needs whole-asset atomicity).
    */
  def installAsset(spark: SparkSession, tmpPath: String,
                   path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(tmpPath)
    require(fs.exists(tmp), s"no rebuilt asset at $tmpPath")
    val old = new Path(path + ".swap.old")
    fs.delete(old, true)
    require(fs.rename(root, old), s"install: could not move $path aside")
    if (!fs.rename(tmp, root)) {
      // restore the live asset before failing — never leave a hole
      fs.rename(old, root)
      throw new IllegalStateException(s"install: could not install $tmpPath")
    }
    fs.delete(old, true): Unit
  }
}
