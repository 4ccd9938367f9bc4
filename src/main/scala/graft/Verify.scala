package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query-name filter for fast
    // local iteration on a single oracle (driver passes only two args).
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries run on a small thread pool: Spark schedules concurrent jobs
    // fine, and most of these queries have low-parallelism stages (small
    // single-row-group scans), so interleaving them keeps the cores busy.
    // Pool size 4 ≈ the verify session's core count; each failure is
    // per-query, never aborting the batch.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // Each query runs in its OWN child session (shared SparkContext /
    // CacheManager, isolated session state) and releases its tracked
    // internal persists right after materializing — mid-pool release on
    // the SHARED session would drop frames a concurrently-running query
    // still reuses, while per-session release is exact (Caches is keyed
    // by session). Without this the 303-query pool accumulates every
    // lazy operator's tracked cache for the whole JVM (SCALE.md r19
    // note 5).
    val tasks = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val sess = spark.newSession()
          try fn(sess, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            e.printStackTrace()
          } finally {
            graft.core.Caches.release(sess): Unit
          }
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
