package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.core.{Caches, GraftSession}

import scala.collection.mutable

/** One benchmark process: set up (session and one warm-up execution),
  * then run the timed executions and, optionally, the traced execution
  * of one workload. Results go to `<out>/jvm.json`, with the oracle SQL
  * of the registered queries the workload mirrors; each execution's
  * outputs go to `<out>/<execution>/<output>/` for the launcher
  * (`perfbench/run.py`) to check.
  *
  *   --workload W --data DIR --out DIR --launched-ms T --seconds S [--trace]
  *
  * `--launched-ms` is the wall-clock time at which the launcher started
  * this process; set-up time runs from it until the first timed
  * execution may begin.
  */
object Main {
  /** Fixed so plans do not depend on the host. */
  val Slots = 4
  val ShufflePartitions = 4
  /** Timed executions run until their wall time reaches `--seconds`, and
    * never fewer than this.
    */
  val MinExecutions = 1

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val w = Workloads.byName(opts("workload"))
    val out = new File(opts("out")).getAbsolutePath
    val dataDir = new File(opts("data")).getAbsolutePath

    val result = mutable.LinkedHashMap.empty[String, Any]
    def sinceLaunch() =
      (System.currentTimeMillis() - opts("launched-ms").toDouble) / 1e3
    val spark = GraftSession.builder("perfbench", Some(s"local[$Slots]"),
        shufflePartitions = ShufflePartitions)
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    result("session_s") = sinceLaunch()
    result("slots") = Slots
    result("shuffle_partitions") = ShufflePartitions

    def execute(tag: String, trace: Option[Trace]): Unit = {
      val c = new Ctx(spark, dataDir, s"$out/assets/$tag", trace)
      val outputs = trace.fold(w.run(c))(_.span("pipeline")(w.run(c)))
      outputs.foreach { case (name, df) =>
        c.run("sink.write")(
          df.write.mode("overwrite").parquet(s"$out/$tag/$name"))
      }
    }
    val releases = mutable.ArrayBuffer.empty[Double]
    def release(): Unit = {
      val t0 = System.nanoTime()
      Caches.release(spark)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      releases += (System.nanoTime() - t0) / 1e9
      delete(new File(s"$out/assets"))
    }

    execute("warmup", None)
    release()
    result("setup_s") = sinceLaunch()
    result("mirrors") = w.mirrors.map { case (o, q) =>
      o -> Map("query" -> q, "oracle_sql" -> SparkEntry.oracleSql(q)) }

    opts.get("seconds").filter(_.toDouble > 0).foreach { s =>
      val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
      while (runs.size < MinExecutions ||
        runs.map(_("wall_s").asInstanceOf[Double]).sum < s.toDouble) {
        val tag = s"exec-${runs.size}"
        val c0 = cpuNs()
        val t0 = System.nanoTime()
        val error = try { execute(tag, None); "" }
          catch { case e: Exception => s"${e.getClass.getName}: ${e.getMessage}" }
        val wall = (System.nanoTime() - t0) / 1e9
        runs += Map("tag" -> tag, "wall_s" -> wall,
          "cpu_s" -> (cpuNs() - c0) / 1e9, "error" -> error)
        release()
      }
      result("executions") = runs.toSeq
    }

    if (args.contains("--trace")) {
      val t = new Trace(spark, Slots)
      t.start()
      val t0 = System.nanoTime()
      execute("traced", Some(t))
      val wall = (System.nanoTime() - t0) / 1e9
      t.stop()
      release()
      result("trace") = t.metrics(wall) + ("trace.wall_s" -> wall) +
        ("core.release_s" -> median(releases.toSeq))
      result("spans") = t.spans.map(s => Map("execution" -> "traced",
        "name" -> s.name, "id" -> s.id, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end)).toSeq
    }
    result("release_s") = releases.toSeq
    result("peak_rss_mb") = peakRssMb()
    spark.stop()
    Files.write(Paths.get(s"$out/jvm.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsBytes(result))
  }
}
