package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import scala.collection.mutable

/** Dev tool (not part of the driver contract): per-stage and
  * per-operator drilldown for one or more bench queries at bench
  * settings. For each named query: one untimed warmup execution, cache
  * release (the Bench hygiene), then one timed execution with a stage
  * listener; prints wall seconds, a stage table (executor run time,
  * shuffle read/write, input bytes, task-skew max/median) and the final
  * executed plan's operator metrics — where the guide's "measure first"
  * loop reads its numbers on a UI-less box.
  */
object Drill {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()

    case class StageRow(id: Int, name: String, wallMs: Long, runMs: Long,
                        cpuMs: Long, gcMs: Long, deserMs: Long,
                        shufReadMb: Double, shufWriteMb: Double,
                        inputMb: Double, tasks: Int, maxTaskMs: Long,
                        medTaskMs: Long, spillMb: Double)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        val tt = taskTimes.getOrElse(si.stageId, mutable.ArrayBuffer.empty)
        val sortedTt = tt.sorted
        // RDD scope names beat the job-callsite stage name (every AQE
        // subquery job reports withThreadLocalCaptured): the scopes are
        // the physical operators whose RDDs the stage computes.
        val scopes = si.rddInfos.sortBy(_.id).map(_.name)
          .filter(n => n != null && n.nonEmpty).distinct.take(6)
          .mkString(">")
        stages += StageRow(si.stageId, scopes.take(110),
          wall, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.jvmGCTime, m.executorDeserializeTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          m.inputMetrics.bytesRead / 1e6, si.numTasks,
          if (sortedTt.nonEmpty) sortedTt.last else -1L,
          if (sortedTt.nonEmpty) sortedTt(sortedTt.size / 2) else -1L,
          m.memoryBytesSpilled / 1e6)
      }
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        taskTimes.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) +=
          te.taskInfo.duration
      }
    }

    val executedQes = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = { executedQes.add(qe); () }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    def release(): Unit = {
      graft.core.Caches.freeAll(spark)
      graft.core.Caches.release(spark)
      spark.catalog.clearCache()
      System.gc()
    }

    val names = if (args.nonEmpty) args.toSeq else Seq("q1_agg")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"unknown query: $name")
        case Some(fn) =>
          fn(spark, sfDir).count() // warmup
          release()
          stages.clear(); taskTimes.clear(); executedQes.clear()
          spark.sparkContext.addSparkListener(listener)
          // fn() INSIDE the timed region — several queries do eager work
          // (index builds, GD materializations) in the builder, exactly
          // like Bench's timed `fn(spark, sfDir).count()`
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          // drain the listener bus for real instead of a fixed sleep —
          // on a slow bus late stage/task events were silently dropped
          // (listenerBus is private[spark]; reflection keeps this dev
          // tool out of Spark's package namespace)
          try {
            val sc = spark.sparkContext
            val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
            bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
              .invoke(bus, java.lang.Long.valueOf(10000L))
          } catch { case scala.util.control.NonFatal(_) =>
            Thread.sleep(1000) }
          spark.sparkContext.removeSparkListener(listener)
          println(f"\n===== $name wall=$wall%.3fs =====")
          println(f"${"stage"}%6s ${"wall"}%7s ${"run"}%8s ${"cpu"}%8s " +
            f"${"gc"}%6s ${"deser"}%6s " +
            f"${"sread"}%8s ${"swrite"}%8s ${"input"}%8s ${"tasks"}%6s " +
            f"${"maxT"}%7s ${"medT"}%7s ${"spill"}%7s  name")
          stages.sortBy(-_.runMs).foreach { s =>
            println(f"${s.id}%6d ${s.wallMs}%7d ${s.runMs}%8d ${s.cpuMs}%8d " +
              f"${s.gcMs}%6d ${s.deserMs}%6d " +
              f"${s.shufReadMb}%8.1f ${s.shufWriteMb}%8.1f ${s.inputMb}%8.1f " +
              f"${s.tasks}%6d ${s.maxTaskMs}%7d ${s.medTaskMs}%7d " +
              f"${s.spillMb}%7.1f  ${s.name}")
          }
          // operator metrics of every query executed in the timed region
          // (captured by the QueryExecutionListener — df.count() plans its
          // own query, so df.queryExecution was never executed itself)
          println("-- operator metrics (nonzero time, >1k rows) --")
          executedQes.forEach { qe =>
            def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
                : org.apache.spark.sql.execution.SparkPlan = p match {
              case a: AdaptiveSparkPlanExec => a.executedPlan
              case other => other
            }
            finalPlan(qe.executedPlan).foreach { node =>
              val m = node.metrics.collect {
                case (k, v) if v.value > 0 &&
                  ((k.contains("time") || k.contains("Time")) ||
                    (k == "numOutputRows" && v.value > 1000) ||
                    k.contains("spill")) =>
                  s"$k=${v.value}"
              }
              if (m.nonEmpty)
                println(s"  ${node.nodeName}: ${m.mkString(", ")}")
            }
            println("  ----")
          }
          release()
      }
    }
    spark.stop()
  }
}
