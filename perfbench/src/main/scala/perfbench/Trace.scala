package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

import scala.collection.mutable

/** One timed call into a module. `layer` is the text before the first
  * dot of `name` (`dedup.verify` belongs to `dedup`).
  */
final case class Span(id: Int, name: String, parent: Int, start: Long,
                      var end: Long = 0L) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder and Spark event collector for the one traced execution.
  *
  * Each span sets the local property [[Trace.SpanProp]] while it runs,
  * so every job it submits (from any thread that inherits the caller's
  * properties) carries the span id; stages and tasks follow their job.
  * Executed SQL plans are attributed by draining the listener bus at
  * every span boundary, which delivers all events of the finished
  * interval before the next span starts. Spans and events stay in
  * memory; [[metrics]] reduces them once the execution is over.
  */
final class Trace(spark: SparkSession, val slots: Int) {
  import Trace._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  // listener-side state, written on the listener bus thread under this
  // object's lock
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageInfo]
  private val tasks = mutable.ArrayBuffer.empty[TaskRow]
  private val blockBytes = mutable.Map.empty[(Int, String), Long]
  // (rdd id, change in stored bytes), in event order
  private val blockDeltas = mutable.ArrayBuffer.empty[(Int, Long)]
  private val harnessRdds = mutable.Set.empty[Int]

  // executed plans, assigned to the span open when they were drained
  private val pendingPlans = new ConcurrentLinkedQueue[(QueryExecution, Long)]()
  private val plans = mutable.ArrayBuffer.empty[(Int, QueryExecution, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      val p = Option(e.properties)
      val span = p.flatMap(x => Option(x.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val harness = p.exists(x => x.getProperty(HarnessProp) == "1")
      jobs(e.jobId) = Job(span, harness, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      locked { stages += e.stageInfo }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      val run = m.map(_.executorRunTime).getOrElse(0L)
      val overhead = m.map(x => x.executorDeserializeTime +
        x.resultSerializationTime).getOrElse(0L)
      val sched = math.max(0L, i.duration - run - overhead)
      tasks += TaskRow(e.stageId, run, sched, i.failed)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      locked {
        val b = e.blockUpdatedInfo
        b.blockId match {
          case RDDBlockId(rdd, split) =>
            val key = (rdd, s"$split@${b.blockManagerId.executorId}")
            val size = if (b.storageLevel.isValid) b.memSize + b.diskSize
              else 0L
            blockDeltas += ((rdd, size - blockBytes.getOrElse(key, 0L)))
            blockBytes(key) = size
          case _ =>
        }
      }
  }

  private def locked[A](f: => A): A = synchronized(f)

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      pendingPlans.add((qe, ns)); ()
    }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Deliver every queued listener event, the way `graft.Drill` does:
    * `listenerBus` is private to Spark, so it is reached reflectively.
    */
  private def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
    val owner = open.headOption.map(_.id).getOrElse(-1)
    var p = pendingPlans.poll()
    while (p != null) { plans += ((owner, p._1, p._2)); p = pendingPlans.poll() }
  }

  def span[A](name: String)(body: => A): A = {
    drain()
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime())
    spans += s
    val saved = sc.getLocalProperty(SpanProp)
    open = s :: open
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      drain()
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanProp, saved)
    }
  }

  /** Materialize a module call's output once, inside the open span, so
    * the lazy work it planned is paid there. The harness's own blocks
    * are remembered and left out of the program's materialization
    * counts. Returns the materialized frame and its row count.
    */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val m = df.localCheckpoint(eager = true,
      storageLevel = StorageLevel.MEMORY_AND_DISK)
    m.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }
      .foreach(id => locked(harnessRdds += id))
    sc.setLocalProperty(HarnessProp, "1")
    try (m, m.count()) finally sc.setLocalProperty(HarnessProp, null)
  }

  def count(name: String, v: Double): Unit = counts(name) += v

  /** Per-layer metrics of the traced execution; `wallS` is its wall time. */
  def metrics(wallS: Double): Map[String, Double] = locked {
    val out = mutable.LinkedHashMap.empty[String, Double]
    def spanSum(name: String) =
      spans.filter(_.name == name).map(_.seconds).sum
    def spansOf(layer: String) = spans.filter(_.layer == layer)
    val spanIdsByName = spans.groupBy(_.name).view.mapValues(_.map(_.id).toSet)
    def spanIds(pred: Span => Boolean) = spans.filter(pred).map(_.id).toSet

    val programJobs = jobs.filter { case (_, j) => !j.harness }
    val programStages = stages.filter(s =>
      stageJob.get(s.stageId).flatMap(jobs.get).exists(!_.harness))
    val stageIds = programStages.map(_.stageId).toSet
    val programTasks = tasks.filter(t => stageIds.contains(t.stage))
    def jobsIn(ids: Set[Int]) = programJobs.values.count(j => ids.contains(j.span))
    def stagesIn(ids: Set[Int]) = programStages.filter(s =>
      stageJob.get(s.stageId).flatMap(jobs.get).exists(j => ids.contains(j.span)))

    // self time: span duration minus the time its children cover
    val children = spans.groupBy(_.parent)
    def selfS(s: Span): Double =
      s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    Seq("sources", "feature", "dedup", "similarity", "mlops", "sink",
        "pipeline").foreach { l =>
      out(s"$l.self_s") = spansOf(l).map(selfS).sum
    }

    // sources: input files scanned, asset writes (not the result sink)
    val sinkIds = spanIds(_.layer == "sink")
    val writes = plans.filter(p => !sinkIds.contains(p._1) && isWrite(p._2))
    def metricSum(qes: Seq[QueryExecution], pick: SparkPlan => Boolean,
                  metric: String) = distinctNodes(qes).filter(pick)
      .flatMap(_.metrics.get(metric)).map(_.value).sum.toDouble
    out("sources.read_s") = spanSum("sources.read")
    out("sources.input_mb") = metricSum(plans.map(_._2).toSeq,
      _.nodeName.startsWith("Scan"), "filesSize") / 1e6
    out("sources.write_s") = writes.map(_._3).sum / 1e9
    out("sources.write_mb") =
      metricSum(writes.map(_._2).toSeq, _ => true, "numOutputBytes") / 1e6
    out("sources.files_written") =
      metricSum(writes.map(_._2).toSeq, _ => true, "numFiles")

    // core: blocks the program persisted or checkpointed
    val stored = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    var live, peak = 0L
    blockDeltas.filterNot(d => harnessRdds.contains(d._1)).foreach {
      case (rdd, delta) =>
        if (delta > 0) stored(rdd) += delta
        live += delta
        peak = math.max(peak, live)
    }
    out("core.materializations") = stored.size.toDouble
    out("core.materialized_mb") = stored.values.sum / 1e6
    out("core.peak_block_mb") = peak / 1e6

    out("feature.vocab_s") = spanSum("feature.vocab")
    out("feature.transform_s") = spanSum("feature.transform")
    out("feature.vocab_terms") = counts("feature.vocab_terms")

    out("dedup.signature_s") = spanSum("dedup.signature")
    out("dedup.candidate_s") = spanSum("dedup.candidate")
    out("dedup.verify_s") = spanSum("dedup.verify")
    out("dedup.components_s") = spanSum("dedup.components")
    out("dedup.components_jobs") =
      jobsIn(spanIdsByName.getOrElse("dedup.components", Set.empty)).toDouble
    val cand = counts("dedup.candidate_pairs")
    out("dedup.candidate_pairs") = cand
    out("dedup.verified_pairs") = counts("dedup.verified_pairs")
    out("dedup.verify_yield") =
      if (cand > 0) counts("dedup.verified_pairs") / cand else 0.0

    out("similarity.build_s") =
      spanSum("similarity.build") + spanSum("similarity.append")
    out("similarity.query_s") = spanSum("similarity.query")
    out("similarity.knn_graph_s") = spanSum("similarity.knn_graph")
    out("similarity.knn_refine_s") = spanSum("similarity.knn_refine")
    val simIds = spanIds(_.layer == "similarity")
    val scored = pairsScored(plans.filter(p => simIds.contains(p._1))
      .map(_._2).toSeq).toDouble
    out("similarity.pairs_scored") = scored
    out("similarity.result_yield") =
      if (scored > 0) counts("similarity.result_edges") / scored else 0.0

    out("mlops.nb_s") = spanSum("mlops.nb")
    out("mlops.gd_s") = spanSum("mlops.gd")
    out("mlops.kmeans_s") = spanSum("mlops.kmeans")
    out("mlops.grid_s") = spanSum("mlops.grid")
    out("mlops.jobs") = jobsIn(spanIds(_.layer == "mlops")).toDouble
    out("mlops.corpus_scans") = stagesIn(spanIdsByName.getOrElse(
      "mlops.grid", Set.empty)).count(_.taskMetrics.inputMetrics.bytesRead > 0)
      .toDouble

    // spark: scheduler and task totals of the program's own jobs
    out("spark.jobs") = programJobs.size.toDouble
    out("spark.stages") = programStages.size.toDouble
    out("spark.tasks") = programTasks.size.toDouble
    out("spark.sched_delay_s") = programTasks.map(_.schedMs).sum / 1e3
    out("spark.driver_only_s") = wallS - busyS(jobs.values.toSeq)
    val busy = programTasks.map(_.runMs).sum / 1e3
    out("spark.task_busy_s") = busy
    out("spark.slot_use") = busy / (wallS * slots)
    def tm[A](f: org.apache.spark.executor.TaskMetrics => Long) =
      programStages.map(s => f(s.taskMetrics)).sum
    out("spark.shuffle_write_mb") = tm(_.shuffleWriteMetrics.bytesWritten) / 1e6
    out("spark.shuffle_read_mb") = tm(_.shuffleReadMetrics.totalBytesRead) / 1e6
    out("spark.fetch_wait_s") = tm(_.shuffleReadMetrics.fetchWaitTime) / 1e3
    out("spark.spill_mb") =
      tm(m => m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
    out("spark.gc_s") = tm(_.jvmGCTime) / 1e3
    out("spark.task_skew") = taskSkew(programStages.toSeq, programTasks.toSeq)
    val sigs = programStages.map(s => s.rddInfos.map(_.scope.map(_.name)
      .getOrElse(s.name)).sorted.mkString("|")).distinct.size
    out("spark.stage_reuse_ratio") =
      if (programStages.nonEmpty) sigs.toDouble / programStages.size else 1.0
    out("spark.failed_tasks") = tasks.count(_.failed).toDouble
    out.toMap
  }

  /** Seconds of the union of the jobs' [start, end] intervals. */
  private def busyS(js: Seq[Job]): Double = {
    val iv = js.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (s, e) => total += e - s }
    total / 1e3
  }

  /** max ÷ median task time in the stage that ran longest. */
  private def taskSkew(ss: Seq[StageInfo], ts: Seq[TaskRow]): Double = {
    val longest = ss.filter(s => s.submissionTime.isDefined &&
      s.completionTime.isDefined)
      .sortBy(s => -(s.completionTime.get - s.submissionTime.get))
      .headOption
    longest.map { s =>
      val runs = ts.filter(_.stage == s.stageId).map(_.runMs).sorted
      if (runs.isEmpty) 1.0
      else runs.last.toDouble / math.max(1L, runs(runs.size / 2))
    }.getOrElse(1.0)
  }
}

object Trace {
  val SpanProp = "perfbench.span"
  val HarnessProp = "perfbench.harness"

  private final case class Job(span: Int, harness: Boolean, start: Long,
                               var end: Long = -1L)
  private final case class TaskRow(stage: Int, runMs: Long, schedMs: Long,
                                   failed: Boolean)

  private val DistanceExprs = Set("CosineSimilarity", "L2DistSq",
    "DotProduct", "NearestCell", "NearestCellsTopN")

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and cached relations.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: inputs(p).flatMap(nodes)

  private def inputs(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children ++ other.subqueries
  }

  /** The nodes of several plans, each node once: a cached relation read
    * by several queries shares one plan whose metrics must count once.
    */
  def distinctNodes(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    qes.flatMap(qe => nodes(qe.executedPlan)).filter(seen.add)
  }

  def isWrite(qe: QueryExecution): Boolean =
    nodes(qe.executedPlan).exists(_.isInstanceOf[DataWritingCommandExec])

  /** Rows entering native distance evaluation: for every operator whose
    * expressions call a distance kernel, the output rows of the nearest
    * operators below it that count rows.
    */
  def pairsScored(qes: Seq[QueryExecution]): Long = {
    def rowsInto(p: SparkPlan): Long = inputs(p).map { c =>
      c.metrics.get("numOutputRows").map(_.value).getOrElse(rowsInto(c))
    }.sum
    distinctNodes(qes).filter(n => n.expressions.exists(_.exists(e =>
      DistanceExprs.contains(e.getClass.getSimpleName)))).map(rowsInto).sum
  }
}
