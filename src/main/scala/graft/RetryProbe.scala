package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.dedup.Components
import graft.operators.Skew
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Chaos probe: inject a one-shot task failure into the salted-aggregate
  * stage and assert the retried computation equals the plain aggregate.
  *
  * This is the runtime check behind the deterministic-salt rule
  * (SURVEY §7 hard-part 2): the salt is a content hash, so a retried
  * task re-salts every row into the SAME bucket and the two-phase
  * aggregate stays exact. With the old nondeterministic salt
  * (partition id + monotonically_increasing_id) a recomputation could
  * re-bucket rows mid-aggregate. Scope: this drives TASK retry; the
  * fetch-failure STAGE-recompute case follows from the same
  * determinism argument (the salt depends only on row content).
  *
  * A main, not a spec: it needs `local[4,4]` (task maxFailures = 4),
  * and the shared test session's context can't be reconfigured —
  * `runMain` forks a fresh JVM instead.
  */
object RetryProbe {
  private val injected = new AtomicBoolean(false)
  private val injectedDedup = new AtomicBoolean(false)
  // object field, NOT a local: a local val is captured by VALUE into
  // the task closure, so the executor-side CAS lands on a per-task
  // copy and the driver read stays false (and the one-shot guard
  // resets per attempt — attemptNumber()==0 is what actually bounds
  // the injection)
  private val injectedJoin = new AtomicBoolean(false)

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4,4]") // 4 threads, 4 task attempts
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val failOnce = udf { (x: Double) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          injected.compareAndSet(false, true)) {
        throw new RuntimeException("injected failure (retry probe)")
      }
      x
    }

    val base = spark.range(200000).select(
      when(pmod(col("id"), lit(10)) === 0, lit("hot"))
        .otherwise(concat(lit("k"), pmod(col("id"), lit(7)))).as("key"),
      (col("id") % 1000).cast("double").as("v"))

    val plain = base.groupBy("key")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap

    // the failing column is computed in the same stage as the salt +
    // partial aggregate, so the injected failure retries that stage's task
    val salted = Skew.saltedAggregate(
      base.withColumn("v", failOnce(col("v"))),
      keyCols = Seq("key"), saltBuckets = 8,
      partials = Seq("s" -> sum(col("v")), "n" -> count(lit(1))),
      finals = Seq("s" -> sum(col("s")), "n" -> sum(col("n"))))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap

    val ok = salted == plain && injected.get()
    println(s"""{"probe":"salted_agg_task_retry","injected":${injected.get()},"match":${salted == plain},"pass":$ok}""")

    // Probe 2: the dedup pipeline under task retry. Every keeper rule in
    // the suite (md5 hashing, min-label components, min-(doc,pos)
    // canonical occurrences) is content-deterministic, so a retried task
    // must reproduce identical clusters — this drives that claim, not
    // just asserts it. The failure is injected into the text column, so
    // it fires inside the shingle/signature map stage.
    val failTextOnce = udf { (t: String) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          injectedDedup.compareAndSet(false, true)) {
        throw new RuntimeException("injected failure (dedup retry probe)")
      }
      t
    }
    // 2000 docs over 1800 distinct texts: 200 exact-duplicate pairs plus
    // whatever the banding finds — enough cluster structure to catch a
    // re-bucketed retry
    def docsWith(textCol: org.apache.spark.sql.Column) =
      spark.range(2000).select(col("id").as("doc_id"),
        textCol.as("text")).repartition(8)
    val textExpr = expr("concat_ws(' ', transform(sequence(1, 20), " +
      "i -> concat('t', pmod(hash(pmod(id, 1800), i), 500))))")
    // The CANONICAL corpus-dedup pipeline, not a re-implementation — if
    // the corpus-dedup edge construction ever changes shape, the probe
    // tests the new shape automatically.
    def clusters(docs: org.apache.spark.sql.DataFrame) =
      Components.dedupCorpus(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
        .toMap
    val cleanClusters = clusters(docsWith(textExpr))
    val chaosClusters = clusters(docsWith(failTextOnce(textExpr)))
    val ok2 = cleanClusters == chaosClusters && injectedDedup.get()
    println(s"""{"probe":"dedup_pipeline_task_retry","injected":${injectedDedup.get()},"match":${cleanClusters == chaosClusters},"clusters":${cleanClusters.size},"pass":$ok2}""")
    // Probe 3: the per-block SALTED JOIN under task retry. The salt is
    // pmod(xxhash64(split column), per-key factor) — pure row content —
    // so a retried task re-salts every a-row into the SAME sub-block
    // and the join output is reproduced exactly. A nondeterministic
    // split (partition id, round-robin) would re-bucket rows on retry
    // and silently drop/duplicate pairs mid-join; this drives the
    // distinction. Failure injected into the a-side value column, so it
    // fires inside the salted map stage.
    val failLongOnce = udf { (x: Long) =>
      val tc = TaskContext.get()
      if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
          injectedJoin.compareAndSet(false, true)) {
        throw new RuntimeException("injected failure (skew-join retry probe)")
      }
      x
    }
    // hot key 0 carries 5k a-rows (splits 2²=4 ways at threshold 2500)
    val aJ = spark.range(20000).select(col("id").as("ida"),
      when(col("id") < 5000, lit(0)).otherwise(pmod(col("id"), lit(97)))
        .as("k")).repartition(8)
    val bJ = spark.range(3000).select(col("id").as("idb"),
      when(col("id") < 300, lit(0)).otherwise(pmod(col("id"), lit(97)))
        .as("k")).repartition(8)
    def joined(a: org.apache.spark.sql.DataFrame) =
      graft.operators.SkewJoin.saltedInnerJoin(a, col("ida"), bJ,
          Seq("k"), maxSalt = 8, hotThreshold = 2500)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("ida") * col("idb")).as("x"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
    val cleanJoin = joined(aJ)
    val chaosJoin = joined(aJ.withColumn("ida", failLongOnce(col("ida"))))
    val ok3 = cleanJoin == chaosJoin && injectedJoin.get()
    println(s"""{"probe":"salted_join_task_retry","injected":${injectedJoin.get()},"match":${cleanJoin == chaosJoin},"keys":${cleanJoin.size},"pass":$ok3}""")
    spark.stop()
    if (!ok || !ok2 || !ok3) sys.exit(1)
  }
}
