package graft

import graft.core.{Caches, Round, RoundReport, Rounds}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The one loop for iterated frames: what it pins, frees and reports. */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Level = StorageLevel.MEMORY_AND_DISK

  private def blockIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** x ↦ min(x + 1, cap): a toy loop whose changed count is the number
    * of values still below the cap.
    */
  private def climb(cap: Long)(df: DataFrame): Option[Round] =
    Some(Round.observed(
      df.select(col("x"), least(col("x") + 1, lit(cap)).as("nx")),
      sum(when(col("nx") =!= col("x"), 1L).otherwise(0L)))(
      _.select(col("nx").as("x"))))

  test("Rounds: observed changed counts, convergence and rounds run") {
    val before = persistedIds
    val (last, report) = Rounds.run(
      Caches.pin(Seq(0L, 1L, 3L).toDF("x"), Level), Level, 10)(climb(3))
    // changed per round: {0,1} climb, then {1} (0→1→2), then {2→3}, then 0
    assert(report === RoundReport(4, Seq(2L, 2L, 1L, 0L), converged = true))
    assert(last.df.as[Long].collect().toSeq.sorted === Seq(3L, 3L, 3L))
    // only the last round's blocks are left, and they are the caller's
    assert(persistedIds -- before === blockIds(last.df))
    last.free(blocking = true)
    assert(persistedIds === before)
  }

  test("Rounds: the round budget stops an unconverged loop") {
    val (last, report) = Rounds.run(
      Caches.pin(Seq(0L).toDF("x"), Level), Level, 2)(climb(5))
    assert(report === RoundReport(2, Seq(1L, 1L), converged = false))
    assert(last.df.as[Long].collect().toSeq === Seq(2L))
    last.free(blocking = true)
  }

  test("Rounds: a step that returns None stops early, converged, " +
    "before pinning another round; untested rounds report no counts") {
    val before = persistedIds
    var steps = 0
    val (last, report) = Rounds.run(
      Caches.pin(Seq(0L).toDF("x"), Level), Level, 10) { df =>
      steps += 1
      if (df.as[Long].head() >= 2L) None
      else Some(Round(df.select((col("x") + 1).as("x"))))
    }
    assert(report === RoundReport(2, Seq.empty, converged = true))
    assert(steps === 3)
    assert(last.df.as[Long].collect().toSeq === Seq(2L))
    assert(persistedIds -- before === blockIds(last.df))
    last.free(blocking = true)
  }

  test("Rounds: a test runs on the pinned round while the round before " +
    "is still readable; zero rounds return the initial frame") {
    val (last, report) = Rounds.run(
      Caches.pin(Seq(1L, 2L).toDF("x"), Level), Level, 3) { prev =>
      Some(Round(prev.select((col("x") * 2).as("x")), Some { next =>
        val grew = next.agg(sum("x")).head().getLong(0) -
          prev.agg(sum("x")).head().getLong(0)
        (grew, grew > 5L)
      }))
    }
    // sums 3 → 6 → 12: growth 3, then 6 > 5 stops
    assert(report === RoundReport(2, Seq(3L, 6L), converged = true))
    assert(last.df.as[Long].collect().toSeq.sorted === Seq(4L, 8L))
    last.free(blocking = true)

    val init = Caches.pin(Seq(7L).toDF("x"), Level)
    val (same, none) = Rounds.run(init, Level, 0)(_ => None)
    assert(none === RoundReport(0, Seq.empty, converged = false))
    assert(same.df.as[Long].collect().toSeq === Seq(7L))
    same.free(blocking = true)
  }
}
