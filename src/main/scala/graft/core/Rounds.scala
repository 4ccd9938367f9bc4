package graft.core

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.storage.StorageLevel

/** What an iterated loop did: the rounds it ran after its initial
  * frame, the changed count each round's test reported (empty when the
  * loop has no test), and whether it stopped on its own stop rule
  * rather than at its round budget.
  */
final case class RoundReport(rounds: Int, changedPerRound: Seq[Long],
                             converged: Boolean)

/** One round for [[Rounds.run]]: the frame to pin, and an optional
  * test that runs on the pinned frame, before the round it was built
  * from is freed, and returns the round's changed count and whether
  * the loop has converged.
  */
final case class Round(df: DataFrame,
                       test: Option[DataFrame => (Long, Boolean)] = None)

object Round {

  /** `df` with the aggregate `changed` observed on the round's own pin
    * job, so the count costs no extra job; a round that changes nothing
    * converges. `pinned` shapes the frame that is pinned above the
    * observation (a projection or filter of `df`).
    */
  def observed(df: DataFrame, changed: Column)(
      pinned: DataFrame => DataFrame): Round = {
    val obs = Observation()
    Round(pinned(df.observe(obs, changed.as("changed"))), Some { _ =>
      val c = obs.get("changed").asInstanceOf[Long]
      (c, c == 0L)
    })
  }
}

/** The one loop for iterated frame operators (PageRank, label
  * propagation, k-core peeling, beam search, BPE merges, NN-descent,
  * k-center, connected components). Each round is one eager checkpoint
  * through [[Caches.pin]], which truncates the lineage so the plan
  * stays O(1) over rounds, and the round before is freed as soon as
  * the new one is materialized, so at most two rounds' blocks are ever
  * resident. Operators keep only their step, stop rule and setup.
  */
object Rounds {

  /** Runs up to `maxRounds` rounds from `init`, which becomes round 0
    * and is owned from here on. Each round, `step` builds round i+1
    * from round i's frame (`None` stops the loop, converged, before
    * another round); round i+1 is pinned at `level`, its test runs, and
    * round i is freed.
    *
    * Returns the last round and the report. The last round is the
    * caller's: return its frame (a returned checkpoint's blocks live as
    * long as the caller keeps them, like any checkpoint) or free it.
    */
  def run(init: Pinned, level: StorageLevel, maxRounds: Int)(
      step: DataFrame => Option[Round]): (Pinned, RoundReport) = {
    var cur = init
    val changed = Seq.newBuilder[Long]
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      step(cur.df) match {
        case None => converged = true
        case Some(round) =>
          val next = Caches.pin(round.df, level)
          round.test.foreach { t =>
            val (c, done) = t(next.df)
            changed += c
            converged = done
          }
          cur.free(blocking = true)
          cur = next
          rounds += 1
      }
    }
    (cur, RoundReport(rounds, changed.result(), converged))
  }
}
