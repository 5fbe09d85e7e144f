package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one round loop behind the iterative graph operators
  * ([[PageRank]], [[Hits]], [[KCore]], [[ShortestPaths]],
  * [[LabelPropagation]]) and the [[BradleyTerry]] rating fit.
  *
  * A round maps the state frame to the next one. Rounds stay lazy
  * between cuts: every `every`-th round and the last become an eager
  * `localCheckpoint`, which severs the lineage so the plan stays at
  * most `every` rounds deep. On each cut round before the last, the
  * optional `settled(prevCut, nextCut)` probe decides whether the
  * state has stopped changing; if it has, the loop ends there. The
  * last round is never probed: stopping there would save nothing.
  * Each cut releases the one it supersedes (the initial state counts
  * as the first cut), so on return only the final state's cut is
  * pinned, and the caller owns it.
  *
  * Job accounting, for R rounds run at cadence k: the caller's setup
  * jobs, then one action per cut (⌈R/k⌉ of them, the last round's
  * included) and one per probe (every cut but the last). An action
  * runs one result job plus one job per broadcast and per AQE shuffle
  * stage in its plan, so a cut's count grows with the lazy rounds it
  * materializes. A round function that pins a side frame of its own
  * adds that action to its round.
  */
private[operators] object Fixpoint {

  /** @return the state after the last round run, and that round's
    *         number (`rounds` unless the probe stopped the loop).
    */
  def run(init: DataFrame, rounds: Int, every: Int,
      settled: Option[(DataFrame, DataFrame) => Boolean])(
      round: (DataFrame, Int) => DataFrame): (DataFrame, Int) = {
    require(rounds >= 1 && every >= 1, "need rounds >= 1 and every >= 1")
    var cut = init
    var state = init
    var i = 0
    var done = false
    while (i < rounds && !done) {
      i += 1
      val next = round(state, i)
      if (i % every == 0 || i == rounds) {
        val c = next.localCheckpoint(true)
        done = i < rounds && settled.exists(_(cut, c))
        release(cut)
        cut = c
        state = c
      } else state = next
    }
    (state, i)
  }

  /** Drops a cut's blocks. `Dataset.unpersist` only reaches the cache
    * manager, which a local checkpoint never enters, so it is the
    * checkpointed RDD under the cut that is unpersisted. A frame that
    * is not a checkpoint pins nothing and is left alone.
    */
  def release(cut: DataFrame): Unit = cut.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}
