package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded single-source/multi-source weighted shortest paths: the
  * minimum path cost from any seed within `rounds` edge relaxations —
  * Bellman-Ford with a delta frontier (cheapest-routing /
  * influence-cost queries). With every weight 1 it is multi-source
  * BFS: the cost is the min hop count, and the delta frontier is the
  * newly discovered level (reachability / blast radius: which
  * suppliers are ≤ k hops from a failing part). Exact: integer edge
  * weights make every candidate cost an integer and min-plus is
  * order-independent — no tie machinery, no floats.
  *
  * Round invariant (why the delta frontier is lossless): after round
  * i, dist(v) = min cost over paths of ≤ i edges. Relaxing only from
  * nodes improved in round i−1 preserves it — a non-improved node's
  * outgoing contributions were already folded in the round after it
  * last improved, and its dist hasn't changed since. So the result
  * equals full Bellman-Ford at round R, which is what the unrolled
  * SQL oracle computes; when a round improves nothing the remaining
  * rounds are no-ops and the loop exits early.
  *
  * Scale shape: edges clustered by src once and persisted; per round
  * one frontier⋈edges join (broadcast when 2·|edges| ≤ threshold,
  * else shuffle-hash) and one map-side-combined min per node over
  * those candidates and the O(reached-nodes) dist frame. The rounds
  * run on [[Fixpoint]] with a cut every round and the empty-
  * improvement probe on each cut before the last. Exact duplicate
  * edges drop in setup, partition-locally under the src clustering;
  * parallel edges of different weights are tolerated (min-plus
  * absorbs them) but pre-aggregating to one min-weight edge per
  * (src, dst) keeps the per-round join smallest.
  */
object ShortestPaths {

  /** @param edges (src, dst, w) with non-negative integer weights;
    *              feed both directions for an undirected graph.
    * @return (node, cost): min cost over paths of ≤ `rounds` edges
    *         from any seed; seeds at cost 0.
    */
  def bounded(
      edges: DataFrame,
      seeds: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e = edges.select(col("src"), col("dst"), col("w"))
      .repartition(col("src")).dropDuplicates("src", "dst", "w").persist()
    val bcast = 2 * e.count() <= PageRank.BroadcastThreshold
    def side(a: DataFrame) = if (bcast) broadcast(a) else a.hint("shuffle_hash")
    // the state is the last round's merge: (node, nd, _imp), _imp
    // marking the nodes it improved — the next round's frontier
    val init = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("nd"), lit(true).as("_imp"))
      .localCheckpoint(true)
    val (last, _) = Fixpoint.run(init, rounds, 1,
      Some((_, next) => next.filter(col("_imp")).head(1).isEmpty)) { (state, _) =>
      val frontier = state.filter(col("_imp"))
        .select(col("node").as("src"), col("nd").as("d"))
      // one merge aggregate over the candidate costs and the current
      // distances, min per node of each: ONE shuffle, where a
      // full-outer join of the two would shuffle each side
      val none = lit(null).cast("long")
      e.join(side(frontier), Seq("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("_nd"),
          none.as("d"))
        .union(state.select(col("node"), none.as("_nd"), col("nd").as("d")))
        .groupBy("node").agg(min("_nd").as("_nd"), min("d").as("d"))
        .select(col("node"), least(col("_nd"), col("d")).as("nd"),
          (col("d").isNull || col("_nd") < col("d")).as("_imp"))
    }
    e.unpersist()
    last.select(col("node"), col("nd").as("cost"))
  }
}
