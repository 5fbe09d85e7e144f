package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded single-source/multi-source weighted shortest paths: the
  * minimum path cost from any seed within `rounds` edge relaxations —
  * Bellman-Ford with a delta frontier (the weighted upgrade of
  * [[Bfs]]; cheapest-routing / influence-cost queries where hop
  * count alone is too coarse). Exact: integer edge weights make every
  * candidate cost an integer and min-plus is order-independent — no
  * tie machinery, no floats.
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
  * else shuffle-hash), one map-side-combined min per dst, one
  * full-outer merge with the O(reached-nodes) dist frame;
  * `localCheckpoint` severs lineage per round. Parallel edges are
  * tolerated (min-plus absorbs them) but pre-aggregating to one
  * min-weight edge per (src, dst) keeps the per-round join smallest.
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
      .repartition(col("src")).persist()
    val bcast = 2 * e.count() <= PageRank.BroadcastThreshold
    def side(a: DataFrame) = if (bcast) broadcast(a) else a.hint("shuffle_hash")
    var dist = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint(true)
    var frontier = dist
    val pins = scala.collection.mutable.ArrayBuffer(dist)
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val cand = e
        .join(side(frontier.select(col("node").as("src"), col("d"))), Seq("src"))
        .select(col("dst").as("node"), (col("d") + col("w")).as("_nd"))
        .groupBy("node").agg(min("_nd").as("_nd"))
      val next = cand.join(dist, Seq("node"), "full_outer")
        .select(col("node"), least(col("_nd"), col("d")).as("nd"),
          (col("d").isNull || col("_nd") < col("d")).as("_imp"))
        .localCheckpoint(true)
      pins += next
      if (next.filter(col("_imp")).head(1).isEmpty) done = true
      else {
        dist = next.select(col("node"), col("nd").as("d"))
        frontier = next.filter(col("_imp"))
          .select(col("node"), col("nd").as("d"))
        r += 1
      }
    }
    val result = dist.select(col("node"), col("d").as("cost"))
      .localCheckpoint(true)
    pins.foreach(_.unpersist())
    e.unpersist()
    result
  }
}
