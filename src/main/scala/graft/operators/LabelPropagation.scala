package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation — community detection over a
  * similarity/link graph (the coarser companion to connected
  * components: CC finds *reachability* clusters, LPA finds *densely
  * connected* communities, e.g. topical groups in a near-dup graph).
  *
  * Classic LPA is nondeterministic (random visit order, random tie
  * break) and therefore untestable cross-engine. This variant is
  * FULLY deterministic: synchronous rounds (all nodes update from the
  * previous round's labels), each node taking its neighbors' most
  * frequent label with ties broken by the SMALLEST label. Determinism
  * costs nothing at the plan level and buys an exact oracle.
  *
  * Scale shape (the PageRank recipe): edges are clustered by src once
  * and cached; a round is one join of the narrow (node, label) frame
  * against the cached edges, a map-side-combined (dst, label) count,
  * and a per-dst argmax — all hash exchanges, no sorts, no driver
  * state; the rounds run on [[Fixpoint]] with a cut every 4th round,
  * so the plan stays O(1) deep over any round count.
  *
  * CONTRACT: feed both directions for an undirected graph; every
  * node must appear as a dst (true for both-direction edge sets —
  * isolated nodes have no edges and no community by definition).
  */
object LabelPropagation {

  /** (node, label) after `rounds` synchronous updates; initial label
    * is the node id itself.
    */
  def propagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    // one shuffle: cluster by src — satisfies the dedup aggregate and
    // every round's src join (the PageRank setup recipe)
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst").persist()
    e.count()
    val nodes = e.select(col("src").as("node")).distinct().persist()
    val init = nodes.withColumn("label", col("node")).localCheckpoint(true)
    val (last, _) = Fixpoint.run(init, rounds, 4, None) { (labels, _) =>
      e.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        // lexicographic struct max: highest count, then (via negated
        // label) smallest label — the deterministic tie break
        .agg(max_by(col("label"),
          struct(col("c"), (lit(-1L) * col("label")).as("negl"))).as("label"))
        .withColumnRenamed("dst", "node")
    }
    Seq(e, nodes).foreach(_.unpersist())
    last.select(col("node"), col("label"))
  }
}
