package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance: the minimum number of edge hops
  * from any seed node to every reachable node, bounded by `maxHops` —
  * the reachability/blast-radius primitive (which suppliers are ≤ k
  * hops from a failing part, which docs are k dedup-links from a
  * contaminated seed). Exact: hop counts are pure integers; min-hop
  * is order-independent, so no tie-break machinery exists anywhere.
  *
  * Delta frontier, not full relaxation: each round joins ONLY the
  * newly-discovered frontier against the edge cache — visited nodes
  * never re-enter the join (the textbook level-synchronous BFS).
  * Early exit when a frontier comes back empty.
  *
  * Scale shape: edges are clustered by src ONCE and persisted —
  * every round's join reuses that partitioning (no per-round edge
  * exchange, the PageRank recipe). The frontier side is broadcast
  * when the graph is small enough to prove it cheaply
  * (2·|edges| ≤ threshold), else shuffle-hash joined — never a
  * sort-merge that would re-sort the edge cache. `localCheckpoint`
  * severs lineage each round (the distance frame is O(reached
  * nodes), cheap to pin; an unchecked 6-round plan would re-run
  * every prior join on each action). All pins except the result are
  * released on return.
  */
object Bfs {

  /** @param edges directed (src, dst); feed both directions for an
    *              undirected graph.
    * @param seeds one column `node`; duplicates tolerated.
    * @return (node, dist) for every node within `maxHops` of a seed —
    *         seeds themselves at dist 0.
    */
  def hopDistance(
      edges: DataFrame,
      seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "need at least one hop")
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst").persist()
    val bcast = 2 * e.count() <= PageRank.BroadcastThreshold
    var dist = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint(true)
    var frontier = dist
    val pins = scala.collection.mutable.ArrayBuffer(dist)
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val frontSrc = frontier.select(col("node").as("src"))
      val candidates = e.join(
          if (bcast) broadcast(frontSrc) else frontSrc.hint("shuffle_hash"),
          Seq("src"))
        .select(col("dst").as("node")).distinct()
      val next = candidates.join(
          if (bcast) broadcast(dist) else dist, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop.toLong)).localCheckpoint(true)
      pins += next
      if (next.head(1).isEmpty) done = true
      else {
        // the union stays LAZY (r16): every per-hop frame underneath
        // it is already an eager checkpoint, so re-materializing the
        // accumulated union each hop only re-copied O(hops·nodes)
        // rows into fresh blocks — one extra eager job per hop. The
        // union's depth is bounded by maxHops; its consumers (the
        // anti-join build and the next union) read the hop caches
        // directly, and the RESULT pins once at the end so the hop
        // caches can release.
        dist = dist.union(next)
        frontier = next
        hop += 1
      }
    }
    val result = dist.localCheckpoint(true)
    pins.foreach(_.unpersist())
    e.unpersist()
    result
  }
}
