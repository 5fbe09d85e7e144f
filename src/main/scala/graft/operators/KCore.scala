package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded k-core peeling: R synchronous rounds of "drop every node
  * with fewer than k surviving neighbors", then report each
  * survivor's degree within the survivor-induced subgraph — the
  * standard densest-region extractor (spam-farm detection in link
  * graphs, scaffold cleanup before community detection, robust-seed
  * selection in dedup-cluster graphs).
  *
  * Contract is EXACTLY R rounds, not "until fixed point": that makes
  * the result a pure function of (edges, k, R) expressible as an
  * unrolled SQL chain (the PageRank/LPA oracle recipe). Peeling is
  * monotone (each round's survivors are a subset of the last), so
  * once a round removes nobody the loop exits early — the remaining
  * rounds are provable no-ops, and a count-equality check suffices
  * to detect that (subset + equal cardinality = equal set). The
  * true k-core is the R→∞ limit; callers pick R ≥ the graph's peel
  * depth (diameter-bounded) and the early exit makes overshoot free.
  *
  * Scale shape: edges are deduped, clustered by src and persisted
  * once; every round is two semi-joins (src-side, dst-side) against
  * the shrinking alive set plus one map-side-combined degree count.
  * The alive side is broadcast when the graph is provably small
  * (2·|edges| ≤ threshold), else shuffle-hash — never a sort-merge
  * that would re-sort the edge cache. The rounds run on [[Fixpoint]]
  * with a cut every round (the alive frame is O(nodes), cheap to pin)
  * and the count probe on each cut before the last.
  */
object KCore {

  /** @param edges directed (src, dst); feed both directions for an
    *              undirected graph. Duplicates are dropped.
    * @return (node, core_degree) for the round-R survivors, degree
    *         counted within the survivor-induced subgraph.
    */
  def coreMembers(
      edges: DataFrame,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, "need k >= 1 and rounds >= 1")
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).dropDuplicates("src", "dst").persist()
    val bcast = 2 * e.count() <= PageRank.BroadcastThreshold
    def side(a: DataFrame) = if (bcast) broadcast(a) else a.hint("shuffle_hash")
    def induced(alive: DataFrame): DataFrame = e
      .join(side(alive.select(col("node").as("src"))), Seq("src"))
      .join(side(alive.select(col("node").as("dst"))), Seq("dst"))
      .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))

    val init = e.select(col("src").as("node")).distinct().localCheckpoint(true)
    // subset + equal cardinality = equal set, so a count suffices
    var n = init.count()
    val (last, _) = Fixpoint.run(init, rounds, 1, Some { (_, next) =>
      val n2 = next.count()
      val fixed = n2 == n || n2 == 0L
      n = n2
      fixed
    }) { (alive, _) =>
      induced(alive).filter(col("core_degree") >= k).select("node")
    }
    val result = induced(last).localCheckpoint(true)
    Fixpoint.release(last)
    e.unpersist()
    result
  }
}
