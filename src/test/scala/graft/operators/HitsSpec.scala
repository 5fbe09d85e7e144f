package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Integer-lattice HITS. */
class HitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Plain-Scala BigInt reference of the same integer recurrence,
    * every round run: unnormalized half-steps, h floor-renormalized
    * to N·10⁶ at each even round before the last (when there are ≥ 3
    * rounds), both sides floor-normalized at the end.
    */
  private def reference(
      edges: Seq[(Long, Long)], iterations: Int): Map[Long, (Long, Long)] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val scale = BigInt(nodes.size) * 1000000
    def norm(v: Map[Long, BigInt]) = {
      val tot = v.values.sum
      v.map { case (k, x) => k -> x * scale / tot }
    }
    var h = nodes.map(_ -> BigInt(1000000)).toMap
    var a = Map.empty[Long, BigInt]
    for (i <- 1 to iterations) {
      a = e.groupBy(_._2).map { case (d, es) => d -> es.map(x => h(x._1)).sum }
      h = e.groupBy(_._1).map { case (s, es) => s -> es.map(x => a(x._2)).sum }
      if (iterations >= 3 && i % 2 == 0 && i < iterations) h = norm(h)
    }
    val (hn, an) = (norm(h), norm(a))
    nodes.map(n => n -> ((hn.getOrElse(n, BigInt(0)).toLong,
      an.getOrElse(n, BigInt(0)).toLong))).toMap
  }

  private def scores(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("hand-walked 2-round fixed point on a bipartite graph; pure " +
      "hubs/authorities score exact zero on the other side") {
    // s1 -> {p1, p2}, s2 -> {p1}; N = 4, scale = 4e6
    // unnormalized: r1 a=(2e6,1e6) h=(3e6,2e6);
    //               r2 a=(5e6,3e6) h=(8e6,5e6)
    // closing L1 normalization: a = (2500000, 1500000),
    //   h = (8·4e12 div 13e6, 5·4e12 div 13e6) = (2461538, 1538461)
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L))
      .toDF("src", "dst")
    val out = Hits.microHits(edges, iterations = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((2461538L, 0L)))
    assert(out(2L) === ((1538461L, 0L)))
    assert(out(10L) === ((0L, 2500000L)))
    assert(out(11L) === ((0L, 1500000L)))
  }

  test("boundary exit: a perfect matching repeats its boundary state " +
      "and stops at round 4 of 6, equal to the integer reference") {
    // matching 1→11, 2→12, 3→13: every half-step carries 10⁶ per
    // node, but the FIRST boundary renormalizes the 3-src hub frame
    // to scale N·10⁶ (N = 6 nodes) = 2·10⁶ each ≠ the 10⁶ initial
    // state, so the exit legitimately waits for the second boundary
    // (h4n == h2n) — the test is support-aware, not magnitude-naive
    val pairs = Seq((1L, 11L), (2L, 12L), (3L, 13L))
    val got = Hits.microHits(pairs.toDF("src", "dst"), iterations = 6)
      .collect()
    assert(got.forall(_.getInt(3) == 4))
    assert(scores(got) == reference(pairs, 6))
  }

  test("boundary exit: a non-converged bipartite graph runs all 4 " +
      "rounds, equal to the integer reference") {
    val pairs = Seq((1L, 10L), (1L, 11L), (2L, 10L))
    val got = Hits.microHits(pairs.toDF("src", "dst"), iterations = 4)
      .collect()
    assert(got.forall(_.getInt(3) == 4))
    assert(scores(got) == reference(pairs, 4))
  }

  test("matches the integer reference over 1 to 6 rounds") {
    // a directed graph with a cycle, a shared authority and a pure hub
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 3L),
      (4L, 5L), (5L, 2L))
    for (r <- 1 to 6) {
      val got = Hits.microHits(pairs.toDF("src", "dst"), r).collect()
      assert(scores(got) == reference(pairs, r), s"rounds=$r")
    }
  }

  test("duplicate edges collapse before the rounds") {
    val edges = Seq((1L, 10L), (1L, 10L), (2L, 10L)).toDF("src", "dst")
    val once = Hits.microHits(Seq((1L, 10L), (2L, 10L))
      .toDF("src", "dst"), 3).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dup = Hits.microHits(edges, 3).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(once === dup)
  }
}
