package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class GraphStatsDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1)))
      .toDF("src", "dst")

  test("assortativity: star graph is perfectly disassortative (r = -1)") {
    val star = undirected((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val r = GraphStats.degreeAssortativity(star, "src", "dst").collect()(0)
    assert(r.getLong(0) === 5L) // nodes
    assert(r.getLong(1) === 4L) // undirected edges
    assert(r.getDouble(2) === -1.0)
  }

  test("assortativity: a cycle is degree-regular — correlation undefined (null)") {
    val cycle = undirected((1L, 2L), (2L, 3L), (3L, 1L))
    val r = GraphStats.degreeAssortativity(cycle, "src", "dst").collect()(0)
    // all degrees equal → zero variance → 0/0, which both engines
    // (Spark non-ANSI and the DuckDB oracle) surface as NULL — not a
    // fabricated 0 (callers treat regular graphs explicitly)
    assert(r.isNullAt(2))
  }

  test("assortativity: a self-loop counts once in n_edges") {
    // one undirected edge (1,2) + a self-loop on 1: the self-loop
    // survives symmetrization as ONE directed row, so n_edges must be
    // (m + self_loops) / 2 = (3 + 1) / 2 = 2, never a truncated 3/2
    val g = Seq((1L, 2L), (2L, 1L), (1L, 1L)).toDF("src", "dst")
    val r = GraphStats.degreeAssortativity(g, "src", "dst").collect()(0)
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 2L, s"self-loop counted once: $r")
  }

  test("weighted reservoir: heavy weights dominate, sample is exact-k") {
    val docs = ((1L to 100L).map(i => (i, 1L)) ++
      Seq((101L, 100000L), (102L, 100000L))).toDF("doc_id", "w")
    val out = Sampling.weightedReservoir(docs, "doc_id", "w", k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(out.length === 10)
    assert(out.map(_._2).sorted.toSeq === (1 to 10))
    val ids = out.map(_._1).toSet
    assert(ids.contains(101L) && ids.contains(102L),
      s"1e5-weighted rows must enter a k=10 sample over 100 unit rows: $ids")
  }

  test("weighted reservoir: zero/negative weights are excluded") {
    val docs = Seq((1L, 5L), (2L, 0L), (3L, -2L)).toDF("doc_id", "w")
    val out = Sampling.weightedReservoir(docs, "doc_id", "w", k = 5)
      .collect().map(_.getLong(0))
    assert(out.toSeq === Seq(1L))
  }

  test("categorical PSI: identical distribution scores ~0, shifted scores high") {
    val ref = Seq(("a", 50L), ("b", 50L)).toDF("cat", "n")
    val counts = Seq(
      ("same", "a", 500L), ("same", "b", 500L),  // matches reference
      ("skew", "a", 990L), ("skew", "b", 10L)    // heavily shifted
    ).toDF("g", "cat", "n")
    val psi = Drift.psiCategorical(counts, "g", "cat", "n", ref)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(psi("same")) < 0.01, s"matched dist must be ~0: $psi")
    assert(psi("skew") > 1.0, s"inverted dist must alarm: $psi")
  }

  test("categorical PSI: groups missing a category get smoothed, not dropped") {
    val ref = Seq(("a", 10L), ("b", 10L), ("c", 10L)).toDF("cat", "n")
    val counts = Seq(("g1", "a", 30L)).toDF("g", "cat", "n") // b, c absent
    val row = Drift.psiCategorical(counts, "g", "cat", "n", ref).collect()(0)
    assert(row.getLong(2) === 30L)
    assert(!row.getDouble(1).isNaN && row.getDouble(1) > 0.5)
  }
}
