package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** VALUE-level guard for the one global-order core: the plan suite
  * asserts its exchange count, but the results rest on the walk
  * seeing each range partition in sorted order and on the P-row
  * offsets matching the cuts it walked. So these specs check the
  * VALUES against driver-side references: over adversarially shuffled
  * fixtures and several range-partition counts, the rank is the exact
  * 1..N permutation of the (key, id) total order, the running sum is
  * the sequential prefix sum, and the successor closes one ring.
  */
class GlobalOrderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("rank yields the exact 1..N permutation on shuffled input") {
    val n = 5000
    // adversarial physical layout: hash-scrambled insert order, then
    // a round-robin repartition so no partition is key-contiguous
    val rows = (1L to n.toLong).map(i => (i, (i * 2654435761L) % 977L))
      .sortBy { case (i, _) => (i * 40503L) % 65521L }
    val df = TestSpark.onPartitions(13).createDataFrame(rows)
      .toDF("id", "key").repartition(17)
    val ranked = GlobalOrder.rank(df, "id", Seq(col("key")), "rk")
    val got = ranked.select(col("id"), col("key"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === n)
    // expected: rank = position in the (key, id) total order
    val expected = rows.sortBy { case (i, k) => (k, i) }
      .zipWithIndex.map { case ((i, _), p) => i -> (p + 1L) }.toMap
    val bad = got.filter { case (i, _, rk) => expected(i) != rk }
    assert(bad.isEmpty,
      s"${bad.length} scrambled ranks, first: ${bad.take(3).toSeq}")
    // and the rank set is exactly 1..N (no dup, no gap)
    assert(got.map(_._3).sorted.toSeq === (1L to n.toLong))
  }

  test("rank is deterministic across physical layouts and range counts") {
    val rows = (1L to 2000L).map(i => (i, i % 7L))
    def ranks(p: Int, layout: Seq[(Long, Long)], slices: Int) =
      GlobalOrder.rank(TestSpark.onPartitions(p).createDataFrame(layout)
          .toDF("id", "key").repartition(slices), "id", Seq(col("key")), "rk")
        .select("id", "rk").collect().map(r => r.getLong(0) -> r.getLong(1))
        .toMap
    assert(ranks(5, rows, 3) === ranks(32, rows.reverse, 29))
  }

  test("rank: exact 1..N under a key that repeats the id") {
    val df = TestSpark.onPartitions(8).createDataFrame(
      (1L to 500L).map(i => (i, (i * 7919) % 101))).toDF("id", "k")
    val ranked = GlobalOrder.rank(df, "id", Seq(col("k"), col("id")), "r")
      .collect().map(r => r.getAs[Long]("r"))
    assert(ranked.sorted.toSeq === (1L to 500L))
  }

  test("running sum equals the sequential prefix sum; nulls add 0") {
    // weights 0..9 with every 11th null, descending-key order
    val rows = (1L to 3000L).map(i =>
      (i, i % 13L, if (i % 11L == 0L) None else Some(i % 10L)))
    val expected = {
      var cum = 0L
      rows.sortBy { case (i, k, _) => (-k, i) }.map { case (i, _, w) =>
        cum += w.getOrElse(0L); i -> cum
      }.toMap
    }
    for (p <- Seq(1, 6)) {
      val df = TestSpark.onPartitions(p).createDataFrame(rows)
        .toDF("id", "k", "w").repartition(5)
      val (out, total) = GlobalOrder.runningSum(df, "id",
        Seq(col("k").desc), "w", "cum")
      assert(total === rows.flatMap(_._3).sum, s"P=$p")
      val got = out.select("id", "cum").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"P=$p")
    }
  }

  test("successor: one ring in key order, the maximum wraps to the minimum") {
    val keys = (1L to 400L).map(i => i * 37L % 1009L)
    val sorted = keys.sorted
    val expected = sorted.zip(sorted.tail :+ sorted.head).toMap
    for (p <- Seq(1, 9)) {
      val df = TestSpark.onPartitions(p).createDataFrame(keys.map(Tuple1(_)))
        .toDF("k").repartition(4)
      val got = GlobalOrder.successor(df, "k", "next").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected, s"P=$p")
    }
  }

  test("empty input: no rows, zero total") {
    val df = spark.range(0).select(col("id"), col("id").as("w"))
    val (out, total) = GlobalOrder.runningSum(df, "id", Nil, "w", "cum")
    assert(out.count() === 0L && total === 0L)
    assert(GlobalOrder.rank(df, "id", Nil, "r").columns.toSeq ===
      Seq("id", "w", "r"))
  }
}
