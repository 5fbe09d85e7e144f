package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Native (custom-SparkPlan) as-of join vs the composed form: same
  * results on every fixture — ties, unmatched keys, key interleaving
  * across partitions.
  */
class NativeAsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // left: (key, ts, lid) / right: (key, ts, rid)
  private def leftDf: DataFrame = Seq(
    (1L, ts(100), 1L), (1L, ts(200), 2L), (1L, ts(50), 3L),
    (2L, ts(100), 4L),
    (3L, ts(500), 5L), // key with no right rows at all
    (4L, ts(100), 6L) // right rows exist but all LATER than this
  ).toDF("k", "lts", "lid")

  private def rightDf: DataFrame = Seq(
    (1L, ts(90), 10L), (1L, ts(100), 11L), (1L, ts(100), 12L), // tie at 100
    (1L, ts(150), 13L),
    (2L, ts(10), 14L),
    (4L, ts(400), 15L)
  ).toDF("k", "rts", "rid")

  private def join(native: Boolean, l: DataFrame, r: DataFrame): DataFrame =
    if (native)
      NativeAsOfJoin.backward(l, r, Seq("k"), "lts", "rts", Seq("rid"), "rid")
    else
      AsOfJoin.backward(l, r, Seq("k"), "lts", "rts", Seq("rid"), "rid")

  private def run(native: Boolean): Set[(Long, Long, Option[Long])] = {
    join(native, leftDf, rightDf)
      .select($"lid", $"k", $"rid")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
  }

  test("native matches composed on ties, misses, and inclusive bounds") {
    val expected = Set(
      (1L, 1L, Some(12L)), // ts=100: inclusive; tie at 100 → max rid
      (2L, 1L, Some(13L)), // ts=200 → right 150
      (3L, 1L, None), // ts=50: nothing at-or-before
      (4L, 2L, Some(14L)),
      (5L, 3L, None), // key absent from right
      (6L, 4L, None) // right rows all later
    )
    assert(run(native = true) == expected)
    assert(run(native = false) == expected)
  }

  test("native equals composed on a large random multi-partition input") {
    val rnd = new scala.util.Random(5)
    val lefts = Seq.tabulate(5000) { i =>
      (rnd.nextInt(40).toLong, ts(rnd.nextInt(100000).toLong), i.toLong)
    }.toDF("k", "lts", "lid")
    val rights = Seq.tabulate(5000) { i =>
      (rnd.nextInt(50).toLong, ts(rnd.nextInt(100000).toLong), (100000 + i).toLong)
    }.toDF("k", "rts", "rid")
    def out(native: Boolean) = {
      join(native, lefts, rights)
        .select($"lid", $"rid", $"matched_ts").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getTimestamp(2).getTime)).toSet
    }
    assert(out(native = true) == out(native = false))
  }

  test("native plan contains the custom exec and no window exchange") {
    val plan = NativeAsOfJoin.backward(leftDf, rightDf, Seq("k"),
      "lts", "rts", Seq("rid"), "rid").queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("self-join from one source frame works (fresh right-side ids)") {
    val ev = Seq((1L, ts(10), "a", 1L), (1L, ts(20), "b", 2L),
      (1L, ts(30), "a", 3L)).toDF("user_id", "ts", "typ", "event_id")
    val l = ev.filter($"typ" === "a").select($"user_id", $"ts", $"event_id")
    val r = ev.filter($"typ" === "b")
      .select($"user_id", $"ts", $"event_id".as("rid"))
    val got = NativeAsOfJoin.backward(l, r, Seq("user_id"), "ts", "ts",
      Seq("rid"), "rid")
      .select($"event_id", $"rid").as[(Long, Option[Long])].collect().toSet
    assert(got == Set((1L, None), (3L, Some(2L))))
  }
}
