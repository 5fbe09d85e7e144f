package graft.operators

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Backward as-of join semantics on hand-checked fixtures:
  * latest-preceding match, equal-ts inclusion, tie-break by id, and
  * no-match rows surviving as nulls.
  */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  // trades (left): key, trade ts, trade id
  private lazy val trades = Seq(
    (1L, ts(100), 10L),
    (1L, ts(200), 11L), // equal-ts quote exists at 200
    (2L, ts(50), 20L),  // before any quote for key 2
    (3L, ts(500), 30L)  // no quotes at all for key 3
  ).toDF("key", "t_ts", "trade_id")

  // quotes (right): key, quote ts, quote id, px
  private lazy val quotes = Seq(
    (1L, ts(90), 100L, 1.0),
    (1L, ts(95), 101L, 2.0),
    (1L, ts(200), 102L, 3.0),
    (1L, ts(200), 103L, 4.0), // tie at ts 200 → id 103 wins
    (2L, ts(60), 200L, 5.0)
  ).toDF("key", "q_ts", "quote_id", "px")

  test("backward <= picks latest preceding, includes equal ts, max-id tie-break") {
    val out = AsOfJoin.backward(trades, quotes, Seq("key"), "t_ts", "q_ts",
      rightPayload = Seq("quote_id", "px"), tieBreakCol = "quote_id",
      matchedTsCol = "q_match_ts")
      .select("trade_id", "quote_id", "px")
      .as[(Long, Option[Long], Option[Double])].collect()
      .map { case (k, a, b) => k -> (a, b) }.toMap
    assert(out(10L) == (Some(101L), Some(2.0)))  // 95 < 100, latest
    assert(out(11L) == (Some(103L), Some(4.0)))  // equal ts included, tie → 103
    assert(out(20L) == (None, None))             // only later quotes
    assert(out(30L) == (None, None))             // no quotes for key
  }

  test("single shuffle: plan has exactly one exchange") {
    val out = AsOfJoin.backward(trades, quotes, Seq("key"), "t_ts", "q_ts",
      rightPayload = Seq("px"), tieBreakCol = "quote_id")
    val plan = out.queryExecution.executedPlan.toString()
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one shuffle, plan:\n$plan")
  }
}
