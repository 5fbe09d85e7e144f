package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ShardDisorderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("snake shards: near-balanced token totals across shards") {
    // heavily skewed weights: doc i weighs i
    val docs = (1L to 400L).map(i => (i, i)).toDF("doc_id", "w")
    val out = Ranks.snakeShards(docs, "doc_id", "w", shards = 4)
      .groupBy(col("shard")).agg(sum(col("w")).as("tot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(out.keySet === Set(0, 1, 2, 3))
    val (mx, mn) = (out.values.max, out.values.min)
    // perfect balance is 20050 per shard; snake keeps within 1%
    assert((mx - mn).toDouble / mn < 0.01, s"imbalance: $out")
  }

  test("disorder audit: late arrivals counted against the running max") {
    def ts(s: Long) = new Timestamp(s * 1000L)
    // arrival order 1..5; event 3 arrives 10 min behind the max
    val ev = Seq(
      (1L, 1L, ts(1000)), (1L, 2L, ts(2000)),
      (1L, 3L, ts(1400)),                     // late by 600 s
      (1L, 4L, ts(3000)), (1L, 5L, ts(2999)), // late by 1 s
      (2L, 6L, ts(100)), (2L, 7L, ts(200))    // perfectly ordered
    ).toDF("user_id", "event_id", "ts")
    val out = TimeSeries.disorderAudit(ev, "user_id", "event_id", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(_._1)
    assert(out(0) === ((1L, 5L, 2L, 600.0)))
    assert(out(1) === ((2L, 2L, 0L, 0.0)))
  }
}
