package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** A replay leaves nothing in the session catalog: the memory sink's
  * temp view is dropped whether the replay returns, its stream cannot
  * be built, or the running stream fails.
  */
class ReplayCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def replayViews: Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_replay_")).toSeq

  private val events = Seq(
    (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1L, "click", 1.0),
    (Timestamp.valueOf("2024-01-01 10:03:00"), 2L, 2L, "view", 2.0))
    .toDF("ts", "user_id", "event_id", "event_type", "value")

  test("a replay returns its rows and leaves no graft_replay_ view") {
    val out = EventStreams.replayToTable(events,
      df => df.select(col("user_id"), col("event_type")),
      horizonSeconds = 60)
    assert(replayViews.isEmpty, replayViews)
    // the rows outlive the dropped view
    assert(out.filter(col("user_id") =!= -1L)
      .as[(Long, String)].collect().toSet === Set((1L, "click"), (2L, "view")))
  }

  test("a replay whose buildStream throws leaves no graft_replay_ view") {
    val e = intercept[IllegalStateException] {
      EventStreams.replayToTable(events,
        _ => throw new IllegalStateException("no stream"), horizonSeconds = 60)
    }
    assert(e.getMessage === "no stream")
    assert(replayViews.isEmpty, replayViews)
  }

  test("a replay whose stream fails leaves no graft_replay_ view") {
    intercept[Exception] {
      EventStreams.replayToTable(events,
        df => df.select(raise_error(lit("batch failed")).as("x")),
        horizonSeconds = 60)
    }
    assert(replayViews.isEmpty, replayViews)
  }
}
