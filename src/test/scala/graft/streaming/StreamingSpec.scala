package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def t(m: Int, s: Int = 0) =
    Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")

  test("windowed counts with watermark over a memory stream") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t(0), 1, "click", 1.0), Ev(t(1), 2, "click", 2.0),
      Ev(t(6), 1, "view", 3.0), Ev(t(7), 1, "click", 4.0))
    val q = EventStreams.windowedCounts(mem.toDF, "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_out")
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 10:05:00.0", "view", 1L),
      ("2024-01-01 10:05:00.0", "click", 1L)))
  }

  test("stream-static enrichment joins the dim per batch, drops unmatched") {
    implicit val sql = spark.sqlContext
    val dim = Seq((1L, "GOLD"), (2L, "SILVER")).toDF("user_id", "segment")
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t(0), 1, "click", 1.5), Ev(t(1), 2, "click", 2.0),
      Ev(t(2), 9, "click", 99.0), // no dim row → dropped (inner join)
      Ev(t(6), 1, "view", 3.25))
    val q = EventStreams.enrichedWindowedCounts(
        mem.toDF, dim, "user_id", "segment", "5 minutes", "0 seconds")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enrich_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(rows == Set(
      ("2024-01-01 10:00:00.0", "GOLD", 1L, 1.5),
      ("2024-01-01 10:00:00.0", "SILVER", 1L, 2.0),
      ("2024-01-01 10:05:00.0", "GOLD", 1L, 3.25)))
  }

  test("flatMapGroupsWithState sessionizer emits on in-batch gap and on timeout") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    // batch 1 — user 1: events at 10:00 and 10:01 (one open session),
    // then 10:20 (gap > 5 min closes the first IN-batch); user 2: 10:30
    mem.addData(
      Ev(t(0), 1, "a", 1.0), Ev(t(1), 1, "a", 1.0),
      Ev(t(20), 1, "a", 1.0), Ev(t(30), 2, "b", 1.0))
    val q = EventStreams.statefulSessions(mem.toDF, gapSeconds = 300)
      .writeStream.format("memory").queryName("fmgws_out")
      .outputMode("append").start()
    q.processAllAvailable()
    // the in-batch gap closed user 1's first session; the no-data
    // micro-batch after the watermark advanced to 10:30 may ALSO have
    // timed out the 10:20 session already
    val afterB1 = spark.table("fmgws_out")
      .select("user_id", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(afterB1.contains((1L, t(0), t(1), 2L)))

    // batch 2 — the 10:40 event pushes the watermark to 10:40, past
    // both pending timeouts: user 1's 10:20 session (timeout 10:25)
    // and user 2's 10:30 session (timeout 10:35) emit via hasTimedOut;
    // user 3's own session stays open
    mem.addData(Ev(t(40), 3, "c", 1.0))
    q.processAllAvailable(); q.stop()
    val afterB2 = spark.table("fmgws_out")
      .select("user_id", "session_start", "session_end", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(afterB2.toSet == Set(
      (1L, t(0), t(1), 2L),
      (1L, t(20), t(20), 1L),
      (2L, t(30), t(30), 1L)))
  }

  test("transformWithState sessionizer matches the fMGWS form across batches and timers") {
    implicit val sql = spark.sqlContext
    val before = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Ev]
      mem.addData(
        Ev(t(0), 1, "a", 1.0), Ev(t(1), 1, "a", 1.0),
        Ev(t(20), 1, "a", 1.0), Ev(t(30), 2, "b", 1.0))
      val q = EventStreams.statefulSessionsTws(mem.toDF, gapSeconds = 300)
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      q.processAllAvailable()
      // second batch: the 10:32 event must be read back from the state
      // store and MERGED into user 2's open 10:30 session (the
      // cross-batch read-modify-write path), while 10:40 pushes the
      // watermark past user 1's pending timer
      mem.addData(Ev(t(32), 2, "b", 1.0), Ev(t(40), 3, "c", 1.0))
      q.processAllAvailable()
      // third batch advances the watermark past the extended session's
      // reset timer (10:37) and user 3's (10:45)
      mem.addData(Ev(t(50), 4, "d", 1.0))
      q.processAllAvailable(); q.stop()
      val got = spark.table("tws_out")
        .select("user_id", "session_start", "session_end", "n_events").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(got.toSet == Set(
        (1L, t(0), t(1), 2L), // closed by the in-batch gap
        (1L, t(20), t(20), 1L), // closed by its event-time timer
        (2L, t(30), t(32), 2L), // EXTENDED across the batch boundary
        (3L, t(40), t(40), 1L))) // user 4's own session stays open
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("stream-stream join within time bounds, watermarked state") {
    implicit val sql = spark.sqlContext
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    clicks.addData(
      Ev(t(0), 1, "click", 1.0),  // 10:00 — within 5 min of buy at 10:03
      Ev(t(10), 1, "click", 2.0), // 10:10 — 7 min after buy, out of bound
      Ev(t(2), 2, "click", 3.0))  // other user
    buys.addData(Ev(t(3), 1, "buy", 9.0))
    val joined = EventStreams.streamStreamJoin(
      clicks.toDF.select($"user_id", $"ts".as("c_ts"), $"value".as("c_val")),
      buys.toDF.select($"user_id", $"ts".as("b_ts"), $"value".as("b_val")),
      key = "user_id", leftTs = "c_ts", rightTs = "b_ts",
      beforeSeconds = 300, afterSeconds = 300)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out")
      .select("user_id", "c_val", "b_val").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 1.0, 9.0)))
  }

  test("session windows close after the gap") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    // user 1: two sessions (10:00-10:01, then 10:20); user 2: one
    mem.addData(
      Ev(t(0), 1, "a", 1.0), Ev(t(1), 1, "a", 1.0),
      Ev(t(20), 1, "a", 1.0), Ev(t(0), 2, "b", 1.0))
    val q = EventStreams.sessionWindows(mem.toDF, gap = "5 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess_out")
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(sessions.count(_._1 == 1L) == 2)
    assert(sessions.count(_._1 == 2L) == 1)
    assert(sessions.filter(_._1 == 1L).map(_._2).sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming dedup keeps first occurrence per key") {
    implicit val sql = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t(0), 1, "click", 1.0), Ev(t(1), 1, "click", 99.0),
      Ev(t(2), 2, "click", 2.0))
    val q = EventStreams.dedupWithinWatermark(mem.toDF, Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val vals = spark.table("dedup_out").select("user_id", "value")
      .as[(Long, Double)].collect().toSet
    assert(vals == Set((1L, 1.0), (2L, 2.0)))
  }

  test("latest-state-by-key mirrors the upsert sink") {
    val batch = Seq(
      Ev(t(0), 1, "a", 1.0), Ev(t(5), 1, "b", 2.0), Ev(t(3), 2, "c", 3.0)).toDF
    val latest = EventStreams.latestStateByKey(batch, "user_id")
      .select("user_id", "event_type").as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "b", 2L -> "c"))
  }

  test("replayed CDC fold equals the batch change-log fold") {
    val changes = Seq(
      // user 1: two upserts -> latest wins
      (t(0), 1L, 1L, "set", 1.0), (t(1), 1L, 2L, "set", 2.0),
      // user 2: final delete -> absent
      (t(0), 2L, 3L, "set", 3.0), (t(2), 2L, 4L, "del", 0.0),
      // user 3: delete then re-insert -> present
      (t(0), 3L, 5L, "del", 0.0), (t(3), 3L, 6L, "set", 6.0),
      // user 4: same-ts tie -> higher event_id wins
      (t(5), 4L, 7L, "set", 7.0), (t(5), 4L, 8L, "set", 8.0)
    ).toDF("ts", "user_id", "event_id", "event_type", "value")

    // horizon (1 h) > replayed span (5 min): no mid-replay timeout
    val streamed = EventStreams.replayToTable(changes,
        df => EventStreams.statefulCdcFold(df, deleteType = "del",
          horizonSeconds = 3600).toDF(),
        horizonSeconds = 3660)
      .filter($"user_id" =!= -1L)
      .as[(Long, String, Double, Long)].collect().toSet
    val batch = graft.operators.Cdc.applyChangeLog(changes,
        Seq("user_id"), Seq("ts", "event_id"), Seq("event_type", "value"),
        isDelete = $"event_type" === "del")
      .as[(Long, String, Double, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.map(_._1) == Set(1L, 3L, 4L))
  }
}
