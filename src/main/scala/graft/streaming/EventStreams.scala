package graft.streaming

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** Input row for [[EventStreams.statefulSessions]]. `us` carries the
  * exact epoch-microsecond event time — java.sql.Timestamp.getTime is
  * millisecond-truncated, and a session-gap comparison within 1 ms of
  * the boundary must not flip against the batch (µs-exact) form.
  */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, us: Long)

/** One closed session emitted by [[EventStreams.statefulSessions]]. */
case class SessionSummary(
    user_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long)

/** Open-session state carried between micro-batches (epoch µs). */
private[streaming] case class OpenSession(startUs: Long, endUs: Long, n: Long)

/** Input row for [[EventStreams.statefulCdcFold]] (epoch-µs `us` for
  * the same ms-truncation reason as [[SessionEvent]]).
  */
case class CdcChange(user_id: Long, ts: java.sql.Timestamp, us: Long,
    event_id: Long, event_type: String, value: Double)

/** Per-key CDC fold state: the winning (us, event_id) change so far
  * plus the fold count.
  */
private[streaming] case class CdcFoldState(us: Long, id: Long,
    eventType: String, value: Double, n: Long)

/** Final snapshot row emitted by [[EventStreams.statefulCdcFold]] —
  * schema-identical to the batch [[graft.operators.Cdc.applyChangeLog]].
  */
case class CdcRow(user_id: Long, event_type: String, value: Double,
    n_changes: Long)

/** Structured-Streaming operators over an event stream
  * (ts: timestamp, user_id, event_type, value).
  *
  * The reference is a 1-minute Airflow micro-batch, not true streaming
  * (SURVEY.md §2.10); these are the idiomatic Spark streaming
  * equivalents, usable both on `readStream` sources and (identically)
  * on batch frames — every function here is a plain
  * `DataFrame => DataFrame` so batch tests and streams share code.
  *
  * Scale notes: all aggregations are keyed by (window, key) → state
  * store size is bounded by the watermark horizon; no global state.
  */
object EventStreams {

  /** Tumbling event-time window aggregate with watermark — late rows
    * beyond `lateness` are dropped, closed windows emit once (append
    * mode). `sum_value` is summed as `decimal(18,6)`, so it does not
    * depend on the order micro-batches fold rows in.
    */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "5 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), windowLen).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(col("win.start").as("window_start"),
        col("win.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Event-time session windows per user (gap-based, native
    * `session_window` — state closes `gap` after the last event).
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"),
        col("sess.start").as("session_start"),
        col("sess.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Stream-static enrichment: join the event stream against a
    * batch dimension table, then window-aggregate by a dimension
    * attribute — the canonical streaming-ETL shape (events are
    * enriched with slowly-changing reference data; Spark re-plans
    * the static side per micro-batch, no state is kept for it).
    *
    * Scale shape: the static side is a broadcast-sized dim in the
    * common case (Catalyst broadcasts it under AQE like any batch
    * join); stream state exists only for the windowed aggregate,
    * bounded by the watermark. Inner-join semantics: events without
    * a dimension row are dropped (the enrichment contract).
    */
  def enrichedWindowedCounts(
      events: DataFrame,
      dim: DataFrame,
      joinKey: String,
      dimAttr: String,
      windowLen: String = "5 minutes",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .join(dim.select(col(joinKey), col(dimAttr)), Seq(joinKey))
      .groupBy(window(col("ts"), windowLen).as("win"), col(dimAttr))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(col("win.start").as("window_start"),
        col(dimAttr), col("n"), col("sum_value"))

  /** Streaming dedup by key within the watermark horizon — the
    * streaming analog of exact dedup (first occurrence wins).
    */
  def dedupWithinWatermark(
      events: DataFrame,
      keyCols: Seq[String],
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Keyed latest-state view — streaming analog of the reference's
    * `_id=icao24` upsert sink (A8): in complete/update mode each key
    * holds its newest row's values.
    *
    * @param ord ordering column(s); pass a struct including a unique
    *            column to pin ties (default: ts only, reference parity)
    */
  def latestStateByKey(events: DataFrame, key: String,
      ord: Column = col("ts")): DataFrame =
    events
      .groupBy(col(key))
      .agg(max_by(struct(events.columns.filterNot(_ == key).map(col).toSeq: _*),
        ord).as("_latest"))
      .select(col(key) +: events.columns.filterNot(_ == key)
        .map(c => col(s"_latest.$c").as(c)).toSeq: _*)

  /** Stream–stream inner join within a time bound: each left event
    * joins right events of the same key with
    * `rightTs ∈ [leftTs - before, leftTs + after]`. Both sides carry
    * watermarks so the join state store evicts rows once they can no
    * longer match — the time-bound condition is what makes unbounded
    * stream–stream joins feasible (state is O(window), not O(stream)).
    * Columns other than the key must be disjoint across sides. The
    * right key is renamed before the join, so both sides may be cut
    * from one stream (a self-join) without ambiguous key references.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      beforeSeconds: Long,
      afterSeconds: Long,
      lateness: String = "10 minutes"): DataFrame = {
    val rightKey = s"_right_$key"
    left.withWatermark(leftTs, lateness)
      .join(right.withColumnRenamed(key, rightKey).withWatermark(rightTs, lateness),
        col(key) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $beforeSeconds SECONDS") &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $afterSeconds SECONDS"))
      .drop(rightKey)
  }

  /** Custom-state sessionization via `flatMapGroupsWithState`: one
    * [[OpenSession]] per user carried across micro-batches, closed
    * sessions emitted in APPEND mode either when a same-batch event
    * arrives past the gap or when the event-time timeout fires (the
    * watermark passes sessionEnd + gap). Unlike the declarative
    * [[sessionWindows]], this is the arbitrary-state-machine template:
    * the state type, transition function, and emission policy are
    * plain Scala — swap [[OpenSession]] for a flight-phase or
    * risk-escalation state without touching the plumbing.
    *
    * State is one fixed-size record per ACTIVE key (bounded by the
    * timeout, which clears idle keys) — not per event. Streaming-only:
    * in batch execution timeouts never fire, so open sessions are not
    * emitted (use the q33 window form for batch).
    */
  def statefulSessions(
      events: DataFrame,
      gapSeconds: Long): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    def tsOf(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    def summary(uid: Long, s: OpenSession): SessionSummary =
      SessionSummary(uid, tsOf(s.startUs), tsOf(s.endUs), s.n)

    events.selectExpr("user_id", "ts", "unix_micros(ts) AS us")
      .withWatermark("ts", "0 seconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val closed = summary(uid, state.get)
            state.remove()
            Iterator.single(closed)
          } else {
            val closed = scala.collection.mutable.ListBuffer.empty[SessionSummary]
            var cur = state.getOption
            rows.map(_.us).toSeq.sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.endUs > gapUs =>
                  closed += summary(uid, s)
                  cur = Some(OpenSession(t, t, 1))
                case Some(s) =>
                  cur = Some(OpenSession(s.startUs, math.max(s.endUs, t), s.n + 1))
                case None =>
                  cur = Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // timeout API is ms-grained: round UP so the timeout never
              // fires before the µs-exact gap horizon
              state.setTimeoutTimestamp(Math.floorDiv(s.endUs + gapUs, 1000L) + 1L)
            }
            closed.iterator
          }
      }
  }

  /** Streaming twin of [[graft.operators.Cdc.applyChangeLog]] keyed on
    * user_id with order (us, event_id): each key's state is the
    * winning change + fold count, updated per micro-batch in O(1)
    * state per key; the snapshot row is emitted when the key's
    * horizon timer fires (event-time `lastUs + horizonSeconds`, i.e.
    * the log is quiescent for that key), with `deleteType` markers
    * suppressing the row exactly like the batch filter. Feed it a
    * replay whose sentinel advances the watermark past every horizon
    * and the emitted table IS the batch snapshot — q181's oracle
    * checks that equality end-to-end.
    *
    * The horizon is the state-retention rule: a key quiescent past it
    * EMITS AND FORGETS, so a still-later change re-folds from empty
    * state (n_changes restarts). For batch parity over a bounded
    * replay the horizon must therefore exceed the replayed span —
    * same reasoning as the dedup replay's whole-range lateness.
    */
  def statefulCdcFold(
      events: DataFrame,
      deleteType: String,
      horizonSeconds: Long): Dataset[CdcRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    val horizonUs = horizonSeconds * 1000000L

    events.selectExpr("user_id", "ts", "unix_micros(ts) AS us",
        "event_id", "event_type", "value")
      .withWatermark("ts", "0 seconds")
      .as[CdcChange]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcFoldState, CdcRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[CdcChange], state: GroupState[CdcFoldState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            if (s.eventType == deleteType) Iterator.empty
            else Iterator.single(CdcRow(uid, s.eventType, s.value, s.n))
          } else {
            var cur = state.getOption
            var lastUs = cur.map(_.us).getOrElse(0L)
            rows.foreach { r =>
              lastUs = math.max(lastUs, r.us)
              cur = cur match {
                case Some(s) =>
                  val wins = r.us > s.us || (r.us == s.us && r.event_id > s.id)
                  Some(if (wins)
                    CdcFoldState(r.us, r.event_id, r.event_type, r.value, s.n + 1)
                  else s.copy(n = s.n + 1))
                case None =>
                  Some(CdcFoldState(r.us, r.event_id, r.event_type, r.value, 1L))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // ms-grained timeout API: round UP past the µs horizon
              state.setTimeoutTimestamp(
                Math.floorDiv(lastUs + horizonUs, 1000L) + 1L)
            }
            Iterator.empty
          }
      }
  }

  private[streaming] def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The same gap-sessionizer as [[statefulSessions]] on Spark 4's
    * `transformWithState` arbitrary-state API (StatefulProcessor +
    * typed ValueState + explicit event-time timers). Unlike
    * `flatMapGroupsWithState`'s single state value + implicit timeout,
    * the processor owns named state variables and a timer registry —
    * the template for multi-variable state machines (per-key counters +
    * open session + dedup set in one processor). Requires the RocksDB
    * state store provider.
    */
  class SessionProcessor(gapSeconds: Long)
      extends StatefulProcessor[Long, SessionEvent, SessionSummary] {
    private val gapUs = gapSeconds * 1000000L
    @transient private var open: ValueState[OpenSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        Encoders.product[OpenSession], TTLConfig.NONE)

    private def summary(uid: Long, s: OpenSession): SessionSummary =
      SessionSummary(uid, microsToTs(s.startUs), microsToTs(s.endUs), s.n)

    override def handleInputRows(uid: Long, rows: Iterator[SessionEvent],
        timers: TimerValues): Iterator[SessionSummary] = {
      val closed = scala.collection.mutable.ListBuffer.empty[SessionSummary]
      var cur = if (open.exists()) Some(open.get()) else None
      rows.map(_.us).toSeq.sorted.foreach { t =>
        cur match {
          case Some(s) if t - s.endUs > gapUs =>
            closed += summary(uid, s)
            cur = Some(OpenSession(t, t, 1))
          case Some(s) =>
            cur = Some(OpenSession(s.startUs, math.max(s.endUs, t), s.n + 1))
          case None =>
            cur = Some(OpenSession(t, t, 1))
        }
      }
      cur.foreach { s =>
        open.update(s)
        // one live timer per key: replace the stale horizon (timer API
        // is ms-grained: round UP so it never fires early)
        getHandle.listTimers().foreach(t =>
          getHandle.deleteTimer(t.asInstanceOf[Long]))
        getHandle.registerTimer(Math.floorDiv(s.endUs + gapUs, 1000L) + 1L)
      }
      closed.iterator
    }

    override def handleExpiredTimer(uid: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionSummary] =
      if (open.exists()) {
        val s = open.get()
        open.clear()
        Iterator.single(summary(uid, s))
      } else Iterator.empty
  }

  /** [[statefulSessions]] semantics via [[SessionProcessor]] /
    * `transformWithState`.
    */
  def statefulSessionsTws(
      events: DataFrame,
      gapSeconds: Long): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "unix_micros(ts) AS us")
      .withWatermark("ts", "0 seconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapSeconds),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Replays a BOUNDED event frame through a real `MemoryStream` in
    * two arrival-order micro-batches, runs
    * [[statefulSessions]] over it, and returns the closed sessions —
    * the stream/batch-parity harness: the streaming operator's output
    * is comparable against the batch sessionize oracle on the same
    * rows. A sentinel event (user_id = -1) past every session's
    * timeout horizon advances the watermark so the final open sessions
    * close; the sentinel's own row is filtered from the result.
    *
    * Driver-bounded by design (the frame is collected to feed the
    * source) — this is a correctness harness over test-scale data, not
    * a production path; production streams read from a real source.
    */
  def replaySessionSummaries(
      events: DataFrame,
      gapSeconds: Long): DataFrame =
    replayToTable(
      events,
      df => statefulSessions(df, gapSeconds).toDF(),
      horizonSeconds = gapSeconds * 2 + 60)
      .filter(col("user_id") =!= -1L)

  /** [[replaySessionSummaries]] through the `transformWithState`
    * sessionizer — the replay pins the RocksDB state store provider
    * (the only provider the transformWithState operator supports).
    */
  def replaySessionSummariesTws(
      events: DataFrame,
      gapSeconds: Long): DataFrame =
    replayToTable(
      events,
      df => statefulSessionsTws(df, gapSeconds).toDF(),
      horizonSeconds = gapSeconds * 2 + 60,
      // one real batch + the sentinel batch still exercises state
      // carried across a batch boundary (every session closes in the
      // sentinel commit), at one RocksDB commit cycle fewer
      numBatches = 1,
      // 8 state partitions: with changelog checkpointing the RocksDB
      // commit is cheap, so the single-task row processing (not the
      // commit) is the bottleneck — parallelize it. State is per-key,
      // so partitioning never changes the output. Production tws jobs
      // size this to the cluster.
      replayShufflePartitions = 8,
      extraConfs = Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        // commit a small changelog instead of a full snapshot zip per
        // micro-batch — the production-recommended RocksDB mode, and
        // at replay scale it removes most per-commit fsync churn
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true"))
      .filter(col("user_id") =!= -1L)

  /** Generic stream/batch-parity replay harness: feeds a BOUNDED event
    * frame (any subset of the columns `user_id, event_id, ts,
    * event_type, value`; missing ones are null/zero-filled) through a
    * real file streaming source in `numBatches` time-ordered
    * micro-batches, runs `buildStream` over it (append mode), and
    * returns the emitted rows. A sentinel event (`user_id = -1`,
    * `event_type = "_sentinel"`) `horizonSeconds` past the last real
    * event advances the watermark so every window/session/timeout
    * closes — callers filter sentinel-derived rows where the operator
    * passes keys through.
    *
    * No driver materialization anywhere: batches are assigned
    * cluster-side (`ntile` over event-time order) and written as
    * per-batch parquet under a staging dir; the stream reads a watched
    * dir that batches are MOVED into one at a time between
    * `processAllAvailable` barriers — batch composition is controlled
    * by the rename, not by file-listing order, and the micro-batch
    * data rides the parquet scan instead of the task closure (the
    * MemoryStream form this replaces shipped every batch inside a
    * multi-MiB task binary). This is also the production shape: swap
    * the watched dir for a real landing zone and the harness IS the
    * ingest path.
    *
    * The replay runs on few shuffle partitions (saved and restored):
    * each micro-batch commits one state store per partition, and at
    * replay scale per-task commit overhead dominates — a few wide-open
    * state tasks beat 32 mostly-idle ones.
    *
    * The emitted rows come back as a local relation copied out of the
    * memory sink, whose `graft_replay_<uuid>` temp view is dropped
    * before return, on failure too: replays leave nothing in the
    * session catalog.
    */
  def replayToTable(
      events: DataFrame,
      buildStream: DataFrame => DataFrame,
      horizonSeconds: Long,
      numBatches: Int = 2,
      replayShufflePartitions: Int = 4,
      extraConfs: Map[String, String] = Map.empty): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    val present = events.columns.toSet
    def pick(name: String, default: Column): Column =
      (if (present(name)) col(name) else default).as(name)
    val typed = events.select(
      pick("user_id", lit(0L)).cast("long").as("user_id"),
      pick("event_id", lit(0L)).cast("long").as("event_id"),
      col("ts"),
      pick("event_type", lit("")).cast("string").as("event_type"),
      pick("value", lit(0.0)).cast("double").as("value"))
    val bounds = typed.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx")).collect()(0)
    require(!bounds.isNullAt(1), "replayToTable needs at least one event")
    val (mnUs, mxUs) = (bounds.getLong(0), bounds.getLong(1))

    val qname = "graft_replay_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // Checkpoint + staging on tmpfs when available: state-store
    // commits and batch renames are transient by construction (the
    // replay finishes within the session), and disk-backed tmpdir
    // fsync churn would dominate replay time.
    val root = {
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isWritable(shm)) s"/dev/shm/graft-replay/$qname"
      else java.nio.file.Files.createTempDirectory("graft-replay").toString
    }
    val stageDir = s"$root/stage"
    val watchDir = s"$root/in"
    val ckptRoot = s"$root/ckpt"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(watchDir))

    // time-ordered contiguous micro-batches assigned by RANGE over the
    // event-time span — a map-only expression (no global sort, no
    // window), so the staged write stays fully parallel. Equal event
    // times land in the same batch, and arrival order within a batch
    // is irrelevant to event-time operators.
    val span = math.max(1L, mxUs - mnUs + 1)
    val batchOf = least(
      (unix_micros(col("ts")) - lit(mnUs)) * numBatches / span,
      lit(numBatches - 1L)).cast("int")
    // the sentinel rides the same write job (batch id = numBatches);
    // a few coalesced input slices keep per-trigger file counts small
    val sentinelDf = Seq((-1L, -1L,
        new java.sql.Timestamp(mxUs / 1000L + horizonSeconds * 1000L),
        "_sentinel", 0.0))
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    typed.coalesce(4).withColumn("_b", batchOf)
      .union(sentinelDf.withColumn("_b", lit(numBatches)))
      .write.partitionBy("_b").mode("overwrite").parquet(stageDir)

    /** Atomically hands one staged batch to the stream. */
    def release(sub: String): Unit = {
      val dir = java.nio.file.Paths.get(stageDir, sub)
      if (java.nio.file.Files.isDirectory(dir)) {
        java.nio.file.Files.list(dir).iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach { p =>
            java.nio.file.Files.move(p, java.nio.file.Paths.get(watchDir,
              s"$sub-${p.getFileName.toString}"))
          }
      }
    }

    try {
      val out = buildStream(
        spark.readStream.schema(typed.schema).parquet(watchDir))
      val partitionsBefore = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", replayShufflePartitions)
      val confsBefore = extraConfs.keys
        .map(k => k -> spark.conf.getOption(k)).toMap
      extraConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val q = out.writeStream.format("memory")
          .queryName(qname).outputMode("append")
          .option("checkpointLocation", ckptRoot)
          .start()
        try {
          for (k <- 0 until numBatches) {
            release(s"_b=$k")
            q.processAllAvailable()
          }
          release(s"_b=$numBatches")
          q.processAllAvailable()
        } finally q.stop()
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", partitionsBefore)
        confsBefore.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
      // the sink's rows already sit on the driver: copying them into a
      // local relation runs no job and leaves no catalog entry
      val emitted = spark.table(qname)
      spark.createDataFrame(emitted.collect().toSeq.asJava, emitted.schema)
    } finally {
      spark.catalog.dropTempView(qname)
      try {
        val rootPath = java.nio.file.Paths.get(root)
        if (java.nio.file.Files.exists(rootPath)) {
          java.nio.file.Files.walk(rootPath).iterator().asScala.toSeq.reverse
            .foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      } catch { case NonFatal(_) => () }
    }
  }
}
