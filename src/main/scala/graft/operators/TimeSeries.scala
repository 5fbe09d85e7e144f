package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization: resample an event stream onto a fixed
  * calendar grid per key, filling gaps with zero counts and
  * last-observation-carried-forward values — the feature-engineering
  * step that turns irregular events into model-ready daily series.
  *
  * Scale shape: one grouped aggregate compresses events to (key, day)
  * rows BEFORE any densification, so the expensive input pass is a
  * plain map-side-combine shuffle. The calendar explode then operates
  * on the aggregated frame (rows = keys × active-span days, already
  * orders of magnitude smaller than events), and the LOCF window
  * partitions by key — no global window anywhere. Spans are per-key
  * (min..max day of THAT key), so one long-lived key cannot inflate
  * every other key's series.
  */
object TimeSeries {

  /** Daily resample of `events(keyCol, tsCol, valueCol)`:
    * (key, day, n, locf_value) for every day in the key's [min, max]
    * day span. `n` = events that day (0 on gaps); `locf_value` = sum
    * of that day's values carried forward over gaps (decimal-exact
    * within a day, order-independent).
    */
  def resampleDailyLocf(
      events: DataFrame, keyCol: String, tsCol: String, valueCol: String): DataFrame = {
    val daily = events
      .select(col(keyCol).as("key"), to_date(col(tsCol)).as("day"),
        col(valueCol).cast("decimal(18,6)").as("v"))
      .groupBy(col("key"), col("day"))
      .agg(count(lit(1)).cast("long").as("n"), sum(col("v")).as("day_value"))
    val spans = daily.groupBy(col("key"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("key"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val w = Window.partitionBy(col("key")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spans.join(daily, Seq("key", "day"), "left")
      .select(col("key"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        last(col("day_value"), ignoreNulls = true).over(w)
          .cast("double").as("locf_value"))
  }

  /** Per-key least-squares time trend: slope/intercept of value over
    * day offsets from the key's own first event — the drift detector
    * for per-entity metrics (is this user's engagement rising?).
    *
    * Exactness: x = whole-day offsets (exact integers), y carried as
    * DECIMAL(18,6); all four moment sums (Σx, Σy, Σxy, Σx²) are
    * integer/decimal-exact and order-independent; slope and intercept
    * are a fixed IEEE chain over those exact sums, mirrored verbatim
    * in the oracle. Keys with a single distinct day have zero
    * variance → slope/intercept null.
    *
    * Scale shape: ONE map-side-combinable shuffle keyed by the key —
    * the moment sums are plain aggregates; offsets need the per-key
    * min, computed in the same pass via a self-contained two-phase
    * form (min-day join) rather than a window, so no per-key sort
    * anywhere.
    */
  def linearTrend(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = events.select(col(keyCol).as("key"),
      to_date(col(tsCol)).as("_d"),
      col(valueCol).cast("decimal(18,6)").as("_y"))
    val d0 = base.groupBy(col("key")).agg(min(col("_d")).as("_d0"))
    val xy = base.join(d0, Seq("key"))
      .select(col("key"), datediff(col("_d"), col("_d0")).cast("long").as("_x"),
        col("_y"))
    val m = xy.groupBy(col("key")).agg(
      count(lit(1)).as("n"),
      sum(col("_x")).as("sx"),
      sum(col("_y")).as("sy"),
      sum(col("_x") * col("_y")).as("sxy"),
      sum(col("_x") * col("_x")).as("sxx"))
    // decimal-carried: a long n·Σx² would overflow at 1e9-event keys
    val den = (col("n").cast("decimal(38,0)") * col("sxx") -
      col("sx").cast("decimal(38,0)") * col("sx")).cast("double")
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      den
    m.select(col("key"), col("n"),
      when(den =!= 0.0, slope).as("slope"),
      when(den =!= 0.0,
        (col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"))
  }

  /** Trailing event-time window aggregate: for every event, the count
    * and exact sum of values over the SAME key's events in the last
    * `windowMicros` microseconds, current event inclusive — the
    * rate-limit / velocity / rolling-exposure feature computed without
    * a stream processor.
    *
    * Determinism: a RANGE frame is peer-inclusive — events sharing
    * (key, ts) all see the identical frame, so equal timestamps cannot
    * make per-row results order-dependent (a ROWS frame would). Sums
    * carry as DECIMAL(18,6), aggregation-order independent.
    *
    * Scale shape: one shuffle keyed by `keyCol`, one per-partition
    * sort — the window never crosses keys, so 1000 executors each
    * sort only their keys' events. Skewed keys bound the frame by
    * time, not history length.
    */
  def trailingWindow(events: DataFrame, idCol: String, keyCol: String,
      tsCol: String, valueCol: String, windowMicros: Long): DataFrame = {
    val w = Window.partitionBy(col("key")).orderBy(col("ts_us"))
      .rangeBetween(-windowMicros, 0)
    events
      .select(col(idCol).as("id"), col(keyCol).as("key"),
        unix_micros(col(tsCol)).as("ts_us"),
        col(valueCol).cast("decimal(18,6)").as("_v"))
      .select(col("id"), col("key"), col("ts_us"),
        count(lit(1)).over(w).as("n_win"),
        sum(col("_v")).over(w).cast("double").as("sum_win"))
  }

  /** Ordered conversion funnel: per key, the earliest time each step
    * was reached STRICTLY AFTER the previous step — t₁ = min ts of
    * step 1, tᵢ = min ts of step-i events with ts > tᵢ₋₁. Output is
    * one row per key that entered the funnel, with per-step epoch-µs
    * times (null once progression stops) and the furthest stage.
    *
    * Deterministic with no tie-break at all: every tᵢ is a pure min
    * over a well-defined set, so equal timestamps cannot make the
    * result ambiguous (a min over duplicates is the same value).
    *
    * Scale shape: one filtered map-side-combinable min aggregate per
    * step, chained by per-key joins of the (small) per-key step
    * frames — never a per-key event-list collection or ordered
    * window over the raw stream.
    */
  def funnel(events: DataFrame, keyCol: String, typeCol: String,
      tsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val us = unix_micros(col(tsCol))
    val base = events.select(col(keyCol).as("key"),
      col(typeCol).as("_ty"), us.as("_us"))
    val first = base.filter(col("_ty") === steps.head)
      .groupBy(col("key")).agg(min(col("_us")).as("t1"))
    val chained = steps.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"t$i"
        val cur = s"t${i + 1}"
        val next = base.filter(col("_ty") === step)
          .join(acc.select(col("key"), col(prev)), Seq("key"))
          .filter(col("_us") > col(prev))
          .groupBy(col("key")).agg(min(col("_us")).as(cur))
        acc.join(next.select(col("key"), col(cur)), Seq("key"), "left")
    }
    val stage = steps.indices.drop(1).map(i =>
        col(s"t${i + 1}").isNotNull.cast("int"))
      .foldLeft(lit(1))(_ + _)
    chained.withColumn("stage", stage)
  }

  /** Per-key one-sided CUSUM change-point statistic: after each
    * event, S = max(0, S_prev + (value − k)) — the classic drift
    * detector (has this key's metric shifted above its allowance
    * k?), alarmed when S exceeds h.
    *
    * The recursion is NOT computed recursively — that would be a
    * per-key serial fold. Closed form instead: with running sum
    * R_i = Σ_{j≤i}(v_j − k),   S_i = R_i − min(0, min_{j≤i} R_j),
    * so two window functions over ONE (key)-partitioned,
    * (ts, id)-ordered sort — a total order, tie-safe — give every
    * row's statistic in a single shuffle. All sums are DECIMAL-
    * carried (exact in any partitioning); k and h are decimal
    * literals, so there is no float anywhere until the final
    * surfacing cast.
    */
  def cusum(events: DataFrame, keyCol: String, idCol: String,
      tsCol: String, valueCol: String, k: BigDecimal,
      h: BigDecimal): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = col(valueCol).cast("decimal(18,2)") -
      lit(k.underlying).cast("decimal(18,2)")
    events
      .withColumn("_r", sum(d).over(w))
      .withColumn("_m", min(col("_r")).over(w))
      .select(col(keyCol), col(idCol),
        (col("_r") - least(col("_m"), lit(BigDecimal(0).underlying)
          .cast("decimal(18,2)"))).cast("double").as("cusum"))
      .withColumn("alarm",
        col("cusum") > lit(h.underlying).cast("double"))
  }

  /** Hour-of-week seasonal profile per series: each (key, dow, hour)
    * cell's event count, mean value, and seasonal index (cell mean ÷
    * the key's overall mean) — the baseline every seasonal anomaly
    * detector and capacity planner divides by. Means come from
    * decimal-exact sums with ONE IEEE division each; the index is a
    * division of those two means. `dow` is 0=Sunday (both engines'
    * conventions aligned explicitly — Spark's dayofweek is 1-based).
    *
    * Scale shape: one map-side-combined aggregate to the
    * |keys|·168-cell grid, plus a |keys|-row broadcast for the
    * overall means.
    */
  def seasonalProfile(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val dec = col(valueCol).cast("decimal(18,2)")
    val cells = events.groupBy(col(keyCol),
        (dayofweek(col(tsCol)) - 1).cast("long").as("dow"),
        hour(col(tsCol)).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"), sum(dec).as("_sc"))
    val totals = events.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_nt"), sum(dec).as("_st"))
    cells.join(broadcast(totals), Seq(keyCol))
      .select(col(keyCol), col("dow"), col("hod"), col("n"),
        (col("_sc").cast("double") / col("n").cast("double"))
          .as("mean_value"),
        ((col("_sc").cast("double") / col("n").cast("double")) /
         (col("_st").cast("double") / col("_nt").cast("double")))
          .as("seasonal_index"))
  }

  /** Seasonal-baseline anomaly score: each event's z against ITS OWN
    * (key, day-of-week, hour) cell — the detector [[seasonalProfile]]
    * is the denominator for (a 3 a.m. Sunday spike is judged against
    * 3 a.m. Sundays, not the global mean); `anomalous` = |z| > 3.
    *
    * Exactness: values quantize to cents (the decimal(18,2) cast both
    * engines agree on, ×100 as BIGINT), so per-cell n/Σv/Σv² are
    * EXACT integers (decimal-carried against overflow) and the
    * variance numerator n·Σv² − (Σv)² is computed exactly before ONE
    * cast to double; sqrt is correctly rounded in IEEE 754 (unlike
    * ln), so z = (v − mean)/std is a fixed IEEE chain mirrored
    * verbatim in the oracle. Zero-variance and singleton cells emit
    * nothing (no z exists).
    *
    * Scale shape: one map-side-combinable aggregate to the
    * |keys|·168-cell grid, broadcast back — events never shuffle.
    */
  def seasonalAnomaly(events: DataFrame, idCol: String, keyCol: String,
      tsCol: String, valueCol: String): DataFrame = {
    val v100 = (col(valueCol).cast("decimal(18,2)") * 100).cast("long")
    val e = events.select(col(idCol), col(keyCol),
      (dayofweek(col(tsCol)) - 1).cast("long").as("dow"),
      hour(col(tsCol)).cast("long").as("hod"),
      v100.as("_v"))
    val cells = e.groupBy(col(keyCol), col("dow"), col("hod"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("_v").cast("decimal(38,0)")).as("_s"),
        sum((col("_v") * col("_v")).cast("decimal(38,0)")).as("_s2"))
      .withColumn("_varnum",
        (col("_n") * col("_s2") - col("_s") * col("_s")).cast("double"))
      .filter(col("_n") >= 2 && col("_varnum") > 0.0)
    val nD = col("_n").cast("double")
    val mean = col("_s").cast("double") / 100.0 / nD
    val std = sqrt(col("_varnum") / 10000.0 / (nD * (nD - 1.0)))
    val z = (col("_v").cast("double") / 100.0 - mean) / std
    e.join(broadcast(cells), Seq(keyCol, "dow", "hod"))
      .select(col(idCol), col(keyCol), col("dow"), col("hod"),
        round(z, 6).as("z"), (abs(z) > 3.0).as("anomalous"))
  }

  /** Exponentially time-decayed value aggregate per key — the
    * feature-store recency feature: score = Σ value·e^(−λ·Δdays),
    * Δ measured back from the corpus max timestamp, so recent events
    * dominate and old ones fade with half-life ln(2)/λ days.
    *
    * Determinism: λ must arrive as a LITERAL double (the caller
    * spells e.g. `0.6931471805599453 / 7.0`, mirrored verbatim in the
    * oracle) — deriving it via ln(2) at runtime would tie the result
    * to one libm's ulp. Per-event contributions round to 6 dp and
    * carry as DECIMAL, so per-key sums are aggregation-order
    * independent; exp() itself is the same accepted ulp class as the
    * BM25/KL ln() (absorbed by the 6-dp round).
    *
    * Scale shape: one max() scalar broadcast, one map-side-combinable
    * groupBy — a single shuffle keyed by the aggregation key.
    */
  def decayedSum(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, lambdaPerDay: Double): DataFrame = {
    val tRef = events.agg(max(unix_micros(col(tsCol))).as("_tref"))
    val ageDays = (col("_tref") - unix_micros(col(tsCol))).cast("double") /
      86400000000.0
    events.crossJoin(broadcast(tRef))
      .select(col(keyCol).as("key"),
        round(col(valueCol).cast("double") * exp(lit(-lambdaPerDay) * ageDays), 6)
          .cast("decimal(18,6)").as("_c"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_events"), sum(col("_c")).as("_s"))
      .select(col("key"), col("n_events"),
        round(col("_s").cast("double"), 6).as("decayed_value"))
  }

  /** Watermark-sizing disorder audit: per key, how far events arrive
    * BEHIND the running event-time maximum when scanned in ARRIVAL
    * order (`idCol`) — exactly the lateness a Structured Streaming
    * watermark must absorb; `max_lateness_s` per key is the number
    * `withWatermark` gets sized from, and `n_late` prices how much
    * data a tighter bound would drop. One per-key ordered window
    * (partition bounded by a key's event count), integer microsecond
    * arithmetic, one division at the end.
    */
  def disorderAudit(events: DataFrame, keyCol: String, idCol: String,
      tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(idCol))
    val runMaxPrev = max(col("_us")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    events
      .select(col(keyCol), col(idCol), unix_micros(col(tsCol)).as("_us"))
      .withColumn("_late",
        when(runMaxPrev.isNotNull && col("_us") < runMaxPrev, 1L)
          .otherwise(0L))
      .withColumn("_lateness",
        when(runMaxPrev.isNotNull && col("_us") < runMaxPrev,
          runMaxPrev - col("_us")).otherwise(0L))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("_late")).as("n_late"),
        round(max(col("_lateness")).cast("double") / 1e6, 6)
          .as("max_lateness_s"))
  }

  /** Per-key inter-arrival burstiness (Goh & Barabási 2008): with
    * gap moments Σg and Σg² over a key's n inter-event microsecond
    * gaps, population variance gives
    *
    *   B = (σ − μ)/(σ + μ) = (√(n·Σg² − (Σg)²) − Σg) / (√(n·Σg² − (Σg)²) + Σg)
    *
    * (the per-n normalizations CANCEL, so the statistic is one sqrt
    * of an exact integer and two exact-integer operands — a single
    * pinned IEEE chain). B → −1: metronome; 0: Poisson; → +1: bursty.
    * The index of dispersion σ²/μ = (n·Σg² − (Σg)²)/(n·Σg) rides
    * along, also exact-until-one-division. Keys need ≥ 2 gaps.
    *
    * Scale shape: one per-key ordered window for the lag (partition
    * bounded by a user's event count), one aggregate with
    * DECIMAL(38,0) moments — µs² products overflow int64 on
    * month-long gaps, the assortativity lesson applied here.
    */
  def arrivalBurstiness(events: DataFrame, keyCol: String, idCol: String,
      tsCol: String): DataFrame = {
    // order by the microsecond value itself: equivalent to ts order
    // (unix_micros is monotone) and resolvable after the projection
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("_us"), col(idCol))
    val dec = "decimal(38,0)"
    events
      .select(col(keyCol), col(idCol), unix_micros(col(tsCol)).as("_us"))
      .withColumn("_g", col("_us") - lag(col("_us"), 1).over(w))
      .filter(col("_g").isNotNull)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("_g").cast(dec)).as("_sg"),
        sum((col("_g").cast(dec) * col("_g").cast(dec))).as("_sg2"))
      .filter(col("n_gaps") >= 2)
      .select({
        val x = (col("n_gaps").cast(dec) * col("_sg2")
          - col("_sg") * col("_sg")).cast("double")
        Seq(col(keyCol), col("n_gaps"),
          // SECONDS, not µs: a 6-dp round at µs magnitudes (~10¹⁰)
          // needs ~10¹⁶ intermediate precision and the two engines'
          // round() implementations disagree in the last ulp there;
          // at second magnitudes the rounded lattice is exactly
          // representable in both
          round(col("_sg").cast("double") / col("n_gaps").cast("double")
            / 1e6, 6).as("mean_gap_s"),
          round(x / (col("n_gaps").cast(dec) * col("_sg")).cast("double")
            / 1e6, 6).as("dispersion_s"),
          round((sqrt(x) - col("_sg").cast("double"))
            / (sqrt(x) + col("_sg").cast("double")), 6).as("burstiness"))
      }: _*)
  }
}
