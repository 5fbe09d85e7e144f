package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weighted quantiles — the "median row by mass, not by count"
  * family (median price weighted by quantity, median doc weighted by
  * tokens…). Where the unweighted q46 percentiles interpolate
  * positions, the weighted form walks the cumulative weight.
  */
object WeightedQuantiles {

  /** Per-group lower weighted median: the smallest value whose
    * cumulative weight (ascending (value, id) order) reaches half the
    * group's total — the discrete lower-median convention, exact in
    * integer arithmetic (`2·cumW ≥ totalW`, no division at all).
    *
    * Values and weights must arrive as exact integers (quantize
    * upstream — cents, token counts). Ties are pinned by the unique
    * `idCol` in the walk order, though the SELECTED value is
    * tie-insensitive (equal values share a cumulative run).
    *
    * Scale shape: one shuffle keyed by the group; the cumulative walk
    * is a per-group RANGE-framed window (honest per-group sort), the
    * winner a map-side-combinable `min(struct)` — no global sort, no
    * driver. Groups are assumed group-sized-bounded (the usual
    * dimension-keyed case); for a single giant group use the
    * two-level decomposition instead (see [[GlobalOrder.runningSum]]).
    */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, idCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("_g"),
      col(valueCol).cast("long").as("_v"),
      col(weightCol).cast("long").as("_w"),
      col(idCol).as("_id"))
    val wCum = Window.partitionBy(col("_g"))
      .orderBy(col("_v"), col("_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("_g"))
    val walked = base
      .withColumn("_cum", sum(col("_w")).over(wCum))
      .withColumn("_tot", sum(col("_w")).over(wTot))
      .filter(col("_cum") * 2 >= col("_tot"))
    walked.groupBy(col("_g").as(groupCol))
      .agg(min(struct(col("_v"), col("_id"))).as("_m"),
        first(col("_tot")).as("_t"))
      .select(col(groupCol), col("_m._v").as("median_value"),
        col("_t").as("total_w"))
  }
}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-group discrete quantiles (percentile_disc semantics):
  * the p-th percentile of a group of n values is the value at sorted
  * position ⌈p·n/100⌉ — an ACTUAL group member, never an interpolated
  * float, so the result is engine-portable with zero arithmetic drift
  * (the reference's dashboard range facets are the analog surface;
  * its approximate twin here is q44's approx_percentile).
  *
  * Determinism with ties: row_number among equal values is arbitrary,
  * but the VALUE at the k-th sorted position is unique regardless of
  * which duplicate occupies it — no tie-break column needed.
  *
  * Exactness: position index k = (p·n + 99) div 100 is pure integer
  * arithmetic, spelled identically in the oracle; selection is
  * `min(case when rn = k)` — no float ops at all.
  *
  * Scale shape: one shuffle keyed by the group, one per-partition
  * sort (the canonical exact-quantile cost — approximate sketches are
  * the q44 path when that cost is unacceptable); the two windows
  * (row_number, count) share the same partitioning, so Catalyst plans
  * a single Window node family over a single Exchange.
  */
object Quantiles {

  /** One row per group: n plus a `p<NN>` column per requested
    * percentile (integer percents, 1–100).
    */
  def groupDiscrete(df: DataFrame, groupCol: String, valueCol: String,
      percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be integer percentiles in [1, 100]")
    val byValue = Window.partitionBy(col("g")).orderBy(col("v"))
    val byGroup = Window.partitionBy(col("g"))
    val ranked = df
      .select(col(groupCol).as("g"), col(valueCol).as("v"))
      .withColumn("rn", row_number().over(byValue))
      .withColumn("n", count(lit(1)).over(byGroup))
    val picks: Seq[Column] = percents.map { p =>
      min(when(col("rn") === expr(s"($p * n + 99) div 100"), col("v")))
        .as(s"p$p")
    }
    ranked.groupBy(col("g"))
      .agg(max(col("n")).as("n"), picks: _*)
  }

  /** Per-group winsorization: clip each value into the group's
    * [p_lo, p_hi] discrete-percentile band — the feature-prep /
    * robust-statistics tail clamp (cap blowup outliers without
    * dropping rows, the gentler sibling of [[robustOutliers]]'
    * flagging). ZERO floating arithmetic: the band edges are actual
    * group members (discrete selection) and clipping is
    * least/greatest comparison only, so the output is engine-portable
    * bit-for-bit.
    *
    * Scale shape: one [[groupDiscrete]] pass (one shuffle + sort by
    * group) produces an O(|groups|)-row band table, broadcast into a
    * map-side clip of the original rows — the big table is never
    * re-shuffled.
    */
  def winsorize(df: DataFrame, groupCol: String, idCols: Seq[String],
      valueCol: String, loPct: Int, hiPct: Int): DataFrame = {
    require(loPct < hiPct, s"need loPct < hiPct: $loPct, $hiPct")
    val picks = groupDiscrete(df, groupCol, valueCol, Seq(loPct, hiPct))
      .select(col("g").as(groupCol),
        col(s"p$loPct").as("_lo"), col(s"p$hiPct").as("_hi"))
    df.select((groupCol +: idCols :+ valueCol).map(col): _*)
      .join(broadcast(picks), Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("_lo")), col("_hi")))
      .drop("_lo", "_hi")
  }

  /** Robust per-group outlier detection: median / MAD (median absolute
    * deviation) / count of values with |v − median| > k·MAD — the
    * outlier gate that, unlike μ+kσ (reference anomaly flag, B7),
    * is not itself dragged by the outliers it hunts.
    *
    * Exactness: both medians are DISCRETE selections (actual members,
    * no interpolation); |v − med| is one IEEE subtraction, the k·MAD
    * threshold one multiplication — deterministic, engine-portable.
    *
    * Scale shape: two window passes shuffled by the same group key
    * (median, then deviation median) and one map-side-combinable final
    * aggregate. MAD inherently needs the second pass; sketches (q44)
    * are the single-pass approximate escape hatch.
    */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double): DataFrame = {
    val med = groupDiscrete(df, groupCol, valueCol, Seq(50))
      .select(col("g"), col("p50").as("med"))
    val dev = df.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .join(med, Seq("g"))
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = groupDiscrete(dev, "g", "dev", Seq(50))
      .select(col("g"), col("p50").as("mad"))
    dev.join(mad, Seq("g"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        count(when(col("dev") > lit(k) * col("mad"), lit(1))).as("n_out"))
  }

  /** Per-group quantile normalization WITHOUT a per-row rank window:
    * percentile(x) = (#rows in the group strictly below x) / n_group,
    * computed on the (group, 6-dp score) HISTOGRAM — the window runs
    * over distinct score values per group (≤ ~10⁶ for 6-dp scores in
    * [0,1] at ANY corpus size, the topFractionByScore argument), and
    * rows re-attach by an equi join on (group, score). Cross-source
    * score calibration: a 0.7 from a lenient source and a 0.5 from a
    * strict one land on comparable percentiles.
    */
  def quantileNormalize(df: DataFrame, idCol: String, groupCol: String,
      scoreCol: String): DataFrame = {
    val s6 = round(col(scoreCol).cast("double"), 6)
    val hist = df.select(col(groupCol), s6.as("_s"))
      .groupBy(col(groupCol), col("_s"))
      .agg(count(lit(1)).as("_c"))
    val ord = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("_s"))
    val whole = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
    val pct = hist
      .withColumn("_below", coalesce(sum(col("_c")).over(
        ord.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)), lit(0L)))
      .withColumn("_n", sum(col("_c")).over(whole))
      .select(col(groupCol), col("_s"),
        round(col("_below").cast("double") / col("_n").cast("double"), 6)
          .as("percentile"))
    df.select(col(idCol), col(groupCol), s6.as("_s"))
      .join(pct, Seq(groupCol, "_s"))
      .select(col(idCol), col(groupCol), col("_s").as("score"),
        col("percentile"))
  }
}

/** Robust (median-based) outlier statistics — the audit that survives
  * the outliers it hunts: mean/stddev z-scores (q58) move with the
  * contamination; median and MAD have a 50% breakdown point, so a
  * heavy-tailed source can't hide its own tail.
  */
object RobustStats {

  /** Per-group MAD outlier audit over an integer-valued column:
    * median (lower convention), MAD = median(|x − med|), and the
    * count of rows with |x − med| > (44478/10000)·MAD — the
    * normal-consistent 3σ equivalent
    * (3·1.4826 = 4.4478), applied as an EXACT cross-multiplied
    * integer comparison so the flag needs no float conventions.
    *
    * Scale shape: two [[WeightedQuantiles.weightedMedian]] passes
    * (per-group windows — honest per-group sorts, group-size-bounded)
    * joined back broadcast (#groups rows), then one map-side
    * aggregate. A zero MAD (majority-constant group) flags every
    * deviating row — the convention that keeps the audit meaningful
    * instead of dividing by zero.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val base = df.select(col(groupCol).as("_g"),
      col(valueCol).cast("long").as("_v"), col(idCol).as("_id"))
      .withColumn("_w", lit(1L))
    val med = WeightedQuantiles
      .weightedMedian(base, "_g", "_v", "_w", "_id")
      .select(col("_g"), col("median_value").as("_med"))
    val dev = base.join(broadcast(med), "_g")
      .withColumn("_d", abs(col("_v") - col("_med")))
    val mad = WeightedQuantiles
      .weightedMedian(dev, "_g", "_d", "_w", "_id")
      .select(col("_g"), col("median_value").as("_mad"))
    dev.join(broadcast(mad), "_g")
      .groupBy(col("_g").as(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        min(col("_med")).as("median"),
        min(col("_mad")).as("mad"),
        sum(when(col("_d") * 10000L > col("_mad") * 44478L, 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_frac",
        col("n_outliers").cast("double") / col("n_rows").cast("double"))
  }
}
