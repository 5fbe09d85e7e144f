package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.TopKByAgg

/** KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et al.
  * 2002; Beyer et al. 2007): hash every value to a uniform in [0,1),
  * keep the k smallest per group, and estimate the distinct count as
  * (k−1)/v_k where v_k is the k-th smallest — if n uniform draws
  * land in [0,1), the k-th order statistic sits near k/n. The
  * unbiased form divides k−1. Groups with fewer than k distinct
  * values have seen EVERYTHING, so the sketch returns the exact
  * count there.
  *
  * The hash uniform is md5-derived (60-bit integer / 2⁶⁰ — an exact
  * power-of-two division), so the whole sketch is deterministic and
  * the estimate hash-checks against a SQL replay — the q44/q51
  * error-bound-contract pattern, but here even the ESTIMATE itself
  * is exactly reproducible, not just bracketed: KMV's randomness
  * lives entirely in the hash choice.
  *
  * Scale shape: one distinct-collapse shuffle keyed (group, value) —
  * dedup before sketching, map-side combined — then the bounded-heap
  * top-k aggregate (TopKByAgg): k entries per group survive partial
  * aggregation, so no per-group sort and no row_number window
  * anywhere. The error contract |est/n − 1| ≲ 3/√k rides along as a
  * checked boolean.
  */
object Kmv {

  /** The sketch's md5-derived uniform in [0,1) of a value. */
  private def kmvUniform(v: Column): Column =
    (conv(substring(md5(concat(v.cast("string"), lit(":kmv_v1"))), 1, 15),
      16, 10).cast("long").cast("double") / lit(Math.pow(2.0, 60.0)))

  /** Per-group distinct estimate: (group, n_exact, kmv_estimate,
    * within_bound). `n_exact` is computed alongside for the
    * contract; a production sketch would drop it.
    */
  def distinctEstimate(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 8, s"KMV needs a non-trivial k: $k")
    val u = kmvUniform(col(valueCol))
    val sketched = df.select(col(groupCol), col(valueCol)).distinct()
      .select(col(groupCol), col(valueCol).cast("long").as("_id"),
        u.as("_u"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_exact"),
        TopKByAgg.topKBy(negate(col("_u")), col("_id"), k).as("_top"))
    // v_k = −(last kept score); fewer than k values ⇒ exact count
    val vk = negate(element_at(col("_top"), size(col("_top"))).getField("score"))
    val est = when(size(col("_top")) < k, col("n_exact").cast("double"))
      .otherwise(round(lit((k - 1).toDouble) / vk, 6))
    sketched.select(col(groupCol), col("n_exact"),
        est.as("kmv_estimate"))
      .withColumn("within_bound",
        abs(col("kmv_estimate") / col("n_exact").cast("double") - 1.0)
          <= lit(3.0 / math.sqrt(k.toDouble)))
  }

  /** Cumulative distinct-count timeline at sketch cost: for every
    * day, the KMV estimate of "distinct values seen SO FAR" — the
    * growth curve a dashboard draws without ever re-scanning history.
    *
    * Scale shape (the r9 rewrite): the corpus-sized work is TWO
    * hash aggregates — first-seen day per value (V rows), then ONE
    * bottom-k heap per day over its first-seen values (D sketch
    * rows). The cumulative sketch is assembled by merging the
    * per-day sketches, NOT by joining values against days: the k
    * smallest hashes overall are each among their own day's k
    * smallest, so the bottom-k of the unioned per-day sketches IS
    * the bottom-k of the full to-date value set (the classic KMV
    * merge property) — bit-identical output to the direct form. The
    * merge's banded join is (D days) × (D·k sketch entries),
    * k-bounded and CALENDAR-bounded — independent of the value
    * count, where the former (day ≥ first_day) value join was
    * O(D·V) and replicated every distinct value into every later
    * day. Exact to-date counts ride along for the error contract
    * via a cumsum window over the D-row day table (bounded, like
    * Packing's partition-totals window).
    */
  def distinctTimeline(df: DataFrame, valueCol: String, tsCol: String,
      k: Int = 64): DataFrame = {
    require(k >= 8, s"KMV needs a non-trivial k: $k")
    val day = (unix_micros(col(tsCol)) / lit(86400000000L)).cast("long")
    val firsts = df.select(col(valueCol).cast("long").as("_v"),
        day.as("_d"))
      .groupBy(col("_v")).agg(min(col("_d")).as("_fd"))
    val u = kmvUniform(col("_v"))
    // one bottom-k heap + first-seen count per day: D rows, pinned so
    // the cumsum and the merge don't recompute the corpus aggregate
    val perDay = firsts
      .select(col("_fd"), col("_v"), u.as("_u"))
      .groupBy(col("_fd"))
      .agg(count(lit(1)).as("_n_new"),
        graft.functions.expressions.TopKByAgg
          .topKBy(negate(col("_u")), col("_v"), k).as("_day_top"))
      .localCheckpoint()
    val cum = perDay.select(col("_fd").as("day"), col("_n_new"))
      .withColumn("n_exact_to_date",
        sum(col("_n_new")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("day"))))
      .select(col("day"), col("n_exact_to_date"))
      // the cumsum window leaves ONE partition; spread the D day rows
      // so the banded sketch-merge join parallelizes across days
      .repartition(col("day"))
    val entries = perDay.select(col("_fd"),
        explode(col("_day_top")).as("_e"))
      .select(col("_fd"), col("_e.score").as("_negu"),
        col("_e.id").as("_v"))
    val est = cum
      .join(entries, col("_fd") <= col("day"))
      .groupBy(col("day"))
      .agg(max(col("n_exact_to_date")).as("n_exact_to_date"),
        graft.functions.expressions.TopKByAgg
          .topKBy(col("_negu"), col("_v"), k).as("_top"))
    val vk = negate(element_at(col("_top"), size(col("_top")))
      .getField("score"))
    est.select(col("day"), col("n_exact_to_date"),
        when(size(col("_top")) < k, col("n_exact_to_date").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) / vk, 6))
          .as("kmv_estimate"))
      .withColumn("within_bound",
        abs(col("kmv_estimate") / col("n_exact_to_date").cast("double")
          - 1.0) <= lit(3.0 / math.sqrt(k.toDouble)))
  }

  /** KMV set algebra (Beyer et al. 2007): union and intersection
    * distinct estimates for two cohorts from their bottom-k sketches
    * ALONE — the sketch-level answer to "how many new users does B
    * add" that never rescans either side. The merged sketch is the
    * bottom-k of the two sketches' value union; ρ = the fraction of
    * merged survivors present in BOTH input sketches estimates the
    * Jaccard, and intersection = ρ · union.
    *
    * Everything after the two per-cohort sketches happens on two
    * k-value arrays in ONE row (a k-bounded cross join) — array
    * algebra, no data-scale work. Exact counts ride along for the
    * error contract (a production use drops them). Degenerate small
    * cohorts (< k values) make the sketch exact, so the estimates
    * collapse to exact values there too.
    */
  def setOperations(df: DataFrame, cohortCol: String, valueCol: String,
      cohortA: String, cohortB: String, k: Int = 64): DataFrame = {
    require(k >= 8, s"KMV needs a non-trivial k: $k")
    val u = kmvUniform(col(valueCol))
    def sketch(cohort: String, as: String) = df
      .filter(col(cohortCol) === cohort)
      .select(col(valueCol)).distinct()
      .select(col(valueCol).cast("long").as("_id"), u.as("_u"))
      .groupBy(lit(1).as("_g"))
      .agg(graft.functions.expressions.TopKByAgg
        .topKBy(negate(col("_u")), col("_id"), k).as("_top"),
        count(lit(1)).as(s"n_exact_${as}"))
      .select(col(s"n_exact_${as}"),
        // ascending-u value array (scores are −u, sorted desc)
        transform(col("_top"), e => negate(e.getField("score")))
          .as(s"_sk_${as}"))

    val joined = sketch(cohortA, "a").crossJoin(sketch(cohortB, "b"))
    val mergedAll = array_sort(array_union(col("_sk_a"), col("_sk_b")))
    val merged = slice(mergedAll, 1, k)
    val vk = element_at(col("_merged"), size(col("_merged")))
    // exact only when BOTH sides sketched exactly (≤ k distinct each);
    // a merged size of k with one side overflowing must NOT claim
    // exactness (sketch_b ⊆ sketch_a hides true union size)
    val unionEst = when(col("n_exact_a") <= k && col("n_exact_b") <= k,
        size(col("_mergedAll")).cast("double"))
      .otherwise(round(lit((k - 1).toDouble) / vk, 6))
    val inBoth = size(array_intersect(col("_merged"),
      array_intersect(col("_sk_a"), col("_sk_b"))))
    joined
      .withColumn("_mergedAll", mergedAll)
      .withColumn("_merged", merged)
      .withColumn("union_est", unionEst)
      .withColumn("intersect_est",
        round((inBoth.cast("double") / size(col("_merged")).cast("double"))
          * col("union_est"), 6))
      .select(lit(cohortA).as("cohort_a"), lit(cohortB).as("cohort_b"),
        col("n_exact_a"), col("n_exact_b"),
        col("union_est"), col("intersect_est"))
  }
}
