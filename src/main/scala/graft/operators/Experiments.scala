package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experiment analysis: deterministic hash-split A/B arms and the
  * two-proportion summary (rates, lift, pooled z statistic) — the
  * measurement half of online experimentation, computed exactly from
  * a single scan's integer counts.
  *
  * Determinism: arm assignment is the q94 portable-md5 idiom (hex
  * prefix vs literal threshold — '8000' = exactly 1/2), so a unit's
  * arm is a pure function of (id, salt), stable under corpus growth
  * and identical in any engine. The four counts (n, conversions per
  * arm) are exact integers; every derived statistic is ONE pinned
  * IEEE chain over those integers, spelled identically in the SQL
  * oracle — no variance estimate ever touches per-row floats.
  *
  * Scale shape: one map-side-combined aggregate over the joined
  * (unit, converted) frame → a single row; the conversion flag
  * arrives via a distinct-key semi-join shape (conversions table is
  * grouped to distinct unit ids before the join).
  */
object Experiments {

  /** 'A'/'B' by the portable md5 hex-threshold coin (exactly half
    * the hash space each).
    */
  def abArm(id: Column, salt: String): Column =
    when(substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 4)
      < "8000", lit("A")).otherwise(lit("B"))

  /** CUPED variance-reduction readout: adjust the experiment metric
    * y by a pre-period covariate x (θ = cov(x,y)/var(x), pooled) —
    * the standard trick that shrinks A/B confidence intervals by the
    * share of variance x explains.
    *
    * The textbook form adjusts EVERY unit (ŷᵢ = yᵢ − θ(xᵢ − x̄)) and
    * then averages — a per-row float sum whose result depends on
    * aggregation order. Here the adjustment is algebraically
    * eliminated instead: mean(ŷ | arm) = ȳ_arm − θ(x̄_arm − x̄), so
    * the WHOLE readout derives from decimal-exact sums (Σx, Σy, Σx²,
    * Σxy, Σy², per arm and pooled) collected in ONE scan, with a
    * single pinned IEEE chain at the end. Also emits r² — the
    * variance-reduction fraction.
    *
    * Expects DECIMAL x/y columns (exact partial aggregation).
    */
  def cuped(df: DataFrame, armCol: String, xCol: String,
      yCol: String): DataFrame = {
    val x = col(xCol)
    val y = col(yCol)
    def arm(a: String, c: org.apache.spark.sql.Column) =
      sum(when(col(armCol) === a, c))
    val m = df.agg(
      count(when(col(armCol) === "A", lit(1))).as("n_a"),
      count(when(col(armCol) === "B", lit(1))).as("n_b"),
      arm("A", x).as("sx_a"), arm("B", x).as("sx_b"),
      arm("A", y).as("sy_a"), arm("B", y).as("sy_b"),
      sum(x * x).as("sxx"), sum(x * y).as("sxy"), sum(y * y).as("syy"))
    val n = (col("n_a") + col("n_b")).cast("double")
    def d(c: String) = col(c).cast("double")
    val sx = d("sx_a") + d("sx_b")
    val sy = d("sy_a") + d("sy_b")
    val covN = n * d("sxy") - sx * sy    // n²·cov
    val varXN = n * d("sxx") - sx * sx   // n²·var(x)
    val varYN = n * d("syy") - sy * sy
    val theta = covN / varXN
    val xbar = sx / n
    m.select(
      theta.as("theta"),
      ((covN * covN) / (varXN * varYN)).as("r2"),
      (d("sy_a") / d("n_a")).as("mean_a_raw"),
      (d("sy_b") / d("n_b")).as("mean_b_raw"),
      (d("sy_a") / d("n_a") - theta * (d("sx_a") / d("n_a") - xbar))
        .as("mean_a_adj"),
      (d("sy_b") / d("n_b") - theta * (d("sx_b") / d("n_b") - xbar))
        .as("mean_b_adj"))
  }

  /** Deterministic bootstrap CI for a mean: B resamples-with-
    * replacement of the n units, every draw a pure md5 function of
    * (salt, resample, slot) — the classic uncertainty estimate made
    * reproducible across runs, engines and partitionings, with no
    * RNG state to seed or ship. The percentile band uses the q149
    * discrete-selection convention (an ACTUAL resample mean at sorted
    * position ⌈p·B/100⌉, no interpolation) at p = 3 and 98.
    *
    * Contract: `idxCol` must be a dense 0..n−1 index (feed arbitrary
    * ids through GlobalOrder.rank first); `valueCol` must be DECIMAL
    * so each resample's sum is exact in any order — its mean is then
    * ONE IEEE division.
    *
    * Scale shape: the draw table is B·n synthetic (resample, slot)
    * rows joined to the n units BY INDEX — one shuffle join keyed by
    * idx, map-side-combined per-resample sums, then a B-row frame for
    * the band selection (B is hundreds; the one-partition sort is
    * bounded by design). Nothing quadratic in n.
    */
  def bootstrapMeanCI(df: DataFrame, idxCol: String, valueCol: String,
      resamples: Int, salt: String): DataFrame = {
    require(resamples >= 10, s"need at least 10 resamples: $resamples")
    val spark = df.sparkSession
    // the bounds probe rides the required count pass: a non-dense
    // index silently drops draws at the join (observed: an off-by-one
    // index shifted every resample), so the contract is CHECKED
    val bounds = df.agg(count(lit(1)), min(col(idxCol)),
      max(col(idxCol))).collect()(0)
    val n = bounds.getLong(0)
    require(n >= 2, s"need at least 2 units, got $n")
    require(bounds.get(1).toString.toLong == 0L &&
      bounds.get(2).toString.toLong == n - 1,
      s"idxCol '$idxCol' must be dense 0..${n - 1}; got " +
        s"[${bounds.get(1)}, ${bounds.get(2)}] — rank ids first " +
        "(GlobalOrder.rank produces 1..N; subtract 1)")
    val draws = spark.range(resamples.toLong * n).select(
      expr(s"id div $n").as("_b"),
      expr(s"id % $n").as("_slot"))
    val pick = conv(substring(md5(concat(
        lit(salt + ":"), col("_b").cast("string"),
        lit(":"), col("_slot").cast("string"))), 1, 6), 16, 10)
      .cast("long") % n
    val means = draws
      .withColumn(idxCol, pick)
      .join(df.select(col(idxCol), col(valueCol)), Seq(idxCol))
      .groupBy(col("_b"))
      .agg(sum(col(valueCol)).as("_s"))
      .select(col("_b"),
        (col("_s").cast("double") / lit(n.toDouble)).as("_m"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_m"))
    val ranked = means.withColumn("_rn", row_number().over(w))
    def at(p: Int) = min(when(
      col("_rn") === (p * resamples + 99) / 100, col("_m")))
    ranked.agg(
      count(lit(1)).as("n_resamples"),
      at(3).as("ci_lo"),
      at(50).as("boot_median"),
      at(98).as("ci_hi"))
  }

  /** One summary row from (armCol ∈ {'A','B'}, convCol boolean):
    * counts, rates, relative lift of B over A, and the pooled
    * two-proportion z statistic.
    */
  def twoProportions(df: DataFrame, armCol: String,
      convCol: String): DataFrame = {
    val m = df.agg(
      count(when(col(armCol) === "A", lit(1))).as("n_a"),
      count(when(col(armCol) === "B", lit(1))).as("n_b"),
      count(when(col(armCol) === "A" && col(convCol), lit(1))).as("conv_a"),
      count(when(col(armCol) === "B" && col(convCol), lit(1))).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pooled = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    m.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      pa.as("rate_a"), pb.as("rate_b"),
      (pb / pa - lit(1.0)).as("lift"),
      ((pb - pa) / sqrt(pooled * (lit(1.0) - pooled) *
        (lit(1.0) / col("n_a").cast("double") +
         lit(1.0) / col("n_b").cast("double")))).as("z"))
  }
}
