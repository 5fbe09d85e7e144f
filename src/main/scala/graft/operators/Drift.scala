package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Population-drift monitoring for embedding pipelines: per-dimension
  * Population Stability Index between two cohorts (model-serving's
  * standard "did the input distribution move" alarm):
  *
  *   PSI_dim = Σ_bins (p_A − p_B) · ln(p_A / p_B)
  *
  * with Laplace-smoothed bin shares p = (n + 1)/(N + nbins) so empty
  * bins stay finite. PSI < 0.1 is conventionally stable, > 0.25
  * actionable drift.
  *
  * Determinism (hash-checkable across engines despite the ln): the
  * shares are single integer-ratio divisions; each bin's term is the
  * product of TWO integer-lattice roundings —
  * `round((p_A−p_B)·10⁸)` and the q187 lattice `round(ln(p_A/p_B)·10⁸)`
  * — summed as exact int64 (|term| ≤ 2·10¹⁷, ≤ nbins per dim) and
  * divided back by 10¹⁶ once. Binning is `floor((x−lo)/w)` clamped
  * to 8 bins of width 0.2 from lo = −0.8 — one IEEE chain, identical
  * everywhere.
  *
  * Scale shape: one narrow posexplode of the vector column, one
  * (dim, bin, cohort) count aggregation, one nbins-row-per-dim final
  * aggregation. Nothing driver-side; cohort sizes ride a broadcast.
  */
object Drift {

  // psiByDimension's bins: NBins of width BinWidth from Lo (clamped)
  private val Lo = -0.8
  private val BinWidth = 0.2
  private val NBins = 8

  /** `cohortCol` is boolean: true = cohort A. */
  def psiByDimension(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      cohortCol: String): DataFrame = {
    val e = df.select(col(cohortCol).as("_a"),
        posexplode(col(vecCol)).as(Seq("dim", "_x")))
      .select(col("_a"), col("dim"),
        least(greatest(floor((col("_x").cast("double") - Lo) / BinWidth)
          .cast("int"), lit(0)), lit(NBins - 1)).as("_bin"))
    val observed = e.groupBy(col("dim"), col("_bin"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_na"),
        sum(when(col("_a"), 0L).otherwise(1L)).as("_nb"))
    // full dim × bin grid: bins empty in BOTH cohorts still carry a
    // (smoothed) term when the cohort sizes differ
    val counts = e.select(col("dim")).distinct()
      .withColumn("_bin", explode(sequence(lit(0), lit(NBins - 1))))
      .join(observed, Seq("dim", "_bin"), "left")
      .select(col("dim"), col("_bin"),
        coalesce(col("_na"), lit(0L)).as("_na"),
        coalesce(col("_nb"), lit(0L)).as("_nb"))
    // per-dim totals = cohort row counts (every row has one value per
    // dim) — a one-row broadcast
    val totals = df.agg(
      sum(when(col(cohortCol), 1L).otherwise(0L)).as("_ta"),
      sum(when(col(cohortCol), 0L).otherwise(1L)).as("_tb"))
    val pa = (col("_na") + 1L).cast("double") /
      (col("_ta") + NBins).cast("double")
    val pb = (col("_nb") + 1L).cast("double") /
      (col("_tb") + NBins).cast("double")
    val term = round((pa - pb) * 1e8).cast("long") *
      round(log(pa / pb) * 1e8).cast("long")
    counts.crossJoin(broadcast(totals))
      .select(col("dim"), term.as("_t"), col("_na"), col("_nb"))
      .groupBy(col("dim"))
      .agg(round(sum(col("_t")).cast("double") / 1e16, 6).as("psi"),
        sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"))
  }

  /** Categorical PSI of per-group count distributions against one
    * reference distribution — the monitoring shape for STREAMING
    * drift: the windowed-count stage (a watermarked streaming
    * aggregate) hands its (group, category, n) table here, and each
    * group (= window) gets a PSI against the reference's category
    * shares. Same lattice-product exactness discipline as
    * [[psiByDimension]]; the category domain is the REFERENCE's
    * (a group never invents categories the reference lacks — counts
    * for reference-absent categories would need a domain authority
    * anyway).
    *
    * Scale shape: reference is |categories| rows (broadcast); the
    * grid completion is groups × categories via one broadcast cross
    * join; one aggregate keyed by group. Stream-compatible: nothing
    * here looks across groups.
    */
  def psiCategorical(counts: DataFrame, groupCol: String,
      catCol: String, nCol: String, reference: DataFrame): DataFrame = {
    val ref = reference.select(col(catCol), col(nCol).cast("long").as("_nr"))
    val nCats = ref.count().toInt // |categories|: bounded, one job
    require(nCats >= 2, s"need >= 2 reference categories: $nCats")
    val refTot = ref.agg(sum(col("_nr")).as("_tr"))
    val grpTot = counts.groupBy(col(groupCol))
      .agg(sum(col(nCol).cast("long")).as("_tg"))
    // fresh aliases on the probe side: grpTot derives from `counts`,
    // so a direct self-join would carry conflicting attribute ids
    val probe = counts.select(col(groupCol).as("_gk"),
      col(catCol).as("_ck"), col(nCol).cast("long").as("_ng"))
    val grid = grpTot.select(col(groupCol), col("_tg"))
      .crossJoin(broadcast(ref))
      .join(probe,
        col(groupCol) === col("_gk") && col(catCol) === col("_ck"), "left")
      .select(col(groupCol), col("_tg"), col("_nr"),
        coalesce(col("_ng"), lit(0L)).as("_ng"))
    val pg = (col("_ng") + 1L).cast("double") /
      (col("_tg") + nCats).cast("double")
    val pr = (col("_nr") + 1L).cast("double") /
      (col("_tr") + nCats).cast("double")
    val term = round((pg - pr) * 1e8).cast("long") *
      round(log(pg / pr) * 1e8).cast("long")
    grid.crossJoin(broadcast(refTot))
      .select(col(groupCol), term.as("_t"), col("_ng"))
      .groupBy(col(groupCol))
      .agg(round(sum(col("_t")).cast("double") / 1e16, 6).as("psi"),
        sum(col("_ng")).as("n_events"))
  }
}

/** Exact two-sample Kolmogorov–Smirnov statistics between every pair
  * of groups — the distribution-shift test with NO binning choice
  * (PSI and chi² need bins; KS reads the raw CDF gap):
  *
  *   D = max_v |F₁(v) − F₂(v)|
  *
  * computed EXACTLY as max_v |c₁(v)·n₂ − c₂(v)·n₁| over a common
  * denominator n₁·n₂ (DECIMAL(38,0) products — int64 overflows at
  * 100-TB row counts), one closing division, plus the scaled
  * statistic √(n₁n₂/(n₁+n₂))·D as a pinned two-step chain.
  *
  * Scale shape: the corpus collapses to the (group, value) histogram
  * first; CDFs ride per-group windows over the DOMAIN-bounded
  * (value × group) lattice (zero-filled so every group has a CDF
  * sample at every observed value — required for a valid max); the
  * pair join is |V|·|G|² lattice rows, never row-scale.
  */
object KsTest {

  def ksTwoSample(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val b = df.select(col(groupCol).cast("string").as("_g"),
      col(valueCol).cast("long").as("_v"))
    val hist = b.groupBy(col("_g"), col("_v")).agg(count(lit(1)).as("_c"))
    val lattice = hist.select(col("_v")).distinct()
      .crossJoin(hist.select(col("_g")).distinct())
      .join(hist, Seq("_g", "_v"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val wc = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = lattice.withColumn("_cum", sum(col("_c")).over(wc))
    val tot = hist.groupBy(col("_g")).agg(sum(col("_c")).as("_n"))

    val left = cdf.select(col("_g").as("g1"), col("_v"),
      col("_cum").as("_c1"))
    val right = cdf.select(col("_g").as("g2"), col("_v"),
      col("_cum").as("_c2"))
    val nn = (col("n1").cast(dec) * col("n2").cast(dec)).cast("double")
    left.join(right, Seq("_v")).filter(col("g1") < col("g2"))
      .join(broadcast(tot.select(col("_g").as("g1"),
        col("_n").as("n1"))), Seq("g1"))
      .join(broadcast(tot.select(col("_g").as("g2"),
        col("_n").as("n2"))), Seq("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(min(col("n1")).as("n1"), min(col("n2")).as("n2"),
        max(abs(col("_c1").cast(dec) * col("n2").cast(dec) -
          col("_c2").cast(dec) * col("n1").cast(dec))).as("d_num"))
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        col("d_num").cast("long").as("d_num"),
        (col("d_num").cast("double") / nn).as("d"),
        (sqrt(nn / (col("n1") + col("n2")).cast("double")) *
          (col("d_num").cast("double") / nn)).as("ks_scaled"))
  }
}
