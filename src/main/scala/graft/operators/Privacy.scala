package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy / re-identification-risk operators for serving-side data
  * release (SURVEY.md §7.5 extension family).
  *
  * k-anonymity is the standard bar for releasing quasi-identifier
  * (QI) columns: every released (QI, attribute-bucket) combination
  * must be shared by at least k rows, or a joiner with an external
  * dataset can single out individuals. The generalization ladder
  * below finds, per QI group, the MINIMAL coarsening of a numeric
  * attribute under which EVERY bucket of that group clears the bar —
  * Samarati-style full-domain generalization (one level per QI
  * group, not per row) restricted to one attribute hierarchy
  * (bucket widths widening to full suppression). Applying one level
  * to the whole group is what makes the guarantee hold on the
  * RELEASED table: a per-row minimal level would let the same
  * group's rows surface at different levels, leaving some released
  * (QI, band, level) tuples rarer than k.
  */
object Privacy {

  /** Minimal full-domain k-anonymity over one numeric attribute.
    *
    * Levels: `widths(0)` … `widths(L-1)` bucket `numCol` by
    * `floor(num/width)` (level l), and level L suppresses the
    * attribute entirely (group = QI columns alone). Each QI group is
    * assigned the SMALLEST level at which EVERY occupied bucket of
    * that group holds at least `k` rows (so all the group's rows are
    * released at one level, and every released (QI, band, level)
    * tuple genuinely has >= k rows); groups whose QI combination is
    * rarer than `k` even under suppression are flagged
    * `anonymous = false` — they cannot be released without row
    * suppression.
    *
    * Output: input id + QI columns + `level` (0-based; L =
    * suppressed), `bucket` (the floor index at that level; null when
    * suppressed), `group_n` (the size of the row's (QI, bucket)
    * group at the chosen level — >= k by construction whenever
    * `anonymous`), `anonymous`.
    *
    * Scale shape: per level, one `groupBy` over (QI, bucket) whose
    * result is O(#distinct QI×bucket combos) — bounded by the domain
    * of the released columns, not the row count — then a per-QI
    * `min` over those bucket counts (the full-domain gate), all
    * broadcast-joined back to the rows. No row-side shuffle at any
    * level; 2L+1 small aggregates + L+2 broadcast joins. The level
    * pick is a single `when` chain over the joined group minima.
    */
  def kAnonymityGeneralize(df: DataFrame, idCol: String,
      qiCols: Seq[String], numCol: String, widths: Seq[Double],
      k: Int): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0.0),
      s"bucket widths must be positive: $widths")
    require(widths.sliding(2).forall {
      case Seq(a, b) => b > a
      case _         => true
    }, s"widths must widen monotonically: $widths")
    require(k >= 1, s"k must be positive: $k")

    val qi = qiCols.map(col)
    def bucket(l: Int): Column =
      floor(col(numCol) / lit(widths(l))).cast("long")

    // per-level counts — each frame is tiny (domain-bounded), so the
    // join back is an explicit broadcast: rows never shuffle. The
    // per-QI min over bucket counts is the full-domain gate: a level
    // qualifies for a group only when its WEAKEST bucket clears k.
    val levels = widths.indices.map { l =>
      val cnt = df.groupBy(qi :+ bucket(l).as("_b"): _*)
        .agg(count(lit(1)).as(s"_n$l"))
        .withColumnRenamed("_b", s"_b$l")
      (l, cnt)
    }
    val mins = levels.map { case (l, cnt) =>
      cnt.groupBy(qiCols.map(col): _*).agg(min(col(s"_n$l")).as(s"_mn$l"))
    }
    val supCnt = df.groupBy(qi: _*).agg(count(lit(1)).as("_nsup"))

    val withBuckets = widths.indices.foldLeft(
      df.select(col(idCol) +: col(numCol) +: qi: _*)) { (acc, l) =>
      acc.withColumn(s"_b$l", bucket(l))
    }.drop(numCol)
    val joined0 = levels.foldLeft(withBuckets) { case (acc, (l, cnt)) =>
      acc.join(broadcast(cnt), qiCols :+ s"_b$l", "left")
    }
    val joined = mins.foldLeft(joined0) { (acc, mn) =>
      acc.join(broadcast(mn), qiCols, "left")
    }.join(broadcast(supCnt), qiCols, "left")

    val L = widths.length
    // smallest qualifying level for the GROUP: chain when()s upward
    val levelCol = widths.indices.reverse.foldLeft(lit(L)) { (els, l) =>
      when(coalesce(col(s"_mn$l"), lit(0L)) >= k, lit(l)).otherwise(els)
    }
    val bucketCol = widths.indices.reverse.foldLeft(
      lit(null).cast("long")) { (els, l) =>
      when(coalesce(col(s"_mn$l"), lit(0L)) >= k, col(s"_b$l")).otherwise(els)
    }
    val groupN = widths.indices.reverse.foldLeft(
      coalesce(col("_nsup"), lit(0L))) { (els, l) =>
      when(coalesce(col(s"_mn$l"), lit(0L)) >= k, col(s"_n$l")).otherwise(els)
    }

    joined
      .withColumn("level", levelCol)
      .withColumn("bucket", bucketCol)
      .withColumn("group_n", groupN)
      .withColumn("anonymous", col("group_n") >= k)
      .select(col(idCol) +: qi :+ col("level") :+ col("bucket") :+
        col("group_n") :+ col("anonymous"): _*)
  }

  /** l-diversity audit — k-anonymity's necessary companion: a QI
    * group can clear k and still leak when every member shares the
    * SAME sensitive value (the homogeneity attack — "all 50 rows in
    * this (zip, age-band) cell have the same diagnosis"). Per QI
    * group this reports the distinct-sensitive count (distinct
    * l-diversity), the dominant value and its share (the
    * homogeneity readout), and the pass flag.
    *
    * Output per group: qiCols + (n_rows, n_distinct_sensitive,
    * top_value, top_share, l_diverse). `top_share` is ONE division
    * of exact integers; the dominant value ties break on the value
    * string (min-struct, no window).
    *
    * Scale shape: one (QI, sensitive) count aggregate — bounded by
    * the released domain, not the row count — then one per-QI fold
    * carrying (sum, count, max-count-with-value) map-side. No
    * windows, no row-side shuffle.
    */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, l: Int): DataFrame = {
    require(l >= 2, s"l must be at least 2: $l")
    val qi = qiCols.map(col)
    df.groupBy(qi :+ col(sensitiveCol).as("_s"): _*)
      .agg(count(lit(1)).as("_n"))
      .groupBy(qi: _*)
      .agg(
        sum(col("_n")).as("n_rows"),
        count(lit(1)).as("n_distinct_sensitive"),
        min(struct((-col("_n")).as("nn"), col("_s").as("v"))).as("_top"))
      .select(qi :+
        col("n_rows") :+
        col("n_distinct_sensitive") :+
        col("_top.v").as("top_value") :+
        ((-col("_top.nn")).cast("double") / col("n_rows").cast("double"))
          .as("top_share") :+
        (col("n_distinct_sensitive") >= l).as("l_diverse"): _*)
  }

  /** Laplace-mechanism histogram release — the ε-differential-privacy
    * counting query (Dwork et al. 2006): each released cell is
    * count + Lap(Δ/ε) with sensitivity Δ = 1 (one row contributes to
    * exactly one cell). The noise draw is the PORTABLE md5 uniform
    * (the fleet's derandomized-mechanism convention — every released
    * value is reproducible and hash-checkable; a production release
    * swaps the draw for a CSPRNG, nothing else changes) through the
    * exact inverse CDF:
    *
    *   u = (r + 0.5)/10⁶,  r = md5(cell ∥ seedTag) mod 10⁶
    *   noise = −(1/ε)·sign(u−½)·ln(1 − 2|u−½|)
    *
    * With k = r − 500000, |2u−1| = |2k+1|/10⁶ is an ODD sixth-lattice
    * value — the CDF argument (10⁶−|2k+1|)/10⁶ is never 0 or 1 and
    * the sign never degenerates. ln lands once per cell on the 1e-8
    * integer lattice; `invEps` = 1/ε must be a positive integer so
    * noise_e8 = −sign·invEps·ln_e8 stays EXACT integer arithmetic,
    * and the released value is one division of an exact DECIMAL
    * numerator. `released_clamped` post-processes to the non-negative
    * cone (post-processing preserves DP).
    *
    * Scale shape: one count aggregate (domain-bounded output), then a
    * zero-shuffle projection — the mechanism itself never sees row
    * volume.
    */
  def laplaceHistogram(df: DataFrame, groupCols: Seq[String],
      invEps: Int, seedTag: String): DataFrame = {
    require(invEps >= 1, s"1/eps must be a positive integer: $invEps")
    val g = groupCols.map(col)
    val hist = df.groupBy(g: _*).agg(count(lit(1)).as("n_true"))
    val key = concat_ws(":",
      groupCols.map(c => col(c).cast("string")) :+ lit(seedTag): _*)
    val r = pmod(conv(substring(md5(key), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    val odd = (r - 500000L) * 2L + 1L
    val arg = (lit(1000000L) - abs(odd)).cast("double") / lit(1000000.0)
    val lnE8 = round(log(arg) * 1e8, 0).cast("long")
    val signU = when(odd > 0L, lit(1L)).otherwise(lit(-1L))
    val relNum = col("n_true").cast("decimal(38,0)") *
      lit(100000000L).cast("decimal(38,0)") +
      col("noise_e8").cast("decimal(38,0)")
    hist
      .withColumn("u6", r)
      .withColumn("noise_e8", -signU * lit(invEps.toLong) * lnE8)
      .withColumn("released", relNum.cast("double") / lit(1.0e8))
      .withColumn("released_clamped", greatest(col("released"), lit(0.0)))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007) — the
    * skewness-attack companion to [[lDiversity]]: a QI cell can be
    * l-diverse and still leak when its sensitive-value DISTRIBUTION
    * differs sharply from the corpus-wide one ("this cell is 90%
    * value X where the corpus is 5%"). Per QI group this reports the
    * variational distance (the categorical EMD of the paper) between
    * the cell's sensitive distribution and the global distribution:
    *
    *   emd = (1/2) * sum_v | n_cv / n_c  -  N_v / N |
    *
    * computed EXACTLY as `sum_v |n_cv*N - N_v*n_c|` on DECIMAL(38,0)
    * (int64 products overflow at 100-TB row counts) over a common
    * denominator `2*n_c*N`, with ONE closing double division — so
    * the reported distance hash-matches a HUGEINT oracle bit for
    * bit. Values absent from a cell still contribute their global
    * mass (the |0 - N_v/N| term), which is why the sum runs over the
    * GLOBAL sensitive domain, not the cell's.
    *
    * Output per group: qiCols + (n_rows, emd, t_close = emd <= t).
    *
    * Scale shape: one (QI, sensitive) count aggregate and one
    * (sensitive) count aggregate — both bounded by the released
    * domain, not the row count — then a domain×domain broadcast
    * cross of the tiny frames. No row-side shuffle, no windows.
    */
  def tCloseness(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, t: Double): DataFrame = {
    require(t > 0.0 && t < 1.0, s"t must be in (0,1): $t")
    val qi = qiCols.map(col)
    val dec = "decimal(38,0)"

    // (QI, v) -> n_cv: domain-bounded after one aggregate
    val cell = df
      .groupBy(qi :+ col(sensitiveCol).as("_v"): _*)
      .agg(count(lit(1)).as("_ncv"))
    // v -> N_v and the corpus total N (1-row frame, broadcast)
    val global = cell.groupBy(col("_v")).agg(sum(col("_ncv")).as("_nv"))
    val total = global.agg(sum(col("_nv")).as("_n_total"))
    // QI -> n_c
    val cells = cell.groupBy(qi: _*).agg(sum(col("_ncv")).as("_nc"))

    // full (QI cell) x (global domain) lattice — both sides are
    // domain-bounded aggregates, so the cross is tiny and broadcast
    val lattice = cells
      .crossJoin(broadcast(global))
      .join(cell, qiCols :+ "_v", "left")
      .crossJoin(broadcast(total))
      .withColumn("_term",
        abs(coalesce(col("_ncv"), lit(0L)).cast(dec) *
              col("_n_total").cast(dec) -
            col("_nv").cast(dec) * col("_nc").cast(dec)))

    lattice
      .groupBy(qi: _*)
      .agg(
        min(col("_nc")).as("n_rows"),
        sum(col("_term")).as("_num"),
        min((lit(2).cast(dec) * col("_nc").cast(dec) *
          col("_n_total").cast(dec))).as("_den"))
      .select(qi :+
        col("n_rows") :+
        (col("_num").cast("double") / col("_den").cast("double"))
          .as("emd") :+
        (col("_num").cast("double") / col("_den").cast("double") <= t)
          .as("t_close"): _*)
  }
}
