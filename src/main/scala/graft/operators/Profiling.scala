package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-profile statistics over wide numeric tables — the
  * data-characterization pass that precedes feature selection and
  * drift monitoring (which measures co-move, which are redundant,
  * which carry no signal).
  *
  * Exactness recipe (the LinearTrend convention): every moment sum
  * (Σx, Σx², Σxy) is carried as DECIMAL — exact in any row order and
  * any partitioning — and only the FINAL Pearson chain runs in IEEE
  * doubles, as one pinned expression tree evaluated identically by
  * any engine:
  *   corr = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²) · √(n·Syy − Sy²)).
  * Never the two-pass mean-centered form: its per-row (x−x̄) products
  * are order-dependent floats.
  *
  * Scale shape: ONE scan computes all C + C(C+1)/2 moments as a
  * map-side-combined global aggregate (a single 1-row result —
  * no shuffle of data, only of partial sums); the pair expansion
  * works on that 1-row frame. C is the column count, not the row
  * count — quadratic only in schema width.
  */
object Profiling {

  /** Ratio-to-report: each row's share of its group total and of the
    * grand total — the OLAP percent-of-parent column pair. The value
    * column must be DECIMAL (exact partial sums): group and grand
    * totals are then sums of those decimals — identical under any
    * aggregation order/composition — and each share is one pinned
    * IEEE division. Totals travel by BROADCAST join (O(|groups|) and
    * O(1) rows), never by a window over the detail table: a global
    * window would funnel every row through one partition.
    */
  def ratioToReport(df: DataFrame, idCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val grp = df.groupBy(groupCol).agg(sum(col(valueCol)).as("_g"))
    val tot = df.agg(sum(col(valueCol)).as("_t"))
    df.join(broadcast(grp), Seq(groupCol)).crossJoin(broadcast(tot))
      .select(col(idCol), col(groupCol),
        col(valueCol).cast("double").as("value"),
        (col(valueCol).cast("double") / col("_g").cast("double"))
          .as("share_group"),
        (col(valueCol).cast("double") / col("_t").cast("double"))
          .as("share_total"))
  }

  /** (col_x, col_y, corr) for every unordered column pair, in the
    * given column order. Rows with a null in ANY profiled column are
    * excluded (one consistent n for every moment). Values carry as
    * DECIMAL(18,2), so every moment sum is exact in any order.
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val dec = "decimal(18,2)"
    val clean = df.na.drop(cols).select(cols.map(col): _*)
    val d = (c: String) => col(c).cast(dec)
    val moments =
      Seq(count(lit(1)).cast("double").as("_n")) ++
      cols.map(c => sum(d(c)).cast("double").as(s"_s_$c")) ++
      cols.map(c => sum(d(c) * d(c)).cast("double").as(s"_q_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        sum(d(a) * d(b)).cast("double").as(s"_p_${a}_$b")
      }.toSeq
    val m = clean.agg(moments.head, moments.tail: _*)
    val pairs = cols.combinations(2).map { case Seq(a, b) =>
      val (n, sa, sb) = (col("_n"), col(s"_s_$a"), col(s"_s_$b"))
      val corr = (n * col(s"_p_${a}_$b") - sa * sb) /
        (sqrt(n * col(s"_q_$a") - sa * sa) *
         sqrt(n * col(s"_q_$b") - sb * sb))
      struct(lit(a).as("col_x"), lit(b).as("col_y"), corr.as("corr"))
    }.toSeq
    m.select(explode(array(pairs: _*)).as("_row")).select(col("_row.*"))
  }

  /** Zipf-law fit: the log-log OLS slope of term frequency against
    * frequency rank over the top-N vocabulary — the corpus-health
    * statistic (natural text sits near slope −1; template/boilerplate
    * corpora flatten, spam steepens).
    *
    * Exactness: each ln lands on an integer lattice
    * (`round(ln(·)·10⁸)` as BIGINT — both engines round positive
    * halves away from zero), so every OLS moment is an EXACT integer
    * sum (decimal-carried; products fit well under 38 digits), and
    * slope/intercept are one fixed IEEE chain over those exact
    * totals — the q154 trend discipline applied to a log-log fit.
    * The intercept divides the 10⁸ scale back out; the slope is
    * scale-free.
    *
    * Scale shape: the rank is a window over the TERM table (vocab-
    * bounded, Heaps-law small — not the corpus), cut to `topN`; the
    * moments are one map-side-combinable global aggregate. Output is
    * a single row (n_terms, slope, intercept).
    */
  def zipfFit(terms: DataFrame, termCol: String, freqCol: String,
      topN: Int): DataFrame = {
    require(topN >= 3, s"need at least 3 rank points: $topN")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(freqCol).desc, col(termCol).asc)
    val pts = terms
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= topN)
      .select(
        round(log(col("_rk").cast("double")) * 1e8).cast("long").as("_x"),
        round(log(col(freqCol).cast("double")) * 1e8).cast("long").as("_y"))
    latticeOls(pts, "n_terms")
  }

  /** Numeric column profiler (the `describe` shape made exact and
    * oracle-checkable): per column, row/null/distinct counts, min,
    * max, and a DECIMAL-carried mean.
    *
    * Shape (r16 optimization): one VALUE-HISTOGRAM leg per column —
    * `groupBy(value).count()` (map-side combined, one narrow (value,
    * cnt) pair per distinct value crosses the exchange), then every
    * statistic folds from the histogram: n = Σcnt, nulls = cnt of the
    * null group, distinct = count of non-null groups, min/max over
    * group keys, and the mean's numerator Σ value·cnt — an exact
    * DECIMAL identity to the row-level sum (integer multiple of an
    * exact decimal), so the output is bit-identical to the previous
    * single-aggregate form. That form asked for N countDistincts next
    * to plain aggregates, and Spark's multi-distinct rewrite Expands
    * every row (N+1)× and groups the plain aggregates by the CROSS of
    * all N distinct columns — near-unique keys, so partial
    * aggregation reduced nothing and the exchange carried the full
    * 26-wide buffer per surviving row (measured 3.9 s warm on
    * lineitem×4 at sf0.1; the histogram legs run 2.0 s). Each leg
    * scans only its own column (parquet-pruned); N single-column
    * scans beat one (N+1)×-Expanded pass at any scale, and the
    * histogram exchange is the theoretical minimum for an exact
    * distinct count.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val legs = cols.map { c =>
      df.select(col(c).as("_v"))
        .groupBy(col("_v")).agg(count(lit(1)).as("_cnt"))
        .agg(
          coalesce(sum(col("_cnt")), lit(0L)).as("_n"),
          coalesce(sum(when(col("_v").isNull, col("_cnt"))
            .otherwise(lit(0L))), lit(0L)).as("_null"),
          count(col("_v")).as("_d"),
          min(col("_v").cast("double")).as("_min"),
          max(col("_v").cast("double")).as("_max"),
          sum(col("_v").cast("decimal(28,6)") * col("_cnt")).as("_s"))
        .select(lit(c).as("column_name"),
          col("_n").as("n_rows"),
          col("_null").as("n_null"),
          col("_d").as("n_distinct"),
          col("_min").as("min_value"),
          col("_max").as("max_value"),
          when(col("_n") > col("_null"),
            round(col("_s").cast("double")
              / (col("_n") - col("_null")).cast("double"), 6))
            .as("mean_value"))
    }
    legs.reduce(_.unionByName(_))
  }

  /** MERGEABLE per-shard column profile — the incremental form a
    * 100-TB profiler actually runs: profile each shard/partition
    * once, then combine profiles without rescanning. Every statistic
    * is a mergeable sufficient stat: counts and null counts add,
    * min/max fold, the mean's numerator rides an exact
    * DECIMAL(28,6) sum, and the DISTINCT count — the one statistic
    * with no exact mergeable form — is carried as a KMV bottom-k
    * array over portable md5 draws of the value's pinned '%.6f'
    * rendering (the k smallest draws overall each survive their own
    * shard's bottom-k, so merged sketch ≡ whole-corpus sketch — the
    * q258 merge property). The '%.6f' key is cross-engine safe: a
    * binary double can never sit exactly on a 1e-7 decimal half
    * (odd/(2·10⁶) has 5⁶ in the denominator), so Java HALF_UP and C
    * half-even printf render identically.
    *
    * One stats aggregate (single scan) + one melted distinct-values
    * aggregate per call; output one row per column with the sketch
    * attached.
    */
  def mergeableProfile(df: DataFrame, cols: Seq[String], k: Int = 64): DataFrame = {
    require(cols.nonEmpty && k >= 8, s"cols=$cols k=$k")
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).as(s"_n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_null_$c"),
        min(col(c).cast("double")).as(s"_min_$c"),
        max(col(c).cast("double")).as(s"_max_$c"),
        sum(col(c).cast("decimal(28,6)")).as(s"_s_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val statRows = one.select(explode(array(cols.map { c =>
      struct(lit(c).as("column_name"),
        col(s"_n_$c").as("n_rows"),
        col(s"_null_$c").as("n_null"),
        col(s"_min_$c").as("min_value"),
        col(s"_max_$c").as("max_value"),
        col(s"_s_$c").as("sum6"))
    }: _*)).as("r")).select(col("r.*"))
    val melted = df.select(explode(array(cols.map { c =>
        struct(lit(c).as("c"),
          when(col(c).isNotNull,
            format_string("%.6f", col(c).cast("double"))).as("s"))
      }: _*)).as("m"))
      .select(col("m.c").as("column_name"), col("m.s").as("_s"))
      .filter(col("_s").isNotNull)
      .distinct()
    val u = (conv(substring(md5(concat(col("_s"), lit(":prof_v1"))),
      1, 15), 16, 10).cast("long").cast("double")
      / lit(Math.pow(2.0, 60.0)))
    // the heap's id slot is a LONG tie-break; only the u values are
    // kept, and u ties are 2^-60 md5-prefix events, so a stable hash
    // of the value string is all the id needs to be
    val sketch = melted.select(col("column_name"),
        xxhash64(col("_s")).as("_sid"), u.as("_u"))
      .groupBy(col("column_name"))
      .agg(transform(
        graft.functions.expressions.TopKByAgg
          .topKBy(negate(col("_u")), col("_sid"), k),
        e => negate(e.getField("score"))).as("kmv"))
    statRows.join(sketch, Seq("column_name"), "left")
      .withColumn("kmv", coalesce(col("kmv"),
        array().cast("array<double>")))
  }

  /** Combine any number of [[mergeableProfile]] outputs (pass their
    * UNION): adds counts, folds min/max, adds the decimal mean
    * numerators, and merges the KMV arrays (distinct-union then
    * bottom-k — exact per the merge property). The collect_list is
    * bounded by shards × k.
    */
  def mergeProfiles(profiles: DataFrame, k: Int = 64): DataFrame =
    profiles.groupBy(col("column_name"))
      .agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_null")).as("n_null"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"),
        sum(col("sum6")).as("sum6"),
        slice(array_sort(array_distinct(flatten(collect_list(col("kmv"))))),
          1, k).as("kmv"))

  /** Tokenizer-sizing coverage curve: the top-k vocabulary's share
    * of total token mass at every rank up to `topK` — "how big must
    * the vocabulary be to cover 95 % of the corpus", the practical
    * complement to [[zipfFit]]'s exponent. Cumulative mass rides
    * DECIMAL-exact sums over the rank window; the window runs over
    * the VOCABULARY frame (Zipf-bounded — the zipfFit argument), and
    * the output caps at topK rows regardless of corpus size.
    */
  def vocabCoverage(terms: DataFrame, termCol: String, freqCol: String,
      topK: Int): DataFrame = {
    require(topK >= 1, s"need at least 1 rank: $topK")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(freqCol).desc, col(termCol).asc)
    val whole = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    terms
      .withColumn("_rk", row_number().over(w))
      .withColumn("_tot", sum(col(freqCol).cast("decimal(38,0)")).over(whole))
      .withColumn("_cum", sum(col(freqCol).cast("decimal(38,0)")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .filter(col("_rk") <= topK)
      .select(col("_rk").as("rank"), col(termCol).as("term"),
        col(freqCol).cast("long").as("n_occurrences"),
        round(col("_cum").cast("double") / col("_tot").cast("double"), 6)
          .as("cum_share"))
  }

  /** Heaps-law fit: vocabulary size V against token count N over
    * growing doc-id prefixes of the corpus, as the log-log OLS slope
    * (the Heaps β, with intercept = ln K) — the companion statistic
    * to [[zipfFit]]: natural corpora grow vocabulary as V ≈ K·N^β
    * with β ≈ 0.4–0.6; duplicated/template corpora flatten β.
    *
    * Checkpoints are the 10 value-deciles of the id domain
    * (`T_k = (max_id + 1)·k div 10` — one max() scalar, no global
    * row-ranking of the corpus): N_k = Σ tokens over docs with
    * id < T_k, V_k = #terms whose FIRST doc id < T_k. Both are one
    * broadcast of the 10-row threshold table against corpus-
    * bounded frames (the doc token counts; the per-term min-id table),
    * so the whole fit is two map-side-combinable aggregates + the
    * exact-lattice OLS. Empty prefixes (N_k = 0) are excluded.
    */
  def heapsFit(docTokens: DataFrame, idCol: String, nTokensCol: String,
      termFirstId: DataFrame, firstIdCol: String): DataFrame = {
    val parts = 10
    val ks = docTokens.sparkSession.range(1, parts + 1)
      .select(col("id").as("_k"))
    val maxId = docTokens.agg(max(col(idCol)).cast("long").as("_mx"))
    val thresholds = ks.crossJoin(maxId)
      .select(col("_k"), expr(s"(_mx + 1L) * _k div ${parts}L").as("_t"))
    val nK = docTokens.crossJoin(broadcast(thresholds))
      .filter(col(idCol) < col("_t"))
      .groupBy(col("_k"))
      .agg(sum(col(nTokensCol).cast("long")).as("_n"))
    val vK = termFirstId.crossJoin(broadcast(thresholds))
      .filter(col(firstIdCol) < col("_t"))
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("_v"))
    val pts = nK.join(vK, Seq("_k"))
      .filter(col("_n") > 0L && col("_v") > 0L)
      .select(
        round(log(col("_n").cast("double")) * 1e8).cast("long").as("_x"),
        round(log(col("_v").cast("double")) * 1e8).cast("long").as("_y"))
    latticeOls(pts, "n_points")
  }

  /** Exact Gini coefficient of a non-negative integer weight column —
    * the concentration statistic a data-curation pipeline tracks (is
    * the token mass owned by a handful of documents?): G =
    * (2·Σᵢ i·wᵢ − (n+1)·Σw) / (n·Σw) over weights sorted ascending.
    *
    * Exactness: the global rank is [[GlobalOrder.rank]] over (w, id),
    * with no single-partition window. All three moments are
    * decimal-carried integer sums: the per-row rank·w product is
    * formed IN decimal(38,0), never long, so n·max(w) up to 10³⁸
    * stays exact (a long product would wrap silently past 2⁶³ with
    * ANSI off). The statistic is ONE division over two exact totals.
    */
  def giniCoefficient(df: DataFrame, idCol: String,
      weightCol: String): DataFrame = {
    val base = df.select(col(idCol).as("_id"),
      col(weightCol).cast("long").as("_w"))
    val ranked = GlobalOrder.rank(base, "_id", Seq(col("_w")), "_r")
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("_w").cast("decimal(38,0)")).as("sw"),
      sum(col("_r").cast("decimal(38,0)")
        * col("_w").cast("decimal(38,0)")).as("srw"))
    m.select(col("n").cast("long").as("n"),
      col("sw").cast("long").as("total_w"),
      round(
        (lit(2).cast("decimal(38,0)") * col("srw")
          - (col("n") + 1).cast("decimal(38,0)") * col("sw")).cast("double")
        / (col("n").cast("decimal(38,0)") * col("sw")).cast("double"),
        6).as("gini"))
  }

  /** Exact-lattice log-log OLS shared by [[zipfFit]] / [[heapsFit]]:
    * `pts` carries (_x, _y) = round(ln(·)·10⁸) BIGINT lattice points;
    * moments are decimal-exact sums, slope/intercept one IEEE chain,
    * intercept divided back by the 10⁸ scale.
    */
  private def latticeOls(pts: DataFrame, nName: String): DataFrame = {
    val m = pts.agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("_x").cast("decimal(18,0)")).as("sx"),
      sum(col("_y").cast("decimal(18,0)")).as("sy"),
      sum(col("_x").cast("decimal(18,0)") * col("_y").cast("decimal(18,0)")).as("sxy"),
      sum(col("_x").cast("decimal(18,0)") * col("_x").cast("decimal(18,0)")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(
      col("n").cast("long").as(nName),
      round(slope, 6).as("slope"),
      round((col("sy").cast("double") - slope * col("sx").cast("double")) /
        col("n").cast("double") / lit(1e8), 6).as("intercept"))
  }
}
