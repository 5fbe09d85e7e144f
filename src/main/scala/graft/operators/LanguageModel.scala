package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus n-gram language-model estimation with interpolated
  * Kneser-Ney smoothing (Kneser & Ney 1995; Chen & Goodman 1999) —
  * the classic data-quality LM a pre-training pipeline trains on its
  * own corpus to score/filter text (perplexity filtering à la CCNet):
  *
  *   P_KN(w₂|w₁) = max(c(w₁w₂) − D, 0) / c(w₁·)
  *               + (D · N₁₊(w₁·) / c(w₁·)) · (N₁₊(·w₂) / N₁₊(··))
  *
  * where c(w₁w₂) is the corpus bigram count, c(w₁·) the total count
  * of bigrams starting with w₁, N₁₊(w₁·) the number of DISTINCT
  * continuations of w₁, N₁₊(·w₂) the number of distinct left contexts
  * of w₂ (the continuation probability — "how novel are the contexts
  * w₂ appears in", KN's core idea), N₁₊(··) the number of distinct
  * bigram types, and D the absolute discount.
  *
  * Everything is ratios/products of integer counts in ONE fixed IEEE
  * evaluation order (two divisions, two multiplies, one add — all
  * correctly rounded ops), so the estimates are bit-identical in any
  * engine and the operator is hash-checkable end to end. No log/exp
  * anywhere (scoring can rank on raw probabilities; a perplexity
  * surface would need the ln-lattice trick q187 uses).
  *
  * Scale shape: one narrow bigram explode, then three count
  * aggregations keyed by (w₁,w₂) / w₁ / w₂ — ordinary shuffled
  * group-bys with map-side partials; the N₁₊(··) total rides a
  * one-row broadcast. Nothing driver-side, nothing quadratic.
  */
object LanguageModel {

  /** Per observed bigram: (w1, w2, n_bigram, p_kn 6 dp). */
  def knBigramProbs(df: DataFrame, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1): $discount")
    val tk = TextFunctions.tokens(lower(col(textCol)))
    // adjacent token pairs, positionally (NOT distinct — counts
    // matter), built from two aligned slices rather than element_at
    // per position (the wordTrigrams O(n²)-inlining caveat)
    val bigrams = df.select(tk.as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(explode(zip_with(
        slice(col("_tk"), lit(1), size(col("_tk")) - 1),
        slice(col("_tk"), lit(2), size(col("_tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))

    val c12 = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_bigram"))
    val c1 = c12.groupBy(col("w1"))
      .agg(sum(col("n_bigram")).as("_tot"),
        count(lit(1)).as("_n1_fw"))       // N1+(w1 ·)
    val cw2 = c12.groupBy(col("w2"))
      .agg(count(lit(1)).as("_n1_pw"))    // N1+(· w2)
    val nbi = c12.agg(count(lit(1)).as("_n_types")) // N1+(· ·), one row

    val d = lit(discount)
    // fixed order: max(c12−D,0)/tot + ((D·n1fw)/tot) · (n1pw/ntypes)
    val pkn = (greatest(col("n_bigram").cast("double") - d, lit(0.0))
        / col("_tot").cast("double"))
      .plus(((d * col("_n1_fw").cast("double")) / col("_tot").cast("double"))
        * (col("_n1_pw").cast("double") / col("_n_types").cast("double")))

    c12.join(c1, Seq("w1"))
      .join(cw2, Seq("w2"))
      .crossJoin(broadcast(nbi))
      .select(col("w1"), col("w2"), col("n_bigram"),
        round(pkn, 6).as("p_kn"))
  }

  /** Per-document LM score from the corpus's own KN bigram model —
    * CCNet-style perplexity filtering (Wenzek et al. 2020), where a
    * document's mean negative log-probability under a reference LM is
    * the quality axis: degenerate/boilerplate text scores low
    * (predictable), lexical soup scores high.
    *
    * avg_neg_logp = −(Σ_positions ln P_KN(w₂|w₁)) / n_bigrams.
    *
    * Cross-engine exactness: P_KN arrives 6-dp ROUNDED (identical
    * doubles everywhere — [[knBigramProbs]]'s hash-checked output),
    * each ln lands on the q187 integer lattice (`round(ln(p)·10⁸)` as
    * BIGINT), the per-doc sum is exact long arithmetic, and the final
    * score is one pinned double chain (sum → /10⁸ → /n → negate).
    *
    * Scale shape: the model table is keyed by (w1,w2) and joined to
    * the per-doc bigram occurrences — an ordinary shuffled equi-join
    * (broadcastable when the vocab is small); ln is evaluated once per
    * bigram TYPE, not per occurrence.
    */
  def perplexityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val model = knBigramProbs(df, textCol)
      .select(col("w1"), col("w2"),
        round(log(col("p_kn")) * 1e8).cast("long").as("_lt"))
    val tk = TextFunctions.tokens(lower(col(textCol)))
    val occ = df.select(col(idCol), tk.as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("_tk"), lit(1), size(col("_tk")) - 1),
        slice(col("_tk"), lit(2), size(col("_tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    occ.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lt")).as("_s"))
      .select(col(idCol), col("n_bigrams"),
        round(-((col("_s").cast("double") / 1e8)
          / col("n_bigrams").cast("double")), 6).as("avg_neg_logp"))
  }

  /** Per-document WINDOWED perplexity profile — span-level quality
    * localization, the CCNet paragraph-filter shape (Wenzek et al.
    * 2020 score paragraphs, not documents, because boilerplate and
    * lexical soup hide INSIDE otherwise-fine pages) adapted to
    * unstructured text: the bigram stream splits into fixed
    * `windowTokens`-bigram windows (window k = bigram positions
    * [k·w+1, (k+1)·w] — a partition of the stream, every bigram
    * scored exactly once; the remainder tail is a short final
    * window), each window scores against the corpus's own KN model,
    * and the doc ships its worst/best window next to the whole-doc
    * mean — filter on the worst window to catch span-level rot the
    * doc mean averages away.
    *
    * Exactness: per-position log-probs are [[perplexityScore]]'s
    * ln-lattice integers, window sums exact longs, both readout
    * scores one pinned double chain, and worst/best selection orders
    * by (score, window index) — the doubles are identical in any
    * engine, so the argmax/argmin replay exactly.
    *
    * Scale shape: [[perplexityScore]]'s model join plus ONE extra
    * map-side-combinable (doc, window) aggregate before the per-doc
    * rollup; the window id is pure arithmetic on the bigram position
    * — no second scan, nothing quadratic, no per-doc arrays.
    */
  def windowedPerplexity(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 16): DataFrame = {
    require(windowTokens >= 2, s"window too small: $windowTokens")
    val model = knBigramProbs(df, textCol)
      .select(col("w1"), col("w2"),
        round(log(col("p_kn")) * 1e8).cast("long").as("_lt"))
    val tk = TextFunctions.tokens(lower(col(textCol)))
    val occ = df.select(col(idCol), tk.as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(col(idCol), posexplode(zip_with(
        slice(col("_tk"), lit(1), size(col("_tk")) - 1),
        slice(col("_tk"), lit(2), size(col("_tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))))
      .select(col(idCol), (col("pos") / windowTokens).cast("int").as("win"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val wScore = occ.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol), col("win"))
      .agg(count(lit(1)).as("_n"), sum(col("_lt")).as("_s"))
      .withColumn("_score", round(-((col("_s").cast("double") / 1e8)
        / col("_n").cast("double")), 6))
    wScore.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_windows"),
        sum(col("_n")).as("n_bigrams"),
        sum(col("_s")).as("_tot"),
        max(struct(col("_score"), (-col("win")).as("_ni")))
          .as("_worst"),
        min(struct(col("_score"), col("win").as("_pi")))
          .as("_best"))
      .select(col(idCol), col("n_windows"), col("n_bigrams"),
        round(-((col("_tot").cast("double") / 1e8)
          / col("n_bigrams").cast("double")), 6).as("avg_neg_logp"),
        (-col("_worst._ni")).cast("int").as("worst_window"),
        // actionable span bounds (r13 verdict #7): the worst window
        // scores 0-based bigram positions [worst_start, worst_end) —
        // equivalently tokens [worst_start, worst_end] inclusive — so
        // a downstream span cut acts without recomputing windows
        ((-col("_worst._ni")) * windowTokens).cast("int")
          .as("worst_start"),
        least(((-col("_worst._ni")) + 1) * windowTokens,
          col("n_bigrams")).cast("int").as("worst_end"),
        col("_worst._score").as("worst_neg_logp"),
        col("_best._pi").cast("int").as("best_window"),
        col("_best._score").as("best_neg_logp"))
  }

  /** Act on [[windowedPerplexity]]'s span bounds — the CCNet-style
    * worst-window CUT: a document whose worst `windowTokens`-bigram
    * window scores at least `margin` above its own mean has that
    * window's token span removed (localized rot the doc mean averages
    * away — boilerplate, lexical soup, corrupted spans); everything
    * else passes unchanged. The downstream pass q333's bounds exist
    * for, shipped as an operator.
    *
    * Exactness: the cut decision compares two pinned 6-dp doubles
    * plus one IEEE add of a power-of-two margin — replayable in any
    * engine — and the cut itself is pure token-array slicing on the
    * span bounds ([start, end] inclusive 0-based token positions).
    * The kept content is hash-checked: `kept_md5` digests the kept
    * tokens joined by single spaces, so an external mirror verifies
    * the actual post-cut text, not just the counts.
    *
    * Scale shape: [[windowedPerplexity]]'s aggregates plus ONE
    * re-tokenizing pass joined per doc — linear, no per-doc state
    * beyond the (length-bounded) token array already implied by the
    * tokenizer.
    */
  def worstWindowCut(df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 16, margin: Double = 0.25): DataFrame = {
    val prof = windowedPerplexity(df, idCol, textCol, windowTokens)
    val tk = TextFunctions.tokens(lower(col(textCol)))
    val toks = df.select(col(idCol), tk.as("_tk"))
      .filter(size(col("_tk")) >= 2)
    toks.join(prof, Seq(idCol))
      .withColumn("cut", col("n_windows") >= 2 &&
        col("worst_neg_logp") >= col("avg_neg_logp") + lit(margin))
      // tokens [worst_start, worst_end] (0-based, inclusive) drop:
      // kept = tk[1..worst_start] ++ tk[worst_end+2..n] in 1-based
      // slice terms; both slices bottom out at empty, never negative
      .withColumn("_kept", when(col("cut"),
        concat(
          slice(col("_tk"), lit(1), col("worst_start")),
          slice(col("_tk"), col("worst_end") + lit(2),
            greatest(size(col("_tk")) - col("worst_end") - lit(1),
              lit(0)))))
        .otherwise(col("_tk")))
      .select(col(idCol), col("cut"),
        col("worst_start"), col("worst_end"),
        size(col("_tk")).as("n_tokens"),
        size(col("_kept")).as("n_tokens_kept"),
        md5(concat_ws(" ", col("_kept"))).as("kept_md5"))
  }

  /** Margin calibration for [[worstWindowCut]] — the
    * calibrate-before-commit pattern (the q334 band-plan / q336
    * nprobe tables) applied to the cut knob: for each candidate
    * margin, how many documents the worst-window rule would cut, how
    * many tokens it would remove, and what share of the corpus that
    * is — the table a pipeline consults before pinning a cut
    * threshold. Margins should be exact power-of-two doubles (the
    * defaults are 1/8, 1/4, 1/2, 1) so the one IEEE add in the cut
    * test replays in any engine; cut-rate is monotone non-increasing
    * in margin by construction (the test is `worst ≥ mean + margin`).
    *
    * Tokens removed per cut doc is worst_end + 1 − worst_start —
    * exactly [[worstWindowCut]]'s n_tokens − n_tokens_kept (kept =
    * worst_start + (n − worst_end − 1) and worst_end ≤ n − 1 always),
    * so the margin-default row of this table is consistent with the
    * cut operator by arithmetic, not by re-measurement.
    *
    * Scale shape: the [[windowedPerplexity]] profile is computed
    * ONCE; each margin is then pure arithmetic on the per-doc row
    * (the margin id explodes onto a 5-column frame, |margins| small
    * copies), closed by one map-side-combinable aggregate — the
    * calibration costs one profile run plus |margins| cheap
    * decisions, never |margins| profile runs.
    */
  def worstWindowCutCalibration(df: DataFrame, idCol: String,
      textCol: String, windowTokens: Int = 16,
      margins: Seq[Double] = Seq(0.125, 0.25, 0.5, 1.0)): DataFrame = {
    require(margins.nonEmpty && margins == margins.distinct.sorted &&
      margins.head > 0.0,
      s"margins must be distinct ascending > 0: $margins")
    val prof = windowedPerplexity(df, idCol, textCol, windowTokens)
    val tk = TextFunctions.tokens(lower(col(textCol)))
    val toks = df.select(col(idCol), size(tk).cast("long").as("_nt"))
    toks.join(prof, Seq(idCol))
      .select(col("_nt"), col("n_windows"), col("avg_neg_logp"),
        col("worst_neg_logp"),
        (col("worst_end") + lit(1) - col("worst_start")).cast("long")
          .as("_rm"),
        explode(array(margins.map(lit): _*)).as("margin"))
      .withColumn("_cut", col("n_windows") >= 2 &&
        col("worst_neg_logp") >= col("avg_neg_logp") + col("margin"))
      .groupBy(col("margin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_cut"), 1L).otherwise(0L)).as("docs_cut"),
        sum(col("_nt")).as("tokens_total"),
        sum(when(col("_cut"), col("_rm")).otherwise(0L))
          .as("tokens_removed"))
      .select(col("margin"), col("n_docs"), col("docs_cut"),
        col("tokens_total"), col("tokens_removed"),
        (col("tokens_removed").cast("double")
          / col("tokens_total").cast("double")).as("removed_share"))
  }

  /** Min-K% probability membership audit (Shi et al. 2023) — the
    * pretraining-data detection signal: average the K% LOWEST
    * per-position log-probabilities instead of all of them. Seen
    * text has few true outlier positions (its whole tail is
    * predictable), unseen text's rarest positions stay rare — so the
    * min-K% mean separates member/non-member far better than full
    * perplexity, and the pair (mink, avg) is the standard
    * contamination-forensics readout.
    *
    * Exactness: per-position log-probs are [[perplexityScore]]'s
    * exact ln-lattice integers; per-doc bottom-k is a value-sorted
    * slice (ties carry equal values — no tie-break needed);
    * k = ceil(n·kNum/kDen) is exact integer ceiling arithmetic; both
    * reported scores are one pinned double chain over exact sums.
    *
    * Scale shape: the model join is [[perplexityScore]]'s; the
    * bottom-k rides a per-doc sorted array (bounded by document
    * length — documents are length-bounded upstream by the chunking
    * stage, so the per-group array is NOT corpus-scale).
    */
  def minKProbScore(df: DataFrame, idCol: String, textCol: String,
      kNum: Int = 1, kDen: Int = 5): DataFrame = {
    require(kNum >= 1 && kDen > kNum, s"bad K fraction: $kNum/$kDen")
    val model = knBigramProbs(df, textCol)
      .select(col("w1"), col("w2"),
        round(log(col("p_kn")) * 1e8).cast("long").as("_lt"))
    val tk = TextFunctions.tokens(lower(col(textCol)))
    val occ = df.select(col(idCol), tk.as("_tk"))
      .filter(size(col("_tk")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("_tk"), lit(1), size(col("_tk")) - 1),
        slice(col("_tk"), lit(2), size(col("_tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    occ.join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lt")).as("_s"),
        sort_array(collect_list(col("_lt"))).as("_arr"))
      .withColumn("k",
        expr(s"(n_bigrams * $kNum + $kDen - 1) div $kDen"))
      .withColumn("_bs", aggregate(slice(col("_arr"), lit(1), col("k")),
        lit(0L), (a, x) => a + x))
      .select(col(idCol), col("n_bigrams"), col("k"),
        round(-((col("_bs").cast("double") / 1e8)
          / col("k").cast("double")), 6).as("mink_neg_logp"),
        round(-((col("_s").cast("double") / 1e8)
          / col("n_bigrams").cast("double")), 6).as("avg_neg_logp"))
  }
}
