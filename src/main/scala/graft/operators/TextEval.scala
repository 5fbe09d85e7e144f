package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference-based text evaluation metrics (summarization / generation
  * eval): ROUGE-style clipped n-gram overlap between candidate and
  * reference documents.
  */
object TextEval {

  /** ROUGE-N precision / recall / F1 for (candidate, reference) pairs
    * with CLIPPED counts — each gram's contribution is
    * `min(count_cand(g), count_ref(g))`, the standard clipping that
    * stops a candidate from farming credit by repeating one
    * reference word.
    *
    * @param pairs (id_c, id_r) — one row per pair to score
    * @param grams (doc_id, gram) — one row per gram OCCURRENCE
    *              (duplicates carry the multiset counts)
    *
    * Zero-overlap pairs still score (P = R = F1 = 0), as do empty
    * sides (a 0-gram side scores 0, not null). All counts are exact
    * integers; each metric is one IEEE division (F1 composes the
    * unrounded P and R), rounded to 6 places at the output edge only.
    *
    * Scale shape: the multiset counts are a (docId, gram) aggregate;
    * the overlap join shuffles by the gram hash only for docs that
    * appear in `pairs` (semi-joined first), and the per-pair argsum is
    * map-side combinable. No windows, no driver state.
    */
  def rougeClipped(pairs: DataFrame, grams: DataFrame): DataFrame = {
    val (idC, idR, docIdCol, gramCol) = ("id_c", "id_r", "doc_id", "gram")
    val p = pairs.select(col(idC), col(idR))
    val counts = grams
      .groupBy(col(docIdCol), col(gramCol))
      .agg(count(lit(1)).as("_cnt"))
    val totals = counts.groupBy(col(docIdCol))
      .agg(sum(col("_cnt")).as("_n"))

    // score only docs that participate in pairs
    val cIds = p.select(col(idC).as(docIdCol))
    val rIds = p.select(col(idR).as(docIdCol))
    val cCounts = counts.join(cIds.distinct(), Seq(docIdCol), "left_semi")
      .select(col(docIdCol).as(idC), col(gramCol), col("_cnt").as("_cc"))
    val rCounts = counts.join(rIds.distinct(), Seq(docIdCol), "left_semi")
      .select(col(docIdCol).as(idR), col(gramCol), col("_cnt").as("_rc"))

    val overlap = p
      .join(cCounts, Seq(idC))
      .join(rCounts, Seq(idR, gramCol))
      .groupBy(col(idC), col(idR))
      .agg(sum(least(col("_cc"), col("_rc"))).as("overlap"))

    val nC = totals.select(col(docIdCol).as(idC), col("_n").as("n_c"))
    val nR = totals.select(col(docIdCol).as(idR), col("_n").as("n_r"))
    val base = p
      .join(nC, Seq(idC), "left").join(nR, Seq(idR), "left")
      .join(overlap, Seq(idC, idR), "left")
      .select(col(idC), col(idR),
        coalesce(col("overlap"), lit(0L)).as("overlap"),
        coalesce(col("n_c"), lit(0L)).as("n_c"),
        coalesce(col("n_r"), lit(0L)).as("n_r"))

    val prec = when(col("n_c") === 0L, lit(0.0))
      .otherwise(col("overlap").cast("double") / col("n_c"))
    val rec = when(col("n_r") === 0L, lit(0.0))
      .otherwise(col("overlap").cast("double") / col("n_r"))
    val f1 = when(col("overlap") === 0L, lit(0.0))
      .otherwise(lit(2.0) * prec * rec / (prec + rec))
    base
      .withColumn("p", round(prec, 6))
      .withColumn("r", round(rec, 6))
      .withColumn("f1", round(f1, 6))
  }

  /** BLEU's n-gram orders 1..4 (the standard BLEU-4). */
  private val BleuMaxN = 4

  /** Corpus-level BLEU-4 (Papineni et al. 2002) over (candidate,
    * reference) token-array pairs — the generation-eval companion to
    * [[rougeClipped]]: per-order clipped precisions are CORPUS
    * ratios (clip and total each summed over documents before the
    * division — the classic micro-average, not a mean of per-doc
    * scores), plus the brevity penalty.
    *
    * Reported in LOG space, the fleet's LM convention (q197/q198
    * never apply exp either): p_n is one division of exact integer
    * corpus counts, ln(p_n) lands on the q187 1e-8 integer lattice,
    * the brevity-penalty exponent 1 − r/c is computed as the EXACT
    * half-up lattice integer −((r−c)·2·10⁸ + c) div (2c) (never a
    * double round — (1 − r/c)·10⁸ can land on representable halves
    * where engine round modes differ), and
    * log_bleu = (4·bp_e8 + Σ ln_pn_e8) / (4·10⁸) is ONE
    * division of an exact integer by a constant. A zero clip at any
    * order leaves ln_pn_e8 and log_bleu null (BLEU = 0; no smoothing
    * is silently applied).
    *
    * Output: one row per order n, scalars repeated:
    * (n, clip_n, total_n, p_n, ln_pn_e8, c_len, r_len, bp_e8,
    * log_bleu).
    *
    * Precondition: every token is non-empty and contains no space.
    * Grams are single-space-joined and a cell recovers its order n as
    * `size(split(g, ' '))`, so a token with a space in it would count
    * in a higher order, and a 1-gram could then equal a 2-gram and
    * merge with it. The gram pass therefore raises on such a token.
    *
    * Scale shape: every order rides one tagged (doc, n, gram) count
    * aggregate per side and ONE clip join (map-side combinable
    * sums); lens and all totals come from one more corpus pass — 3
    * scans at every order. The 4 per-order rows
    * checkpoint-pin and the scalar summary broadcasts back.
    */
  def bleuCorpus(df: DataFrame, idCol: String, candCol: String,
      refCol: String): DataFrame = {
    val maxN = BleuMaxN
    // all orders AND both sides ride ONE tagged gram explode from one
    // scan (r16: the chrfCorpus shape ported back here — this operator
    // previously ran one explode scan per side plus an inner clip
    // join): grams become (n, side, gram) structs, one (doc, n, gram)
    // aggregate with side-conditional counts replaces the two count
    // aggregates and the join — a cell present on one side only
    // contributes least(c, 0) = 0, exactly the inner join's semantics.
    // 2 corpus scans total (cells + the narrow lens agg), independent
    // of maxN. The shuffle sits BEFORE the explode, clustered by doc
    // id (a cell never spans docs, so HashPartitioning(_id) satisfies
    // the cell groupBy and the fat tagged rows stay partition-local —
    // the chrF lesson); the partition count is pinned so AQE cannot
    // serialize the fat aggregate above the small pre-explode shuffle.
    // r17: the gram string determines its own order (tokens are
    // whitespace-split and grams single-space-joined, so n = the gram's
    // token count and a 1-gram can never equal a 2-gram) — the struct
    // carries only (side, g) and the cell key shrinks to (doc, gram);
    // n is recovered as size(split(g, ' ')) once per surviving cell.
    def gramStructs(c: String, side: Int) = flatten(array(
      (1 to maxN).map { n =>
        val g = if (n == 1) col(c)
          else RepeatedSpans.positionalKGrams(col(c), n)
        when(size(col(c)) >= n,
          transform(g, x => struct(lit(side).as("side"), x.as("g"))))
          .otherwise(array().cast("array<struct<side:int,g:string>>"))
      }: _*))
    val shufflePartitions =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // per-order clip and totals fall out of the SAME aggregate:
    // Σ_cells cc at order n IS the order-n candidate gram total
    // (every occurrence lands in exactly one (doc, gram) cell), which
    // equals the Σ max(|C|−n+1, 0) the separate totals pass computed.
    // the precondition, checked on the tokens the explode reads (no
    // extra job): an empty or spaced token fails the query
    def checked(c: String) = transform(col(c), t =>
      when(t === "" || t.contains(" "), raise_error(concat(
          lit(s"bleuCorpus: empty or spaced token in $c: '"), t, lit("'"))))
        .otherwise(t))
    val clip = df
      .select(col(idCol).as("_id"), checked(candCol).as("_c0"),
        checked(refCol).as("_r0"))
      .repartition(shufflePartitions, col("_id"))
      .select(col("_id"),
        explode(concat(gramStructs("_c0", 0), gramStructs("_r0", 1)))
          .as("_s"))
      .groupBy(col("_id"), col("_s.g").as("_g"))
      .agg(sum(when(col("_s.side") === 0, 1L).otherwise(0L)).as("_cc"),
        sum(when(col("_s.side") === 1, 1L).otherwise(0L)).as("_rc"))
      // n recovered per surviving cell: the gram's token count
      .groupBy(size(split(col("_g"), " ")).as("n"))
      .agg(sum(least(col("_cc"), col("_rc"))).as("clip_n"),
        sum(col("_cc")).cast("long").as("total_n"))
    // lens from one more narrow pass (no explode, no join)
    val lens = df.agg(
      sum(size(col(candCol))).cast("long").as("c_len"),
      sum(size(col(refCol))).cast("long").as("r_len"))
    val perOrder = df.sparkSession.range(1, maxN + 1)
      .select(col("id").cast("int").as("n"))
      .join(clip, Seq("n"), "left")
      .crossJoin(broadcast(lens))
      .select(col("n"), coalesce(col("clip_n"), lit(0L)).as("clip_n"),
        coalesce(col("total_n"), lit(0L)).as("total_n"),
        col("c_len"), col("r_len"))

    val withLn = perOrder.withColumn("p_n",
      when(col("total_n") > 0L,
        col("clip_n").cast("double") / col("total_n").cast("double")))
      .withColumn("ln_pn_e8",
        when(col("clip_n") > 0L && col("total_n") > 0L,
          round(log(col("p_n")) * 1e8).cast("long")))
      // ≤ maxN rows, but their lineage is the corpus-wide gram
      // joins — pin so the summary fold doesn't recompute them
      .localCheckpoint()
    val summary = withLn.agg(
      sum(col("ln_pn_e8")).as("_sum_ln"),
      count(lit(1)).as("_k"),
      count(col("ln_pn_e8")).as("_k_ok"))
    withLn.crossJoin(broadcast(summary))
      .withColumn("bp_e8",
        when(col("c_len") >= col("r_len"), lit(0L))
          .otherwise({
            // half-up integer lattice: ((r−c)·2·10⁸ + c) div (2c),
            // exact floor division on non-negative longs
            val a = (col("r_len") - col("c_len")) * 200000000L +
              col("c_len")
            val b = col("c_len") * 2L
            -((a - pmod(a, b)) / b).cast("long")
          }))
      .withColumn("log_bleu",
        when(col("_k_ok") === col("_k"),
          (col("bp_e8") * maxN + col("_sum_ln")).cast("double") /
            lit(maxN * 1.0e8)))
      .select(col("n"), col("clip_n"), col("total_n"), col("p_n"),
        col("ln_pn_e8"), col("c_len"), col("r_len"), col("bp_e8"),
        col("log_bleu"))
      .orderBy(col("n"))
  }

  /** Corpus ROUGE-L (Lin 2004) — the LCS-based summarization metric
    * that credits in-order (not necessarily contiguous) overlap,
    * the order-sensitive complement to [[rougeClipped]]'s n-grams.
    *
    * The LCS length per pair is a UNIQUE integer (no floats, no
    * ties), so the engine and the oracle are free to compute it with
    * DIFFERENT correct algorithms and still hash-match. The Spark
    * side runs the compiled two-row DP kernel
    * ([[graft.functions.expressions.TextExpressions.lcs_length]],
    * O(|C|·|R|) per pair — the r12 swap off an O(|C|·|R|²)
    * list-transform fold, 10× on the kernel). The ORACLE replays the
    * monotone-row identity
    *
    *   N[j] = max(P[j], max_{k ≤ j} M[k]),
    *   M[k] = P[k−1]+1 when cand_tok = ref[k] else 0
    *
    * (valid because LCS rows are non-decreasing in j), which has no
    * sequential dependence inside the row and is therefore
    * expressible as pure list transforms in a bounded recursive CTE.
    * The caller bounds the slices (the q291 24/28-token convention).
    *
    * Corpus micro-average (exactly [[bleuCorpus]]'s convention):
    * P = ΣLCS/Σ|C|, R = ΣLCS/Σ|R|, and the β=1 F collapses to
    * 2·ΣLCS/(Σ|C|+Σ|R|) — every metric ONE division of exact
    * integers. Output: one row (n_pairs, lcs, cand_len, ref_len,
    * rouge_l_p, rouge_l_r, rouge_l_f).
    */
  def rougeLCorpus(df: DataFrame, idCol: String, candCol: String,
      refCol: String): DataFrame = {
    val cand = col(candCol)
    val ref = col(refCol)
    val lcs = graft.functions.expressions.TextExpressions
      .lcs_length(cand, ref)

    df.agg(
        count(lit(1)).as("n_pairs"),
        sum(lcs).as("lcs"),
        sum(size(cand)).cast("long").as("cand_len"),
        sum(size(ref)).cast("long").as("ref_len"))
      .select(col("n_pairs"), col("lcs"), col("cand_len"),
        col("ref_len"),
        (col("lcs").cast("double") / col("cand_len").cast("double"))
          .as("rouge_l_p"),
        (col("lcs").cast("double") / col("ref_len").cast("double"))
          .as("rouge_l_r"),
        ((col("lcs") * 2L).cast("double") /
          (col("cand_len") + col("ref_len")).cast("double"))
          .as("rouge_l_f"))
  }

  /** chrF's character n-gram orders 1..6 (the paper's). */
  private val ChrfMaxN = 6

  /** Corpus chrF2 (Popović 2015) — the character-level MT/generation
    * metric that credits morphology and typo-level overlap BLEU's
    * word grams miss. Character n-grams n = 1..6 (the paper's)
    * over WHITESPACE-FREE strings (the caller strips separators —
    * the chrF convention), clipped multiset matches micro-averaged
    * over the corpus, β = 2 (recall weighted 2×).
    *
    * Exactness: with corpus totals C_n (candidate grams), R_n
    * (reference grams) and clipped matches M_n, the per-order
    * F-score collapses algebraically to
    *
    *   F_n = (1+β²)·P·R / (β²·P + R) = 5·M_n / (4·R_n + C_n)
    *
    * — ONE division of exact integers (carried as DECIMAL(38,0);
    * int64 products overflow at 100-TB gram counts). The headline
    * chrF = mean of F_n is computed on the exact half-up 1e-8
    * lattice (fn_e8 = (10·M·10⁸ + den) div (2·den), the q291
    * brevity-penalty trick — never a double round), so the 6-row
    * integer sum is order-independent and the final score is one
    * more exact division. A dry order (no grams at either side)
    * leaves f_n and chrf null rather than silently smoothing.
    *
    * Output: one row per order n:
    * (n, clip_n, cand_total, ref_total, f_n, fn_e8, chrf).
    *
    * Scale shape: every order AND both sides ride ONE tagged
    * (doc, n, gram) count aggregate (side-conditional counts make
    * the clip join unnecessary), plus one corpus totals pass — 2
    * scans and 1 shuffle at every order. The 6 per-order rows
    * checkpoint-pin before the scalar summary broadcasts back.
    */
  def chrfCorpus(df: DataFrame, idCol: String, candCol: String,
      refCol: String): DataFrame = {
    val maxN = ChrfMaxN
    val dec = "decimal(38,0)"
    // BOTH sides ride one tagged explode from one scan — a single
    // (doc, n, gram) shuffle with two conditional counts replaces
    // two shuffles plus a clip join (the side with zero count
    // contributes least(·)=0, exactly the inner join's semantics)
    // r17: the gram string determines its own order (n = length(g) —
    // a 2-gram can never equal a 3-gram), so the per-occurrence struct
    // carries only (side, g) and the cell group key shrinks from
    // (doc, n, gram) to (doc, gram): one int less to allocate, hash
    // and compare on every one of the ~12·len cells per row. n is
    // recovered as length(_g) after the cell aggregate, where only
    // one row per distinct gram is left.
    def gramStructs(c: String, side: Int) = flatten(array(
      (1 to maxN).map { n =>
        when(length(col(c)) >= n,
          transform(sequence(lit(1), length(col(c)) - (n - 1)),
            i => struct(lit(side).as("side"),
              col(c).substr(i, lit(n)).as("g"))))
          .otherwise(array()
            .cast("array<struct<side:int,g:string>>"))
      }: _*))
    // totals fall out of the SAME aggregate: Σ_cells cc at order n IS
    // the order-n candidate gram total (every occurrence is counted
    // in exactly one (doc, gram) cell) — so the whole metric is ONE
    // corpus scan and one shuffle. An order dry on BOTH sides has no
    // cells at all — the maxN-row order frame re-attaches it with
    // zero totals (null F, matching the oracle's empty-aggregate row).
    //
    // The shuffle is placed BEFORE the explode: a (doc, n, gram) cell
    // never spans docs, so partitioning by doc already satisfies the
    // cell groupBy's clustered distribution and the ~maxN·len tagged
    // cells per row stay partition-local — the exchange carries the
    // narrow (id, cand, ref) rows instead of every gram cell (~16×
    // the bytes at bench scale; measured 9.2 → ~6 s warm on q304).
    // The partition count is pinned so AQE cannot coalesce the small
    // pre-explode shuffle down to a handful of partitions and
    // serialize the fat aggregate above it.
    val shufflePartitions =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val perOrder = df
      .select(col(idCol).as("_id"), col(candCol).as("_c0"),
        col(refCol).as("_r0"))
      .repartition(shufflePartitions, col("_id"))
      .select(col("_id"),
        explode(concat(gramStructs("_c0", 0), gramStructs("_r0", 1)))
          .as("_s"))
      .groupBy(col("_id"), col("_s.g").as("_g"))
      .agg(sum(when(col("_s.side") === 0, 1L).otherwise(0L)).as("_cc"),
        sum(when(col("_s.side") === 1, 1L).otherwise(0L)).as("_rc"))
      // n recovered from the surviving cell rows — length(g) IS the
      // order for character grams
      .groupBy(length(col("_g")).as("n"))
      .agg(sum(least(col("_cc"), col("_rc"))).as("clip_n"),
        sum(col("_cc")).as("cand_total"),
        sum(col("_rc")).as("ref_total"))
    val withF = df.sparkSession.range(1, maxN + 1)
      .select(col("id").cast("int").as("n"))
      .join(perOrder, Seq("n"), "left")
      .select(col("n"), coalesce(col("clip_n"), lit(0L)).as("clip_n"),
        coalesce(col("cand_total"), lit(0L)).as("cand_total"),
        coalesce(col("ref_total"), lit(0L)).as("ref_total"))
      .withColumn("_den", lit(4).cast(dec) * col("ref_total").cast(dec) +
        col("cand_total").cast(dec))
      .withColumn("f_n", when(col("_den") > 0,
        (lit(5).cast(dec) * col("clip_n").cast(dec)).cast("double") /
          col("_den").cast("double")))
      .withColumn("fn_e8", when(col("_den") > 0, {
        // exact half-up lattice: (10·M·10⁸ + den) div (2·den) on
        // non-negative decimals — the quotient is an exact integer,
        // so the scale-6 decimal division cannot round
        val a = lit(10).cast(dec) * col("clip_n").cast(dec) *
          lit(100000000L).cast(dec) + col("_den")
        val b = lit(2).cast(dec) * col("_den")
        ((a - pmod(a, b)) / b).cast("long")
      }))
      // ≤ maxN rows over corpus-wide gram joins — pin before the fold
      .localCheckpoint()
    val summary = withF.agg(
      sum(col("fn_e8")).as("_sum_f"),
      count(lit(1)).as("_k"),
      count(col("fn_e8")).as("_k_ok"))
    withF.crossJoin(broadcast(summary))
      .withColumn("chrf", when(col("_k_ok") === col("_k"),
        col("_sum_f").cast("double") / lit(maxN * 1.0e8)))
      .select(col("n"), col("clip_n"), col("cand_total"),
        col("ref_total"), col("f_n"), col("fn_e8"), col("chrf"))
      .orderBy(col("n"))
  }
}
