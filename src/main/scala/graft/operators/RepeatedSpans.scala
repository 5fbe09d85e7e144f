package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Cross-document repeated-substring span detection — the
  * ExactSubstr shape of Lee et al. 2022 ("Deduplicating Training
  * Data Makes Language Models Better"), re-expressed relationally in
  * token space: a token k-gram occurring in at least `minDocs`
  * DISTINCT documents marks its position; per document, marked
  * positions whose gap is ≤ k merge into MAXIMAL repeated spans
  * [span_start, span_end) (token indices, 0-based, end-exclusive) —
  * the passages a span-level dedup pass would cut, where the
  * document-level passes (q25/q26) would either drop the whole
  * document or miss the shared boilerplate entirely.
  *
  * The paper builds a suffix array; a suffix array is a single-node
  * data structure. The relational equivalent is a positional k-gram
  * postings list: any repeated substring of length ≥ k contains a
  * repeated k-gram, and a maximal run of flagged k-gram starts at
  * positions p₁ < … < pₘ (gaps ≤ k) covers exactly the repeated
  * region [p₁, pₘ + k). Runs with gap = k merge too (the two k-grams
  * are adjacent, so the covered token interval is contiguous).
  *
  * Scale shape: one narrow postings explode — only
  * (md5-prefix hash, doc_id, pos) travels, never the gram text — a
  * count-distinct-docs aggregate over the gram hash, one hash join
  * back to flag positions, and a per-document ordered window whose
  * partition is bounded by document length. Nothing quadratic: unlike
  * pairwise dedup there is NO self-join anywhere — a gram shared by
  * 10⁶ documents costs 10⁶ postings rows (linear), not 10¹² pairs,
  * so the stop-word-grade-element exposure the containment family
  * has to prune away (Dedup.containmentPairsIndexed's prefix filter)
  * cannot arise here by construction.
  *
  * Determinism: spans are a pure set function of the corpus (no
  * sampling, no floats), so the operator hash-checks end to end; the
  * 16-hex md5 prefix group key is replayed verbatim by the oracle
  * (collisions would need ~2³² distinct grams — and would affect both
  * engines identically).
  */
object RepeatedSpans {

  /** Positional k-grams of a token array as "w1 w2 … wk" strings —
    * built by folding k aligned slices through zip_with (the
    * TextFunctions.wordTrigrams pattern generalized): the token
    * array is referenced k times total, NOT once per position, which
    * keeps CollapseProject from inlining the tokenizer O(n) times
    * (the measured O(n²) trap documented on wordTrigrams). Caller
    * must ensure size(toks) ≥ k. Gram i (0-based) covers tokens
    * [i, i+k).
    */
  def positionalKGrams(toks: org.apache.spark.sql.Column, k: Int)
      : org.apache.spark.sql.Column = {
    require(k >= 2, s"k-gram order must be >= 2: $k")
    val m = size(toks) - (k - 1)
    (2 to k).foldLeft(slice(toks, lit(1), m)) { (acc, j) =>
      zip_with(acc, slice(toks, lit(j), m),
        (a, b) => concat(a, lit(" "), b))
    }
  }

  /** Per-document maximal repeated spans: (doc, span_start, span_end,
    * span_len, n_grams), token indices 0-based end-exclusive.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"a span repeated in < 2 docs is not repeated: $minDocs")
    val toks = TextFunctions.tokens(col(textCol))
    // persist: consumed by BOTH the gram-df aggregate and the flag
    // join — unpersisted lineage tokenizes + md5-hashes every gram
    // TWICE (r16 measurement: the double explode was ~40% of q216's
    // warm cost). Released before returning (the result is pinned
    // first, the Dedup.materializeAndRelease discipline).
    val postings = df
      .select(col(idCol), toks.as("_tk"))
      .filter(size(col("_tk")) >= k)
      .select(col(idCol), posexplode(positionalKGrams(col("_tk"), k)))
      .select(col(idCol), col("pos"),
        substring(md5(col("col")), 1, 16).as("_h"))
      .persist()

    // gram document frequency — the only corpus-wide aggregate
    val frequent = postings.groupBy(col("_h"))
      .agg(countDistinct(col(idCol)).as("_df"))
      .filter(col("_df") >= minDocs)
      .select(col("_h"))

    val flagged = postings.join(frequent, "_h")
      .select(col(idCol), col("pos"))

    // gaps-and-islands per document: a new span starts when the gap
    // to the previous flagged gram exceeds k (gap = k still touches)
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val newSpan = when(col("pos") - lag(col("pos"), 1).over(w) > k, 1)
      .otherwise(0) // first row: lag is null → comparison null → 0
    val result = flagged
      .withColumn("_island", sum(newSpan).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("_island"))
      .agg(min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) + k).cast("int").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"),
        col("n_grams"))
    // pin the (small) span frame, then release the postings cache
    val out = result.localCheckpoint(true)
    postings.unpersist()
    out
  }

  // selfRepetitionProfile's gates, (n, max coverage): top-gram for
  // small n, duplicated-gram for large n
  private val TopGramMax = Seq(2 -> 0.20, 3 -> 0.18, 4 -> 0.16)
  private val DupGramMax = Seq(5 -> 0.15, 10 -> 0.10)

  /** WITHIN-document self-repetition profile — the Gopher/MassiveText
    * repetition rules (Rae et al. 2021 Table A1) adapted to token
    * units: for each small n the fraction of token positions covered
    * by occurrences of the document's MODAL n-gram (loops, boiler
    * banners), and for each large n the fraction covered by n-grams
    * the document repeats at all (copy-paste blocks) — the two
    * within-doc axes the cross-doc operators above deliberately
    * don't see. All fractions are exact UNION coverage (each token
    * counted once however many overlapping occurrences cover it —
    * bounded by 1, unlike the occurrence-mass shortcut) via the same
    * gaps-and-islands the span operator uses, so everything is
    * ratios of integers and hash-checks end to end. The modal gram
    * ties break lexicographically (deterministic in any engine).
    *
    * `keep` applies the Gopher-shaped gates (top-gram coverage <
    * 0.20 / 0.18 / 0.16 for n = 2/3/4; duplicated-gram coverage <
    * 0.15 / 0.10 for n = 5/10 — the paper's thresholds restated over
    * token coverage).
    *
    * Scale shape: per n one narrow positional-gram explode, a
    * per-(doc, gram) count, a per-doc flag + island window bounded
    * by document length — linear legs joined back on the doc id;
    * nothing corpus-pairwise anywhere.
    */
  def selfRepetitionProfile(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val (topNs, dupNs) = (TopGramMax.map(_._1), DupGramMax.map(_._1))
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val base = df.select(col(idCol), toks.as("_tk"))
      .select(col(idCol), col("_tk"),
        size(col("_tk")).cast("long").as("n_tokens"))
      .persist()

    // union coverage of the flagged gram positions: touching/overlap
    // merge via the island window, length = Σ (max+n − min) per island
    def coverage(flagged: DataFrame, n: Int, out: String): DataFrame = {
      val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
      val newSpan = when(col("pos") - lag(col("pos"), 1).over(w) > n, 1)
        .otherwise(0)
      flagged
        .withColumn("_island", sum(newSpan).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col(idCol), col("_island"))
        .agg((max(col("pos")) + n - min(col("pos"))).as("_len"))
        .groupBy(col(idCol))
        .agg(sum(col("_len")).cast("long").as(out))
    }

    def grams(n: Int): DataFrame = base
      .filter(col("n_tokens") >= n)
      .select(col(idCol), posexplode(positionalKGrams(col("_tk"), n)))
      .select(col(idCol), col("pos"), col("col").as("_g"))

    val topLegs = topNs.map { n =>
      val counted = grams(n).groupBy(col(idCol), col("_g"))
        .agg(count(lit(1)).as("_c"), collect_list(col("pos")).as("_ps"))
      // modal gram: highest count, lexicographically smallest on ties
      val wTop = Window.partitionBy(col(idCol))
        .orderBy(col("_c").desc, col("_g").asc)
      val flagged = counted
        .withColumn("_rn", row_number().over(wTop))
        .filter(col("_rn") === 1)
        .select(col(idCol), explode(col("_ps")).as("pos"))
      coverage(flagged, n, s"_cov_top$n")
    }
    val dupLegs = dupNs.map { n =>
      val flagged = grams(n)
        .withColumn("_c", count(lit(1)).over(
          Window.partitionBy(col(idCol), col("_g"))))
        .filter(col("_c") >= 2)
        .select(col(idCol), col("pos"))
      coverage(flagged, n, s"_cov_dup$n")
    }

    def frac(cov: String) =
      when(col("n_tokens") === 0L, lit(0.0))
        .otherwise(round(coalesce(col(cov), lit(0L)).cast("double")
          / col("n_tokens").cast("double"), 6))
    val joined = (topLegs ++ dupLegs).foldLeft(
      base.select(col(idCol), col("n_tokens"))) {
      (acc, leg) => acc.join(leg, Seq(idCol), "left")
    }
    val topCols = topNs.map(n => frac(s"_cov_top$n").as(s"top${n}gram_frac"))
    val dupCols = dupNs.map(n => frac(s"_cov_dup$n").as(s"dup${n}gram_frac"))
    val keep = (TopGramMax.map { case (n, mx) => col(s"top${n}gram_frac") < mx } ++
      DupGramMax.map { case (n, mx) => col(s"dup${n}gram_frac") < mx })
      .reduce(_ && _)
    val out = joined
      .select(col(idCol) +: col("n_tokens") +: (topCols ++ dupCols): _*)
      .withColumn("keep", keep)
      .localCheckpoint(true)
    base.unpersist()
    out
  }

  /** Corpus-level repeated-text budget: per document, total tokens,
    * tokens inside repeated spans, and the repeated fraction — the
    * number a span-dedup pass reports before cutting. Documents with
    * no repeated span appear with zero (left join), so the output is
    * a full-corpus accounting, not just the offenders.
    */
  def repeatedTokenBudget(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = repeatedSpans(df, idCol, textCol, k, minDocs)
      .groupBy(col(idCol))
      .agg(sum(col("span_len")).cast("long").as("repeated_tokens"),
        count(lit(1)).as("n_spans"))
    df.select(col(idCol),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("repeated_tokens"), lit(0L)).as("repeated_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        round(when(col("n_tokens") === 0, 0.0)
          .otherwise(coalesce(col("repeated_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double")), 6).as("repeated_frac"))
  }
}
