package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column algebra for LLM-data pipelines (SURVEY.md §7.5).
  * Everything is native `Column` expressions — codegen'd, no UDFs —
  * so the operators stay inside whole-stage codegen at 100 TB.
  */
object TextFunctions {

  /** Whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Distinct word-trigram strings ("w1 w2 w3") from a token array —
    * built from three aligned slices, NOT per-position element_at.
    * Higher-order lambdas run interpreted (no whole-stage codegen)
    * and CollapseProject inlines the token expression into every
    * lambda reference, so an element_at-per-position form re-runs the
    * regex tokenizer O(len) times per document (measured: 6 s for
    * 5 000 docs); the slice form references it O(1) times. Caller
    * must ensure size(toks) ≥ 3.
    */
  def wordTrigrams(toks: Column): Column = {
    val n = size(toks)
    array_distinct(zip_with(
      zip_with(slice(toks, lit(1), n - 2), slice(toks, lit(2), n - 2),
        (a, b) => concat(a, lit(" "), b)),
      slice(toks, lit(3), n - 2),
      (ab, c) => concat(ab, lit(" "), c)))
  }

  /** Token count via pure arithmetic on single-space text — exact and
    * portable across engines (used by oracle-checked queries).
    */
  def tokenCountArithmetic(text: Column): Column =
    when(length(text) === 0, 0)
      .otherwise(length(text) - length(regexp_replace(text, " ", "")) + 1)
      .cast("int")

  /** Token count via regex split (general whitespace). */
  def tokenCount(text: Column): Column = size(tokens(text)).cast("int")

  /** A BPE-ish subword proxy: count of alternating letter/digit/punct
    * runs — approximates tokenizer token counts without a vocab.
    */
  def subwordCount(text: Column): Column =
    size(filter(split(text, "(?<=[a-zA-Z])(?=[^a-zA-Z\\s])|(?<=[^a-zA-Z\\s])(?=[a-zA-Z])|\\s+"),
      t => length(t) > 0)).cast("int")

  /** Punctuation character ratio (0 when empty). */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(
        (length(text) - length(regexp_replace(text, "[\\p{Punct}]", "")))
          .cast("double") / length(text))

  /** Uppercase-letter ratio. */
  def upperRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(
        (length(text) - length(regexp_replace(text, "[A-Z]", "")))
          .cast("double") / length(text))

  /** Mean token length in characters. */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, 0.0)
      .otherwise(length(regexp_replace(text, "\\s+", "")).cast("double") / n)
  }

  private val stopwordsEn = Seq("the", "and", "of", "to", "a", "in", "is", "it")
  /** The pinned marker-token sets behind [[langIdFrom]] — public so
    * composition operators (language-mix detection) vote with the
    * SAME sets the classifier uses.
    */
  def langMarkers: Map[String, Seq[String]] = markers

  private val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "is"),
    "fr" -> Seq("le", "la", "et", "est"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "y", "es"),
    "zh" -> Seq("的", "是", "了", "在"))

  /** Count tokens that belong to `words` — one compiled hash-set pass
    * (TextExpressions kernel) instead of an interpreted filter lambda.
    */
  def wordSetCount(toks: Column, words: Seq[String]): Column =
    graft.functions.expressions.TextExpressions.word_set_count(toks, words)

  /** Stopword-token ratio — a classic quality signal.
    *
    * PERFORMANCE CONTRACT for all `...From(toks)` functions: pass a
    * MATERIALIZED column (`withColumn("_toks", tokens(...))`), not the
    * tokenizing expression itself — higher-order-function lambdas
    * re-evaluate captured sub-expressions per array element, so an
    * inline `tokens(text)` argument turns O(n) scans into O(n²).
    */
  def stopwordRatioFrom(toks: Column): Column = {
    val n = size(toks)
    val stops = wordSetCount(toks, stopwordsEn)
    when(n === 0, 0.0).otherwise(stops.cast("double") / n)
  }

  /** Composite quality score in [0,1]: penalizes extreme length, high
    * punctuation, shouting, and stopword-free (keyword-stuffed) text.
    * `toks` must be a materialized lowercased-token column.
    */
  def qualityScoreFrom(text: Column, toks: Column): Column = {
    val len = length(text).cast("double")
    val lengthTerm = when(len < 20, len / 20.0)
      .when(len > 5000, greatest(lit(0.0), lit(1.0) - (len - 5000) / 20000.0))
      .otherwise(1.0)
    val punctTerm = greatest(lit(0.0), lit(1.0) - punctRatio(text) * 4.0)
    val upperTerm = greatest(lit(0.0), lit(1.0) - upperRatio(text) * 3.0)
    val stopTerm = least(lit(1.0), stopwordRatioFrom(toks) * 5.0 + lit(0.4))
    round(lengthTerm * 0.3 + punctTerm * 0.25 + upperTerm * 0.2 + stopTerm * 0.25, 6)
  }

  /** Per-language marker-stopword hit count (n-gram-free heuristic
    * language ID): returns the language whose marker tokens appear most
    * often, "und" (undetermined) when nothing matches.
    */
  def langIdFrom(toks: Column): Column = {
    val scored = markers.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(wordSetCount(toks, words).as("score"), lit(lang).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
  }

  /** 64-bit rolling-hash fingerprint of the token sequence (an
    * order-sensitive document fingerprint): a left fold over the
    * tokens whose per-token hash is md5-derived (DuckDB's
    * `md5_number_lower`), so it is stable across runs and
    * partitionings and any engine with md5 reproduces it bit-exactly.
    */
  def portableFingerprintFrom(toks: Column): Column =
    graft.functions.expressions.TextExpressions.portable_fingerprint(toks)

  /** Word n-gram shingles (distinct) — compiled kernel. */
  def wordShinglesFromTokens(toks: Column, n: Int): Column =
    if (n == 1) array_distinct(toks)
    else graft.functions.expressions.TextExpressions.word_shingles(toks, n)

  def wordShingles(text: Column, n: Int): Column =
    wordShinglesFromTokens(tokens(lower(text)), n)

  /** Exact Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.expressions.TextExpressions.jaccard_sim(a, b)

  // ── Repetition signals (Gopher-style quality filters) ───────────────
  // All partition-local array algebra — no shuffle, no explode; the
  // per-doc O(distinct·total) count pass is bounded by doc length.

  /** Fraction of distinct tokens (1.0 = no repetition, →0 = loops). */
  def distinctTokenRatio(toks: Column): Column = {
    val n = size(toks)
    when(n === 0, 0.0)
      .otherwise(size(array_distinct(toks)).cast("double") / n)
  }

  /** Fraction of the document taken by its single most frequent token
    * — high values flag keyword stuffing / degenerate repetition.
    */
  def topTokenFraction(toks: Column): Column = {
    val n = size(toks)
    val counts = transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))
    when(n === 0, 0.0)
      .otherwise(array_max(counts).cast("double") / n)
  }

  /** Fraction of word bigrams that are repeats of an earlier bigram in
    * the same document (`1 − distinct/total`) — the Rae et al.
    * duplicate-n-gram signal at n=2.
    */
  def dupBigramRatio(toks: Column): Column = {
    val nBigrams = size(toks) - 1
    when(nBigrams <= 0, 0.0)
      .otherwise(lit(1.0) -
        size(wordShinglesFromTokens(toks, 2)).cast("double") / nBigrams)
  }

  // ── PII scrubbing ───────────────────────────────────────────────────

  // Patterns restricted to syntax with identical semantics in Java
  // regex and RE2 (no lookaround, no backrefs) so oracle engines agree.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val urlRe = "https?://[^\\s]+"
  private val longDigitsRe = "[0-9]{6,}"

  /** Replace emails, URLs, and long digit runs (phone/account numbers)
    * with typed placeholder tags — the standard pre-training PII scrub.
    * Order matters: emails first (their local parts contain digits),
    * then URLs, then bare digit runs.
    */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, emailRe, "<EMAIL>"),
        urlRe, "<URL>"),
      longDigitsRe, "<NUM>")

  // ── Edit distance ───────────────────────────────────────────────────

  /** Exact Levenshtein distance via a doubling-threshold ladder —
    * identical VALUES to `levenshtein(a, b)` at a fraction of the
    * cost on similar pairs, which is the only regime a dedup verify
    * stage ever feeds it (candidate pairs from SNM/LSH generators are
    * near-dups by construction).
    *
    * Spark's thresholded built-in runs the Ukkonen k-banded DP —
    * O(k·min(|a|,|b|)) instead of O(|a|·|b|) — and returns −1 when
    * the distance exceeds k. Chaining rungs k = 2, 8, 32, 128 in a
    * lazily-evaluated CASE gives exact-distance-or-certified-miss at
    * each rung, with total work geometric in the TRUE distance; only
    * pairs genuinely ≥ 128 edits apart fall through to the full DP.
    * Each rung is skipped outright when the length difference alone
    * certifies distance > k (|‖a‖−‖b‖| is a Levenshtein lower bound
    * and And short-circuits in both codegen and interpreted mode).
    * All rungs are the codegen'd built-in — no custom kernel, and
    * the cross-engine contract is untouched because every path
    * returns the exact distance.
    */
  def levenshteinExact(a: Column, b: Column): Column = {
    val ldiff = abs(length(a) - length(b))
    // null = "this rung can't answer": either skipped outright by the
    // length lower bound or a certified miss (−1) — coalesce then
    // falls through to the next rung lazily, so per-pair work is
    // geometric in the TRUE distance, not in max(len)
    def rung(k: Int): Column =
      when(ldiff <= k, nullif(levenshtein(a, b, k), lit(-1)))
    coalesce(rung(2), rung(8), rung(32), rung(128), levenshtein(a, b))
  }
}
