package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document-level heuristic filter batteries — the rule-based gates
  * every web-scale pre-training corpus passes through before any
  * model-based scoring (Rae et al. 2021 "Gopher" §A1.1; Penedo et
  * al. 2023 RefinedWeb): cheap, explainable per-document predicates
  * over token/line shape, plus an encoding-hygiene audit for the
  * mojibake class of corruption (UTF-8 bytes decoded as Latin-1,
  * replacement characters, stray C1 controls).
  *
  * Every signal is a count or a single IEEE division of counts
  * (6-dp rounded), so the battery hash-checks end to end. Scale
  * shape: embarrassingly per-row — one projection, no shuffle at
  * all; the battery fuses into whatever scan feeds it.
  */
object HeuristicFilters {

  /** The pinned high-frequency stopword list the Gopher rule uses
    * ("must contain ≥ 2 of…") — kept tiny and explicit so the rule
    * is portable and auditable.
    */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style rule battery. Emits every signal plus the per-rule
    * verdicts and the final `keep` — failing docs stay in the output
    * with their reasons (the yield accounting needs them; an actual
    * cut is `filter(col("keep"))`).
    *
    * Bounds follow the published battery, scaled to this corpus's
    * short documents: word count in [minWords, 100000], mean word
    * length in [3, 10], symbol-bearing-word ratio < 0.1, ≥ 80 % of
    * words contain a letter, ≥ 2 pinned stopwords.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 10): DataFrame = {
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val base = df.select(col(idCol), toks.as("_tk"))
    val n = size(col("_tk"))
    val sumLen = aggregate(col("_tk"), lit(0L), (acc, t) => acc + length(t))
    val nSymbol = size(filter(col("_tk"),
      t => t.contains("#") || t.contains("...")))
    val nAlpha = size(filter(col("_tk"), t => t.rlike("[a-z]")))
    val nStop = size(filter(col("_tk"),
      t => gopherStops.map(s => t === s).reduce(_ || _)))

    val meanLen = when(n === 0, 0.0)
      .otherwise(round(sumLen.cast("double") / n.cast("double"), 6))
    val symbolRatio = when(n === 0, 0.0)
      .otherwise(round(nSymbol.cast("double") / n.cast("double"), 6))
    val alphaRatio = when(n === 0, 0.0)
      .otherwise(round(nAlpha.cast("double") / n.cast("double"), 6))

    base.select(col(idCol),
        n.cast("long").as("n_words"),
        meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"),
        alphaRatio.as("alpha_ratio"),
        nStop.cast("long").as("n_stopwords"))
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= 100000)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("ok_symbols", col("symbol_ratio") < 0.1)
      .withColumn("ok_alpha", col("alpha_ratio") >= 0.8)
      .withColumn("ok_stopwords", col("n_stopwords") >= 2L)
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_symbols")
          && col("ok_alpha") && col("ok_stopwords"))
  }

  /** Encoding-hygiene audit: per document, counts of the three
    * classic corruption fingerprints — U+FFFD replacement chars,
    * C1 control characters (U+0080–U+009F), and the 'Ã'-led
    * digraphs UTF-8 text shows after a wrong Latin-1 decode — plus
    * the ASCII character ratio. Counts via the length-difference
    * trick (len − len(strip(pattern))), which both engines evaluate
    * identically; `clean` = no fingerprint present.
    */
  def encodingAudit(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def patCount(c: Column, pat: String, width: Int): Column =
      ((length(c) - length(regexp_replace(c, pat, ""))) / width).cast("long")
    val t = col(textCol)
    val nRepl = patCount(t, "\\uFFFD", 1)
    val nC1 = patCount(t, "[\\x{80}-\\x{9F}]", 1)
    val nMoji = patCount(t, "\\u00C3[\\x{80}-\\x{BF}]", 2)
    val nAscii = length(regexp_replace(t, "[^\\x00-\\x7F]", ""))
    df.select(col(idCol),
        nRepl.as("n_replacement"),
        nC1.as("n_c1_controls"),
        nMoji.as("n_mojibake_pairs"),
        when(length(t) === 0, 1.0)
          .otherwise(round(nAscii.cast("double")
            / length(t).cast("double"), 6)).as("ascii_ratio"))
      .withColumn("clean",
        col("n_replacement") === 0L && col("n_c1_controls") === 0L
          && col("n_mojibake_pairs") === 0L)
  }
}
