package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-hygiene audits a pre-training data pipeline runs between
  * ingestion and training: formatting-invariant duplicate detection,
  * cross-source contamination accounting, split-leakage checks, and
  * mixed-language flags. Each is a pure count/hash artifact — no
  * floats beyond single divisions — so every audit hash-checks.
  */
object CorpusHygiene {

  /** Formatting-canonical text: lowercase, punctuation stripped,
    * whitespace collapsed to single spaces, trimmed — the key under
    * which "same text, different formatting" collides.
    */
  def canonicalText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\p{Punct}]", ""), "\\s+", " "))

  /** Formatting-invariant duplicate groups: documents equal after
    * canonicalization. `n_raw_variants` counts DISTINCT raw texts in
    * the group — a group with n_copies > n_raw_variants ≥ 2 contains
    * both exact copies and formatting variants; n_raw_variants ≥ 2
    * is what plain sha-dedup (q25) misses.
    *
    * Scale shape: one projection computes both hashes, one group-by
    * on the canonical hash — exactly the q25 plan with a cheaper key.
    */
  def canonicalDuplicates(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.select(col(idCol),
        sha2(canonicalText(col(textCol)), 256).as("canon_sha"),
        sha2(col(textCol), 256).as("_raw_sha"))
      .groupBy(col("canon_sha"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("_raw_sha")).as("n_raw_variants"))

  /** Cross-source contamination matrix: for every pair of sources,
    * how many distinct texts they share verbatim. The join runs over
    * (sha, source) pairs that are ALREADY distinct-collapsed and
    * carries only shas present in ≥ 2 sources, so its volume is
    * bounded by actual duplication, not corpus size.
    */
  def crossSourceDupMatrix(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val ss = df.select(sha2(col(textCol), 256).as("_sha"),
        col(sourceCol).as("_src")).distinct()
    val multi = ss.groupBy(col("_sha"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") >= 2)
      .select(col("_sha"))
    val shared = ss.join(multi, "_sha")
    shared.as("a").join(shared.as("b"),
        col("a._sha") === col("b._sha") && col("a._src") < col("b._src"))
      .groupBy(col("a._src").as("source_a"), col("b._src").as("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
  }

  /** Split-leakage audit: assign the q94 md5 hash split, then count
    * the verbatim texts that appear in MORE THAN ONE split — the
    * train→test contamination a row-level split always risks when
    * duplicates exist (the failure groupSafeSplit exists to prevent;
    * this audit MEASURES it). Output per ordered split pair:
    * distinct leaked texts and total documents involved.
    */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val assigned = df.select(col(idCol),
      sha2(col(textCol), 256).as("_sha"),
      Sampling.splitColumn(col(idCol), "split_v1").as("_split"))
    val perSplit = assigned.groupBy(col("_sha"), col("_split"))
      .agg(count(lit(1)).as("_docs"))
    perSplit.as("a").join(perSplit.as("b"),
        col("a._sha") === col("b._sha") && col("a._split") < col("b._split"))
      .groupBy(col("a._split").as("split_a"), col("b._split").as("split_b"))
      .agg(count(lit(1)).as("n_leaked_texts"),
        sum(col("a._docs") + col("b._docs")).cast("long")
          .as("n_docs_involved"))
  }

  /** Template (shared-header) clusters: documents grouped by their
    * first `prefixTokens` whitespace tokens — the boilerplate
    * detector that catches "same header, different body" families
    * (scraped article templates, license preambles) which neither
    * sha-dedup nor canonical-dedup sees. `n_distinct_bodies ≥ 2`
    * distinguishes a true template family from verbatim copies.
    *
    * Scale shape: one projection (prefix hash + body hash) and one
    * group-by on the 16-hex md5 prefix key. Documents shorter than
    * the prefix window key on their full token prefix.
    */
  def templateClusters(df: DataFrame, idCol: String, textCol: String,
      prefixTokens: Int = 8): DataFrame = {
    require(prefixTokens >= 2, s"prefix too short to be a template: $prefixTokens")
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol),
        substring(md5(concat_ws(" ",
          slice(toks, 1, prefixTokens))), 1, 16).as("prefix_hash"),
        sha2(col(textCol), 256).as("_body"))
      .groupBy(col("prefix_hash"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_docs"),
        countDistinct(col("_body")).as("n_distinct_bodies"))
      .filter(col("n_docs") >= 2)
  }

  /** Unicode script-mix detection: per-document LETTER counts by
    * script (Latin / Han / Cyrillic / other letters) via the
    * length-difference trick with Unicode script classes — the
    * complement to marker-vote language ID for scripts the marker
    * sets can't see, and the flag for CJK-inside-Latin boilerplate.
    * Java's `\p{IsHan}` and RE2's `\p{Han}` name the same property —
    * the oracle uses the RE2 spelling of the SAME class. Dominant
    * script by (count, pinned order); `is_mixed_script` when the
    * runner-up holds ≥ 20 % of letters. Zero-shuffle projection.
    */
  def scriptMix(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    def cnt(pat: String): Column =
      (length(col(textCol))
        - length(regexp_replace(col(textCol), pat, ""))).cast("long")
    val scripts = Seq( // pinned tie-break order
      ("latin", "\\p{IsLatin}"), ("han", "\\p{IsHan}"),
      ("cyrillic", "\\p{IsCyrillic}"))
    val base = scripts.foldLeft(
        df.select(col(idCol), col(textCol),
          cnt("\\p{L}").as("n_letters"))) {
      case (d, (name, pat)) => d.withColumn(s"n_$name", cnt(pat))
    }
    val ranked = scripts.zipWithIndex.map { case ((name, _), i) =>
      struct(col(s"n_$name").as("v"), lit(-i).as("nr"), lit(name).as("s"))
    }
    val top = greatest(ranked: _*)
    val second = greatest(ranked.map(s =>
      when(s.getField("s") === top.getField("s"),
        struct(lit(-1L).as("v"), lit(-99).as("nr"), lit("zz").as("s")))
        .otherwise(s)): _*)
    base
      .withColumn("_top", top)
      .withColumn("_snd", second)
      .select(col(idCol), col("n_letters"),
        col("n_latin"), col("n_han"), col("n_cyrillic"),
        when(col("_top.v") > 0L, col("_top.s")).otherwise("other")
          .as("dominant_script"),
        (col("_snd.v") * 5L >= col("n_letters") && col("_snd.v") > 0L)
          .as("is_mixed_script"))
  }

  /** Mixed-language detection: marker-token votes per language (the
    * q22 `langIdFrom` marker sets), emitted as counts plus the top/second
    * languages and their vote ratio — `is_mixed` flags documents
    * whose second language polls ≥ half the winner with ≥ 2 votes
    * (boilerplate-with-embedded-quotes, code-switching, concatenated
    * crawls). Ties break alphabetically, pinned. Zero-shuffle: the
    * battery is one projection over the token array.
    */
  def languageMix(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val base = df.withColumn("_tk",
      TextFunctions.tokens(lower(col(textCol))))
    val votes = TextFunctions.langMarkers.toSeq.sortBy(_._1).map {
      case (lang, words) =>
        (lang, TextFunctions.wordSetCount(col("_tk"), words))
    }
    val withVotes = votes.foldLeft(base) { case (d, (lang, c)) =>
      d.withColumn(s"n_$lang", c.cast("long"))
    }
    // top = lexicographically-largest (votes, -lang) — alphabetical
    // tie-break via greatest over pinned structs (negated lang rank)
    val ranked = votes.zipWithIndex.map { case ((lang, _), i) =>
      struct(col(s"n_$lang").as("v"), lit(-i).as("nr"), lit(lang).as("lang"))
    }
    val top = greatest(ranked: _*)
    val second = greatest(ranked.map(s =>
      when(s.getField("lang") === top.getField("lang"),
        struct(lit(-1L).as("v"), lit(-99).as("nr"), lit("zz").as("lang")))
        .otherwise(s)): _*)
    withVotes
      .withColumn("_top", top)
      .withColumn("_snd", second)
      .select(Seq(col(idCol)) ++
        votes.map { case (lang, _) => col(s"n_$lang") } ++ Seq(
        when(col("_top.v") > 0L, col("_top.lang")).otherwise("und")
          .as("top_lang"), // the q22 "und" convention for no votes
        col("_top.v").as("top_votes"),
        when(col("_snd.v") <= 0L, lit(null).cast("string"))
          .otherwise(col("_snd.lang")).as("second_lang"),
        greatest(col("_snd.v"), lit(0L)).as("second_votes"),
        (col("_snd.v") >= 2L &&
          col("_snd.v") * 2L >= col("_top.v")).as("is_mixed")): _*)
  }

  /** Per-source boilerplate HEADER detection — the strip-the-shared-
    * prefix pass a crawl-cleaning pipeline runs per site: for every
    * prefix length k ≤ `maxK`, find the source's modal k-token
    * prefix and its share of the source's documents; the boilerplate
    * prefix length is the LARGEST k whose modal share clears
    * `minShare` AND whose modal count is ≥ 2 (0 when no k does —
    * without the count gate a 2-doc source would qualify EVERY
    * unique prefix at share 1/2: a "shared" header must actually be
    * shared). Documents shorter than k simply don't carry a
    * k-prefix (the share denominator stays the full source size, so
    * short-doc sources can't fake a header).
    *
    * Modal tie-break pinned: (count desc, prefix asc) via
    * min(struct(−count, prefix)).
    *
    * Scale shape: one explode of ≤ maxK prefix rows per document
    * (constant factor), two map-side-combined aggregates keyed by
    * (source, k[, prefix]), and a |sources|-row reduce — nothing
    * corpus-pairwise, no windows.
    */
  def boilerplatePrefix(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, maxK: Int = 12, minShare: Double = 0.5)
      : DataFrame = {
    require(maxK >= 1 && minShare > 0.0 && minShare <= 1.0,
      s"bad parameters: maxK=$maxK minShare=$minShare")
    val tk = TextFunctions.tokens(col(textCol))
    val nDocs = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_n"))
    val prefixes = df
      .select(col(sourceCol), tk.as("_tk"))
      // BEFORE the explode: sequence(1, 0) is descending [1, 0], not
      // empty, so a token-less doc would emit a k = 0 prefix row
      .filter(size(col("_tk")) >= 1)
      .select(col(sourceCol),
        explode(sequence(lit(1), least(size(col("_tk")), lit(maxK))))
          .as("_k"), col("_tk"))
      .select(col(sourceCol), col("_k"),
        concat_ws(" ", slice(col("_tk"), lit(1), col("_k"))).as("_p"))
    val modal = prefixes
      .groupBy(col(sourceCol), col("_k"), col("_p"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(sourceCol), col("_k"))
      .agg(min(struct((-col("_c")).as("nc"), col("_p").as("p"))).as("_m"))
      .select(col(sourceCol), col("_k"), (-col("_m.nc")).as("_c"),
        col("_m.p").as("_p"))
    modal.join(nDocs, sourceCol :: Nil)
      .withColumn("_share",
        round(col("_c").cast("double") / col("_n").cast("double"), 6))
      .withColumn("_q", col("_share") >= minShare && col("_c") >= 2L)
      .groupBy(col(sourceCol))
      .agg(max(col("_n")).as("n_docs"),
        max(when(col("_q"), col("_k")).otherwise(0)).as("prefix_len"),
        min(struct((-when(col("_q"), col("_k")).otherwise(0)).as("nk"),
          col("_p").as("p"), col("_share").as("s"))).as("_best"))
      .select(col(sourceCol), col("n_docs"),
        col("prefix_len").cast("int").as("prefix_len"),
        when(col("prefix_len") === 0, lit(null).cast("string"))
          .otherwise(col("_best.p")).as("modal_prefix"),
        when(col("prefix_len") === 0, lit(null).cast("double"))
          .otherwise(col("_best.s")).as("modal_share"))
  }

  /** SENTENCE-level dedup accounting (the CCNet/C4 pipeline stage
    * between exact doc dedup and span removal): segment each document
    * into sentences (the Readability boundary convention — runs of
    * [.!?] followed by whitespace, counted over rtrim'd text),
    * normalize each sentence (strip the terminal punctuation run,
    * trim), and flag every sentence whose normalized form occurs ≥ 2
    * times ACROSS THE CORPUS (including twice in one document). Per
    * document: sentence count, duplicated-sentence count, the
    * duplicated fraction, and a keep flag at `maxDupFrac` — the
    * boilerplate-page filter ("subscribe", "all rights reserved"
    * pages are mostly corpus-duplicated sentences).
    *
    * Scale shape: one explode to sentence rows, frequencies by a
    * 16-hex md5 key (narrow shuffle — the key, not the sentence,
    * moves), one hash join back on the key, one per-doc aggregate.
    * The frequency table is corpus-sized, so the join is a plain
    * shuffled hash join, never a broadcast.
    */
  def sentenceDedup(df: DataFrame, idCol: String, textCol: String,
      maxDupFrac: Double = 0.5): DataFrame = {
    val sents = df
      .select(col(idCol),
        explode(split(rtrim(col(textCol)), "[.!?]+\\s+")).as("_raw"))
      .select(col(idCol),
        trim(regexp_replace(col("_raw"), "[.!?]+$", "")).as("_sent"))
      .filter(length(col("_sent")) > 0)
      .select(col(idCol), substring(md5(col("_sent")), 1, 16).as("_h"))
    val freq = sents.groupBy(col("_h")).agg(count(lit(1)).as("_f"))
    // the frequency side is the corpus's DISTINCT-sentence table —
    // unbounded at 100 TB, so pin the join to shuffled-hash rather
    // than letting small-scale stats pick a broadcast that cannot
    // exist at scale; the _h exchange is shared with the groupBy
    // above (ReusedExchange), so the hint costs nothing
    sents.join(freq.hint("shuffle_hash"), "_h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_sentences"),
        sum(when(col("_f") >= 2L, 1L).otherwise(0L))
          .as("n_dup_sentences"))
      .select(col(idCol), col("n_sentences"), col("n_dup_sentences"),
        round(col("n_dup_sentences").cast("double")
          / col("n_sentences").cast("double"), 6).as("dup_frac"))
      .withColumn("keep", col("dup_frac") <= maxDupFrac)
  }
}
