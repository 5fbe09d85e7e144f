package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Full-text relevance scoring (TF-IDF / Okapi BM25) over a document
  * corpus — the retrieval/quality-filter half of a training-data
  * pipeline (score documents against a topic query, keep the top
  * slice).
  *
  * Scale shape: the corpus is tokenized and term-frequency-aggregated
  * in one shuffle keyed on (doc, term); everything derived from the
  * QUERY (per-term document frequencies, the corpus-level N/avgdl
  * scalars) is tiny by construction — `|terms|` and 1 rows — and is
  * broadcast back, so the big side is touched exactly twice (tf pass,
  * score pass) and never re-shuffled: per-doc length reuses the tf
  * aggregate (sum of tf = token count) instead of re-reading text.
  * No collect: the corpus stats ride along as a broadcast-cross of a
  * 1-row aggregate, keeping the whole job a single declarative plan.
  */
object TextSearch {

  /** Per-(doc, term) raw term frequency. Tokenization: lowercase,
    * whitespace split, empties dropped — identical to the dedup
    * family's (and the DuckDB oracle's) convention.
    */
  def termFrequencies(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("long").as("tf"))

  /** BM25 score of every document containing at least one query term.
    * Output: (doc_id, bm25) — unrounded doubles; callers round for
    * cross-engine comparison.
    *
    * idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (Lucene's form —
    * non-negative even for terms in more than half the corpus)
    * score  = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * with the standard k1 = 1.2, b = 0.75.
    *
    * Determinism: each per-term weight is rounded to 6 decimals and the
    * Σ_t carried through DECIMAL(18,6), so the score is independent of
    * partial-aggregation order AND bit-stable across engines (ln may
    * differ by an ulp between libm and the JDK; 6-dp quantization
    * absorbs it). The 1e-6 per-term quantization is far below any
    * meaningful relevance difference.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val (k1, b) = (1.2, 0.75)
    val tf = termFrequencies(docs, idCol, textCol)
    // doc length from the tf aggregate: one narrow re-aggregation of
    // an already-shuffled frame, no second pass over raw text
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    // corpus scalars: exact long sums, divided once (bit-stable across
    // engines, see the oracle parity notes)
    val stats = dl.agg(count(lit(1)).cast("long").as("n"),
      sum(col("dl")).cast("long").as("sum_dl"))
    val tfq = tf.filter(col("term").isin(queryTerms: _*))
    val dft = tfq.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    val avgdl: Column = col("sum_dl").cast("double") / col("n").cast("double")
    val idf: Column =
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val weight: Column = idf *
      (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    tfq
      .join(broadcast(dft), "term")
      .join(dl, "doc_id") // dl is the big side; tfq+dft broadcast onto it
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), round(weight, 6).cast("decimal(18,6)").as("w"))
      .groupBy("doc_id")
      .agg(sum(col("w")).cast("double").as("bm25"))
  }

  /** Plain TF-IDF document vectors restricted to the query vocabulary:
    * (doc_id, term, tfidf) with tfidf = tf · ln(N / df). Deterministic
    * and SQL-mirrorable; the building block under [[bm25]].
    */
  def tfidf(docs: DataFrame, idCol: String, textCol: String,
      vocabulary: Seq[String]): DataFrame = {
    require(vocabulary.nonEmpty, "empty vocabulary")
    val tf = termFrequencies(docs, idCol, textCol)
    val n = docs.agg(count(lit(1)).cast("long").as("n"))
    val tfq = tf.filter(col("term").isin(vocabulary: _*))
    val dft = tfq.groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    tfq.join(broadcast(dft), "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") *
          log(col("n").cast("double") / col("df").cast("double"))).as("tfidf"))
  }

  /** Corpus unigram surprisal — mean −ln p(token) per document, the
    * statistical quality signal (vs q23's rule-based score): documents
    * of very common boilerplate score low, rare-token noise scores
    * high. p is the corpus unigram MLE (every token occurs ≥ 1 time
    * in its own corpus — no smoothing needed); per-occurrence
    * surprisal is rounded to 6 dp and carried as DECIMAL so the sum
    * is aggregation-order independent and absorbs libm-vs-JDK ln()
    * ulps (the BM25 determinism discipline).
    *
    * Scale shape: one groupBy builds the term-count table; tokens join
    * it BY TERM (the unbounded-vocab-safe choice — Heaps-law vocabs
    * need not fit a broadcast) and aggregate by doc: two shuffles
    * total, neither carrying text.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val counts = tok.groupBy(col("term")).agg(count(lit(1)).as("n"))
    val total = tok.agg(count(lit(1)).cast("long").as("t"))
    val weighted = counts.crossJoin(broadcast(total))
      .select(col("term"),
        round(-log(col("n").cast("double") / col("t").cast("double")), 6)
          .cast("decimal(18,6)").as("s"))
    tok.join(weighted.hint("shuffle_merge"), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s")).as("_sum"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("_sum").cast("double") / col("n_tokens").cast("double"), 6)
          .as("surprisal"))
  }

  /** Corpus bigram surprisal — mean −ln p(w₂|w₁) per document under
    * the corpus bigram MLE. The sequence-aware companion to
    * [[unigramSurprisal]]: unusual word ORDER (scrambled text, keyword
    * stuffing, boilerplate splices) scores high even when every
    * individual token is common. No smoothing needed: every scored
    * bigram occurs ≥ 1 time in its own corpus. Same determinism
    * recipe: per-occurrence weights rounded to 6 dp and carried as
    * DECIMAL so the per-doc sum is aggregation-order independent.
    *
    * Scale shape: adjacent pairs come from one shuffle-free
    * zip_with(slice,slice) generate; the two count tables and the
    * pair→weight join all shuffle by bigram/left-token keys (the
    * bigram vocabulary is far larger than the unigram one — a
    * broadcast is out of the question, hence the pinned shuffled
    * join). Docs with < 2 tokens have no bigrams and are absent from
    * the output by definition.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(lower(col(textCol))).as("_t"))
      .filter(size(col("_t")) >= 2)
    val pairs = toks.select(col("doc_id"),
        explode(zip_with(
          slice(col("_t"), lit(1), size(col("_t")) - 1),
          slice(col("_t"), lit(2), size(col("_t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col("doc_id"), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val c12 = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    val c1 = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n1"))
    val weighted = c12.join(c1, Seq("w1"))
      .select(col("w1"), col("w2"),
        round(-log(col("n12").cast("double") / col("n1").cast("double")), 6)
          .cast("decimal(18,6)").as("s"))
    pairs.join(weighted.hint("shuffle_merge"), Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("_sum").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("surprisal2"))
  }

  /** Per-domain KL divergence KL(P_domain ‖ P_corpus) over unigram
    * distributions — the mixture-drift diagnostic: which sources'
    * token statistics deviate most from the corpus they're blended
    * into (near 0 = representative, large = skewed/noisy source).
    * Every scored term occurs in its domain, and the corpus
    * distribution dominates every domain (P_corpus(t) > 0 whenever
    * P_domain(t) > 0), so no smoothing is needed.
    *
    * Determinism: the per-term contribution p·ln(p/q) is one double
    * expression over exact integer counts, rounded to 6 dp and
    * carried as DECIMAL (the [[unigramSurprisal]] discipline), so the
    * per-domain sum is aggregation-order independent.
    *
    * Scale shape: everything derives from ONE (domain, term) count
    * table — corpus term counts and domain totals are second-level
    * aggregates of it, not second passes over the corpus. The
    * term-count join shuffles by term (vocabulary never broadcast);
    * only the per-domain totals (|domains| rows) and the 1-row corpus
    * total broadcast.
    */
  def domainDivergence(docs: DataFrame, domainCol: String,
      textCol: String): DataFrame = {
    val tok = docs.select(col(domainCol).as("domain"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val st = tok.groupBy(col("domain"), col("term"))
      .agg(count(lit(1)).as("n_st"))
    val perDomain = st.groupBy(col("domain")).agg(sum(col("n_st")).as("t_s"))
    val perTerm = st.groupBy(col("term")).agg(sum(col("n_st")).as("n_t"))
    val total = st.agg(sum(col("n_st")).cast("long").as("t"))
    val p = col("n_st").cast("double") / col("t_s").cast("double")
    val q = col("n_t").cast("double") / col("t").cast("double")
    st.join(perTerm.hint("shuffle_merge"), Seq("term"))
      .join(broadcast(perDomain), Seq("domain"))
      .crossJoin(broadcast(total))
      .select(col("domain"),
        round(p * log(p / q), 6).cast("decimal(18,6)").as("w"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_terms"), sum(col("w")).as("_kl"))
      .select(col("domain"), col("n_terms"),
        round(col("_kl").cast("double"), 6).as("kl"))
  }

  /** Per-document character-level Shannon entropy (nats) — the
    * repetitive/degenerate-text quality signal: natural prose sits
    * around 2.5–3.2, single-char spam near 0, and the score needs no
    * language model. Empty documents have no characters and are
    * absent from the output by definition.
    *
    * Same determinism recipe as [[unigramSurprisal]]: each histogram
    * bin's −p·ln p is rounded to 6 dp and DECIMAL-carried, so the
    * per-doc sum is aggregation-order independent. Scale shape: one
    * (doc, char) count table (alphabet-bounded: ≤ distinct chars per
    * doc), totals as a second-level aggregate, both shuffles keyed by
    * doc_id.
    */
  def charEntropy(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val hist = docs
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "")).as("c"))
      // Spark's split("", "") yields [""], DuckDB's yields [] — drop
      // the empty token so empty docs are absent in both engines
      .filter(length(col("c")) > 0)
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("n"))
    val tot = hist.groupBy(col("doc_id")).agg(sum(col("n")).as("l"))
    val p = col("n").cast("double") / col("l").cast("double")
    hist.join(tot, Seq("doc_id"))
      .select(col("doc_id"),
        round(-p * log(p), 6).cast("decimal(18,6)").as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_chars"), sum(col("w")).as("_h"))
      .select(col("doc_id"), col("n_distinct_chars"),
        round(col("_h").cast("double"), 6).as("entropy"))
  }

  /** Per-document n-gram novelty vs everything EARLIER in the corpus
    * order: the fraction of a doc's distinct grams whose first
    * occurrence (minimum doc id) is this doc. A streaming-dedup /
    * ordering diagnostic — how much marginal content each document
    * adds; near-dups of earlier docs score ≈ 0 without any pairwise
    * comparison at all.
    *
    * Scale shape: one gram→min(doc) aggregate (shuffle by gram) and
    * one postings join back (same key); counts are exact integers, one
    * 6-dp-rounded division at the end. No pair explosion — novelty is
    * per-doc, O(postings).
    */
  def ngramNovelty(sets: DataFrame, idCol: String,
      setCol: String): DataFrame = {
    val postings = sets.select(col(idCol).as("doc_id"),
      explode(col(setCol)).as("_g"))
    val firstSeen = postings.groupBy(col("_g"))
      .agg(min(col("doc_id")).as("_first"))
    postings.join(firstSeen.hint("shuffle_merge"), Seq("_g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_first") === col("doc_id"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("doc_id"), col("n_grams"), col("n_new"),
        round(col("n_new").cast("double") / col("n_grams").cast("double"), 6)
          .as("novelty"))
  }

  /** Corpus-frequency vocabulary + per-doc out-of-vocabulary rate —
    * the tokenizer-coverage signal an LLM-data pipeline uses to flag
    * documents a fixed vocab represents poorly (high OOV ⇒ boilerplate
    * noise, wrong language, or corrupt encoding). The vocabulary is
    * the top `vocabSize` words by (count DESC, word ASC — the
    * deterministic tie-break); per doc, `oov_rate` is the fraction of
    * token OCCURRENCES outside it.
    *
    * Scale shape: building the vocab is one groupBy over tokens with a
    * bounded TakeOrdered (never a full sort of the term space); the
    * V-row vocab is then BROADCAST to the per-doc scoring pass, so the
    * corpus-sized token frame shuffles once (the doc_id agg) and never
    * carries text. `oov_rate` is an exact double (integer-exact counts
    * divided once, rounded to 6 dp).
    */
  def vocabOovRate(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be positive: $vocabSize")
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    val vocab = tok.groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"), lit(1).as("_inv"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_inv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6))
  }
}
