package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GeoFunctions, TextFunctions, VectorFunctions}
import graft.model.Schemas
import graft.operators.{Dedup, NearestJoin, Similarity}
import RelationalQueries.tbl

/** Beyond-reference queries: text analysis, dedup, similarity search,
  * sessionization, spatial nearest (SURVEY.md §7.5) — over the
  * driver-provided `documents` / `embeddings` / `events` / `customer`
  * tables.
  */
object ExtensionQueries {

  // ── Text analysis ───────────────────────────────────────────────────

  /** Token counting per document (oracle-exact arithmetic form). */
  def qTextTokens(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        TextFunctions.tokenCountArithmetic(col("text")).as("n_tokens"))

  /** Per-language corpus profile (A1-style grouped aggregate with
    * exact integer sums).
    */
  def qLangProfile(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        sum(TextFunctions.tokenCountArithmetic(col("text")))
          .cast("long").as("sum_tokens"))

  /** Quality scoring + language ID + fingerprint + subword proxy —
    * the full text-analysis stack, every column hash-checked: quality
    * is plain float algebra (q81's mirror), lang ID mirrors as marker
    * counts + a descending-lang CASE (the struct-greatest tie-break),
    * the fingerprint uses the PORTABLE md5-based rolling hash (a
    * HUGEINT mod-2⁶⁴ fold in DuckDB), and the lookaround subword
    * split mirrors as two transition-marking regexp_replace passes.
    */
  def qTextQuality(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")).as("quality"),
        TextFunctions.langIdFrom(col("_toks")).as("lang_pred"),
        TextFunctions.portableFingerprintFrom(col("_toks")).as("fingerprint"),
        TextFunctions.subwordCount(col("text")).as("n_subwords"))

  /** Unicode NFC canonicalization + content hash — the pass that runs
    * before any hash-based dedup so visually-identical byte variants
    * collapse. Oracle-exact: DuckDB's nfc_normalize implements the
    * same Unicode standard.
    */
  def qNormalizeHash(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        length(graft.functions.expressions.TextExpressions
          .unicode_normalize(col("text"), "NFC")).cast("int").as("nfc_len"),
        sha2(encode(graft.functions.expressions.TextExpressions
          .unicode_normalize(col("text"), "NFC"), "UTF-8"), 256).as("nfc_sha"))

  /** Topic query used by the full-text relevance queries — four
    * mid-frequency corpus terms (generator vocabulary, TESTDATA.md).
    */
  val SearchTerms: Seq[String] = Seq("spark", "vector", "stream", "window")

  /** BM25 relevance of every document against a fixed topic query —
    * the retrieval/quality-filter operator of a training-data pipeline
    * (score the corpus against a topic, keep the top slice).
    * Deterministic by construction (decimal-carried 6-dp weights), so
    * fully oracle-checked.
    */
  def qBm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.bm25(
      tbl(s, dir, "documents"), "doc_id", "text", SearchTerms)

  /** TF-IDF weights restricted to the query vocabulary — the exact
    * building block under [[qBm25]]; per-(doc, term) rows, no float
    * summation at all.
    */
  def qTfidf(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.tfidf(
        tbl(s, dir, "documents"), "doc_id", "text", SearchTerms)
      .select(col("doc_id"), col("term"), round(col("tfidf"), 6).as("tfidf"))

  // ── Dedup ───────────────────────────────────────────────────────────

  /** Exact dedup groups by content hash (sha-256). */
  def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactHashGroups(tbl(s, dir, "documents"), "doc_id", "text")

  /** MinHash-LSH near-dup pairs over the FULL corpus with the portable
    * md5 signature ([[graft.operators.PortableMinHash]]), so the
    * banded operator — banding decisions included — is hash-checked
    * end to end by a SQL oracle that mirrors the band predicate with
    * the same group-by-band-key shape (nothing quadratic on either
    * side). 8 bands × 8 rows targets J≥0.8 (the standard near-dup
    * cutoff): the band-collision curve must be steep enough that the
    * corpus's high background similarity (~0.5) does not flood the
    * candidate join — 16×4 banding fires at ~64% for J=0.5 pairs,
    * 8×8 at ~3%. [[Dedup.minHashNearDupPairs]] (xxhash + affine
    * compiled kernel, one hash per token) stays the fastest-kernel
    * variant, spec-pinned in DedupSpec.
    */
  def qDedupMinHash(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableMinHash.nearDupPairs(
      tbl(s, dir, "documents"), "doc_id", "text",
      numHashes = 64, bands = 8, shingleWords = 3, threshold = 0.8)

  /** SimHash near-dup pairs over the FULL corpus with the portable
    * md5-nibble fingerprint ([[graft.operators.PortableSimHash]]) —
    * banding is lossless by pigeonhole (bands > maxHamming), so the
    * oracle states the output in closed form (all pairs with
    * Hamming ≤ 3) and the banded engine path must reproduce it
    * exactly. Canonical setting: hamming ≤ 3 with 4 × 15-bit bands.
    * [[Dedup.simHashNearDupPairs]] (xxhash kernel) stays the
    * fastest-kernel variant, spec-pinned in DedupSpec.
    */
  def qDedupSimHash(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableSimHash.nearDupPairs(
      tbl(s, dir, "documents"), "doc_id", "text",
      maxHamming = 3, nBands = 4)

  /** Portable-fingerprint SimHash near-dup pairs: the md5-nibble
    * fingerprint is engine-neutral, so the FULL banded operator
    * (candidates + Hamming verify, lossless by pigeonhole) is
    * hash-checked against an exhaustive SQL oracle — unlike [[qDedupSimHash]]
    * whose xxhash kernel is JVM-only. Bounded scope keeps the oracle's
    * quadratic side small; the operator itself is the banded scale path.
    */
  def qSimhashPortable(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableSimHash.nearDupPairs(
      tbl(s, dir, "documents").filter(col("doc_id") < 300),
      "doc_id", "text", maxHamming = 3, nBands = 4)

  /** Banded MinHash-LSH whose md5-string signature makes the WHOLE
    * operator — banding decisions included — hash-checkable against a
    * SQL oracle that reproduces the band predicate exactly (see
    * [[graft.operators.PortableMinHash]]). Bounded scope keeps the
    * oracle's all-pairs side small; [[qDedupMinHash]] (xxhash kernel)
    * stays the unbounded-scale variant.
    */
  def qMinhashPortable(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableMinHash.nearDupPairs(
      tbl(s, dir, "documents").filter(col("doc_id") < 400),
      "doc_id", "text", numHashes = 16, bands = 8, shingleWords = 2,
      threshold = 0.5)

  /** Multi-probe sign-LSH whose md5-derived ±1 hyperplanes make the
    * WHOLE operator — bucket assignment and probe blocking included —
    * hash-checkable against a SQL oracle stating the closed-form
    * `Hamming(bucket) ≤ 2` predicate (see
    * [[graft.operators.PortableSignLsh]]). [[qDedupEmbedding]]
    * (Gaussian planes) stays the tunable scale variant.
    */
  def qSignLshPortable(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableSignLsh.nearDupPairs(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, numPlanes = 12, threshold = 0.4)

  /** Exhaustive token-set Jaccard pairs — oracle-checkable in DuckDB
    * via list_intersect/list_distinct. Quadratic by construction; the
    * LSH variants above are the scale path.
    */
  def qJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    // bounded scope (doc_id < 500 each side): the exhaustive pairwise
    // form exists as an oracle-exact baseline; it is O(n²) by
    // construction, so the declared query pins n. The LSH variants
    // above are the unbounded-scale path.
    val docs = tbl(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = docs.select(col("doc_id").as("id_a"), col("toks").as("t_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("toks").as("t_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("jaccard_sim", TextFunctions.jaccard(col("t_a"), col("t_b")))
      .filter(col("jaccard_sim") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard_sim"), 6).as("jaccard_sim"))
  }

  /** Inverted-index EXACT Jaccard near-dup pairs over the WHOLE
    * documents table — no O(n²) join, no doc_id bound (q28's cross
    * join keeps both). The element domain is word TRIGRAMS, the
    * standard near-dup granularity: selective enough that candidates
    * ∝ Σ df² stays linear-ish (single tokens degenerate on this
    * corpus — 31-word vocabulary ⇒ every doc pair collides).
    * Oracle: the exhaustive pairwise SQL over the same trigram sets.
    */
  def qJaccardPairsIndexed(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col("text")))
    val sets = tbl(s, dir, "documents")
      .select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 3)
      .select(col("doc_id"),
        TextFunctions.wordTrigrams(col("_t")).as("grams"))
    graft.operators.Dedup.jaccardPairsIndexed(
      sets, "doc_id", "grams", threshold = 0.5)
  }

  /** UNBOUNDED near-dup canonicalization — the FineWeb-style "keep
    * the BEST copy" selection, end to end: inverted-index trigram
    * Jaccard edges (q135) → distributed connected components → per
    * cluster keep the highest-QUALITY member (quality desc, doc_id
    * asc — q84's bounded pipeline keeps min-id; real pipelines keep
    * the best document, not the first). Every stage is the unbounded
    * scale path; the per-cluster argmax is a window partitioned by
    * cluster (clusters are near-dup groups — small by construction),
    * never a global sort. Oracle: recursive-CTE closure over the same
    * edge SQL + the q81 scoring CTEs + the same per-cluster pick.
    */
  def qNearDupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val toks = TextFunctions.tokens(lower(col("text")))
    val sets = docs.select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 3)
      .select(col("doc_id"),
        TextFunctions.wordTrigrams(col("_t")).as("grams"))
    val edges = graft.operators.Dedup
      .jaccardPairsIndexed(sets, "doc_id", "grams", threshold = 0.5)
      .select("id_a", "id_b")
    val clusters = graft.operators.Dedup.duplicateClusters(
      docs.select("doc_id"), edges, "doc_id", "id_a", "id_b")
    val scored = qQualityScore(s, dir)
    val byCluster = Window.partitionBy(col("cluster_id"))
    clusters.join(scored, Seq("doc_id"))
      .withColumn("_rn", row_number().over(
        byCluster.orderBy(col("quality").desc, col("doc_id").asc)))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("_rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("n_members"), col("quality").as("best_quality"))
  }

  /** Duplicate clustering: exhaustive jaccard pairs (bounded scope,
    * same edges as q28) → distributed connected components → one
    * cluster id (min member) per document. Oracle: transitive closure
    * via a recursive CTE over the same pair list.
    */
  def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    // scope bounded at 200 docs: the oracle's recursive-CTE closure is
    // quadratic in component size (the operator itself is not)
    val docs = tbl(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = docs.select(col("doc_id").as("id_a"), col("toks").as("t_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("toks").as("t_b"))
    val edges = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", TextFunctions.jaccard(col("t_a"), col("t_b")))
      .filter(col("j") >= 0.5)
      .select("id_a", "id_b")
    Dedup.duplicateClusters(docs.select("doc_id"), edges,
      "doc_id", "id_a", "id_b")
  }

  /** END-TO-END corpus cleaning — the composition the LLM-data
    * operators exist for, as ONE oracle-checked query: NFC normalize →
    * exact dedup on content hash (min-id survivor) → exhaustive
    * token-Jaccard near-dup edges among survivors → distributed
    * connected components → cluster representatives → quality score +
    * keep flag. Every stage is individually oracle-proven (q62, q25,
    * q28, q60, q81); this pins the COMPOSITION, including the
    * cross-stage contracts (dedup feeds normalized text to the edge
    * stage, reps re-attach original text for scoring). Scope bounded
    * at 200 docs for the recursive-CTE closure oracle, as in q60; the
    * unbounded-scale path swaps the exhaustive edge stage for
    * MinHash-LSH (q26) with everything else unchanged.
    */
  def qCorpusClean(s: SparkSession, dir: String): DataFrame = {
    val nfc = graft.functions.expressions.TextExpressions
      .unicode_normalize(col("text"), "NFC")
    val base = tbl(s, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), col("text"), nfc.as("nfc"))
    // 1. exact dedup on normalized content: min doc_id survives
    val survivors = base
      .groupBy(sha2(col("nfc"), 256).as("_sha"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("nfc")), col("doc_id")).as("_r"))
      .select(col("_r.doc_id").as("doc_id"), col("_r.text").as("text"),
        col("_r.nfc").as("nfc"))
    // 2. near-dup edges among survivors (exhaustive — bounded scope)
    val toks = survivors.select(col("doc_id"),
      array_distinct(split(col("nfc"), " ")).as("tok"))
    val edges = toks.select(col("doc_id").as("id_a"), col("tok").as("t_a"))
      .crossJoin(toks.select(col("doc_id").as("id_b"), col("tok").as("t_b")))
      .filter(col("id_a") < col("id_b"))
      .filter(TextFunctions.jaccard(col("t_a"), col("t_b")) >= 0.5)
      .select("id_a", "id_b")
    // 3. duplicate clusters → representatives (doc_id == cluster_id)
    val reps = Dedup.duplicateClusters(survivors.select("doc_id"), edges,
      "doc_id", "id_a", "id_b")
      .filter(col("doc_id") === col("cluster_id"))
      .select("doc_id")
    // 4. quality gate over the representatives' ORIGINAL text
    reps.join(survivors, Seq("doc_id"))
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")).as("quality"))
      .withColumn("kept", col("quality") >= 0.5)
  }

  /** Embedding-cosine near-duplicate pairs via sign-LSH with PORTABLE
    * md5-derived ±1 hyperplanes ([[graft.operators.PortableSignLsh]]):
    * multi-probe blocking admits exactly the Hamming(bucket) ≤ 2
    * pairs, a closed-form predicate the SQL oracle states directly —
    * so the bucketed operator, blocking decisions included, is
    * hash-checked end to end. Threshold 0.4 sits at the top ~0.05% of
    * the synthetic corpus's pairwise-cosine distribution (max ≈ 0.47),
    * so the query surfaces the genuinely closest pairs; 6 planes keep
    * per-bucket recall high at that level (q126 runs the 12-plane
    * sharper-bucket variant). [[Dedup.embeddingNearDupPairs]]
    * (tunable Gaussian planes) stays the seeded variant, spec-pinned
    * in DedupSpec.
    */
  def qDedupEmbedding(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableSignLsh.nearDupPairs(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      dim = 64, numPlanes = 6, threshold = 0.4)

  // ── Similarity search ───────────────────────────────────────────────

  /** L2 norms of all embeddings — oracle-checkable vector arithmetic. */
  def qVectorNorms(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        round(VectorFunctions.l2Norm(col("embedding")), 6).as("l2_norm"))

  /** Brute-force cosine top-10 for the first 5 vectors as queries. */
  def qKnnBruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding",
      "query_id", "qvec", k = 10)
  }

  /** IVF ANN top-10 with REAL cell pruning (nprobe 3 of nlist 8) over
    * the portable md5-ranked quantizer
    * ([[Similarity.ivfTopKPortable]]): every decision — which vectors
    * land in which cell, which cells each query probes, which
    * candidates are pruned, the final ranking — is bit-reproducible in
    * SQL, so the approximate operator itself is hash-checked, not just
    * its exact twin (q63 pins the nprobe=nlist degenerate case on the
    * k-means quantizer; SimilaritySpec pins k-means-IVF recall floors).
    */
  def qKnnIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.ivfTopKPortable(emb, queries, "vec_id", "embedding",
      "query_id", "qvec", k = 10, nlist = 8, nprobe = 3)
  }

  /** IVF with `nprobe = nlist`: probing every cell makes IVF exact, so
    * the whole machinery (sample fit, compiled cell assignment, probe
    * ranking, candidate join, top-k window) must reproduce the
    * brute-force result bit-for-bit — shares q31's oracle. The only
    * unverified surface left in the ANN path is cell pruning itself,
    * which ScalaTest recall floors pin.
    */
  def qKnnIvfExact(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "query_id", "qvec", k = 10, nlist = 8, nprobe = 8)
  }

  /** MinHash verify stage with LSH blocking disabled on a bounded doc
    * set: exhaustive candidates + the pipeline's own shingle-prep and
    * exact-Jaccard verify — oracle-checkable, proving the verify
    * machinery exact (the banded path shares it verbatim).
    */
  def qMinHashVerify(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashVerifyExhaustive(
      tbl(s, dir, "documents").filter(col("doc_id") < 500),
      "doc_id", "text", shingleWords = 1, threshold = 0.5)

  /** Embedding verify stage with LSH blocking disabled (q64's pattern
    * for the vector path): exhaustive id pairs + the pipeline's own
    * exact-cosine verify — oracle-checkable against DuckDB's double-
    * cast list arithmetic, proving the cosine verify exact. The 500-
    * vector table keeps the quadratic candidate set bounded; with q29
    * on the same threshold this also measures the sign-LSH recall.
    */
  def qEmbeddingVerify(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingVerifyExhaustive(tbl(s, dir, "embeddings"), "vec_id",
      "embedding", threshold = 0.4)

  // ── Training-data pipeline: splits, packing, repetition, PII ────────

  /** Deterministic train/val/test assignment (80/10/10) — a pure
    * per-row function of the doc id, reproducible across engines and
    * partitionings (no RNG state, no sampleBy).
    */
  def qHashSplit(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.operators.Sampling.splitColumn(col("doc_id"), "split_v1").as("split"))

  /** Concat-and-chunk sequence packing (512-token budget): each doc's
    * global token start offset and pack id via the two-level
    * distributed prefix sum — no global-ordering window over the data.
    */
  def qSequencePacking(s: SparkSession, dir: String): DataFrame = {
    val withTok = tbl(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.tokenCountArithmetic(col("text")).as("n_tokens"))
    graft.operators.Packing.packByTokenBudget(withTok, "doc_id", "n_tokens", 512L)
  }

  /** Gopher-style repetition signals per document: distinct-token
    * ratio, top-token fraction, duplicate-bigram ratio — all
    * partition-local array algebra, no shuffle.
    */
  def qRepetitionStats(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        round(TextFunctions.distinctTokenRatio(col("_toks")), 6).as("distinct_ratio"),
        round(TextFunctions.topTokenFraction(col("_toks")), 6).as("top_token_frac"),
        round(TextFunctions.dupBigramRatio(col("_toks")), 6).as("dup_bigram_ratio"))

  /** PII scrub over documents enriched with synthetic contact strings
    * (the corpus itself is clean word soup, so the PII is injected
    * deterministically from the doc id — both engines construct the
    * identical input): emails → <EMAIL>, URLs → <URL>, long digit
    * runs → <NUM>.
    */
  def qPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val enriched = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or https://site"), col("doc_id").cast("string"),
      lit(".example/p?x=1 ref 9021077"), col("doc_id").cast("string"))
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        TextFunctions.scrubPii(enriched).as("scrubbed"))
  }

  /** Deterministic stratified subsample — language rebalancing
    * (downsample dominant en to 50%, zh to 25%, keep the rest): one
    * scan, a pure per-row predicate, no shuffle.
    */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSample(
      tbl(s, dir, "documents"), "doc_id", "lang",
      Map("en" -> 0.5, "zh" -> 0.25))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Quality-weighted representative selection: per (lang, length
    * band) keep the single highest-quality document — survivor choice
    * by ranking, not first-seen; map-side min_by combine, no window.
    */
  def qBestPerGroup(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"), col("lang"),
        floor(col("n_chars") / 100).cast("long").as("len_band"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")).as("quality"))
    graft.operators.Dedup.exactKeepBest(scored, "doc_id",
      Seq("lang", "len_band"), "quality")
  }

  /** Deterministic mixture re-weighting: src0 upsampled 2.5×, src1
    * halved, everything else kept — epoch-style source mixing with an
    * exact expected copy count and a reproducible fractional draw.
    */
  def qMixtureWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.mixtureWeight(
      tbl(s, dir, "documents"), "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.5))
      .select(col("doc_id"), col("source"), col("copy"))

  /** The `transformWithState` sessionizer (Spark 4 arbitrary-state
    * API: StatefulProcessor + typed ValueState + explicit event-time
    * timers on RocksDB state) replayed to completion and aggregated to
    * q33's schema — the third independent implementation of the same
    * session semantics under the same batch oracle (q33 window form ≡
    * q71 flatMapGroupsWithState ≡ q82 native session_window ≡ this).
    */
  def qSessionizeTws(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replaySessionSummariesTws(
      RelationalQueries.events(s, dir).select(col("user_id"), col("ts")),
      gapSeconds = 1800)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"))

  /** q45's as-of join through the NATIVE whole-operator plan (custom
    * LogicalPlan → strategy → streaming-merge SparkPlan) — must
    * produce exactly the composed form's rows, so it shares q45's
    * oracle: the ultimate custom-operator parity check.
    */
  def qAsOfJoinNative(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"))
    graft.operators.NativeAsOfJoin.backward(
      purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("click_event_id"), tieBreakCol = "click_event_id",
      matchedTsCol = "click_ts")
  }

  // ── Validation / time-series / dimension history ────────────────────

  /** Deequ-style constraint suite over orders, one aggregate pass:
    * null check, key uniqueness, range and domain rules.
    */
  def qDataQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.DataQuality._
    check(tbl(s, dir, "orders"), Seq(
      NotNull("o_custkey"),
      Unique("o_orderkey"),
      InRange("o_totalprice", 0.0, 600000.0),
      IsIn("o_orderstatus", Seq("F", "O", "P"))))
  }

  /** Daily per-user resample with zero-filled gaps and LOCF values —
    * events compress to (user, day) BEFORE densification.
    */
  def qResampleLocf(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.resampleDailyLocf(
      RelationalQueries.events(s, dir), "user_id", "ts", "value")
      .select(col("key").as("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), col("locf_value"))

  /** SCD2 validity intervals of each user's event_type change log. */
  def qScd2History(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scd2.buildHistory(
      RelationalQueries.events(s, dir),
      "user_id", "ts", "event_type", "event_id")
      .select(col("key").as("user_id"), col("state"),
        col("valid_from_us"), col("valid_to_us"))

  /** Fixed-point PageRank (8 rounds) over the undirected supplier–part
    * co-supply graph from lineitem — part keys offset to disjoint node
    * ids. All-integer arithmetic makes the full iterative computation
    * hash-match an unrolled SQL oracle bit-exactly.
    */
  def qPageRank(s: SparkSession, dir: String): DataFrame = {
    val b = tbl(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("s"),
        (col("l_partkey").cast("long") + 10000000L).as("p"))
    val edges = b.select(col("s").as("src"), col("p").as("dst"))
      .union(b.select(col("p").as("src"), col("s").as("dst")))
    // dedup ONCE after the union (two narrow scans + one shuffle) rather
    // than pair-distincting b and paying the distinct on both union
    // branches; undirected => every node has both an out- and an in-edge.
    // convergence exit armed at cadence 4 (one checked round at i=4:
    // rounds 1-4 batch into the checked job, 5-8 into the closing
    // checkpoint — near the un-armed job count): rounds_run rides
    // along; this graph does not settle within 8 rounds, so the
    // declared result pins the non-converged branch while q332 pins
    // the engaged exit
    graft.operators.PageRank.microPageRank(edges, 8,
      everyNodeHasOutEdge = true, everyNodeHasInEdge = true,
      convergeCheckEvery = 4)
  }

  /** PageRank with the convergence exit ENGAGED (q332): the planted
    * fast-converging fixture — a directed ring over the customer
    * keys (every node outdeg = indeg = 1), which sits AT the integer
    * fixed point from round 1: R₁(v) = 150000 + (85·(10⁶ div 1)) div
    * 100 = 10⁶ = R₀(v). With iterations = 8 and check cadence 1 the
    * run stops after one round (rounds_run = 1), and the oracle
    * replays the same stop test over its unrolled rounds — the r12
    * verdict's "exit engaged on a planted fast-converging fixture",
    * hash-checked. (The ring is built with the range-partitioned
    * two-level successor recipe — no global-order window.)
    */
  /** Windowed perplexity profile (q333): per document the
    * worst/best/mean 16-bigram-window score under the corpus's own
    * KN bigram model — span-level quality localization (the CCNet
    * paragraph-filter shape for unstructured text: filter on the
    * worst window to catch rot the doc mean averages away).
    */
  def qWindowedPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.windowedPerplexity(
      tbl(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", windowTokens = 16)

  /** LSH band-plan calibration (q334): for each (bands, rows) split
    * of the 128-slot portable MinHash signature, the measured
    * candidate workload on the real corpus (Σ C(|bucket|,2), counted
    * without materializing pairs) next to the exact pinned-chain
    * S-curve catch probability at four calibration similarities —
    * the dedup-tuning table a pipeline reads before committing to a
    * banding plan.
    */
  def qLshBandPlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableMinHash.bandPlanCalibration(
      tbl(s, dir, "documents"), "doc_id", "text",
      numHashes = 128, shingleWords = 2)

  /** Band-plan COMMIT (q338): the decision on top of q334's table —
    * the qualifying plan (catch ≥ 0.90 at s = 0.8) with the smallest
    * measured candidate workload, fallback to best recall with the
    * downgrade flagged. The row a dedup pipeline actually reads.
    */
  def qLshBandPlanSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableMinHash.bandPlanSelect(
      tbl(s, dir, "documents"), "doc_id", "text",
      numHashes = 128, shingleWords = 2)

  /** Calibrate→commit→APPLY (q344): the banded near-dup verify run
    * UNDER the (bands, rows) plan q338 commits — the committed values
    * arrive as COLUMNS from the broadcast 1-row commit (the band
    * explode's bound and the signature slice offsets are data-driven,
    * never a driver value), signatures computed once for both the
    * calibration table and the banding + exact-Jaccard verify. Every
    * output pair carries the committed plan, so the hash check proves
    * the commit actually drove the banding.
    */
  def qLshApplyCommittedPlan(s: SparkSession, dir: String): DataFrame =
    graft.operators.PortableMinHash.nearDupPairsAtCommittedPlan(
      tbl(s, dir, "documents"), "doc_id", "text",
      numHashes = 128, shingleWords = 2, threshold = 0.5)

  /** Worst-window span CUT (q337): act on q333's bounds — docs whose
    * worst 16-bigram window scores ≥ 0.25 above their own mean drop
    * that token span; `kept_md5` hash-checks the post-cut content.
    */
  def qPerplexitySpanCut(s: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.worstWindowCut(
      tbl(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", windowTokens = 16, margin = 0.25)

  /** Cut-margin calibration (q340): the q334/q336 calibration
    * pattern applied to q337's margin knob — for margin ∈
    * {1/8, 1/4, 1/2, 1} (exact power-of-two doubles) the docs cut,
    * tokens removed and corpus share under the worst-window rule.
    * Profile computed once, each margin pure arithmetic; cut-rate
    * monotone non-increasing in margin, the 1/4 row consistent with
    * q337 by construction.
    */
  def qSpanCutMarginCalibration(s: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.worstWindowCutCalibration(
      tbl(s, dir, "documents").select(col("doc_id"), col("text")),
      "doc_id", "text", windowTokens = 16)

  /** Within-doc self-repetition profile (q335): the Gopher
    * repetition gates over token units — modal-n-gram coverage
    * (n = 2/3/4) and duplicated-n-gram coverage (n = 5/10), each an
    * exact union of occurrence spans, plus the composite keep flag.
    * The within-doc complement of q216/q217's cross-doc spans.
    */
  def qSelfRepetition(s: SparkSession, dir: String): DataFrame =
    graft.operators.RepeatedSpans.selfRepetitionProfile(
      tbl(s, dir, "documents"), "doc_id", "text")

  def qPageRankConverged(s: SparkSession, dir: String): DataFrame = {
    // ring = successor in global key order, max wrapping to min —
    // built with the range-partitioned two-level recipe
    // (Packing.packByTokenBudget's): per-partition lead() for the
    // local successor, then a #partitions-row frame (broadcast back)
    // supplies each partition-last row the NEXT partition's first key
    // and the global last its wrap target. No unpartitioned window
    // ever sees the full key column (r13 verdict #5 — the old
    // Window.orderBy(src) serialized every key through one task).
    val parted = tbl(s, dir, "customer")
      .select(col("c_custkey").cast("long").as("src"))
      .repartitionByRange(col("src"))
      .withColumn("_pid", spark_partition_id())
    val wIn = Window.partitionBy(col("_pid")).orderBy(col("src"))
    val local = parted.withColumn("_next", lead(col("src"), 1).over(wIn))
    // one row per non-empty partition; the single-partition windows
    // below are O(#partitions), not O(rows)
    val wP = Window.orderBy(col("_pid"))
    val seams = parted.groupBy(col("_pid"))
      .agg(min(col("src")).as("_pfirst"))
      .withColumn("_next_first", lead(col("_pfirst"), 1).over(wP))
      .withColumn("_gmin", min(col("_pfirst")).over(
        wP.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("_pid"), col("_next_first"), col("_gmin"))
    val ring = local.join(broadcast(seams), Seq("_pid"))
      .select(col("src"),
        coalesce(col("_next"), col("_next_first"), col("_gmin")).as("dst"))
    graft.operators.PageRank.microPageRank(ring, 8,
      distinctEdges = true, everyNodeHasOutEdge = true,
      everyNodeHasInEdge = true, convergeCheckEvery = 1)
  }

  // ── Sessionization / event-time (batch analog of streaming ops) ─────

  /** Gap-based sessionization (30-min gap) — the batch analog of the
    * streaming session-window operator; exact via epoch-microseconds.
    */
  def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    RelationalQueries.events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 1800000000L, 1).otherwise(0))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** The STREAMING sessionizer run to completion over the same events
    * and aggregated to q33's schema — stream/batch parity as a
    * driver-checked oracle row: flatMapGroupsWithState through a real
    * MemoryStream (micro-batched, watermark-timed-out) must produce
    * exactly the batch window form's sessions.
    */
  def qSessionizeStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replaySessionSummaries(
      RelationalQueries.events(s, dir).select(col("user_id"), col("ts")),
      gapSeconds = 1800)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"))

  /** Watermarked tumbling-window counts run as a REAL stream (append
    * mode, windows closed by watermark advancement) and replayed to
    * completion — the declarative streaming-window machinery under the
    * same epoch-bucket oracle as its batch form. Decimal-carried sums
    * keep the float aggregation order-independent across micro-batches.
    */
  /** Stream-static enrichment replay: events joined per micro-batch
    * against a customer-derived user→segment dim, then 5-minute
    * windowed counts per segment. Oracle = the batch join+agg.
    */
  def qStreamStaticDim(s: SparkSession, dir: String): DataFrame = {
    val dim = tbl(s, dir, "customer")
      .filter(col("c_custkey") <= 150)
      .select((col("c_custkey") - 1).cast("long").as("user_id"),
        col("c_mktsegment").as("segment"))
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value")),
      df => graft.streaming.EventStreams.enrichedWindowedCounts(
          df, dim, "user_id", "segment", "5 minutes", "0 seconds")
        .select(
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"),
          col("segment"), col("n"), col("sum_value")),
      horizonSeconds = 600)
  }

  def qWindowedStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
      df => df.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value")),
      horizonSeconds = 600)
      .filter(col("event_type") =!= "_sentinel")

  /** Streaming first-occurrence dedup (`dropDuplicatesWithinWatermark`)
    * replayed to completion: a key seen in an early micro-batch must
    * suppress re-occurrences in later ones (the lateness horizon spans
    * the whole event range, so state never evicts mid-replay). The
    * surviving key SET equals batch DISTINCT — the oracle; key columns
    * only, so the check is insensitive to which duplicate row won.
    */
  def qDedupStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
      df => df.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      horizonSeconds = 60)
      .filter(col("event_type") =!= "_sentinel")

  /** Spark's NATIVE `session_window` run as a real stream and replayed
    * to completion, aggregated to q33's schema — checks the built-in
    * session machinery (merge-on-arrival, close-on-watermark) against
    * the same batch gap-sessionization oracle the custom
    * flatMapGroupsWithState form (q71) passes.
    */
  def qSessionWindowStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
      df => df.withWatermark("ts", "0 seconds")
        .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("n_events")),
      horizonSeconds = 3900)
      .filter(col("user_id") =!= -1L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"))

  /** Watermarked stream–stream interval self-join replayed to
    * completion: clicks joined to same-user purchases within ±30
    * minutes — both sides are subscriptions of the same replayed
    * source, state evicted by the time bound. The emitted pair set
    * must equal the batch interval join (µs-exact bounds in the
    * oracle: events.parquet is nanosecond-typed but the engine reads
    * microseconds).
    */
  def qStreamStreamJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      // only the two joined event types need replaying — the other
      // types can never produce a pair, so the filtered stream is the
      // same stream for this query (and the replay is 30× lighter)
      RelationalQueries.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
      df => {
        val clicks = df.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "2 hours")
        val purchases = df.filter(col("event_type") === "purchase")
          .select(col("user_id").as("_pu"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "2 hours")
        clicks.join(purchases,
          col("user_id") === col("_pu") &&
            col("purchase_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
          .select(col("user_id"), col("click_id"), col("purchase_id"))
      },
      horizonSeconds = 7260)

  /** LEFT OUTER watermarked stream-stream join: clicks with no
    * purchase within ±30 min emit a null-purchase row once BOTH
    * watermarks pass the click's match horizon. The sentinel must flow
    * through both sides' watermark operators (the global watermark is
    * the min across them), so it is kept through the type filters and
    * its join output dropped at the end; the horizon exceeds
    * lateness + join bound so every real click's outer row is evicted
    * and emitted before the replay stops.
    */
  def qStreamStreamLeftJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
      df => {
        val clicks = df.filter(col("event_type").isin("click", "_sentinel"))
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts"))
          .withWatermark("click_ts", "2 hours")
        val purchases = df.filter(col("event_type").isin("purchase", "_sentinel"))
          .select(col("user_id").as("_pu"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"))
          .withWatermark("purchase_ts", "2 hours")
        clicks.join(purchases,
          col("user_id") === col("_pu") &&
            col("purchase_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
          .select(col("user_id"), col("click_id"), col("purchase_id"))
      },
      horizonSeconds = 9100) // > lateness (7200) + bound (1800) + margin
      .filter(col("user_id") =!= -1L)

  /** Tumbling daily window aggregate (streaming-window batch analog). */
  def qDailyWindow(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** Keyed latest-state (A8/upsert-sink semantics) over events —
    * tie-pinned with event_id so the result is oracle-checkable.
    */
  def qLatestState(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.latestStateByKey(
      RelationalQueries.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
      "user_id", ord = struct(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_id"), col("event_type"))

  /** Backward as-of join (union + single-window implementation, one
    * shuffle): each purchase is enriched with the user's most recent
    * prior-or-same-instant click. Equal-ts click ties are pinned by
    * max event_id — same total order as the oracle's
    * `last(... ORDER BY ts, event_id)`.
    */
  def qAsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        col("event_id").as("click_event_id"))
    graft.operators.AsOfJoin.backward(
      purchases, clicks, Seq("user_id"), "ts", "ts",
      rightPayload = Seq("click_event_id"), tieBreakCol = "click_event_id",
      matchedTsCol = "click_ts")
  }

  /** Two-phase salted aggregation (hot-key mitigation): the salt must
    * be result-invisible, so the oracle is the PLAIN group-by — the
    * check proves salting changes the shuffle shape, not the answer.
    * Decimal-carried sums keep the re-aggregation order-independent.
    */
  def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    graft.operators.SkewTools.saltedAgg(
      RelationalQueries.events(s, dir),
      keys = Seq("user_id"), saltBuckets = 32,
      partial = Seq(
        sum(col("value").cast("decimal(18,2)")).as("_psum"),
        count(lit(1)).as("_pn")),
      fin = Seq(
        sum(col("_psum")).cast("double").as("sum_value"),
        sum(col("_pn")).as("n")))

  /** Salted replicate-broadcast join on a deliberately hot key: ~4/7
    * of lineitem lands on supplier 1 (a skew no hash-join reducer
    * should ever see whole), so the left side is sharded over 32 salt
    * buckets and the dim side replicated once per bucket. The salt is
    * result-invisible — the oracle is the PLAIN join+aggregate, so the
    * check proves salting changes the shuffle shape, not the answer.
    */
  def qSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val left = tbl(s, dir, "lineitem").select(
      when(col("l_linenumber") <= 4, lit(1L))
        .otherwise(col("l_suppkey")).as("hot_supp"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)").as("rev"))
    val right = tbl(s, dir, "supplier")
      .select(col("s_suppkey").as("hot_supp"), col("s_nationkey"))
    graft.operators.SkewTools.saltedBroadcastJoin(left, right, "hot_supp", 32)
      .groupBy(col("s_nationkey"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Incremental aggregate maintenance: orders split into a "base"
    * slice and a "delta" slice by date, reduced to mergeable partial
    * states INDEPENDENTLY, then merged and finalized — the oracle is
    * the single-pass aggregate over the whole table, proving
    * `merge(partials(a), partials(b)) ≡ partials(a ∪ b)` exactly
    * (decimal-carried sums make the re-aggregation order-free).
    */
  def qIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val pivot = lit("1996-01-01").cast("timestamp")
    val orders = tbl(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val base = IncrementalAgg.partials(
      orders.filter(col("o_orderdate") < pivot), Seq("o_custkey"), "o_totalprice")
    val delta = IncrementalAgg.partials(
      orders.filter(col("o_orderdate") >= pivot), Seq("o_custkey"), "o_totalprice")
    IncrementalAgg.finalize(IncrementalAgg.merge(base, delta))
      .select(col("o_custkey"), col("n"), col("sum").as("sum_price"),
        col("min").as("min_price"), col("max").as("max_price"),
        col("avg").as("avg_price"))
  }

  /** Bucketed time-interval join: (purchase, error) pairs by the same
    * user within 10 minutes — an equi join on (user, time-bucket)
    * instead of the planner's nested-loop for range predicates.
    */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("e_ts"))
    graft.operators.RangeJoin.withinTolerance(
      purchases, errors, Seq("user_id"), "p_ts", "e_ts", tolSeconds = 600L)
      .select(col("user_id"), col("purchase_id"), col("error_id"))
  }

  /** Edit-distance fuzzy join over part names (length-band pruned):
    * string-similarity join per the retrieved literature, verified
    * cell-exact against DuckDB's levenshtein.
    */
  def qFuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val parts = tbl(s, dir, "part").filter(col("p_partkey") < 1000)
    val a = parts.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"))
    val b = parts.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"))
    graft.operators.FuzzyJoin.editDistanceJoin(a, b, "name_a", "name_b", maxDist = 2)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("name_a"), col("name_b")).as("edit_dist"))
  }

  /** Mergeable-sketch distinct counting: per-day DataSketches HLL
    * sketches union-merged into a per-type estimate — the 100 TB
    * pattern where raw rows are sketched once near the data and only
    * fixed-size sketch blobs move between aggregation levels. The
    * declared surface is hash-checkable (the q44 recipe): the sketch
    * estimate itself is implementation-specific, so the output carries
    * the exact distinct count plus a boolean asserting the MERGED
    * estimate landed within 5% (≈3·rsd at the default lgK=12) of it —
    * the oracle recomputes the exact columns and states TRUE, so a
    * broken merge turns the row red. SkewAndSketchSpec pins the raw
    * estimate besides.
    */
  def qHllMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val daily = ev
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    val merged = daily.groupBy(col("event_type"))
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("_est"),
        count(lit(1)).as("n_days"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count_distinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("_est") - col("exact_users"))
          <= lit(0.05) * col("exact_users")).as("merge_ok"))
  }

  /** Multimodal plumbing driven from testdata: document text bytes act
    * as opaque media payloads → media struct → the REAL batched
    * `mapPartitions` decode stage → per-document feature rows. The
    * declared surface is the deterministic slice of the stub decoder —
    * width/height from the first two payload bytes, frame count from
    * the byte length, mean intensity = Σbytes/n (an integer-valued
    * double sum, so order-independent and exact) — which an external
    * SQL oracle reproduces byte-for-byte from the same text (the
    * corpus is printable-ASCII, so chars ≡ UTF-8 bytes). The stub
    * embedding (rolling hash) has no SQL form and stays
    * MultimodalSpec-pinned, as does the real-ImageIO path.
    */
  def qMediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        Multimodal.asMedia(encode(col("text"), "UTF-8"), lit("text/plain"))
          .as("media"))
    Multimodal.decodeFeatures(media, "media", embeddingDim = 8)
      .select(col("doc_id"), col("source"),
        col("features.width").as("width"),
        col("features.height").as("height"),
        col("features.n_frames").as("n_frames"),
        round(col("features.mean_intensity"), 6).as("mean_intensity"))
  }

  /** Media-struct metadata contract over real document bytes: the
    * content-addressed checksum and byte count are engine-independent,
    * so the multimodal column convention gets an oracle row (the
    * decode FEATURES stay stub-pinned in q39/MultimodalSpec).
    */
  def qMediaMetadata(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    tbl(s, dir, "documents")
      .select(col("doc_id"),
        Multimodal.asMedia(encode(col("text"), "UTF-8"), lit("text/plain"))
          .as("media"))
      .select(col("doc_id"),
        col("media.media_type").as("media_type"),
        col("media.n_bytes").as("n_bytes"),
        col("media.checksum").as("checksum"))
  }

  /** The oracle-exact slice of the text-quality operator: the
    * composite score is plain float algebra over character classes and
    * a stopword set, reproducible in SQL operation-for-operation (the
    * rest of q24 — rolling-hash fingerprint, lookaround subword proxy —
    * has no cross-engine SQL form and stays ScalaTest-pinned).
    */
  def qQualityScore(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")).as("quality"))

  // ── Spatial nearest (J1/J2 with the production NearestJoin) ─────────

  private def customerPoints(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "customer").select(
      col("c_custkey"),
      (col("c_acctbal") / 200.0).as("lat"),
      ((col("c_custkey") % 360).cast("double") - 180.0).as("lon"))

  private def stationDim(s: SparkSession): DataFrame = {
    import s.implicits._
    Schemas.stations.map(st => (st.name, st.latitude, st.longitude))
      .toDF("station", "s_lat", "s_lon")
  }

  /** Nearest station per customer point — window implementation,
    * planar distance (exact across engines).
    */
  def qNearestStationWindow(s: SparkSession, dir: String): DataFrame =
    NearestJoin.nearestByWindow(
      customerPoints(s, dir), stationDim(s), "c_custkey",
      GeoFunctions.planarDist2(col("lat"), col("lon"), col("s_lat"), col("s_lon")),
      tieBreak = Seq(col("station")))
      .select(col("c_custkey"), col("station"), col("dist_km").as("dist2"))

  /** Same result via the min_by aggregation path (cheaper plan: the
    * exchange carries one row per key). Same oracle as the window form —
    * both must agree with DuckDB and therefore with each other.
    */
  def qNearestStationMinBy(s: SparkSession, dir: String): DataFrame =
    NearestJoin.nearestByMinBy(
      customerPoints(s, dir), stationDim(s), Seq("c_custkey"),
      GeoFunctions.planarDist2(col("lat"), col("lon"), col("s_lat"), col("s_lon")),
      tieBreak = col("station"))
      .select(col("c_custkey"), col("station"), col("dist_km").as("dist2"))

  /** Haversine nearest (true reference semantics, trig → rows-only;
    * ScalaTest pins the km values on fixture coordinates).
    */
  /** Same nearest-station semantics through the density-adaptive grid
    * path — must return byte-identical winners to the broadcast window
    * form, so it shares q37's oracle. With only 6 stations the regime
    * guard correctly picks the broadcast exhaustive pass (grid
    * bucketing can't win under ~dozens of sites); q65 exercises the
    * grid pass proper on a dense site set.
    */
  def qNearestStationGrid(s: SparkSession, dir: String): DataFrame = {
    val pts = customerPoints(s, dir)
      .withColumn("lat", greatest(least(col("lat"), lit(51.0)), lit(41.5)))
      .withColumn("lon", greatest(least(col("lon"), lit(9.5)), lit(-5.0)))
    NearestJoin.nearestByGridAuto(
      pts, stationDim(s), Seq("c_custkey"),
      "lat", "lon", "s_lat", "s_lon",
      tieBreak = col("station"))
      .select(col("c_custkey"), col("station"), round(col("dist_km"), 3).as("dist_km"))
  }

  /** Dense synthetic site grid derived from `orders` (one site per
    * order, deterministic coordinates in the France box) — the site
    * count scales with SF, so this is the regime the grid join exists
    * for: a broadcast cross join scores |customers|·|orders| pairs
    * where the grid pass scores ~9 sites per customer.
    */
  private def denseSites(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "orders").select(
      col("o_orderkey").as("site_id"),
      (lit(41.5) + (col("o_orderkey") % 950).cast("double") / 100.0).as("s_lat"),
      (lit(-5.0) + (col("o_orderkey") % 1450).cast("double") / 100.0).as("s_lon"))

  /** Nearest dense site per customer through the adaptive grid path —
    * exact (grid + provably-safe radius + exhaustive fallback), so it
    * hash-matches a DuckDB window-over-cross-join oracle.
    */
  def qNearestSiteDense(s: SparkSession, dir: String): DataFrame = {
    val pts = customerPoints(s, dir)
      .withColumn("lat", greatest(least(col("lat"), lit(51.0)), lit(41.5)))
      .withColumn("lon", greatest(least(col("lon"), lit(9.5)), lit(-5.0)))
    NearestJoin.nearestByGridAuto(
      pts, denseSites(s, dir), Seq("c_custkey"),
      "lat", "lon", "s_lat", "s_lon",
      tieBreak = col("site_id"))
      .select(col("c_custkey"), col("site_id"), round(col("dist_km"), 3).as("dist_km"))
  }

  def qNearestStationHaversine(s: SparkSession, dir: String): DataFrame = {
    val pts = customerPoints(s, dir)
      .withColumn("lat", greatest(least(col("lat"), lit(51.0)), lit(41.5)))
      .withColumn("lon", greatest(least(col("lon"), lit(9.5)), lit(-5.0)))
    NearestJoin.nearestByWindow(
      pts, stationDim(s), "c_custkey",
      GeoFunctions.haversineKm(col("lat"), col("lon"), col("s_lat"), col("s_lon")),
      tieBreak = Seq(col("station")))
      .select(col("c_custkey"), col("station"), round(col("dist_km"), 3).as("dist_km"))
  }

  // ── Training-data hygiene: decontamination / graph / chunking ───────

  /** Benchmark decontamination: training docs sharing >= 3 distinct
    * word 5-grams with the held-out eval slice (doc_id % 10 == 0).
    * Exact — the eval side is broadcast, the corpus is never shuffled.
    */
  def qDecontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    graft.operators.Decontamination.overlap(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text", n = 5, minShared = 3L)
  }

  /** The bounded q28-style near-dup pair generator shared by q113 and
    * q120 (their oracles embed the identical SQL CTE): jaccard ≥ 0.9
    * over whitespace token sets, doc_id < 500, canonical a < b pairs.
    * ONE definition so a threshold/tokenizer tweak cannot desync the
    * two queries from each other or from their oracle mirrors.
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    val a = docs.select(col("doc_id").as("a"), col("toks").as("t_a"))
    val b = docs.select(col("doc_id").as("b"), col("toks").as("t_b"))
    a.crossJoin(b)
      .filter(col("a") < col("b"))
      .filter(TextFunctions.jaccard(col("t_a"), col("t_b")) >= 0.9)
      .select(col("a"), col("b"))
  }

  /** Per-node triangle counts over the jaccard >= 0.9 near-dup graph
    * (same bounded pair generator as q28) — the transitivity
    * diagnostic for a candidate-pair stage. Degree-ordered orientation
    * keeps the wedge join O(|E|^1.5) at scale.
    */
  def qTriangleCount(s: SparkSession, dir: String): DataFrame =
    // checkpoint the quadratic pair generator ONCE: perNode references
    // its edge input ~7 times (degree union, orientation joins, wedge
    // probes) and Catalyst re-inlines an un-pinned generator into
    // every reference — the r8 plan audit counted 35 jaccard-kernel
    // sites in the un-pinned plan
    graft.operators.Triangles.perNode(nearDupPairs(s, dir).localCheckpoint())

  /** Stride-overlapped context-window chunking (size 512, stride 384)
    * — shuffle-free generate + codegen'd substring.
    */
  def qChunkDocs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.chunk(
      tbl(s, dir, "documents"), "doc_id", "text", size = 512, stride = 384)

  /** Bloom-runtime-filtered fact⋈dim join: only ~1/25 of suppliers
    * survive the dim filter, so the bloom kills ~96% of lineitem AT
    * THE SCAN, before the join exchange. The oracle is the plain
    * join — false positives are removed by the exact join, so the
    * bloom changes only the shuffle volume, never the answer.
    */
  def qBloomJoin(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem").select(col("l_suppkey"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)").as("rev"))
    val supp = tbl(s, dir, "supplier")
      .filter(col("s_nationkey") === 7)
      .select(col("s_suppkey"), col("s_name"))
    graft.operators.RuntimeFilter.bloomPrunedJoin(
        li, supp, "l_suppkey", "s_suppkey",
        expectedItems = 100000L, fpp = 0.01)
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Exact heavy hitters with a count-min prefilter: parts appearing
    * ≥ 45 times in lineitem (~2.7σ above the ~30 mean). CMS never
    * undercounts, so the prefilter drops only keys that cannot
    * qualify; the exact re-count removes its overestimates — oracle
    * is the plain GROUP BY ... HAVING.
    */
  def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeavyHitters.exactOverThreshold(
      tbl(s, dir, "lineitem").select(col("l_partkey")),
      // eps sized for this site: expected overestimate ≈ N·eps/2
      // (per-counter collision mass) must sit well under the slack
      // threshold − mean ≈ 15; at sf0.1 (N ≈ 600 K) eps 1e-5 gives
      // ≈ 3. The ~11 MB sketch broadcasts once per executor — it
      // never rides a task binary (SketchPayload).
      "l_partkey", threshold = 45L, eps = 1e-5)

  /** Verbatim cross-doc span detection: 32-char windows at stride 8
    * occurring in ≥ 2 documents — substring-level dedup's candidate
    * stage, exact (no sketch), keyed on md5(gram).
    */
  def qSpanOverlap(s: SparkSession, dir: String): DataFrame =
    graft.operators.SpanOverlap.duplicatedSpans(
      tbl(s, dir, "documents"), "doc_id", "text", k = 32, stride = 8)

  /** Z-order layout assignment over the customer point cloud: 1024²
    * fixed cell grid on the (lon, lat) box, Morton interleave
    * (compiled kernel), 64 equal-population buckets — the write-side
    * layout that gives 2-D min/max pruning at scan time, in its
    * deterministic hash-checkable form (the sampled quantile-bin
    * `clusterByZ` is the whole-table path). All-double quantization
    * arithmetic is bit-identical across engines.
    */
  def qZOrderLayout(s: SparkSession, dir: String): DataFrame =
    graft.lake.ZOrder.assignFixedGrid(
      customerPoints(s, dir), "lon", "lat",
      xMin = -180.0, xMax = 180.0, yMin = -5.0, yMax = 50.0,
      cells = 1024, buckets = 64, tieBreak = "c_custkey")

  /** BPE merge statistics: adjacent character-pair counts over the
    * word-frequency table (corpus collapses to vocabulary first —
    * the pair expansion never sees corpus-sized data).
    */
  def qBpePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpePairs.pairCounts(
      tbl(s, dir, "documents"), "text", minCount = 10L)

  /** Deterministic label-propagation communities over the jaccard
    * ≥ 0.9 near-dup graph (same bounded pair generator as q28/q113,
    * both directions), 4 synchronous rounds — topical grouping of a
    * candidate-pair stage, exact vs the unrolled-CTE oracle.
    */
  def qLabelProp(s: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(s, dir)
    // both directions in ONE structural pass over the quadratic pair
    // generator: a union of two selects evaluates it once too, but
    // only because ReusedExchange happens to fire — this form doesn't
    // depend on the optimizer for that guarantee
    val both = pairs.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    graft.operators.LabelPropagation.propagate(both, rounds = 4)
  }

  /** Incremental join-view maintenance: orders and lineitem each
    * split into disjoint base/delta slices by a date pivot; the
    * maintained view (stored base⋈base plus the three delta terms)
    * must equal the from-scratch join — the oracle is the plain
    * join+aggregate over the full tables, proving the delta algebra
    * adds and misses nothing.
    */
  def qIncrementalJoin(s: SparkSession, dir: String): DataFrame = {
    val pivot = lit("1996-01-01").cast("timestamp")
    val orders = tbl(s, dir, "orders").select(
      col("o_orderkey").as("okey"), col("o_orderdate"), col("o_orderpriority"))
    val li = tbl(s, dir, "lineitem").select(
      col("l_orderkey").as("okey"), col("l_shipdate"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)").as("rev"))
    val view = graft.operators.IncrementalJoin.viewDelta(
        orders.filter(col("o_orderdate") < pivot),
        orders.filter(col("o_orderdate") >= pivot),
        li.filter(col("l_shipdate") < pivot),
        li.filter(col("l_shipdate") >= pivot),
        Seq("okey"))
      .unionByName(orders.filter(col("o_orderdate") < pivot)
        .join(li.filter(col("l_shipdate") < pivot), Seq("okey")))
    view.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  /** Exact-quota stratified split: exactly 30% of documents, stratified
    * by language via largest-remainder allocation — hash thresholds
    * (q94/q98) hit fractions in expectation; this one guarantees the
    * count. All-integer allocation + portable md5 ranking = exact.
    */
  def qQuotaSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.exactQuotaSplit(
      tbl(s, dir, "documents").select(col("doc_id"), col("lang")),
      "doc_id", "lang", pct = 30)

  /** SCD2 point-in-time lookup: each event asks "what state was this
    * user in 30 minutes ago?" against the q108 dimension history.
    * Because SCD2 intervals are gapless and non-overlapping per key,
    * interval containment IS a backward as-of join on valid_from —
    * so the lookup composes the two existing operators with no
    * interval-join machinery. Zero-width intervals (several changes
    * in one instant) are dropped first, making valid_from unique per
    * key — containment and latest-valid_from semantics then coincide
    * exactly. Oracle: the literal interval-containment join.
    */
  def qScd2Lookup(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val hist = graft.operators.Scd2.buildHistory(
        ev, "user_id", "ts", "event_type", "event_id")
      .filter(col("valid_to_us").isNull ||
        col("valid_to_us") =!= col("valid_from_us"))
      .select(col("key").as("user_id"), col("state"), col("valid_from_us"))
    val facts = ev.select(col("user_id"), col("event_id"),
      (unix_micros(col("ts")) - lit(1800000000L)).as("lookup_us"))
    graft.operators.AsOfJoin.backward(
        facts, hist, Seq("user_id"), "lookup_us", "valid_from_us",
        rightPayload = Seq("state"), tieBreakCol = "valid_from_us")
      .filter(col("state").isNotNull) // events before the first change
      .select(col("user_id"), col("event_id"), col("state"))
  }

  /** Content-defined chunking: 16-char window hash, p=4/256 boundary
    * rate (mean chunk ≈ 64 chars) — the self-healing chunker whose
    * boundaries re-synchronize after edits.
    */
  def qCdcChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.contentDefined(
      tbl(s, dir, "documents"), "doc_id", "text",
      window = 16, hexThreshold2 = "04")

  /** Gear-hash CDC — the O(1)-per-char rolling scale path, exact
    * against a positional SQL oracle (closed-form trailing-window
    * predicate; see [[graft.operators.Chunking.gearContentDefined]]).
    */
  def qGearChunks(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.gearContentDefined(
      tbl(s, dir, "documents"), "doc_id", "text", maskBits = 6)

  /** Per-domain document cap (Common-Crawl-style max-docs-per-domain):
    * each source keeps at most 15 docs, chosen by the portable md5
    * rank — 15 binds at every test SF (25 docs/source at sf0.01), so
    * the gate exercises the cap, not the identity path.
    */
  def qDomainCap(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.capPerGroup(
      tbl(s, dir, "documents").select(col("doc_id"), col("source")),
      "doc_id", "source", cap = 15)

  /** Top-500 corpus vocabulary + per-doc OOV occurrence rate — the
    * tokenizer-coverage quality signal; vocab broadcast, corpus
    * shuffled once.
    */
  def qVocabOov(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.vocabOovRate(
      tbl(s, dir, "documents"), "doc_id", "text", vocabSize = 500)

  /** Symmetric int8 embedding quantization, exploded to scalar rows —
    * floor/double arithmetic only, exactly oracle-checked.
    */
  def qQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.quantizeInt8(
      tbl(s, dir, "embeddings"), "vec_id", "embedding")

  /** Mean corpus-unigram surprisal per document — decimal-carried
    * per-occurrence weights (the BM25 determinism recipe).
    */
  def qUnigramSurprisal(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.unigramSurprisal(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** Mean corpus-bigram surprisal per document — the sequence-aware
    * quality signal (word-order anomalies), same decimal carry.
    */
  def qBigramSurprisal(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.bigramSurprisal(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** Exact top-20% quality gate over the q81 scores — histogram
    * threshold + boundary top-m, no global sort.
    */
  def qQualityGate(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.topFractionByScore(
      qQualityScore(s, dir), "doc_id", "quality", fraction = 0.2)

  /** Deterministic global training order over the corpus —
    * two-level rank in md5(doc_id:salt) order, no global window.
    */
  def qTrainOrder(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.globalOrderRank(
      tbl(s, dir, "documents"), "doc_id", "order_v1")

  /** Per-source KL divergence from the corpus unigram distribution —
    * the mixture-drift diagnostic, decimal-carried contributions.
    */
  def qDomainDivergence(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.domainDivergence(
      tbl(s, dir, "documents"), "source", "text")

  /** Exact containment relations over the q135 trigram sets —
    * the asymmetric doc-in-doc signal (C = |A∩B|/|A| ≥ 0.7).
    */
  def qContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col("text")))
    val sets = tbl(s, dir, "documents")
      .select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 3)
      .select(col("doc_id"),
        TextFunctions.wordTrigrams(col("_t")).as("grams"))
    graft.operators.Dedup.containmentPairsIndexed(
      sets, "doc_id", "grams", threshold = 0.7)
  }

  /** Per-document character-level Shannon entropy — degenerate-text
    * quality signal, decimal-carried histogram contributions.
    */
  def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    graft.operators.TextSearch.charEntropy(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** Per-doc trigram novelty vs earlier doc ids — marginal-content
    * diagnostic over the q135 trigram sets.
    */
  def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(col("text")))
    val sets = tbl(s, dir, "documents")
      .select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 3)
      .select(col("doc_id"),
        TextFunctions.wordTrigrams(col("_t")).as("grams"))
    graft.operators.TextSearch.ngramNovelty(sets, "doc_id", "grams")
  }

  /** Temperature-scaled (alpha = 0.3) per-source quota allocation of
    * a 1000-doc budget — integer-exact largest remainder.
    */
  def qTemperatureAlloc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.temperatureAllocation(
      tbl(s, dir, "documents"), "source", alpha = 0.3, budget = 1000L)

  /** 7-day-half-life decayed value per user over the events table —
    * lambda passed as a literal (see TimeSeries.decayedSum's contract).
    */
  def qDecayedSum(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.decayedSum(
      RelationalQueries.events(s, dir), "user_id", "ts", "value",
      lambdaPerDay = 0.6931471805599453 / 7.0)

  /** view -> click -> purchase funnel per user: earliest strictly-
    * ordered step times + furthest stage reached.
    */
  def qFunnel(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.funnel(
      RelationalQueries.events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  /** Centroid-margin label-noise scan over the labeled embeddings —
    * negative margin flags likely mislabeled vectors.
    */
  def qLabelMargin(s: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.labelCentroidMargin(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", "label")

  /** int8-quantized cosine top-10 for q31's query batch — scales
    * cancel, so the scan is pure integer arithmetic and the operator
    * hash-checks exactly (unlike float-dot ANN).
    */
  def qQuantizedTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    graft.operators.Similarity.quantizedTopK(emb, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 10)
  }

  /** Frequent-token PMI co-occurrence pairs: corpus-relative integer
    * thresholds (df ≥ N/10, pair ≥ N/25); the only float op is one
    * IEEE division of exact BIGINT products.
    */
  def qPmiCooc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cooccurrence.pmiPairs(
      tbl(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.tokens(lower(col("text"))).as("toks")),
      "doc_id", "toks", dfTimes = 10, pairTimes = 25)

  /** Per-event trailing 1-hour window over the same user's events:
    * velocity/rolling-exposure features, decimal-exact sums.
    */
  def qRollingWindow(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.trailingWindow(
      RelationalQueries.events(s, dir), "event_id", "user_id", "ts",
      "value", windowMicros = 3600000000L)

  /** ROLLUP multi-level aggregate: detail + per-flag subtotal + grand
    * total in one pass (Spark plans a single Expand + one shuffle,
    * not three scans); grouping_id disambiguates real NULLs from
    * rolled-up levels.
    */
  def qRollupAgg(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))

  /** Exact per-group discrete quantiles (percentile_disc semantics:
    * real group members, zero interpolation arithmetic).
    */
  def qGroupQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.groupDiscrete(
      tbl(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq(25, 50, 75, 95))

  /** Per-user event-type pivot: counts (null-safe 0) and decimal-exact
    * value sums widened into one feature row per user.
    */
  def qEventPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val p = RelationalQueries.events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum"))
    p.select(col("user_id") +:
      types.flatMap(t => Seq(
        coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
        col(s"${t}_sum"))): _*)
  }

  /** Key-skew profiler on lineitem's part key: exact Gini + hot-key
    * share — the decide-whether-to-salt diagnostic.
    */
  def qSkewProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.SkewTools.keySkewProfile(
      tbl(s, dir, "lineitem"), "l_partkey")

  /** Robust per-event-type outlier gate: median/MAD discrete
    * selections, |v−med| > 3·MAD flags — not dragged by the outliers
    * themselves (unlike B7's μ+2σ).
    */
  def qRobustOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.robustOutliers(
      RelationalQueries.events(s, dir), "event_type", "value", k = 3.0)

  /** lang × source contingency cells with chi-square contributions —
    * the categorical-drift / independence diagnostic.
    */
  def qChisqCells(s: SparkSession, dir: String): DataFrame =
    graft.operators.Contingency.chiSquareCells(
      tbl(s, dir, "documents"), "lang", "source")

  /** Per-user least-squares value trend over day offsets — the
    * per-entity drift detector, moment sums decimal-exact.
    */
  def qGroupTrend(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.linearTrend(
      RelationalQueries.events(s, dir), "user_id", "ts", "value")

  /** Semi-structured property parsing: from_json over the events
    * `props` column with an explicit schema (malformed → null, ANSI
    * off — reference defensive-cast stance), then exact per-type
    * stats over the extracted field. The JSON path stays inside
    * whole-stage codegen — no UDF.
    */
  def qPropsParse(s: SparkSession, dir: String): DataFrame =
    RelationalQueries.events(s, dir)
      .select(col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("k")).as("n_parsed"),
        sum(col("k")).cast("long").as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        countDistinct(col("k")).as("n_distinct_k"))

  /** Weekly cohort retention grid over events — distinct users per
    * (first-event week, week offset).
    */
  def qCohortRetention(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retention.cohortWeeks(
      RelationalQueries.events(s, dir), "user_id", "ts")

  /** First-order event-type transition matrix over (ts, event_id)-
    * ordered per-user streams: counts + conditional probabilities.
    */
  def qTransitions(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sequences.transitionCounts(
      RelationalQueries.events(s, dir), "user_id", "event_type",
      Seq(col("ts"), col("event_id")))

  /** Hour-of-week seasonal profile of event values per type. */
  def qSeasonalProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.seasonalProfile(
      RelationalQueries.events(s, dir), "event_type", "ts", "value")

  /** Top-20 most frequent 3-event user paths over (ts, event_id)
    * order, ties broken by path.
    */
  def qTopPaths(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sequences.topPaths(
      RelationalQueries.events(s, dir), "user_id", "event_type",
      Seq(col("ts"), col("event_id")), k = 20)

  /** Deterministic bootstrap CI of mean 1995 customer revenue:
    * 200 md5-indexed resamples over the dense c_custkey−1 index.
    */
  def qBootstrapCI(s: SparkSession, dir: String): DataFrame = {
    val rev95 = tbl(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("_y0"))
    // c_custkey is already the dense 0..n−1 index this operator needs
    val units = tbl(s, dir, "customer")
      .join(rev95, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey").cast("long").as("idx"),
        coalesce(col("_y0"), lit(0).cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("y"))
    graft.operators.Experiments.bootstrapMeanCI(
      units, "idx", "y", resamples = 200, "boot_v1")
  }

  /** Personalized PageRank from suppliers 0-4 over the undirected
    * supplier-part graph, 6 fixed-point integer rounds.
    */
  def qPersonalizedPageRank(s: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: the operator dedups AFTER its repartition(src)
    // (hashpartitioning(src) satisfies the (src,dst) dedup
    // distribution — q109's one-shuffle setup), where a .distinct()
    // here would add a whole extra shuffle of the edge list
    val b = tbl(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("s"),
        (col("l_partkey").cast("long") + 10000000L).as("p"))
    val edges = b.select(col("s").as("src"), col("p").as("dst"))
      .union(b.select(col("p").as("src"), col("s").as("dst")))
    val seeds = tbl(s, dir, "lineitem")
      .filter(col("l_suppkey") < 5)
      .select(col("l_suppkey").cast("long").as("node"))
    // undirected graph => every node has an out-edge: the node set is
    // an exchange-free distinct over the src-clustered edge cache
    // convergence exit armed at cadence 3 (one checked round at i=3;
    // see q109's cadence note)
    graft.operators.PageRank.microPersonalizedPageRank(
      edges, seeds, iterations = 6, everyNodeHasOutEdge = true,
      convergeCheckEvery = 3)
  }

  /** CUPED readout: metric = 1995 customer revenue, covariate = 1994
    * revenue, arms = the q172 hash coin; decimal moments, one scan.
    */
  def qCuped(s: SparkSession, dir: String): DataFrame = {
    def revYear(yr: Int, alias: String) = tbl(s, dir, "orders")
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as(alias))
    val units = tbl(s, dir, "customer")
      .select(col("c_custkey"),
        graft.operators.Experiments.abArm(col("c_custkey"), "ab_v1")
          .as("arm"))
      .join(revYear(1994, "_x0"), col("c_custkey") === col("o_custkey"),
        "left_outer").drop("o_custkey")
      .join(revYear(1995, "_y0"), col("c_custkey") === col("o_custkey"),
        "left_outer").drop("o_custkey")
      .select(col("arm"),
        coalesce(col("_x0"), lit(0).cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("x"),
        coalesce(col("_y0"), lit(0).cast("decimal(18,2)"))
          .cast("decimal(18,2)").as("y"))
    graft.operators.Experiments.cuped(units, "arm", "x", "y")
  }

  /** Rolling 7-day distinct active users, exact, at every day the
    * count changes — oracle is the independent quadratic form.
    */
  def qRollingActive(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retention.rollingActiveUsers(
      RelationalQueries.events(s, dir), "user_id", "ts", windowDays = 7)

  /** A/B readout: customers hash-split 50/50, conversion = placed an
    * order in 1995; rates, lift and pooled z from exact counts.
    */
  def qAbTest(s: SparkSession, dir: String): DataFrame = {
    val conv = tbl(s, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey")).distinct()
    val units = tbl(s, dir, "customer")
      .select(col("c_custkey"),
        graft.operators.Experiments.abArm(col("c_custkey"), "ab_v1")
          .as("arm"))
      .join(conv, col("c_custkey") === col("o_custkey"), "left_outer")
      .withColumn("converted", col("o_custkey").isNotNull)
    graft.operators.Experiments.twoProportions(units, "arm", "converted")
  }

  /** Orders-in-flight timeline: interval = order date .. last
    * shipment day (inclusive), boundary-delta concurrency.
    */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val spans = tbl(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("_last"))
      .join(tbl(s, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(to_date(col("o_orderdate")).as("sd"),
        to_date(col("_last")).as("ed"))
    graft.operators.Intervals.concurrencyTimeline(spans, "sd", "ed")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_active"))
  }

  /** Ratio-to-report revenue shares: per-customer revenue with its
    * share of nation and of the whole report — totals by broadcast
    * join of decimal-exact partial sums, not by windows.
    */
  def qRatioToReport(s: SparkSession, dir: String): DataFrame = {
    val rev = tbl(s, dir, "lineitem")
      .join(broadcast(tbl(s, dir, "orders")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(tbl(s, dir, "customer")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(tbl(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(24,6)")).as("_rd"))
    graft.operators.Profiling.ratioToReport(rev, "c_custkey", "n_name", "_rd")
      .select(col("c_custkey"), col("n_name"),
        col("value").as("revenue"),
        col("share_group").as("share_nation"),
        col("share_total"))
  }

  /** Curriculum order: whitespace-token difficulty, 8 md5 shards,
    * interleaved easy→hard global schedule.
    */
  def qCurriculum(s: SparkSession, dir: String): DataFrame = {
    val tok = tbl(s, dir, "documents").select(col("doc_id"),
      graft.functions.TextFunctions.tokenCountArithmetic(col("text"))
        .cast("long").as("n_tokens"))
    graft.operators.Sampling.curriculumOrder(
      tok, "doc_id", "n_tokens", shards = 8, "cur_v1")
  }

  /** Greedy per-source token budget: largest docs first until 800
    * tokens are committed per source (≈60% of each source's corpus
    * is cut, so the gate provably bites).
    */
  def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val tok = tbl(s, dir, "documents").select(col("doc_id"), col("source"),
      graft.functions.TextFunctions.tokenCountArithmetic(col("text"))
        .cast("long").as("n_tokens"))
    graft.operators.Sampling.tokenBudgetSelect(
      tok, "source", "doc_id", "n_tokens", budget = 800L)
  }

  /** Per-user CUSUM drift statistic over event values (allowance
    * k=8.00, alarm h=40.00) — closed-form, one shuffle.
    */
  def qCusum(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.cusum(
      RelationalQueries.events(s, dir), "user_id", "event_id", "ts",
      "value", BigDecimal("8.00"), BigDecimal("40.00"))

  /** Per-supplier winsorization of extended price into the exact
    * discrete [P5, P95] band — zero float arithmetic.
    */
  def qWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantiles.winsorize(
      tbl(s, dir, "lineitem"), "l_suppkey",
      Seq("l_orderkey", "l_linenumber"), "l_extendedprice", 5, 95)

  /** Snapshot diff between two synthetic versions of orders: modulus
    * masks simulate deletes/inserts, literal bumps simulate updates.
    */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderpriority"))
    val oldSnap = base.filter(col("o_orderkey") % 100 =!= 0)
    val newSnap = base.filter(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 13 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 11 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
    graft.operators.SnapshotDiff.diff(oldSnap, newSnap, "o_orderkey",
      Seq("o_orderstatus", "o_totalprice", "o_orderpriority"))
  }

  /** Bounded Bellman-Ford over the weighted supplier-part graph:
    * min path cost (edge weight = min lineitem quantity) from
    * suppliers 0-4 within 4 relaxation rounds.
    */
  def qShortestPaths(s: SparkSession, dir: String): DataFrame = {
    val b = tbl(s, dir, "lineitem")
      .select(
        col("l_suppkey").cast("long").as("s"),
        (col("l_partkey").cast("long") + 10000000L).as("p"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("s", "p").agg(min("q").as("w"))
    val edges = b.select(col("s").as("src"), col("p").as("dst"), col("w"))
      .union(b.select(col("p").as("src"), col("s").as("dst"), col("w")))
    val seeds = tbl(s, dir, "lineitem")
      .filter(col("l_suppkey") < 5)
      .select(col("l_suppkey").cast("long").as("node"))
    graft.operators.ShortestPaths.bounded(edges, seeds, rounds = 4)
  }

  /** Pearson correlation matrix over lineitem's four measures —
    * exact decimal moments, one scan, final IEEE chain.
    */
  def qCorrMatrix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.correlationMatrix(
      tbl(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Retrieval eval: MRR + NDCG@10 per query (relevant = same label),
    * 50 query vectors drawn from the corpus, self-excluded.
    */
  def qRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    graft.operators.RetrievalEval.mrrNdcg(
      emb, emb.filter(col("vec_id") < 50),
      "vec_id", "embedding", "label", k = 10)
  }

  /** Deterministic contrastive negatives: 3 md5-ring draws per doc,
    * self-excluded, reproducible across runs and engines.
    */
  def qNegativePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.negativePairs(
      tbl(s, dir, "documents").select("doc_id"), "doc_id", 3, "negs_v1")

  /** Bounded k-core (k=3, 8 rounds) of the quantity-thinned
    * supplier-part graph — sparse enough that peeling actually
    * cascades (4 rounds to fixed point at sf0.01).
    */
  def qKCore(s: SparkSession, dir: String): DataFrame = {
    val b = tbl(s, dir, "lineitem")
      .filter(col("l_quantity") <= 2)
      .select(
        col("l_suppkey").cast("long").as("s"),
        (col("l_partkey").cast("long") + 10000000L).as("p"))
    val edges = b.select(col("s").as("src"), col("p").as("dst"))
      .union(b.select(col("p").as("src"), col("s").as("dst")))
    graft.operators.KCore.coreMembers(edges, k = 3, rounds = 8)
  }

  /** Multi-source BFS over q109's undirected supplier-part graph:
    * min hop distance from suppliers 0-4, ≤ 4 hops.
    */
  def qBfsHops(s: SparkSession, dir: String): DataFrame = {
    val b = tbl(s, dir, "lineitem").select(
        col("l_suppkey").cast("long").as("s"),
        (col("l_partkey").cast("long") + 10000000L).as("p"))
    val edges = b.select(col("s").as("src"), col("p").as("dst"))
      .union(b.select(col("p").as("src"), col("s").as("dst")))
    val seeds = tbl(s, dir, "lineitem")
      .filter(col("l_suppkey") < 5)
      .select(col("l_suppkey").cast("long").as("node"))
    graft.operators.Bfs.hopDistance(edges, seeds, maxHops = 4)
  }

  /** Leakage-safe train/val/test split: q136's near-dup clusters
    * (trigram-Jaccard edges → connected components) are the split
    * unit — the md5 draw is taken on cluster_id, so every member of a
    * near-dup cluster lands in the SAME split and no duplicate of a
    * training page can leak into val/test.
    */
  def qClusterSplit(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val toks = TextFunctions.tokens(lower(col("text")))
    val sets = docs.select(col("doc_id"), toks.as("_t"))
      .filter(size(col("_t")) >= 3)
      .select(col("doc_id"),
        TextFunctions.wordTrigrams(col("_t")).as("grams"))
    val edges = Dedup.jaccardPairsIndexed(sets, "doc_id", "grams", 0.5)
      .select("id_a", "id_b")
    val clusters = Dedup.duplicateClusters(docs.select("doc_id"), edges,
      "doc_id", "id_a", "id_b")
    graft.operators.Sampling.leakageSafeSplit(clusters, "doc_id", "cluster_id")
  }

  /** CDC fold of the event log into the current per-user snapshot:
    * last writer by (ts, event_id) wins; a final 'error' event acts
    * as the delete marker and removes the user from the snapshot.
    */
  def qCdcApply(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cdc.applyChangeLog(
      RelationalQueries.events(s, dir),
      keyCols = Seq("user_id"),
      orderCols = Seq("ts", "event_id"),
      payloadCols = Seq("event_type", "value"),
      isDelete = col("event_type") === "error")

  /** ~50-row PPS systematic sample of documents by character mass:
    * inclusion probability ∝ n_chars, exact integer stride walk over
    * the md5-shuffled line (sum of multiplicities = exactly 50 here).
    */
  def qPpsSample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.ppsSystematicSample(
      tbl(s, dir, "documents"), "doc_id", "n_chars", k = 50)

  /** Zipf-law fit over the corpus vocabulary: log-log OLS slope of
    * term frequency vs rank (top 1000 terms) on the exact scaled-ln
    * integer lattice — single-row corpus-health statistic.
    */
  def qZipfFit(s: SparkSession, dir: String): DataFrame = {
    val tf = tbl(s, dir, "documents")
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
    graft.operators.Profiling.zipfFit(tf, "term", "f", topN = 1000)
  }

  /** Heaps-law fit: log-log OLS of vocabulary size vs token count
    * over 10 doc-id-decile prefixes — the vocabulary-growth companion
    * to q187's Zipf slope, on the same exact lattice.
    */
  def qHeapsFit(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(lower(col("text"))).as("_t"))
    val docTokens = docs.select(col("doc_id"),
      size(col("_t")).cast("long").as("nt"))
    val firstId = docs.select(col("doc_id"), explode(col("_t")).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_id"))
    graft.operators.Profiling.heapsFit(docTokens, "doc_id", "nt",
      firstId, "first_id")
  }

  /** ROUGE-1 (clipped unigram overlap) scoring each document against
    * the next doc_id of the same source — the generation-eval metric
    * as a set-scale operator: exact integer clipped counts, one IEEE
    * division per metric, rounded at the output edge.
    */
  def qRouge1(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextFunctions.tokens(lower(col("text"))).as("_t"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val pairs = docs
      .withColumn("id_r", lead(col("doc_id"), 1).over(w))
      .filter(col("id_r").isNotNull)
      .select(col("doc_id").as("id_c"), col("id_r"))
    val grams = docs.select(col("doc_id"), explode(col("_t")).as("gram"))
    graft.operators.TextEval.rougeClipped(pairs, grams)
  }

  /** Linear multi-touch attribution ledger: each purchase's value
    * split equally over the user's clicks in the strict-before 7-day
    * window (banded equi join, window count per conversion).
    */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        col("ts").as("conv_ts"), col("value"))
    val touch = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("ts").as("touch_ts"))
    graft.operators.Attribution.linearTouches(conv, touch,
        keys = Seq("user_id"), convId = "conv_id", convTs = "conv_ts",
        touchTs = "touch_ts", valueCol = "value",
        lookbackSeconds = 7L * 24 * 3600)
      .select(col("conv_id"), col("touch_id"), col("user_id"),
        col("n_touches"), col("share"))
  }

  /** The CDC fold run as a real stream (flatMapGroupsWithState, O(1)
    * state per key) and replayed to completion: the emitted snapshot
    * must equal the batch q181 fold row-for-row — MERGE-semantics
    * stream/batch parity, checked against the same SQL oracle.
    */
  def qCdcStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value")),
      df => graft.streaming.EventStreams
        // 90-day horizon > the 30-day event span: no key may time out
        // mid-replay (emit-and-forget would restart its fold count)
        .statefulCdcFold(df, deleteType = "error",
          horizonSeconds = 90L * 24 * 3600)
        .toDF(),
      horizonSeconds = 90L * 24 * 3600 + 3600)
      .filter(col("user_id") =!= -1L)

  /** Per-returnflag weighted median price (weight = quantity, cents
    * integer walk, lower-median convention — zero divisions).
    */
  def qWeightedMedian(s: SparkSession, dir: String): DataFrame =
    graft.operators.WeightedQuantiles.weightedMedian(
      tbl(s, dir, "lineitem").select(
        col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("price_cents"),
        col("l_quantity").cast("long").as("qty"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid")),
      "l_returnflag", "price_cents", "qty", "rid")

  /** Exact Gini coefficient of document token mass (n_chars):
    * concentration statistic via the two-level global rank, three
    * decimal-exact moments, one division.
    */
  def qGini(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.giniCoefficient(
      tbl(s, dir, "documents"), "doc_id", "n_chars")

  /** Media-struct dedup ledger: group by the media column's sha-256
    * payload checksum (the §7.5 multimodal contract's identity key),
    * min-id survivor + copy count per group. Duplicate payloads
    * collapse when present; the per-payload checksum parity itself is
    * what the oracle pins (Spark sha2 over the UTF-8 payload bytes ≡
    * DuckDB sha256 over the VARCHAR).
    */
  def qMediaDedup(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"), graft.multimodal.Multimodal
        .asMedia(col("text").cast("binary"), lit("text/plain")).as("media"))
      .groupBy(col("media.checksum").as("checksum"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Per-event seasonal anomaly z (value vs its own hour-of-week
    * cell): exact cent-quantized moments, IEEE-exact sqrt, one chain.
    */
  def qSeasonalAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.seasonalAnomaly(
      RelationalQueries.events(s, dir),
      "event_id", "event_type", "ts", "value")

  /** END-TO-END pretraining data prep as ONE hash-checked query —
    * the composition a training pipeline actually runs: quality gate
    * (q81's score, keep ≥ 0.5) → exact content dedup (min-id
    * survivor, grouped by sha2 so full text never keys the shuffle)
    * → stable hash split (q94's md5 rule, keep the train fraction) →
    * q95's 512-token sequence packing via the two-level exact prefix
    * sum. Each stage is individually oracle-proven; this pins the
    * composition and its cross-stage contracts (dedup sees only gated
    * docs, the split draws on the SURVIVOR's id, pack offsets run
    * over the train subset alone).
    */
  def qTrainingPrep(s: SparkSession, dir: String): DataFrame = {
    val gated = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .withColumn("_q",
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")))
      .filter(col("_q") >= 0.5)
      .select(col("doc_id"), col("text"))
    val survivors = gated
      .groupBy(sha2(col("text"), 256).as("_h"))
      .agg(min(struct(col("doc_id"), col("text"))).as("_m"))
      .select(col("_m.doc_id").as("doc_id"), col("_m.text").as("text"))
    val train = survivors.filter(
      graft.operators.Sampling.splitColumn(col("doc_id"), "split_v1")
        === "train")
    val withTok = train.select(col("doc_id"),
      TextFunctions.tokenCountArithmetic(col("text")).as("n_tokens"))
    graft.operators.Packing.packByTokenBudget(withTok, "doc_id",
      "n_tokens", 512L)
  }

  /** Diversity-balanced eval-set selection: q183's integer k-means
    * clusters become the strata of q122's exact-quota sampler — a
    * 20% sample whose cluster proportions are integer-exact
    * (largest-remainder), so no embedding region is over/under-drawn.
    * Pure composition of two oracle-proven operators.
    */
  def qClusterSample(s: SparkSession, dir: String): DataFrame = {
    val clusters = graft.operators.Clustering.quantizedKMeans(
        tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 4, rounds = 3)
      .select(col("vec_id"), col("cluster"))
    graft.operators.Sampling.exactQuotaSplit(clusters, "vec_id", "cluster",
      pct = 20, salt = "cluster_sample_v1")
  }

  /** 3-round integer Lloyd's over the 64-dim embeddings (k=4):
    * quantize → md5-seeded init → broadcast argmin → integer-mean
    * update, all in BIGINT so the fixed point is bit-reproducible
    * and the full iteration hash-checks against an unrolled oracle.
    */
  def qKmeansQuant(s: SparkSession, dir: String): DataFrame =
    graft.operators.Clustering.quantizedKMeans(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 4, rounds = 3)

  /** Full-domain k-anonymity (k=6) of customer account balance
    * against the (nation, segment) quasi-identifier: widths 2000/5000
    * then full suppression, ONE level per QI group (the smallest at
    * which every bucket of the group clears k, so the released table
    * itself is k-anonymous); `band` is the released label ('*' when
    * suppressed). At sf0.01, 212 rows release at level 1, the rest
    * suppress, and 10 rows stay non-anonymous even suppressed (their
    * QI combo is rarer than k) — the row-suppression set a release
    * pipeline must drop.
    */
  def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.kAnonymityGeneralize(
        tbl(s, dir, "customer"), "c_custkey",
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal",
        widths = Seq(2000.0, 5000.0), k = 6)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
        col("level"),
        when(col("bucket").isNull, lit("*"))
          .otherwise(col("bucket").cast("string")).as("band"),
        col("group_n"), col("anonymous"))

  /** SemDeDup over the embedding corpus: portable md5-rank quantizer
    * cells, within-cell cosine ≥ 0.4 against lower-id members, keep =
    * no duplicate found. Cell-bounded pairwise — the scale story —
    * and every decision SQL-reproducible (see
    * [[graft.operators.SemanticDedup]]).
    */
  def qSemanticDedup(s: SparkSession, dir: String): DataFrame =
    // secondLevelSplit off: the DuckDB oracle mirrors the 16
    // first-level cells verbatim, so the skew split must not engage
    // here at ANY corpus size (it would diverge exactly when a cell
    // outgrew 2·targetCellSize); the scale path keeps the default
    graft.operators.SemanticDedup.semanticDedup(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      nlist = 16, threshold = 0.4, secondLevelSplit = false)

  /** SemDeDup threshold calibration (q341): the calibrate-before-
    * commit pattern applied to the last un-tabled knob — per
    * threshold ∈ {1/4, 3/8, 1/2, 5/8, 3/4} (exact binary doubles)
    * the docs the dedup would remove and the corpus share. Cells +
    * within-cell pairwise computed ONCE (the per-doc max lower-id
    * cosine IS the sufficient statistic: semanticDedup(t) removes
    * exactly max ≥ t); q195's pinned quantizer config so the DuckDB
    * mirror replays the first level verbatim.
    */
  def qSemDedupThresholdCalibration(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemanticDedup.thresholdCalibration(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      nlist = 16, secondLevelSplit = false)

  /** SemDeDup threshold COMMIT (q342): the q338/q339 rule on q341's
    * table — the smallest (most aggressive) threshold whose removal
    * share stays within the 10% budget, exact-integer test
    * (removed·10⁶ ≤ 100000·n_docs), fallback to the mildest
    * threshold flagged. The row a dedup pipeline actually reads.
    */
  def qSemDedupThresholdSelect(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemanticDedup.thresholdSelect(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      nlist = 16, secondLevelSplit = false)

  /** Calibrate→commit→APPLY (q343): [[qSemanticDedup]] run AT the
    * threshold [[qSemDedupThresholdSelect]] commits, the 1-row commit
    * broadcast-joined in-engine — cells and the within-cell pairwise
    * computed ONCE for both the calibration profile and the dedup
    * decision. q195's pinned quantizer config so the DuckDB mirror
    * nests the q342 commit CTEs verbatim; every output row carries
    * the committed threshold, so the hash check proves the commit
    * actually drove the dedup.
    */
  def qSemDedupApplyCommitted(s: SparkSession, dir: String): DataFrame =
    graft.operators.SemanticDedup.semanticDedupAtCommitted(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      nlist = 16, secondLevelSplit = false)

  /** SemDeDup threshold calibration under the SHIPPED scale config
    * (q345): q341 calibrates the q195 legacy quantizer (nlist=16, no
    * split) to share its mirror; the threshold a production run would
    * commit must be calibrated under the config it ships with — the
    * corpus-derived two-level quantizer on q328's planted-skew corpus
    * (r15 verdict #2). Same calibrate-once contract; the mirror
    * replays BOTH quantizer levels (the q328 CTEs) under the profile
    * readout.
    */
  def qSemDedupThresholdCalibrationScale(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedSkewEmbeddings(s, dir)
    graft.operators.SemanticDedup.thresholdCalibration(
      planted, "vec_id", "vec", targetCellSize = 8L,
      nCorpus = graft.core.CorpusStats.rowCount(
        dir + ":embeddings:semdedup_planted", planted))
  }

  /** The scale-config threshold COMMIT (q346): the q342 rule on
    * q345's table. Read against q342: a threshold committed under the
    * 16-cell legacy quantizer can differ from the one the two-level
    * scale config commits (cells bound which pairs are ever
    * compared) — this row is the one a 100-TB run would use.
    */
  def qSemDedupThresholdSelectScale(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedSkewEmbeddings(s, dir)
    graft.operators.SemanticDedup.thresholdSelect(
      planted, "vec_id", "vec", targetCellSize = 8L,
      nCorpus = graft.core.CorpusStats.rowCount(
        dir + ":embeddings:semdedup_planted", planted))
  }

  /** The full production composition (q347): calibrate → commit →
    * APPLY under the shipped scale config on q328's corpus — the
    * dedup a 100-TB pipeline would actually run, at the threshold its
    * own calibration commits, decision row joined in-engine.
    */
  def qSemDedupApplyCommittedScale(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedSkewEmbeddings(s, dir)
    graft.operators.SemanticDedup.semanticDedupAtCommitted(
      planted, "vec_id", "vec", targetCellSize = 8L,
      nCorpus = graft.core.CorpusStats.rowCount(
        dir + ":embeddings:semdedup_planted", planted))
  }

  /** SemDeDup SCALE path (q328): the shipped default configuration —
    * corpus-DERIVED nlist (targetCellSize = 8) WITH the second-level
    * skew split engaged — hash-checked end to end (q195 pins the
    * legacy fixed-nlist/no-split config; this query covers what
    * actually ships at scale). The fixture plants exactly the skew
    * the split exists for: rows whose first-level md5 draw key is ≥
    * 'd' (≈3/16 of the corpus — never drawn as centroids, which are
    * the k ≈ n/8 SMALLEST keys) swap their embedding for a tight
    * far-away 8-dim cluster with an exact per-id lattice jitter, so
    * one first-level cell captures the whole clump, breaches
    * 2·targetCellSize, and re-partitions among its own md5-ranked
    * members; everyone else keeps their first 8 real dims. Every
    * decision — both quantizer levels, the composite cell id, the
    * within-cell cosine prune — is replayed verbatim by the DuckDB
    * oracle.
    */
  def qSemanticDedupSplit(s: SparkSession, dir: String): DataFrame = {
    val planted = plantedSkewEmbeddings(s, dir)
    graft.operators.SemanticDedup.semanticDedup(
      planted, "vec_id", "vec", threshold = 0.4, targetCellSize = 8L,
      nCorpus = graft.core.CorpusStats.rowCount(
        dir + ":embeddings:semdedup_planted", planted))
  }

  /** q328's planted-skew fixture, shared with its threshold-tuning
    * twins (q345-q347) so the corpus the scale-config calibration
    * runs on is BY CONSTRUCTION the corpus the scale-config dedup
    * runs on — rows whose first-level md5 draw key is ≥ 'd' swap
    * their embedding for a tight far-away 8-dim cluster (exact
    * per-id lattice jitter), everyone else keeps their first 8 real
    * dims; see [[qSemanticDedupSplit]].
    */
  private def plantedSkewEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val clump = md5(concat(col("vec_id").cast("string"),
      lit(":semdedup_v1"))) >= "d"
    tbl(s, dir, "embeddings").select(col("vec_id"),
      when(clump,
        transform(sequence(lit(0), lit(7)), j =>
          lit(1000.0) + ((col("vec_id") * 7 + j * 13) % 97)
            .cast("double") / lit(1024.0)))
        .otherwise(transform(slice(col("embedding"), 1, 8),
          x => x.cast("double"))).as("vec"))
    // the planted fixture keys the stats memo under its OWN tag (it
    // happens to be a 1:1 projection of embeddings, but the memo
    // contract is frame-honest keys, never the source table's) —
    // every caller passes nCorpus via the same
    // ":embeddings:semdedup_planted" tag
  }

  /** Linear quality-classifier scoring: pinned-coefficient logit over
    * ratio features, decision on the raw logit (no transcendentals —
    * see [[graft.operators.QualityModel]]).
    */
  def qQualityFilter(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityModel.score(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** Interpolated Kneser-Ney bigram LM estimated over the corpus —
    * every observed bigram with its smoothed probability (see
    * [[graft.operators.LanguageModel]]).
    */
  def qKnBigram(s: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.knBigramProbs(
      tbl(s, dir, "documents"), "text")

  /** CCNet-style perplexity filtering: per-doc mean negative
    * log-probability under the corpus's own KN bigram model, on the
    * q187 ln-lattice (see [[graft.operators.LanguageModel]]).
    */
  def qPerplexity(s: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.perplexityScore(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** Min-K% probability membership audit (q312): the q198 KN model's
    * ln-lattice log-probs, per-doc bottom-20% mean vs the full mean —
    * the contamination-forensics pair.
    */
  def qMinKProb(s: SparkSession, dir: String): DataFrame =
    graft.operators.LanguageModel.minKProbScore(
      tbl(s, dir, "documents"), "doc_id", "text", kNum = 1, kDen = 5)

  /** MMR diversified top-5 over a 30-candidate dense-retrieval pool
    * (λ = 0.7) for the first five vectors as queries — the whole
    * greedy trajectory is hash-checked (see [[graft.operators.Mmr]]).
    */
  def qMmr(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    graft.operators.Mmr.mmrTopK(emb, queries, "vec_id", "embedding",
      "query_id", "qvec", k = 5, poolSize = 30, lambda = 0.7)
  }

  /** Entity resolution as ONE composed, oracle-checked query:
    * length-banded edit-distance blocking (q52's operator) → match
    * edges at levenshtein ≤ 2 → distributed connected components
    * (q60's operator) → entity id (min member), member count, and the
    * canonical-row flag. The record-linkage pipeline a data-cleaning
    * stack runs, with the transitive closure verified against a
    * recursive-CTE oracle.
    */
  def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    val parts = tbl(s, dir, "part").filter(col("p_partkey") < 1000)
    val a = parts.select(col("p_partkey").as("id_a"), col("p_name").as("name_a"))
    val b = parts.select(col("p_partkey").as("id_b"), col("p_name").as("name_b"))
    val edges = graft.operators.FuzzyJoin
      .editDistanceJoin(a, b, "name_a", "name_b", maxDist = 2)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val cc = Dedup.duplicateClusters(parts.select(col("p_partkey")), edges,
      "p_partkey", "id_a", "id_b")
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_members"))
    cc.join(sizes, Seq("cluster_id"))
      .select(col("p_partkey"), col("cluster_id").as("entity_id"),
        col("n_members"),
        (col("p_partkey") === col("cluster_id")).as("is_canonical"))
  }

  /** Greedy k-center coreset (8 centers) over the embedding corpus —
    * the full farthest-point trajectory hash-checks (see
    * [[graft.operators.Coreset]]).
    */
  def qKCenterCoreset(s: SparkSession, dir: String): DataFrame =
    graft.operators.Coreset.kCenterCoreset(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", k = 8)

  /** Per-dimension PSI between the even/odd vec_id cohorts — the
    * serving-side drift alarm (see [[graft.operators.Drift]]).
    */
  def qPsiDrift(s: SparkSession, dir: String): DataFrame =
    graft.operators.Drift.psiByDimension(
      tbl(s, dir, "embeddings")
        .withColumn("_cohort", col("vec_id") % 2 === 0),
      "vec_id", "embedding", "_cohort")

  /** Hard-negative mining for contrastive training: per query, the 10
    * most-similar candidates inside the cosine band [0.15, 0.35] —
    * close enough to be informative, far enough to be true negatives
    * (the complement of q160's ring draws: similarity-targeted rather
    * than uniform).
    */
  def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_cos").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("_cos", VectorFunctions.cosine(col("embedding"), col("qvec")))
      .filter(col("_cos").between(0.15, 0.35))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("vec_id"),
        round(col("_cos"), 6).as("cosine_sim"), col("rank"))
  }

  /** Deterministic random-walk corpus over the supplier-part bipartite
    * graph (the q109/q157 edge set), 3 walks × 4 steps from suppliers
    * 0-4 — graph-to-sequence data prep (see
    * [[graft.operators.RandomWalks]]).
    */
  def qRandomWalks(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val b = li.select(col("l_suppkey").cast("long").as("s"),
        (col("l_partkey").cast("long") + 10000000L).as("p")).distinct()
    val edges = b.select(col("s").as("src"), col("p").as("dst"))
      .unionByName(b.select(col("p").as("src"), col("s").as("dst")))
    val seeds = li.filter(col("l_suppkey") < 5)
      .select(col("l_suppkey").cast("long").as("seed")).distinct()
    graft.operators.RandomWalks.walks(edges, "src", "dst",
      seeds, "seed", walksPerSeed = 3, steps = 4)
  }

  /** Right-to-be-forgotten deletion audit: given a subject blocklist
    * (users 0-9), the per-table before/deleted/after counts a
    * compliance run must produce ACROSS every table carrying the
    * subject key — here the event stream and the user dimension (the
    * q167 customer-derived dim). Each table is one scan with a
    * conditional count; the audit is the artifact, the deletes
    * themselves are the same predicates as anti-joins.
    */
  def qDeletionAudit(s: SparkSession, dir: String): DataFrame = {
    def audit(df: DataFrame, keyCol: String, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_before"),
          sum(when(col(keyCol) < 10, 1L).otherwise(0L)).as("n_deleted"))
        .select(lit(name).as("table_name"), col("n_before"), col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"))
    val ev = RelationalQueries.events(s, dir)
    val dim = tbl(s, dir, "customer").filter(col("c_custkey") <= 150)
      .select((col("c_custkey") - 1).as("user_id"))
    audit(ev, "user_id", "events")
      .unionByName(audit(dim, "user_id", "user_dim"))
  }

  /** Laplace-mechanism noisy count release (the DP release SHAPE with
    * a pluggable noise source): per event type, the true count plus
    * integer-rounded Laplace(b = 1/ε) noise drawn by inverse CDF from
    * a uniform derived of md5 — deterministic HERE so the mechanism
    * itself is hash-checkable end to end (a production run swaps the
    * md5 uniform for a calibrated RNG; determinism is a test harness
    * property, NOT a privacy claim). The ln lands on the q187
    * lattice; u = 60-bit md5 integer / 2⁶⁰ (an exact power-of-two
    * division), noise = −b·sign(u−½)·ln(1−2|u−½|).
    */
  def qDpCounts(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.1
    val b = 1.0 / eps
    val u = (conv(substring(md5(concat(col("event_type"), lit(":dp_v1"))),
        1, 15), 16, 10).cast("double")
      / lit(Math.pow(2.0, 60.0)))
    val arg = lit(1.0) - lit(2.0) * abs(u - 0.5)
    val lt = round(log(arg) * 1e8).cast("long")
    val noise = lit(-b) * signum(u - 0.5) * (lt.cast("double") / 1e8)
    RelationalQueries.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("_n"))
      .select(col("event_type"),
        (col("_n") + round(noise).cast("long")).as("noisy_count"),
        lit(eps).as("epsilon"))
  }

  /** ANN quality measured IN-ENGINE: recall of the portable sign-LSH
    * blocking against the exhaustive ground truth at the same
    * threshold — the honesty metric an ANN deployment tracks. Because
    * both sides are themselves SQL-replayable (q29/q93), the metric
    * row hash-checks — recall is not just spec-asserted, it is part
    * of the verified surface. Precision is 1 by construction (the
    * LSH path re-verifies exact cosine).
    */
  def qLshRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    val lsh = graft.operators.PortableSignLsh.nearDupPairs(
        emb, "vec_id", "embedding", dim = 64, numPlanes = 6, threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    val exact = Dedup.embeddingVerifyExhaustive(emb, "vec_id", "embedding",
        threshold = 0.4)
      .select(col("id_a"), col("id_b"))
    exact.join(lsh.withColumn("_f", lit(1)), Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("_f"), lit(0))).cast("long").as("n_found"),
        round(sum(coalesce(col("_f"), lit(0))).cast("double")
          / count(lit(1)).cast("double"), 6).as("recall"))
  }

  /** Streaming windowed top-k: the bounded-heap custom aggregate
    * (q50's TypedImperativeAggregate) running INSIDE a watermarked
    * streaming window — per 5-minute window and event type, the top-3
    * events by value, emitted on window close. k entries per group
    * survive partial aggregation AND the state-store round-trip (the
    * buffer serializes into RocksDB state between micro-batches), so
    * streaming top-k needs no per-window sort anywhere. Batch-parity
    * oracle: the window row_number form.
    */
  def qStreamTopK(s: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.replayToTable(
      RelationalQueries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value")),
      df => df.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(graft.functions.expressions.TopKByAgg
          .topKBy(col("value"), col("event_id"), 3).as("top"))
        .select(
          date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), posexplode(col("top")))
        .select(col("window_start"), col("event_type"),
          (col("pos") + 1).cast("int").as("rank"),
          col("col.id").as("event_id"), col("col.score").as("value")),
      horizonSeconds = 600)
      .filter(col("event_type") =!= "_sentinel")

  /** Per-language subword fertility — the tokenizer-health metric a
    * multilingual pipeline tracks (how many subword pieces per
    * whitespace token; rising fertility flags a vocabulary that
    * under-serves a language). Integer sums, one IEEE division per
    * language.
    */
  def qSubwordFertility(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("lang"),
        TextFunctions.tokenCountArithmetic(col("text")).as("_nt"),
        TextFunctions.subwordCount(col("text")).as("_ns"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_nt")).as("total_tokens"),
        sum(col("_ns")).as("total_subwords"))
      .withColumn("fertility",
        round(col("total_subwords").cast("double")
          / col("total_tokens").cast("double"), 6))

  /** Quality-gate yield curve: survivors and yield at each candidate
    * threshold, per source — the sweep that picks the gate BEFORE
    * committing to one (q134 then applies the chosen cut exactly).
    * Thresholds compare against the 6-dp-rounded score, so the curve
    * is engine-stable.
    */
  def qGateYieldCurve(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .withColumn("_q", TextFunctions.qualityScoreFrom(col("text"), col("_toks")))
    d.select(col("source"), col("_q"),
        explode(array((3 to 8).map(t => lit(t / 10.0)): _*)).as("threshold"))
      .groupBy(col("source"), col("threshold"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_q") >= col("threshold"), 1L).otherwise(0L))
          .as("survivors"))
      .withColumn("yield_frac",
        round(col("survivors").cast("double") / col("n_docs").cast("double"), 6))
  }

  /** Weak-supervision majority vote (Snorkel-style labeling-function
    * aggregation): three heuristic labelers — English-language,
    * in-length-band, above-quality — vote per document; the label
    * model here is plain majority with an agreement confidence. All
    * integer votes plus one division; the real pattern is N labeling
    * functions as columns, aggregated without ever leaving the scan.
    */
  def qWeakLabels(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
    val l1 = when(col("lang") === "en", 1).otherwise(0)
    val l2 = when(TextFunctions.tokenCountArithmetic(col("text"))
      .between(50, 400), 1).otherwise(0)
    val l3 = when(TextFunctions.qualityScoreFrom(col("text"), col("_toks"))
      >= 0.6, 1).otherwise(0)
    d.select(col("doc_id"), l1.as("lf_lang"), l2.as("lf_len"), l3.as("lf_quality"))
      .withColumn("votes", col("lf_lang") + col("lf_len") + col("lf_quality"))
      .withColumn("label", (col("votes") >= 2).cast("int"))
      .withColumn("confidence", round(
        when(col("label") === 1, col("votes").cast("double") / 3.0)
          .otherwise((lit(3) - col("votes")).cast("double") / 3.0), 6))
  }

  /** Rendezvous (highest-random-weight) sharding with a rebalance
    * diff: each doc's shard under k=8 and k=9 is the argmax over
    * shards of md5(doc_id ":" shard) — the consistent-assignment
    * scheme whose defining property is MINIMAL MOVEMENT (only docs
    * whose new shard IS the added shard move; ~1/(k+1) of the corpus).
    * The moved flag makes that property part of the hash-checked
    * surface. Pure per-row column algebra — the assignment needs no
    * ring state, no shuffle, and is identical on any engine.
    */
  def qRendezvousShards(s: SparkSession, dir: String): DataFrame = {
    def shard(k: Int): org.apache.spark.sql.Column = {
      // argmax over shards of (md5 hex, shard) — lexicographic max on
      // the 32-hex digest, ties (impossible in practice) to shard id
      val scored = transform(sequence(lit(0), lit(k - 1)),
        j => struct(md5(concat(col("doc_id").cast("string"), lit(":"),
          j.cast("string"))).as("h"), j.as("j")))
      array_max(scored).getField("j")
    }
    tbl(s, dir, "documents")
      .select(col("doc_id"), shard(8).as("shard_k8"), shard(9).as("shard_k9"))
      .withColumn("moved", col("shard_k8") =!= col("shard_k9"))
  }

  /** Session-gap audit: per user, the inter-event gap profile — count
    * of gaps, the largest gap, and the exact discrete P95 gap (the
    * member at ⌈0.95·n⌉ in (gap, event_id) order — tie-proof, no
    * interpolation, the q149 convention). This is the measurement
    * that SIZES the sessionization timeout (q33/q71's 30-minute gap)
    * before deploying it: pick the timeout above the P95 of
    * within-session gaps. One keyed window + one keyed aggregate —
    * everything partitions by user.
    */
  def qSessionGapAudit(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val gaps = RelationalQueries.events(s, dir)
      .withColumn("_gap",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("_gap").isNotNull)
      .select(col("user_id"), col("event_id"), col("_gap"))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("_gap").asc, col("event_id").asc)
    val stats = gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), max(col("_gap")).as("max_gap_us"))
    gaps.withColumn("_rn", row_number().over(wRank))
      .join(stats, Seq("user_id"))
      .filter(col("_rn") === ceil(col("n_gaps") * 0.95).cast("long"))
      .select(col("user_id"), col("n_gaps"), col("max_gap_us"),
        col("_gap").as("p95_gap_us"))
  }

  /** Per-label embedding pooling — the class-centroid/prototype step
    * retrieval and few-shot pipelines run (mean-pool for prototypes,
    * max-pool for salient-feature signatures). Order-independent by
    * the q143 recipe: components round to 6 dp and carry as DECIMAL
    * through the mean's sum (one division at the end); max-pool is
    * order-free by nature. One narrow posexplode + one (label, dim)
    * aggregation — no pairwise anything.
    */
  def qEmbeddingPool(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "_x")))
      .select(col("label"), col("dim"),
        round(col("_x").cast("double"), 6).cast("decimal(20,6)").as("_v"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        round((sum(col("_v")).cast("double")
          / count(lit(1)).cast("double")), 6).as("mean_pool"),
        round(max(col("_v")).cast("double"), 6).as("max_pool"))

  /** Corpus datasheet: the per-source report a dataset card quotes —
    * doc/token totals, exact-duplicate volume (sha-256 within
    * source), language spread, mean quality (6-dp scores
    * decimal-summed, so the mean is order-independent). One pass plus
    * one hash-group side aggregate.
    */
  def qCorpusReport(s: SparkSession, dir: String): DataFrame = {
    val d = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .withColumn("_q", TextFunctions.qualityScoreFrom(col("text"), col("_toks")))
      .withColumn("_ntok", TextFunctions.tokenCountArithmetic(col("text")))
    val dups = d.groupBy(col("source"), sha2(col("text"), 256).as("_sha"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") > 1)
      .groupBy(col("source")).agg(sum(col("_c")).as("_dups"))
    d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        round(sum(col("_q").cast("decimal(18,6)")).cast("double")
          / count(lit(1)).cast("double"), 6).as("avg_quality"))
      .join(dups, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("total_tokens"),
        coalesce(col("_dups"), lit(0L)).as("n_dup_docs"),
        col("n_langs"), col("avg_quality"))
  }

  /** Cross-document repeated 8-gram spans (Lee et al. 2022 span-dedup
    * shape) — the maximal boilerplate passages shared by ≥ 2 docs.
    */
  def qRepeatedSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.RepeatedSpans.repeatedSpans(
      tbl(s, dir, "documents"), "doc_id", "text", k = 8, minDocs = 2)

  /** Full-corpus repeated-token budget: what fraction of each
    * document a span-level dedup cut would remove.
    */
  def qRepeatedBudget(s: SparkSession, dir: String): DataFrame =
    graft.operators.RepeatedSpans.repeatedTokenBudget(
      tbl(s, dir, "documents"), "doc_id", "text", k = 8, minDocs = 2)

  /** DSIR hashed-unigram importance log-weights, target = English
    * slice ("select raw documents that look like the en corpus").
    */
  def qDsirWeights(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.importanceLogWeights(
      tbl(s, dir, "documents"), "doc_id", "text",
      targetPred = col("lang") === "en", buckets = 256)

  /** Gopher-style heuristic rule battery with per-rule verdicts. */
  def qGopherRules(s: SparkSession, dir: String): DataFrame =
    graft.operators.HeuristicFilters.gopherRules(
      tbl(s, dir, "documents"), "doc_id", "text", minWords = 10)

  /** UniMax epoch-capped token-budget allocation across sources. */
  def qUnimaxAlloc(s: SparkSession, dir: String): DataFrame =
    graft.operators.Unimax.allocate(
      tbl(s, dir, "documents"), "source", "text",
      budgetFrac = 0.5, maxEpochs = 4)

  /** Encoding-hygiene audit over deterministically planted corruption
    * (the corpus itself is clean ASCII — the q97 synthetic-PII
    * pattern): docs ≡ 0 mod 4 get mojibake digraphs, ≡ 1 replacement
    * chars, ≡ 2 a C1 control; ≡ 3 stay clean.
    */
  def qEncodingAudit(s: SparkSession, dir: String): DataFrame = {
    val planted = tbl(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0, lit(" caf\u00C3\u00A9 na\u00C3\u00AFve"))
          .when(pmod(col("doc_id"), lit(4)) === 1, lit(" bad\uFFFDchar\uFFFD"))
          .when(pmod(col("doc_id"), lit(4)) === 2, lit(" ctl\u0085end"))
          .otherwise(lit(""))).as("text"))
    graft.operators.HeuristicFilters.encodingAudit(planted, "doc_id", "text")
  }

  /** KMV bottom-k distinct-user sketch per event type, with the
    * relative-error contract checked in-row.
    */
  def qKmvDistinct(s: SparkSession, dir: String): DataFrame =
    graft.operators.Kmv.distinctEstimate(
      RelationalQueries.events(s, dir), "event_type", "user_id", k = 64)

  /** Winnowing fingerprint selection (MOSS sketch), k=4 w=4. */
  def qWinnowFp(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.fingerprints(
      tbl(s, dir, "documents"), "doc_id", "text", k = 4, w = 4)

  /** Winnowing sketch density accounting per document. */
  def qWinnowProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.sketchProfile(
      tbl(s, dir, "documents"), "doc_id", "text", k = 4, w = 4)

  /** Margin-based bitext mining: the 8 probe vectors against the
    * remainder corpus, re-ranked by the Artetxe-Schwenk margin.
    */
  def qBitextMargin(s: SparkSession, dir: String): DataFrame = {
    val emb = tbl(s, dir, "embeddings")
    graft.operators.BitextMining.marginMine(
      emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
      "vec_id", "embedding", k = 4)
  }

  /** The hygiene-audit corpus: documents plus deterministically
    * planted duplication (the corpus itself has none — the q97/q221
    * planting pattern): docs ≡ 0 mod 7 gain a verbatim cross-source
    * mirror copy (mod 7 is coprime to the source cycle, so mirrors
    * spray across every source), docs ≡ 1 mod 7 a formatting variant (trailing
    * space — canonical-equal, raw-sha-distinct).
    */
  private def plantedDupDocs(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("source"))
    val mirror = base.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
        lit("src_mirror").as("source"))
    val variant = base.filter(pmod(col("doc_id"), lit(7)) === 1)
      .select((col("doc_id") + 200000L).as("doc_id"),
        concat(col("text"), lit(" ")).as("text"), col("source"))
    base.unionByName(mirror).unionByName(variant)
  }

  /** Formatting-invariant duplicate groups over the planted corpus. */
  def qCanonicalDups(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusHygiene.canonicalDuplicates(
      plantedDupDocs(s, dir), "doc_id", "text")

  /** Cross-source verbatim-contamination matrix. */
  def qCrossSourceDups(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusHygiene.crossSourceDupMatrix(
      plantedDupDocs(s, dir), "text", "source")

  /** Split-leakage audit: verbatim texts straddling hash splits. */
  def qSplitLeakage(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusHygiene.splitLeakage(
      plantedDupDocs(s, dir), "doc_id", "text")

  /** Mixed-language marker-vote audit over the raw corpus. */
  def qLanguageMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusHygiene.languageMix(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** A-ES weighted reservoir: 50 docs sampled ∝ n_chars without
    * replacement, through the bounded-heap top-k aggregate.
    */
  def qWeightedReservoir(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.weightedReservoir(
      tbl(s, dir, "documents"), "doc_id", "n_chars", k = 50)

  /** Degree assortativity of the supplier–part co-supply graph (the
    * q109 edge construction — strongly disassortative, as any
    * bipartite incidence graph must be).
    */
  def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val b = tbl(s, dir, "lineitem").select(
      col("l_suppkey").cast("long").as("s"),
      (col("l_partkey").cast("long") + 10000000L).as("p"))
    val edges = b.select(col("s").as("src"), col("p").as("dst"))
      .union(b.select(col("p").as("src"), col("s").as("dst")))
    graft.operators.GraphStats.degreeAssortativity(edges, "src", "dst")
  }

  /** STREAMING drift monitor: per-5-minute-window event-type PSI
    * against the whole-corpus reference shares — the windowed counts
    * come from a real watermarked streaming aggregate (the q78
    * replay harness); the PSI lattice math runs downstream of the
    * stream, exactly where a monitoring job would put it.
    */
  def qStreamPsi(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
    val winCounts = graft.streaming.EventStreams.replayToTable(
      ev,
      df => df.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "5 minutes").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"), col("event_type"), col("n")),
      horizonSeconds = 600)
      .filter(col("event_type") =!= "_sentinel")
    val ref = RelationalQueries.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    graft.operators.Drift.psiCategorical(
      winCounts, "window_start", "event_type", "n", ref)
  }

  /** Sentence stats + Flesch reading ease over sentence-punctuated
    * text (the corpus is punctuation-free — the q97 planting pattern
    * appends doc_id-varying sentence tails so segmentation is
    * non-vacuous).
    */
  def qSentenceStats(s: SparkSession, dir: String): DataFrame = {
    val planted = tbl(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(". A short tail follows here. Done now!"))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            lit(". Only one more tail?"))
          .otherwise(lit(""))).as("text"))
    graft.operators.Readability.sentenceStats(planted, "doc_id", "text")
  }

  /** Template (shared-header) clusters: docs ≡ 2 mod 7 gain a
    * prefix-sharing variant (same first 8 tokens, synthetic body) —
    * the family neither sha- nor canonical-dedup catches.
    */
  def qTemplateClusters(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val headerVariant = base.filter(pmod(col("doc_id"), lit(7)) === 2)
      .select((col("doc_id") + 300000L).as("doc_id"),
        concat(
          concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 8)),
          lit(" entirely different continuation body "),
          col("doc_id").cast("string")).as("text"))
    graft.operators.CorpusHygiene.templateClusters(
      base.unionByName(headerVariant), "doc_id", "text", prefixTokens = 8)
  }

  /** Per-user inter-arrival burstiness (Goh-Barabási B) + index of
    * dispersion over the event stream.
    */
  def qArrivalBurstiness(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.arrivalBurstiness(
      RelationalQueries.events(s, dir), "user_id", "event_id", "ts")

  /** Leave-one-source-out influence on mean document quality. */
  def qSourceInfluence(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .withColumn("_q",
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")))
    graft.operators.Auditing.sourceInfluence(scored, "source", "_q")
  }

  /** Benford first-digit audit of event values (integer-hundredths
    * digit extraction — engine-portable by construction).
    */
  def qBenfordAudit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Auditing.benfordAudit(
      RelationalQueries.events(s, dir), "value")

  /** Lead-lag daily cross-correlation: do clicks lead purchases. */
  def qLeadLag(s: SparkSession, dir: String): DataFrame =
    graft.operators.Auditing.leadLagCorr(
      RelationalQueries.events(s, dir), "ts", "event_type",
      typeA = "click", typeB = "purchase", maxLag = 3)

  /** Incremental near-dup: a planted ingest batch (mirrors of docs
    * ≡ 0 mod 7, ids +500000) against the base corpus — which itself
    * contains a planted internal duplicate (doc 3 ↔ 600003) that
    * must NOT appear (base×base is yesterday's output).
    */
  def qIncrementalNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"), col("text"))
    val base = docs.unionByName(docs.filter(col("doc_id") === 3)
      .select(lit(600003L).as("doc_id"), col("text")))
    val batch = docs.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    graft.operators.PortableMinHash.incrementalNearDupPairs(
      base, batch, "doc_id", "text")
  }

  /** KMV set algebra: union/intersection distinct-user estimates for
    * the click vs purchase cohorts from their bottom-64 sketches.
    */
  def qKmvSetOps(s: SparkSession, dir: String): DataFrame =
    graft.operators.Kmv.setOperations(
      RelationalQueries.events(s, dir), "event_type", "user_id",
      cohortA = "click", cohortB = "purchase", k = 64)

  /** Functional-dependency audit over lineitem: orderkey→orderstatus
    * via orders holds; partkey→suppkey genuinely fails (multi-sourced
    * parts) — a held and a violated dependency in one report.
    */
  def qFdAudit(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
      .join(tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus")), col("l_orderkey") === col("o_orderkey"))
    graft.operators.DataQuality.fdAudit(li,
      Seq("l_orderkey" -> "o_orderstatus", "l_partkey" -> "l_suppkey",
        "l_orderkey" -> "l_returnflag"))
  }

  /** The round-8 training-data filter chain END TO END: Gopher rule
    * battery → repeated-span budget gate (≤ 30 % boilerplate) →
    * deterministic train-split — one declared query proving the new
    * operators COMPOSE, not just pass in isolation (the q190
    * precedent extended to the r8 surface).
    */
  def qTrainFilterV2(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val kept = graft.operators.HeuristicFilters
      .gopherRules(docs, "doc_id", "text", minWords = 10)
      .filter(col("keep")).select(col("doc_id"), col("n_words"))
    val budget = graft.operators.RepeatedSpans
      .repeatedTokenBudget(docs, "doc_id", "text", k = 8, minDocs = 2)
      .select(col("doc_id"), col("repeated_frac"))
    kept.join(budget, "doc_id")
      .filter(col("repeated_frac") <= 0.3)
      .filter(substring(graft.operators.Sampling.hashUniform(
          col("doc_id"), "split_v1"), 1, 4)
        < graft.operators.Sampling.hexThreshold(0.8))
      .select(col("doc_id"), col("n_words"), col("repeated_frac"))
  }

  /** MOSS fingerprint matching over the planted-dup corpus: pairs
    * sharing ≥ 3 winnowing fingerprints, df-capped generation.
    */
  def qWinnowMatches(s: SparkSession, dir: String): DataFrame =
    graft.operators.Winnowing.matchPairs(
      plantedDupDocs(s, dir), "doc_id", "text",
      k = 4, w = 4, minShared = 3, dfCap = 50)

  /** Cumulative distinct-user growth timeline at KMV sketch cost. */
  def qKmvTimeline(s: SparkSession, dir: String): DataFrame =
    graft.operators.Kmv.distinctTimeline(
      RelationalQueries.events(s, dir), "user_id", "ts", k = 64)

  /** Per-source quantile normalization of quality scores. */
  def qQuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .withColumn("_q",
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")))
    graft.operators.Quantiles.quantileNormalize(
      scored, "doc_id", "source", "_q")
  }

  /** Tie-broken Spearman between document quality and length. */
  def qSpearman(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks")).as("q"),
        col("n_chars"))
    graft.operators.Ranks.spearman(scored, "doc_id", "q", "n_chars")
  }

  /** Effective-dataset-size accounting over the planted-dup corpus:
    * exact-dup removal (keep-min per sha), then repeated-span tokens
    * over the SURVIVORS — the one-row headline a dataset card leads
    * with ("N tokens, M effective after dedup and span removal").
    */
  def qEffectiveTokens(s: SparkSession, dir: String): DataFrame = {
    val pd = plantedDupDocs(s, dir)
      .withColumn("_sha", sha2(col("text"), 256))
      .withColumn("_tok",
        TextFunctions.tokenCountArithmetic(col("text")).cast("long"))
    // ONE map-side-combined pass over the planted corpus (r16
    // optimization): per-sha group totals + the min-doc survivor ride
    // a single groupBy — the previous shape ran a global agg, a
    // keep-id groupBy AND a pd⋈keepIds join, recomputing the planted
    // union + sha256 once per consumer (4+ corpus passes). doc_id is
    // unique corpus-wide, so min_by is deterministic; the survivor
    // row (keep = min doc_id per sha) is unchanged, every downstream
    // statistic is the same arithmetic over the same rows.
    val bySha = pd.groupBy(col("_sha")).agg(
        count(lit(1)).as("_n"), sum(col("_tok")).as("_t"),
        min_by(struct(col("doc_id"), col("text"), col("_tok")),
          col("doc_id")).as("_k"))
      // consumed by the totals agg AND the span pipeline's two passes
      // — pin so the corpus groupBy runs once
      .localCheckpoint()
    val totals = bySha.agg(
      sum(col("_n")).as("n_docs_total"),
      sum(col("_t")).as("total_tokens"),
      count(lit(1)).as("n_docs_kept"),
      sum(col("_k._tok")).as("kept_tokens"))
    val spans = graft.operators.RepeatedSpans
      .repeatedTokenBudget(
        bySha.select(col("_k.doc_id").as("doc_id"),
          col("_k.text").as("text")),
        "doc_id", "text", k = 8, minDocs = 2)
      .agg(sum(col("repeated_tokens")).as("span_tokens"))
    totals.crossJoin(spans)
      .select(col("n_docs_total"), col("total_tokens"),
        (col("n_docs_total") - col("n_docs_kept")).as("n_dup_docs"),
        (col("total_tokens") - col("kept_tokens")).as("dup_tokens_removed"),
        coalesce(col("span_tokens"), lit(0L)).as("span_tokens_removed"),
        (col("kept_tokens") - coalesce(col("span_tokens"), lit(0L)))
          .as("effective_tokens"))
  }

  /** Watermark-sizing disorder audit over deterministically planted
    * lateness (the stream arrives in event_id order and is perfectly
    * sorted — the q97 planting pattern shifts every 17th event back
    * by 1-7 minutes so the audit is non-vacuous).
    */
  def qDisorderAudit(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    val us = unix_micros(col("ts"))
    val perturbed = ev.select(col("user_id"), col("event_id"),
      timestamp_micros(
        when(pmod(col("event_id"), lit(17)) === 0,
          us - (pmod(col("event_id"), lit(7)) + 1L) * 60000000L)
          .otherwise(us)).as("ts"))
    graft.operators.TimeSeries.disorderAudit(
      perturbed, "user_id", "event_id", "ts")
  }

  /** Token-balanced snake sharding of documents into 8 shards. */
  def qSnakeShards(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents").select(col("doc_id"),
      TextFunctions.tokenCountArithmetic(col("text")).cast("long")
        .as("n_tokens"))
    graft.operators.Ranks.snakeShards(docs, "doc_id", "n_tokens", shards = 8)
  }

  /** Distribution-matched rejection sampling: thin the full corpus
    * so its token-length-bucket distribution matches the en slice.
    */
  def qDistMatch(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val bin = least((TextFunctions.tokenCountArithmetic(col("text"))
      .cast("long") / lit(20L)).cast("long"), lit(5L))
    graft.operators.Sampling.distributionMatch(
      docs, docs.filter(col("lang") === "en"), "doc_id", bin)
  }

  /** Unicode script-mix audit (Latin / Han / Cyrillic letters). */
  def qScriptMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusHygiene.scriptMix(
      tbl(s, dir, "documents"), "doc_id", "text")

  /** Per-source distinctive-bigram keywords (group TF-IDF top-3). */
  def qKeywords(s: SparkSession, dir: String): DataFrame =
    graft.operators.KeywordExtraction.topTerms(
      tbl(s, dir, "documents"), "source", "text", k = 3)

  /** One-pass numeric column profiler over lineitem. */
  def qColumnProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.columnProfile(
      tbl(s, dir, "lineitem"),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Tokenizer-sizing vocabulary coverage curve (top-30 ranks). */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = tbl(s, dir, "documents")
      .select(explode(TextFunctions.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("f"))
    graft.operators.Profiling.vocabCoverage(tf, "term", "f", topK = 30)
  }

  /** Sorted-neighborhood dedup over the planted-dup corpus: verbatim
    * copies sort adjacent under the canonical-prefix key, so the
    * w=3 neighbor scan recovers them with O(n·w) candidates.
    */
  def qSortedNeighborhood(s: SparkSession, dir: String): DataFrame =
    graft.operators.SortedNeighborhood.nearDupPairs(
      plantedDupDocs(s, dir), "doc_id", "text",
      window = 3, threshold = 0.5)

  /** Pairwise association rules over (user, day) event-type baskets. */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    graft.operators.AssociationRules.pairRules(
      ev.withColumn("_day",
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long")),
      basketCol = concat_ws(":", col("user_id"), col("_day")),
      itemCol = "event_type")
  }

  /** Dunning G² collocation significance over the q146 pair pipeline. */
  def qLlrCollocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.Cooccurrence.llrPairs(
      tbl(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokens(lower(col("text"))).as("toks")),
      "doc_id", "toks", dfTimes = 10, pairTimes = 25)

  /** Discrete survival curve over user lifetimes in the event
    * stream (life table + lattice-ln Kaplan-Meier).
    */
  def qSurvivalCurve(s: SparkSession, dir: String): DataFrame =
    graft.operators.Retention.survivalCurve(
      RelationalQueries.events(s, dir), "user_id", "ts")

  /** FK orphan audit: events.user_id against a deliberately
    * UNDER-COVERING user dimension (c_custkey ≤ 100 of 150 mapped
    * users) — users 100-149 surface as orphans; the full-dim row
    * shows integrity holding.
    */
  def qFkOrphans(s: SparkSession, dir: String): DataFrame = {
    val ev = RelationalQueries.events(s, dir)
    def dim(maxKey: Int) = tbl(s, dir, "customer")
      .filter(col("c_custkey") <= maxKey)
      .select((col("c_custkey") - 1).as("user_id"))
    graft.operators.DataQuality.fkOrphans(ev, "user_id", dim(100), "user_id")
      .unionByName(graft.operators.DataQuality.fkOrphans(
        ev, "user_id", dim(150), "user_id")
        .select(lit("user_id_full").as("child_key"), col("parent_key"),
          col("n_child_rows"), col("n_orphan_rows"), col("n_orphan_keys"),
          col("integrity_holds")))
  }

  /** Audio header metadata via pure byte arithmetic — planted WAV and
    * FLAC fixture payloads, built byte-for-byte IN the query from
    * doc_id-derived parameters (sample rate, channels, bit depth,
    * sample count), then parsed back by the REAL column-algebra
    * header parser ([[graft.multimodal.AudioHeaders]]). The parser
    * sees only the binary payload, so the hash oracle (which re-
    * derives the planted truth, including the exact header hex,
    * arithmetically) is a round-trip proof: a single mis-read offset,
    * endianness slip or bit-unpack error breaks the match. WAV
    * fixtures are header-only (the parser never reads sample data —
    * sizes come from header fields), and every third WAV carries a
    * LIST metadata chunk before "data" so the bounded chunk walk is
    * exercised, not just the canonical offset.
    */
  def qAudioHeaders(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioHeaders
    val d = col("doc_id")
    // planted parameters — WAV-path params (and the shared rate) are
    // derived from e = d/2, NOT d, so the even-doc_id WAV population
    // sweeps the FULL channel/bit/rate grids instead of the residues
    // is_wav forces (d%2==0 would pin wav_ch=1 and halve the tables)
    val e = floor(d / lit(2)).cast("long")
    val rate = element_at(
      array(lit(8000), lit(11025), lit(16000), lit(22050), lit(44100),
        lit(48000)), (pmod(e, lit(6)) + 1).cast("int")).cast("long")
    val isWav = pmod(d, lit(2)) === 0
    val wavCh = (pmod(e, lit(2)) + 1L).cast("long")
    val flacCh = (pmod(d, lit(3)) + 1L).cast("long")
    val wavBits = element_at(array(lit(8), lit(16), lit(24), lit(32)),
      (pmod(e, lit(4)) + 1).cast("int")).cast("long")
    val flacBits = element_at(array(lit(8), lit(16), lit(24)),
      (pmod(d, lit(3)) + 1).cast("int")).cast("long")
    val nSamples = pmod(d * 2654435761L, lit(480000L)) + 1L

    // little-endian hex fields from %0Nx + byte reordering
    def le16(v: Column): Column = {
      val h = format_string("%04x", v)
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32(v: Column): Column = {
      val h = format_string("%08x", v)
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    // channel·bits products are tiny and bits is byte-aligned, so the
    // double division is exact and the long cast is the true quotient
    val blockAlign = (wavCh * wavBits / lit(8L)).cast("long")
    val byteRate = rate * blockAlign
    val dataSize = nSamples * blockAlign
    val listChunk = when(pmod(d, lit(3)) === 0,
      lit("4c495354" + "04000000" + "494e464f")).otherwise(lit(""))
    val riffSize = lit(36L) + dataSize +
      when(pmod(d, lit(3)) === 0, 12L).otherwise(0L)
    val wavHex = concat(lit("52494646"), le32(riffSize), lit("57415645"),
      lit("666d7420"), lit("10000000"), lit("0100"), le16(wavCh),
      le32(rate), le32(byteRate), le16(blockAlign), le16(wavBits),
      listChunk, lit("64617461"), le32(dataSize))
    // FLAC: magic + last|STREAMINFO header + 34-byte block; the
    // rate/channels/bits/samples quad is one bit-packed u64
    val packed = rate * 17592186044416L + (flacCh - 1L) * 2199023255552L +
      (flacBits - 1L) * 68719476736L + nSamples
    val flacHex = concat(lit("664c6143"), lit("80"), lit("000022"),
      lit("1000"), lit("1000"), lit("000000"), lit("000000"),
      format_string("%016x", packed),
      lit("0" * 32))
    val payload = unhex(when(isWav, wavHex).otherwise(flacHex))

    AudioHeaders.withAudio(
      tbl(s, dir, "documents").select(d, payload.as("_p")),
      "_p", "_a")
      .select(d, col("_a"),
        length(col("_p")).cast("long").as("n_bytes"),
        lower(hex(col("_p"))).as("header_hex"))
      .select(d,
        col("_a.container").as("container"),
        col("_a.sample_rate").as("sample_rate"),
        col("_a.channels").as("channels"),
        col("_a.bits_per_sample").as("bits_per_sample"),
        col("_a.n_samples").as("n_samples"),
        col("_a.duration_s").as("duration_s"),
        col("n_bytes"), col("header_hex"))
  }

  /** PCM sample audit (q305): planted mono 16-bit WAVs now carry a
    * REAL data chunk — 16..24 samples from a doc_id-keyed formula
    * with full-scale clip plants on (d+j)%8 — and the audit parses
    * the bytes back: peak, clipped count, exact sum-of-squares / DC
    * sum, RMS as one sqrt. The oracle re-derives the planted samples
    * arithmetically, so the match is a round-trip proof of the
    * little-endian signed decode and the bounded audit window
    * (docs with 21+ samples exercise the maxSamples=20 cap).
    */
  def qWavPcm(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioHeaders
    val d = col("doc_id")
    def le16h(v: Column): Column = {
      val h = format_string("%04x", v)
      concat(substring(h, 3, 2), substring(h, 1, 2))
    }
    def le32h(v: Column): Column = {
      val h = format_string("%08x", v)
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    val nData = pmod(d, lit(9)) + 16L
    val sampleHex = concat_ws("",
      transform(sequence(lit(0L), nData - 1L), j => {
        val base = pmod(d * 131L + j * 2654435761L, lit(65536L)) - 32768L
        val sv = when(pmod(d + j, lit(8)) === 0,
          when(pmod(j, lit(2)) === 0, lit(32767L)).otherwise(lit(-32768L)))
          .otherwise(base)
        le16h(pmod(sv + 65536L, lit(65536L)))
      }))
    val dataSize = nData * 2L
    val wavHex = concat(lit("52494646"), le32h(lit(36L) + dataSize),
      lit("57415645"), lit("666d7420"), lit("10000000"), lit("0100"),
      lit("0100"), le32h(lit(16000L)), le32h(lit(32000L)), lit("0200"),
      lit("1000"), lit("64617461"), le32h(dataSize), sampleHex)
    AudioHeaders.withWavPcm(
        tbl(s, dir, "documents").select(d, unhex(wavHex).as("_p")),
        "_p", "_a", maxSamples = 20)
      .select(d,
        col("_a.n_samples_total").as("n_samples_total"),
        col("_a.n_audited").as("n_audited"),
        col("_a.peak").as("peak"),
        col("_a.n_clipped").as("n_clipped"),
        col("_a.sum_sq").as("sum_sq"),
        col("_a.dc_sum").as("dc_sum"),
        col("_a.rms").as("rms"))
  }

  /** µ-law sample audit (q319): planted format-7 WAVs (one companded
    * byte per sample from doc_id residues, full-scale codes planted
    * on (d+j)%9) decoded back through the exact G.711 integer
    * formula — the telephony sibling of q305's linear PCM audit.
    */
  def qUlawPcm(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioHeaders
    val d = col("doc_id")
    def le32h(v: Column): Column = {
      val h = format_string("%08x", v)
      concat(substring(h, 7, 2), substring(h, 5, 2),
        substring(h, 3, 2), substring(h, 1, 2))
    }
    val nData = pmod(d, lit(7)) + 18L
    val byteHex = concat_ws("",
      transform(sequence(lit(0L), nData - 1L), j => {
        val b = when(pmod(d + j, lit(9)) === 0,
          when(pmod(j, lit(2)) === 0, lit(128L)).otherwise(lit(0L)))
          .otherwise(pmod(d * 37L + j * 101L, lit(256L)))
        format_string("%02x", b)
      }))
    val wavHex = concat(lit("52494646"), le32h(lit(36L) + nData),
      lit("57415645"), lit("666d7420"), lit("10000000"), lit("0700"),
      lit("0100"), le32h(lit(8000L)), le32h(lit(8000L)), lit("0100"),
      lit("0800"), lit("64617461"), le32h(nData), byteHex)
    AudioHeaders.withUlawPcm(
        tbl(s, dir, "documents").select(d, unhex(wavHex).as("_p")),
        "_p", "_a", maxSamples = 20)
      .select(d,
        col("_a.n_samples_total").as("n_samples_total"),
        col("_a.n_audited").as("n_audited"),
        col("_a.peak").as("peak"),
        col("_a.n_clipped").as("n_clipped"),
        col("_a.sum_sq").as("sum_sq"),
        col("_a.dc_sum").as("dc_sum"),
        col("_a.rms").as("rms"))
  }

  /** The learned BPE merge table: 6 training rounds over the
    * document corpus (argmax pair per round with pinned tie-break,
    * greedy left-to-right fusion), exact vs the unrolled-CTE oracle.
    */
  def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpePairs.learnMerges(
      tbl(s, dir, "documents"), "text", rounds = 6)

  /** Corpus token counts + compression under the learned 6-merge BPE
    * vocab — training and application in one declared pass.
    */
  def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    graft.operators.BpePairs.encodeTokenCounts(
      tbl(s, dir, "documents"), "doc_id", "text", rounds = 6)

  /** Sentence-level dedup accounting with planted boilerplate tails:
    * two shared closing sentences ("subscribe" / "all rights
    * reserved") are appended to 2/3 of the corpus so corpus-frequency
    * ≥ 2 sentences exist by construction (the q97/q233 planting
    * pattern keeps the audit non-vacuous on synthetic text).
    */
  def qSentenceDedup(s: SparkSession, dir: String): DataFrame = {
    val planted = tbl(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit(" Subscribe to the newsletter today. All rights reserved."))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            lit(" All rights reserved."))
          .otherwise(lit(""))).as("text"))
    graft.operators.CorpusHygiene.sentenceDedup(
      planted, "doc_id", "text", maxDupFrac = 0.5)
  }

  /** Edit-distance verification of the q246 SNM candidates over the
    * planted-dup corpus — the exact final verify on a generator-
    * bounded pair set (the Levenshtein kernel never meets a
    * quadratic candidate volume). maxDist = 64: the dup decision
    * band — in-band pairs get their exact distance from ONE Ukkonen
    * banded DP (O(64·len), not O(len²)), certified-far pairs stay in
    * the audit with NULL distance (set-Jaccard windows keep many
    * sequence-far pairs, and "289 edits" decides nothing "> 64"
    * doesn't).
    */
  def qEditVerify(s: SparkSession, dir: String): DataFrame = {
    val pd = plantedDupDocs(s, dir)
    val pairs = graft.operators.SortedNeighborhood.nearDupPairs(
      pd, "doc_id", "text", window = 3, threshold = 0.5)
    graft.operators.Dedup.editVerify(pairs, pd, "doc_id", "text",
      maxDist = 64)
  }

  /** JL sign projection of the embedding corpus 64 → 16 dims. */
  def qJlProject(s: SparkSession, dir: String): DataFrame =
    graft.operators.RandomProjection.project(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      inDims = 64, outDims = 16)

  /** Deterministic JL distortion audit over the first 100 id pairs. */
  def qJlDistortion(s: SparkSession, dir: String): DataFrame =
    graft.operators.RandomProjection.distortionPairs(
      tbl(s, dir, "embeddings"), "vec_id", "embedding",
      inDims = 64, outDims = 16, maxId = 200L)

  /** Chat-structure stats over conversations PLANTED from document
    * text (token quarters as user/assistant turns; every 4th doc
    * gains a system turn, every 5th a broken alternation, every 7th
    * a trailing user turn — so all three structural gates fire both
    * ways).
    */
  def qChatStats(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(col("text"))
    val n = size(tk)
    val q = (n / lit(4)).cast("int")
    def part(start: Column, len: Column): Column =
      concat_ws(" ", slice(tk, start, len))
    def turn(role: Column, content: Column): Column =
      struct(role.as("role"), content.as("content"))
    val sys = turn(lit("system"), lit("You are a concise assistant"))
    val u1 = turn(lit("user"), part(lit(1), q))
    val a1 = turn(when(pmod(d, lit(5)) === 0, "user").otherwise("assistant"),
      part(q + 1, q))
    val u2 = turn(lit("user"), part(q * 2 + 1, q))
    val a2 = turn(when(pmod(d, lit(7)) === 0, "user").otherwise("assistant"),
      part(q * 3 + 1, n - q * 3))
    val msgs = when(pmod(d, lit(4)) === 0, array(sys, u1, a1, u2, a2))
      .otherwise(array(u1, a1, u2, a2))
    graft.operators.ChatStructure.turnStats(
      tbl(s, dir, "documents").select(d, msgs.as("messages")),
      "doc_id", "messages")
  }

  /** Weighted (tf-capped) MinHash Jaccard over planted pairs: the
    * verbatim mirrors and trailing-space variants land at 1.0, the
    * unrelated (d, d+7) controls near 0 — estimate and exact both
    * hash-check (deterministic md5 draws).
    */
  def qWeightedMinhash(s: SparkSession, dir: String): DataFrame = {
    val base = tbl(s, dir, "documents")
    val mx = base.agg(max(col("doc_id")).as("_mx"))
    val p1 = base.filter(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 100000L).as("id_b"))
    val p2 = base.filter(pmod(col("doc_id"), lit(7)) === 1)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 200000L).as("id_b"))
    val p3 = base.filter(pmod(col("doc_id"), lit(7)) === 3)
      .crossJoin(broadcast(mx))
      .filter(col("doc_id") + 7L <= col("_mx"))
      .select(col("doc_id").as("id_a"), (col("doc_id") + 7L).as("id_b"))
    graft.operators.WeightedMinHash.pairJaccard(
      plantedDupDocs(s, dir), "doc_id", "text",
      p1.union(p2).union(p3))
  }

  /** Per-source boilerplate header detection: every third doc moves
    * to a planted source carrying an 8-token wire header, which the
    * operator must recover at exactly prefix_len 8 while the natural
    * sources stay header-free.
    */
  def qBoilerplatePrefix(s: SparkSession, dir: String): DataFrame = {
    val hdr = pmod(col("doc_id"), lit(3)) === 0
    val planted = tbl(s, dir, "documents").select(col("doc_id"),
      when(hdr, concat(lit("breaking news update from the wire desk :: "),
        col("text"))).otherwise(col("text")).as("text"),
      when(hdr, lit("src_hdr")).otherwise(col("source")).as("source"))
    graft.operators.CorpusHygiene.boilerplatePrefix(
      planted, "doc_id", "text", "source", maxK = 12, minShare = 0.5)
  }

  /** DPO-pair hygiene over planted (chosen, rejected) triples: token
    * slices of each document act as the two responses (chosen 30
    * tokens vs rejected 20 by default, lengths swapped for every
    * third doc, exact ties planted on every fifth) — so the length-
    * bias, tie and overlap readouts all take non-trivial values.
    */
  def qPreferenceAudit(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(col("text"))
    val c0 = concat_ws(" ", slice(tk, lit(11), lit(30)))
    val r0 = concat_ws(" ", slice(tk, lit(41), lit(20)))
    val chosen = when(pmod(d, lit(3)) === 0, r0).otherwise(c0)
    val rejected = when(pmod(d, lit(5)) === 0, chosen)
      .when(pmod(d, lit(3)) === 0, c0).otherwise(r0)
    graft.operators.PreferenceAudit.audit(
      tbl(s, dir, "documents").select(col("source"),
        chosen.as("chosen"), rejected.as("rejected")),
      "source", "chosen", "rejected")
  }

  /** Sharded-profile merge equivalence: lineitem profiled in two
    * l_orderkey-parity shards, profiles MERGED, and the result
    * checked against the direct whole-table computation — the same
    * delta-decomposition proof q111/q121 give aggregates, here for
    * the profiler's sufficient stats + KMV distinct sketch.
    */
  def qProfileMerge(s: SparkSession, dir: String): DataFrame = {
    val li = tbl(s, dir, "lineitem")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val k = 64
    val even = graft.operators.Profiling.mergeableProfile(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 0), cols, k)
    val odd = graft.operators.Profiling.mergeableProfile(
      li.filter(pmod(col("l_orderkey"), lit(2)) === 1), cols, k)
    val merged = graft.operators.Profiling.mergeProfiles(
      even.unionByName(odd), k)
    // r17 (the q249 lesson applied): four countDistincts in ONE
    // aggregate trigger the multi-distinct rewrite — an Expand that
    // multiplies every lineitem row by 5 into a near-unique-keyed
    // partial aggregate. One thin distinct leg per column instead
    // (pruned single-column scan, map-side partial distinct), unioned
    // into the same (column_name, n_distinct_exact) rows —
    // countDistinct ignores nulls, so the legs filter them the same
    // way; counts identical.
    val exact = cols.map { c =>
      li.filter(col(c).isNotNull).select(col(c)).distinct()
        .agg(count(lit(1)).as("n_distinct_exact"))
        .select(lit(c).as("column_name"), col("n_distinct_exact"))
    }.reduce(_ unionByName _)
    val est = when(size(col("kmv")) < k, size(col("kmv")).cast("double"))
      .otherwise(round(lit((k - 1).toDouble)
        / element_at(col("kmv"), k), 6))
    merged.join(exact, "column_name")
      .select(col("column_name"), col("n_rows"), col("n_null"),
        col("min_value"), col("max_value"),
        when(col("n_rows") > col("n_null"),
          round(col("sum6").cast("double")
            / (col("n_rows") - col("n_null")).cast("double"), 6))
          .as("mean_value"),
        est.as("distinct_est"), col("n_distinct_exact"),
        (abs(est / col("n_distinct_exact").cast("double") - 1.0)
          <= lit(3.0 / math.sqrt(k.toDouble))).as("within_bound"))
  }

  /** Token-budget quality selection: the 20 000 highest-quality
    * tokens of the corpus as whole documents (threshold from the
    * score histogram; boundary bin greedily filled in id order).
    */
  def qBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks"))
          .as("quality"),
        TextFunctions.tokenCountArithmetic(col("text")).cast("long")
          .as("n_tokens"))
    graft.operators.Sampling.budgetByScore(
      scored, "doc_id", "quality", "n_tokens", budget = 20000L)
  }

  /** The six planted sentences for the model-based LID round trip —
    * one per language in code-ascending order, ASCII-only, each
    * carrying its language's pinned feature grams (and junction
    * words chosen so sentence repetition only reinforces the true
    * language).
    */
  private[graft] val LidSentences: Seq[String] = Seq(
    "der schnelle braune fuchs springt und die katze ist nicht langsam",
    "the quick brown fox jumps over the lazy dog and runs to the old mill",
    "el zorro marron salta por el bosque y los perros son una manada con el lobo",
    "le renard brun saute dans la foret et les chiens sont une meute qui est grande",
    "il gatto che corre di notte per la stazione e di giorno con attenzione",
    "uma raposa salta para os campos e corre com as outras das matas")

  /** English contamination appended to 1/5 of the non-English docs —
    * the classifier must still call the majority language.
    */
  private[graft] val LidNoise = "the cat and the dog"

  /** Video container metadata (q274): planted MP4/ISO-BMFF fixture
    * payloads built byte-for-byte IN the query from doc_id-derived
    * parameters (mvhd version, timescale, duration, track count,
    * brand, optional free-box padding — all on DECOUPLED residues),
    * then parsed back by the REAL column-algebra box walker
    * ([[graft.multimodal.VideoHeaders]]). The oracle re-derives the
    * planted truth including the exact header hex, so a mis-read
    * offset, endianness slip or version-dispatch error breaks the
    * match — the q260 round-trip pattern. Odd doc_ids carry version-1
    * headers with durations past 2^32 to force the BE64 path.
    */
  def qVideoHeaders(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.VideoHeaders
    val d = col("doc_id")
    val h = floor(d / lit(2)).cast("long")
    val version = pmod(d, lit(2))
    val ts = element_at(
      array(lit(600), lit(1000), lit(12288), lit(24000), lit(44100),
        lit(90000)), (pmod(h, lit(6)) + 1).cast("int")).cast("long")
    val nTr = (pmod(h, lit(3)) + 1L).cast("long")
    val hasFree = pmod(d * 2654435761L, lit(4)) === 0
    val brandHex = element_at(array(lit("69736f6d"), lit("6d703432"),
      lit("61766331"), lit("64617368")), (pmod(h, lit(4)) + 1).cast("int"))
    val creation = pmod(d * 48271L, lit(1000000L)) + 1L
    val modif = creation + 7L
    val durBase = pmod(d * 2654435761L, lit(100000000L)) + 1L
    val duration = when(version === 0, durBase)
      .otherwise(durBase + 4294967296L)
    def be32h(v: Column) = format_string("%08x", v)
    def be64h(v: Column) = format_string("%016x", v)
    val mvhdSize = when(version === 0, 108L).otherwise(120L)
    val mvhdHex = when(version === 0,
      concat(lit("0000006c" + "6d766864" + "00000000"), be32h(creation),
        be32h(modif), be32h(ts), be32h(duration), lit("0" * 160)))
      .otherwise(
        concat(lit("00000078" + "6d766864" + "01000000"), be64h(creation),
          be64h(modif), be32h(ts), be64h(duration), lit("0" * 160)))
    val trakHex = concat_ws("", array_repeat(
      lit("00000010" + "7472616b" + "0000000000000000"), nTr.cast("int")))
    val moovHex = concat(be32h(lit(8L) + mvhdSize + nTr * 16L),
      lit("6d6f6f76"), mvhdHex, trakHex)
    val headerHex = concat(
      lit("00000010" + "66747970"), brandHex, lit("00000200"),
      when(hasFree, lit("0000000c" + "66726565" + "00000000"))
        .otherwise(lit("")),
      moovHex)
    VideoHeaders.withMp4(
      tbl(s, dir, "documents").select(d, unhex(headerHex).as("_p")),
      "_p", "_v")
      .select(d, col("_v"),
        length(col("_p")).cast("long").as("n_bytes"),
        lower(hex(col("_p"))).as("header_hex"))
      .select(d,
        col("_v.major_brand").as("major_brand"),
        col("_v.version").as("version"),
        col("_v.timescale").as("timescale"),
        col("_v.duration").as("duration"),
        col("_v.n_tracks").as("n_tracks"),
        col("_v.duration_s").as("duration_s"),
        col("n_bytes"), col("header_hex"))
  }

  /** Messy planted URLs for the canonicalization round trip: host
    * casing, `www.`, scheme casing, default/odd ports, trailing
    * slashes, tracking params, unsorted query keys and fragments all
    * vary on decoupled doc_id residues.
    */
  private[graft] def plantedUrls(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val hostRaw = element_at(array(lit("Example.COM"), lit("news.SITE.org"),
      lit("Data.example.com"), lit("blog.IO")),
      (pmod(d, lit(4)) + 1).cast("int"))
    val scheme = element_at(array(lit("http"), lit("https"), lit("HTTP")),
      (pmod(floor(d / lit(4)).cast("long"), lit(3)) + 1).cast("int"))
    val www = when(pmod(floor(d / lit(12)).cast("long"), lit(2)) === 0,
      lit("www.")).otherwise(lit(""))
    val port = element_at(array(lit(""), lit(":80"), lit(":443"),
      lit(":8080")),
      (pmod(floor(d / lit(24)).cast("long"), lit(4)) + 1).cast("int"))
    val path = element_at(array(lit(""), lit("/"), lit("/a/b/"),
      lit("/a/b"), lit("/index.html")),
      (pmod(d * 2654435761L, lit(5)) + 1).cast("int"))
    val query = element_at(array(lit(""), lit("?utm_source=x&b=2&a=1"),
      lit("?b=2&a=1"), lit("?gclid=zz&a=1"), lit("?z=9&utm_medium=email")),
      (pmod(d * 48271L, lit(5)) + 1).cast("int"))
    val frag = when(pmod(d * 7919L, lit(3)) === 0, lit("#frag"))
      .otherwise(lit(""))
    tbl(s, dir, "documents").select(d, col("n_chars"),
      concat(scheme, lit("://"), www, hostRaw, port, path, query, frag)
        .as("url"))
  }

  /** URL canonicalization (q275): per-doc canonical URL + host over
    * the planted messy-URL fixtures — every row's canonical string
    * hash-checked against the oracle's replay of the same algebra
    * (generated from the same TrackingParams denylist).
    */
  def qUrlCanon(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UrlCanon
    plantedUrls(s, dir).select(col("doc_id"), col("url").as("url_raw"),
      UrlCanon.canonicalHost(col("url")).as("host"),
      UrlCanon.canonicalize(col("url")).as("url_canon"))
  }

  /** Host-level rollup (q276): doc counts, raw-vs-canonical distinct
    * URL collapse and char mass per canonical host — the grouping a
    * crawl pipeline runs before content dedup.
    */
  def qHostStats(s: SparkSession, dir: String): DataFrame =
    graft.operators.UrlCanon.hostStats(plantedUrls(s, dir), "url",
      "n_chars")

  /** 54-byte BITMAPINFOHEADER for a 9×8 bottom-up 24-bit BMP — the
    * planted fixture container for the dHash round trip (constant:
    * only pixels vary).
    */
  private val Bmp9x8Header: String =
    "424d" + "16010000" + "00000000" + "36000000" + // BM, size 278, offs 54
      "28000000" + "09000000" + "08000000" +        // header 40, 9 × 8
      "0100" + "1800" + "00000000" + "e0000000" +   // 1 plane, 24 bpp, 224 B
      "130b0000" + "130b0000" + "00000000" + "00000000"

  /** Planted 9×8 grayscale BMPs: each even doc_id carries a pseudo-
    * random pixel grid; each odd doc_id carries its even neighbor's
    * grid with ONE pixel nudged (+9 mod 256) at a residue-derived
    * position — a planted near-dup pair (≤ 2 dHash bits can flip).
    * The bytes are a REAL bottom-up 24-bit BMP built in-query, so the
    * Spark side must recover the pixels by actually decoding them.
    */
  private def plantedBmps(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(col("doc_id"))
      .withColumn("_base", col("doc_id") - pmod(col("doc_id"), lit(2)))
      .withColumn("_px", pmod(col("doc_id") * 7919L, lit(9)))
      .withColumn("_py", pmod(col("doc_id") * 104729L, lit(8)))
      .withColumn("_pert", pmod(col("doc_id"), lit(2)) === 1)
      // pixel value = md5 uniform per (base image, pixel index) — any
      // multiplicative-additive mix mod 256 stays LINEAR in the pixel
      // index (every image the same phase-shifted gradient, flooding
      // the pair stage); the md5 byte gives genuinely independent
      // pixels, portable to the oracle bit-for-bit. r17: the grid is
      // built by the compiled PlantedBmpPixExpr kernel — one loop with
      // a reused digest instead of ~10 interpreted expression evals
      // per pixel; byte-for-byte the same 448-char hex string the
      // previous transform/format_string SQL spelled (the oracle
      // mirror re-derives the identical md5 bytes arithmetically).
      .withColumn("_pix", graft.functions.expressions.TextExpressions
        .planted_bmp_pix(col("_base"), col("_px"), col("_py"),
          col("_pert")))
      .select(col("doc_id"),
        unhex(concat(lit(Bmp9x8Header), col("_pix"))).as("payload"))

  /** Perceptual image dHash (q277): the planted BMPs are DECODED by
    * the real JDK ImageIO path and difference-hashed; the oracle
    * re-derives the planted pixel grid arithmetically and computes
    * the same 64 comparisons in SQL — a full decode round trip (one
    * wrong pixel, row order, or bit weight breaks the match).
    */
  def qImageDhash(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.ImageHash.dHashDf(plantedBmps(s, dir), "doc_id",
        "payload")
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("dhash"))

  /** Image near-dup pairs (q278): 4×16-bit Hamming banding over the
    * q277 hashes — every planted (even, odd) pair must surface
    * (≤ 2 flipped bits leave ≥ 2 bands intact), plus whatever
    * accidental band collisions pass the Hamming ≤ 4 verify.
    */
  def qImagePairs(s: SparkSession, dir: String): DataFrame =
    graft.multimodal.ImageHash.hammingPairs(
      graft.multimodal.ImageHash.dHashDf(plantedBmps(s, dir), "doc_id",
        "payload"),
      "doc_id", "dhash", maxDist = 4)

  /** MP3 stream-head metadata (q280): planted ID3v2+MPEG-frame
    * payloads built byte-for-byte in-query — syncsafe tag sizes up to
    * 20 000 exercise the multi-byte 7-bit encoding, and the frame
    * header sweeps MPEG-1/MPEG-2 Layer III bitrate/sample-rate/
    * channel/padding grids on decoupled residues — parsed back by
    * the real column-algebra parser ([[graft.multimodal.AudioHeaders
    * .parseMp3]]); the oracle re-derives the planted truth (and the
    * 4 frame-header bytes) arithmetically. The q260/q274 round-trip
    * pattern, third audio container.
    */
  def qMp3Headers(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.AudioHeaders
    val d = col("doc_id")
    val h = floor(d / lit(2)).cast("long")
    val hasId3 = pmod(d, lit(2)) === 0
    val vbits = when(pmod(h, lit(2)) === 0, 3L).otherwise(2L)
    val brIdx = pmod(floor(h / lit(2)).cast("long"), lit(14)) + 1L
    val srIdx = pmod(h, lit(3))
    val pad = pmod(d * 31L, lit(2))
    val ch = pmod(d * 17L, lit(4))
    val sz = pmod(d * 2654435761L, lit(20000L))
    val fl = pmod(d * 48271L, lit(5000L))
    val b2 = lit(227L) + vbits * 8L
    val b3 = brIdx * 16L + srIdx * 4L + pad * 2L
    val b4 = ch * 64L
    val syncsafe = format_string("%02x%02x%02x%02x",
      floor(sz / lit(2097152)).cast("long"),
      pmod(floor(sz / lit(16384)).cast("long"), lit(128)),
      pmod(floor(sz / lit(128)).cast("long"), lit(128)),
      pmod(sz, lit(128)))
    val id3Hex = when(hasId3,
      concat(lit("494433" + "0400" + "00"), syncsafe,
        expr("repeat('00', cast(_sz as int))"))).otherwise(lit(""))
    val frameHex = format_string("%02x%02x%02x%02x", lit(255L), b2, b3, b4)
    val payload = unhex(concat(col("_id3"), col("_frame"),
      expr("repeat('00', cast(_fl as int))")))
    tbl(s, dir, "documents")
      .select(d, sz.as("_sz"), fl.as("_fl"))
      .withColumn("_id3", id3Hex)
      .withColumn("_frame", frameHex)
      .select(d, payload.as("_p"))
      .select(d, AudioHeaders.parseMp3(col("_p")).as("_m"),
        length(col("_p")).cast("long").as("n_bytes"))
      .select(d,
        col("_m.has_id3").as("has_id3"),
        col("_m.id3_size").as("id3_size"),
        col("_m.mpeg_version").as("mpeg_version"),
        col("_m.layer").as("layer"),
        col("_m.bitrate_kbps").as("bitrate_kbps"),
        col("_m.sample_rate").as("sample_rate"),
        col("_m.channel_mode").as("channel_mode"),
        col("_m.padding").as("padding"),
        col("_m.duration_s").as("duration_s"),
        col("n_bytes"))
  }

  /** The pinned messy outlink tables for q282 (Spark and oracle
    * share them through SparkEntry's SQL generator).
    */
  private[graft] val OutlinkL1: Seq[String] = Seq(
    "http://www.Example.COM:80/a/b/?utm_source=x&b=2",
    "https://blog.IO/x",
    "HTTP://News.SITE.org/path/",
    "https://www.data.example.com:443/z?b=2&a=1")
  private[graft] val OutlinkL2: Seq[String] = Seq(
    "https://blog.io/x?gclid=q",
    "http://example.com/a/b",
    "https://other.NET/q/r/",
    "http://www.other.net/q/r")

  /** Outlink extraction + host rollup (q282): messy URLs planted
    * into the running text (0/1/2 links per doc on residues), pulled
    * back out by the portable regex generator, canonicalized, and
    * rolled up per target host — the link-graph aggregate a crawl
    * prioritizer reads.
    */
  def qOutlinks(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val l1 = element_at(array(OutlinkL1.map(lit): _*),
      (pmod(d, lit(4)) + 1).cast("int"))
    val l2 = element_at(array(OutlinkL2.map(lit): _*),
      (pmod(floor(d / lit(4)).cast("long"), lit(4)) + 1).cast("int"))
    val m = pmod(d, lit(3))
    val planted = tbl(s, dir, "documents").select(d, concat(col("text"),
      when(m === 1, concat(lit(" see "), l1))
        .when(m === 2, concat(lit(" see "), l1, lit(" and "), l2))
        .otherwise(lit(""))).as("txt"))
    graft.operators.UrlCanon.outlinkHostStats(planted, "doc_id", "txt")
  }

  /** The pinned robots-style rule table for q283. */
  private[graft] val UrlRules: Seq[(String, String, Boolean)] = Seq(
    ("example.com", "/a", false),
    ("example.com", "/a/b", true),
    ("blog.io", "/", false),
    ("news.site.org", "/index", false))

  /** Robots-style URL rule filter (q283): the planted messy URLs of
    * q275 against a pinned (host, prefix, allow) table — longest
    * canonical-path prefix wins ('/a/b' re-allows inside the '/a'
    * disallow), port-variant hosts match nothing, no match defaults
    * to allowed.
    */
  def qUrlRules(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = UrlRules.toDF("host", "path_prefix", "allow")
    graft.operators.UrlCanon.applyUrlRules(
      plantedUrls(s, dir), "doc_id", "url", rules)
  }

  /** HTML text extraction (q284): the trafilatura-lite stage over
    * planted markup — script/style/comment blocks, entities and an
    * anchor wrap real text on decoupled residues; the oracle replays
    * the extraction chain generated from the SAME step tables.
    */
  def qHtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = tbl(s, dir, "documents").select(d, concat(
      lit("<html><head><title>t</title>"),
      when(pmod(d, lit(2)) === 0,
        lit("<style type=\"text/css\">p{color:red}</style>"))
        .otherwise(lit("")),
      lit("</head><body><h1>Doc</h1><p>"),
      substring(col("text"), 1, 60),
      lit(" &amp; more &lt;tags&gt; &quot;q&quot; &#39;a&#39;&nbsp;end</p>"),
      when(pmod(d, lit(3)) === 0,
        lit("<script>var x = \"<p>\";</script>")).otherwise(lit("")),
      when(pmod(d, lit(5)) === 0,
        lit("<!-- hidden <b>comment</b> -->")).otherwise(lit("")),
      lit("<a href=\"http://example.com/a\">link</a></body></html>"))
      .as("html"))
    graft.operators.HtmlExtract.stats(planted, "doc_id", "html")
  }

  /** Rich planted HTML for the anchor/metadata queries: entity-laden
    * title, optional meta description and rel=canonical (messy,
    * canonicalizable), an absolute messy-URL anchor with inner
    * markup, and an optional relative anchor — all on decoupled
    * residues.
    */
  private def plantedRichHtml(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val l1 = element_at(array(OutlinkL1.map(lit): _*),
      (pmod(d, lit(4)) + 1).cast("int"))
    tbl(s, dir, "documents").select(d, concat(
      lit("<html><head><title>Doc &amp; no "),
      pmod(d, lit(7)).cast("string"),
      lit("</title>"),
      when(pmod(d, lit(2)) === 0, concat(
        lit("<meta name=\"description\" content=\"A &quot;page&quot; about "),
        pmod(d, lit(5)).cast("string"), lit("\">"))).otherwise(lit("")),
      when(pmod(d, lit(3)) === 0, concat(
        lit("<link rel=\"canonical\" href=\"HTTP://WWW.Example.COM/c/"),
        pmod(d, lit(9)).cast("string"), lit("/\">"))).otherwise(lit("")),
      lit("</head><body><p>"), substring(col("text"), 1, 40), lit("</p>"),
      lit("<a href=\""), l1, lit("\"><b>first</b> link</a>"),
      when(pmod(d, lit(4)) === 0,
        lit("<a href=\"/rel/path\">rel &amp; link</a>"))
        .otherwise(lit("")),
      lit("</body></html>")).as("html"))
  }

  /** Anchor-text link extraction (q286): (href, anchor text) pairs
    * pulled from the planted markup — absolute hrefs canonicalized,
    * relative ones surfaced with a null canon, inner anchor markup
    * stripped by the extraction chain.
    */
  def qAnchorLinks(s: SparkSession, dir: String): DataFrame =
    graft.operators.HtmlExtract.anchors(
      plantedRichHtml(s, dir), "doc_id", "html")

  /** Page head metadata (q287): title / meta description through the
    * entity fold, rel=canonical target canonicalized when present.
    */
  def qPageMeta(s: SparkSession, dir: String): DataFrame =
    graft.operators.HtmlExtract.pageMeta(
      plantedRichHtml(s, dir), "doc_id", "html")

  /** Unicode normalization audit (q281): planted typographic mess —
    * curly/low-9 quotes, guillemets, em/en dashes, NBSP, zero-width
    * characters, ellipsis and double spaces on decoupled residues,
    * prefixed to a real text slice — folded by the pinned NFKC-lite
    * tables ([[graft.operators.TextNormalize]]); the oracle replays
    * the same construction and the same fold SQL generated from the
    * SAME tables, so every normalized string hash-checks.
    */
  def qTextNormalize(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    // all non-ASCII built from code points so no invisible literal
    // hides in the source
    def cp(codes: Int*): String = codes.map(_.toChar).mkString
    val planted = tbl(s, dir, "documents").select(d, concat(
      lit(cp(0x201C) + "q" + cp(0x201D)),
      when(pmod(d, lit(2)) === 0, lit(cp(0x00A0))).otherwise(lit(" ")),
      lit("a" + cp(0x2014) + "b"),
      when(pmod(d, lit(3)) === 0,
        lit("z" + cp(0x200B) + "w" + cp(0x200C) + "x"))
        .otherwise(lit(" pl")),
      lit(" t" + cp(0x2026)),
      when(pmod(d, lit(5)) === 0, lit("  double  space "))
        .otherwise(lit(" s ")),
      lit(cp(0x2018) + "e" + cp(0x2019) + " " + cp(0x00AB) + "g" +
        cp(0x00BB) + " " + cp(0x2013) + " "),
      substring(lower(col("text")), 1, 40)).as("txt"))
    graft.operators.TextNormalize.stats(planted, "doc_id", "txt")
  }

  /** Classifier calibration audit (q279): the q24 quality score
    * against labels PLANTED at the score's own probability (md5
    * uniform < score — a calibrated classifier by construction, so
    * ECE is small and the audit's job is to prove it). Reliability
    * bins, ECE and Brier all reduce to integer aggregates on the
    * micro-unit lattice; every reported double is one division.
    */
  def qCalibration(s: SparkSession, dir: String): DataFrame = {
    def u6(salt: String) = pmod(
      conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(salt))), 1, 15), 16, 10).cast("long"), lit(1000001L))
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks"))
          .as("_q"))
      // the raw corpus quality clusters in 2 of 10 bins — blend an
      // md5 uniform in (integer mean on the micro lattice) so the
      // reliability table exercises the full bin range
      .withColumn("_v6", u6(":cal_v2"))
      .withColumn("_s6", expr(
        "(cast(round(_q * 1000000, 0) as bigint) + _v6) div 2"))
      .withColumn("score", col("_s6").cast("double") / 1000000.0)
      .withColumn("label", (u6(":cal_v1") < col("_s6")).cast("int"))
      .select(col("doc_id"), col("score"), col("label"))
    graft.operators.Calibration.reliability(scored, "score", "label",
      bins = 10)
  }

  /** Streaming language-mix monitor (q285): the q273 planted
    * multilingual corpus replayed through a REAL file-source
    * micro-batch stream (one doc per minute of event time), the LID
    * model applied INSIDE the stream, and per-15-minute-window
    * per-language doc/point counts emitted on watermark close — the
    * "is the crawl's language mix drifting" gate, with a batch-
    * parity oracle over the same scoring CTEs.
    */
  def qStreamLangMix(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val li = pmod(d, lit(6)).cast("int")
    val r = floor(d / lit(6)).cast("long")
    val withParams = tbl(s, dir, "documents")
      .select(d.as("user_id"), d.as("event_id"),
        expr("timestamp_micros(doc_id * 60000000)").as("ts"),
        element_at(array(LidSentences.map(lit): _*), li + 1).as("_sent"),
        (pmod(r, lit(4)) + 1).cast("int").as("_reps"),
        (pmod(r, lit(5)) === 0 && li =!= 1).as("_noisy"))
      .withColumn("event_type", concat(
        expr("repeat(concat(_sent, ' '), _reps)"),
        when(col("_noisy"), lit(LidNoise)).otherwise(lit(""))))
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"))
    graft.streaming.EventStreams.replayToTable(
      withParams,
      df => {
        val classified = graft.operators.LanguageId.classify(
          df, "user_id", "event_type")
        classified.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "15 minutes").as("win"),
            col("lang_pred"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("score_points")).as("sum_points"))
          .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("lang_pred"), col("n_docs"),
            col("sum_points"))
      },
      // 2 real batches + the sentinel: the event-time windows span the
      // batch boundary (state carried across >=1 commit) and the output
      // of a watermarked window agg over time-ordered range batches is
      // batch-composition-independent — one fewer micro-batch cycle is
      // ~0.7 s off the replay floor at hash parity (replay-timing probe)
      horizonSeconds = 3600, numBatches = 2)
      .filter(col("lang_pred").isNotNull)
  }

  /** Model-based language ID (q273): planted multilingual fixtures —
    * language from doc_id % 6, repetition count and English-noise
    * contamination from DECOUPLED doc_id/6 residues (the q260
    * lesson) — classified by the pinned-coefficient char-n-gram
    * linear model ([[graft.operators.LanguageId]]). The oracle
    * rebuilds the same planted strings and replays the same integer
    * score algebra from the SAME Model constants, so prediction,
    * points and margins are a full round-trip proof.
    */
  def qLanguageId(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LanguageId
    val d = col("doc_id")
    val li = pmod(d, lit(6)).cast("int")
    val r = floor(d / lit(6)).cast("long")
    val planted = tbl(s, dir, "documents")
      .select(d,
        element_at(array(LanguageId.Model.map(m => lit(m._1)): _*),
          li + 1).as("lang_true"),
        element_at(array(LidSentences.map(lit): _*), li + 1).as("_sent"),
        (pmod(r, lit(4)) + 1).cast("int").as("_reps"),
        (pmod(r, lit(5)) === 0 && li =!= 1).as("_noisy"))
      .withColumn("txt", concat(
        expr("repeat(concat(_sent, ' '), _reps)"),
        when(col("_noisy"), lit(LidNoise)).otherwise(lit(""))))
    LanguageId.classify(planted, "doc_id", "txt")
      .select(col("doc_id"), col("lang_true"), col("lang_pred"),
        col("score_points"), col("margin_points"), col("rel_score"))
  }

  /** Fleiss' kappa (q288) over planted 5-rater 3-category ratings:
    * the majority category comes from doc_id % 3 and each rater
    * dissents with probability 0.2 (md5 uniform, decoupled per
    * rater) to one of the two other categories — so the marginals,
    * per-item agreement and kappa all take non-trivial values the
    * oracle replays exactly.
    */
  def qAnnotatorAgreement(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val ratings = tbl(s, dir, "documents")
      .select(d, explode(sequence(lit(1), lit(5))).as("rater"))
      .withColumn("_u", pmod(
        conv(substring(md5(concat(d.cast("string"), lit(":fk:"),
          col("rater").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(10L)))
      .withColumn("category", concat(lit("cat_"),
        when(col("_u") < 2, pmod(d + 1L + pmod(col("_u"), lit(2L)),
          lit(3L))).otherwise(pmod(d, lit(3L))).cast("string")))
    graft.operators.Agreement.fleissKappa(
      ratings, "doc_id", "rater", "category")
  }

  /** SFT loss-mask / truncation ledger (q289) over the q267 planted
    * conversations with a 40-token context budget: assistant tokens
    * that survive front-truncation, per conversation — the planted
    * quarters make most conversations overflow, so kept/lost both
    * take non-trivial values.
    */
  def qLossMask(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(col("text"))
    val n = size(tk)
    val q = (n / lit(4)).cast("int")
    def part(start: Column, len: Column): Column =
      concat_ws(" ", slice(tk, start, len))
    def turn(role: Column, content: Column): Column =
      struct(role.as("role"), content.as("content"))
    val sys = turn(lit("system"), lit("You are a concise assistant"))
    val u1 = turn(lit("user"), part(lit(1), q))
    val a1 = turn(when(pmod(d, lit(5)) === 0, "user").otherwise("assistant"),
      part(q + 1, q))
    val u2 = turn(lit("user"), part(q * 2 + 1, q))
    val a2 = turn(when(pmod(d, lit(7)) === 0, "user").otherwise("assistant"),
      part(q * 3 + 1, n - q * 3))
    val msgs = when(pmod(d, lit(4)) === 0, array(sys, u1, a1, u2, a2))
      .otherwise(array(u1, a1, u2, a2))
    graft.operators.ChatStructure.lossMask(
      tbl(s, dir, "documents").select(d, msgs.as("messages")),
      "doc_id", "messages", contextTokens = 40L)
  }

  /** JPEG SOF header parse (q290): planted JFIF streams — SOF marker
    * (baseline/extended/progressive), geometry and component count on
    * decoupled residues, with an optional variable-length COM segment
    * and a DQT between APP0 and the SOF so the bounded marker walk
    * does real hops. Round trip: the oracle re-derives every field
    * (and the byte string itself) arithmetically; the Spark side must
    * parse them back out of the bytes it built.
    */
  def qJpegHeaders(s: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.ImageHeaders
    val d = col("doc_id")
    val sofHex = element_at(array(lit("ffc0"), lit("ffc1"), lit("ffc2")),
      (pmod(d, lit(3)) + 1).cast("int"))
    val h = pmod(d * 48271L, lit(4000L)) + 8L
    val wdt = pmod(d * 2654435761L, lit(3000L)) + 8L
    val nc = when(pmod(floor(d / lit(3)).cast("long"), lit(2)) === 0,
      lit(3L)).otherwise(lit(1L))
    val hasCom = pmod(d * 7919L, lit(3)) === 0
    val comPay = (pmod(d, lit(7)) + 1L).cast("int")
    val app0Hex = lit("ffe0" + "0010" + "4a46494600" + "0101" + "00" +
      "0048" + "0048" + "0000")
    val comHex = when(hasCom, concat(lit("fffe"),
      format_string("%04x", comPay + 2),
      concat_ws("", array_repeat(lit("41"), comPay))))
      .otherwise(lit(""))
    val dqtHex = lit("ffdb" + "0043" + "00" * 65)
    val sofSeg = concat(sofHex, format_string("%04x", lit(8L) + nc * 3L),
      lit("08"), format_string("%04x", h), format_string("%04x", wdt),
      format_string("%02x", nc),
      concat_ws("", array_repeat(lit("001100"), nc.cast("int"))))
    val headerHex = concat(lit("ffd8"), app0Hex, comHex, dqtHex, sofSeg)
    val parsed = ImageHeaders.withJpeg(
      tbl(s, dir, "documents").select(d, unhex(headerHex).as("_p")),
      "_p", "_j")
    parsed
      .select(d, col("_j"),
        length(col("_p")).cast("long").as("n_bytes"),
        lower(hex(col("_p"))).as("header_hex"))
      .select(d,
        col("_j.sof_marker").as("sof_marker"),
        col("_j.precision").as("precision"),
        col("_j.height").as("height"),
        col("_j.width").as("width"),
        col("_j.n_components").as("n_components"),
        col("_j.n_pixels").as("n_pixels"),
        col("n_bytes"), col("header_hex"))
  }

  /** Corpus BLEU (q291) over planted (candidate, reference) token
    * pairs: the reference is the document's first 28 tokens, the
    * candidate its first 24 with every doc-phased 5th position
    * replaced by an out-of-reference marker — so all four clipped
    * precisions land strictly inside (0, 1) and the brevity penalty
    * is active (c < r). Bounded 24/28-token arrays, so the
    * per-position transform is O(1) per row.
    */
  def qBleu(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(lower(col("text")))
    val ref = slice(tk, 1, 28)
    // zip_with over one 24-token slice + a position ramp — the
    // tokenizer is referenced once per argument, never per position
    val cand = zip_with(slice(tk, 1, 24), sequence(lit(1), lit(24)),
      (t, i) => when(pmod(i + d, lit(5)) === 0, lit("zzz")).otherwise(t))
    val pairs = tbl(s, dir, "documents")
      .filter(size(tk) >= 28)
      .select(d, cand.as("cand"), ref.as("ref"))
    graft.operators.TextEval.bleuCorpus(pairs, "doc_id", "cand", "ref")
  }

  /** Corpus chrF2 (q304) over the q291 planted pairs re-expressed at
    * the character level: the same 24/28-token cand/ref slices with
    * phased substitutions, joined separator-free (the chrF
    * whitespace-removed convention) — so character overlap survives
    * where word grams break, and every per-order F plus the headline
    * chrF ride exact integer lattices.
    */
  def qChrf(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(lower(col("text")))
    val ref = slice(tk, 1, 28)
    val cand = zip_with(slice(tk, 1, 24), sequence(lit(1), lit(24)),
      (t, i) => when(pmod(i + d, lit(5)) === 0, lit("zzz")).otherwise(t))
    val pairs = tbl(s, dir, "documents")
      .filter(size(tk) >= 28)
      .select(d, concat_ws("", cand).as("cand"),
        concat_ws("", ref).as("ref"))
    graft.operators.TextEval.chrfCorpus(pairs, "doc_id", "cand", "ref")
  }

  /** Corpus ROUGE-L (q310) over the q291 planted token pairs — the
    * in-order LCS complement to BLEU's n-grams and chrF's characters:
    * the phased 'zzz' substitutions break contiguity but not order,
    * so LCS credits exactly the surviving positions.
    */
  def qRougeL(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(lower(col("text")))
    val ref = slice(tk, 1, 28)
    val cand = zip_with(slice(tk, 1, 24), sequence(lit(1), lit(24)),
      (t, i) => when(pmod(i + d, lit(5)) === 0, lit("zzz")).otherwise(t))
    val pairs = tbl(s, dir, "documents")
      .filter(size(tk) >= 28)
      .select(d, cand.as("cand"), ref.as("ref"))
    graft.operators.TextEval.rougeLCorpus(pairs, "doc_id", "cand", "ref")
  }

  /** Bradley–Terry ratings (q292) over planted pairwise matches:
    * 8 systems, the pair from decoupled doc_id residues, the
    * stronger (higher-index) system winning unless a 25 % md5-upset
    * flips it — 5 MM rounds on the integer lattice, the full fixed
    * point replayed by an unrolled-CTE oracle.
    */
  def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val i = pmod(d, lit(8L))
    val j = pmod(floor(d / lit(8)).cast("long"), lit(8L))
    val upset = pmod(
      conv(substring(md5(concat(d.cast("string"), lit(":bt"))), 1, 15),
        16, 10).cast("long"), lit(100L)) < 25
    val matches = tbl(s, dir, "documents")
      .select(d, i.as("_i"), j.as("_j"), upset.as("_u"))
      .filter(col("_i") =!= col("_j"))
      .withColumn("_w", when(col("_u"),
        least(col("_i"), col("_j"))).otherwise(greatest(col("_i"), col("_j"))))
      .withColumn("_l", when(col("_w") === col("_i"), col("_j"))
        .otherwise(col("_i")))
      .select(concat(lit("sys_"), col("_w").cast("string")).as("winner"),
        concat(lit("sys_"), col("_l").cast("string")).as("loser"))
    graft.operators.BradleyTerry.ratings(matches, "winner", "loser",
      rounds = 5)
  }

  /** Checksum-validated PII audit (q293): public test card numbers
    * planted per doc_id residue, every third mutated in the last
    * digit (Luhn-invalid), a 17-digit run planted on every fifth doc
    * (boundary-excluded candidate), and a dotted quad whose octets
    * stray past 255 on decoupled residues — so candidate counts,
    * valid counts and the validation-gated scrub all diverge
    * meaningfully from shape-only masking.
    */
  def qPiiValidate(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val base = element_at(array(lit("4111111111111111"),
      lit("5555555555554444"), lit("378282246310005"),
      lit("6011111111111117")), (pmod(d, lit(4)) + 1).cast("int"))
    // mutate the check digit on every third doc → Luhn-invalid
    val lastD = substring(col("_base"), -1, 1).cast("int")
    val card = when(pmod(d, lit(3)) === 0,
      concat(expr("substring(_base, 1, length(_base) - 1)"),
        pmod(lastD + 1, lit(10)).cast("string")))
      .otherwise(col("_base"))
    val longRun = when(pmod(d, lit(5)) === 0,
      lit(" run 12345678901234567 over")).otherwise(lit(" run none over"))
    val ip = concat(pmod(d * 7L, lit(300L)).cast("string"), lit("."),
      pmod(d * 13L, lit(256L)).cast("string"), lit(".0."),
      pmod(d * 3L, lit(300L)).cast("string"))
    val planted = tbl(s, dir, "documents")
      .select(d, col("text"), base.as("_base"))
      .select(d, concat(substring(lower(col("text")), 1, 40),
        lit(" pay "), card, lit(" at "), ip, longRun, lit(" end"))
        .as("txt"))
    graft.operators.PiiValidate.audit(planted, "doc_id", "txt")
  }

  /** SQuAD-style answer scoring (q294): gold = the document's first
    * 12 tokens; predictions vary per residue — verbatim, article/
    * punctuation noise (still an exact match after normalization),
    * truncated, mid-token substitution, and empty — so EM, clipped
    * overlap and F1 all take the full value range.
    */
  def qQaEval(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(lower(col("text")))
    val gold = concat_ws(" ", slice(tk, 1, 12))
    val r5 = pmod(d, lit(5))
    val pred = when(pmod(d, lit(17)) === 0, lit(""))
      .when(r5 === 0, gold)
      .when(r5 === 1, concat(lit("The "), gold, lit("!!")))
      .when(r5 === 2, concat_ws(" ", slice(tk, 1, 9)))
      .when(r5 === 3, concat_ws(" ", concat(
        slice(tk, 1, 5), array(lit("zzz")), slice(tk, 7, 6))))
      .otherwise(concat_ws(" ", slice(tk, 3, 12)))
    val pairs = tbl(s, dir, "documents")
      .filter(size(tk) >= 14)
      .select(d, pred.as("pred"), gold.as("gold"))
    graft.operators.QaEval.score(pairs, "doc_id", "pred", "gold")
  }

  /** Exact ROC-AUC (q298) of the q279-calibrated quality scores
    * against their planted labels: labels drawn AT the score's own
    * probability make the expected AUC the score distribution's own
    * separability — a non-trivial value both engines must reproduce
    * through the tie-aware Mann–Whitney fold.
    */
  def qRocAuc(s: SparkSession, dir: String): DataFrame = {
    def u6(salt: String) = pmod(
      conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(salt))), 1, 15), 16, 10).cast("long"), lit(1000001L))
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"),
        TextFunctions.qualityScoreFrom(col("text"), col("_toks"))
          .as("_q"))
      .withColumn("_v6", u6(":cal_v2"))
      .withColumn("_s6", expr(
        "(cast(round(_q * 1000000, 0) as bigint) + _v6) div 2"))
      .withColumn("score", col("_s6").cast("double") / 1000000.0)
      .withColumn("label", (u6(":cal_v1") < col("_s6")).cast("int"))
      .select(col("doc_id"), col("score"), col("label"))
    graft.operators.RocAuc.auc(scored, "score", "label")
  }

  /** Document-structure stats (q295) over planted markdown: headings,
    * list items (bulleted and ordered), fenced code blocks, indented
    * lines and blanks all toggle on decoupled residues, so every
    * counter takes non-trivial values and the fence pairing is
    * exercised.
    */
  def qDocStructure(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val tk = TextFunctions.tokens(lower(col("text")))
    def part(a: Int, len: Int) = concat_ws(" ", slice(tk, a, len))
    val lines = array(
      when(pmod(d, lit(3)) === 0, concat(lit("# "), part(1, 2)))
        .otherwise(part(1, 4)),
      part(5, 6),
      when(pmod(d, lit(4)) === 0, concat(lit("- "), part(11, 3)))
        .otherwise(lit("plain line here")),
      when(pmod(d, lit(5)) === 0, lit("```")).otherwise(lit("text ln")),
      when(pmod(d, lit(5)) === 0,
        concat(lit("    code = "), pmod(d, lit(100)).cast("string")))
        .otherwise(part(14, 3)),
      when(pmod(d, lit(5)) === 0, lit("```")).otherwise(lit("tail!")),
      when(pmod(d, lit(7)) === 0, lit("")).otherwise(lit("1. ordered item")))
    val planted = tbl(s, dir, "documents")
      .filter(size(tk) >= 17)
      .select(d, concat_ws("\n", lines).as("txt"))
    graft.operators.DocStructure.stats(planted, "doc_id", "txt")
  }

  /** Special-token contamination audit (q296): chat-template and
    * BOS/EOS markers injected per decoupled residues (repetition
    * included), rolled up per (source, token).
    */
  def qSpecialTokens(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = tbl(s, dir, "documents").select(col("source"),
      concat(substring(col("text"), 1, 60),
        when(pmod(d, lit(7)) === 0,
          expr("repeat(' <|endoftext|>', cast(pmod(doc_id, 3) + 1 as int))"))
          .otherwise(lit("")),
        when(pmod(d, lit(11)) === 0, lit(" <s>mid</s>")).otherwise(lit("")),
        when(pmod(d, lit(13)) === 0, lit(" [INST] hi [/INST]"))
          .otherwise(lit("")),
        when(pmod(d, lit(17)) === 0, lit(" <|im_start|>user<|im_end|>"))
          .otherwise(lit(""))).as("txt"))
    graft.operators.SpecialTokens.audit(planted, "source", "txt")
  }

  /** Streaming special-token monitor (q299): the q296 contamination
    * plant replayed through a REAL file-source micro-batch stream
    * (one doc per minute of event time), the token scan applied
    * INSIDE the stream, per-15-minute-window per-token doc/occurrence
    * counts on watermark close — the live gate that catches a source
    * suddenly shipping chat-template markers. Batch-parity oracle.
    */
  def qStreamSpecialTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SpecialTokens
    val d = col("doc_id")
    val events = tbl(s, dir, "documents")
      .select(d.as("user_id"), d.as("event_id"),
        expr("timestamp_micros(doc_id * 60000000)").as("ts"),
        concat(substring(col("text"), 1, 60),
          when(pmod(d, lit(7)) === 0, expr(
            "repeat(' <|endoftext|>', cast(pmod(doc_id, 3) + 1 as int))"))
            .otherwise(lit("")),
          when(pmod(d, lit(11)) === 0, lit(" <s>mid</s>"))
            .otherwise(lit("")),
          when(pmod(d, lit(13)) === 0, lit(" [INST] hi [/INST]"))
            .otherwise(lit("")),
          when(pmod(d, lit(17)) === 0, lit(" <|im_start|>user<|im_end|>"))
            .otherwise(lit(""))).as("event_type"))
    graft.streaming.EventStreams.replayToTable(
      events,
      df => {
        val perToken = array(SpecialTokens.Tokens.map(tok =>
          struct(lit(tok).as("token"),
            SpecialTokens.occurrences(col("event_type"), tok).as("n")))
          : _*)
        // watermark BEFORE the contamination filter: the horizon
        // sentinel carries no tokens, and dropping it ahead of the
        // watermark node would leave the final window unclosed
        df.withWatermark("ts", "0 seconds")
          .select(col("ts"), explode(perToken).as("_e"))
          .filter(col("_e.n") > 0L)
          .groupBy(window(col("ts"), "15 minutes").as("win"),
            col("_e.token").as("token"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("_e.n")).as("n_occurrences"))
          .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("token"), col("n_docs"),
            col("n_occurrences"))
      },
      // 2 real batches + the sentinel: the event-time windows span the
      // batch boundary (state carried across >=1 commit) and the output
      // of a watermarked window agg over time-ordered range batches is
      // batch-composition-independent — one fewer micro-batch cycle is
      // ~0.7 s off the replay floor at hash parity (replay-timing probe)
      horizonSeconds = 3600, numBatches = 2)
      .filter(col("token").isNotNull)
  }

  /** End-to-end web-corpus intake (q300): the round's new stages
    * composed the way a crawl pipeline runs them — HTML → text
    * extraction, head-metadata canonical host, model-based LID,
    * token accounting and a minimum-length keep gate — rolled up per
    * (canonical host, predicted language). The oracle nests the SAME
    * generated CTE chains (extract steps, canon algebra, LID
    * scoring), so the whole composition is one hash check.
    */
  def qWebPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{HtmlExtract, UrlCanon, LanguageId}
    val html = plantedRichHtml(s, dir)
    val extracted = HtmlExtract.stats(html, "doc_id", "html")
      .select(col("doc_id"), col("text"))
    val hosts = HtmlExtract.pageMeta(html, "doc_id", "html")
      .select(col("doc_id"),
        coalesce(when(col("canonical_raw") =!= "",
          UrlCanon.canonicalHost(col("canonical_raw"))), lit("(none)"))
          .as("host"))
    val classified = LanguageId.classify(extracted, "doc_id", "text")
      .select(col("doc_id"), col("lang_pred"))
    val staged = extracted
      .withColumn("n_tokens",
        graft.functions.TextFunctions.tokenCountArithmetic(col("text"))
          .cast("long"))
      .join(hosts, Seq("doc_id"))
      .join(classified, Seq("doc_id"))
    staged.groupBy(col("host"), col("lang_pred"))
      .agg(count(lit(1)).as("n_pages"),
        sum(col("n_tokens")).as("sum_tokens"),
        sum(when(col("n_tokens") >= 8, 1L).otherwise(0L)).as("n_kept"))
  }

  /** l-diversity audit (q301): the k-anonymity companion over the
    * natural (lang, length-band) quasi-identifier groups with source
    * as the sensitive attribute — homogeneous cells (every doc from
    * one source) fail, mixed cells pass, and the dominant-source
    * share is the homogeneity readout.
    */
  def qLDiversity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.lDiversity(
      tbl(s, dir, "documents").select(col("lang"),
        floor(col("n_chars") / 200).cast("long").as("len_band"),
        col("source")),
      Seq("lang", "len_band"), "source", l = 3)

  /** t-closeness audit (q302): the skewness-attack companion to
    * q301 over the same (lang, length-band) QI cells — exact
    * variational distance between each cell's source distribution
    * and the corpus-wide one, DECIMAL(38,0) numerators, one closing
    * division. At the corpus's own skew t = 0.33 splits the cells.
    */
  def qTCloseness(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.tCloseness(
      tbl(s, dir, "documents").select(col("lang"),
        floor(col("n_chars") / 200).cast("long").as("len_band"),
        col("source")),
      Seq("lang", "len_band"), "source", t = 0.33)

  /** Fellegi–Sunter record linkage (q303): probabilistic entity
    * resolution over a planted dirty re-entry registry — every third
    * customer re-enters with residue-driven noise (1-char typo on
    * e%2, 3-char scramble on e%7, balance +0.5 or +50 on e%4), and
    * the linker recovers link / possible / non_link decisions from
    * pinned integer log-likelihood weights (1e-6 lattice: ln(m/u)
    * for m=.95/u=.001 name-exact, m=.9/u=.05 balance) over
    * (nation, segment, balance-band) blocked candidates.
    * `is_true_match` rides along so the decision matrix is readable.
    */
  def qRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.RecordLinkage
    val c = tbl(s, dir, "customer")
    val a = c.select(col("c_custkey"), col("c_name"), col("c_acctbal"),
      col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 500).cast("long").as("band"))
    val e = floor(col("c_custkey") / 3).cast("long")
    val b = c.filter(pmod(col("c_custkey"), lit(3)) === 0)
      .select(
        col("c_custkey"),
        when(pmod(e, lit(7)) === 0,
          concat(substring(col("c_name"), 1, 9), lit("XYZ"),
            col("c_name").substr(lit(13), lit(100))))
          .when(pmod(e, lit(2)) === 0,
            concat(substring(col("c_name"), 1, 9), lit("X"),
              col("c_name").substr(lit(11), lit(100))))
          .otherwise(col("c_name")).as("c_name"),
        (col("c_acctbal") +
          when(pmod(e, lit(4)) < 3, lit(0.5)).otherwise(lit(50.0)))
          .as("c_acctbal"),
        col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
      .withColumn("band", floor(col("c_acctbal") / 500).cast("long"))
    val cands = RecordLinkage.blockedCandidates(a, b,
      Seq("nat", "seg", "band"))
    RecordLinkage.fellegiSunter(cands,
        "c_name_a", "c_name_b", "c_acctbal_a", "c_acctbal_b",
        RecordLinkage.FsWeights(6856462L, 3500000L, -2994732L,
          2890372L, -2251292L, nameMaxEdits = 2, numTol = 1.0),
        tLink = 6000000L, tNonLink = 0L)
      .select(col("c_custkey_a").as("id_a"),
        col("c_custkey_b").as("id_b"),
        col("name_level"), col("num_agree"),
        col("score_points"), col("decision"),
        (col("c_custkey_a") === col("c_custkey_b")).as("is_true_match"))
  }

  /** Contamination-forensics scorecard (q317): the three independent
    * leakage signals composed per train document — verbatim 5-gram
    * overlap vs the held-out eval docs (q112), embedding-space
    * proximity to the benchmark set (q313, vec_id ≡ doc_id), and the
    * min-K%/avg LM surprisal pair (q312) — with the positive-evidence
    * flag a curation pipeline actually gates on.
    */
  def qContaminationReport(s: SparkSession, dir: String): DataFrame = {
    val docs = tbl(s, dir, "documents")
    val train = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val ng = graft.operators.Decontamination.overlap(
        train, docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text", n = 5, minShared = 3L)
      .groupBy(col("train_id").as("doc_id"))
      .agg(count(lit(1)).as("n_ngram_hits"))
    val sem = qSemanticGate(s, dir)
      .select(col("vec_id").as("doc_id"),
        col("n_eval_hits").as("n_sem_hits"))
    val mink = qMinKProb(s, dir)
      .select(col("doc_id"), col("mink_neg_logp"), col("avg_neg_logp"))
    train.select(col("doc_id"))
      .join(ng, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .join(mink, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_ngram_hits"), lit(0L)).as("n_ngram_hits"),
        coalesce(col("n_sem_hits"), lit(0L)).as("n_sem_hits"),
        col("mink_neg_logp"), col("avg_neg_logp"))
      .withColumn("flagged",
        col("n_ngram_hits") > 0L || col("n_sem_hits") > 0L)
  }

  /** Temperature-scaled mixture weights (q316): T = 2 sampling
    * shares per source with an exact half-up 1M-token allocation —
    * the smooth upsampling curve UniMax's cap (q220) bounds.
    */
  def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    graft.operators.Unimax.sqrtTemperatureWeights(
      tbl(s, dir, "documents"), "source", "text", budget = 1000000L)

  /** Exact two-sample KS (q315): document-length distribution shift
    * between every source pair — the bin-free complement to PSI
    * (q202) and chi² (q153), D exact on cross-multiplied DECIMAL
    * CDFs.
    */
  def qKsTest(s: SparkSession, dir: String): DataFrame =
    graft.operators.KsTest.ksTwoSample(
      tbl(s, dir, "documents"), "source", "n_chars")

  /** MAD robust outlier audit (q314): per-source document-length
    * outliers by median/MAD with the exact cross-multiplied
    * 3σ-equivalent threshold — the z-score audit's (q58)
    * contamination-proof sibling.
    */
  def qMadOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.RobustStats.madOutliers(
      tbl(s, dir, "documents"), "source", "n_chars", "doc_id")

  /** Semantic decontamination gate (q313): corpus embeddings on the
    * 1e-3 lattice vs an 8-vector md5-sampled "benchmark" set —
    * cosine ≥ 0.35 as a fully integer gate (dot²·10⁴ ≥ 1225·na·nb),
    * self-hits prove the gate, cross-hits are the paraphrase-leakage
    * readout n-gram decontamination (q112) cannot see.
    */
  def qSemanticGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.ProductQuantization
    val lattice = ProductQuantization.latticeFrame(
      tbl(s, dir, "embeddings"), "vec_id", "embedding")
    val evalSet = ProductQuantization.mdRanked(lattice, "vec_id", 8,
      "decon_v1")
      .select(col("vec_id").as("eval_id"), col("v3").as("e3"))
    graft.operators.Decontamination.semanticGate(
      lattice, "vec_id", "v3", evalSet, "eval_id", "e3",
      tauNum = 35, tauDen = 100)
  }

  /** Sentence-boundary RAG chunking (q311): planted per-sentence
    * token counts (3..8 sentences of 2..30 tokens from decoupled
    * residues — values above the 24-token budget exercise the
    * single-sentence-overflow and no-overlap branches), chunked
    * greedily with one-sentence overlap.
    */
  def qSentenceChunks(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val stok = transform(sequence(lit(1L), pmod(d, lit(6)) + 3L),
      i => pmod(d * 7L + i * 13L, lit(29L)) + 2L)
    graft.operators.Chunking.sentenceChunks(
      tbl(s, dir, "documents").select(d, stok.as("stok")),
      "doc_id", "stok", budget = 24L)
  }

  /** JSON sidecar conformance (q309): planted metadata lines with
    * four corruption classes on decoupled residues — truncated JSON
    * (d%13), missing toks (d%7), string-typed toks (d%11), drifted id
    * (d%17) — audited per source: parse rate, field presence, numeric
    * type, id/lang agreement, all-checks conformance.
    */
  def qJsonAudit(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val idv = when(pmod(d, lit(17)) === 0, d + 1L).otherwise(d)
    val tk = when(pmod(d, lit(7)) === 0, lit(""))
      .when(pmod(d, lit(11)) === 0,
        concat(lit(",\"toks\":\""), col("n_chars").cast("string"),
          lit("\"")))
      .otherwise(concat(lit(",\"toks\":"), col("n_chars").cast("string")))
    val staged = tbl(s, dir, "documents")
      .select(d, col("source"), col("lang"), col("n_chars"))
      .withColumn("_body", concat(lit("{\"id\":"), idv.cast("string"),
        lit(",\"lang\":\""), col("lang"), lit("\""), tk, lit("}")))
      .withColumn("j", when(pmod(d, lit(13)) === 0,
        expr("substring(_body, 1, length(_body) - 1)"))
        .otherwise(col("_body")))
    graft.operators.JsonAudit.schemaConformance(staged, "source", "j",
      requiredFields = Seq("id", "lang", "toks"),
      numericFields = Seq("toks"),
      matchChecks = Seq(
        ("id", "id", d.cast("string")),
        ("lang", "lang", col("lang"))))
  }

  /** Split-conformal calibration (q308): md5 half-split of the
    * corpus, nonconformity scores on the md5 1e-6 lattice, α = 0.1 —
    * the ⌈(n+1)·0.9⌉-th smallest calibration score via the bounded
    * histogram walk, held-out coverage as one exact division.
    */
  def qConformal(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val s6 = pmod(conv(substring(md5(concat(d.cast("string"),
      lit(":conf_v1"))), 1, 15), 16, 10).cast("long"), lit(1000001L))
    graft.operators.Conformal.splitConformal(
      tbl(s, dir, "documents").select(d, s6.as("s6")),
      "doc_id", "s6", alphaNum = 1, alphaDen = 10,
      splitSalt = "conf_split")
  }

  /** PQ + ADC top-k search (q307): 64-dim embeddings on the 1e-3
    * lattice, 4 subspaces × 16 dims, an 8-entry md5-sampled codebook
    * per subspace, 4 md5-sampled queries — approximate distances by
    * 4 table lookups per vector, top-5 per query through the bounded
    * heap on unique packed scores, exact distances riding along as
    * the quality readout.
    */
  def qPqAdc(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProductQuantization.adcTopK(
      graft.operators.ProductQuantization.latticeFrame(
        tbl(s, dir, "embeddings"), "vec_id", "embedding"),
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 4, topK = 5,
      cbSalt = "pq_v1", qSalt = "pq_q1")

  /** ADC recall@5 (q318): q307's approximate cut against the exact
    * top-5 under the SAME packed-score order — the quality number
    * the PQ index ships with, hash-exact because ground truth is as
    * deterministic as the approximation.
    */
  def qAdcRecall(s: SparkSession, dir: String): DataFrame =
    graft.operators.ProductQuantization.adcRecall(
      graft.operators.ProductQuantization.latticeFrame(
        tbl(s, dir, "embeddings"), "vec_id", "embedding"),
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 4, topK = 5,
      cbSalt = "pq_v1", qSalt = "pq_q1")

  /** IVF→ADC top-k (q326): q307's lattice/codebook/query set with a
    * corpus-DERIVED md5-sampled coarse quantizer (nlist = ⌈√N⌉ in
    * [16, 65536] — the FAISS sizing rule, replayed exactly by the
    * oracle since IEEE sqrt is correctly rounded) and nprobe = 2,
    * pruning candidates BEFORE the ADC rerank — the large-|Q|
    * cutover adcTopK's guard points at, declared as a real operator
    * in its SCALE configuration. Output schema matches q307 so the
    * flat and pruned boards read side by side.
    */
  def qIvfAdc(s: SparkSession, dir: String): DataFrame = {
    val lat = graft.operators.ProductQuantization.latticeFrame(
      tbl(s, dir, "embeddings"), "vec_id", "embedding")
    // the ⌈√N⌉ derivation reads the session stats memo instead of
    // paying a counting pass per call (r12 verdict nit #1): one count
    // per JVM per frame serves q326/q327 and every bench rep
    graft.operators.ProductQuantization.ivfAdcTopK(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 4, topK = 5,
      nprobe = 2, cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(dir + ":embeddings", lat))
  }

  /** IVF→ADC recall@5 (q327): q326's pruned cut against the SAME
    * exact ground truth q318 measures — read together, the two
    * recall boards price the nprobe/nlist candidate loss separately
    * from the PQ quantization loss.
    */
  def qIvfAdcRecall(s: SparkSession, dir: String): DataFrame = {
    val lat = graft.operators.ProductQuantization.latticeFrame(
      tbl(s, dir, "embeddings"), "vec_id", "embedding")
    graft.operators.ProductQuantization.ivfAdcRecall(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 4, topK = 5,
      nprobe = 2, cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(dir + ":embeddings", lat))
  }

  /** The planted CLUSTERED embedding lattice for the residual-IVFADC
    * family (q329-q331): w_j = lat3(embedding_j) + off(g)_j with
    * g = vec_id % 16 and off(g)_j = (((g+1)·7919 + j·104729) % 9 − 4)
    * · 500 — 16 tight clusters (inter-cluster distance² ≈ 100× the
    * intra spread), every step exact int64 both engines replay (all
    * mod operands positive, no division). The q328 planted-fixture
    * precedent: the raw embeddings table is ISOTROPIC (measured:
    * residual-to-coarse-centroid norm² = 1.44× the raw norm², so NO
    * encoding can beat another there — the deltas are coin flips at
    * any |Q|), while a clustered corpus is the regime IVF indexes
    * exist for and the regime where residual vs raw encoding is a
    * real, measurable contrast. Packing stays exact: |w_j| ≤ 2700,
    * any pairwise per-dim diff ≤ 5400, residual-vs-code diff ≤
    * 10800 → adc_dist ≤ 64·10800² ≈ 7.5e9 and packed dist·10⁶ + id
    * ≤ 7.5e15 < 2⁵³, so the double-scored heap cut is exact even in
    * the worst inter-cluster-residual case.
    */
  private def plantedClusteredLattice(s: SparkSession,
      dir: String): DataFrame =
    tbl(s, dir, "embeddings").select(col("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        graft.operators.ProductQuantization.lat3(
          element_at(col("embedding"), j)) +
        ((((col("vec_id") % 16L) + 1L) * 7919L + j.cast("long") * 104729L)
          % 9L - 4L) * 500L).as("v3"))

  /** Residual-encoded IVFADC top-k (q329): IVFADC proper — vectors
    * PQ-encode their residual v − c(v), queries build per-probed-cell
    * residual tables (Jégou et al. 2011 §III, the FAISS IndexIVFPQ
    * shape) — on the planted clustered fixture, with q326's
    * k/m/nprobe and the derived-⌈√N⌉ coarse quantizer. Same output
    * schema as q307/q326 so the three ADC boards read side by side.
    */
  def qIvfAdcResidual(s: SparkSession, dir: String): DataFrame = {
    val lat = plantedClusteredLattice(s, dir)
    // keyed by the PLANTED frame, not the raw table: the memo must
    // name the frame it counted (first-caller-wins would otherwise
    // decide which of two frames backs a shared key — review r13)
    graft.operators.ProductQuantization.ivfAdcResidualTopK(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 32, topK = 5,
      nprobe = 2, cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(dir + ":embeddings:planted16", lat))
  }

  /** Residual-IVFADC recall@5 (q330): q329's cut against the exact
    * top-5 on the planted clustered fixture — read against q331 (the
    * raw-encoding recall on the SAME fixture, same coarse cells, same
    * k/m/queries), the delta is exactly what residual encoding buys:
    * raw codes must tile the whole space, so a clustered corpus
    * collapses each cluster onto one code and within-cell ranking
    * degenerates to the id tie-break; residual codes only describe
    * the translation-invariant within-cell offset. Measured at
    * sf0.01: residual 0.194 vs raw 0.125 mean recall@5; at sf0.1:
    * 0.069 vs 0.025 (2.8×).
    */
  def qIvfAdcResidualRecall(s: SparkSession, dir: String): DataFrame = {
    val lat = plantedClusteredLattice(s, dir)
    graft.operators.ProductQuantization.ivfAdcResidualRecall(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 32, topK = 5,
      nprobe = 2, cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(dir + ":embeddings:planted16", lat))
  }

  /** Raw-encoding IVF-ADC recall@5 on the planted clustered fixture
    * (q331): q330's control row — identical pipeline except vectors
    * and queries PQ-encode RAW positions against a whole-space
    * codebook. The q330 − q331 delta is the residual-encoding
    * evidence, hash-checked on both sides.
    */
  def qIvfAdcRawPlantedRecall(s: SparkSession, dir: String): DataFrame = {
    val lat = plantedClusteredLattice(s, dir)
    graft.operators.ProductQuantization.ivfAdcRecall(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 32, topK = 5,
      nprobe = 2, cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(dir + ":embeddings:planted16", lat))
  }

  /** IVF nprobe calibration (q336): the q334 band-plan pattern
    * applied to the probe knob — the FAISS tuning table. For
    * nprobe ∈ {1, 2, 4, 8} over the planted clustered fixture with
    * q329's residual-encoded index (same coarse quantizer, codebook,
    * queries — shared across plans, each plan a rank filter), the
    * mean recall@5 against the exact ground truth next to the total
    * candidate pairs scored. Read with q334: the two calibration
    * boards are the index-tuning surface a pipeline consults before
    * committing an nprobe/band plan.
    */
  def qIvfNprobeCalibration(s: SparkSession, dir: String): DataFrame = {
    val lat = plantedClusteredLattice(s, dir)
    graft.operators.ProductQuantization.ivfAdcResidualNprobeSweep(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 32, topK = 5,
      nprobes = Seq(1, 2, 4, 8), cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(
        dir + ":embeddings:planted16", lat))
  }

  /** nprobe COMMIT (q339): the q338 decision rule applied to q336's
    * tuning table, completing the calibrate→commit symmetry — the
    * smallest nprobe whose mean recall@5 reaches 0.20 (exact-integer
    * compare on the 10⁶ lattice: overlap·10⁶ ≥ 200000·k_exact),
    * fallback to best recall with the downgrade flagged. The row an
    * ANN deployment actually reads. Same shared index / queries /
    * ground truth as q336, so the committed row matches q336's table
    * by construction.
    */
  def qIvfNprobeSelect(s: SparkSession, dir: String): DataFrame = {
    val lat = plantedClusteredLattice(s, dir)
    graft.operators.ProductQuantization.ivfAdcResidualNprobeSelect(lat,
      "vec_id", dims = 64, m = 4, k = 8, nQueries = 32, topK = 5,
      nprobes = Seq(1, 2, 4, 8), cbSalt = "pq_v1", qSalt = "pq_q1",
      ivfSalt = "pq_ivf1",
      nCorpus = graft.core.CorpusStats.rowCount(
        dir + ":embeddings:planted16", lat))
  }

  /** DP Laplace histogram release (q306): the (lang, source) doc
    * histogram released under ε = 0.5 (invEps = 2) with the portable
    * md5 inverse-CDF draw — count + Lap(1/ε) per cell, noise exact on
    * the 1e-8 lattice, clamped post-processing riding along.
    */
  def qDpHistogram(s: SparkSession, dir: String): DataFrame =
    graft.operators.Privacy.laplaceHistogram(
      tbl(s, dir, "documents").select(col("lang"), col("source")),
      Seq("lang", "source"), invEps = 2, seedTag = "dp_v1")

  /** Packing-fragmentation report (q325): split-doc and
    * boundary-crossing-token fractions at three candidate context
    * lengths over the corpus token stream — offsets computed once,
    * every budget pure arithmetic.
    */
  def qPackingFragmentation(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packingFragmentation(
      tbl(s, dir, "documents").select(col("doc_id"),
        TextFunctions.tokenCountArithmetic(col("text")).as("n_tokens")),
      "doc_id", "n_tokens", budgets = Seq(128L, 512L, 2048L))

  /** Streaming JSON-conformance monitor (q324): the q309 sidecar
    * audit INSIDE a real micro-batch replay — per-15-min-window
    * per-source parse and all-checks-conformant counts on watermark
    * close (the intake gate a crawl ingest runs live). The sidecar
    * rides `event_type` as `source|json` (the replay harness's fixed
    * schema) and the expected id rides `user_id`.
    */
  def qStreamJsonAudit(s: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val idv = when(pmod(d, lit(17)) === 0, d + 1L).otherwise(d)
    val tk = when(pmod(d, lit(7)) === 0, lit(""))
      .when(pmod(d, lit(11)) === 0,
        concat(lit(",\"toks\":\""), col("n_chars").cast("string"),
          lit("\"")))
      .otherwise(concat(lit(",\"toks\":"), col("n_chars").cast("string")))
    val events = tbl(s, dir, "documents")
      .withColumn("_body", concat(lit("{\"id\":"), idv.cast("string"),
        lit(",\"lang\":\""), col("lang"), lit("\""), tk, lit("}")))
      .select(d.as("user_id"), d.as("event_id"),
        expr("timestamp_micros(doc_id * 60000000)").as("ts"),
        concat(col("source"), lit("|"),
          when(pmod(d, lit(13)) === 0,
            expr("substring(_body, 1, length(_body) - 1)"))
            .otherwise(col("_body"))).as("event_type"))
    graft.streaming.EventStreams.replayToTable(
      events,
      df => {
        val src = substring_index(col("event_type"), "|", 1)
        val j = expr(
          "substring(event_type, instr(event_type, '|') + 1)")
        val ok = get_json_object(j, "$").isNotNull
        val fid = when(ok, get_json_object(j, "$.id"))
        val flang = when(ok, get_json_object(j, "$.lang"))
        val ftoks = when(ok, get_json_object(j, "$.toks"))
        val conform = ok && fid.isNotNull && flang.isNotNull &&
          ftoks.isNotNull && ftoks.rlike("^[0-9]+$") &&
          fid === col("user_id").cast("string")
        df.withWatermark("ts", "0 seconds")
          .withColumn("_src", src)
          .withColumn("_ok", ok)
          .withColumn("_cf", conform)
          .groupBy(window(col("ts"), "15 minutes").as("win"),
            col("_src").as("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("_ok"), 1L).otherwise(0L)).as("n_parsed"),
            sum(when(col("_cf"), 1L).otherwise(0L)).as("n_conformant"))
          .select(date_format(col("win.start"), "yyyy-MM-dd HH:mm:ss")
            .as("window_start"), col("source"), col("n_docs"),
            col("n_parsed"), col("n_conformant"))
      },
      // 2 real batches + the sentinel: the event-time windows span the
      // batch boundary (state carried across >=1 commit) and the output
      // of a watermarked window agg over time-ordered range batches is
      // batch-composition-independent — one fewer micro-batch cycle is
      // ~0.7 s off the replay floor at hash parity (replay-timing probe)
      horizonSeconds = 3600, numBatches = 2)
      .filter(col("source").isNotNull)
  }

  /** NMI + purity (q323): clustering-agreement readout between the
    * corpus's lang and source columns — lattice-ln mutual
    * information over the contingency cells with the 1/(N·10⁸)
    * factor cancelled in the headline.
    */
  def qNmi(s: SparkSession, dir: String): DataFrame =
    graft.operators.Contingency.nmiPurity(
      tbl(s, dir, "documents"), "lang", "source")

  /** Kendall τ-b (q322): ordinal association between quantity and
    * discount percent over the zero-filled 50×11 joint histogram —
    * exact concordant/discordant counts from two chained prefix-sum
    * windows, ties from the marginals, one division over one sqrt.
    */
  def qKendallTau(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranks.kendallTauB(
      tbl(s, dir, "lineitem").select(
        col("l_quantity").cast("long").as("qty"),
        round(col("l_discount") * 100, 0).cast("long").as("disc_pct")),
      "qty", "disc_pct")

  /** HITS hubs/authorities (q321): 4 integer-lattice rounds over the
    * DIRECTED supplier→part graph — suppliers are pure hubs, parts
    * pure authorities (the bipartite case HITS was built for), and
    * the L1-normalized fixed point replays exactly in the unrolled
    * oracle.
    */
  def qHits(s: SparkSession, dir: String): DataFrame = {
    val edges = tbl(s, dir, "lineitem").select(
      col("l_suppkey").cast("long").as("src"),
      (col("l_partkey").cast("long") + 10000000L).as("dst"))
    graft.operators.Hits.microHits(edges, iterations = 4,
      convergeEarly = true)
  }

  /** ER end-to-end: golden records (q320) — the survivorship stage
    * after q303's probabilistic linkage: link-decision pairs become
    * undirected edges, [[graft.operators.Dedup.duplicateClusters]]
    * closes them transitively (min-label pointer jumping), and each
    * entity ships one golden record (canonical name from the
    * smallest member id, balance extremes, registry coverage) — the
    * full MDM pipeline blocking → scoring → clustering →
    * survivorship in one declared query.
    */
  def qGoldenRecords(s: SparkSession, dir: String): DataFrame = {
    val c = tbl(s, dir, "customer")
    val a = c.select((col("c_custkey") * 2).as("rec_id"), col("c_name"),
      col("c_acctbal"), lit("a").as("registry"))
    val e = floor(col("c_custkey") / 3).cast("long")
    val bName = when(pmod(e, lit(7)) === 0,
      concat(substring(col("c_name"), 1, 9), lit("XYZ"),
        col("c_name").substr(lit(13), lit(100))))
      .when(pmod(e, lit(2)) === 0,
        concat(substring(col("c_name"), 1, 9), lit("X"),
          col("c_name").substr(lit(11), lit(100))))
      .otherwise(col("c_name"))
    val bBal = col("c_acctbal") +
      when(pmod(e, lit(4)) < 3, lit(0.5)).otherwise(lit(50.0))
    val b = c.filter(pmod(col("c_custkey"), lit(3)) === 0)
      .select((col("c_custkey") * 2 + 1).as("rec_id"),
        bName.as("c_name"), bBal.as("c_acctbal"), lit("b").as("registry"))
    val records = a.unionByName(b)
    val links = qRecordLinkage(s, dir)
      .filter(col("decision") === "link")
      .select((col("id_a") * 2).as("s"), (col("id_b") * 2 + 1).as("t"))
    val cc = graft.operators.Dedup.duplicateClusters(
      records.select(col("rec_id")), links, "rec_id", "s", "t")
    records.join(cc, Seq("rec_id"))
      .groupBy(col("cluster_id").as("entity_id"))
      .agg(count(lit(1)).as("n_records"),
        countDistinct(col("registry")).as("n_sources"),
        min(struct(col("rec_id").as("i"), col("c_name").as("n")))
          .getField("n").as("canonical_name"),
        max(col("c_acctbal")).as("max_bal"),
        min(col("c_acctbal")).as("min_bal"))
  }

  /** Reciprocal-rank fusion (q297): the q24 quality ranking fused
    * with the length ranking (both through the single-exchange rank
    * kernel, ties pinned by doc_id) — the calibration-free hybrid
    * ranker composition a retrieval stack ships.
    */
  def qRankFusion(s: SparkSession, dir: String): DataFrame = {
    val scored = tbl(s, dir, "documents")
      .withColumn("_toks", TextFunctions.tokens(lower(col("text"))))
      .select(col("doc_id"), col("n_chars"),
        round(TextFunctions.qualityScoreFrom(col("text"), col("_toks"))
          * 1000000, 0).cast("long").as("_q6"))
      .localCheckpoint()
    val byQuality = graft.operators.Ranks.globalRankBy(
      scored, "doc_id", "rank_quality",
      Seq(-col("_q6"), col("doc_id")))
      .select(col("doc_id"), col("rank_quality"))
    val byLength = graft.operators.Ranks.globalRankBy(
      scored, "doc_id", "rank_length",
      Seq(-col("n_chars"), col("doc_id")))
      .select(col("doc_id"), col("rank_length"))
    graft.operators.RankFusion.fuse(byQuality, byLength, "doc_id",
      "rank_quality", "rank_length")
  }
}
