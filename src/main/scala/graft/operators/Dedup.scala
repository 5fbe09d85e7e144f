package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication operators for LLM-scale corpora (SURVEY.md §7.5):
  * exact hashing, exact Jaccard and containment via inverted indexes,
  * the exhaustive MinHash/embedding verify twins, duplicate clustering
  * and edit-distance verify.
  *
  * The banded near-dup families — MinHash-LSH, SimHash and embedding
  * sign-LSH — each have one implementation, the md5-based one in
  * [[PortableMinHash]], [[PortableSimHash]] and [[PortableSignLsh]]:
  * its output can be hash-checked against an external SQL oracle.
  * They share this object's verify and cache-release stages.
  *
  * Scale design: every indexed variant joins on an element or bucket
  * key (never a cross join outside the exhaustive twins), so the plan
  * survives a 100× scale-up; key skew is handled by AQE skew join. All
  * hashing is constant → runs are deterministic.
  */
object Dedup {

  // ── Exact ───────────────────────────────────────────────────────────

  /** Content hash groups: sha-256 of the text with group sizes —
    * the classic "exact near-zero-cost first pass" before any fuzzy
    * matching. Hash-groupBy shuffles only (hash, id) pairs.
    */
  def exactHashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), sha2(col(textCol), 256).as("text_sha"))
      .groupBy(col("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Quality-weighted survivor selection: keeps the FULL row with the
    * HIGHEST `scoreCol` per group (ties broken by smallest `idCol`),
    * plus the group size as `n_candidates` — unlike `dropDuplicates`,
    * whose survivor is partition-order dependent, this ranks the
    * candidates, the form corpus curation actually wants ("of these
    * duplicates, keep the best one"). Map-side `min_by` combine: one
    * candidate row per group per mapper through the shuffle, no
    * window sort.
    */
  def exactKeepBest(df: DataFrame, idCol: String, keyCols: Seq[String],
      scoreCol: String): DataFrame = {
    val payload = struct(df.columns.toSeq.map(col): _*)
    // min_by over (-score, id): struct ordering is lexicographic, so
    // this is (score DESC, id ASC) — deterministic for any score ties
    df.groupBy(keyCols.map(col).toSeq: _*)
      .agg(min_by(payload, struct(negate(col(scoreCol)), col(idCol))).as("_row"),
        count(lit(1)).as("n_candidates"))
      .select(df.columns.toSeq.map(c => col(s"_row.`$c`").as(c))
        :+ col("n_candidates"): _*)
  }

  /** The exhaustive MinHash verify's shingle preparation: tokens are
    * materialized before shingling (lambda-capture contract in
    * TextFunctions: an inline tokenizer would re-run per shingle).
    */
  private def prepareShingles(
      df: DataFrame, idCol: String, textCol: String, shingleWords: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      tokens(lower(col(textCol))).as("_toks"))
      .withColumn("shingles", wordShinglesFromTokens(col("_toks"), shingleWords))
      .drop("_toks")

  /** The exhaustive MinHash verify stage: attach shingle sets to
    * candidate id pairs, exact-Jaccard filter.
    */
  private def verifyJaccard(
      candidates: DataFrame, shingled: DataFrame, threshold: Double): DataFrame = {
    val shingleLookup = shingled.select(col("doc_id"), col("shingles"))
    candidates
      .join(shingleLookup.select(col("doc_id").as("id_a"),
        col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingleLookup.select(col("doc_id").as("id_b"),
        col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard_sim", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_sim"), 6).as("jaccard_sim"))
  }

  /** MinHash near-dup with LSH blocking DISABLED: every id pair is a
    * candidate, then the shingle-prep and exact-Jaccard verify stages
    * run. Quadratic by construction — exists so the verify machinery
    * can be proven exact against an exhaustive SQL oracle on a bounded
    * corpus; [[PortableMinHash.nearDupPairs]] is the scale path.
    */
  def minHashVerifyExhaustive(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleWords: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val prepared = prepareShingles(df, idCol, textCol, shingleWords).persist()
    val ids = prepared.select(col("doc_id"))
    val candidates = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    materializeAndRelease(verifyJaccard(candidates, prepared, threshold), prepared)
  }

  /** Eagerly materializes `result` (localCheckpoint severs the lineage
    * back to the cached intermediates), then unpersists the
    * intermediates — the operator leaves NO storage pinned behind it.
    * The pair list a near-dup operator returns is orders of magnitude
    * smaller than its inputs, so the checkpoint is cheap even at scale.
    */
  private[operators] def materializeAndRelease(result: DataFrame, cached: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(true)
    cached.foreach(_.unpersist())
    out
  }

  /** EXACT Jaccard ≥ t pairs via an inverted index — the scale path
    * for exact set-similarity self-join, replacing the O(n²) cross
    * join with candidates drawn only from pairs that SHARE an
    * element (a pair sharing nothing has J = 0 and, for t > 0, can
    * never qualify — dropping it is lossless).
    *
    * Plan: explode each doc's distinct element set into postings
    * (element, doc, set_size); self-join postings BY ELEMENT (the
    * only shuffle key); count co-occurrences per (a, b) — that count
    * IS |A∩B|, so J = c / (|A| + |B| − c) with no second pass over
    * the sets. A size-ratio prune (J ≤ min/max ⇒ qualifying pairs
    * have min ≥ t·max) cuts candidates before the pair aggregation.
    *
    * Skew honesty: a very common element contributes O(df²) candidate
    * rows; word-token sets at web scale need either selective
    * elements (char n-grams — far rarer than words) or prefix
    * filtering on rare elements only. The operator is exact for
    * whatever set column the caller prepares; the declared query
    * keeps q28's word-token semantics so the exhaustive oracle
    * applies verbatim.
    *
    * @param sets (idCol, setCol: array) — elements should be DISTINCT
    *             per row (array_distinct upstream); duplicates would
    *             overcount the intersection.
    */
  def jaccardPairsIndexed(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    // persist: consumed by BOTH self-join sides, and set construction
    // upstream (shingling/tokenizing) is typically the expensive part
    // — unpersisted lineage would run it twice (plus once per extra
    // column reference after projection collapse). The explicit
    // repartition by element makes the cached layout satisfy the
    // self-join's distribution on BOTH sides, so the join runs with
    // zero additional exchanges (one shuffle total before the pair
    // aggregation, and it's paid once, at persist time).
    val postings = sets.select(col(idCol).as("doc_id"),
        size(col(setCol)).as("sz"), explode(col(setCol)).as("_el"))
      .repartition(col("_el"))
      .persist()
    val a = postings.select(col("_el"), col("doc_id").as("id_a"),
      col("sz").as("sz_a"))
    val b = postings.select(col("_el"), col("doc_id").as("id_b"),
      col("sz").as("sz_b"))
    val result = a.join(b, Seq("_el"))
      .filter(col("id_a") < col("id_b"))
      // J ≤ min(|A|,|B|)/max(|A|,|B|): prune before the pair shuffle
      .filter(least(col("sz_a"), col("sz_b")).cast("double")
        >= greatest(col("sz_a"), col("sz_b")).cast("double") * threshold)
      .groupBy(col("id_a"), col("sz_a"), col("id_b"), col("sz_b"))
      .agg(count(lit(1)).as("_c"))
      .withColumn("jaccard_sim", col("_c").cast("double")
        / (col("sz_a") + col("sz_b") - col("_c")).cast("double"))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard_sim"), 6).as("jaccard_sim"))
    materializeAndRelease(result, postings)
  }

  /** EXACT containment pairs via a PREFIX-FILTERED inverted index:
    * C(A→B) = |A∩B| / |A| ≥ t — the asymmetric near-dup relation
    * Jaccard misses. A short document quoted inside a long
    * boilerplate-wrapped page has high containment but low Jaccard
    * (the union is dominated by the wrapper), and scrape dedup needs
    * exactly this signal. Emits one row per ordered relation that
    * qualifies (id_in's set inside id_of's): both directions are
    * checked, so a pair can appear once per direction.
    *
    * Pruning (the part that survives 100 TB): C(A→B) ≥ t needs
    * |A∩B| ≥ ⌈t·|A|⌉, so if B misses ALL of A's first
    * |A| − ⌈t·|A|⌉ + 1 elements under any fixed global order, the
    * overlap cannot reach the bar — the classic prefix filter
    * (Chaudhuri et al., ICDE'06 / PPJoin). Ordering each set
    * rarest-element-first makes prefixes prefer globally rare
    * elements, so a stop-word-grade element (huge df) almost never
    * generates candidates: the candidate shuffle costs
    * Σ_el df_prefix(el)·df(el) instead of Σ_el df(el)² — the
    * quadratic term now rides the PREFIX document frequency, which
    * prefix placement actively suppresses. Only the contained side
    * needs a prefix (the container is probed in full), so any size
    * gap still qualifies — that asymmetry is the point. Candidates
    * are then verified EXACTLY with one local array intersection per
    * pair; no approximation anywhere.
    */
  def containmentPairsIndexed(
      sets: DataFrame,
      idCol: String,
      setCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    val base = sets.select(col(idCol).as("doc_id"), col(setCol).as("_set"),
        size(col(setCol)).as("sz"))
      .persist()
    val postings = base.select(col("doc_id"), col("sz"),
        explode(col("_set")).as("_el"))
      .persist()
    val dfreq = postings.groupBy(col("_el")).agg(count(lit(1)).as("_df"))
    // rank each set's elements rarest-first (df, then element value —
    // any fixed total order works; this one minimizes candidates)
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("_df"), col("_el"))
    // minOverlap = ⌈t·sz⌉, nudged by 1e-9 so an exact-integer t·sz
    // errs toward a LONGER prefix (shorter would lose recall; the
    // exact verify below makes longer merely redundant)
    val prefix = postings.join(dfreq, Seq("_el"))
      .withColumn("_rn", row_number().over(wDoc))
      .filter(col("_rn") <=
        col("sz") - ceil(col("sz") * threshold - lit(1e-9)) + 1)
      .select(col("_el"), col("doc_id").as("id_in"))
    val full = postings.select(col("_el"), col("doc_id").as("id_of"))
    val cand = prefix.join(full, Seq("_el"))
      .filter(col("id_in") =!= col("id_of"))
      .select(col("id_in"), col("id_of"))
      .distinct()
    // exact verification: one array_intersect per surviving pair —
    // local work, no further shuffle beyond the two id joins
    val result = cand
      .join(base.select(col("doc_id").as("id_in"),
        col("_set").as("_set_in"), col("sz").as("_sz_in")), Seq("id_in"))
      .join(base.select(col("doc_id").as("id_of"),
        col("_set").as("_set_of")), Seq("id_of"))
      .select(col("id_in"), col("id_of"),
        round(size(array_intersect(col("_set_in"), col("_set_of")))
          .cast("double") / col("_sz_in").cast("double"), 6)
          .as("containment"))
      .filter(col("containment") >= threshold)
    materializeAndRelease(result, base, postings)
  }

  // ── Embedding cosine near-dup ───────────────────────────────────────

  /** The embedding pipeline's verify stage, shared verbatim by
    * [[PortableSignLsh.nearDupPairs]] and the exhaustive path:
    * re-attach vectors to candidate id pairs (`prepared` carries
    * `vec_id` and `vec`), exact-cosine filter.
    */
  private[operators] def verifyCosine(
      candidates: DataFrame, prepared: DataFrame, threshold: Double): DataFrame = {
    val vecLookup = prepared.select(col("vec_id"), col("vec"))
    candidates
      .join(vecLookup.select(col("vec_id").as("id_a"), col("vec").as("vec_a")),
        Seq("id_a"))
      .join(vecLookup.select(col("vec_id").as("id_b"), col("vec").as("vec_b")),
        Seq("id_b"))
      .withColumn("cosine_sim", VectorFunctions.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine_sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** [[PortableSignLsh.nearDupPairs]] with LSH blocking DISABLED:
    * every id pair is a candidate, then the SAME exact-cosine verify
    * runs — quadratic by construction, exists so the verify machinery
    * can be proven exact against an exhaustive SQL oracle on a bounded
    * vector set (the q64-for-embeddings pattern); the bucketed path is
    * the scale path.
    */
  def embeddingVerifyExhaustive(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val prepared = df.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .persist()
    val ids = prepared.select(col("vec_id"))
    val candidates = ids.select(col("vec_id").as("id_a"))
      .crossJoin(ids.select(col("vec_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    materializeAndRelease(verifyCosine(candidates, prepared, threshold), prepared)
  }

  // ── Duplicate clustering (connected components) ─────────────────────

  /** Connected components over a near-duplicate pair list — the step
    * that turns pairwise matches into KEEP/DROP decisions: every
    * document gets the minimum id of its duplicate cluster as
    * `cluster_id`; the representative is the row with
    * `doc_id == cluster_id`.
    *
    * Distributed min-label propagation with POINTER JUMPING: each node
    * starts labeled with its own id; every round each node takes the
    * min of its label and its neighbors' labels (one equi-join shuffle
    * + one aggregate), then shortcuts through the label forest
    * (`l(n) := l(l(n))`, one self-join — valid because `l(x) ≤ x`
    * holds from round one, so the mapping only descends). The shortcut
    * doubles how far a min label travels per round, so convergence is
    * O(log diameter) rounds instead of O(diameter) — a 1M-hop
    * duplicate chain needs ~20 rounds, not 1M (the large-star/
    * small-star bound, at two joins per round). No driver
    * materialization, no per-node loops; the frames are persisted per
    * round and the previous round unpersisted, keeping lineage and
    * memory bounded.
    *
    * @param nodes  one row per document id (isolated docs form their
    *               own singleton cluster)
    * @param edges  undirected pair list (each pair listed once)
    */
  def duplicateClusters(
      nodes: DataFrame,
      edges: DataFrame,
      nodeCol: String,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20): DataFrame = {
    // every propagation round joins against the edge list — persist it
    // once or the (potentially expensive) edge derivation re-executes
    // per iteration
    val sym = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
      .unionByName(edges.select(col(dstCol).as("_s"), col(srcCol).as("_d")))
      .persist()

    val labels0 = nodes.select(col(nodeCol).as("_n"), col(nodeCol).as("_lbl"))
      .persist()
    val idType = labels0.schema("_lbl").dataType
    // Near-dup clusters are dense (diameter ≤ 2, converged by round 3's
    // no-change check) — those rounds run the cheap plain form. Only if
    // convergence hasn't arrived by then does the shortcut join start
    // paying for itself (pathological chains).
    val jumpAfter = 2
    var pinned: Option[DataFrame] = Some(labels0) // round's persisted frame
    var cut: Option[DataFrame] = None // last pointer-jump checkpoint
    var labels: DataFrame = labels0
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // labels flowing across edges: each node also keeps its own.
      // The previous label rides along as `_own` (non-null exactly on
      // the node's own row), so ONE aggregate yields both the new
      // label (min) and the previous one (max over the single
      // non-null) — the fixpoint check costs no extra join, and the
      // single `isEmpty` action both materializes the round's cache
      // and answers convergence. Works for ANY orderable id type and
      // cannot false-positive the way an overflowing label-sum
      // comparison could.
      val viaEdges = sym.join(labels, sym("_s") === labels("_n"))
        .select(col("_d").as("_n"), col("_lbl"))
      val neighborMin = labels.withColumn("_own", col("_lbl"))
        .unionByName(viaEdges.withColumn("_own", lit(null).cast(idType)))
        .groupBy("_n").agg(min("_lbl").as("_lbl"), max("_own").as("_prev"))
      if (iter < jumpAfter) {
        val next = neighborMin.persist()
        converged = next.filter(col("_lbl") =!= col("_prev")).isEmpty
        pinned.foreach(_.unpersist())
        pinned = Some(next)
        labels = next.select("_n", "_lbl")
      } else {
        // pointer jumping: follow the label one step (l(l(n)) — valid
        // because l(x) ≤ x from round one, so the mapping only
        // descends), doubling how far a min label travels per round:
        // convergence in O(log diameter) rounds, not O(diameter). The
        // convergence check stays on the NEIGHBOR step (_lbl vs
        // _prev): at its fixpoint every component is uniformly
        // labeled, so the shortcut is the identity there.
        val nm = neighborMin.persist() // the self-join consumes it twice
        val lbl = nm.select(col("_n").as("_jn"), col("_lbl").as("_jlbl"))
        // eager localCheckpoint, not persist: the self-join references
        // the round's frame twice, so carrying lineage across rounds
        // would double the logical plan per round (exponential plan
        // strings → driver OOM within ~10 rounds). Checkpointing
        // materializes the round AND severs the lineage.
        val next = nm.join(lbl, nm("_lbl") === lbl("_jn"), "left")
          .select(nm("_n"),
            coalesce(col("_jlbl"), nm("_lbl")).as("_lbl"),
            nm("_lbl").as("_nm"), col("_prev"))
          .localCheckpoint(true)
        converged = next.filter(col("_nm") =!= col("_prev")).isEmpty
        nm.unpersist()
        pinned.foreach(_.unpersist())
        pinned = None
        cut.foreach(Fixpoint.release)
        cut = Some(next)
        labels = next.select("_n", "_lbl")
      }
      iter += 1
    }
    sym.unpersist() // edges are no longer needed
    // Pointer-jumped propagation covers ~2^rounds hops; a component
    // still unconverged at maxIter would otherwise get silently WRONG
    // cluster ids — refuse instead of lying.
    if (!converged) {
      pinned.foreach(_.unpersist())
      cut.foreach(Fixpoint.release)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds — raise maxIter " +
          s"(labels would be incorrect)")
    }
    // Materialize the result and release anything still pinned —
    // callers can't reach internal handles, so a frame derived from a
    // cached intermediate would pin storage for the session lifetime.
    val out = labels.select(col("_n").as(nodeCol), col("_lbl").as("cluster_id"))
      .localCheckpoint(true)
    pinned.foreach(_.unpersist())
    cut.foreach(Fixpoint.release)
    out
  }

  /** Exact edit-distance verification of CANDIDATE pairs — the
    * final, strongest verify a dedup pipeline applies after a cheap
    * generator (SNM / LSH / banding) has bounded the pair set:
    * Levenshtein distance (unit insert/delete/substitute) plus the
    * normalized similarity 1 − d/max(|a|, |b|). `pairs` carries the
    * candidate ids as (id_a, id_b).
    *
    * Two kernel regimes, both exact where they answer:
    *
    *   - `maxDist ≥ 0` (the dedup-verify shape): ONE Ukkonen
    *     k-banded DP per pair — Spark's codegen'd thresholded
    *     built-in, O(maxDist·min(len)) instead of O(len²) — emitting
    *     the exact distance for in-band pairs and NULL
    *     distance/similarity for certified-beyond-band pairs (every
    *     pair stays in the output: the audit wants the misses too,
    *     just not their exact magnitudes — a duplicate decision
    *     never reads "289 edits apart" differently from "> 64").
    *     Candidate generators keep far pairs in their windows by
    *     design, so this is the kernel the bench regime (q264) runs.
    *   - `maxDist < 0`: exact distance for EVERY pair via the
    *     [[graft.functions.TextFunctions.levenshteinExact]]
    *     doubling-threshold ladder (value-identical to the full DP,
    *     O(d·min(len)) on near pairs).
    *
    * Scale shape: two hash joins to attach the texts, then a pure
    * projection; the kernel runs ONCE PER CANDIDATE — the operator
    * deliberately takes a pair frame, not a corpus, so the DP can
    * never meet a quadratic pair set (the bounded-verify discipline
    * of the q246/q140 generators).
    */
  def editVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, maxDist: Int = -1): DataFrame = {
    val (aCol, bCol) = ("id_a", "id_b")
    val withTexts = pairs.select(col(aCol), col(bCol))
      .join(docs.select(col(idCol).as(aCol), col(textCol).as("_ta")), aCol)
      .join(docs.select(col(idCol).as(bCol), col(textCol).as("_tb")), bCol)
    val dist =
      if (maxDist >= 0)
        nullif(levenshtein(col("_ta"), col("_tb"), maxDist), lit(-1))
      else
        graft.functions.TextFunctions.levenshteinExact(
          col("_ta"), col("_tb"))
    withTexts.select(col(aCol), col(bCol),
        dist.cast("long").as("edit_distance"),
        length(col("_ta")).cast("long").as("n_chars_a"),
        length(col("_tb")).cast("long").as("n_chars_b"))
      .withColumn("edit_sim",
        when(col("edit_distance").isNull, lit(null).cast("double"))
          .when(greatest(col("n_chars_a"), col("n_chars_b")) === 0L, 1.0)
          .otherwise(round(lit(1.0) - col("edit_distance").cast("double")
            / greatest(col("n_chars_a"), col("n_chars_b")).cast("double"),
            6)))
  }
}
