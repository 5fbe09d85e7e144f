package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** MinHash-LSH near-duplicate detection over a PORTABLE signature —
  * the standard one-base-hash affine family, bit-identical in every
  * engine — so the banded operator itself (not just its exhaustive
  * verify stage) can be hash-checked against an external SQL oracle.
  * This is the [[PortableSimHash]] recipe applied to MinHash, and the
  * family's one banded implementation;
  * [[Dedup.minHashVerifyExhaustive]] is its unblocked twin.
  *
  * Unlike SimHash banding (lossless by pigeonhole), MinHash banding is
  * probabilistic: a qualifying pair is emitted only if it ALSO collides
  * in at least one band. The oracle therefore reproduces the band
  * predicate exactly — `∃ band: all `rows` minhashes equal` — rather
  * than approximating the operator with an exhaustive-Jaccard filter,
  * making the check exact, not statistical.
  *
  * Semantics (the dedup family's conventions throughout):
  *   - shingle set: lowercase, whitespace split, empties dropped, then
  *     DISTINCT space-joined `shingleWords`-grams (explicit slice +
  *     concat_ws algebra — mirrors SQL `array_to_string(tk[i:i+k-1])`
  *     1:1); docs with fewer than `shingleWords` tokens emit nothing
  *   - signature slot j (j = 0..numHashes-1): min over shingles of
  *     `(A_j·base(t) + B_j) mod P` with `base(t)` = the first 15 hex
  *     digits of md5(t) as an integer mod P = 2³¹−1 — the exact
  *     constants and the SQL mirror live on
  *     [[graft.functions.expressions.TextExpressions.PortableMinHashSigExpr]]
  *   - band b covers signature slots [b·rows, (b+1)·rows); its key is
  *     the '|'-joined decimal slice
  *   - output: (id_a < id_b) pairs that share ≥ 1 band key AND have
  *     exact token-set Jaccard ≥ threshold, jaccard rounded to 6 dp
  *
  * Scale shape: one pass computes (doc_id, sig) at ONE md5 per
  * shingle (the affine family replaced the md5-per-(j,shingle)
  * hex-string mins that cost 12 s at sf0.1);
  * the candidate shuffle carries only (band, key, id) rows; token sets
  * are re-attached only to the deduped candidate pairs for the exact
  * verify. Nothing quadratic.
  */
object PortableMinHash {

  // the band plans: candidate band counts over one signature, the
  // S-curve similarities the calibration table reports, and the
  // default commit bar (catch probability at s = 0.8, in 10⁻⁶)
  private val Plans = Seq(32, 16, 8, 4)
  private val Calib = Seq(
    "scurve_50" -> 0.5, "scurve_70" -> 0.7,
    "scurve_80" -> 0.8, "scurve_90" -> 0.9)
  private val MinCatch = 900000L

  /** (doc_id, toks, sig): distinct shingle set and the numHashes-slot
    * portable signature. Docs too short to shingle are dropped (no
    * signature is defined; the SQL mirror's unnest emits no rows for
    * them either).
    */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleWords: Int): DataFrame = {
    val tk = TextFunctions.tokens(lower(col(textCol)))
    // shingle i = the k tokens starting at 1-based position i, joined
    // by ' ' — explicit slice/concat_ws so the SQL mirror is literal
    val shingles = array_distinct(transform(
      sequence(lit(1), size(col("_tk")) - (shingleWords - 1)),
      i => concat_ws(" ", slice(col("_tk"), i, lit(shingleWords)))))
    df.select(col(idCol).as("doc_id"), tk.as("_tk"))
      .filter(size(col("_tk")) >= shingleWords)
      .select(col("doc_id"), shingles.as("toks"))
      .withColumn("sig", graft.functions.expressions.TextExpressions
        .portable_minhash_sig(col("toks"), numHashes))
  }

  /** Banded candidates + exact-Jaccard verify; see object doc for the
    * exact emitted-pair predicate (band collision AND jaccard).
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 16,
      bands: Int = 8,
      shingleWords: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sigs = signatures(df, idCol, textCol, numHashes, shingleWords).persist()
    Dedup.materializeAndRelease(verifiedPairs(sigs, lit(bands), lit(rows), threshold), sigs)
  }

  /** One (band_idx, band_key) row per doc and band, with the `carry`
    * columns: band b keys the '|'-joined decimal slots [b·rows,
    * (b+1)·rows) of `sig`. `bands` and `rows` are columns, so a plan
    * committed in-engine bands the same way as a compiled-in one.
    */
  private def bandKeys(sigs: DataFrame, bands: Column, rows: Column,
      carry: String*): DataFrame =
    sigs.select(carry.map(col) :+
      explode(transform(sequence(lit(0), bands - 1),
        b => struct(b.as("band_idx"),
          concat_ws("|", transform(
            slice(col("sig"), b * rows + lit(1), rows),
            x => x.cast("string"))).as("band_key")))).as("bk"): _*)
      .select(carry.map(col) ++ Seq(col("bk.band_idx").as("band_idx"),
        col("bk.band_key").as("band_key")): _*)

  /** The banded near-dup core of every entry point: docs sharing a
    * band key become (id_a < id_b) candidates, kept where `pairFilter`
    * holds and deduped (the same pair can collide in many bands); their
    * token sets are re-attached for the exact-Jaccard verify. Output:
    * id_a, id_b, each `carry` column as `<c>_a`/`<c>_b`, and
    * jaccard_sim ≥ threshold rounded to 6 dp. Only the narrow
    * (band_idx, band_key, id) rows go through the candidate shuffle.
    */
  private def verifiedPairs(sigs: DataFrame, bands: Column, rows: Column,
      threshold: Double, carry: Seq[String] = Nil,
      pairFilter: Column = lit(true)): DataFrame = {
    val banded = bandKeys(sigs, bands, rows, "doc_id" +: carry: _*)
    def side(s: String) = banded.select(col("band_idx") +: col("band_key") +:
      col("doc_id").as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s")): _*)
    val pairCols = Seq("id_a", "id_b") ++ carry.flatMap(c => Seq(s"${c}_a", s"${c}_b"))
    val candidates = side("a").join(side("b"), Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b") && pairFilter)
      .select(pairCols.map(col): _*)
      .distinct()

    val lookup = sigs.select(col("doc_id"), col("toks"))
    candidates
      .join(lookup.select(col("doc_id").as("id_a"), col("toks").as("t_a")),
        Seq("id_a"))
      .join(lookup.select(col("doc_id").as("id_b"), col("toks").as("t_b")),
        Seq("id_b"))
      .withColumn("jaccard_sim", TextFunctions.jaccard(col("t_a"), col("t_b")))
      .filter(col("jaccard_sim") >= threshold)
      .select(pairCols.map(col) :+ round(col("jaccard_sim"), 6).as("jaccard_sim"): _*)
  }

  /** LSH band-plan calibration — choose (bands, rows) BEFORE running
    * the dedup, from measurement instead of folklore. For each
    * candidate plan splitting the SAME `numHashes`-slot signature:
    *
    *   - MEASURED: the banding workload on the actual corpus —
    *     Σ_buckets C(|bucket|, 2) (exactly the candidate-pair volume
    *     the verify stage would pay, counted per bucket without
    *     materializing a single pair — the planner's cost axis stays
    *     linear even on a pathological corpus) plus the bucket count.
    *   - ANALYTIC: the S-curve catch probability 1 − (1 − s^rows)^bands
    *     at fixed calibration similarities (the planner's recall
    *     axis), evaluated as one PINNED left-fold multiplication
    *     chain — every step a correctly-rounded IEEE double op, so
    *     an external engine replaying the same chain produces the
    *     bit-identical value — scaled to 10⁶ integers.
    *
    * Read across plans: picking more bands catches lower-similarity
    * pairs (recall up) at more candidate volume (cost up); the
    * operator puts the real corpus's cost next to the theory's
    * recall so the pick is one table lookup.
    *
    * Scale shape: signatures once ([[signatures]], persisted), then
    * per plan one narrow (band, key) explode + two aggregations —
    * all map-side-combinable counts; output is one row per plan
    * (32, 16, 8 and 4 bands).
    */
  def bandPlanCalibration(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleWords: Int = 2): DataFrame = {
    requirePlans(numHashes) // fail fast, before signatures
    val sigs = signatures(df, idCol, textCol, numHashes, shingleWords)
      .persist()
    val out = planTable(sigs, numHashes)
    sigs.unpersist()
    out
  }

  /** Plan-list contract shared by every banding entry point: each
    * candidate must divide the signature width, validated BEFORE any
    * signature frame is built or persist-registered. */
  private def requirePlans(numHashes: Int): Unit =
    require(Plans.forall(b => numHashes % b == 0),
      s"every plan must divide numHashes=$numHashes: $Plans")

  /** The per-plan calibration table over an already-computed (and
    * ideally persisted) signature frame — shared by
    * [[bandPlanCalibration]] and [[nearDupPairsAtCommittedPlan]] so
    * the table a commit is made from and the one the apply path
    * re-derives its commit from are one definition.
    */
  private def planTable(
      sigs: DataFrame,
      numHashes: Int): DataFrame = {
    requirePlans(numHashes)
    val planRows = Plans.map { b =>
      val r = numHashes / b
      val banded = bandKeys(sigs, lit(b), lit(r))
      val scurves = Calib.map { case (name, s) =>
        lit(sCurveScaled(s, r, b)).as(name)
      }
      banded.groupBy(col("band_idx"), col("band_key"))
        .agg(count(lit(1)).as("_n"))
        .agg(count(lit(1)).as("n_buckets"),
          // coalesce: on a degenerate corpus (no doc reaches
          // shingleWords tokens) the banding is empty, the grouped
          // frame has zero rows and SUM is NULL — the oracle mirror
          // spells COALESCE(SUM(..),0), so the engine must too
          coalesce(sum(expr("_n * (_n - 1) div 2")), lit(0L))
            .as("bucket_pairs"))
        .select(lit(b).as("bands") +: lit(r).as("rows_per_band") +:
          col("n_buckets") +: col("bucket_pairs") +: scurves: _*)
    }
    planRows.reduce(_ unionByName _).localCheckpoint(true)
  }

  /** COMMIT to a band plan from [[bandPlanCalibration]]'s table —
    * the decision a pipeline makes before running banded LSH: the
    * qualifying plan (catch probability at s = 0.8 of at least
    * `minCatch`/10⁶, by default 0.9) with the SMALLEST measured
    * candidate workload, ties to fewer bands. If no plan qualifies
    * on this corpus's signature budget, fall back to the best-recall
    * plan (largest scurve_80, i.e. the most bands) rather than
    * returning nothing —
    * a dedup run with weaker-than-asked recall beats no dedup run,
    * and the `qualified` flag makes the downgrade visible. One row;
    * every ordering key an exact integer or boolean, so the choice
    * replays in SQL.
    */
  def bandPlanSelect(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleWords: Int = 2,
      minCatch: Long = MinCatch): DataFrame =
    commitRule(
      bandPlanCalibration(df, idCol, textCol, numHashes, shingleWords),
      minCatch)

  /** The commit rule over a calibration table — one definition shared
    * by [[bandPlanSelect]] and [[nearDupPairsAtCommittedPlan]] so the
    * standalone commit row and the one the apply path bands under can
    * never diverge.
    */
  private def commitRule(calibTable: DataFrame,
      minCatch: Long): DataFrame =
    calibTable
      .withColumn("qualified", col("scurve_80") >= minCatch)
      .orderBy(col("qualified").desc,
        when(col("qualified"), col("bucket_pairs"))
          .otherwise(-col("scurve_80")).asc,
        col("bands").asc)
      .limit(1)
      .select(col("bands"), col("rows_per_band"), col("n_buckets"),
        col("bucket_pairs"), col("scurve_80"), col("qualified"))

  /** Calibrate → commit → APPLY in ONE plan (the r15 verdict's
    * missing composition, MinHash side): run the banded near-dup
    * verify UNDER the (bands, rows) plan [[bandPlanSelect]] commits,
    * with the 1-row commit JOINED in-engine — the band explode's
    * sequence bound and the signature slice offsets read the
    * committed values as COLUMNS from the broadcast commit row, so no
    * driver value ever decides the banding. Signatures are computed
    * ONCE and feed both the calibration table the commit is derived
    * from and the banding + exact-Jaccard verify themselves.
    *
    * Output: [[nearDupPairs]]'s (id_a, id_b, jaccard_sim) plus the
    * committed (bands, rows_per_band, qualified) on every row — the
    * artifact records WHICH plan ran, so a hash check on this output
    * is a check that the commit was actually applied.
    *
    * Scale shape: the calibration is the narrow (band, key) counting
    * pass per plan ([[bandPlanCalibration]]'s shape); the apply is
    * exactly [[nearDupPairs]]'s candidate shuffle at the committed
    * plan. The commit broadcast adds no shuffle.
    */
  def nearDupPairsAtCommittedPlan(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 128,
      shingleWords: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    requirePlans(numHashes) // fail fast, before signatures
    val sigs = signatures(df, idCol, textCol, numHashes, shingleWords)
      .persist()
    // 1 row, materialized once: the banding below and the output
    // annotation read the same committed row
    val commit = commitRule(planTable(sigs, numHashes), MinCatch)
      .select(col("bands"), col("rows_per_band"), col("qualified"))
      .localCheckpoint(true)

    // banding at the COMMITTED plan: `_b`/`_r` are columns from the
    // broadcast commit row — same slice/concat_ws algebra as
    // nearDupPairs, with the plan data-driven instead of compiled in
    val planned = sigs.crossJoin(broadcast(commit.select(col("bands").as("_b"),
      col("rows_per_band").as("_r"))))
    val verified = verifiedPairs(planned, col("_b"), col("_r"), threshold)
      .crossJoin(broadcast(commit))

    Dedup.materializeAndRelease(verified, sigs)
  }

  /** 1 − (1 − s^r)^b as the pinned left-fold double chain (s^r and
    * t^b each a strict left-to-right multiply — the exact op sequence
    * the SQL mirror spells out), scaled to a 10⁶ integer.
    */
  private[graft] def sCurveScaled(s: Double, r: Int, b: Int): Long = {
    var p = s
    for (_ <- 2 to r) p *= s
    val t = 1.0 - p
    var tb = t
    for (_ <- 2 to b) tb *= t
    math.round((1.0 - tb) * 1000000.0)
  }

  /** INCREMENTAL near-dup: a new batch against an existing base —
    * the production ingest shape. Recomputing all-pairs LSH per
    * ingest is O(corpus) per day; the incremental contract is
    * "emit exactly the qualifying pairs that involve at least one
    * NEW document" — base×base pairs are yesterday's output and are
    * structurally excluded from candidate generation (the flag
    * rides the banded rows, so excluded pairs never join, not just
    * never verify).
    *
    * Same signature family, banding, and verify as [[nearDupPairs]]
    * at its defaults (16 slots in 8 bands over word bigrams, Jaccard
    * ≥ 0.5); `pair_kind` labels batch_vs_base vs batch_internal. In
    * production the base side's signatures would load from the lake
    * instead of recomputing — the operator takes whatever frames it
    * is given.
    */
  def incrementalNearDupPairs(
      base: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val all = base.select(col(idCol), col(textCol), lit(false).as("_new"))
      .unionByName(
        batch.select(col(idCol), col(textCol), lit(true).as("_new")))
    val flags = all.select(col(idCol).as("doc_id"), col("_new"))
    val sigs = signatures(all, idCol, textCol, numHashes = 16, shingleWords = 2)
      .join(flags, "doc_id").persist()

    // base×base pairs are filtered out before the dedup and the verify
    // joins, so they never reach the token-set lookup
    val verified = verifiedPairs(sigs, lit(8), lit(2), 0.5, Seq("_new"),
      col("_new_a") || col("_new_b"))
      .select(col("id_a"), col("id_b"), col("jaccard_sim"),
        when(col("_new_a") && col("_new_b"), "batch_internal")
          .otherwise("batch_vs_base").as("pair_kind"))

    Dedup.materializeAndRelease(verified, sigs)
  }
}
