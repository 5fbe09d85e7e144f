package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** SimHash near-duplicate detection over a PORTABLE fingerprint: the
  * per-token hash is md5 (bit-identical in every engine) instead of a
  * JVM-private hash, so the whole pipeline — fingerprint, banding,
  * Hamming verify — is expressible in ANSI-ish SQL and can be
  * hash-checked against an external oracle end to end: the EXACT
  * operator output, not just its verify stage. It is the SimHash
  * family's one implementation.
  *
  * Fingerprint definition (60 bits, p = 0..59):
  *   - tokens: lowercase, whitespace split, empties dropped, DISTINCT
  *     (the dedup family's convention, weight 1 per distinct token)
  *   - token bit p = bit `3 - p%4` of the nibble at hex digit `p/4`
  *     of md5(token) — i.e. the first 15 hex digits read MSB-first
  *   - s_p = Σ_tokens (2·bit − 1); fingerprint bit p = 1 iff s_p > 0
  *     (the s_p = 0 tie is 0 — integer-exact, no float anywhere)
  *   - fp = Σ_p bit_p · 2^p, a non-negative long < 2^60
  *
  * Scale shape: one narrow pass computes (id, fp); candidates come
  * from an equi-join on `nBands` fingerprint bands (Hamming ≤
  * maxHamming < nBands forces band equality somewhere, so banding is
  * LOSSLESS by pigeonhole);
  * the verify re-joins only the candidate ids. Nothing quadratic, no
  * shuffle carries payloads — only (id, fp) and (band, key) rows.
  */
object PortableSimHash {

  val Bits = 60
  private val HexDigits = Bits / 4 // 15 hex digits = 60 bits

  /** (idCol → doc_id, fp): the portable 60-bit fingerprint. Docs with
    * zero tokens are dropped (no fingerprint is defined for them —
    * and the SQL mirror's unnest produces no rows for them either).
    *
    * Computed by the compiled
    * [[graft.functions.expressions.TextExpressions.PortableSimHash60Expr]]
    * kernel (one JVM md5 + 60 long shifts per distinct token) — the
    * DEFINITION above is unchanged from the conv/substr column-algebra
    * formulation it replaces (bit `3 − p%4` of hex digit `p/4` ⇔ bit
    * `59 − p` of the 15-hex-digit integer), so the SQL oracle and
    * PortableSimHashSpec's independent reference still pin it
    * bit-for-bit.
    */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = array_distinct(TextFunctions.tokens(lower(col(textCol))))
    df.select(col(idCol).as("doc_id"), toks.as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col("doc_id"),
        graft.functions.expressions.TextExpressions
          .portable_simhash60(col("_toks")).as("fp"))
  }

  /** Near-dup pairs (id_a < id_b, hamming ≤ maxHamming) via banded
    * candidates + exact Hamming verify. Lossless: `maxHamming <
    * nBands` means any qualifying pair agrees on at least one whole
    * band (pigeonhole), so the band equi-join cannot miss it.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      nBands: Int = 4): DataFrame = {
    require(Bits % nBands == 0, s"nBands must divide $Bits")
    require(maxHamming < nBands,
      s"losslessness needs maxHamming ($maxHamming) < nBands ($nBands)")
    val bandBits = Bits / nBands
    val mask = (1L << bandBits) - 1
    val fps = fingerprints(df, idCol, textCol).persist()
    val banded = fps.select(col("doc_id"), explode(array(
      (0 until nBands).map(b => struct(lit(b).as("band"),
        shiftrightunsigned(col("fp"), b * bandBits)
          .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val verified = candidates
      .join(fps.select(col("doc_id").as("id_a"), col("fp").as("fp_a")), Seq("id_a"))
      .join(fps.select(col("doc_id").as("id_b"), col("fp").as("fp_b")), Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
    Dedup.materializeAndRelease(verified, fps)
  }
}
