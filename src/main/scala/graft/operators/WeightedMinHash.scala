package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Weighted MinHash by integer-weight expansion — near-dup similarity
  * where term FREQUENCY matters (the plain MinHash families q26/q125
  * see sets, so "spam spam spam" ≡ "spam"): each token contributes
  * min(tf, cap) copies (token, 1), (token, 2), …, and the per-seed
  * minimum over the expanded multiset estimates the WEIGHTED Jaccard
  * Σ min(tfₐ, tf_b)/Σ max(tfₐ, tf_b) (capped) — the standard
  * reduction of weighted sets to plain MinHash over the expanded
  * multiset. The per-seed draw is the family's portable affine
  * recipe ([[PortableMinHash]] /
  * [[graft.functions.expressions.TextExpressions.PortableMinHashSigExpr]]):
  * ONE md5 per expanded element `salt:token:copy`, then
  * h_j = (A_j·base + B_j) mod P per seed — bit-identical in SQL and
  * 16× fewer digests than the md5-per-(seed, element) draw it
  * replaced (which was q268's whole warm cost). Deterministic draws
  * make the estimate itself hash-checkable, and the exact weighted
  * Jaccard rides along (full-outer tf join) for the quality readout.
  *
  * Scale shape: every aggregate here groups by (doc, …) and its
  * cells never span docs, so ONE narrow shuffle of the (id, text)
  * rows up front (partition count pinned against AQE coalescing —
  * the q304 recipe) makes the tf aggregate, the expansion AND the
  * per-(doc, seed) min all partition-local: token- and copy×seed-
  * scale rows are exploded and reduced without ever crossing the
  * wire. The exact verify runs only over the CALLER'S pair frame
  * (generator-bounded, the q264 discipline).
  */
object WeightedMinHash {

  // 16 seeds, term frequencies capped at 4, md5 salt
  private val Seeds = 16
  private val Cap = 4
  private val Salt = "wmh_v1"

  private def tfFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val shufflePartitions =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.select(col(idCol).as("_id"), col(textCol).as("_tx"))
      .repartition(shufflePartitions, col("_id"))
      .select(col("_id"),
        explode(TextFunctions.tokens(lower(col("_tx")))).as("_t"))
      .groupBy(col("_id"), col("_t"))
      .agg(least(count(lit(1)), lit(Cap.toLong)).cast("int").as("_c"))
  }

  /** Per-(doc, seed) weighted-minhash values: (_id, _s, _mh) with
    * _s = 0-based seed index and _mh the affine-family long
    * (PortableMinHashSigExpr's exact constants, expressed as plain
    * codegen'd column algebra). One md5 per expanded element yields
    * the 60-bit base; each seed's affine image rides a cheap
    * exploded row into a map-side-combinable min — bounded row
    * sizes at any document length (a per-doc array fold would hold
    * a giant document's whole expanded multiset in ONE row), and
    * still exchange-free on top of tfFrame's doc clustering. Takes an
    * already-built tf frame so [[pairJaccard]] computes the
    * tokenize+explode+tf aggregate ONCE for both its estimate and its
    * exact branch.
    */
  private def signaturesFromTf(tf: DataFrame): DataFrame = {
    val P = 2147483647L
    tf
      .select(col("_id"),
        explode(transform(sequence(lit(1), col("_c")),
          j => concat_ws(":", lit(Salt), col("_t"), j.cast("string"))))
          .as("_e"))
      .select(col("_id"),
        (conv(substring(md5(col("_e")), 1, 15), 16, 10)
          .cast("long") % P).as("_h"))
      .select(col("_id"), col("_h"),
        explode(sequence(lit(0), lit(Seeds - 1))).as("_s"))
      .groupBy(col("_id"), col("_s"))
      .agg(min((((col("_s") + 1) * lit(2654435761L) % P) * col("_h")
        + col("_s") * lit(40503L) + lit(12345L)) % P).as("_mh"))
  }

  /** Estimated AND exact capped weighted Jaccard for a bounded pair
    * frame (`id_a`, `id_b`): (id_a, id_b, est_jaccard, exact_jaccard,
    * n_union_tokens). Pairs where either side has no tokens drop out
    * (no signature exists for an empty multiset).
    */
  def pairJaccard(df: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame): DataFrame = {
    val (result, tf) = pairJaccardPlan(df, idCol, textCol, pairs)
    val out = result.localCheckpoint(true)
    tf.unpersist()
    out
  }

  /** The pre-pin [[pairJaccard]] frame plus the persisted tf-frame
    * handle — package-private so the plan spec pins the production
    * shape (map-side partial mins on the signature aggregate); the
    * public operator pins the result and releases the cache.
    */
  private[graft] def pairJaccardPlan(df: DataFrame, idCol: String,
      textCol: String, pairs: DataFrame): (DataFrame, DataFrame) = {
    val p = pairs.select(col("id_a"), col("id_b"))
    val ids = p.select(col("id_a").as("_id"))
      .union(p.select(col("id_b").as("_id"))).distinct()
    val sub = df.join(ids, df(idCol) === ids("_id")).drop("_id")
    // ONE tf pass feeds both branches (r16): the estimate's signatures
    // and the exact capped-Jaccard join both derive from the same
    // (doc, token, capped-tf) aggregate — unpersisted, the upstream
    // corpus prep + tokenize + tf shuffle ran once per branch. Released
    // after the result pins.
    val tf = tfFrame(sub, idCol, textCol).persist()
    val sig = signaturesFromTf(tf)
    val est = p
      .join(sig.select(col("_id").as("id_a"), col("_s"),
        col("_mh").as("_ma")), "id_a")
      .join(sig.select(col("_id").as("id_b"), col("_s"),
        col("_mh").as("_mb")), Seq("id_b", "_s"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(round(sum(when(col("_ma") === col("_mb"), 1L).otherwise(0L))
        .cast("double") / lit(Seeds.toDouble), 6).as("est_jaccard"))
    val ta = p.join(tf.select(col("_id").as("id_a"), col("_t"),
      col("_c").as("_ca")), "id_a")
    val tb = p.join(tf.select(col("_id").as("id_b"), col("_t"),
      col("_c").as("_cb")), "id_b")
    val exact = ta.join(tb, Seq("id_a", "id_b", "_t"), "full_outer")
      .groupBy(col("id_a"), col("id_b"))
      .agg(
        sum(least(coalesce(col("_ca"), lit(0)),
          coalesce(col("_cb"), lit(0))).cast("long")).as("_smin"),
        sum(greatest(coalesce(col("_ca"), lit(0)),
          coalesce(col("_cb"), lit(0))).cast("long")).as("_smax"),
        count(lit(1)).as("n_union_tokens"))
    val result = est.join(exact, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("est_jaccard"),
        round(col("_smin").cast("double") / col("_smax").cast("double"), 6)
          .as("exact_jaccard"),
        col("n_union_tokens"))
    (result, tf)
  }
}
