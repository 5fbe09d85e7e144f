package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Embedding sign-LSH near-duplicate detection over PORTABLE
  * hyperplanes: plane weights are ±1 derived from md5 (bit-identical
  * in every engine) instead of seeded JVM Gaussians, so the bucketed
  * operator itself — multi-probe blocking decisions included — can be
  * hash-checked against an external SQL oracle. This is the
  * [[PortableSimHash]]/[[PortableMinHash]] recipe applied to the
  * embedding family, and the family's one bucketed implementation;
  * [[Dedup.embeddingVerifyExhaustive]] is its unblocked twin and
  * shares its verify stage.
  *
  * Exactness argument, piece by piece:
  *   - plane weight w(h,d) = +1.0 if the FIRST hex nibble of
  *     md5(h ":" d) is ≥ 8 else −1.0 — pure md5, both engines agree
  *   - projection s(v,h) = Σ_d double(v_d)·w(h,d), summed in array
  *     order on both sides (the compiled dot kernel's left-to-right
  *     fold ≡ SQL `list_sum(list_transform(list_zip(…)))` — the
  *     associativity-pinning recipe q93's oracle already proved out);
  *     ±1·x is exact in IEEE double, so the two sums are bit-equal
  *   - bucket bit h = 1 iff s ≥ 0; bucket = Σ bit·2^h (a long)
  *   - multi-probe blocking (own bucket + every 1-bit flip, both
  *     sides) admits EXACTLY the pairs with Hamming(bucket) ≤ 2 —
  *     flip the two differing bits one on each side — which is the
  *     closed-form predicate the oracle states as `bit_count(xor) ≤ 2`
  *   - verify: exact cosine ≥ threshold, rounded to 6 dp
  *
  * Scale shape: one narrow pass per vector computes the bucket; only
  * (id, probe-bucket) rows enter the candidate shuffle; vectors are
  * re-attached to the deduped pairs.
  */
object PortableSignLsh {

  /** ±1 plane weights from md5 — deterministic in every engine. */
  def md5SignPlanes(numPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until numPlanes).map { h =>
      (0 until dim).map { d =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$h:$d".getBytes("UTF-8"))
        // first hex nibble = high nibble of byte 0
        if (((hex(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
      }
    }

  /** (vec_id, vec, bucket) with the portable sign bucket. */
  def buckets(df: DataFrame, idCol: String, vecCol: String,
      numPlanes: Int, dim: Int): DataFrame =
    df.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .withColumn("bucket0",
        VectorFunctions.lshBucket(col("vec"), md5SignPlanes(numPlanes, dim)))

  /** Multi-probe bucket join + exact-cosine verify; emitted pairs are
    * exactly {Hamming(bucket) ≤ 2} ∩ {cosine ≥ threshold}.
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      numPlanes: Int = 12,
      threshold: Double = 0.4): DataFrame = {
    val prepared = buckets(df, idCol, vecCol, numPlanes, dim).persist()
    // own bucket + every 1-bit flip; only (id, bucket) rows replicate
    val probes = explode(array(
      (col("bucket0") +: (0 until numPlanes).map(i =>
        col("bucket0").bitwiseXOR(lit(1L << i)))): _*)).as("bucket")
    val blocked = prepared.select(col("vec_id"), probes)

    val candidates = blocked.select(col("bucket"), col("vec_id").as("id_a"))
      .join(blocked.select(col("bucket"), col("vec_id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()

    Dedup.materializeAndRelease(
      Dedup.verifyCosine(candidates, prepared, threshold), prepared)
  }
}
