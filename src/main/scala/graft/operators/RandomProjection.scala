package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection (Achlioptas 2003 sign
  * variant) — the dimensionality-reduction stage an ANN pipeline runs
  * before index build: y = (1/√k) · Sᵀv with S ∈ {−1,+1}^{d×k} drawn
  * from a seeded hash. Distances are preserved within (1±ε) w.h.p.;
  * with the sign matrix derived from portable md5 the whole transform
  * is DETERMINISTIC, so both the projected vectors and the per-pair
  * distortions hash-check exactly — no statistical contract needed.
  *
  * Exactness: components snap to the 1e-6 lattice as int64
  * (`round(round(x,6)·10⁶)` — the fleet's integer-carry convention),
  * sign products are ±1 integer flips, every Σ is an exact int64
  * sum (order-independent under any partitioning), and the ÷√k
  * happens as an integer half-away-from-zero division (k a perfect
  * square, so √k is an exact integer divisor); the only float op
  * per output is one exact int→double conversion — no rounding
  * boundary anywhere for engines to disagree on.
  *
  * Scale shape: the sign matrix is d·k rows (1 024 for 64→16),
  * BROADCAST; the corpus explodes to component rows once and
  * aggregates by (vector, out_dim) with map-side partial sums — one
  * shuffle keyed by the vector id, no pairwise anything.
  */
object RandomProjection {

  /** ±1 from the first md5 hex nibble of "jl_v1:i:j" (high nibble ⇒
    * −1) — the same expression the oracle writes in SQL.
    */
  private def signCol(i: Column, j: Column): Column =
    when(substring(md5(concat(lit("jl_v1:"), i.cast("string"),
      lit(":"), j.cast("string"))), 1, 1)
      .isin("8", "9", "a", "b", "c", "d", "e", "f"), -1L).otherwise(1L)

  /** Exact 1e-6-lattice int64 snap of a float/double column. */
  private def lat6(x: Column): Column =
    round(round(x.cast("double"), 6) * 1000000.0, 0).cast("long")

  /** Projected vectors, exploded: (idCol, out_dim, value) with
    * out_dim in [0, outDims) and value = round(Σᵢ sᵢⱼ·vᵢ / √k, 6).
    * `inDims` is declared, not derived — deriving it would cost an
    * extra corpus pass just to learn a constant.
    */
  def project(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int): DataFrame = {
    val root = math.sqrt(outDims.toDouble)
    require(outDims >= 1 && root == math.floor(root),
      s"outDims must be a perfect square for an exact sqrt: $outDims")
    require(inDims >= 1, s"inDims must be positive: $inDims")
    val spark = df.sparkSession
    val e = df.select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "_x")))
      .select(col(idCol), col("i"), lat6(col("_x")).as("_v6"))
    val signs = spark.range(outDims.toLong).select(col("id").as("j"))
      .crossJoin(spark.range(inDims.toLong).select(col("id").cast("int").as("i")))
      .select(col("i"), col("j"), signCol(col("i"), col("j")).as("_s"))
    // dividing the lattice sum by √k as DOUBLES would land ~1/√k of
    // the outputs exactly on a .0000005 decimal boundary, where
    // Spark's BigDecimal-exact rounding and another engine's
    // multiply-based rounding can flip the last digit — so the √k
    // division happens in INTEGERS (half-away-from-zero, pinned) and
    // the only float op left is one exact int→double conversion
    val r = root.toInt
    val h = r / 2
    e.join(broadcast(signs), "i")
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("_v6") * col("_s")).as("_ys"))
      .select(col(idCol), col("j").cast("int").as("out_dim"),
        (expr(s"CASE WHEN _ys >= 0 THEN (_ys + $h) div $r" +
          s" ELSE -((-_ys + $h) div $r) END").cast("double")
          / 1000000.0).as("value"))
  }

  /** Deterministic distortion audit over the planted (2m, 2m+1) pair
    * lattice below `maxId`: squared original vs projected distance
    * (both exact-int64-carried) and their ratio — the JL quality
    * readout, hash-exact because nothing here is sampled.
    */
  def distortionPairs(df: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int, maxId: Long): DataFrame = {
    require(maxId % 2 == 0, s"maxId must be even (complete pairs): $maxId")
    val sub = df.filter(col(idCol) < maxId)
    val e = sub.select(col(idCol), posexplode(col(vecCol)).as(Seq("i", "_x")))
      .select((col(idCol) / 2L).cast("long").as("m"),
        pmod(col(idCol), lit(2L)).as("_side"), col("i"),
        lat6(col("_x")).as("_v6"))
    val orig = e.groupBy(col("m"), col("i"))
      .agg(sum(when(col("_side") === 0L, col("_v6")).otherwise(-col("_v6")))
        .as("_d6"), count(lit(1)).as("_nd"))
      .filter(col("_nd") === 2) // both pair members present at this dim
      .groupBy(col("m"))
      .agg(sum(col("_d6") * col("_d6")).as("_o12"))
    val proj = project(sub, idCol, vecCol, inDims, outDims)
      .select((col(idCol) / 2L).cast("long").as("m"),
        pmod(col(idCol), lit(2L)).as("_side"), col("out_dim"),
        lat6(col("value")).as("_y6"))
      .groupBy(col("m"), col("out_dim"))
      .agg(sum(when(col("_side") === 0L, col("_y6")).otherwise(-col("_y6")))
        .as("_d6"), count(lit(1)).as("_np"))
      .filter(col("_np") === 2) // both members present
      .groupBy(col("m"))
      .agg(sum(col("_d6") * col("_d6")).as("_p12"))
    val d2o = round(col("_o12").cast("double") / 1e12, 6)
    val d2p = round(col("_p12").cast("double") / 1e12, 6)
    orig.join(proj, "m")
      .select((col("m") * 2L).as("id_a"), (col("m") * 2L + 1L).as("id_b"),
        d2o.as("d2_orig"), d2p.as("d2_proj"),
        when(col("_o12") === 0L, lit(null).cast("double"))
          .otherwise(round(col("_p12").cast("double")
            / col("_o12").cast("double"), 6)).as("distortion"))
  }
}
