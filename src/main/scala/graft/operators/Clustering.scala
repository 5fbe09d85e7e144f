package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding clustering for corpus organization (topic bucketing,
  * diversity-aware sampling, IVF-style coarse quantization).
  *
  * Classic float Lloyd's iteration is NOT cross-engine reproducible:
  * centroid means depend on float summation order, so two engines
  * (or two partitionings) can flip a boundary point's assignment.
  * This variant runs ENTIRELY in integer arithmetic — vectors are
  * quantized to a shifted integer grid, centroid updates use the
  * integer mean (floor division of non-negative sums, where
  * truncating and floor division agree in every engine), and
  * assignment breaks distance ties by centroid index — so the full
  * R-round fixed point is bit-reproducible and oracle-checkable
  * (the same move that made q109's PageRank hash-verifiable).
  */
object Clustering {

  // quantizedKMeans' integer grid: q_i = floor(v_i · Scale) + Shift
  private val Scale = 1000
  private val Shift = 1000

  /** R rounds of integer Lloyd's over md5-seeded centroids.
    *
    * Quantization: `q_i = floor(v_i · 1000) + 1000`, the shift chosen
    * so every coordinate ≥ −1 is non-negative (constant shifts
    * cancel in distances; they exist only to keep the integer means
    * floor-vs-truncate-proof). Init: the k rows with the smallest
    * (md5 draw, id) — deterministic, partition-invariant. Each round:
    * argmin of Σ(q_i−c_i)² with (dist, cidx) tie-break, then
    * per-coordinate integer mean. A cluster that captures no members
    * drops out (standard Lloyd's degeneracy — deterministic here, so
    * both engines drop the same one).
    *
    * Scale shape: centroids are a k-row frame cross-joined via
    * BROADCAST (points never shuffle for assignment); the argmin is a
    * map-side-combinable `min(struct)` aggregate, not a window; the
    * update is one posexplode → (k·dims)-group aggregate. Rounds
    * chain linearly — each round's plan consumes the previous
    * round's small centroid frame once.
    *
    * Output: (idCol, cluster, dist2) after `rounds` assignments.
    */
  def quantizedKMeans(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds must be positive")
    // the floor-vs-truncate agreement in the centroid update (and the
    // DuckDB `//` oracle parity) holds ONLY for non-negative sums, so
    // a coordinate below -Shift/Scale must fail fast, not silently
    // break bit-reproducibility
    val qv = vecs.select(col(idCol).as("id"),
      transform(col(vecCol), e => {
        val q = floor(e.cast("double") * Scale).cast("long") + Shift
        when(q < 0L, raise_error(concat(
          lit(s"quantizedKMeans: coordinate below ${-Shift.toDouble / Scale}"
            + " (rescale the input); value="), e.cast("string"))))
          .otherwise(q)
      }).as("q"))

    val draw = Sampling.hashUniform(col("id"), "km_v1")
    var centroids = qv
      .select(col("q").as("c"), draw.as("_d"), col("id"))
      .orderBy(col("_d"), col("id")).limit(k)
      .withColumn("cidx",
        (row_number().over(Window.orderBy(col("_d"), col("id"))) - 1)
          .cast("int"))
      .select(col("cidx"), col("c"))

    // r17: compiled exact-int64 kernel — identical integer sums to
    // the interpreted aggregate(zip_with((a−b)²)) fold it replaces
    val dist = graft.functions.expressions.TextExpressions
      .long_sq_dist(col("q"), col("c"))

    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val assigned = qv.crossJoin(broadcast(centroids))
        .withColumn("_dist", dist)
        .groupBy(col("id"))
        .agg(min(struct(col("_dist"), col("cidx"))).as("_best"),
          first(col("q")).as("q"))
      if (r < rounds) {
        centroids = assigned
          .select(col("_best.cidx").as("cidx"),
            posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy(col("cidx"), col("pos"))
          .agg(expr("sum(v) div count(1)").as("cv"))
          .groupBy(col("cidx"))
          .agg(transform(
            array_sort(collect_list(struct(col("pos"), col("cv")))),
            s => s.getField("cv")).as("c"))
      } else {
        out = assigned.select(col("id").as(idCol),
          col("_best.cidx").as("cluster"),
          col("_best._dist").as("dist2"))
      }
    }
    out
  }
}
