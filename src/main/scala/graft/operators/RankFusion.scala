package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reciprocal-rank fusion (Cormack et al. 2009) — the standard way to
  * combine heterogeneous rankers (BM25 + embeddings, quality +
  * freshness) without score calibration: each ranker contributes
  * 1/(k + rank), higher fused total wins. Hybrid retrieval stacks
  * fuse exactly this way.
  *
  * Exactness: the reciprocal is carried as the half-up lattice
  * integer (2·10⁸ + (k+r)) div (2·(k+r)) — summing doubles like
  * 1/61 + 1/73 is order-dependent; summing lattice integers is not.
  * The fused rank re-ranks by (points desc, id asc), pinned.
  *
  * Scale shape: each input ranking comes from [[GlobalOrder.rank]];
  * the fusion itself is two hash joins on the id and one more rank
  * pass — no global sort anywhere (q297).
  */
object RankFusion {

  /** The RRF smoothing constant k of 1/(k + rank) — Cormack et al.'s 60. */
  private val K = 60

  /** Half-up lattice reciprocal: round(10⁸ / (k + rank)). */
  def rrfPoints(rank: Column, k: Int): Column = {
    val d = rank + k
    ((lit(200000000L) + d - pmod(lit(200000000L) + d, d * 2)) /
      (d * 2)).cast("long")
  }

  /** Fuse two rankings of the same id space: input frames each carry
    * (idCol, rankCol); output (idCol, rank_a, rank_b, rrf_points,
    * fused_rank). Ids missing from one ranking contribute nothing
    * for it (the RRF convention for disjoint result lists).
    */
  def fuse(a: DataFrame, b: DataFrame, idCol: String, rankA: String,
      rankB: String): DataFrame = {
    val joined = a.select(col(idCol), col(rankA))
      .join(b.select(col(idCol), col(rankB)), Seq(idCol), "full_outer")
      .withColumn("rrf_points",
        coalesce(when(col(rankA).isNotNull, rrfPoints(col(rankA), K)),
          lit(0L)) +
        coalesce(when(col(rankB).isNotNull, rrfPoints(col(rankB), K)),
          lit(0L)))
    GlobalOrder.rank(joined, idCol, Seq(-col("rrf_points"), col(idCol)),
      "fused_rank")
  }
}
