package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley–Terry strength ratings from pairwise preference outcomes —
  * the batch ranking pass behind reward-model data audits and
  * arena-style model leaderboards: given (winner, loser) match rows,
  * fit strengths p_i so that P(i beats j) = p_i / (p_i + p_j).
  *
  * Fit by the classical MM iteration (Hunter 2004, "MM algorithms
  * for generalized Bradley-Terry models"):
  *   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j)
  * with W_i = wins of i and n_ij = games between i and j. Unlike
  * sequential Elo, the fixed point is ORDER-INDEPENDENT — the only
  * batch-correct choice on a cluster where match order is a shuffle
  * artifact.
  *
  * Exactness: strengths live on the 1e-6 integer lattice
  * (p⁰ = 10⁶). Each round is integer-only: the pair term is the
  * half-up lattice division (2·n_ij·10¹² + (p_i+p_j)) div
  * (2·(p_i+p_j)), the update (2·W_i·10¹² + d_i) div (2·d_i) clamped
  * to ≥ 1 (an all-losing item has MLE 0; the clamp keeps later
  * denominators positive and is pinned in the oracle too). `div` is
  * exact 64-bit integer division — no doubles anywhere in the loop,
  * so R rounds replay bit-identically in any engine against an
  * unrolled-CTE oracle (the q261 BPE proof shape; q292).
  *
  * Scale shape: matches aggregate once to wins W_i and unordered
  * pair counts n_ij (both map-side combinable); the fixed point then
  * runs on the ITEM/PAIR frames (k items, ≤ k² pairs — the model's
  * own parameter space, corpus-independent) as a [[Fixpoint]] loop
  * that cuts every round, so R rounds stay R bounded passes (the
  * q113 re-inlining lesson) and each superseded round is released.
  * No driver collect.
  */
object BradleyTerry {

  /** Ratings after `rounds` MM rounds: (item, wins, games,
    * rating_micro, rating, share), rating-descending with the item
    * string as the pinned tie-break. `rating` = rating_micro/10⁶ and
    * `share` = rating_micro / Σ rating_micro are each ONE division
    * of exact integers.
    */
  def ratings(matches: DataFrame, winnerCol: String, loserCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"unreasonable rounds: $rounds")
    val w = col(winnerCol)
    val l = col(loserCol)
    // unordered pair games: (lo, hi, g) with lo < hi lexicographic
    val pairs = matches
      .select(least(w, l).as("lo"), greatest(w, l).as("hi"))
      .groupBy(col("lo"), col("hi"))
      .agg(count(lit(1)).as("g"))
      .localCheckpoint()
    val wins = matches.groupBy(w.as("item"))
      .agg(count(lit(1)).as("wins"))
    val items = matches.select(w.as("item"))
      .union(matches.select(l.as("item")))
      .groupBy(col("item")).agg(count(lit(1)).as("games"))
      .join(wins, Seq("item"), "left")
      .select(col("item"), coalesce(col("wins"), lit(0L)).as("wins"),
        col("games"))
      .localCheckpoint()

    // one cut per round; the lazy result reads pairs, items and the
    // final cut, so those three stay pinned
    val (p, _) = Fixpoint.run(items.select(col("item"), lit(1000000L).as("p")),
        rounds, every = 1, settled = None) { (p, _) =>
      val joined = pairs
        .join(p.select(col("item").as("lo"), col("p").as("_plo")), Seq("lo"))
        .join(p.select(col("item").as("hi"), col("p").as("_phi")), Seq("hi"))
        .withColumn("_s", col("_plo") + col("_phi"))
        .withColumn("_t",
          expr("(2 * g * 1000000000000 + _s) div (2 * _s)"))
      val denom = joined.select(col("lo").as("item"), col("_t"))
        .union(joined.select(col("hi").as("item"), col("_t")))
        .groupBy(col("item")).agg(sum(col("_t")).as("_d"))
      items.join(denom, Seq("item"))
        .withColumn("p", greatest(
          expr("(2 * wins * 1000000000000 + _d) div (2 * _d)"), lit(1L)))
        .select(col("item"), col("p"))
    }
    val total = p.agg(sum(col("p")).as("_tot"))
    items.join(p, Seq("item"))
      .crossJoin(broadcast(total))
      .select(col("item"), col("wins"), col("games"),
        col("p").as("rating_micro"),
        (col("p").cast("double") / 1e6).as("rating"),
        (col("p").cast("double") / col("_tot").cast("double")).as("share"))
      .orderBy(col("rating_micro").desc, col("item"))
  }
}
