package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Sorted-neighborhood dedup (Hernández & Stolfo 1995) — the classic
  * record-linkage alternative to LSH blocking: sort the corpus by a
  * blocking key, compare each record only to its `w` successors in
  * sort order, verify with exact Jaccard. Candidates are O(n·w) BY
  * CONSTRUCTION — no frequency skew can inflate them (the property
  * LSH needs banding arguments for, SNM gets from the sort), at the
  * price of missing duplicates whose keys sort far apart (the method
  * runs multi-pass with different keys in production; one pass here,
  * key = the canonical text prefix).
  *
  * Scale shape: the global sort rank is [[GlobalOrder.rank]] with the
  * blocking key as the order: no one-partition window anywhere.
  * The neighbor join is rank-arithmetic (rank + j for j ≤ w) — a
  * narrow equi join; token sets attach only to candidates.
  */
object SortedNeighborhood {

  /** Near-dup pairs among rank neighbors: (id_a, id_b, rank_dist,
    * jaccard_sim) with id_a < id_b in SORT order (a precedes b).
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      window: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(window >= 1 && window <= 100, s"window out of range: $window")
    val toks = TextFunctions.tokens(lower(col(textCol)))
    val keyed = df.select(col(idCol).as("_id"), toks.as("_toks"))
      .withColumn("_key",
        substring(graft.operators.CorpusHygiene.canonicalText(
          concat_ws(" ", col("_toks"))), 1, 24))

    val ranked = GlobalOrder.rank(keyed, "_id", Seq(col("_key")), "_rank")
    val spark = df.sparkSession
    val right = ranked.select(col("_rank").as("_rank_b"),
      col("_id").as("id_b"), col("_toks").as("t_b"))
    // the neighbor key MUST be a plain attribute before the join:
    // joining on `_rank_b === _rank + _j` lets the optimizer fold
    // the jaccard verify into a nested-loop join condition (no
    // equi-key extraction through the arithmetic after the cross
    // join) — measured 171 s vs 2 s at sf0.1 for the same result
    val probes = ranked
      .select(col("_rank"), col("_id").as("id_a"), col("_toks").as("t_a"))
      .crossJoin(spark.range(1, window + 1L).select(col("id").as("_j")))
      .withColumn("_rank_target", col("_rank") + col("_j"))
    probes
      .join(right, col("_rank_b") === col("_rank_target"))
      .withColumn("jaccard_sim",
        TextFunctions.jaccard(array_distinct(col("t_a")),
          array_distinct(col("t_b"))))
      .filter(col("jaccard_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("_j").cast("int").as("rank_dist"),
        round(col("jaccard_sim"), 6).as("jaccard_sim"))
  }
}
