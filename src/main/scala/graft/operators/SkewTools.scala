package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for hot keys at 100 TB.
  *
  * AQE's skew-join split handles most runtime skew; these are the
  * explicit tools for the cases AQE cannot fix: a grouped aggregation
  * whose hot key overwhelms one reducer, and a join against a
  * dimension where a handful of keys dominate.
  */
object SkewTools {

  /** Two-phase (salted) aggregation: groupBy(keys + salt) partial →
    * groupBy(keys) final. Works for any commutative aggregates passed
    * as (partial, final) pairs on the SAME column names.
    *
    * Example: saltedAgg(df, Seq("k"), 32,
    *   Seq(count(lit(1)).as("n")), Seq(sum(col("n")).as("n")))
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      saltBuckets: Int,
      partial: Seq[Column],
      fin: Seq[Column]): DataFrame =
    df.withColumn("_salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(partial.head, partial.tail: _*)
      .groupBy(keys.map(col): _*)
      .agg(fin.head, fin.tail: _*)

  /** Salted join against a small-ish right side: the left side's hot
    * keys are spread over `saltBuckets` partitions; the right side is
    * replicated once per bucket. Right must be small enough to
    * replicate (dim-table case) — for two large skewed sides, rely on
    * AQE skew-join instead.
    */
  def saltedBroadcastJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      saltBuckets: Int): DataFrame = {
    val saltedLeft = left.withColumn("_salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltBuckets)))
    val replicatedRight = right
      .withColumn("_salt", explode(sequence(lit(0L), lit(saltBuckets - 1L))))
    saltedLeft.join(broadcast(replicatedRight), Seq(key, "_salt"))
      .drop("_salt")
  }

  /** Key-distribution profiler — the diagnostic that decides WHETHER
    * to salt: one row of exact skew statistics for a prospective
    * shuffle key (row/key counts, hottest-key share, and the Gini
    * coefficient of the per-key count distribution; Gini 0 = uniform,
    * → 1 = one key owns everything).
    *
    * Exact Gini without a global sort: for per-key counts c sorted
    * ascending with 1-based rank i, G = (2·Σi·cᵢ − (m+1)·T)/(m·T).
    * Σi·cᵢ needs the rank of every key — but keys sharing a count
    * value contribute c·(sum of their ranks) regardless of how ranks
    * are assigned among them, so the sum collapses onto the COUNT
    * HISTOGRAM: a block of f keys with count v starting after F
    * smaller-count keys contributes v·(f·F + f·(f+1)/2). All integer
    * arithmetic; the only float ops are the two final IEEE divisions.
    *
    * Scale shape: shuffle by key (map-side combinable count), then by
    * count value (histogram — at most as many rows as the hottest
    * key's count), then ONE window over the tiny histogram. Never a
    * per-key global sort or single-partition window over m keys.
    */
  def keySkewProfile(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
    val hist = counts.groupBy(col("c"))
      .agg(count(lit(1)).as("f"))
    val byCount = org.apache.spark.sql.expressions.Window
      .orderBy(col("c")).rowsBetween(Long.MinValue, -1)
    hist
      .withColumn("_F", coalesce(sum(col("f")).over(byCount), lit(0L)))
      .agg(
        sum(col("c") * col("f")).as("n_rows"),
        sum(col("f")).as("n_keys"),
        max(col("c")).as("max_cnt"),
        sum(col("c") * (col("f") * col("_F") +
          expr("f * (f + 1) div 2"))).as("_s"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        (col("max_cnt").cast("double") / col("n_rows").cast("double"))
          .as("top1_share"),
        ((lit(2) * col("_s") - (col("n_keys") + 1) * col("n_rows")).cast("double") /
          (col("n_keys") * col("n_rows")).cast("double")).as("gini"))
  }
}
