package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** As-of join: attach to every left row the most recent right row
  * with the same key at or before its timestamp. The classic
  * time-series enrichment operator (trades→quotes, events→state) that
  * Spark has no native relational operator for.
  *
  * Implementation is a tagged union + one window pass, not a range
  * join: both sides are unioned on an aligned schema, shuffled ONCE by
  * the key, sorted by (ts, side, tie-break), and the right payload is
  * propagated with `last(ignoreNulls = true)` over a preceding-rows
  * frame. Left rows then read the nearest payload directly.
  *
  * Scale notes (100 TB): cost is a single hash-partition shuffle of
  * |L| + |R| rows plus a per-partition sort — the same shape as a
  * sort-merge join, with no N×M candidate blow-up for wide time
  * gaps and no per-key driver loops. Skewed keys can be salted
  * upstream with [[SkewTools]]; AQE handles moderate skew.
  *
  * Determinism: ties on `rightTs` are pinned by `tieBreakCol` (kept in
  * its native type — casting it would null out string ids): the LAST
  * entry under the frame wins (max tie-break at the winning
  * timestamp).
  */
object AsOfJoin {

  /** Most recent right row with `rightTs <= leftTs`.
    *
    * @param rightPayload right-side columns to carry (must not collide
    *                     with left column names)
    * @param matchedTsCol output name for the matched right timestamp
    *                     (null when no match)
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      tieBreakCol: String,
      matchedTsCol: String = "matched_ts"): DataFrame = {

    val payloadStruct = struct(
      (rightPayload.map(col) :+ col(rightTs).as(matchedTsCol)): _*)
    val payloadType = right.select(payloadStruct.as("_p")).schema("_p").dataType
    val lrowStruct = struct(left.columns.toSeq.map(col): _*)
    val lrowType = left.select(lrowStruct.as("_l")).schema("_l").dataType
    val tieType = right.schema(tieBreakCol).dataType

    // Equal-ts right rows sort before the left row (side 0 < 1), so
    // the preceding-rows frame sees them: the match is inclusive.
    val taggedRight = right.select(
      keys.map(col) ++ Seq(
        col(rightTs).as("_ts"),
        lit(0).as("_side"),
        col(tieBreakCol).as("_tb"),
        payloadStruct.as("_p"),
        lit(null).cast(lrowType).as("_l")): _*)
    val taggedLeft = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("_ts"),
        lit(1).as("_side"),
        lit(null).cast(tieType).as("_tb"),
        lit(null).cast(payloadType).as("_p"),
        lrowStruct.as("_l")): _*)

    val w: WindowSpec = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc, col("_tb").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = taggedRight.unionByName(taggedLeft)
      .withColumn("_m", last(col("_p"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)

    val payloadFields = payloadType.asInstanceOf[StructType].fieldNames.toSeq
    val leftCols = left.columns.toSeq.map(c => col("_l")(c).as(c))
    val matchCols = payloadFields.map(f => col("_m")(f).as(f))
    matched.select((leftCols ++ matchCols): _*)
  }
}
