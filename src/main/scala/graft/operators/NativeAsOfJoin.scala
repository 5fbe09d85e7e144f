package graft.operators

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col

import graft.plans.{AsOfJoinPlan, AsOfJoinStrategy}

/** Column-API front door for the native as-of join
  * ([[graft.plans.AsOfJoinPlan]] → `AsOfJoinExec`): same signature and
  * semantics as [[AsOfJoin.backward]], planned as the single-pass
  * streaming merge instead of the tagged union + window.
  *
  * The planner strategy is self-registered on the session
  * (`spark.experimental.extraStrategies`) on first use, so the
  * operator works on any session the factory builds.
  */
object NativeAsOfJoin {

  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String],
      tieBreakCol: String,
      matchedTsCol: String = "matched_ts"): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    // Re-alias every right column: fresh expression ids guarantee the
    // two children never share attribute ids (a raw self-join — both
    // sides carved from one source frame — otherwise would, breaking
    // parent-level attribute binding the way un-deduplicated joins do).
    val rightAliased = right.select(right.columns.toSeq.map(c => col(c).as(c)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rightAliased.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"$side column not found: $n"))
    val rTsAttr = attr(rPlan, rightTs, "right")
    val node = AsOfJoinPlan(
      lPlan, rPlan,
      keys.map(attr(lPlan, _, "left")), keys.map(attr(rPlan, _, "right")),
      attr(lPlan, leftTs, "left"), rTsAttr,
      rightPayload.map(attr(rPlan, _, "right")),
      attr(rPlan, tieBreakCol, "right"),
      org.apache.spark.sql.catalyst.expressions
        .AttributeReference(matchedTsCol, rTsAttr.dataType, nullable = true)())
    GraftPlanBridge.ofRows(spark, node)
  }
}
