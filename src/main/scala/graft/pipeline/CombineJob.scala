package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.RiskFunctions
import graft.operators.NearestJoin

/** formatted → enriched: the reference's flagship query
  * (`src/combine_spark.py:60-400`; lifecycle SURVEY.md §3.2).
  *
  * Stages, each a `DataFrame => DataFrame`:
  *   1. nearest-weather join (J1+J2+W1, weather broadcast)
  *   2. risk score + category (B1/B2)
  *   3. phase classification + anomaly (B3–B7)
  *
  * Unlike the reference — which re-executes the whole lineage for each
  * of its ≥6 count()/collect()/first() actions (anti-pattern, SURVEY.md
  * §4) — PhaseClassifier pins the scored frame with a lazy
  * `localCheckpoint` that its first pass materializes, so the join runs
  * once per batch, and the run metrics are counted while the returned
  * frame is written (`PipelineRunner`).
  */
object CombineJob {

  def enrich(flights: DataFrame, weather: DataFrame): DataFrame = {
    val joined = NearestJoin.flightsToNearestWeather(flights, weather)
    val scored = joined
      .withColumn("risk_score", RiskFunctions.riskScoreEnriched)
      .withColumn("risk_category", RiskFunctions.riskCategory(col("risk_score")))
    PhaseClassifier.enrich(scored)
  }
}
