package graft.pipeline

import java.time.LocalDateTime
import java.util.concurrent.{ExecutionException, FutureTask}

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.lake.{DocumentSink, LakePaths}

/** Sequenced batch runner reproducing the reference DAG topology
  * `extract ×2 → format ×2 → combine → index`
  * (`dags/sky_safe_dag.py:72-74`), over the lake layout.
  *
  * Sources are traits — the offline default replays fixture files; an
  * online deployment implements the same trait with an HTTP client
  * (reference S1–S3). Every layer write is an idempotent overwrite of
  * the run's own partition, so re-runs are safe (reference
  * `mode("overwrite")` + keyed upsert).
  */
trait RawSource {
  /** Land one raw snapshot into `targetDir`; returns files written. */
  def extract(spark: SparkSession, targetDir: String): Int
}

/** Replays a fixture file into the raw layer (offline extract). */
final class FileReplaySource(fixturePath: String) extends RawSource {
  override def extract(spark: SparkSession, targetDir: String): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(fixturePath)
    val dst = new org.apache.hadoop.fs.Path(targetDir, src.getName)
    val fs = dst.getFileSystem(conf)
    org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, dst,
      false, conf)
    1
  }
}

final class PipelineRunner(
    paths: LakePaths,
    flightsSource: RawSource,
    weatherSource: RawSource,
    sink: DocumentSink) {

  /** One full pipeline run (≅ one Airflow DAG run per minute). */
  def runOnce(spark: SparkSession, at: LocalDateTime = LocalDateTime.now()): RunMetrics = {
    // extract — land raw snapshots
    val rawFlightsDir = paths.partitionPath("raw", "opensky", "flights", at)
    val rawWeatherDir = paths.partitionPath("raw", "open_meteo", "weather", at)
    flightsSource.extract(spark, rawFlightsDir)
    weatherSource.extract(spark, rawWeatherDir)

    // format — engine-side parse + typing; the two layers do not
    // depend on each other, so they are written at once
    val formattedFlights = FormatFlights.fromRawJson(spark, rawFlightsDir)
    val formattedWeather = FormatWeather.fromRawJson(spark, rawWeatherDir)
    val fFlightsDir = paths.partitionPath("formatted", "opensky", "flights", at)
    val fWeatherDir = paths.partitionPath("formatted", "open_meteo", "weather", at)
    alongside(formattedFlights.write.mode(SaveMode.Overwrite).parquet(fFlightsDir))(
      formattedWeather.write.mode(SaveMode.Overwrite).parquet(fWeatherDir))

    // combine — read back the partitions this run wrote (layer
    // contract), enrich; not the newest ones, so a re-run of an earlier
    // hour enriches that hour's snapshot. Each read-back names the
    // schema the frame was written with, which spares the Spark job
    // that infers it from the parquet footers.
    val enriched = CombineJob.enrich(
      readBack(spark, formattedFlights, fFlightsDir), readBack(spark, formattedWeather, fWeatherDir))
    val enrichedDir = paths.partitionPath("enriched", "sky_safe", "flights_weather", at)
    // the run metrics are counted while the enriched layer is written
    // (the reference re-runs the whole lineage per count — SURVEY.md §4
    // anti-pattern)
    val counted = Observation("run_metrics")
    enriched.observe(counted, expr("count(*)").as("rows"),
      expr("sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END)").as("anomalies"))
      .write.mode(SaveMode.Overwrite).parquet(enrichedDir)

    // usage + index, both projections of the enriched layer, written at
    // once. The enriched layer already holds one row per aircraft (the
    // nearest-station join keeps one per icao24), so the documents go
    // to the keyed upsert as they are. Neither waits for the other: if
    // the usage write fails, the sink may already have published this
    // minute's documents, and the run still fails.
    val usage = UsageProjection.usage(readBack(spark, enriched, enrichedDir))
    val usageDir = paths.partitionPath("usage", "sky_safe", "dashboard", at)
    // typed serving contract enforced at the sink boundary — the
    // engine-side analog of the reference's pinned ES index mapping
    // (src/index_elastic.py:22-62): mis-typed documents fail here, not
    // in the serving store
    alongside(usage.write.mode(SaveMode.Overwrite).parquet(usageDir))(
      new graft.lake.ContractSink(sink, graft.lake.ServingContract.flightDocuments)
        .upsert(UsageProjection.documents(usage), "icao24"))

    val metrics = counted.get
    RunMetrics(metrics("rows").asInstanceOf[Long],
      Option(metrics("anomalies")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** Runs `first` on this thread while `second` runs on a fresh one,
    * and returns or throws only once both are done. A fresh thread
    * inherits Spark's local properties (the job group among them). A
    * failure is rethrown as the exception its write raised, `first`'s
    * if both fail.
    */
  private def alongside(first: => Unit)(second: => Unit): Unit = {
    val task = new FutureTask[Unit](() => second)
    new Thread(task, "pipeline-runner-write").start()
    var firstDone = false
    try { first; firstDone = true }
    finally {
      val secondFailure =
        try { task.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      if (firstDone) secondFailure.foreach(e => throw e)
    }
  }

  /** The layer `written` was just written to `dir`, read back with its
    * schema.
    */
  private def readBack(spark: SparkSession, written: DataFrame, dir: String): DataFrame =
    spark.read.schema(written.schema).parquet(dir)
}

final case class RunMetrics(enrichedRows: Long, anomalies: Long)
