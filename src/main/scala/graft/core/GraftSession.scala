package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the engine: the one place in main source that
  * builds a SparkSession, so Bench, Verify, BenchOne and the tools all
  * run under the same engine conf.
  *
  * The reference builds one tiny session per Airflow task
  * (`src/helpers.py:197-225`: local[1], 512 MB, shuffle.partitions=2).
  * We instead size for the actual hardware and let AQE adapt partition
  * counts at runtime — the static `shuffle.partitions` is only the
  * pre-AQE upper bound. Session timezone is pinned UTC exactly like the
  * reference (`src/format_flights.py:138`, `tests/conftest.py:20`) so
  * epoch→timestamp conversions agree across engines, and ANSI mode is
  * off: the reference semantics are PySpark pre-ANSI (invalid cast →
  * null).
  */
object GraftSession {

  /** Core count for every session: `SPARK_GRAFT_CPUS`, read once here,
    * defaulting to 32 to match the local[32] bench profile.
    */
  lazy val defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(32)

  /** The configured builder, for callers that must add a static conf
    * of their own before the session starts (the test session's
    * warehouse dir). Everything else should call [[local]].
    */
  def builder(cores: Int = defaultCores, appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** Build (or return the running) local session, logging at WARN. */
  def local(cores: Int = defaultCores, appName: String = "graft"): SparkSession = {
    val spark = builder(cores, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
