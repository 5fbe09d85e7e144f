package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession

/** One shared local session for all suites (mirrors the reference's
  * session-scoped fixture, `tests/conftest.py:9-25`: local, UTC): the
  * engine's own session conf plus a test-only warehouse dir.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4, "graft-test")
      // managed-table surface (bucketed tables) kept out of the repo
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `f`'s result and the Spark jobs it ran, counted through a job
    * group (threads `f` starts inherit it). The status tracker is fed
    * asynchronously, so the count is polled until stable.
    */
  def withJobs[T](tag: String)(f: => T): (T, Int) = {
    spark.sparkContext.setJobGroup(tag, tag, interruptOnCancel = false)
    val result = try f finally spark.sparkContext.clearJobGroup()
    def ids = spark.sparkContext.statusTracker.getJobIdsForGroup(tag).length
    var last = -1
    var cur = ids
    var spins = 0
    while (cur != last && spins < 100) {
      Thread.sleep(50); last = cur; cur = ids; spins += 1
    }
    (result, cur)
  }

  /** Parse raw JSON strings through the real reader path. */
  def jsonDf(schema: org.apache.spark.sql.types.StructType, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(rows.toDS)
  }
}
