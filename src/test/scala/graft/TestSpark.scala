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

  /** Parse raw JSON strings through the real reader path. */
  def jsonDf(schema: org.apache.spark.sql.types.StructType, rows: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(schema).json(rows.toDS)
  }
}
