package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import graft.core.GraftSession
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json for the DuckDB oracle compare, plus
  * failures.json (`{query: "Class: message"}`, `{}` when every query
  * ran) so a red query's cause outlives the log. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q115_…,q118_… re-dumps a subset (iteration aid;
    // the driver leaves it unset and dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val failures = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> Bench.rootCause(e))
      }
    }
    def jsonObject(kvs: Iterable[(String, String)]): String = kvs
      .map { case (k, v) => s"${Bench.jsonString(k)}: ${Bench.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), jsonObject(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObject(failures))
    spark.stop()
  }
}
