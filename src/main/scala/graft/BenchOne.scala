package graft

import graft.core.GraftSession

/** Times a single declared query in isolation:
  * `runMain graft.BenchOne <queryName> [reps]` with
  * `SPARK_GRAFT_SF_DIR` set — the per-query iteration loop the full
  * Bench is too slow for. Each rep goes through `Bench.runOnce`, so the
  * timed region, sink and per-rep cleanup are the full Bench's.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-bench-one")
    val q = SparkEntry.queries(name)
    val runs = (1 to reps).map { i =>
      val r = Bench.runOnce(spark, sfDir, q)
      println(r.error.fold(f"[benchone] $name rep$i: ${r.sec}%.2f s")(
        e => s"[benchone] $name rep$i: failed: $e"))
      r
    }
    spark.stop()
    if (runs.exists(_.error.nonEmpty)) sys.exit(1)
  }
}
