package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** FULL-BOARD real-data scale sweep (r13 verdict #6: turn the 24-query
  * sf0.1 → sf1 spot-board into a board-wide measured exponent): every
  * declared query runs back-to-back on two parquet dirs (base, scaled)
  * in one warm session — legs adjacent so each ratio is
  * contention-fair — with min-of-2 reps per leg and a per-rep
  * watchdog that cancels the job group at the deadline instead of
  * letting one pathological line stall the sweep (a cancelled leg
  * prints DNF and the sweep continues). Lines whose wall ratio
  * exceeds the adjudication threshold get their OUTPUT row counts
  * measured on both dirs, so output-bound growth (pair emitters) is
  * separated from algorithmic regression in the artifact itself.
  *
  * Progressive one-line-per-query output (the whole point vs Bench,
  * which reports only at the end): a killed sweep still leaves every
  * completed ratio on stdout.
  *
  * Usage: runMain graft.tools.ProbeScaleBoard <baseDir> <scaledDir>
  *          [timeoutSec] [ratioThreshold]
  */
object ProbeScaleBoard {
  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaledDir = args(1)
    val timeoutSec = if (args.length > 2) args(2).toInt else 240
    val ratioThreshold = if (args.length > 3) args(3).toDouble else 4.0
    val recycleEvery = 48

    def build(): SparkSession = GraftSession.local(appName = "graft-scale-board")
    var spark = build()

    def cleanup(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }

    /** Runs `body` in job group `tag` under a watchdog that cancels the
      * group at the deadline; `onFail` stands in for a failed or
      * cancelled run.
      */
    def watched[T](tag: String, onFail: T)(body: => T): T = {
      val sc = spark.sparkContext
      sc.setJobGroup(tag, tag, interruptOnCancel = true)
      @volatile var done = false
      val watchdog = new Thread(() => {
        val deadline = System.nanoTime() + timeoutSec * 1e9.toLong
        while (!done && System.nanoTime() < deadline) Thread.sleep(500)
        if (!done) sc.cancelJobGroup(tag)
      })
      watchdog.setDaemon(true)
      watchdog.start()
      try body
      catch { case NonFatal(_) => onFail }
      finally {
        done = true
        sc.clearJobGroup()
      }
    }

    /** One timed noop-sink rep under a watchdog; -1 = failed or DNF. */
    def rep(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Double = {
      val sec = watched(s"board:$name:$dir:${System.nanoTime()}", -1.0) {
        val t0 = System.nanoTime()
        fn(spark, dir).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      cleanup()
      sec
    }

    def minOf(a: Double, b: Double): Double = {
      val good = Seq(a, b).filter(_ >= 0)
      if (good.nonEmpty) good.min else -1.0
    }

    val selectedAll = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected =
      selectedAll.filter { case (n, _) => only.forall(_.contains(n)) }
    println(s"[scale-board] ${selected.size} queries, base=$baseDir " +
      s"scaled=$scaledDir timeout=${timeoutSec}s " +
      s"adjudicate>${ratioThreshold}x")

    selected.zipWithIndex.foreach { case ((name, fn), ix) =>
      if (ix > 0 && ix % recycleEvery == 0) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        System.gc()
        spark = build()
      }
      // adjacent legs: base, scaled, base, scaled
      val a1 = rep(name, fn, baseDir)
      val b1 = rep(name, fn, scaledDir)
      val a2 = rep(name, fn, baseDir)
      val b2 = rep(name, fn, scaledDir)
      val a = minOf(a1, a2)
      val b = minOf(b1, b2)
      val ratio = if (a > 0 && b >= 0) b / a else -1.0
      val needRows = ratio > ratioThreshold || b < 0
      val rows =
        if (!needRows) ""
        else {
          // the count probe rides the SAME watchdog as the timed
          // reps — a DNF leg must not re-run unbounded here (review
          // r14: a hung scaled leg would stall the whole sweep at
          // the adjudication it triggered)
          def cnt(dir: String): String =
            watched(s"board-rows:$name:$dir:${System.nanoTime()}", "DNF") {
              fn(spark, dir).count().toString
            }
          val ra = cnt(baseDir); cleanup()
          val rb = cnt(scaledDir); cleanup()
          s" rows_base=$ra rows_scaled=$rb"
        }
      val fa = if (a >= 0) f"$a%.2f" else "DNF"
      val fb = if (b >= 0) f"$b%.2f" else "DNF"
      val fr = if (ratio >= 0) f"$ratio%.1f" else "n/a"
      println(s"[scale-board] $name base=${fa}s scaled=${fb}s " +
        s"ratio=$fr$rows")
    }
    spark.stop()
  }
}
