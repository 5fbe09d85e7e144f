package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession

/** Benchmark main: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":...,"queries":{...}}. The driver runs
  * this per-round at sf0.1 on local[32] → BENCH_r{N}.json.
  *
  * Suite-state debt: one long-lived session accumulates checkpoint RDD
  * blocks, shuffle files, broadcast cleanup backlog and GC pressure; by
  * query ~175 of 259 the in-board reps for join/iterative queries ran
  * 2-17x above their isolated warm cost (r8: q176 13.6 s in-board vs
  * 0.8 s via BenchOne). Per-query cache clearing alone did not pay that
  * debt down, so the harness now RECYCLES the SparkSession every
  * RecycleEvery queries: stop the context (dropping all shuffle/
  * checkpoint state on the floor), build a fresh one, and re-run the
  * codegen/reader warmup so the first query of each segment doesn't pay
  * one-time costs. Queries are self-contained (each reads from the
  * parquet dir), so a fresh session is semantically identical. The
  * policy is recorded in BENCH_DETAIL.json ("recycle_every").
  */
object Bench {
  private val RecycleEvery = 48

  /** The bench session: the engine's own factory, plus the one
    * bench-only log setting below. `perfbench` reaches this method by
    * reflection, so its name and `(String)` signature stay.
    */
  private def buildSession(cpus: String): SparkSession = {
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    // The two-level prefix-sum in Packing runs one deliberate window
    // over the O(#partitions) totals frame; Spark warns "No Partition
    // Defined" on every run, and dozens of benign copies bury real
    // warnings in the bench log. Silence that category only.
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window",
        org.apache.logging.log4j.Level.ERROR)
    } catch { case NonFatal(_) => () }
    spark
  }

  /** `Class: message` of the innermost cause — what a failure record
    * keeps instead of a bare -1.
    */
  private[graft] def rootCause(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getName}: ${root.getMessage}"
  }

  /** JSON string literal: escapes backslash, quote and ALL control
    * chars (<0x20) — a tab or CR in oracle SQL or an error message
    * would otherwise make the whole file unparseable.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** One timed rep: seconds (-1 on failure), residual blocks and bytes,
    * and the failure's root cause.
    */
  private[graft] final case class Rep(sec: Double, residBlocks: Long, residBytes: Long,
      error: Option[String])

  /** Time one rep of `fn` into the noop sink, then clean up outside the
    * timed window. The residuals are sampled AFTER the per-rep cleanup,
    * so a nonzero value is state this rep leaked into the next one —
    * the r10 board's rising-rep sequences (q321 [10, 21, 94])
    * were only attributable by re-running BenchOne on an idle machine;
    * with the residuals in BENCH_DETAIL.json the artifact itself shows
    * whether a rise was leaked state or environment.
    */
  private[graft] def runOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): Rep = {
    val t0 = System.nanoTime()
    // noop sink only: count() would let Catalyst prune every
    // output-only expression subtree and time a different workload
    val error =
      try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); None }
      catch { case NonFatal(e) => Some(rootCause(e)) }
    // a FAILED rep must never become the reported minimum (a query
    // that dies in 0.3s would otherwise "win" over its real 10s
    // runs, silently): -1 marks failure; min-selection ignores it
    val sec = if (error.isEmpty) (System.nanoTime() - t0) / 1e9 else -1.0
    // Per-REP cleanup (outside the timed window): operators sever
    // lineage via localCheckpoint and release their own caches, but
    // the RESULT frame's checkpoint blocks stay pinned after the
    // sink — so rep2 used to run against rep1's leaked blocks (the
    // r9 q157 in-board rise: reps [3.25, 6.19, 5.64] while the
    // isolated BenchOne falls 10.2 → 2.0). Checkpoint blocks are
    // never reused across reps, so dropping storage here only
    // removes noise.
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    // clearCache's removals are asynchronous: sampling immediately
    // would count in-flight cleanup as "leaked" and the telemetry
    // would misattribute ordinary async removal. Poll briefly
    // (outside the timed window) until storage settles; anything
    // still pinned after the grace window is a genuine leak.
    var resid = spark.sparkContext.getRDDStorageInfo
    var waited = 0
    while (resid.nonEmpty && waited < 2000) {
      Thread.sleep(100); waited += 100
      resid = spark.sparkContext.getRDDStorageInfo
    }
    Rep(sec, resid.map(_.numCachedPartitions.toLong).sum,
      resid.map(i => i.memSize + i.diskSize).sum, error)
  }

  /** Engine warmup so the first measured query of a (fresh) session
    * doesn't pay one-time costs: parquet reader + footer parse,
    * whole-stage codegen and janino compile, shuffle-exchange infra,
    * and the noop sink. Warms the smallest table (region, 5 rows) — no
    * query results are precomputed.
    */
  private def warmup(spark: SparkSession, sfDir: String): Unit = {
    try {
      import org.apache.spark.sql.functions.{avg, count, row_number}
      import org.apache.spark.sql.expressions.Window
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.groupBy("r_regionkey").agg(count("*"), avg("r_regionkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("r_regionkey").orderBy("r_regionkey")))
        .join(r, Seq("r_regionkey"))
        .write.mode("overwrite").format("noop").save()
    } catch { case NonFatal(_) => () }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCores.toString
    var spark = buildSession(cpus)
    warmup(spark, sfDir)
    // SPARK_GRAFT_ONLY=q65_nearest_dense_grid,q71_… runs a subset (an
    // iteration aid; the driver leaves it unset and benches everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Single-run timing made per-query regressions unfalsifiable (r4→r5
    // showed 3-4x swings on untouched queries). Each query now runs
    // twice in the warm session; if the two runs disagree by >25% (and
    // the query isn't trivially fast) a tie-break third run is added.
    // Reported value = MIN over reps: the noise (GC pause, JIT, state-
    // store cleanup bleeding across queries) is strictly additive, so
    // the lowest rep is the estimate of intrinsic cost — the r6 shake-
    // down showed median-of-3 still reporting 8.2s for a query whose
    // warm cost is 1.2s (reps [10.5, 8.2, 1.2]) because BOTH early
    // reps caught the same GC storm. All raw reps land in
    // BENCH_DETAIL.json for exactly this kind of audit.
    val results = selected.zipWithIndex.map { case ((name, fn), ix) =>
      if (ix > 0 && ix % RecycleEvery == 0) {
        // Segment boundary: drop the whole context (and with it every
        // checkpoint block, shuffle file and pending-cleanup broadcast
        // the last segment accumulated), then warm the fresh one.
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        System.gc()
        spark = buildSession(cpus)
        warmup(spark, sfDir)
      }
      val a = runOnce(spark, sfDir, fn)
      val b = runOnce(spark, sfDir, fn)
      val good = Seq(a, b).map(_.sec).filter(_ >= 0)
      val lo = if (good.nonEmpty) good.min else -1.0
      // tie-break third run on >25% disagreement between good reps, or
      // on any failed rep (a failure is the strongest disagreement)
      val reps =
        if (good.size < 2 || (lo > 0.5 && (good.max - lo) / lo > 0.25))
          Seq(a, b, runOnce(spark, sfDir, fn))
        else Seq(a, b)
      val goodAll = reps.map(_.sec).filter(_ >= 0)
      // storage is dropped per-rep inside runOnce; periodically nudge
      // GC so the weak-ref-driven ContextCleaner actually releases
      // shuffle files and broadcasts
      if (ix % 16 == 15) System.gc()
      // all reps failed => -1 survives into the report as an explicit
      // broken-query marker (never a plausible-looking fast time)
      (name, if (goodAll.nonEmpty) goodAll.min else -1.0, reps)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver captures only the LAST ~2000 chars of output, so the
    // printed JSON line must stay short: per-query keys are the qNN
    // prefix (the full-name mapping lives in BENCH_DETAIL.json and
    // BASELINE.md). Round 2's full-name line outgrew the window and the
    // driver recorded parsed:null.
    def shortKey(name: String): String = name.takeWhile(_ != '_')
    val qs = results.map { case (k, v, _) => "\"" + shortKey(k) + f"\":$v%.2f" }
      .mkString("{", ",", "}")
    val detail = results.map { case (k, v, reps) =>
      "\"" + k + "\":{\"value\":" + f"$v%.3f" + ",\"reps\":[" +
        reps.map(r => f"${r.sec}%.3f").mkString(",") +
        "],\"resid_blocks\":[" +
        reps.map(_.residBlocks.toString).mkString(",") +
        "],\"resid_bytes\":[" +
        reps.map(_.residBytes.toString).mkString(",") + "]" +
        reps.flatMap(_.error).headOption
          .fold("")(e => ",\"error\":" + jsonString(e)) + "}"
    }.mkString("{", ",", "}")
    val detailJson =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","recycle_every":$RecycleEvery,"queries":$detail,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_DETAIL.json"),
        (detailJson + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(_) => () }
    // Capture-independent record (r15 verdict #3): BENCH_r13-r15 all
    // recorded parsed:null because the driver parses a bounded stdout
    // capture — even the compact tail line evidently didn't survive
    // its stream handling. Write the summary (totals + the same
    // short-key per-query map as the stdout line) straight to a repo-
    // root FILE so the round's bench record exists with zero stdout
    // dependence; close_round.sh verifies it parses after every rep.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        (f"""{"metric":"total","value":$total%.3f,"unit":"sec","n":${results.size},"queries":$qs,"sf":"$sfDir"}""" + "\n")
          .getBytes("UTF-8"))
    } catch { case NonFatal(_) => () }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
    // Driver-proof compact record (r14 verdict #1): the per-query line
    // above embeds the full query map, and a bounded tail capture can
    // truncate its FRONT before "metric"/"value" are readable
    // (BENCH_r13/r14 both recorded parsed:null). This final stdout
    // line carries totals only — short enough that ANY tail window
    // reaching the last line holds one complete parseable record.
    println(f"""{"metric":"total_compact","value":$total%.3f,"unit":"sec","n":${results.size},"sf":"$sfDir"}""")
  }
}
