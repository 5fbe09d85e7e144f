package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.time.{LocalDateTime, ZoneOffset}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, countDistinct, lit}

import graft.functions.RiskFunctions
import graft.lake.{ContractSink, JsonDirSink, LakePaths, ServingContract}
import graft.pipeline.{CombineJob, FileReplaySource, FormatFlights, FormatWeather,
  PipelineRunner, UsageProjection}

/** JVM side of the benchmark: one workload, one client, closed loop.
  *
  * Reads a JSON spec written by `run.py`, builds the session the way
  * `graft.Bench` does, warms up, then repeats passes over the workload
  * until the time budget is spent. A board pass runs each query through
  * `SparkEntry.queries(name)(spark, dir)` into the noop sink; a
  * medallion pass is one `PipelineRunner.runOnce`. Output checks run
  * outside the timed region. With `trace` on, half the passes are
  * traced: they time every layer call in a span and attribute listener
  * counts to it through the Spark job group.
  *
  * Usage: perfbench.Harness <spec.json>
  */
object Harness {
  private val mapper = new ObjectMapper()
  private def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  final case class Op(pass: Int, name: String, seconds: Double, error: Option[String])

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmToMain = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val spec = mapper.readTree(new File(args(0)))
    val cores = spec.get("cores").asInt()
    val (spark, factory) = buildSession(cores)
    val sessionS = (System.nanoTime() - mainNs) / 1e9
    val run = new Run(spark, spec, cores)
    val out = run.execute()
    out.put("session", obj(
      "factory" -> factory,
      "conf" -> obj(spark.conf.getAll.toSeq.sortBy(_._1): _*),
      "java_options" -> ManagementFactory.getRuntimeMXBean.getInputArguments,
      "cores" -> cores))
    out.get("setup").asInstanceOf[JMap[String, Any]].put("jvm_to_main_s", jvmToMain)
    out.get("setup").asInstanceOf[JMap[String, Any]].put("session_s", sessionS)
    spark.stop()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(spec.get("result").asText()), out)
  }

  /** The session `graft.Bench` times with, so a change to that factory
    * is measured here too; falls back to the engine's own factory if
    * Bench no longer has one. The factory used is recorded.
    */
  private def buildSession(cores: Int): (SparkSession, String) =
    try {
      val cls = Class.forName("graft.Bench$")
      val m = cls.getDeclaredMethod("buildSession", classOf[String])
      m.setAccessible(true)
      (m.invoke(cls.getField("MODULE$").get(null), cores.toString).asInstanceOf[SparkSession],
        "graft.Bench.buildSession")
    } catch {
      case _: ReflectiveOperationException =>
        (graft.core.GraftSession.local(cores, "perfbench"), "graft.core.GraftSession.local")
    }

  private def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getName}: ${String.valueOf(root.getMessage).take(300)}"
  }

  private final class Run(spark: SparkSession, spec: com.fasterxml.jackson.databind.JsonNode,
      cores: Int) {
    private val sc = spark.sparkContext
    private val seed = spec.get("seed").asLong()
    private val seconds = spec.get("seconds").asDouble()
    private val trace = spec.get("trace").asBoolean()
    private val workDir = spec.get("work_dir").asText()
    private val ops = mutable.ArrayBuffer.empty[Op]
    private val passes = new java.util.ArrayList[Any]()
    private val listener = new GroupListener
    private val tracer = new Tracer(sc)
    private val passGc = mutable.Map.empty[Int, Double]
    private val residBlocks = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    // time spent on checks and storage sampling inside a pass; it is
    // taken off the pass wall so only the workload's own work counts
    private var untimedNs = 0L

    private def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }

    private def gcSeconds: Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    private def clearStorage(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** Blocks still cached once the asynchronous removals settle. */
    private def residualBlocks(): Long = {
      var info = sc.getRDDStorageInfo
      var waited = 0
      while (info.nonEmpty && waited < 2000) {
        Thread.sleep(50); waited += 50
        info = sc.getRDDStorageInfo
      }
      info.map(_.numCachedPartitions.toLong).sum
    }

    /** Closed loop: passes until `seconds` have elapsed, at least two
      * (four when tracing, so traced and untraced passes both repeat).
      * With tracing on, passes run untraced, traced, traced, untraced,
      * ... so a warm-up trend does not bias the traced-minus-untraced
      * overhead.
      */
    private def timedLoop(onePass: (Int, Boolean) => Unit): Unit = {
      val start = System.nanoTime()
      val minPasses = if (trace) 4 else 2
      var pass = 0
      while (pass < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
        val traced = trace && (pass % 4 == 1 || pass % 4 == 2)
        if (traced) sc.addSparkListener(listener)
        val gc0 = gcSeconds
        untimedNs = 0L
        val t0 = System.nanoTime()
        onePass(pass, traced)
        val wall = (System.nanoTime() - t0 - untimedNs) / 1e9
        if (traced) {
          org.apache.spark.perfbench.ListenerBusBridge.drain(sc)
          sc.removeSparkListener(listener)
        }
        passGc(pass) = gcSeconds - gc0
        passes.add(obj("pass" -> pass, "traced" -> traced, "wall_s" -> wall))
        pass += 1
      }
    }

    def execute(): JMap[String, Any] = {
      val out = spec.get("kind").asText() match {
        case "board" => board()
        case "medallion" => medallion()
      }
      out.put("passes", passes)
      out.put("ops", ops.map(o => obj("pass" -> o.pass, "op" -> o.name, "s" -> o.seconds,
        "error" -> o.error.orNull)).asJava)
      if (trace) out.put("trace", traceReport())
      out
    }

    // ------------------------------------------------------------ boards

    private def board(): JMap[String, Any] = {
      val b = spec.get("board")
      val dataDir = b.get("data_dir").asText()
      val names = b.get("queries").elements().asScala.map(_.asText()).toVector
      val fns = graft.SparkEntry.queries
      val missing = names.filterNot(fns.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
      def order(pass: Int) = new scala.util.Random(seed * 1000003L + pass).shuffle(names)

      // one pass writing each result, for the oracle and hash checks
      def checkPass(tag: String, pass: Int, only: Seq[String]): JMap[String, Any] = {
        val errors = new JMap[String, Any]()
        order(pass).filter(only.contains).foreach { q =>
          try fns(q)(spark, dataDir).write.mode(SaveMode.Overwrite)
            .parquet(s"$workDir/check/$tag/$q")
          catch { case NonFatal(e) => errors.put(q, describe(e)) }
          clearStorage()
        }
        errors
      }

      def noop(q: String): Unit =
        fns(q)(spark, dataDir).write.mode("overwrite").format("noop").save()

      // the first pass compiles and writes every result; the JIT keeps
      // improving for a few passes more, so warm-up adds noop passes
      val w0 = System.nanoTime()
      val warmErrors = checkPass("a", -1, names)
      (1 to b.get("warmup_passes").asInt()).foreach { i =>
        order(-2 - i).foreach { q =>
          try noop(q) catch { case NonFatal(_) => () } // the check pass records failures
          clearStorage()
        }
      }
      val warmupS = (System.nanoTime() - w0) / 1e9

      timedLoop { (pass, traced) =>
        order(pass).foreach { q =>
          if (!traced) {
            val t0 = System.nanoTime()
            val err =
              try { noop(q); None }
              catch { case NonFatal(e) => Some(describe(e)) }
            ops += Op(pass, q, (System.nanoTime() - t0) / 1e9, err)
            clearStorage()
          } else {
            val t0 = System.nanoTime()
            val err =
              try {
                tracer.span("query", pass, q) {
                  val df = tracer.span("queries.build", pass, q)(fns(q)(spark, dataDir))
                  tracer.span("plans.plan", pass, q)(df.queryExecution.executedPlan)
                  tracer.span("spark.exec", pass, q)(
                    df.write.mode("overwrite").format("noop").save())
                }
                None
              } catch { case NonFatal(e) => Some(describe(e)) }
            ops += Op(pass, q, (System.nanoTime() - t0) / 1e9, err)
            tracer.span("harness.cleanup", pass, q)(clearStorage())
            residBlocks(pass) += untimed(residualBlocks())
          }
        }
      }

      // queries without an oracle must repeat their first result
      val oracle = graft.SparkEntry.oracleSql
      val checkErrors = checkPass("b", -1000, names.filterNot(oracle.contains))
      obj(
        "setup" -> obj("warmup_s" -> warmupS),
        "checks" -> obj("dir_a" -> s"$workDir/check/a", "dir_b" -> s"$workDir/check/b",
          "errors_a" -> warmErrors, "errors_b" -> checkErrors),
        "oracle_sql" -> new JMap[String, Any](
          names.flatMap(q => oracle.get(q).map(q -> _)).toMap.asJava))
    }

    // --------------------------------------------------------- medallion

    private def medallion(): JMap[String, Any] = {
      val m = spec.get("medallion")
      val lake = LakePaths(m.get("lake_dir").asText())
      val sinkRoot = s"${m.get("lake_dir").asText()}/serving/flights"
      val sink = new JsonDirSink(sinkRoot)
      val snaps = m.get("snapshots").elements().asScala.toVector
      val warmupRuns = m.get("warmup_runs").asInt()
      val runChecks = new java.util.ArrayList[Any]()
      var minute = 0

      def sources(k: Int) = {
        val d = snaps(k % snaps.size).get("dir").asText()
        (new FileReplaySource(s"$d/flights_raw.json"), new FileReplaySource(s"$d/weather_raw.json"))
      }
      def at(k: Int) = LocalDateTime.ofEpochSecond(
        snaps.head.get("epoch").asLong() + 60L * k, 0, ZoneOffset.UTC)

      // the runner's steps, called one layer at a time under spans; each
      // step splits like a board query into DataFrame construction (the
      // layer function, eager jobs included), planning and execution
      def tracedRun(pass: Int, k: Int): Long = {
        val t = at(k)
        val op = s"minute_$k"
        val (fs, ws) = sources(k)
        def step[T](build: => DataFrame)(run: DataFrame => T): T = {
          val df = tracer.span("queries.build", pass, op)(build)
          tracer.span("plans.plan", pass, op)(df.queryExecution.executedPlan)
          tracer.span("spark.exec", pass, op)(run(df))
        }
        def write(dir: String)(df: DataFrame): Unit = df.write.mode(SaveMode.Overwrite).parquet(dir)
        tracer.span("run", pass, op) {
          val rawF = lake.partitionPath("raw", "opensky", "flights", t)
          val rawW = lake.partitionPath("raw", "open_meteo", "weather", t)
          tracer.span("pipeline.extract", pass, op) {
            fs.extract(spark, rawF); ws.extract(spark, rawW)
          }
          tracer.span("pipeline.format", pass, op) {
            step(FormatFlights.fromRawJson(spark, rawF))(
              write(lake.partitionPath("formatted", "opensky", "flights", t)))
            step(FormatWeather.fromRawJson(spark, rawW))(
              write(lake.partitionPath("formatted", "open_meteo", "weather", t)))
          }
          val enrichedDir = lake.partitionPath("enriched", "sky_safe", "flights_weather", t)
          tracer.span("pipeline.enrich", pass, op) {
            step {
              val flights = spark.read.parquet(
                lake.latestPartition(spark, "formatted", "opensky", "flights").get)
              val weather = spark.read.parquet(
                lake.latestPartition(spark, "formatted", "open_meteo", "weather").get)
              CombineJob.enrich(flights, weather)
            }(write(enrichedDir))
          }
          val usageDir = lake.partitionPath("usage", "sky_safe", "dashboard", t)
          tracer.span("pipeline.usage", pass, op) {
            step(UsageProjection.usage(spark.read.parquet(enrichedDir)))(write(usageDir))
          }
          tracer.span("lake.sink", pass, op) {
            step(UsageProjection.latestPerAircraft(
              UsageProjection.documents(spark.read.parquet(usageDir))))(
              new ContractSink(sink, ServingContract.flightDocuments).upsert(_, "icao24"))
          }
          tracer.span("pipeline.metrics", pass, op) {
            step(spark.read.parquet(enrichedDir).selectExpr(
              "count(*) AS rows",
              "sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomalies"))(_.first().getLong(0))
          }
        }
      }

      def runMinute(pass: Int, traced: Boolean): Unit = {
        val k = minute
        minute += 1
        val t0 = System.nanoTime()
        var reported = -1L
        val err =
          try {
            if (traced) reported = tracedRun(pass, k)
            else {
              val (fs, ws) = sources(k)
              reported = new PipelineRunner(lake, fs, ws, sink).runOnce(spark, at(k)).enrichedRows
            }
            None
          } catch { case NonFatal(e) => Some(describe(e)) }
        val dt = (System.nanoTime() - t0) / 1e9
        if (pass >= 0) ops += Op(pass, s"minute_$k", dt, err)
        if (traced) {
          tracer.span("harness.cleanup", pass, s"minute_$k")(clearStorage())
          residBlocks(pass) += untimed(residualBlocks())
        } else clearStorage()
        untimed(runChecks.add(checkRun(k, pass, reported, err)))
      }

      def checkRun(k: Int, pass: Int, reported: Long, err: Option[String]): JMap[String, Any] = {
        val snap = snaps(k % snaps.size)
        val res = obj("minute" -> k, "pass" -> pass, "states" -> snap.get("states").asLong(),
          "expected_rows" -> snap.get("rows").asLong(),
          "expected_docs" -> snap.get("docs").asLong(),
          "reported_rows" -> reported, "error" -> err.orNull)
        if (err.isEmpty) try {
          val enriched = spark.read.parquet(
            lake.partitionPath("enriched", "sky_safe", "flights_weather", at(k)))
          val rule = RiskFunctions.fallbackPhase(
            coalesce(col("baro_altitude"), lit(0.0)), coalesce(col("velocity"), lit(0.0)),
            coalesce(col("vertical_rate"), lit(0.0)))
          val row = enriched.selectExpr("count(*)").first()
          val offRule = enriched.filter(
            col("flight_phase") =!= rule ||
              col("flight_phase_id") =!= RiskFunctions.fallbackPhaseId(col("flight_phase")))
            .count()
          val gens = new File(sinkRoot).listFiles().map(_.getName).filter(_.startsWith("gen=")).sorted
          val docs = spark.read.schema("icao24 STRING").json(s"$sinkRoot/${gens.last}")
            .agg(count(lit(1)), countDistinct(col("icao24")))
            .first()
          res.put("enriched_rows", row.getLong(0))
          res.put("docs", docs.getLong(0))
          res.put("distinct_docs", docs.getLong(1))
          // the threshold rules reproduce every label on the fallback
          // path; K-means clusters disagree with them somewhere
          res.put("off_rule_rows", offRule)
        } catch { case NonFatal(e) => res.put("check_error", describe(e)) }
        res
      }

      val w0 = System.nanoTime()
      (0 until warmupRuns).foreach(_ => runMinute(-1, traced = false))
      val warmupS = (System.nanoTime() - w0) / 1e9
      timedLoop((pass, traced) => runMinute(pass, traced))
      obj("setup" -> obj("warmup_s" -> warmupS), "checks" -> obj("runs" -> runChecks))
    }

    // ------------------------------------------------------------- trace

    private def traceReport(): JMap[String, Any] = {
      val spans = tracer.spans.map { s =>
        val g = Option(listener.byGroup.get(s"span:${s.id}")).getOrElse(new GroupStats)
        obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "pass" -> s.pass,
          "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "self_s" -> tracer.selfSeconds(s), "jobs" -> g.jobs, "stages" -> g.stages,
          "tasks" -> g.tasks, "task_run_s" -> g.runNs / 1e9, "task_gc_s" -> g.gcMs / 1e3,
          "shuffle_write_bytes" -> g.shuffleWriteBytes, "spill_bytes" -> g.spillBytes,
          "peak_exec_mem_bytes" -> g.peakExecMem)
      }
      val unattributed = Option(listener.byGroup.get("")).map(_.jobs).getOrElse(0L)
      obj("spans" -> spans.asJava,
        "pass_gc_s" -> new JMap[String, Any](passGc.map { case (k, v) => k.toString -> v }.toMap.asJava),
        "resid_blocks" -> new JMap[String, Any](residBlocks.map { case (k, v) => k.toString -> v }.toMap.asJava),
        "unattributed_jobs" -> unattributed,
        "cores" -> cores)
    }
  }
}
