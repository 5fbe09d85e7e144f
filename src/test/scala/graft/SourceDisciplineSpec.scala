package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.internal.util.BatchSourceFile
import scala.reflect.io.VirtualFile

import org.scalatest.funsuite.AnyFunSuite

/** The engine's source disciplines as EXECUTABLE rules, not prose:
  *
  *  1. No `udf(...)` anywhere in main source — per-row logic is
  *     either `org.apache.spark.sql.functions` algebra or a compiled
  *     Catalyst Expression (codegen-able, prunable, no serialization
  *     tax).
  *  2. Driver-side `.collect()` only in files that carry a documented
  *     BOUNDED collect (k-row cluster tables, partition-count
  *     offsets, histogram/threshold frames) — a new unbounded
  *     collect in any other operator fails this suite before it
  *     fails a 100-TB run.
  *  3. One session factory: only `core/GraftSession.scala` builds a
  *     SparkSession, so Bench, Verify and the tools cannot drift
  *     apart in engine conf again.
  *  4. The `multiLine` JSON file reader only for the weather feed: on
  *     an `array<array<string>>` of numbers (the flights `states`) it
  *     re-opens the file once per token, so flights parse whole-file
  *     text with `from_json` instead (FormatFlights scaladoc).
  *  5. No `case x: Throwable`: a catch-all would also swallow fatal
  *     errors (OOM, interrupts, linkage errors) and turn them into a
  *     quiet value; `NonFatal` is the catch-all.
  *  6. Every parquet read in `pipeline/` names its schema: an inferred
  *     read costs a Spark job that lists the files and merges their
  *     footers, once per layer per minute.
  *  7. No spec-only public defs: every public def of a top-level
  *     type must be reachable, in the typer's symbol graph, from a
  *     product root (every `main`, the declared query maps, perfbench,
  *     the session factory perfbench reflects on, and overriders of
  *     library methods in reached classes). A def only specs reach is
  *     checked by nothing the product runs, so it either gets a
  *     product caller or goes with its spec.
  *  8. No detached scaladoc: a doc block whose closing line is
  *     followed directly by the opening of another documents nothing.
  *  9. No parameter default that no product call passes: a default
  *     nothing overrides is a constant in disguise, and one only specs
  *     override is a mode the product never runs. After the typer, a
  *     call that leaves parameter N to its default evaluates the
  *     getter `m$default$N`, so the check is exact per call site.
  * 10. One global-order implementation: no `spark_partition_id()` and
  *     no window over a `_pid` column outside
  *     `operators/GlobalOrder.scala`. A hand copy of the two-level
  *     recipe with a `Window.partitionBy(col("_pid"))` re-shuffles the
  *     whole input, because Catalyst cannot see that the rows of one
  *     partition id already sit together.
  */
class SourceDisciplineSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles: Seq[java.nio.file.Path] = scalaFilesUnder(mainRoot)

  private def scalaFilesUnder(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  // Public defs that only specs drive, kept on purpose: (file, name).
  private val specOnlyAllowlist = Set(
    // the flagship-query entry point that outside callers invoke; this
    // entry is its declaration as a root
    ("SparkEntry.scala", "entry"),
    // paper components kept as the reproduction (ROADMAP direction 6):
    // S11 Kibana provisioning, the ES index bootstrap, Orchestrator's
    // Airflow-parity run policy (serialized runs, per-task retry) and
    // the bulk sink's delivery report
    ("sources/Kibana.scala", "dashboardNdjson"),
    ("sources/Kibana.scala", "nextPokeAt"),
    ("sources/Kibana.scala", "maxPokes"),
    ("sources/Kibana.scala", "waitForIndexData"),
    ("sources/Kibana.scala", "provision"),
    ("lake/EsIndexBootstrap.scala", "flightMappingJson"),
    ("pipeline/Orchestrator.scala", "runSerialized"),
    ("pipeline/Orchestrator.scala", "withRetry"),
    ("lake/DocumentSink.scala", "report"))

  // files with documented bounded collects (see their scaladocs)
  private val collectAllowlist = Set(
    "operators/Experiments.scala",   // k-bounded assignment tables
    "operators/GlobalOrder.scala",   // P-row partition offsets
    "operators/Sampling.scala",      // histogram/threshold/offset rows
    "operators/ProductQuantization.scala", // nlist-row coarse quantizer
    "operators/SemanticDedup.scala", // k-row sampled quantizer
    "operators/Similarity.scala",    // nlist-row md5-ranked centroids
    // phase-fit vectors of a batch of at most LocalFitMaxRows = 100,000
    // rows × 3 doubles (≈ 2.4 MB); larger batches fit on the cluster
    "pipeline/PhaseClassifier.scala",
    // 1-row min/max bounds; a replay's emitted rows, which the memory
    // sink already holds on the driver
    "streaming/EventStreams.scala")

  test("no udf() anywhere in main source") {
    val offenders = scalaFiles.filter { p =>
      Files.readString(p).linesIterator.exists(l =>
        !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          l.matches(".*\\budf\\s*\\(.*"))
    }
    assert(offenders.isEmpty, s"udf() found in: $offenders")
  }

  test("collect() only in the documented bounded-collect files") {
    val offenders = scalaFiles.filter { p =>
      val rel = mainRoot.relativize(p).toString
      !collectAllowlist(rel) &&
        Files.readString(p).contains(".collect()")
    }
    assert(offenders.isEmpty,
      s"undocumented .collect() in: ${offenders.map(mainRoot.relativize)}")
  }

  test("global orders only through operators/GlobalOrder.scala") {
    val recipe = ("spark_partition_id\\s*\\(|" +
      "(partitionBy|orderBy)\\s*\\(\\s*col\\s*\\(\\s*\"_pid\"").r
    val offenders = scalaFiles.filter { p =>
      mainRoot.relativize(p).toString != "operators/GlobalOrder.scala" &&
        Files.readString(p).linesIterator.exists(l =>
          !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
            recipe.findFirstIn(l).nonEmpty)
    }.map(mainRoot.relativize(_).toString)
    assert(offenders.isEmpty,
      s"hand copy of the global-order recipe in: $offenders")
  }

  test("SparkSession.builder only in core/GraftSession.scala") {
    val offenders = scalaFiles.filter { p =>
      Files.readString(p).linesIterator.exists(l =>
        !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          l.matches(".*(SparkSession\\s*\\.\\s*builder\\b|\\.builder\\s*\\(\\s*\\)).*"))
    }.map(mainRoot.relativize(_).toString)
    assert(offenders == Seq("core/GraftSession.scala"),
      s"SparkSession built outside the factory: $offenders")
  }

  test("multiLine JSON reader only in pipeline/FormatWeather.scala") {
    val offenders = scalaFiles.filter { p =>
      Files.readString(p).linesIterator.exists(l =>
        !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          l.matches("(?i).*\"multiline\".*"))
    }.map(mainRoot.relativize(_).toString)
    assert(offenders == Seq("pipeline/FormatWeather.scala"),
      s"multiLine JSON reader outside FormatWeather: $offenders")
  }

  test("no catch of Throwable in main source") {
    val offenders = scalaFiles.filter { p =>
      Files.readString(p).linesIterator.exists(l =>
        !l.trim.startsWith("*") && !l.trim.startsWith("//") &&
          l.matches(".*\\bcase\\s+\\w+\\s*:\\s*Throwable\\b.*"))
    }.map(mainRoot.relativize(_).toString)
    assert(offenders.isEmpty, s"case _: Throwable in: $offenders")
  }

  test("every pipeline/ parquet read names its schema") {
    // from each `.read` to the `.parquet(` that ends its chain
    val read = "(?s)\\.read\\b((?:(?!\\.(?:read|write)\\b).)*?)\\.parquet\\s*\\(".r
    val reads = scalaFiles.filter(mainRoot.relativize(_).startsWith("pipeline")).flatMap { p =>
      val code = Files.readString(p).linesIterator
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("//")).mkString("\n")
      read.findAllMatchIn(code).map(m => (mainRoot.relativize(p).toString, m.group(0)))
    }
    assert(reads.nonEmpty, "no parquet read found in pipeline/")
    val offenders = reads.filterNot(_._2.contains(".schema("))
    assert(offenders.isEmpty, s"schema-inferring parquet reads: $offenders")
  }

  /** Rules 7 and 9 read one typer run over the product: `src/main`'s
    * graft sources as nodes, the rest of `src/main/scala` and
    * `perfbench/src` as roots. A typer error or a thin graph fails
    * here, so a classpath drift cannot turn the rules into no-ops.
    */
  private lazy val typed: TypedSource.Facts = {
    def sources(root: String, name: java.nio.file.Path => String) =
      scalaFilesUnder(Paths.get(root)).map(p => source(name(p), Files.readString(p)))
    val f = TypedSource(sources("src/main/scala/graft", mainRoot.relativize(_).toString),
      sources("src/main/scala/org", _.toString) ++ sources("perfbench/src", _.toString))
    assert(f.errors.isEmpty, s"the typer failed on the product sources: ${f.errors.take(5)}")
    assert(f.methods > 1000, s"the typer found only ${f.methods} graft methods")
    f
  }

  private def source(name: String, text: String) =
    new BatchSourceFile(new VirtualFile(name), text.toCharArray)

  // Rule 7's roots besides the root sources and every `main`: the
  // declared query maps, and the session factory perfbench reaches
  // by reflection. Overriders of library methods in reached classes
  // are edges of the graph; an allowlisted def is a root as well.
  private val declaredRoots =
    Set(("SparkEntry", "queries"), ("SparkEntry", "oracleSql"), ("Bench", "buildSession"))

  private def reached(f: TypedSource.Facts, from: Iterable[Int]): Set[Int] = {
    val seen = mutable.Set.from(from)
    val todo = mutable.Stack.from(from)
    while (todo.nonEmpty)
      f.edges.getOrElse(todo.pop(), Set.empty[Int]).foreach(n => if (seen.add(n)) todo.push(n))
    seen.toSet
  }

  /** Checked defs no root reaches, as "file: Owner.name", and the
    * allowlisted (file, name) entries that name no such def.
    */
  private def unreached(f: TypedSource.Facts,
      allow: Set[(String, String)]): (Seq[String], Set[(String, String)]) = {
    val ms = f.members.zipWithIndex
    val roots = ms.collect {
      case (m, i) if m.name == "main" || declaredRoots((m.owner, m.name)) => i
    }
    val live = reached(f, roots :+ TypedSource.Roots)
    val kept = reached(f, live ++ ms.collect { case (m, i) if allow((m.file, m.name)) => i })
    val offenders = ms.collect {
      case (m, i) if m.checked && !kept(i) && !allow((m.file, m.name)) =>
        s"${m.file}: ${m.owner}.${m.name}"
    }.distinct
    (offenders, allow -- ms.collect { case (m, i) if m.checked && !live(i) => (m.file, m.name) })
  }

  test("every public def is called outside specs") {
    val checked = typed.members.count(_.checked)
    assert(checked > 500, s"only $checked public defs found")
    info(s"${typed.methods} graft methods; $checked public defs checked")
    val (offenders, stale) = unreached(typed, specOnlyAllowlist)
    assert(offenders.isEmpty, s"public defs no product root reaches: $offenders")
    assert(stale.isEmpty, s"allowlisted defs that are gone or reached from a root: $stale")
  }

  // (file, def, parameter) defaults no product call passes, kept on
  // purpose, each with its reason
  private val unpassedDefaultAllowlist = Set(
    // deployment settings of the HTTP client: every product call runs
    // on the defaults, a deployment changes them
    ("sources/HttpSources.scala", "post", "timeoutSec"),
    ("sources/HttpSources.scala", "postForm", "headers"),
    ("sources/HttpSources.scala", "postForm", "timeoutSec"),
    ("sources/HttpSources.scala", "put", "headers"),
    ("sources/HttpSources.scala", "put", "timeoutSec"))

  // Defaults that only specs override to build a scenario (a small
  // graph that must leave the broadcast regime, a plan bar no plan
  // meets). Each waits on its specs being rewritten onto product
  // values (ROADMAP direction 6).
  private val specScenarioAllowlist = Set(
    ("operators/SemanticDedup.scala", "semanticDedup", "salt"),
    ("operators/SemanticDedup.scala", "thresholdSelect", "thresholds"),
    ("operators/SemanticDedup.scala", "thresholdSelect", "salt"),
    ("operators/SemanticDedup.scala", "thresholdSelect", "maxRemovalMicro"),
    ("operators/SemanticDedup.scala", "semanticDedupAtCommitted", "thresholds"),
    ("operators/SemanticDedup.scala", "semanticDedupAtCommitted", "salt"),
    ("operators/SemanticDedup.scala", "semanticDedupAtCommitted", "maxRemovalMicro"),
    ("operators/ProductQuantization.scala", "ivfAdcRecall", "nlist"),
    ("operators/ProductQuantization.scala", "ivfAdcResidualRecall", "nlist"),
    ("operators/ProductQuantization.scala", "ivfAdcResidualNprobeSelect", "nlist"),
    ("operators/ProductQuantization.scala", "ivfAdcResidualNprobeSelect", "minRecallMicro"),
    ("operators/ProductQuantization.scala", "adcTopK", "maxAdcQueries"),
    ("operators/RandomWalks.scala", "walks", "salt"),
    ("operators/PortableMinHash.scala", "bandPlanSelect", "minCatch"),
    ("operators/PageRank.scala", "microPageRank", "broadcastThreshold"),
    ("operators/PageRank.scala", "microPersonalizedPageRank", "broadcastThreshold"),
    ("operators/Ranks.scala", "kendallTauB", "maxGridCells"),
    ("operators/Sampling.scala", "budgetByScore", "maxScoreBins"),
    ("operators/Sampling.scala", "topFractionByScore", "maxScoreBins"),
    ("operators/Dedup.scala", "duplicateClusters", "maxIter"),
    ("operators/LanguageModel.scala", "knBigramProbs", "discount"),
    ("operators/LanguageModel.scala", "worstWindowCutCalibration", "margins"))

  /** (file, def, parameter) of each default no product call passes:
    * a call that leaves parameter N to its default evaluates the
    * getter `def$default$N`, a call that passes it does not.
    */
  private def unpassed(f: TypedSource.Facts): Set[(String, String, String)] = {
    val passed = f.calls
      .flatMap(c => (1 to c.covered).filterNot(c.omitted).map(c.method -> _)).toSet
    f.defaults.filterNot(d => passed((d.method, d.index)))
      .map(d => (f.members(d.method).file, f.members(d.method).name, d.param)).toSet
  }

  // Rule 9's population: defaults of the defs outside queries/ and
  // SparkEntry.scala, `override`s and implicit lists aside.
  test("every parameter default is passed by some product call") {
    def inScope(file: String) = !file.startsWith("queries/") && file != "SparkEntry.scala"
    val defaults = typed.defaults.filter(d => inScope(typed.members(d.method).file))
    assert(defaults.size > 100, s"only ${defaults.size} parameter defaults found")
    val unpassedNow = unpassed(typed).filter(k => inScope(k._1))
    info(s"${defaults.size} parameter defaults; ${unpassedNow.size} passed by no product call")
    val offenders = unpassedNow.filterNot(k =>
      unpassedDefaultAllowlist(k) || specScenarioAllowlist(k))
    assert(offenders.isEmpty, s"parameter defaults no product call passes: $offenders")
    val stale = (unpassedDefaultAllowlist ++ specScenarioAllowlist) -- unpassedNow
    assert(stale.isEmpty, s"allowlisted defaults that are gone or passed: $stale")
  }

  // The ObjectNode.put calls of sources/Kibana.scala once read as
  // calls of Http.put: here, typed through the same code path, a
  // library `put` is no call of a graft `put`.
  test("rules 7 and 9 tell a library put from Http.put") {
    val planted = """package graft.planted
      |object Http {
      |  def put(url: String, body: String, headers: Map[String, String] = Map.empty,
      |      timeoutSec: Long = 30L): String = url + body
      |}
      |object Kibana {
      |  def main(args: Array[String]): Unit = provision()
      |  def provision(): String = {
      |    val node = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
      |    node.put("title", "flights")
      |    node.put("timeFieldName", "extracted_at")
      |    Http.put("http://kibana/api", node.toString, headers = Map("kbn-xsrf" -> "true"))
      |  }
      |  def put(key: String, value: String = ""): String = key + value
      |}
      |""".stripMargin
    val f = TypedSource(Seq(source("Planted.scala", planted)), Nil)
    assert(f.errors.isEmpty, f.errors)
    assert(unreached(f, Set.empty)._1 == Seq("Planted.scala: Kibana.put"))
    assert(unpassed(f) == Set(("Planted.scala", "put", "timeoutSec"),
      ("Planted.scala", "put", "value")))
  }

  test("no scaladoc block directly followed by another") {
    val offenders = scalaFiles.flatMap { p =>
      Files.readString(p).split("\n", -1).toSeq.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"${mainRoot.relativize(p)}:${i + 1}"
      }
    }
    assert(offenders.isEmpty, s"detached scaladoc (block documents nothing) at: $offenders")
  }

  // perfbench times graft.Bench's session by reflecting on this exact
  // method and silently falls back to another factory if it is gone.
  // Checked on the class file only: calling it would getOrCreate and
  // reconfigure the shared TestSpark session.
  test("Bench still declares buildSession(String): SparkSession") {
    val m = Class.forName("graft.Bench$").getDeclaredMethod("buildSession", classOf[String])
    assert(m.getReturnType == classOf[org.apache.spark.sql.SparkSession])
  }
}
