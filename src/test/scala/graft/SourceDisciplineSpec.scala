package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

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
  *  7. No spec-only public defs: a helper that only specs reach is
  *     checked by nothing the product runs, so it either gets a
  *     product caller or goes with its spec.
  *  8. No detached scaladoc: a doc block whose closing line is
  *     followed directly by the opening of another documents nothing.
  */
class SourceDisciplineSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles: Seq[java.nio.file.Path] = scalaFilesUnder(mainRoot)

  private def scalaFilesUnder(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  /** Source lines with comments blanked: scaladoc and `//` lines,
    * inline block comments and trailing `//` comments (the trailing
    * form only after whitespace, so `http://` in a string survives).
    */
  private def codeLines(p: java.nio.file.Path): Seq[String] =
    Files.readString(p).split("\n", -1).toSeq.map { l =>
      val t = l.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else l.replaceAll("/\\*.*?\\*/", "").replaceAll("(^|\\s)//.*$", "")
    }

  // Public defs that only specs drive, kept on purpose: (file, name).
  private val specOnlyAllowlist = Set(
    // the flagship-query entry point that outside callers invoke
    ("SparkEntry.scala", "entry"),
    // paper components kept as the reproduction (ROADMAP direction 6):
    // S11 Kibana provisioning, the ES index bootstrap, Orchestrator's
    // Airflow-parity run policy and the bulk sink's delivery report
    ("sources/Kibana.scala", "dashboardNdjson"),
    ("sources/Kibana.scala", "nextPokeAt"),
    ("sources/Kibana.scala", "maxPokes"),
    ("sources/Kibana.scala", "waitForIndexData"),
    ("sources/Kibana.scala", "provision"),
    ("lake/EsIndexBootstrap.scala", "flightMappingJson"),
    ("pipeline/Orchestrator.scala", "runSerialized"),
    ("lake/DocumentSink.scala", "report"),
    // xxhash fast paths whose portable twins the declared queries run;
    // deleting them cascades into kernels and needs a measured decision
    ("operators/Dedup.scala", "minHashNearDupPairs"),
    ("operators/Dedup.scala", "simHashNearDupPairs"),
    ("operators/Dedup.scala", "embeddingNearDupPairs"),
    // one direction of the general as-of join
    ("operators/AsOfJoin.scala", "forward"),
    // the cache-refresh hook of the corpus statistics cache
    ("core/CorpusStats.scala", "invalidate"))

  // files with documented bounded collects (see their scaladocs)
  private val collectAllowlist = Set(
    "operators/Experiments.scala",   // k-bounded assignment tables
    "operators/Ranks.scala",         // P-row partition-count offsets
    "operators/Sampling.scala",      // histogram/threshold/offset rows
    "operators/ProductQuantization.scala", // nlist-row coarse quantizer
    "operators/SemanticDedup.scala", // k-row sampled quantizer
    "operators/Similarity.scala",    // k-row sampled centroids
    "streaming/EventStreams.scala")  // 1-row min/max bounds

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

  // A NAME heuristic, not a call graph: a def passes when its name
  // appears as a word in non-comment code of src/main or perfbench/src
  // anywhere but its own declaration line, so a same-named local or
  // column string hides a dead def. Only members of top-level
  // objects, classes and traits (two-space indent) are checked;
  // nested and local defs are out of its reach.
  test("every public def is called outside specs") {
    val decl = "^  (?:(?:final|implicit|@\\w+)\\s+)*def\\s+([A-Za-z_]\\w*).*".r
    val corpus = (scalaFilesUnder(Paths.get("src/main/scala")) ++
      scalaFilesUnder(Paths.get("perfbench/src"))).map(p => p -> codeLines(p))
    val defs = corpus.filter(_._1.startsWith(mainRoot)).flatMap { case (p, ls) =>
      ls.zipWithIndex.collect { case (decl(name), i) => (p, i, name) }
    }
    assert(defs.size > 500, s"only ${defs.size} public defs found")
    // a word-bounded match of a name is a whole run of word characters
    val words = "\\w+".r
    def count(ls: Seq[String]) =
      ls.flatMap(words.findAllIn).groupMapReduce(identity)(_ => 1)(_ + _)
    val uses = count(corpus.flatMap(_._2))
    val linesOf = corpus.toMap
    val offenders = defs.filter { case (p, i, name) =>
      uses(name) == count(Seq(linesOf(p)(i)))(name)
    }.map { case (p, _, name) => (mainRoot.relativize(p).toString, name) }
      .filterNot(specOnlyAllowlist)
    assert(offenders.isEmpty, s"public defs no product code calls: $offenders")
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
