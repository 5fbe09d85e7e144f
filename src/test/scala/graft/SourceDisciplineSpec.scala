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
  *  7. No spec-only public defs: a helper that only specs reach —
  *     directly, or through other spec-only defs — is checked by
  *     nothing the product runs, so it either gets a product caller
  *     or goes with its spec.
  *  8. No detached scaladoc: a doc block whose closing line is
  *     followed directly by the opening of another documents nothing.
  */
class SourceDisciplineSpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala/graft")

  private def scalaFiles: Seq[java.nio.file.Path] = scalaFilesUnder(mainRoot)

  private def scalaFilesUnder(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq

  /** Source lines with comments and string-literal text blanked, line
    * structure kept: a name in a comment, a column string or oracle
    * SQL is no use of a def. Scans `//` and nested block comments,
    * plain and triple-quoted strings and char literals; the splices
    * of an interpolated string (`$x`, `${...}`) stay code.
    */
  private def codeLines(p: java.nio.file.Path): Seq[String] = {
    val s = Files.readString(p)
    val n = s.length
    val out = new StringBuilder(n)
    def at(k: Int): Char = if (k < n) s.charAt(k) else '\u0000'
    def isWord(c: Char) = c.isLetterOrDigit || c == '_'
    // blank `len` chars from i (newlines kept) and return the next index
    def blank(i: Int, len: Int): Int = {
      s.substring(i, math.min(i + len, n)).foreach(c => out += (if (c == '\n') c else ' '))
      i + len
    }
    def copy(i: Int): Int = { out += s.charAt(i); i + 1 }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '/' && at(i + 1) == '/') {
        val end = s.indexOf('\n', i)
        i = blank(i, (if (end < 0) n else end) - i)
      } else if (c == '/' && at(i + 1) == '*') {
        var depth = 0
        do {
          if (at(i) == '/' && at(i + 1) == '*') { depth += 1; i = blank(i, 2) }
          else if (at(i) == '*' && at(i + 1) == '/') { depth -= 1; i = blank(i, 2) }
          else i = blank(i, 1)
        } while (depth > 0 && i < n)
      } else if (c == '\'' && at(i + 1) == '\\') {
        i = blank(i, s.indexOf('\'', i + 3) + 1 - i) // '\n', '\u0041'
      } else if (c == '\'' && at(i + 2) == '\'') {
        i = blank(i, 3) // 'x', '"'
      } else if (c == '"') {
        val interp = i > 0 && isWord(s.charAt(i - 1))
        val triple = s.startsWith("\"\"\"", i)
        i = blank(i, if (triple) 3 else 1)
        var open = true
        while (open && i < n) {
          val d = s.charAt(i)
          if (triple && s.startsWith("\"\"\"", i)) {
            // a run of more than three quotes closes on its last three
            while (at(i + 3) == '"') i = blank(i, 1)
            i = blank(i, 3); open = false
          } else if (!triple && d == '"') { i = blank(i, 1); open = false }
          else if (!triple && d == '\\') i = blank(i, 2)
          else if (interp && d == '$' && at(i + 1) == '{') {
            i = blank(i, 1)
            var depth = 0
            do {
              if (s.charAt(i) == '{') depth += 1
              else if (s.charAt(i) == '}') depth -= 1
              i = copy(i)
            } while (depth > 0 && i < n)
          } else if (interp && d == '$' && isWord(at(i + 1))) {
            i = blank(i, 1)
            while (i < n && isWord(s.charAt(i))) i = copy(i)
          } else if (interp && d == '$') i = blank(i, 2) // `$$`
          else i = blank(i, 1)
        }
      } else i = copy(i)
    }
    out.toString.split("\n", -1).toSeq
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
    ("lake/DocumentSink.scala", "report"))

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

  // A NAME heuristic, not a call graph. Names are words of code in
  // src/main and perfbench/src with comments and string text blanked
  // (codeLines). A def's BODY runs from its `def` line to the next
  // line indented two spaces or less — usually the next member, but a
  // two-space continuation ends it early and it spans anything nested.
  // A name is live when it appears outside every body (a `val`, an
  // object or class body, perfbench/src) or inside the body of a live
  // or allowlisted def; iterating to a fixpoint makes a helper that
  // only spec-only defs call spec-only too. A same-named local or
  // overload still keeps a dead def alive. Only members of top-level
  // objects, classes and traits (two-space indent) are checked;
  // nested and local defs are out of its reach.
  test("every public def is called outside specs") {
    val decl = "^  (?:(?:final|implicit|@\\w+)\\s+)*def\\s+([A-Za-z_]\\w*).*".r
    // every body owner, private ones too (so liveness passes through
    // them); an `override def` is called by its framework, so its body
    // stays a root
    val owner = ("^  (?:(?:final|implicit|private|protected|@\\w+)(?:\\[\\w+\\])?\\s+)*" +
      "def\\s+([A-Za-z_]\\w*).*").r
    val member = "^ {0,2}\\S.*"
    val corpus = (scalaFilesUnder(Paths.get("src/main/scala")) ++
      scalaFilesUnder(Paths.get("perfbench/src"))).map(p => p -> codeLines(p))
    val defs = corpus.filter(_._1.startsWith(mainRoot)).flatMap { case (p, ls) =>
      ls.zipWithIndex.collect { case (decl(name), i) => (p, i, name) }
    }
    assert(defs.size > 500, s"only ${defs.size} public defs found")
    // a word-bounded match of a name is a whole run of word characters
    val words = "\\w+".r
    // per line: the (file, def) whose body holds it (None = root), its words
    val owned: Seq[(Option[(String, String)], Seq[String])] = corpus.flatMap { case (p, ls) =>
      val inMain = p.startsWith(mainRoot)
      var body: Option[(String, String)] = None
      ls.map { l =>
        l match {
          case owner(name) if inMain => body = Some((mainRoot.relativize(p).toString, name))
          case _ if l.matches(member) => body = None
          case _ =>
        }
        (body, words.findAllIn(l).toSeq)
      }
    }
    var live = Set.empty[String]
    var grew = true
    while (grew) {
      val next = owned.collect {
        case (o, ws) if o.forall { case (f, n) => live(n) || specOnlyAllowlist((f, n)) } => ws
      }.flatten.toSet
      grew = next.size > live.size
      live = next
    }
    val offenders = defs.collect {
      case (p, _, name) if !live(name) => (mainRoot.relativize(p).toString, name)
    }.distinct.filterNot(specOnlyAllowlist)
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
