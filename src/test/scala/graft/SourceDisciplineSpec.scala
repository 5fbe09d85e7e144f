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
  *     or goes with its spec. A name several objects declare counts
  *     per object, so a live namesake keeps no dead def alive.
  *  8. No detached scaladoc: a doc block whose closing line is
  *     followed directly by the opening of another documents nothing.
  *  9. No parameter default that no product call passes: a default
  *     nothing overrides is a constant in disguise, and one only specs
  *     override is a mode the product never runs.
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

  /** Product source (src/main and perfbench/src) with comments and
    * string text blanked, as one text per file, plus the name-level
    * facts rules 7 and 9 share.
    *
    * A member is a def at two-space indent, i.e. a member of a
    * top-level object, class or trait (nested and local defs are out
    * of reach), owned by the nearest top-level declaration above it.
    * A name declared by members of more than one top-level type
    * resolves per type: `X.name` refers to X's member; a bare `name`
    * refers to the member of the type it appears in, or of a type its
    * file imports members of; `expr.name` on any other receiver
    * refers to the class and trait members of that name. A name
    * declared by one type resolves to it wherever the word appears.
    */
  private object Product {
    val files: Seq[(java.nio.file.Path, String)] =
      (scalaFilesUnder(Paths.get("src/main/scala")) ++
        scalaFilesUnder(Paths.get("perfbench/src")))
        .map(p => p -> codeLines(p).mkString("\n"))

    /** A top-level member def: `owner` is its type, `offset` is where
      * its name starts in the blanked text, `mods` its modifiers.
      */
    case class Member(path: java.nio.file.Path, owner: String, kind: String,
        name: String, mods: String, line: Int, offset: Int) {
      def file: String = mainRoot.relativize(path).toString
      def isPublic: Boolean = !mods.matches(".*\\b(private|protected)\\b.*")
    }

    private val memberDecl = ("(?m)^  ((?:(?:final|implicit|override|private|protected|@\\w+)" +
      "(?:\\[\\w+\\])?\\s+)*)def\\s+([A-Za-z_]\\w*)").r
    private val typeDecl = ("(?m)^(?:(?:private|final|sealed|abstract|case|implicit)" +
      "(?:\\[\\w+\\])?\\s+)*(object|class|trait)\\s+(\\w+)").r
    // types whose members a file imports (`import a.X._`, `a.X.{..}`, `a.X.m`)
    private val importLine = "(?m)^\\s*import\\s+([\\w.]+)\\.(?:_|\\{[^}]*\\}|\\w+)\\s*$".r
    private val word = "\\w+".r

    /** Offset → 0-based line of `text`. */
    private def lineIndex(text: String): Int => Int = {
      val newlines = text.indices.filter(text.charAt(_) == '\n').toArray
      off => { val i = java.util.Arrays.binarySearch(newlines, off); if (i >= 0) i else -i - 1 }
    }

    /** (start offset, kind, name) of every top-level type in a file. */
    private def types(text: String): Seq[(Int, String, String)] =
      typeDecl.findAllMatchIn(text).map(m => (m.start, m.group(1), m.group(2))).toSeq

    val members: Seq[Member] = files.filter(_._1.startsWith(mainRoot)).flatMap { case (p, t) =>
      val ts = types(t)
      val lineOf = lineIndex(t)
      memberDecl.findAllMatchIn(t).map { m =>
        val (_, kind, owner) = ts.takeWhile(_._1 < m.start).lastOption.getOrElse((0, "object", "?"))
        Member(p, owner, kind, m.group(2), m.group(1), lineOf(m.start), m.start(2))
      }.toSeq
    }

    private val ownersOf: Map[String, Set[String]] =
      members.groupBy(_.name).view.mapValues(_.map(_.owner).toSet).toMap
    private val kindOf: Map[String, String] = members.map(m => m.owner -> m.kind).toMap

    /** A word naming a member: where it starts, its line, whether it
      * is the name of a `def` being declared, and the owners it refers
      * to.
      */
    case class Ref(offset: Int, line: Int, name: String, isDecl: Boolean,
        owners: Set[String])

    /** Every word of `text` that names a member, resolved. */
    def refs(text: String): Seq[Ref] = {
      val ts = types(text)
      val imported = importLine.findAllMatchIn(text).map(_.group(1).split('.').last).toSet
      val lineOf = lineIndex(text)
      def wordEndingAt(end: Int): String = {
        var j = end - 1
        while (j >= 0 && (text.charAt(j).isLetterOrDigit || text.charAt(j) == '_')) j -= 1
        text.substring(j + 1, end)
      }
      def skipSpaceBack(i: Int): Int = {
        var j = i
        while (j >= 0 && text.charAt(j).isWhitespace) j -= 1
        j
      }
      word.findAllMatchIn(text).filter(m => ownersOf.contains(m.matched)).map { m =>
        val owners = ownersOf(m.matched)
        val i = skipSpaceBack(m.start - 1)
        val dotted = i >= 0 && text.charAt(i) == '.'
        val resolved =
          if (owners.size <= 1) owners
          else if (dotted) {
            val receiver = wordEndingAt(skipSpaceBack(i - 1) + 1)
            if (owners(receiver)) Set(receiver)
            else owners.filter(o => kindOf.get(o).exists(_ != "object"))
          } else {
            val here = ts.takeWhile(_._1 < m.start).lastOption.map(_._3).getOrElse("")
            owners.filter(o => o == here || imported(o))
          }
        Ref(m.start, lineOf(m.start), m.matched,
          !dotted && wordEndingAt(i + 1) == "def", resolved)
      }.toVector
    }
  }

  // A NAME heuristic, not a call graph, over Product's blanked source.
  // A member's BODY runs from its `def` line to the next line indented
  // two spaces or less — usually the next member, but a two-space
  // continuation ends it early and it spans anything nested. A member
  // is live when a word resolving to it (Product.refs) appears
  // outside every body (a `val`, an object or class body,
  // perfbench/src) or inside the body of a live or allowlisted member;
  // iterating to a fixpoint makes a helper that only spec-only defs
  // call spec-only too. An `override def` is called by its framework,
  // so its body is a root, and `main` and `apply` are called without
  // their names (by the JVM, by `X(...)`), so they are not checked. A
  // same-named local still keeps a dead def alive.
  test("every public def is called outside specs") {
    import Product._
    val checked = members.filter(m => m.isPublic && !m.mods.contains("override") &&
      m.name != "main" && m.name != "apply")
    assert(checked.size > 500, s"only ${checked.size} public defs found")
    val bodyOwners = members.filterNot(_.mods.contains("override"))
      .map(m => (m.path, m.line) -> m).toMap
    val memberLine = "^ {0,2}\\S.*"
    // per word resolving to a member: the member whose body holds it
    // (None = root) and the (owner, name) keys it refers to
    val uses: Seq[(Option[Member], Set[(String, String)])] = files.flatMap { case (p, t) =>
      val lines = t.split("\n", -1)
      val inMain = p.startsWith(mainRoot)
      var body: Option[Member] = None
      val bodyAt = lines.indices.map { i =>
        bodyOwners.get((p, i)) match {
          case Some(m) if inMain => body = Some(m)
          case _ if lines(i).matches(memberLine) => body = None
          case _ =>
        }
        body
      }
      refs(t).map(r => (bodyAt(r.line), r.owners.map(_ -> r.name)))
    }
    def allowed(m: Member) = specOnlyAllowlist((m.file, m.name))
    var live = Set.empty[(String, String)]
    var grew = true
    while (grew) {
      val next = uses.collect {
        case (o, ks) if o.forall(m => live((m.owner, m.name)) || allowed(m)) => ks
      }.flatten.toSet
      grew = next.size > live.size
      live = next
    }
    val offenders = checked.filterNot(m => live((m.owner, m.name)) || allowed(m))
      .map(m => s"${m.file}: ${m.owner}.${m.name}").distinct
    assert(offenders.isEmpty, s"public defs no product code calls: $offenders")
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
  // meets, a stream trigger a test can wait on). Each waits on its
  // specs being rewritten onto product values (ROADMAP direction 6).
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
    ("operators/LanguageModel.scala", "worstWindowCutCalibration", "margins"),
    ("streaming/FlightStream.scala", "start", "trigger"))

  /** Top-level (depth-0) comma-separated parts of `s`; none if blank. */
  private def topLevelParts(s: String): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer(new StringBuilder)
    var depth = 0
    s.foreach { c =>
      if ("([{".indexOf(c) >= 0) depth += 1
      else if (")]}".indexOf(c) >= 0) depth -= 1
      if (c == ',' && depth == 0) parts += new StringBuilder else parts.last += c
    }
    if (parts.size == 1 && parts.head.toString.trim.isEmpty) Nil else parts.map(_.toString).toSeq
  }

  /** Index just past the bracket group that opens at `i`. */
  private def closeOf(s: String, i: Int): Int = {
    var depth = 0
    var j = i
    do {
      if ("([{".indexOf(s.charAt(j)) >= 0) depth += 1
      else if (")]}".indexOf(s.charAt(j)) >= 0) depth -= 1
      j += 1
    } while (depth > 0 && j < s.length)
    j
  }

  // The parameter lists of a declaration or the argument lists of a
  // call starting at `from`: an optional `[...]`, then each `(...)` or
  // `{...}` group (a block is one argument). `gap` is what may sit
  // between groups.
  private def bracketLists(s: String, from: Int, gap: Char => Boolean): Seq[Seq[String]] = {
    def skip(i: Int): Int = { var j = i; while (j < s.length && gap(s.charAt(j))) j += 1; j }
    var i = skip(from)
    if (i < s.length && s.charAt(i) == '[') i = skip(closeOf(s, i))
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    while (i < s.length && (s.charAt(i) == '(' || s.charAt(i) == '{')) {
      val end = closeOf(s, i)
      out += (if (s.charAt(i) == '{') Seq("{}") else topLevelParts(s.substring(i + 1, end - 1)))
      i = skip(end)
    }
    out.toSeq
  }

  // Rule 9. A default-valued parameter of a member (Product.members)
  // outside queries/ and SparkEntry.scala, `override`s and implicit
  // lists aside, is PASSED by a call when the call's list at the
  // parameter's position has more positional arguments than the
  // parameter's index, names it (`p = ...`), or splats (`: _*`).
  // Calls are words resolving to the member (Product.refs) followed
  // by argument lists on the same line, in src/main and perfbench/src
  // only: a default only specs set is a mode the product never runs.
  test("every parameter default is passed by some product call") {
    import Product._
    val named = "(?s)\\s*(\\w+)\\s*=(?![=>]).*".r
    val isDefault = "(?s)[^=]*[^=!<>]=(?![=>]).*"
    val checked = members.filter { m =>
      !m.file.startsWith("queries/") && m.file != "SparkEntry.scala" &&
        !m.mods.contains("override")
    }
    val text = files.toMap
    // (member, list index, parameter index, parameter name)
    val defaults = checked.flatMap { m =>
      val lists = bracketLists(text(m.path), m.offset + m.name.length, _.isWhitespace)
      lists.zipWithIndex.filterNot(_._1.headOption.exists(_.trim.startsWith("implicit")))
        .flatMap { case (ps, li) =>
          ps.zipWithIndex.collect {
            case (p, pi) if p.matches(isDefault) => (m, li, pi, p.trim.takeWhile(_ != ':').trim)
          }
        }
    }
    assert(defaults.size > 100, s"only ${defaults.size} parameter defaults found")
    // (owner, name) -> argument lists of every product call
    val calls: Map[(String, String), Seq[Seq[Seq[String]]]] = files.flatMap { case (_, t) =>
      refs(t).filterNot(_.isDecl).flatMap { r =>
        val args = bracketLists(t, r.offset + r.name.length, c => c == ' ' || c == '\t')
        r.owners.map(o => (o, r.name) -> args)
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val unpassed = defaults.filterNot { case (m, li, pi, p) =>
      calls.getOrElse((m.owner, m.name), Nil).exists { lists =>
        lists.lift(li).exists { args =>
          val (byName, positional) = args.partition(_.matches(named.regex))
          positional.size > pi || positional.exists(_.trim.endsWith("_*")) ||
            byName.exists { case named(n) => n == p }
        }
      }
    }.map { case (m, _, _, p) => (m.file, m.name, p) }.distinct
    info(s"${defaults.size} parameter defaults; ${unpassed.size} passed by no product call")
    val offenders = unpassed.filterNot(k =>
      unpassedDefaultAllowlist(k) || specScenarioAllowlist(k))
    assert(offenders.isEmpty, s"parameter defaults no product call passes: $offenders")
    val stale = (unpassedDefaultAllowlist ++ specScenarioAllowlist) -- unpassed
    assert(stale.isEmpty, s"allowlisted defaults that are gone or passed: $stale")
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
