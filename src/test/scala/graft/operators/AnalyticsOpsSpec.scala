package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PMI co-occurrence: presence semantics, threshold pruning, exact ratio. */
class CooccurrenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("counts docs not occurrences; thresholds prune; ratio is exact") {
    // 4 docs; "a" and "b" co-occur in 2, "a" appears 3x in doc 1 (counted once)
    val docs = Seq(
      (1L, Seq("a", "a", "a", "b")),
      (2L, Seq("a", "b", "c")),
      (3L, Seq("a", "c")),
      (4L, Seq("d"))
    ).toDF("doc_id", "toks")
    // dfTimes=2: keep df*2 >= 4 i.e. df >= 2 -> a(3), b(2), c(2); d(1) pruned
    // pairTimes=2: keep c_ab*2 >= 4 i.e. c_ab >= 2 -> only (a,b) and (a,c)
    val got = Cooccurrence.pmiPairs(docs, "doc_id", "toks",
        dfTimes = 2, pairTimes = 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      ("a", "b", 2L, 3L, 2L, 2.0 * 4 / (3.0 * 2)),
      ("a", "c", 2L, 3L, 2L, 2.0 * 4 / (3.0 * 2))))
  }
}

/** Exact discrete quantiles: k-th sorted value, tie-stable. */
class QuantilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("picks actual members at ceil(p*n/100); duplicates cannot perturb") {
    val df = (1 to 10).map(i => ("g", i.toDouble)) ++
      Seq.fill(4)(("h", 7.0)) // all-equal group
    val got = Quantiles.groupDiscrete(df.toDF("g", "v"), "g", "v",
        Seq(25, 50, 75, 100))
      .as[(String, Long, Double, Double, Double, Double)].collect().toSet
    // g: n=10 -> positions ceil(2.5)=3, 5, ceil(7.5)=8, 10
    assert(got == Set(
      ("g", 10L, 3.0, 5.0, 8.0, 10.0),
      ("h", 4L, 7.0, 7.0, 7.0, 7.0)))
  }
}

/** Skew profiler: exact Gini from the count histogram. */
class SkewProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("uniform keys gini 0; concentrated distribution matches hand Gini") {
    val uniform = (1 to 8).flatMap(k => Seq.fill(3)(k)).toDF("k")
    val u = SkewTools.keySkewProfile(uniform, "k")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(u == ((24L, 8L, 3L, 3.0 / 24, 0.0)))

    // counts 1,1,1,1,16: sorted ranks 1..5, S = 1+2+3+4+5*16 = 90
    // G = (2*90 - 6*20) / (5*20) = 60/100 = 0.6
    val skewed = (Seq.fill(16)(0) ++ (1 to 4)).toDF("k")
    val sk = SkewTools.keySkewProfile(skewed, "k")
      .as[(Long, Long, Long, Double, Double)].head()
    assert(sk == ((20L, 5L, 16L, 0.8, 0.6)))
  }
}

/** Median/MAD robust outliers: discrete selections, gate not dragged. */
class RobustOutliersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("median and MAD are members; only the far point flags") {
    // v = 1..9 plus a wild 1000: med = value at ceil(50*10/100)=5th = 5.0
    val df = ((1 to 9).map(_.toDouble) :+ 1000.0).map(("g", _)).toDF("g", "v")
    val got = Quantiles.robustOutliers(df, "g", "v", k = 3.0)
      .as[(String, Long, Double, Double, Long)].head()
    // devs from 5: 4,3,2,1,0,1,2,3,4,995 sorted -> 5th smallest = 2
    // gate 3*2=6: only dev=995 exceeds it
    assert(got == (("g", 10L, 5.0, 2.0, 1L)))
  }
}

/** Chi-square contingency: integer marginals, exact expected chain. */
class ContingencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cells carry observed, marginals, expected r*c/N and contribution") {
    val df = (Seq.fill(30)(("en", "web")) ++ Seq.fill(10)(("en", "book")) ++
      Seq.fill(10)(("fr", "web")) ++ Seq.fill(10)(("fr", "book")))
      .toDF("lang", "source")
    val got = Contingency.chiSquareCells(df, "lang", "source")
      .as[(String, String, Long, Long, Long, Long, Double, Double)]
      .collect().map(r => (r._1, r._2) -> r).toMap
    val (_, _, o, r, c, n, e, contrib) = got(("en", "web"))
    assert((o, r, c, n) == ((30L, 40L, 40L, 60L)))
    assert(e == 40.0 * 40.0 / 60.0)
    assert(contrib == math.rint((30 - e) * (30 - e) / e * 1e6) / 1e6 ||
      (contrib - (30 - e) * (30 - e) / e).abs < 1e-6)
  }

  test("NMI: perfect association scores exactly 1 (lattice cancels), " +
      "independence scores 0, constant side nulls") {
    def run(rows: Seq[(String, String)]) =
      Contingency.nmiPurity(rows.toDF("a", "b"), "a", "b").collect()(0)
    val perfect = run(Seq.fill(2)(("x", "x")) ++ Seq.fill(3)(("y", "y")))
    assert(perfect.getLong(0) === 5L && perfect.getLong(1) === 2L)
    assert(perfect.getDouble(5) === 1.0)  // I_lat == Ha_lat == Hb_lat
    assert(perfect.getDouble(6) === 1.0)  // purity
    val indep = run(Seq(("x", "u"), ("x", "v"), ("y", "u"), ("y", "v")))
    assert(indep.getDouble(2) === 0.0 && indep.getDouble(5) === 0.0)
    assert(indep.getDouble(6) === 0.5)
    val const = run(Seq(("x", "u"), ("x", "v")))
    assert(const.isNullAt(5))
  }
}

/** Per-key least-squares trend: exact moments, degenerate keys null. */
class LinearTrendSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("perfect line recovered exactly; single-day key yields nulls") {
    val ev = Seq(
      // y = 2x + 1 over days 0,1,2
      (1L, ts("2024-01-01 09:00:00"), 1.0),
      (1L, ts("2024-01-02 09:00:00"), 3.0),
      (1L, ts("2024-01-03 09:00:00"), 5.0),
      // all on one day: zero x-variance
      (2L, ts("2024-01-05 08:00:00"), 7.0),
      (2L, ts("2024-01-05 10:00:00"), 9.0)
    ).toDF("user_id", "ts", "value")
    val got = TimeSeries.linearTrend(ev, "user_id", "ts", "value")
      .as[(Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, Some(2.0), Some(1.0))))
    assert(got(2L) == ((2L, 2L, None, None)))
  }
}

/** Multi-source BFS as unit-weight shortest paths (q157's form): min
  * hop from any seed, bounded, delta frontier.
  */
class BfsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def hops(edges: DataFrame, seeds: Seq[Long], maxHops: Int) =
    ShortestPaths.bounded(edges.distinct().withColumn("w", lit(1L)),
        seeds.toDF("node"), maxHops)
      .as[(Long, Long)].collect().toMap

  test("min hop across seeds; unreachable and beyond-maxHops excluded") {
    // path 1-2-3-4-5 plus island 9; seeds 1 and 4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 9L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val got = hops(edges, Seq(1L, 4L), maxHops = 4)
    // 3 is 1 hop from 4 (not 2 from 1); island 9 unreachable
    assert(got == Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 1L, 5L -> 1L))
  }

  test("maxHops truncates a long path; early exit on exhausted frontier") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = hops(edges, Seq(1L), maxHops = 2)
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // directed chain fully explored before maxHops: loop must stop early
    val got2 = hops(edges, Seq(1L), maxHops = 30)
    assert(got2 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
  }
}

/** Transition matrix: (ts, id) total order, per-source probability. */
class SequencesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("counts consecutive pairs per key; ties broken by id") {
    // user 1: a->b->a  (order pinned by id at the tied timestamp)
    // user 2: a->b
    val ev = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 20L, 3L, "a"),
      (2L, 10L, 4L, "a"), (2L, 30L, 5L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Sequences.transitionCounts(
        ev, "user_id", "event_type", Seq($"ts", $"event_id"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got == Map(
      ("a", "b") -> ((2L, 1.0)),
      ("b", "a") -> ((1L, 1.0))))
  }

  test("probabilities normalize within each source state") {
    val ev = Seq(
      (1L, 1L, 1L, "x"), (1L, 2L, 2L, "y"),
      (1L, 3L, 3L, "x"), (1L, 4L, 4L, "z"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Sequences.transitionCounts(
        ev, "user_id", "event_type", Seq($"ts", $"event_id"))
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(got == Map(
      ("x", "y") -> 0.5, ("x", "z") -> 0.5, ("y", "x") -> 1.0))
  }
}

/** Bounded k-core peeling: fixed rounds, early exit, induced degree. */
class KCoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")

  test("triangle survives k=2, pendant peeled") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val got = KCore.coreMembers(edges, k = 2, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("path peels to empty via cascading rounds") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(KCore.coreMembers(edges, k = 2, rounds = 8).isEmpty)
  }

  test("bounded rounds stop mid-peel and report induced degrees") {
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    // one round keeps {2,3,4}; induced path 2-3-4 has end-degrees 1
    val got = KCore.coreMembers(edges, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
  }
}

/** Correlation matrix: exact decimal moments, pinned IEEE chain. */
class ProfilingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("perfect linear and anti-linear pairs hit ±1 up to one ulp") {
    // the exact moments are integers; the final IEEE chain may land
    // one ulp inside ±1 (e.g. 0.9999999999999998) — that's the
    // pinned-chain contract, not an error
    val df = Seq(
      (1.0, 2.0, 9.0), (2.0, 4.0, 8.0), (3.0, 6.0, 7.0), (4.0, 8.0, 6.0))
      .toDF("x", "y", "z")
    val got = Profiling.correlationMatrix(df, Seq("x", "y", "z"))
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(math.abs(got(("x", "y")) - 1.0) < 1e-15)
    assert(math.abs(got(("x", "z")) + 1.0) < 1e-15)
    assert(math.abs(got(("y", "z")) + 1.0) < 1e-15)
  }

  test("matches the hand-computed moment formula; null rows dropped") {
    val rows = Seq((1.0, 3.5), (2.0, 1.25), (3.0, 4.0), (4.0, 2.75))
    val df = (rows.map { case (a, b) => (Some(a), Some(b)) } :+
      ((None: Option[Double], Some(9.0)))).toDF("a", "b")
    val n = rows.size.toDouble
    val sa = rows.map(_._1).sum; val sb = rows.map(_._2).sum
    val qa = rows.map(r => r._1 * r._1).sum
    val qb = rows.map(r => r._2 * r._2).sum
    val p = rows.map(r => r._1 * r._2).sum
    val want = (n * p - sa * sb) /
      (math.sqrt(n * qa - sa * sa) * math.sqrt(n * qb - sb * sb))
    val got = Profiling.correlationMatrix(df, Seq("a", "b"))
      .as[(String, String, Double)].collect().head._3
    assert(got == want)
  }
}

/** Bounded Bellman-Ford: min-plus relaxation, round-bounded costs. */
class ShortestPathsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val edges = Seq(
    (1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L))
    .toDF("src", "dst", "w")
  private val seed = Seq(1L).toDF("node")

  private def run(rounds: Int) =
    ShortestPaths.bounded(edges, seed, rounds)
      .as[(Long, Long)].collect().toMap

  test("cheaper long path beats expensive direct edge") {
    assert(run(4) == Map(1L -> 0L, 3L -> 1L, 2L -> 2L, 4L -> 3L))
  }

  test("round bound caps the path length considered") {
    // ≤1 edge: only the direct (expensive) routes exist
    assert(run(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    // ≤2 edges: 2 improves via 1→3→2; 4 only via the expensive 1→2→4
    assert(run(2) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 11L))
  }
}

/** Snapshot diff: presence classes + null-safe per-column changes. */
class SnapshotDiffSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("classifies added/removed/changed; null==null is unchanged") {
    val oldSnap = Seq(
      (1L, "A", Some(10.0)), (2L, "B", Some(20.0)),
      (3L, "C", None), (5L, "E", None))
      .toDF("k", "status", "price")
    val newSnap = Seq(
      (2L, "B", Some(25.0)), (3L, "C", None),
      (4L, "D", Some(40.0)), (5L, "E", Some(5.0)))
      .toDF("k", "status", "price")
    val got = SnapshotDiff.diff(oldSnap, newSnap, "k",
        Seq("status", "price"))
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> (("removed", "")),
      4L -> (("added", "")),
      2L -> (("changed", "price")),
      5L -> (("changed", "price")))) // null → value IS a change
    // key 3 (identical incl. null price) must not appear at all
  }

  test("multi-column changes list columns in compare order") {
    val oldSnap = Seq((1L, "A", 1.0)).toDF("k", "status", "price")
    val newSnap = Seq((1L, "Z", 2.0)).toDF("k", "status", "price")
    val got = SnapshotDiff.diff(oldSnap, newSnap, "k",
        Seq("status", "price"))
      .as[(Long, String, String)].collect().head
    assert(got == ((1L, "changed", "status,price")))
  }
}

/** Winsorization: exact discrete band edges, comparison-only clip. */
class WinsorizeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("clips to the group's own P5/P95 members; interior untouched") {
    // group A: 1..20 → p5 = value at ceil(5*20/100)=1st → 1.0,
    // p95 = value at ceil(95*20/100)=19th → 19.0
    val a = (1 to 20).map(i => ("A", i.toLong, i.toDouble))
    // group B: 10 constant values → both edges = 7.0, all clip to 7
    val b = (1 to 10).map(i => ("B", 100L + i, 7.0))
    val df = (a ++ b).toDF("g", "id", "v")
    val got = Quantiles.winsorize(df, "g", Seq("id"), "v", 5, 95)
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._2 -> r._4).toMap
    assert(got(1L) == 1.0)    // at the lower edge, not below it
    assert(got(20L) == 19.0)  // capped to the P95 member
    assert(got(19L) == 19.0)  // interior value untouched
    assert(got(10L) == 10.0)
    assert((101L to 110L).forall(got(_) == 7.0))
  }
}

/** CUSUM: closed-form equals the serial fold; resets clamp at zero. */
class CusumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the hand-folded recursion; alarm at the threshold") {
    // k=2: d = [1, -1, -2, 3] → serial S = [1, 0, 0, 3]
    val ev = Seq(
      ("u", 1L, 10L, 3.0), ("u", 2L, 20L, 1.0),
      ("u", 3L, 30L, 0.0), ("u", 4L, 40L, 5.0))
      .toDF("user_id", "event_id", "ts", "value")
    val got = TimeSeries.cusum(ev, "user_id", "event_id", "ts",
        "value", BigDecimal("2.00"), BigDecimal("2.50"))
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((1.0, false)), 2L -> ((0.0, false)),
      3L -> ((0.0, false)), 4L -> ((3.0, true))))
  }

  test("keys evolve independently; ties broken by id") {
    val ev = Seq(
      ("a", 1L, 10L, 9.0), ("b", 2L, 10L, 1.0),
      ("a", 3L, 10L, 9.0)) // same ts as a's first: id orders them
      .toDF("user_id", "event_id", "ts", "value")
    val got = TimeSeries.cusum(ev, "user_id", "event_id", "ts",
        "value", BigDecimal("2.00"), BigDecimal("100.00"))
      .as[(String, Long, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == Map(
      ("a", 1L) -> 7.0, ("a", 3L) -> 14.0, ("b", 2L) -> 0.0))
  }
}

/** Interval concurrency: boundary deltas, compressed timeline. */
class IntervalsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("overlap counting with inclusive ends and touching intervals") {
    def d(n: Int) = java.sql.Date.valueOf(f"2024-01-$n%02d")
    val iv = Seq((d(1), d(3)), (d(2), d(2)), (d(5), d(5)))
      .toDF("sd", "ed")
    val got = Intervals.concurrencyTimeline(iv, "sd", "ed")
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got == Map(
      "2024-01-01" -> 1L, // first opens
      "2024-01-02" -> 2L, // second overlaps inside the first
      "2024-01-03" -> 1L, // second closed (inclusive end on the 2nd)
      "2024-01-04" -> 0L, // first closed
      "2024-01-05" -> 1L, // isolated single-day interval
      "2024-01-06" -> 0L))
  }
}

/** Ratio-to-report: decimal totals by broadcast, pinned divisions. */
class RatioToReportSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shares of group and grand total from exact decimal values") {
    val df = Seq((1L, "n1", "100.00"), (2L, "n1", "300.00"),
        (3L, "n2", "100.00"))
      .toDF("id", "grp", "v")
      .withColumn("v", col("v").cast("decimal(24,6)"))
    val got = Profiling.ratioToReport(df, "id", "grp", "v")
      .as[(Long, String, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(got == Map(
      1L -> ((100.0, 0.25, 0.2)),
      2L -> ((300.0, 0.75, 0.6)),
      3L -> ((100.0, 1.0, 0.2))))
  }
}

/** A/B readout: exact counts, pinned z chain, stable arm coin. */
class ExperimentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("two-proportion summary matches the hand-built chain") {
    val df = (Seq.fill(3)(("A", false)) ++ Seq(("A", true)) ++
      Seq.fill(2)(("B", false)) ++ Seq.fill(2)(("B", true)))
      .toDF("arm", "converted")
    val r = Experiments.twoProportions(df, "arm", "converted")
      .as[(Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().head
    assert((r._1, r._2, r._3, r._4) == ((4L, 4L, 1L, 2L)))
    assert((r._5, r._6) == ((0.25, 0.5)))
    assert(r._7 == 1.0) // lift: B doubles A's rate
    val pooled = 3.0 / 8.0
    val want = (0.5 - 0.25) /
      math.sqrt(pooled * (1.0 - pooled) * (1.0 / 4.0 + 1.0 / 4.0))
    assert(r._8 == want)
  }

  test("arm coin is stable per id and splits a large set near-half") {
    val ids = (0L until 4000L).toDF("id")
    val armed = ids.select($"id",
      Experiments.abArm($"id", "armtest").as("arm"))
    val counts = armed.groupBy("arm").count()
      .as[(String, Long)].collect().toMap
    assert(math.abs(counts("A") - 2000L) < 150)
    // re-evaluation identical (pure hash function)
    assert(armed.except(ids.select($"id",
      Experiments.abArm($"id", "armtest").as("arm"))).isEmpty)
  }
}

/** Rolling active users: coverage runs, exact window-distinct. */
class RollingActiveSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("window coverage, run merging, no double count across runs") {
    def ts(n: Int) = java.sql.Timestamp.valueOf(f"2024-01-$n%02d 12:00:00")
    // user a: days 1 and 3 (one merged run, covers 1..5 for W=3);
    // a returns day 10 (separate run, covers 10..12);
    // user b: day 4 only (covers 4..6)
    val ev = Seq(("a", ts(1)), ("a", ts(3)), ("a", ts(10)), ("b", ts(4)))
      .toDF("u", "t")
    val got = Retention.rollingActiveUsers(ev, "u", "t", windowDays = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map(
      "2024-01-01" -> 1L, // a's first run opens
      "2024-01-04" -> 2L, // b joins while a still covered
      "2024-01-06" -> 1L, // a's coverage (3+2=5) ended, b remains
      "2024-01-07" -> 0L, // b's coverage ended
      "2024-01-10" -> 1L, // a's second run
      "2024-01-13" -> 0L))
    // a active on 1 and 3 merged into ONE run: no boundary at day 3
    assert(!got.contains("2024-01-03"))
  }
}

/** CUPED: moment-sum chain equals the hand computation exactly. */
class CupedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("theta, r2 and adjusted arm means from exact moments") {
    val rows = Seq(("A", 1.0, 3.0), ("A", 2.0, 5.0),
      ("B", 1.0, 4.0), ("B", 3.0, 8.0))
    val df = rows.toDF("arm", "x", "y")
      .select($"arm", $"x".cast("decimal(18,2)").as("x"),
        $"y".cast("decimal(18,2)").as("y"))
    val r = Experiments.cuped(df, "arm", "x", "y")
      .as[(Double, Double, Double, Double, Double, Double)]
      .collect().head
    // replicate the pinned chain
    val n = 4.0
    val (sxa, sxb) = (3.0, 4.0); val (sya, syb) = (8.0, 12.0)
    val sx = sxa + sxb; val sy = sya + syb
    val (dxx, dxy, dyy) = (15.0, 41.0, 114.0)
    val covN = n * dxy - sx * sy
    val varXN = n * dxx - sx * sx
    val varYN = n * dyy - sy * sy
    val theta = covN / varXN
    assert(r._1 == theta)
    assert(r._2 == (covN * covN) / (varXN * varYN))
    assert((r._3, r._4) == ((4.0, 6.0)))
    assert(r._5 == 4.0 - theta * (sxa / 2.0 - sx / n))
    assert(r._6 == 6.0 - theta * (sxb / 2.0 - sx / n))
    // the adjustment moves both arm means toward parity here (B's
    // higher pre-period x explains part of its higher y)
    assert(r._6 - r._5 < r._4 - r._3)
  }
}

/** Bootstrap CI: deterministic draws, ordered band, sane coverage. */
class BootstrapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("band is ordered, reproducible, and brackets the true mean") {
    val units = (0L until 100L).map(i => (i, BigDecimal(i)))
      .toDF("idx", "y")
      .select($"idx", $"y".cast("decimal(18,2)").as("y"))
    val r = Experiments.bootstrapMeanCI(units, "idx", "y", 50, "bt")
      .as[(Long, Double, Double, Double)].collect().head
    assert(r._1 == 50L)
    assert(r._2 <= r._3 && r._3 <= r._4)
    // population mean 49.5, sd≈28.9 → se≈2.89; the band must
    // bracket the truth comfortably at these settings
    assert(r._2 < 49.5 && r._4 > 49.5)
    assert(r._4 - r._2 < 20.0)
    val rerun = Experiments.bootstrapMeanCI(units, "idx", "y", 50, "bt")
      .as[(Long, Double, Double, Double)].collect().head
    assert(r == rerun)
    // a different salt draws a different resample set
    val other = Experiments.bootstrapMeanCI(units, "idx", "y", 50, "bt2")
      .as[(Long, Double, Double, Double)].collect().head
    assert(other != r)
  }
}

/** Path mining: trigram paths per key, deterministic top-k. */
class TopPathsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("counts consecutive triples; ranks by count then path") {
    // user 1: a b c a b c → paths abc(×1+..): abc, bca, cab, abc
    val ev = Seq("a", "b", "c", "a", "b", "c").zipWithIndex.map {
      case (t, i) => (1L, (i + 1).toLong, i.toLong * 10L, t) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = Sequences.topPaths(ev, "user_id", "event_type",
        Seq($"ts", $"event_id"), k = 2)
      .as[(String, String, String, Long)].collect()
    // abc appears twice; bca and cab once each — bca wins the tie
    assert(got.toSeq == Seq(("a", "b", "c", 2L), ("b", "c", "a", 1L)))
  }
}

/** Seasonal profile: aligned dow, exact means, index ratio. */
class SeasonalProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cell means and seasonal index against hand computation") {
    // 2024-01-07 is a Sunday → dow 0
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:30:00")
    val ev = Seq(
      ("x", t(7, 9), 10.0), ("x", t(7, 9), 20.0),  // Sun 09: mean 15
      ("x", t(8, 9), 40.0))                        // Mon 09: mean 40
      .toDF("event_type", "ts", "value")
    val got = TimeSeries.seasonalProfile(ev, "event_type", "ts", "value")
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => (r._2, r._3) -> ((r._4, r._5, r._6))).toMap
    val overall = 70.0 / 3.0
    assert(got == Map(
      (0L, 9L) -> ((2L, 15.0, 15.0 / overall)),
      (1L, 9L) -> ((1L, 40.0, 40.0 / overall))))
  }
}

/** Seasonal anomaly: z against the event's own hour-of-week cell. */
class SeasonalAnomalySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("z from exact cent moments; singleton and flat cells drop") {
    def t(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:15:00")
    val ev = Seq(
      (1L, "x", t(7, 9), 10.0), (2L, "x", t(7, 9), 20.0), // Sun 09
      (3L, "x", t(8, 9), 40.0),                           // singleton
      (4L, "y", t(7, 9), 5.0), (5L, "y", t(7, 9), 5.0)    // zero var
    ).toDF("event_id", "event_type", "ts", "value")
    val got = TimeSeries.seasonalAnomaly(ev, "event_id", "event_type",
        "ts", "value")
      .as[(Long, String, Long, Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._5, r._6))).toMap
    // cents: v=1000,2000 -> n=2 s=3000 s2=5e6; varnum=1e6;
    // var = 1e6/1e4/2 = 50; z = ±5/sqrt(50)
    val z = 5.0 / math.sqrt(50.0)
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((-math.rint(z * 1e6) / 1e6, false)))
    assert(got(2L) == ((math.rint(z * 1e6) / 1e6, false)))
  }
}

/** Cohort retention: first-week cohort, distinct-user offsets. */
class RetentionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("users land in their first week's cohort; returns counted once per week") {
    val ev = Seq(
      // user 1: first week of 2024-01-01 (Mon), returns twice in week+2
      (1L, ts("2024-01-03 10:00:00")),
      (1L, ts("2024-01-16 10:00:00")),
      (1L, ts("2024-01-17 11:00:00")),
      // user 2: same cohort, no return
      (2L, ts("2024-01-05 09:00:00")),
      // user 3: later cohort (week of 2024-01-08), returns week+1
      (3L, ts("2024-01-08 09:00:00")),
      (3L, ts("2024-01-15 09:00:00"))
    ).toDF("user_id", "ts")
    val got = Retention.cohortWeeks(ev, "user_id", "ts")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-01-01", 0L, 2L),
      ("2024-01-01", 2L, 1L),
      ("2024-01-08", 0L, 1L),
      ("2024-01-08", 1L, 1L)))
  }
}

/** Trailing event-time window: peer-inclusive frame, exact boundary. */
class TrailingWindowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("RANGE frame includes peers and the exact window edge; keys isolated") {
    val ev = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, 10L, ts("2024-01-01 10:30:00"), 2.0),
      // two events at the same instant: both must see both (peers)
      (3L, 10L, ts("2024-01-01 11:00:00"), 4.0),
      (4L, 10L, ts("2024-01-01 11:00:00"), 8.0),
      // other key: its own frame only
      (5L, 20L, ts("2024-01-01 11:00:00"), 100.0)
    ).toDF("event_id", "user_id", "ts", "value")
    val got = TimeSeries.trailingWindow(ev, "event_id", "user_id", "ts",
        "value", windowMicros = 3600000000L)
      .select(col("id"), col("n_win"), col("sum_win"))
      .as[(Long, Long, Double)].collect()
      .map { case (i, n, s) => i -> ((n, s)) }.toMap
    assert(got(1L) == ((1L, 1.0)))
    assert(got(2L) == ((2L, 3.0)))
    // 10:00 is exactly 1h before 11:00 -> inclusive edge; peers included
    assert(got(3L) == ((4L, 15.0)))
    assert(got(4L) == ((4L, 15.0)))
    assert(got(5L) == ((1L, 100.0)))
  }
}
