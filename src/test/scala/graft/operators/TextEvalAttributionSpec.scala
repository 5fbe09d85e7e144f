package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ROUGE clipped overlap + linear attribution ledger. */
class TextEvalAttributionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rouge: clipped counts, hand-computed P/R/F1, zero-overlap row") {
    // cand 1 = "a a b", ref 2 = "a b b c": clipped overlap =
    // min(2,1) + min(1,2) = 2; P = 2/3, R = 2/4
    // cand 3 = "x", ref 4 = "y": overlap 0 -> all-zero metrics
    val grams = Seq(
      (1L, "a"), (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "b"), (2L, "b"), (2L, "c"),
      (3L, "x"), (4L, "y")
    ).toDF("doc_id", "gram")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_c", "id_r")
    val got = TextEval.rougeClipped(pairs, grams)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().map(r => (r._2, r._1) -> ((r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    // base selects (idR joins first): key by (id_c) for clarity
    val one = got((2L, 1L))
    assert(one._1 == 2L && one._2 == 3L && one._3 == 4L)
    assert(one._4 == math.rint(2.0 / 3.0 * 1e6) / 1e6)
    assert(one._5 == 0.5)
    val p = 2.0 / 3.0; val r = 0.5
    assert(one._6 == math.rint(2.0 * p * r / (p + r) * 1e6) / 1e6)
    assert(got((4L, 3L)) == ((0L, 1L, 1L, 0.0, 0.0, 0.0)))
  }

  test("attribution: equal split inside the strict-before window only") {
    def t(d: Int, h: Int) = Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val conv = Seq(
      (1L, 100L, t(10, 12), 30.0), // user 1 buys on the 10th
      (2L, 200L, t(10, 12), 9.0)   // user 2: no touches in window
    ).toDF("user_id", "conv_id", "conv_ts", "value")
    val touch = Seq(
      (1L, 11L, t(9, 12)),   // inside (1 day before)
      (1L, 12L, t(4, 11)),   // inside (just under 7 days: 6d1h)
      (1L, 13L, t(3, 11)),   // OUTSIDE (7d1h before)
      (1L, 14L, t(10, 12)),  // OUTSIDE (same instant: strict before)
      (2L, 21L, t(10, 13))   // OUTSIDE (after conversion)
    ).toDF("user_id", "touch_id", "touch_ts")
    val got = Attribution.linearTouches(conv, touch, Seq("user_id"),
        "conv_id", "conv_ts", "touch_ts", "value", 7L * 24 * 3600)
      .select("conv_id", "touch_id", "n_touches", "share")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((100L, 11L, 2L, 15.0), (100L, 12L, 2L, 15.0)))
  }

  test("attribution: pre-1970 timestamps bucket by floor, keeping the " +
      "(b, b+1) band invariant") {
    // negative epoch micros: truncating `div` would collapse buckets
    // -1 and 0 onto 0, so a touch 30 min before a conversion that
    // straddles the epoch would miss the banded join entirely
    def t(s: String) = Timestamp.valueOf(s)
    val conv = Seq((1L, 100L, t("1970-01-01 00:10:00"), 10.0))
      .toDF("user_id", "conv_id", "conv_ts", "value")
    val touch = Seq(
      (1L, 11L, t("1969-12-31 23:40:00")), // inside (30 min before)
      (1L, 12L, t("1969-12-31 22:40:00"))  // OUTSIDE (90 min before)
    ).toDF("user_id", "touch_id", "touch_ts")
    val got = Attribution.linearTouches(conv, touch, Seq("user_id"),
        "conv_id", "conv_ts", "touch_ts", "value", 3600L)
      .select("conv_id", "touch_id", "n_touches", "share")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == Set((100L, 11L, 1L, 10.0)))
  }

  test("zipf fit matches a plain-Scala OLS on the same lattice") {
    val tf = Seq(("a", 16L), ("b", 8L), ("c", 4L), ("d", 2L), ("e", 1L))
      .toDF("term", "f")
    val got = Profiling.zipfFit(tf, "term", "f", topN = 1000)
      .as[(Long, Double, Double)].collect().head

    // reference: same lattice, exact BigInt moments, same IEEE chain
    val pts = Seq(16L, 8L, 4L, 2L, 1L).zipWithIndex.map { case (f, i) =>
      (math.round(math.log((i + 1).toDouble) * 1e8),
        math.round(math.log(f.toDouble) * 1e8))
    }
    val n = BigInt(pts.size)
    val sx = pts.map(p => BigInt(p._1)).sum
    val sy = pts.map(p => BigInt(p._2)).sum
    val sxy = pts.map(p => BigInt(p._1) * p._2).sum
    val sxx = pts.map(p => BigInt(p._1) * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val icept = (sy.toDouble - slope * sx.toDouble) / n.toDouble / 1e8
    assert(got._1 == 5L)
    assert(got._2 == math.rint(slope * 1e6) / 1e6 ||
      math.abs(got._2 - slope) < 1e-6)
    assert(math.abs(got._3 - icept) < 1e-6)
    // powers of two at ranks ~2^k: slope near -ln2-ish scaling, and
    // definitely negative
    assert(got._2 < 0.0)
  }

  test("heaps fit: checkpoint prefixes and beta near the planted growth") {
    // synthetic corpus obeying V = N^0.5 exactly at checkpoints:
    // doc i contributes tokens so prefix N = (i+1)^2, V = i+1
    // (doc i adds 2i+1 tokens of which exactly 1 is a new term)
    val docs = (0L until 40L).map { i =>
      val toks = Seq.fill((2 * i + 1).toInt - 1)("t" + (i % (i / 2 + 1))) :+ ("new" + i)
      (i, toks)
    }
    val docTokens = docs.map { case (i, t) => (i, t.size.toLong) }
      .toDF("doc_id", "nt")
    val firstId = docs.flatMap { case (i, t) => t.map(_ -> i) }
      .groupBy(_._1).map { case (t, xs) => (t, xs.map(_._2).min) }
      .toSeq.toDF("term", "first_id")
    val got = Profiling.heapsFit(docTokens, "doc_id", "nt",
        firstId, "first_id")
      .as[(Long, Double, Double)].collect().head
    assert(got._1 == 10L)
    // the filler terms reuse earlier vocab imperfectly, so beta sits
    // near but not exactly 0.5 — the invariant worth pinning is a
    // sublinear positive growth exponent
    assert(got._2 > 0.2 && got._2 < 0.8, s"beta=${got._2}")
  }

  test("gini: uniform mass scores 0; one-owner mass scores (n-1)/n") {
    val uniform = (1L to 4L).map((_, 5L)).toDF("id", "w")
    val g0 = Profiling.giniCoefficient(uniform, "id", "w")
      .as[(Long, Long, Double)].collect().head
    assert(g0 == ((4L, 20L, 0.0)))
    // all mass on one row: ranks 1..4 ascending puts it last;
    // G = (2*4*4 - 5*4) / (4*4) = 0.75 = (n-1)/n
    val single = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 4L)).toDF("id", "w")
    val g1 = Profiling.giniCoefficient(single, "id", "w")
      .as[(Long, Long, Double)].collect().head
    assert(g1 == ((4L, 4L, 0.75)))
  }

  test("weighted median: mass walk, not row count; lower convention") {
    // group a: values 1(w=1), 2(w=1), 100(w=8) -> half of 10 is 5,
    //   first value whose cum reaches 5 is 100 (mass-median, where the
    //   unweighted median would be 2)
    // group b: 1(w=1), 2(w=1) -> cum at value 1 is 1, 2*1 >= 2 -> 1
    val rows = Seq(
      ("a", 1L, 1L, 1L), ("a", 2L, 1L, 2L), ("a", 100L, 8L, 3L),
      ("b", 1L, 1L, 4L), ("b", 2L, 1L, 5L)
    ).toDF("g", "v", "w", "id")
    val got = WeightedQuantiles.weightedMedian(rows, "g", "v", "w", "id")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("a" -> ((100L, 10L)), "b" -> ((1L, 2L))))
  }

  test("BLEU: clipped precisions, ln lattice, null on a dry order") {
    // cand "the cat the cat" vs ref "the cat sat":
    //  1-grams: clip the=1, cat=1 → 2/4 → ln(.5)·1e8 = −69314718
    //  2-grams: clip "the cat"=1 → 1/3 → −109861229
    //  3-grams: no overlap → clip 0 of 2 → null ln
    //  4-grams: the ref has none → clip 0 of 1 → null ln
    //  so log_bleu (BLEU-4) is null
    val df = Seq((1L, Seq("the", "cat", "the", "cat"),
      Seq("the", "cat", "sat"))).toDF("id", "cand", "ref")
    val rows = TextEval.bleuCorpus(df, "id", "cand", "ref").collect()
    val byN = rows.map(r => r.getInt(0) -> r).toMap
    assert(byN.keySet === Set(1, 2, 3, 4))
    assert(byN(1).getLong(1) === 2L && byN(1).getLong(2) === 4L)
    assert(byN(1).getLong(4) === -69314718L)
    assert(byN(2).getLong(1) === 1L && byN(2).getLong(4) === -109861229L)
    assert(byN(3).getLong(1) === 0L && byN(3).getLong(2) === 2L &&
      byN(3).isNullAt(4))
    assert(byN(4).getLong(1) === 0L && byN(4).getLong(2) === 1L &&
      byN(4).isNullAt(4))
    assert(rows.forall(_.isNullAt(8))) // log_bleu null: one dry order
    // c=4 > r=3 → no brevity penalty
    assert(byN(1).getLong(7) === 0L)
  }

  test("BLEU: perfect candidate scores log 0; short one pays BP") {
    val perfect = Seq((1L, Seq("a", "b", "c", "d", "e"),
      Seq("a", "b", "c", "d", "e"))).toDF("id", "cand", "ref")
    val p = TextEval.bleuCorpus(perfect, "id", "cand", "ref").collect()
    assert(p.length === 4)
    assert(p.forall(_.getDouble(3) === 1.0)) // p_n
    assert(p.forall(_.getDouble(8) === 0.0)) // log_bleu
    // 4-token prefix of a 5-token ref: precisions 1 at orders 1..4
    // (4/4, 3/3, 2/2, 1/1), BP = 1 − 5/4 → bp_e8 = −25000000 exactly
    // (integer lattice, no double round); log_bleu = 4·bp / (4·10⁸)
    val short = Seq((1L, Seq("a", "b", "c", "d"),
      Seq("a", "b", "c", "d", "e"))).toDF("id", "cand", "ref")
    val s = TextEval.bleuCorpus(short, "id", "cand", "ref").collect()
    assert(s.map(r => r.getLong(2)).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    assert(s.forall(_.getDouble(3) === 1.0))
    assert(s.forall(_.getLong(7) === -25000000L))
    assert(s.forall(_.getDouble(8) === -0.25))
  }

  test("BLEU: an empty or spaced token fails loudly") {
    for (bad <- Seq("new york", "")) {
      val df = Seq((1L, Seq("in", bad), Seq("in", "paris")))
        .toDF("id", "cand", "ref")
      val err = intercept[Exception] {
        TextEval.bleuCorpus(df, "id", "cand", "ref").collect()
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(msgs.exists(_.contains("empty or spaced token")), err.toString)
    }
  }

  test("MAD outliers: robust to the outlier itself; zero-MAD groups " +
      "flag every deviation; normal spread stays quiet") {
    val df = (
      // a: one 10x outlier among constants -> med 10, MAD 0, 1 flag
      Seq.fill(4)("a" -> 10L) ++ Seq("a" -> 100L) ++
      // b: 1..7 -> med 4, MAD 2, threshold 8.9 -> no flags
      (1L to 7L).map("b" -> _) ++
      // c: constant pair + spike -> med 0, MAD 0, 1 flag
      Seq("c" -> 0L, "c" -> 0L, "c" -> 1000L)
    ).zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
    val out = RobustStats.madOutliers(
        df.toDF("g", "v", "id"), "g", "v", "id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out("a") === ((5L, 10L, 0L, 1L)))
    assert(out("b") === ((7L, 4L, 2L, 0L)))
    assert(out("c") === ((3L, 0L, 0L, 1L)))
  }

  test("ROUGE-L: the compiled LCS kernel matches a plain-Scala DP " +
      "reference on 200 random pairs") {
    def lcsRef(a: Seq[String], b: Seq[String]): Long = {
      val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) =
          if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
          else math.max(dp(i - 1)(j), dp(i)(j - 1))
      dp(a.length)(b.length).toLong
    }
    val rnd = new scala.util.Random(20260815L)
    // small alphabet forces dense matches; lengths hit 0 and repeats
    val pairs = (1 to 200).map { i =>
      def arr(n: Int) = Seq.fill(n)("t" + rnd.nextInt(5))
      (i.toLong, arr(rnd.nextInt(16)), arr(rnd.nextInt(20)))
    }
    val want = pairs.map { case (_, c, r) => lcsRef(c, r) }.sum
    val got = TextEval.rougeLCorpus(
      pairs.toDF("id", "cand", "ref"), "id", "cand", "ref")
      .collect()(0).getLong(1)
    assert(got === want)
  }

  test("ROUGE-L: LCS is order-sensitive, repeats don't double-count, " +
      "micro-average over pairs") {
    // pair 1: LCS(a b c d | a x c d y) = 3 (a,c,d)
    // pair 2: LCS(b a | a b) = 1 — n-gram overlap would credit 2
    val df = Seq(
      (1L, Seq("a", "b", "c", "d"), Seq("a", "x", "c", "d", "y")),
      (2L, Seq("b", "a"), Seq("a", "b"))
    ).toDF("id", "cand", "ref")
    val r = TextEval.rougeLCorpus(df, "id", "cand", "ref").collect()(0)
    assert(r.getLong(0) === 2L)
    assert(r.getLong(1) === 4L)           // 3 + 1
    assert(r.getLong(2) === 6L && r.getLong(3) === 7L)
    assert(r.getDouble(4) === 4.0 / 6.0)  // P
    assert(r.getDouble(5) === 4.0 / 7.0)  // R
    assert(r.getDouble(6) === 8.0 / 13.0) // F1 = 2·LCS/(C+R)
    // repeats: LCS(a a | a) = 1
    val rep = Seq((1L, Seq("a", "a"), Seq("a"))).toDF("id", "cand", "ref")
    assert(TextEval.rougeLCorpus(rep, "id", "cand", "ref")
      .collect()(0).getLong(1) === 1L)
    // empty sides score 0, not null/error
    val empty = Seq((1L, Seq.empty[String], Seq("a")))
      .toDF("id", "cand", "ref")
    assert(TextEval.rougeLCorpus(empty, "id", "cand", "ref")
      .collect()(0).getLong(1) === 0L)
  }

  test("chrF: closed-form per-order F, exact lattice headline") {
    // cand "abcdefg" vs ref "abcdefh": at order n, C = R = 8 − n and
    // every gram but the last matches, M = 7 − n; den = 4R + C = 5·R
    //  n=1: F = 5·6/35 → fn_e8 (10·6·1e8+35)//70 = 85714286 (half-up)
    //  n=2: 25/30 → 83333333    n=3: 20/25 → 80000000
    //  n=4: 15/20 → 75000000    n=5: 10/15 → 66666667 (half-up)
    //  n=6: 5/10  → 50000000
    //  chrf = 440714286 / 6e8
    val df = Seq((1L, "abcdefg", "abcdefh")).toDF("id", "cand", "ref")
    val rows = TextEval.chrfCorpus(df, "id", "cand", "ref").collect()
    val byN = rows.map(r => r.getInt(0) -> r).toMap
    assert(byN.keySet === (1 to 6).toSet)
    assert(byN(1).getLong(1) === 6L && byN(1).getLong(2) === 7L &&
      byN(1).getLong(3) === 7L)
    assert(byN(1).getDouble(4) === 30.0 / 35.0 &&
      byN(1).getLong(5) === 85714286L)
    assert(byN(5).getLong(1) === 2L &&
      byN(5).getDouble(4) === 10.0 / 15.0 &&
      byN(5).getLong(5) === 66666667L)
    assert((1 to 6).map(byN(_).getLong(5)) === Seq(85714286L, 83333333L,
      80000000L, 75000000L, 66666667L, 50000000L))
    assert(rows.forall(_.getDouble(6) === 440714286.0 / 6.0e8))
  }

  test("chrF: repeats clip; a dry order nulls f_n and the headline") {
    // cand "aaa" vs ref "aa": n=1 M=2,C=3,R=2 → 10/11; n=2 M=1,C=2,
    // R=1 → 5/6; n=3 M=0,C=1,R=0 → 0 (a one-sided order scores 0)
    val df = Seq((1L, "aaa", "aa")).toDF("id", "cand", "ref")
    val byN = TextEval.chrfCorpus(df, "id", "cand", "ref")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(byN(1).getLong(1) === 2L && byN(1).getDouble(4) === 10.0 / 11.0)
    assert(byN(2).getLong(1) === 1L && byN(2).getDouble(4) === 5.0 / 6.0)
    assert(byN(3).getLong(1) === 0L && byN(3).getDouble(4) === 0.0)
    // single chars: orders 2..6 have zero grams on BOTH sides → null
    // F, null headline (no silent smoothing)
    val dry = Seq((1L, "a", "b")).toDF("id", "cand", "ref")
    val d = TextEval.chrfCorpus(dry, "id", "cand", "ref")
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(d(1).getLong(1) === 0L && d(1).getDouble(4) === 0.0)
    assert((2 to 6).forall(n => d(n).isNullAt(4) && d(n).isNullAt(5)))
    assert(d.values.forall(_.isNullAt(6)))
  }

  test("attribution: boundary exactly lookback-before is included") {
    def ts(s: String) = Timestamp.valueOf(s)
    val conv = Seq((1L, 1L, ts("2024-01-08 00:00:00"), 10.0))
      .toDF("user_id", "conv_id", "conv_ts", "value")
    val touch = Seq((1L, 2L, ts("2024-01-01 00:00:00")))
      .toDF("user_id", "touch_id", "touch_ts")
    val got = Attribution.linearTouches(conv, touch, Seq("user_id"),
        "conv_id", "conv_ts", "touch_ts", "value", 7L * 24 * 3600)
      .select("touch_id", "share").as[(Long, Double)].collect().toSeq
    assert(got == Seq((2L, 10.0)))
  }
}
