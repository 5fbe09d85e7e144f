package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Deterministic sampling/split + sequence packing operators. */
class SamplingPackingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hash split: deterministic, near-nominal fractions, id-stable") {
    val ids = (0L until 5000L).toDF("id")
    val split = ids.select($"id",
      Sampling.splitColumn($"id", "split_v1").as("split"))
    val counts = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(math.abs(counts("train") - 4000L) < 200)
    assert(math.abs(counts("val") - 500L) < 120)
    assert(math.abs(counts("test") - 500L) < 120)
    // re-evaluation is bit-identical (pure function, no RNG)
    assert(split.except(ids.select($"id",
      Sampling.splitColumn($"id", "split_v1").as("split"))).isEmpty)
    // a row's assignment is independent of the surrounding corpus
    val sub = ids.filter($"id" < 100).select($"id",
      Sampling.splitColumn($"id", "split_v1").as("split"))
    assert(sub.except(split.filter($"id" < 100)).isEmpty)
  }

  test("stratified sample downsamples only the targeted strata") {
    val df = (0L until 3000L).map(i => (i, if (i % 3 == 0) "en" else "fr"))
      .toDF("id", "lang")
    val out = Sampling.stratifiedSample(df, "id", "lang", Map("en" -> 0.25))
    val counts = out.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(counts("fr") == 2000L) // default fraction 1.0 keeps everything
    assert(math.abs(counts.getOrElse("en", 0L) - 250L) < 80)
  }

  test("exact-quota split: global count is exactly N*pct div 100") {
    // strata sizes chosen so remainders force largest-remainder picks:
    // n = {a:37, b:41, c:22}, pct=30 -> bases {11,12,6}=29, T=30 -> one
    // leftover unit goes to the largest remainder (a: 110%100=10,
    // b: 1230%100=30, c: 660%100=60 -> c wins)
    val rows = (1L to 37L).map(i => (i, "a")) ++
      (101L to 141L).map(i => (i, "b")) ++ (201L to 222L).map(i => (i, "c"))
    val df = rows.toDF("doc_id", "lang")
    val got = Sampling.exactQuotaSplit(df, "doc_id", "lang", pct = 30)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 11L, "b" -> 12L, "c" -> 7L))
    assert(got.values.sum == 100L * 30L / 100L)
    // determinism: same selection on re-run
    val again = Sampling.exactQuotaSplit(df, "doc_id", "lang", pct = 30)
      .select($"doc_id").as[Long].collect().toSet
    val first = Sampling.exactQuotaSplit(df, "doc_id", "lang", pct = 30)
      .select($"doc_id").as[Long].collect().toSet
    assert(again == first && again.size == 30)
  }

  test("packing matches a sequential scan and conserves the stream") {
    val docs = (0L until 1000L).map(i => (i, 1L + (i * 37 % 120)))
      .toDF("doc_id", "n_tokens")
    val out = Packing.packByTokenBudget(docs, "doc_id", "n_tokens", 256L)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    // driver-side reference: running offset in doc_id order
    var offset = 0L
    (0L until 1000L).zip(out).foreach { case (i, (id, n, start, pack)) =>
      assert(id == i)
      assert(n == 1L + (i * 37 % 120))
      assert(start == offset, s"doc $i offset")
      assert(pack == offset / 256L, s"doc $i pack")
      offset += n
    }
    assert(out.map(r => r._3 + r._2).max == offset) // stream conserved
  }

  test("packing plan: no global-ordering exchange over the data side") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
    val docs = (0L until 1000L).map(i => (i, 10L)).toDF("doc_id", "n_tokens")
    val (packed, plans) = TestSpark.withPlans(
      Packing.packByTokenBudget(docs, "doc_id", "n_tokens", 256L))
    val parts = (plans :+ packed.queryExecution.executedPlan)
      .flatMap(TestSpark.shuffles)
    // the data side must be range-partitioned (parallel prefix sums),
    // never funneled through one partition
    assert(parts.count(_.isInstanceOf[RangePartitioning]) == 1, parts)
    assert(!parts.contains(SinglePartition),
      s"unexpected single-partition exchanges: $parts")
  }

  test("capPerGroup: small groups whole, hot groups capped by md5 rank") {
    // group "hot": 50 rows; "cold": 3 rows; cap = 5
    val df = ((0L until 50L).map(i => (i, "hot")) ++
      Seq((100L, "cold"), (101L, "cold"), (102L, "cold")))
      .toDF("id", "grp")
    val got = Sampling.capPerGroup(df, "id", "grp", cap = 5)
      .as[(Long, String)].collect().toSeq
    assert(got.count(_._2 == "hot") == 5)
    assert(got.filter(_._2 == "cold").map(_._1).sorted == Seq(100L, 101L, 102L))
    // survivors = the 5 lowest (md5(id:cap_v1), id) draws — independent
    // reference computed driver-side
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expectHot = (0L until 50L).sortBy(i => (md5(s"$i:cap_v1"), i)).take(5).toSet
    assert(got.filter(_._2 == "hot").map(_._1).toSet == expectHot)
    // determinism + stability: rerunning and growing ANOTHER group
    // never changes the hot survivors
    val grown = df.union(Seq((200L, "new"), (201L, "new")).toDF("id", "grp"))
    val again = Sampling.capPerGroup(grown, "id", "grp", cap = 5)
      .as[(Long, String)].collect().filter(_._2 == "hot").map(_._1).toSet
    assert(again == expectHot)
  }

  test("topFractionByScore: exactly ceil(f*N) rows, tie-broken by id at the boundary") {
    // scores: 0.9 x2, 0.5 x4 (ids 10..13), 0.1 x4; N=10, f=0.4 -> k=4:
    // both 0.9s + the TWO SMALLEST ids of the 0.5 tie-bin
    val df = Seq(
      (1L, 0.9), (2L, 0.9),
      (10L, 0.5), (11L, 0.5), (12L, 0.5), (13L, 0.5),
      (20L, 0.1), (21L, 0.1), (22L, 0.1), (23L, 0.1)
    ).toDF("id", "score")
    val got = Sampling.topFractionByScore(df, "id", "score", 0.4)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got == Set(1L, 2L, 10L, 11L))
    // ceil rounding: f=0.33 -> k=ceil(3.3)=4, same survivors
    val got33 = Sampling.topFractionByScore(df, "id", "score", 0.33)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(got33 == Set(1L, 2L, 10L, 11L))
    // f=1.0 keeps everything; null scores never survive
    val withNull = df.union(Seq((99L, Option.empty[Double])).toDF("id", "score"))
    val all = Sampling.topFractionByScore(withNull, "id", "score", 1.0)
      .as[(Long, Double)].collect().map(_._1).toSet
    assert(all == df.as[(Long, Double)].collect().map(_._1).toSet)
  }

  test("score-histogram collects are driver-bounded: a continuous " +
      "score fails loudly, a lattice score passes at the same cap") {
    // 50 distinct raw doubles > cap 10 — both entry points must
    // refuse before collecting, with the remedy in the message
    val fine = (1 to 50).map(i => (i.toLong, i / 1234.567, 10L))
      .toDF("id", "score", "tok")
    val e1 = intercept[IllegalArgumentException] {
      Sampling.topFractionByScore(fine, "id", "score", 0.5,
        maxScoreBins = 10)
    }
    assert(e1.getMessage.contains("round or bucket"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Sampling.budgetByScore(fine, "id", "score", "tok", 100L,
        maxScoreBins = 10)
    }
    assert(e2.getMessage.contains("round or bucket"), e2.getMessage)
    // same rows on a 10-value lattice fit the same cap
    val lattice = fine.withColumn("score",
      round(col("score") * 20, 1))
    assert(Sampling.topFractionByScore(lattice, "id", "score", 0.5,
      maxScoreBins = 10).count() === 25L)
    assert(Sampling.budgetByScore(lattice, "id", "score", "tok", 100L,
      maxScoreBins = 10).count() === 10L)
  }

  test("temperatureAllocation: quotas sum to budget, alpha flattens the distribution") {
    // domains: big=900 docs, mid=90, small=10
    val df = (Seq.fill(900)("big") ++ Seq.fill(90)("mid") ++ Seq.fill(10)("small"))
      .zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "domain")
    val got = Sampling.temperatureAllocation(df, "domain", alpha = 0.3, budget = 100L)
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.values.map(_._2).sum == 100L) // exact budget
    // natural shares would be 90/9/1; alpha=0.3 flattens: driver mirror
    val a = Map("big" -> 900L, "mid" -> 90L, "small" -> 10L).view
      .mapValues(n => BigDecimal(math.pow(n.toDouble, 0.3))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)).toMap
    val ta = a.values.sum
    val shares = a.view.mapValues(x => x.toDouble * 100L / ta.toDouble).toMap
    val base = shares.view.mapValues(s => math.floor(s).toLong).toMap
    val left = 100L - base.values.sum
    val order = shares.toSeq
      .map { case (d, s) => (d, s - math.floor(s)) }
      .sortBy { case (d, f) => (-f, d) }.map(_._1)
    val expect = base.map { case (d, bse) =>
      d -> (bse + (if (order.indexOf(d) < left) 1L else 0L)) }
    got.foreach { case (d, (_, t)) => assert(t == expect(d), s"domain $d") }
    // flattening sanity: small domain gets far more than its 1% share
    assert(got("small")._2 > 10L)
  }

  test("globalOrderRank: exact 1..N ranks in md5 order, boundary-invariant") {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ids(p: Int) =
      TestSpark.onPartitions(p).range(500).toDF("id").repartition(5)
    val got = Sampling.globalOrderRank(ids(7), "id", "order_v1")
      .as[(Long, Long)].collect().sortBy(_._2)
    // ranks are exactly 1..N with no gaps or dups
    assert(got.map(_._2).toSeq == (1L to 500L))
    // order agrees with the driver-side total order (md5(id:salt), id)
    val expect = (0L until 500L).sortBy(i => (md5(s"$i:order_v1"), i))
    assert(got.map(_._1).toSeq == expect)
    // rerun is identical (epoch reproducibility)
    val again = Sampling.globalOrderRank(ids(3), "id", "order_v1")
      .as[(Long, Long)].collect().sortBy(_._2).map(_._1).toSeq
    assert(again == expect) // range count must not change the order
  }

  test("topFractionByScore plan: no global-sort exchange over the kept side") {
    val df = (0L until 100L).map(i => (i, (i % 7).toDouble / 10.0))
      .toDF("id", "score")
    val gate = Sampling.topFractionByScore(df, "id", "score", 0.3)
    // exactness first
    assert(gate.count() == 30)
    // the `score > t` branch must be a plain filter — no Sort/Window
    // over the corpus side; the only ordered op is the boundary-bin
    // top-m (TakeOrdered / local sort on one bin)
    val plan = gate.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "global window leaked into the gate plan")
  }

  test("curriculum order: interleaved permutation, easy→hard per shard") {
    val docs = (0L until 64L).map(i => (i, i % 7)).toDF("id", "diff")
    val got = Sampling.curriculumOrder(docs, "id", "diff", 4, "curtest")
      .as[(Long, Long, Long)].collect()
    // positions are a distinct total-order key (gaps allowed where
    // hash shards are unequal — see the operator contract)
    assert(got.map(_._3).distinct.length == 64)
    assert(got.map(_._3).forall(_ >= 1L))
    // position parity encodes the shard: p ≡ shard+1 (mod S)
    assert(got.forall { case (_, s, p) => (p - 1 - s) % 4 == 0 })
    // within a shard, difficulty is non-decreasing along positions
    val byDiff = docs.as[(Long, Long)].collect().toMap
    got.groupBy(_._2).values.foreach { rows =>
      val ds = rows.sortBy(_._3).map(r => byDiff(r._1))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
    }
  }

  test("token budget: keeps rows that start under the budget") {
    val df = Seq(
      ("A", 1L, 10L), ("A", 2L, 10L), ("A", 3L, 5L),
      ("B", 4L, 100L), ("B", 5L, 1L))
      .toDF("g", "id", "w")
    val got = Sampling.tokenBudgetSelect(df, "g", "id", "w", 15L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._2 -> r._4).toMap
    // A: id1 starts at 0, id2 at 10 (< 15, kept though it overshoots),
    // id3 at 20 (dropped). B: the oversized first row is always kept.
    assert(got == Map(1L -> 0L, 2L -> 10L, 4L -> 0L))
  }

  test("negative pairs: k per doc, never self, deterministic") {
    val docs = (0L until 40L).toDF("doc_id")
    val negs = Sampling.negativePairs(docs, "doc_id", k = 3, "negtest")
      .as[(Long, Long, Long)].collect()
    assert(negs.length == 40 * 3)
    assert(negs.forall { case (d, _, neg) => d != neg })
    assert(negs.map { case (d, j, _) => (d, j) }.distinct.length == 120)
    assert(negs.forall { case (_, _, neg) => neg >= 0L && neg < 40L })
    // pure function of (id, salt, j): a rerun is bit-identical
    val rerun = Sampling.negativePairs(docs, "doc_id", k = 3, "negtest")
      .as[(Long, Long, Long)].collect()
    assert(negs.sorted.sameElements(rerun.sorted))
    // a different salt is a different (non-degenerate) sample
    val other = Sampling.negativePairs(docs, "doc_id", k = 3, "negtest2")
      .as[(Long, Long, Long)].collect()
    assert(!negs.sorted.sameElements(other.sorted))
  }

  test("budgetByScore: threshold bins, greedy boundary fill, all-fits case") {
    // scores 0.9 (30 tokens), 0.5 (4 docs × 10), 0.1 (100)
    val df = Seq(
      (1L, 0.9, 30L),
      (2L, 0.5, 10L), (3L, 0.5, 10L), (4L, 0.5, 10L), (5L, 0.5, 10L),
      (6L, 0.1, 100L)
    ).toDF("doc_id", "score", "tok")
    // budget 55: all of 0.9 (30), then boundary 0.5 in id order —
    // doc 2 (start 0 < 25), doc 3 (start 10 < 25), doc 4 (start 20
    // < 25 — greedy overshoot), doc 5 (start 30 ≥ 25) excluded
    val sel = Sampling.budgetByScore(df, "doc_id", "score", "tok", 55L)
      .collect().map(_.getLong(0)).sorted
    assert(sel.toSeq === Seq(1L, 2L, 3L, 4L))
    // a budget beyond the corpus keeps everything
    val all = Sampling.budgetByScore(df, "doc_id", "score", "tok", 1000L)
    assert(all.count() === 6L)
  }

  test("packing fragmentation: hand-walked splits and crossing " +
      "tokens at one budget; packs are the exact ceiling") {
    // offsets 0/5/15 at B=8: doc2 [5,14] splits (cross 7),
    // doc3 [15,17] splits (cross 3 - (8-7) = 2)
    val df = Seq((1L, 5L), (2L, 10L), (3L, 3L)).toDF("doc_id", "n")
    val r = Packing.packingFragmentation(df, "doc_id", "n", Seq(8L))
      .collect()(0)
    assert(r.getLong(0) === 8L && r.getLong(1) === 3L)
    assert(r.getLong(2) === 18L && r.getLong(3) === 3L) // ceil(18/8)
    assert(r.getLong(4) === 2L)
    assert(r.getDouble(5) === 2.0 / 3.0)
    assert(r.getLong(6) === 9L)
    assert(r.getDouble(7) === 0.5)
  }
}
