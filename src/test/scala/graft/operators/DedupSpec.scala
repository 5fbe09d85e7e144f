package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Dedup operators on planted duplicates/near-duplicates. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while the cat watches from the warm windowsill in the evening sun"
  private val nearDup = base.replace("evening", "morning") // 1-word edit
  private val unrelated = "completely different content about spark " +
    "query engines and distributed columnar execution at petabyte scale"

  private def docs = Seq(
    (1L, base), (2L, base), // exact dup pair
    (3L, nearDup), // near dup of 1/2
    (4L, unrelated),
    (5L, "short text"),
    (6L, unrelated.replace("petabyte", "exabyte")) // near dup of 4
  ).toDF("doc_id", "text")

  test("exact hash groups collapse identical texts deterministically") {
    val groups = Dedup.exactHashGroups(docs, "doc_id", "text")
    assert(groups.count() == 5) // 6 docs, one exact pair
    val dup = groups.filter($"n_copies" === 2).first()
    assert(dup.getAs[Long]("keep_id") == 1L) // min id survives
  }

  test("near-dup operators release their internal caches (≤1 materialized result each)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    PortableMinHash.nearDupPairs(docs, "doc_id", "text",
      shingleWords = 2, numHashes = 64, bands = 32, threshold = 0.5).count()
    // only the localCheckpoint'd result may remain; the persisted
    // intermediates (signatures) must be gone
    assert(sc.getPersistentRDDs.size <= before + 1)
    val rnd = new scala.util.Random(3)
    val emb = Seq.tabulate(4)(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val mid = sc.getPersistentRDDs.size
    PortableSignLsh.nearDupPairs(emb, "vec_id", "embedding", dim = 8, numPlanes = 6).count()
    assert(sc.getPersistentRDDs.size <= mid + 1)
  }

  test("jaccardPairsIndexed equals the exhaustive cross-join result exactly") {
    import org.apache.spark.sql.functions._
    val sets = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val exhaustive = {
      val a = sets.select(col("doc_id").as("id_a"), col("toks").as("t_a"))
      val b = sets.select(col("doc_id").as("id_b"), col("toks").as("t_b"))
      a.crossJoin(b).filter(col("id_a") < col("id_b"))
        .withColumn("j", graft.functions.TextFunctions.jaccard(col("t_a"), col("t_b")))
        .filter(col("j") >= 0.5)
        .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard_sim"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val indexed = Dedup.jaccardPairsIndexed(sets, "doc_id", "toks", 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(indexed == exhaustive)
    assert(indexed.map(p => (p._1, p._2)).contains((1L, 2L))) // exact dup pair found
  }

  test("jaccardPairsIndexed plan: candidates shuffle by element, no cross join") {
    import org.apache.spark.sql.functions._
    val sets = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val plan = Dedup.jaccardPairsIndexed(sets, "doc_id", "toks", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      "inverted index must not fall back to a product join")
  }

  test("containmentPairsIndexed: quoted-inside detection that Jaccard misses") {
    import org.apache.spark.sql.functions._
    // doc 2 = doc 1's tokens + a long wrapper: containment(1 in 2) = 1
    // but Jaccard is low; doc 3 unrelated
    val d = Seq(
      (1L, Seq("a", "b", "c")),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l")),
      (3L, Seq("x", "y", "z"))
    ).toDF("doc_id", "toks")
    val got = Dedup.containmentPairsIndexed(d, "doc_id", "toks", 0.9)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 2L, 1.0))) // 1's set fully inside 2's; nothing else
    // the symmetric Jaccard at the same bar finds nothing (3/12 = 0.25)
    val j = Dedup.jaccardPairsIndexed(d, "doc_id", "toks", 0.9)
      .as[(Long, Long, Double)].collect()
    assert(j.isEmpty)
  }

  test("containment prefix filter is lossless vs brute force " +
      "(random sets, several thresholds)") {
    import org.apache.spark.sql.functions._
    // skewed element draw (Zipf-ish) so some elements are
    // stop-word-grade: exactly the regime the prefix filter prunes
    val rnd = new scala.util.Random(42)
    def draw(): String = ("e" + (math.pow(rnd.nextDouble(), 2.0) * 30).toInt)
    val rows = (1L to 60L).map { id =>
      val n = 3 + rnd.nextInt(10)
      (id, Seq.fill(n)(draw()).distinct)
    }
    val d = rows.toDF("doc_id", "toks")
    for (t <- Seq(0.5, 0.7, 0.9, 1.0)) {
      val got = Dedup.containmentPairsIndexed(d, "doc_id", "toks", t)
        .as[(Long, Long, Double)].collect().toSet
      val expect = (for {
        (ia, sa) <- rows; (ib, sb) <- rows if ia != ib
        c = sa.toSet.intersect(sb.toSet).size
        cont = math.rint(c.toDouble / sa.size * 1e6) / 1e6
        if cont >= t
      } yield (ia, ib, cont)).toSet
      assert(got == expect, s"t=$t: ${got.diff(expect)} / ${expect.diff(got)}")
    }
  }

  test("duplicate clusters: components found, chains collapse, singletons kept") {
    // graph: 1-2, 2-3 (chain → one cluster {1,2,3}); 4-5; 6 isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(nodes, edges, "doc_id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }

  test("duplicate clusters: long path needs multiple propagation rounds") {
    // path 10-11-...-17: min label must travel 7 hops
    val ids = (10L to 17L).toSeq
    val nodes = ids.toDF("doc_id")
    val edges = ids.zip(ids.tail).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(nodes, edges, "doc_id", "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got.values.toSet == Set(10L))
  }

  test("duplicate clusters: pointer jumping collapses a 64-hop chain within default rounds") {
    // plain min-label propagation needs 63 rounds for this path — far
    // past maxIter=20; the l(l(n)) shortcut makes it O(log n)
    val ids = (100L to 163L).toSeq
    val nodes = ids.toDF("doc_id")
    val edges = ids.zip(ids.tail).toDF("id_a", "id_b")
    var got = Map.empty[Long, Long]
    // every pointer-jump checkpoint is released; only the result's stays
    val left = TestSpark.pinnedBy {
      got = Dedup.duplicateClusters(nodes, edges, "doc_id", "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
    }
    assert(got.size == 64 && got.values.toSet == Set(100L))
    assert(left <= 1, s"$left RDDs left persisted")
  }

  test("duplicate clusters: refuses to return partial labels when maxIter is too low") {
    // 8-node path needs ~7 propagation rounds; maxIter=3 must throw,
    // not return silently wrong labels
    val ids = (10L to 17L).toSeq
    val nodes = ids.toDF("doc_id")
    val edges = ids.zip(ids.tail).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.duplicateClusters(nodes, edges, "doc_id", "id_a", "id_b", maxIter = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("exhaustive embedding verify equals brute force; bucketed path is a subset") {
    val rnd = new scala.util.Random(11)
    val vecs = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      if cos(va, vb) >= 0.3
    } yield (ia, ib)).toSet
    val exhaustive = Dedup.embeddingVerifyExhaustive(emb, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exhaustive == expected)
    val bucketed = PortableSignLsh.nearDupPairs(emb, "vec_id", "embedding",
      dim = 16, threshold = 0.3, numPlanes = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(bucketed.subsetOf(exhaustive)) // blocking can only lose pairs
  }

  test("editVerify: exact Levenshtein + normalized similarity on a pair frame") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"), (3L, "kitten"), (4L, "")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (4L, 4L))
      .toDF("id_a", "id_b")
    val out = Dedup.editVerify(pairs, docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getDouble(5)))).toMap
    assert(out((1L, 2L)) === ((3L, 0.571429))) // the textbook pair
    assert(out((1L, 3L)) === ((0L, 1.0)))      // verbatim copy
    assert(out((1L, 4L)) === ((6L, 0.0)))      // vs empty: all deletes
    assert(out((4L, 4L)) === ((0L, 1.0)))      // both empty pinned to 1
  }

  test("editVerify banded mode: exact in-band, NULL beyond maxDist, " +
      "every pair retained") {
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"), (3L, "a completely different " +
        "sentence with nothing shared at all"), (4L, "kitten!")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val rows = Dedup.editVerify(pairs, docs, "doc_id", "text",
      maxDist = 3).collect()
    assert(rows.length == 3) // far pairs stay in the audit
    val byPair = rows.map(r => ((r.getLong(0), r.getLong(1)), r)).toMap
    // in-band: exact distance and similarity, identical to full DP
    assert(byPair((1L, 2L)).getLong(2) == 3L)
    assert(byPair((1L, 2L)).getDouble(5) == 0.571429)
    assert(byPair((1L, 4L)).getLong(2) == 1L)
    // beyond band: certified miss -> NULL distance AND similarity
    assert(byPair((1L, 3L)).isNullAt(2))
    assert(byPair((1L, 3L)).isNullAt(5))
    // the band boundary itself is in-band (d == maxDist)
    val edge = Dedup.editVerify(Seq((1L, 2L)).toDF("id_a", "id_b"),
      docs, "doc_id", "text", maxDist = 3).collect()(0)
    assert(edge.getLong(2) == 3L)
  }
}
