package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** ANN operators: brute-force exactness vs a driver-side oracle, and
  * IVF with every cell probed against brute force.
  */
class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  private val dim = 16
  private val corpusLocal: Seq[(Long, Seq[Float])] =
    (0L until 200L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian().toFloat))

  private def cosineLocal(a: Seq[Float], b: Seq[Float]): Double = {
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
    dot / (na * nb)
  }

  test("brute-force top-k matches a local oracle") {
    val corpus = corpusLocal.toDF("vec_id", "embedding")
    val queries = corpusLocal.take(3)
      .map { case (i, v) => (i, v) }.toDF("query_id", "qvec")
    val got = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 5)
      .select("query_id", "vec_id", "rank").as[(Long, Long, Int)]
      .collect().groupBy(_._1)
      .map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).toSeq }

    corpusLocal.take(3).foreach { case (qid, qv) =>
      val expected = corpusLocal
        .map { case (i, v) => (i, cosineLocal(qv, v)) }
        .sortBy { case (i, c) => (-c, i) }.take(5).map(_._1)
      assert(got(qid) == expected, s"query $qid")
    }
  }

  test("self-similarity ranks first with cosine 1") {
    val corpus = corpusLocal.toDF("vec_id", "embedding")
    val queries = corpusLocal.take(1).toDF("query_id", "qvec")
    val top = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 1).first()
    assert(top.getAs[Long]("vec_id") == 0L)
    assert(math.abs(top.getAs[Double]("cosine_sim") - 1.0) < 1e-6)
  }

  test("ivfTopKPortable at nprobe = nlist equals bruteForceTopK row for row") {
    val corpus = corpusLocal.toDF("vec_id", "embedding")
    val queries = corpusLocal.take(5).toDF("query_id", "qvec")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "cosine_sim", "rank")
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    val bf = rows(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 10))
    val ivf = rows(Similarity.ivfTopKPortable(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 10,
      nlist = 8, nprobe = 8))
    assert(bf.size == 50)
    assert(ivf == bf)
  }

  test("quantizeInt8: matches the scalar definition; bounded roundtrip error") {
    val vecs = Seq(
      1L -> Seq(1.0f, -0.5f, 0.25f, 0.0f),
      2L -> Seq(0.0f, 0.0f, 0.0f, 0.0f), // zero vector -> scale 0, codes 0
      3L -> Seq(-2.0f, 2.0f, 1.0f, -1.0f))
    val got = Similarity.quantizeInt8(vecs.toDF("vec_id", "embedding"),
        "vec_id", "embedding")
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap

    for ((id, v) <- vecs) {
      val maxabs = v.map(x => math.abs(x.toDouble)).max
      val scale = maxabs / 127.0
      val rows = got(id)
      assert(rows.map(_._2).toSeq == (0 until v.length))
      for (((_, d, code, s), x) <- rows.zip(v)) {
        val expect =
          if (scale == 0.0) 0L
          else math.floor(x.toDouble / scale + 0.5).toLong
        assert(code == expect, s"vec $id dim $d")
        assert(s == scale)
        assert(math.abs(code) <= 127L)
        // dequantization error bound: |code*scale - x| <= scale/2
        assert(math.abs(code * scale - x.toDouble) <= scale / 2 + 1e-12)
      }
    }
  }

  /** Local mirror of the quantized-cosine definition: int8 codes via
    * round-half-up, exact integer dot/norms, one double divide.
    */
  private def quantizedCosineLocal(a: Seq[Float], b: Seq[Float]): Double = {
    def codes(v: Seq[Float]): Seq[Long] = {
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      if (scale == 0.0) v.map(_ => 0L)
      else v.map(x => math.floor(x.toDouble / scale + 0.5).toLong)
    }
    val (ca, cb) = (codes(a), codes(b))
    val dot = ca.zip(cb).map { case (x, y) => x * y }.sum
    val (na, nb) = (ca.map(x => x * x).sum, cb.map(x => x * x).sum)
    if (na * nb == 0L) 0.0 else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  test("quantizedTopK matches the local integer-dot oracle; close to float cosine") {
    val corpus = corpusLocal.toDF("vec_id", "embedding")
    val queries = corpusLocal.take(3).toDF("query_id", "qvec")
    val got = Similarity.quantizedTopK(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._4)).toMap

    corpusLocal.take(3).foreach { case (qid, qv) =>
      val expected = corpusLocal
        .map { case (i, v) => (i, quantizedCosineLocal(qv, v)) }
        .sortBy { case (i, c) => (-c, i) }.take(5)
      assert(got(qid).map(_._2).toSeq == expected.map(_._1), s"query $qid ids")
      got(qid).zip(expected).foreach { case ((_, _, s, _), (_, e)) =>
        assert(s == math.rint(e * 1e6) / 1e6, s"query $qid score")
        // int8 quantization keeps cosine within ~1% on gaussian vectors
      }
      val topFloat = corpusLocal.map { case (i, v) => (i, cosineLocal(qv, v)) }
        .sortBy { case (i, c) => (-c, i) }.take(5)
      got(qid).zip(topFloat).foreach { case ((_, _, s, _), (_, f)) =>
        assert(math.abs(s - f) < 0.02, s"query $qid quantization drift")
      }
    }
  }

  test("quantizedTopK: zero vectors score 0 and self-sim is exactly 1") {
    val vecs = Seq(
      0L -> Seq(0.0f, 0.0f, 0.0f),
      1L -> Seq(1.0f, 2.0f, -1.0f),
      2L -> Seq(-1.0f, 0.5f, 3.0f))
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = vecs.toDF("query_id", "qvec")
    val got = Similarity.quantizedTopK(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 3)
      .as[(Long, Long, Double, Int)].collect()
    // every pair involving the zero vector scores exactly 0
    assert(got.filter(r => r._1 == 0L || r._2 == 0L).forall(_._3 == 0.0))
    // self-similarity is exactly 1 (integer dot == product of norms)
    assert(got.filter(r => r._1 == r._2 && r._1 != 0L).forall(_._3 == 1.0))
  }

  test("labelCentroidMargin: planted outlier flagged, core members positive") {
    // label 0 clusters at (1,0); label 1 at (-1,0); vec 5 carries
    // label 0 but sits at label 1's centroid -> negative margin
    val vecs = Seq(
      (0L, Seq(1.0f, 0.1f), 0), (1L, Seq(1.1f, -0.1f), 0), (2L, Seq(0.9f, 0.0f), 0),
      (3L, Seq(-1.0f, 0.1f), 1), (4L, Seq(-1.1f, -0.1f), 1),
      (5L, Seq(-1.0f, 0.0f), 0) // mislabeled
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidMargin(vecs, "vec_id", "embedding", "label")
      .as[(Long, Int, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(5L)._2, "planted mislabel must be suspect")
    assert(got(5L)._1 < 0)
    for (i <- Seq(0L, 1L, 3L, 4L)) {
      assert(!got(i)._2, s"core member $i wrongly flagged")
      assert(got(i)._1 > 0)
    }
  }

  test("quantizedTopK plan broadcasts the query side, no corpus shuffle before topk") {
    val corpus = corpusLocal.toDF("vec_id", "embedding")
    val queries = corpusLocal.take(3).toDF("query_id", "qvec")
    val plan = Similarity.quantizedTopK(corpus, queries,
      "vec_id", "embedding", "query_id", "qvec", k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"))
  }

  test("retrieval eval: MRR and NDCG@k from hand-checked ranking") {
    // labels: A={1,4}, B={2,3}, C={5}; query 1 ranks 2(B),4(A),5(C)
    // in its top-3 → first relevant at rank 2; query 5's label is
    // unique → all-zero metrics by contract
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), "A"), (2L, Seq(0.9f, 0.1f), "B"),
      (3L, Seq(0.0f, 1.0f), "B"), (4L, Seq(0.8f, 0.2f), "A"),
      (5L, Seq(0.5f, 0.5f), "C")).toDF("vec_id", "embedding", "label")
    val queries = corpus.filter($"vec_id".isin(1L, 5L))
    val got = RetrievalEval.mrrNdcg(
        corpus, queries, "vec_id", "embedding", "label", k = 3)
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((1L, 0.5, 0.630929754)))
    assert(got(5L) == ((0L, 0.0, 0.0)))
  }

  test("retrieval eval: perfect retrieval scores 1.0") {
    // query 10's two same-label vectors are its two nearest; k=2 and
    // exactly 2 relevant in-corpus → dcg = idcg
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f), "A"), (11L, Seq(0.99f, 0.01f), "A"),
      (12L, Seq(0.98f, 0.02f), "A"), (13L, Seq(0.0f, 1.0f), "B"),
      (14L, Seq(0.1f, 0.9f), "B")).toDF("vec_id", "embedding", "label")
    val got = RetrievalEval.mrrNdcg(
        corpus, corpus.filter($"vec_id" === 10L),
        "vec_id", "embedding", "label", k = 2)
      .as[(Long, Long, Double, Double)].collect().head
    assert(got == ((10L, 2L, 1.0, 1.0)))
  }
}
