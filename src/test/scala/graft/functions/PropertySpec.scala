package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.functions.expressions.TextExpressions

/** Property-based checks (batched per property: ONE Spark job over all
  * generated cases, not one job per case).
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val latGen = Gen.choose(-89.0, 89.0)
  private val lonGen = Gen.choose(-179.0, 179.0)

  test("haversine: symmetry, non-negativity, bounded by half circumference") {
    val cases = (for {
      a <- Gen.listOfN(64, Gen.zip(latGen, lonGen, latGen, lonGen))
    } yield a).sample.get
    val df = cases.toDF("lat1", "lon1", "lat2", "lon2")
      .select(
        GeoFunctions.haversineKm($"lat1", $"lon1", $"lat2", $"lon2").as("ab"),
        GeoFunctions.haversineKm($"lat2", $"lon2", $"lat1", $"lon1").as("ba"))
    df.collect().foreach { r =>
      val (ab, ba) = (r.getDouble(0), r.getDouble(1))
      assert(ab >= 0.0)
      assert(ab <= math.Pi * GeoFunctions.EarthRadiusKm + 1e-6)
      assert(math.abs(ab - ba) <= 1e-9 * math.max(1.0, ab))
    }
  }

  test("risk score: monotone in each input, always in [0, 130]") {
    val gen = Gen.zip(Gen.choose(0.0, 130.0), Gen.choose(0.0, 130.0),
      Gen.choose(0.0, 12.0), Gen.choose(0.0, 20000.0), Gen.choose(0.0, 100.0))
    val cases = Gen.listOfN(128, gen).sample.get
    val df = cases.toDF("code", "gusts", "precip", "vis", "cloud")
      .select(RiskFunctions.riskScore($"code", $"gusts", $"precip", $"vis",
        $"cloud", lit(false), lit(10000.0)).as("s"),
        // worsen every input: score must not decrease
        RiskFunctions.riskScore($"code" + 100, $"gusts" + 100, $"precip" + 100,
          $"vis" * 0, $"cloud" + 100, lit(false), lit(0.0)).as("worse"))
    df.collect().foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 130)
      assert(r.getInt(1) >= r.getInt(0))
    }
  }

  test("minhash similarity estimate correlates with true jaccard") {
    // pairs of token lists with controlled overlap
    val vocab = (0 until 60).map(i => s"w$i")
    val cases = (0 to 10).map { k =>
      val shared = vocab.take(k * 5)
      val a = shared ++ vocab.slice(60 - 5, 60)
      val b = shared ++ vocab.slice(50, 55)
      (a.mkString(" "), b.mkString(" "))
    }
    val df = cases.toDF("ta", "tb")
      .withColumn("sha", TextFunctions.wordShingles(col("ta"), 1))
      .withColumn("shb", TextFunctions.wordShingles(col("tb"), 1))
      .withColumn("true_j", TextFunctions.jaccard(col("sha"), col("shb")))
      .withColumn("siga", TextExpressions.portable_minhash_sig(col("sha"), 128))
      .withColumn("sigb", TextExpressions.portable_minhash_sig(col("shb"), 128))
      .withColumn("est_j",
        size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
          x => x)).cast("double") / 128.0)
    df.collect().foreach { r =>
      val (tj, ej) = (r.getAs[Double]("true_j"), r.getAs[Double]("est_j"))
      assert(math.abs(tj - ej) < 0.2, s"true=$tj est=$ej")
    }
  }

  test("simhash: hamming distance shrinks as overlap grows") {
    val base = (0 until 40).map(i => s"tok$i")
    val variants = Seq(0, 5, 20, 40).map { replaced =>
      (base.drop(replaced) ++ (0 until replaced).map(i => s"other$i")).mkString(" ")
    }
    val df = variants.zipWithIndex.toDF("text", "i")
      .withColumn("sig", TextExpressions.portable_simhash60(
        TextFunctions.tokens(col("text"))))
    val sigs = df.orderBy("i").select("sig").as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0), sigs(1)) <= ham(sigs(0), sigs(2)))
    assert(ham(sigs(0), sigs(2)) <= ham(sigs(0), sigs(3)) + 5)
    assert(ham(sigs(0), sigs(0)) == 0)
  }

  test("cosine kernel: bilinear bounds and self-similarity") {
    val vecGen = Gen.listOfN(16, Gen.choose(-1.0f, 1.0f))
    val cases = Gen.listOfN(32, Gen.zip(vecGen, vecGen)).sample.get
      .filter { case (a, b) =>
        a.exists(x => math.abs(x) > 1e-3) && b.exists(x => math.abs(x) > 1e-3) }
    val df = cases.toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b")).as("ab"),
        VectorFunctions.cosine(col("a"), col("a")).as("aa"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    }
  }

  private val tokGen = Gen.listOf(Gen.oneOf(
    "a", "b", "the", "and", "of", "le", "la", "und", "x1", "zz", ""))

  test("jaccard kernel == interpreted array_intersect/union form") {
    val cases = Gen.listOfN(96, Gen.zip(tokGen, tokGen)).sample.get
    val df = cases.toDF("a", "b").select(
      TextExpressions.jaccard_sim($"a", $"b").as("kernel"),
      when(size(array_union($"a", $"b")) === 0, 0.0)
        .otherwise(size(array_intersect($"a", $"b")).cast("double")
          / size(array_union($"a", $"b"))).as("reference"))
    df.collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"kernel ${r.getDouble(0)} vs reference ${r.getDouble(1)}")
    }
  }

  test("word-set-count kernel == interpreted filter/isin form") {
    val words = Seq("the", "and", "le", "und")
    val cases = Gen.listOfN(96, tokGen).sample.get
    val df = cases.toDF("toks").select(
      TextFunctions.wordSetCount($"toks", words).as("kernel"),
      size(filter($"toks", t => t.isin(words: _*))).cast("int").as("reference"))
    df.collect().foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }
}
