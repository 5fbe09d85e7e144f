package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextFunctionsSpec extends AnyFunSuite {

  test("unicode NFC collapses composed and decomposed forms to one hash") {
    import graft.functions.expressions.TextExpressions.unicode_normalize
    val spark0 = graft.TestSpark.spark
    import spark0.implicits._
    import org.apache.spark.sql.functions.{encode, sha2}
    val composed = "caf\u00e9"      // é precomposed
    val decomposed = "cafe\u0301"  // e + combining acute
    val hashes = Seq(composed, decomposed).toDF("t")
      .select(sha2(encode(unicode_normalize($"t", "NFC"), "UTF-8"), 256))
      .as[String].collect()
    assert(hashes(0) == hashes(1))
    // without normalization the byte sequences differ
    val raw = Seq(composed, decomposed).toDF("t")
      .select(sha2(encode($"t", "UTF-8"), 256)).as[String].collect()
    assert(raw(0) != raw(1))
  }
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one[T](text: String, c: org.apache.spark.sql.Column): T =
    Seq(text).toDF("text").select(c.as("r")).first().getAs[T]("r")

  test("token counts: regex and arithmetic agree on single-spaced text") {
    val texts = Seq("a b c", "one", "", "x y z w v")
    texts.filter(_.nonEmpty).foreach { t =>
      assert(one[Int](t, TextFunctions.tokenCount(col("text"))) ==
        one[Int](t, TextFunctions.tokenCountArithmetic(col("text"))), t)
    }
    assert(one[Int]("", TextFunctions.tokenCount(col("text"))) == 0)
    assert(one[Int]("a  b", TextFunctions.tokenCount(col("text"))) == 2)
  }

  private val langOf =
    TextFunctions.langIdFrom(TextFunctions.tokens(lower(col("text"))))

  test("language id picks the marked language") {
    assert(one[String]("the cat and the dog is here", langOf) == "en")
    assert(one[String]("le chat et la maison est grande", langOf) == "fr")
    assert(one[String]("der hund und die katze ist hier", langOf) == "de")
    assert(one[String]("xyzzy plugh qwerty", langOf) == "und")
  }

  test("quality score penalizes junk") {
    val clean = "the quick brown fox jumps over the lazy dog and it is fine"
    val shouty = "BUY NOW!!! CLICK HERE!!! FREE $$$ WIN BIG!!!"
    val score = TextFunctions.qualityScoreFrom(col("text"),
      TextFunctions.tokens(lower(col("text"))))
    val qClean = one[Double](clean, score)
    val qShout = one[Double](shouty, score)
    assert(qClean > qShout)
    assert(qClean >= 0.0 && qClean <= 1.0 && qShout >= 0.0)
  }

  test("portable fingerprint matches the pinned DuckDB fold values") {
    // expected values computed independently in DuckDB:
    //   list_reduce(list_prepend(1469598103934665603::HUGEINT,
    //     list_transform(toks, x -> md5_number_lower(x)::HUGEINT)),
    //     (a,b) -> (a*1099511628211 + b) % 2^64), re-signed
    val got = one[Long]("hello world",
      TextFunctions.portableFingerprintFrom(
        TextFunctions.tokens(col("text"))))
    assert(got == -8937690213936578131L)
    val empty = one[Long]("",
      TextFunctions.portableFingerprintFrom(
        TextFunctions.tokens(col("text"))))
    assert(empty == 1469598103934665603L)
    // order-sensitive
    val rev = one[Long]("world hello",
      TextFunctions.portableFingerprintFrom(
        TextFunctions.tokens(col("text"))))
    assert(rev != got)
  }

  test("shingles: word 2-grams") {
    val wd = one[collection.Seq[String]]("a b c", TextFunctions.wordShingles(col("text"), 2))
    assert(wd.toSet == Set("a b", "b c"))
  }

  test("jaccard of shingle arrays") {
    val df = Seq(("a b c d", "a b c e")).toDF("t1", "t2")
    val j = df.select(TextFunctions.jaccard(
      TextFunctions.wordShingles(col("t1"), 1),
      TextFunctions.wordShingles(col("t2"), 1)).as("j"))
      .first().getDouble(0)
    assert(math.abs(j - 3.0 / 5.0) < 1e-9)
  }

  test("punct and upper ratios") {
    assert(one[Double]("abc!", TextFunctions.punctRatio(col("text"))) == 0.25)
    assert(one[Double]("Abcd", TextFunctions.upperRatio(col("text"))) == 0.25)
  }

  private def toksOf(c: org.apache.spark.sql.Column) =
    TextFunctions.tokens(lower(c))

  test("repetition signals: distinct ratio, top-token fraction, dup bigrams") {
    // "a a a b": 4 tokens, 2 distinct; top token a = 3/4;
    // bigrams (a a),(a a),(a b): 3 total, 2 distinct → dup ratio 1/3
    val t = "a a a b"
    assert(one[Double](t, TextFunctions.distinctTokenRatio(toksOf(col("text")))) == 0.5)
    assert(one[Double](t, TextFunctions.topTokenFraction(toksOf(col("text")))) == 0.75)
    assert(math.abs(one[Double](t,
      TextFunctions.dupBigramRatio(toksOf(col("text")))) - 1.0 / 3.0) < 1e-9)
    // no repetition → ratios at their clean extremes
    val clean = "one two three four"
    assert(one[Double](clean, TextFunctions.distinctTokenRatio(toksOf(col("text")))) == 1.0)
    assert(one[Double](clean, TextFunctions.topTokenFraction(toksOf(col("text")))) == 0.25)
    assert(one[Double](clean, TextFunctions.dupBigramRatio(toksOf(col("text")))) == 0.0)
    // degenerate single-token / empty inputs
    assert(one[Double]("word", TextFunctions.dupBigramRatio(toksOf(col("text")))) == 0.0)
  }

  test("PII scrub replaces emails, urls, and long digit runs") {
    val dirty = "mail a.user+tag@sub.example.co.uk or visit " +
      "https://example.com/p?q=1&r=2 call 0123456789 ext 123 done"
    val clean = one[String](dirty, TextFunctions.scrubPii(col("text")))
    assert(clean == "mail <EMAIL> or visit <URL> call <NUM> ext 123 done")
    // short digit runs and plain text survive
    assert(one[String]("room 42 at 10:30", TextFunctions.scrubPii(col("text")))
      == "room 42 at 10:30")
  }
  test("levenshteinExact matches the built-in on random and adversarial pairs") {
    val spark0 = graft.TestSpark.spark
    import spark0.implicits._
    // deterministic generator: token soups with planted edits at every
    // rung of the ladder (0, 1-2, ~5, ~20, ~60, ~200 edits) plus
    // length-skewed and empty/degenerate pairs
    val rnd = new scala.util.Random(4242)
    def word() = rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString
    def text(n: Int) = Seq.fill(n)(word()).mkString(" ")
    def mutate(s: String, edits: Int): String = {
      val sb = new StringBuilder(s)
      for (_ <- 1 to edits if sb.nonEmpty) rnd.nextInt(3) match {
        case 0 => sb.setCharAt(rnd.nextInt(sb.length), word().head)
        case 1 => sb.deleteCharAt(rnd.nextInt(sb.length))
        case 2 => sb.insert(rnd.nextInt(sb.length + 1), word().head)
      }
      sb.toString
    }
    val pairs = (for (_ <- 1 to 40; e <- Seq(0, 1, 2, 5, 20, 60, 200)) yield {
      val a = text(10 + rnd.nextInt(60))
      (a, mutate(a, e))
    }) ++ Seq(("", ""), ("", "abc"), ("abc", ""), ("a", text(100)),
      (text(100), "a"), ("identical twin", "identical twin"))
    val got = pairs.toDF("a", "b").select(
      graft.functions.TextFunctions.levenshteinExact($"a", $"b").as("fast"),
      levenshtein($"a", $"b").as("full")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"ladder ${r.getInt(0)} != full DP ${r.getInt(1)}"))
  }

  test("compiled kernels through the Column API") {
    import graft.functions.expressions.TextExpressions._
    val row = spark.range(1).select(
      word_shingles(array(lit("a"), lit("b"), lit("c")), 2).as("ws"),
      size(portable_minhash_sig(array(lit("x"), lit("y")), 16)).as("sig_len"),
      portable_simhash60(array(lit("tok"))).as("sh"),
      dot_product(array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("dot"),
      round(cosine_sim(array(lit(1.0), lit(0.0)), array(lit(1.0), lit(0.0))), 6).as("cos"),
      portable_fingerprint(array(lit("a"), lit("b"))).as("fp"),
      unicode_normalize(lit("e\u0301"), "NFC").as("nfc"),
      interleave_bits(lit(3L), lit(5L), 8).as("z")).first()
    assert(row.getAs[collection.Seq[String]]("ws").toSet == Set("a b", "b c"))
    assert(row.getAs[Int]("sig_len") == 16)
    assert(row.getAs[Long]("sh") != 0L)
    assert(row.getAs[Double]("dot") == 11.0)
    assert(row.getAs[Double]("cos") == 1.0)
    assert(row.getAs[Long]("fp") != 0L)
    assert(row.getAs[String]("nfc") == "\u00e9") // e + combining acute → é
    assert(row.getAs[Long]("z") == 39L) // (3,5) interleaved, a on even bits
  }

  test("double-vector kernels give NULL for ragged or null-element vectors") {
    import graft.functions.expressions.TextExpressions._
    val spark0 = TestSpark.spark
    import spark0.implicits._
    val cells = Seq(Seq(0.0, 0.0), Seq(1.0, 1.0))
    val out = Seq(
      (Seq(Some(1.0), Some(2.0), Some(3.0)), Seq(Some(1.0), Some(2.0))),
      (Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))),
      (Seq.empty[Option[Double]], Seq.empty[Option[Double]]),
      (Seq(Some(0.9), Some(1.2)), Seq(Some(1.0), Some(1.0))))
      .toDF("a", "b")
      .select(dot_product($"a", $"b"), cosine_sim($"a", $"b"), nearest_centroid($"a", cells),
        aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
      .collect()
    // dot product: the zip_with fold's value, NULL included
    out.foreach(r => assert(Option(r.get(0)) == Option(r.get(3))))
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && out(2).getDouble(0) == 0.0)
    assert(out(0).isNullAt(1) && out(1).isNullAt(1) && out(2).getDouble(1) == 0.0)
    assert(out(3).getDouble(0) == 0.9 + 1.2)
    // nearest centroid: NULL unless the vector has the centroids' length
    // and no null element
    assert((0 to 2).forall(out(_).isNullAt(2)) && out(3).getInt(2) == 1)
    // non-null literal arrays of different lengths: nullable and NULL
    val lits = spark0.range(1).select(
      dot_product(array(lit(1.0)), array(lit(1.0), lit(2.0))),
      cosine_sim(array(lit(1.0)), array(lit(1.0), lit(2.0))),
      nearest_centroid(array(lit(1.0)), cells))
    assert(lits.schema.forall(_.nullable))
    val r = lits.first()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }
}
