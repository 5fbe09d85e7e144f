package graft.pipeline

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.{KMeans => MlKMeans, KMeansModel => MlKMeansModel}
import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.MlConstants._

/** `PhaseClassifier.fit` against the ML pipeline it replaced, kept here
  * as the test-only reference: `Pipeline(VectorAssembler,
  * StandardScaler(withMean, withStd), KMeans(k=3, seed=42,
  * maxIter=20))`. ML KMeans runs the distributed `KMeans.run`, so on a
  * batch at or below `LocalFitMaxRows` this also holds the driver-side
  * solver to the distributed one.
  */
class PhaseFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def reference = {
    val cols = PhaseFeatures.map("_ml_" + _)
    new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(cols).setOutputCol("_ml_features_raw"),
      new StandardScaler().setWithMean(true).setWithStd(true)
        .setInputCol("_ml_features_raw").setOutputCol("_ml_features"),
      new MlKMeans().setK(KClusters).setSeed(KMeansSeed).setMaxIter(KMeansMaxIter)
        .setFeaturesCol("_ml_features").setPredictionCol("_ml_cluster_id")))
  }

  private type Feat = (Double, Double, Double)

  /** A seeded batch of 3 to 600 (velocity, baro_altitude, vertical_rate)
    * rows of one shape.
    */
  private def batch(kind: String, seed: Int): Seq[Feat] = {
    val r = new scala.util.Random(seed)
    val n = 3 + r.nextInt(598)
    def row(): Feat =
      (200 + 40 * r.nextGaussian(), 6000 + 3000 * r.nextGaussian(), 5 * r.nextGaussian())
    kind match {
      case "dense" => Seq.fill(n)(row())
      case "one constant column" => Seq.fill(n)(row()).map { case (v, _, vr) => (v, 11000.0, vr) }
      case "two constant columns" => Seq.fill(n)(row()).map { case (_, a, _) => (230.0, a, 0.0) }
      case "mostly zero" => Seq.fill(n) {
        val (v, a, vr) = row()
        r.nextInt(5) match {
          case 0 => (v, a, vr)
          case 1 => (0.0, a, 0.0)
          case _ => (0.0, 0.0, 0.0)
        }
      }
      case "duplicates" =>
        val distinct = Seq.fill(1 + r.nextInt(1 + n / 10))(row())
        Seq.fill(n)(distinct(r.nextInt(distinct.size)))
    }
  }

  private def bits(a: Array[Double]): Seq[Long] =
    a.toSeq.map(java.lang.Double.doubleToLongBits)

  /** `f` (`features(rows)`) on one partition, or on four with the second
    * one empty.
    */
  private def frame(rows: Seq[Feat], partitions: Int): DataFrame = {
    val sc = spark.sparkContext
    val (head, tail) = rows.splitAt(rows.size / 3)
    val df =
      if (partitions == 1) rows.toDF(PhaseFeatures.toIndexedSeq: _*).coalesce(1)
      else (sc.parallelize(head, 1) ++ sc.parallelize(Seq.empty[Feat], 1) ++
        sc.parallelize(tail, 2)).toDF(PhaseFeatures.toIndexedSeq: _*)
    assert(df.rdd.getNumPartitions == partitions)
    PhaseClassifier.features(df)
  }

  /** `got`, fitted to `f`, against the ML pipeline fitted to it: every
    * row's cluster id equal, and μ, σ and the centers bit for bit on one
    * partition. On several, the distributed solver merges its partial
    * sums in task completion order, so there they agree within 1e-12.
    */
  private def assertMatchesReference(f: DataFrame, got: PhaseClassifier.PhaseModel,
      clue: String): Unit = {
    val ml = reference.fit(f)
    val scaler = ml.stages(1).asInstanceOf[StandardScalerModel]
    val km = ml.stages(2).asInstanceOf[MlKMeansModel]
    val exact = f.rdd.getNumPartitions == 1
    def same(a: Array[Double], b: Array[Double]): Boolean =
      if (exact) bits(a) == bits(b)
      else a.length == b.length &&
        a.indices.forall(i => math.abs(a(i) - b(i)) <= 1e-12 * math.max(1.0, math.abs(b(i))))
    assert(same(got.mean, scaler.mean.toArray), clue)
    assert(same(got.std, scaler.std.toArray), clue)
    val centers = got.kmeans.get.clusterCenters
    assert(centers.length == km.clusterCenters.length, clue)
    assert(centers.indices.forall(j => same(centers(j).toArray, km.clusterCenters(j).toArray)),
      clue)
    assert(f.select(got.clusterId).as[Int].collect().toSeq ==
      ml.transform(f).select("_ml_cluster_id").as[Int].collect().toSeq, clue)
  }

  for (kind <- Seq("dense", "one constant column", "two constant columns", "mostly zero",
      "duplicates"); partitions <- Seq(1, 4)) {
    val name =
      if (partitions == 1) s"fit equals the ML pipeline bit for bit: $kind batches"
      else s"fit equals the ML pipeline on four partitions, one of them empty: $kind batches"
    test(name) {
      for (seed <- 1 to 5) {
        val rows = batch(kind, seed * 7919 + kind.length)
        val f = frame(rows, partitions)
        val got = PhaseClassifier.fit(f)
        val clue = s"$kind seed $seed, n=${rows.size}"
        assert(got.rows == rows.size, clue)
        assertMatchesReference(f, got, clue)
      }
    }
  }

  test("fit equals the ML pipeline at the local bound and one row past it") {
    import org.apache.spark.sql.functions.randn
    val bound = PhaseClassifier.LocalFitMaxRows
    def batch(n: Long) = PhaseClassifier.features(spark.range(0, n, 1, 1).select(
      (randn(11) * 40 + 200).as("velocity"),
      (randn(12) * 3000 + 6000).as("baro_altitude"),
      (randn(13) * 5).as("vertical_rate")))

    val atBound = batch(bound)
    val (local, localJobs) =
      TestSpark.withJobs("phase-fit-at-bound")(PhaseClassifier.fit(atBound))
    // one job for the count/μ/σ pass, one for the collect
    assert(localJobs == 2)
    assertMatchesReference(atBound, local, s"n=$bound")

    val pastBound = batch(bound + 1)
    val (distributed, distributedJobs) =
      TestSpark.withJobs("phase-fit-past-bound")(PhaseClassifier.fit(pastBound))
    // the k-means|| init alone runs six jobs on the cluster
    assert(distributedJobs >= 8)
    assertMatchesReference(pastBound, distributed, s"n=${bound + 1}")
  }
}
