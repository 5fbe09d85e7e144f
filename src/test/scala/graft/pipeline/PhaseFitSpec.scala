package graft.pipeline

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.{KMeans => MlKMeans, KMeansModel => MlKMeansModel}
import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.MlConstants._

/** `PhaseClassifier.fit` against the ML pipeline it replaced, kept here
  * as the test-only reference: `Pipeline(VectorAssembler,
  * StandardScaler(withMean, withStd), KMeans(k=3, seed=42,
  * maxIter=20))`. On seeded single-partition batches the two must agree
  * bit for bit on μ, σ, the cluster centers and every row's cluster id.
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

  for (kind <- Seq("dense", "one constant column", "two constant columns", "mostly zero",
      "duplicates")) {
    test(s"fit equals the ML pipeline bit for bit: $kind batches") {
      for (seed <- 1 to 5) {
        val rows = batch(kind, seed * 7919 + kind.length)
        val f = PhaseClassifier.features(rows.toDF(PhaseFeatures.toIndexedSeq: _*).coalesce(1))
        val ml = reference.fit(f)
        val scaler = ml.stages(1).asInstanceOf[StandardScalerModel]
        val km = ml.stages(2).asInstanceOf[MlKMeansModel]
        val got = PhaseClassifier.fit(f)
        val clue = s"$kind seed $seed, n=${rows.size}"
        assert(got.rows == rows.size, clue)
        assert(bits(got.mean) == bits(scaler.mean.toArray), clue)
        assert(bits(got.std) == bits(scaler.std.toArray), clue)
        assert(got.kmeans.get.clusterCenters.map(c => bits(c.toArray)).toSeq ==
          km.clusterCenters.map(c => bits(c.toArray)).toSeq, clue)
        assert(f.select(got.clusterId).as[Int].collect().toSeq ==
          ml.transform(f).select("_ml_cluster_id").as[Int].collect().toSeq, clue)
      }
    }
  }
}
