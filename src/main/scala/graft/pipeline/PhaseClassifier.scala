package graft.pipeline

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.functions.RiskFunctions
import graft.model.MlConstants._

/** Hybrid flight-phase classifier + centroid-distance anomaly detector
  * (B3–B7 in SURVEY.md §2.9; reference `src/combine_spark.py:180-391`).
  *
  * Pipeline: VectorAssembler(velocity, baro_altitude, vertical_rate) →
  * StandardScaler(withMean, withStd) → KMeans(k=3, seed=42, maxIter=20),
  * refit per batch. If the max pairwise centroid distance in scaled
  * space is < 1.0 the clusters are "not meaningful" and a rule-based
  * fallback labels the phases instead (`:224-241`, `:301-318`). Anomaly
  * scoring runs in BOTH modes (`:326-327`): features re-standardized
  * with the fitted scaler's μ/σ embedded as literals, Euclidean distance
  * to the row's own centroid, flagged when dist > mean + 2·stddev_samp.
  *
  * Driver-side work is O(k) only (centroids, μ/σ, one stats row) — the
  * same "fetch tiny stats → re-inject as literals" pattern the
  * reference uses (F13), which avoids a driver-blocking scalar
  * subquery. After the fit, one global aggregate yields everything
  * the driver needs: each cluster's size and mean altitude (for the
  * labels) and the distance μ/σ (for the anomaly threshold). KMeans
  * iterates over the input, so it is pinned with a lazy
  * `localCheckpoint`: the row count materializes it in the same job,
  * and its blocks are released with the frame instead of staying
  * cached after the call.
  */
object PhaseClassifier {

  private val featureCols = PhaseFeatures // velocity, baro_altitude, vertical_rate
  private val phaseNames = Array("Takeoff / Landing", "Climb / Descent", "Cruise")

  /** Adds flight_phase, flight_phase_id, is_anomaly, anomaly_score.
    * Internal ML columns are dropped before return (`:387`).
    */
  def enrich(input: DataFrame): DataFrame = {
    val spark = input.sparkSession
    val df = input.localCheckpoint(eager = false)
    val n = df.count()

    if (n == 0) {
      // Degenerate: empty batch — emit schema-complete empty result
      // (pinned semantic; the reference would crash, SURVEY.md §7.4).
      return df
        .withColumn("flight_phase", lit(null).cast("string"))
        .withColumn("flight_phase_id", lit(null).cast(IntegerType))
        .withColumn("anomaly_score", lit(null).cast("double"))
        .withColumn("is_anomaly", lit(false))
    }

    // Null-safe features (reference coalesces to 0.0, `:193-195`)
    val withFeatures = featureCols.foldLeft(df) { (d, c) =>
      d.withColumn(s"_ml_$c", coalesce(col(c), lit(0.0)))
    }

    if (n < KClusters) {
      // Too few rows to fit k=3 — rule fallback, no anomaly stats
      // possible beyond the n<=1 stddev-null rule.
      return ruleLabeled(withFeatures)
        .transform(anomalyWithoutModel)
        .drop(featureCols.map("_ml_" + _).toIndexedSeq: _*)
    }

    val assembler = new VectorAssembler()
      .setInputCols(featureCols.map("_ml_" + _))
      .setOutputCol("_ml_features_raw")
    val scaler = new StandardScaler()
      .setWithMean(true).setWithStd(true)
      .setInputCol("_ml_features_raw").setOutputCol("_ml_features")
    val kmeans = new KMeans()
      .setK(KClusters).setSeed(KMeansSeed).setMaxIter(KMeansMaxIter)
      .setFeaturesCol("_ml_features").setPredictionCol("_ml_cluster_id")

    val model = new Pipeline().setStages(Array(assembler, scaler, kmeans))
      .fit(withFeatures)
    val scalerModel = model.stages(1).asInstanceOf[StandardScalerModel]
    val kmeansModel = model.stages(2).asInstanceOf[KMeansModel]
    val centroids = kmeansModel.clusterCenters.map(_.toArray)

    val clustered = model.transform(withFeatures).withColumn("_dist_to_centroid",
      centroidDistance(scalerModel.mean.toArray, scalerModel.std.toArray, centroids))

    // the one stats pass: per cluster (size, mean altitude), then μ, σ
    val stats = clustered.select(centroids.indices.flatMap { cid =>
      val in = col("_ml_cluster_id") === cid
      Seq(count(when(in, 1)), avg(when(in, col("baro_altitude"))))
    } ++ distStats: _*).first()

    val labeled =
      if (clustersAreMeaningful(centroids)) {
        val clusters = centroids.indices.map { cid =>
          (cid, stats.getLong(2 * cid),
            if (stats.isNullAt(2 * cid + 1)) None else Some(stats.getDouble(2 * cid + 1)))
        }
        kmeansLabeled(clustered, phaseByCluster(clusters))
      } else ruleLabeled(clustered)

    flagged(labeled, threshold(stats, 2 * centroids.length)).drop(
      (featureCols.map("_ml_" + _) ++
        Seq("_ml_features_raw", "_ml_features", "_ml_cluster_id",
          "_dist_to_centroid")).toIndexedSeq: _*)
  }

  /** B4 — max pairwise centroid L2 distance in scaled space must reach
    * MinCentroidSeparation (reference `:224-241`).
    */
  def clustersAreMeaningful(centroids: Array[Array[Double]]): Boolean = {
    val maxDist = (for {
      i <- centroids.indices
      j <- centroids.indices if j > i
    } yield math.sqrt(
      centroids(i).zip(centroids(j)).map { case (a, b) => (a - b) * (a - b) }.sum
    )).foldLeft(0.0)(math.max)
    maxDist >= MinCentroidSeparation
  }

  /** B5 — rank clusters by ascending avg altitude: lowest → Takeoff /
    * Landing, highest → Cruise, middle → Climb / Descent (`:247-284`).
    * Input is (cluster id, rows, avg altitude). A cluster with no rows
    * gets no label, one whose altitudes are all null ranks as 0.0, and
    * ties rank by cluster id.
    */
  private[pipeline] def phaseByCluster(
      clusters: Seq[(Int, Long, Option[Double])]): Map[Int, String] =
    clusters.collect { case (cid, rows, alt) if rows > 0 => (alt.getOrElse(0.0), cid) }
      .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
      .zipWithIndex.map { case ((_, cid), rank) =>
        cid -> phaseNames(math.min(rank, phaseNames.length - 1))
      }.toMap

  /** flight_phase from the cluster labels; flight_phase_id stays the raw
    * cluster id.
    */
  private def kmeansLabeled(
      clustered: DataFrame, labelByCluster: Map[Int, String]): DataFrame = {
    val labelExpr = labelByCluster.foldLeft(lit(null).cast("string")) {
      case (acc, (cid, name)) =>
        when(col("_ml_cluster_id") === cid, name).otherwise(acc)
    }
    clustered
      .withColumn("flight_phase", labelExpr)
      .withColumn("flight_phase_id", col("_ml_cluster_id").cast(IntegerType))
  }

  /** B6 — aeronautical threshold rules (`:301-318`). */
  private def ruleLabeled(df: DataFrame): DataFrame = {
    val phase = RiskFunctions.fallbackPhase(
      coalesce(col("baro_altitude"), lit(0.0)),
      coalesce(col("velocity"), lit(0.0)),
      coalesce(col("vertical_rate"), lit(0.0)))
    df.withColumn("flight_phase", phase)
      .withColumn("flight_phase_id", RiskFunctions.fallbackPhaseId(col("flight_phase")))
  }

  /** B7 — distance to own centroid in scaled space, μ/σ/centroids as
    * literals (F13 pattern, `:333-388`).
    */
  private def centroidDistance(
      mean: Array[Double],
      std: Array[Double],
      centroids: Array[Array[Double]]): Column = {
    // scaled_j = (x_j - μ_j) / σ_j ; σ==0 → Spark yields null/inf like
    // the reference's float division.
    val scaled: Array[Column] = featureCols.zipWithIndex.map { case (c, j) =>
      (col(s"_ml_$c") - lit(mean(j))) / lit(std(j))
    }
    // centroid_j of the row's own cluster — piecewise lookup (`:341-351`)
    def centroidCoord(j: Int): Column =
      centroids.indices.foldLeft(lit(null).cast("double")) { (acc, cid) =>
        when(col("_ml_cluster_id") === cid, lit(centroids(cid)(j))).otherwise(acc)
      }
    val dist2 = scaled.zipWithIndex.map { case (s, j) =>
      val d = s - centroidCoord(j)
      d * d
    }.reduce(_ + _)
    sqrt(dist2)
  }

  /** Rule-mode anomaly when no model could be fit (n<k): distance in
    * raw feature space to the batch mean, same μ+2σ flag.
    */
  private def anomalyWithoutModel(df: DataFrame): DataFrame = {
    val dist2 = featureCols.map { c =>
      val d = col(s"_ml_$c")
      d * d
    }.reduce(_ + _)
    val withDist = df.withColumn("_dist_to_centroid", sqrt(dist2))
    flagged(withDist, threshold(withDist.select(distStats: _*).first(), 0))
      .drop("_dist_to_centroid")
  }

  /** μ and σ of the centroid distance, read back by `threshold`. */
  private def distStats: Seq[Column] =
    Seq(avg(col("_dist_to_centroid")), stddev_samp(col("_dist_to_centroid")))

  /** A2: threshold = μ + AnomalySigma · σ from the `distStats` pair at
    * `at`; σ is null when n≤1 → no threshold (pinned; SURVEY.md §7.4).
    */
  private def threshold(stats: Row, at: Int): Option[Double] =
    if (stats.isNullAt(at) || stats.isNullAt(at + 1)) None
    else Some(stats.getDouble(at) + AnomalySigma * stats.getDouble(at + 1))

  /** Flag: anomalous when the distance exceeds the threshold; nothing is
    * anomalous without one.
    */
  private def flagged(withDist: DataFrame, threshold: Option[Double]): DataFrame = {
    withDist
      .withColumn("anomaly_score", round(col("_dist_to_centroid"), 4))
      .withColumn("is_anomaly",
        threshold.map(t => coalesce(col("_dist_to_centroid") > lit(t), lit(false)))
          .getOrElse(lit(false)))
  }
}
