package graft.pipeline

import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.stat.GraftSummarizerBridge
import org.apache.spark.mllib.clustering.{GraftKMeansBridge, KMeans, KMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType}

import graft.functions.RiskFunctions
import graft.model.MlConstants._

/** Hybrid flight-phase classifier + centroid-distance anomaly detector
  * (B3–B7 in SURVEY.md §2.9; reference `src/combine_spark.py:180-391`).
  *
  * Model: the features (velocity, baro_altitude, vertical_rate) are
  * standardized with the batch's mean and std, `(x − μ)·(1/σ)` with the
  * factor 0 where σ = 0 (StandardScaler withMean/withStd), and
  * clustered by K-means (k=3, seed 42, maxIter 20, k-means|| init),
  * refit per batch. If the max pairwise centroid distance in scaled
  * space is < 1.0 the clusters are "not meaningful" and a rule-based
  * fallback labels the phases instead (`:224-241`, `:301-318`). Anomaly
  * scoring runs in BOTH modes (`:326-327`): features re-standardized
  * with the fitted μ/σ embedded as literals, Euclidean distance to the
  * row's own centroid, flagged when dist > mean + 2·stddev_samp.
  *
  * The fit is the ML `Pipeline(VectorAssembler, StandardScaler,
  * KMeans)` without its side passes: the row count, μ and σ come from
  * one `treeAggregate` over Spark's own `SummarizerBuffer` (the buffer
  * `StandardScaler.fit` aggregates with), VectorAssembler still builds
  * the K-means input (and still rejects a NaN feature), and
  * `mllib.clustering.KMeans.run` is the row solver ML `KMeans.fit`
  * delegates to here. A batch of at most `LocalFitMaxRows` rows is
  * small work, so its scaled vectors are collected and
  * `GraftKMeansBridge` replays `KMeans.run` on the driver (as *F1
  * Query* runs small queries centrally); a larger batch runs
  * `KMeans.run` on the cluster. `PhaseFitSpec` checks μ, σ, the
  * centers and every row's cluster id against the ML pipeline (whose
  * KMeans is the distributed solver): bit for bit on one partition,
  * within 1e-12 on four with one empty, where the distributed solver
  * merges its partial sums in task completion order.
  *
  * Spark jobs per K-means batch: one for the count/μ/σ pass, which
  * also materializes the lazy `localCheckpoint` the solver reads; one
  * to collect the scaled vectors (on the cluster, the solver's own
  * instead: the k-means|| sampling, cost sums and candidate counts,
  * then one per Lloyd iteration until the centers move less than
  * 1e-4, 9 on a benchmark minute); and one global aggregate for
  * everything the driver needs: each cluster's size and mean altitude
  * (for the labels) and the distance μ/σ (for the anomaly
  * threshold). On a 1,000-state benchmark minute the traced enrich
  * step (join, fit, stats pass and write) runs 9 jobs, 17 with the
  * distributed solver and 24 with the ML pipeline, which spends four
  * more passes on the same fit (a separate count, StandardScaler's
  * aggregate, KMeans' solver-choice summary and its training summary's
  * cluster sizes). Driver-side work is otherwise O(k) (centroids,
  * μ/σ, one stats row) — the "fetch tiny stats → re-inject as
  * literals" pattern the reference uses (F13). The checkpoint's blocks
  * are released with the frame instead of staying cached after the
  * call.
  */
object PhaseClassifier {

  private val featureCols = PhaseFeatures // velocity, baro_altitude, vertical_rate
  private val phaseNames = Array("Takeoff / Landing", "Climb / Descent", "Cruise")

  /** The fitted phase model of one batch: its row count, the scaler's
    * μ and σ (empty without rows), and the K-means model (none when
    * the batch has fewer than k rows).
    */
  private[pipeline] final case class PhaseModel(
      rows: Long, mean: Array[Double], std: Array[Double], kmeans: Option[KMeansModel]) {

    /** StandardScalerModel's scale factor per feature: 1/σ, 0 where σ = 0. */
    def factor: Array[Double] = std.map(s => if (s == 0.0) 0.0 else 1.0 / s)

    /** The K-means cluster id of each row, from its `_ml_` features. */
    def clusterId: Column = ColumnBridge.column(ClusterIdExpr(
      featureCols.map(c => ColumnBridge.expression(col(s"_ml_$c"))).toSeq,
      mean.toSeq, factor.toSeq, kmeans.get))
  }

  /** Adds flight_phase, flight_phase_id, is_anomaly, anomaly_score.
    * Internal ML columns are dropped before return (`:387`).
    */
  def enrich(input: DataFrame): DataFrame = {
    val df = input.localCheckpoint(eager = false)
    val withFeatures = features(df)
    val model = fit(withFeatures)
    val internal = featureCols.map("_ml_" + _).toIndexedSeq

    if (model.rows == 0) {
      // Degenerate: empty batch — emit schema-complete empty result
      // (pinned semantic; the reference would crash, SURVEY.md §7.4).
      return df
        .withColumn("flight_phase", lit(null).cast("string"))
        .withColumn("flight_phase_id", lit(null).cast(IntegerType))
        .withColumn("anomaly_score", lit(null).cast("double"))
        .withColumn("is_anomaly", lit(false))
    }

    val kmeans = model.kmeans.getOrElse {
      // Too few rows to fit k=3 — rule fallback, no anomaly stats
      // possible beyond the n<=1 stddev-null rule.
      return ruleLabeled(withFeatures).transform(anomalyWithoutModel).drop(internal: _*)
    }
    val centroids = kmeans.clusterCenters.map(_.toArray)

    val clustered = withFeatures
      .withColumn("_ml_cluster_id", model.clusterId)
      .withColumn("_dist_to_centroid", centroidDistance(model.mean, model.std, centroids))

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

    flagged(labeled, threshold(stats, 2 * centroids.length))
      .drop(internal ++ Seq("_ml_cluster_id", "_dist_to_centroid"): _*)
  }

  /** Null-safe `_ml_` feature columns (the reference coalesces to 0.0,
    * `:193-195`).
    */
  private[pipeline] def features(df: DataFrame): DataFrame =
    featureCols.foldLeft(df) { (d, c) =>
      d.withColumn(s"_ml_$c", coalesce(col(c), lit(0.0)))
    }

  /** Largest batch whose phase model is fitted on the driver: the
    * scaled vectors of at most 100,000 rows × 3 doubles (≈ 2.4 MB) are
    * collected in one job and clustered by `GraftKMeansBridge`; a larger
    * batch runs `KMeans.run` on the cluster. On a 4-core local session,
    * over a checkpointed batch of four partitions, the whole fit took
    * 117 / 108 / 159 / 294 ms on the driver against 911 / 821 / 798 /
    * 908 ms distributed at 1k / 10k / 30k / 100k rows (medians of 9).
    */
  private[pipeline] val LocalFitMaxRows = 100000L

  /** Fits the phase model to a frame carrying the `_ml_` features.
    * μ and σ are kept as `StandardScalerModel` keeps them (compressed,
    * so a -0.0 reads back as 0.0). VectorAssembler fails the batch on a
    * NaN feature in the first pass, whatever the batch size. Batches of
    * at most `LocalFitMaxRows` rows are clustered on the driver, larger
    * ones by the distributed solver; both give the same model.
    */
  private[pipeline] def fit(withFeatures: DataFrame): PhaseModel = {
    val vectors = new VectorAssembler()
      .setInputCols(featureCols.map("_ml_" + _)).setOutputCol("_ml_features_raw")
      .transform(withFeatures).select("_ml_features_raw").rdd.map(_.getAs[Vector](0))
    val (rows, mean, std) = GraftSummarizerBridge.countMeanStd(vectors)
    val fitted = PhaseModel(rows, mean.compressed.toArray, std.compressed.toArray, None)
    if (rows < KClusters) return fitted

    val (mu, sigma, factor) = (fitted.mean, fitted.std, fitted.factor)
    val instances = vectors.map { v =>
      val z = standardized(v.toArray, mu, factor)
      // ML KMeans' checkNonNanVectors, on the same scaled vectors
      if (z.exists(x => x.isNaN || x.isInfinite)) throw new IllegalArgumentException(
        s"Vector values MUST NOT be NaN or Infinity, but got ${z.mkString("[", ",", "]")}" +
          s" (features ${v.toArray.mkString("[", ",", "]")} scaled by mean" +
          s" ${mu.mkString("[", ",", "]")}, std ${sigma.mkString("[", ",", "]")})")
      OldVectors.dense(z)
    }
    val solver = new KMeans()
      .setK(KClusters).setSeed(KMeansSeed).setMaxIterations(KMeansMaxIter)
      .setInitializationMode(KMeans.K_MEANS_PARALLEL).setEpsilon(KMeansTolerance)
    fitted.copy(kmeans = Some(
      if (rows <= LocalFitMaxRows) GraftKMeansBridge.runLocally(solver, instances.glom().collect())
      else solver.run(instances)))
  }

  /** `(x − μ)·factor` per feature, StandardScalerModel's arithmetic. */
  private def standardized(x: Array[Double], mean: Array[Double],
      factor: Array[Double]): Array[Double] =
    Array.tabulate(x.length)(i => (x(i) - mean(i)) * factor(i))

  /** The row's K-means cluster: its features standardized as in the
    * fit, then `KMeansModel.predict` (the call ML's `KMeansModel`
    * makes per row).
    */
  private final case class ClusterIdExpr(children: Seq[Expression], mean: Seq[Double],
      factor: Seq[Double], model: KMeansModel) extends Expression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullable: Boolean = children.exists(_.nullable)
    @transient private lazy val mu = mean.toArray
    @transient private lazy val scale = factor.toArray
    override def eval(input: InternalRow): Any = {
      val x = new Array[Double](children.length)
      var i = 0
      while (i < x.length) {
        val v = children(i).eval(input)
        if (v == null) return null
        x(i) = v.asInstanceOf[Double]
        i += 1
      }
      Integer.valueOf(model.predict(OldVectors.dense(standardized(x, mu, scale))))
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
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
    * raw feature space to the origin (the norm of the `_ml_` features,
    * not centred on the batch mean), same μ+2σ flag.
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
