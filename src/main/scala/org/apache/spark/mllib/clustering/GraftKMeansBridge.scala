package org.apache.spark.mllib.clustering

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.mllib.linalg.{BLAS, Vector, Vectors}
import org.apache.spark.util.Utils
import org.apache.spark.util.random.{BernoulliSampler, SamplingUtils, XORShiftRandom}

/** `KMeans.run` on the driver, for a dataset already collected there.
  * It replays the distributed solver step for step over the same
  * partitions and calls Spark's own pieces (`DistanceMeasure`,
  * `VectorWithNorm`, `BernoulliSampler`, `XORShiftRandom`,
  * `LocalKMeans`), so on the same input it returns the same centers
  * without running a Spark job. Lives under the
  * spark.mllib package solely for access to those `private[spark]`
  * pieces (as `GraftSummarizerBridge` does for spark.ml).
  *
  * Where the distributed solver merges per-partition results in task
  * completion order (the k-means|| cost sum, the Lloyd partial sums
  * and the training cost), this one merges them in partition-index
  * order. On one partition there is nothing to merge and the centers
  * are equal bit for bit; on several they can differ by rounding
  * (`PhaseFitSpec` holds them within 1e-12 on four partitions, one of
  * them empty).
  */
object GraftKMeansBridge {

  /** `kmeans.run` over `partitions`, the solver's input vectors in
    * partition order. Supports what `KMeans.run` does with k-means||
    * initialization, no initial model, and k²·dims below 10⁶ (where
    * the distributed solver computes its center statistics on the
    * driver too).
    */
  def runLocally(kmeans: KMeans, partitions: Array[Array[Vector]]): KMeansModel = {
    require(kmeans.getInitializationMode == KMeans.K_MEANS_PARALLEL,
      s"local K-means supports k-means|| initialization, not ${kmeans.getInitializationMode}")
    val measure = DistanceMeasure.decodeFromString(kmeans.getDistanceMeasure)
    // runWithWeight: every point weighs 1.0 and carries its L2 norm
    val data = partitions.map(_.map(v => new VectorWithNorm(v, Vectors.norm(v, 2.0), 1.0)))
    val centers = initKMeansParallel(kmeans, measure, data)
    val dims = centers.head.vector.size
    require(DistanceMeasure.shouldComputeStatisticsLocally(centers.length, dims),
      s"local K-means needs k²·dims below 10⁶, got k=${centers.length}, dims=$dims")

    // runAlgorithmWithWeight's Lloyd loop
    var converged = false
    var cost = 0.0
    var iteration = 0
    while (iteration < kmeans.getMaxIterations && !converged) {
      val stats =
        if (DistanceMeasure.shouldComputeStatistics(centers.length)) {
          Some(measure.computeStatistics(centers))
        } else None
      val partials = data.map { points =>
        val sums = Array.fill(centers.length)(Vectors.zeros(dims))
        val weights = new Array[Double](centers.length)
        var partitionCost = 0.0
        points.foreach { point =>
          val (best, c) = measure.findClosest(centers, stats, point)
          partitionCost += c * point.weight
          measure.updateClusterSum(point, sums(best))
          weights(best) += point.weight
        }
        (sums, weights, partitionCost)
      }
      converged = true
      centers.indices.foreach { j =>
        // reduceByKey over the partitions that saw cluster j
        val seen = partials.filter(_._2(j) > 0)
        if (seen.nonEmpty) {
          val sum = seen.head._1(j)
          var weight = seen.head._2(j)
          seen.tail.foreach { case (s, w, _) =>
            BLAS.axpy(1.0, s(j), sum)
            weight += w(j)
          }
          val newCenter = measure.centroid(sum, weight)
          if (converged && !measure.isCenterConverged(centers(j), newCenter, kmeans.getEpsilon)) {
            converged = false
          }
          centers(j) = newCenter
        }
      }
      cost = partials.foldLeft(0.0)(_ + _._3)
      iteration += 1
    }
    new KMeansModel(centers.map(_.vector), kmeans.getDistanceMeasure, cost, iteration)
  }

  /** `KMeans.initKMeansParallel`: a first center from `takeSample`,
    * `initializationSteps` rounds that keep each point with
    * probability 2k·cost/Σcost, then k-means++ over the distinct
    * candidates weighted by the points closest to each.
    */
  private def initKMeansParallel(kmeans: KMeans, measure: DistanceMeasure,
      data: Array[Array[VectorWithNorm]]): Array[VectorWithNorm] = {
    val k = kmeans.getK
    val seed = new XORShiftRandom(kmeans.getSeed).nextInt()
    var costs = data.map(points => Array.fill(points.length)(Double.PositiveInfinity))
    val centers = ArrayBuffer(takeOne(data, seed).toDense)
    var newCenters = centers.toArray
    var step = 0
    while (step < kmeans.getInitializationSteps) {
      val bestCenters = newCenters
      costs = data.zip(costs).map { case (points, pre) =>
        Array.tabulate(points.length) { i =>
          math.min(measure.pointCost(bestCenters, points(i)), pre(i))
        }
      }
      // DoubleRDDFunctions.sum: each partition folds from 0.0, then the
      // partition sums are added to 0.0
      val sumCosts = costs.foldLeft(0.0)((acc, c) => acc + c.foldLeft(0.0)(_ + _))
      newCenters = data.indices.toArray.flatMap { index =>
        val rand = new XORShiftRandom(seed ^ (step << 16) ^ index)
        data(index).indices
          .filter(i => rand.nextDouble() < 2.0 * costs(index)(i) * k / sumCosts)
          .map(i => data(index)(i).toDense)
      }
      centers ++= newCenters
      step += 1
    }

    val distinctCenters = centers.map(_.vector).distinct.map(new VectorWithNorm(_)).toArray
    if (distinctCenters.length <= k) distinctCenters
    else {
      // countByValue of each point's closest candidate
      val counts = new Array[Long](distinctCenters.length)
      data.foreach(_.foreach(p => counts(measure.findClosest(distinctCenters, p)._1) += 1))
      LocalKMeans.kMeansPlusPlus(0, distinctCenters, counts.map(_.toDouble), k, 30)
    }
  }

  /** `RDD.takeSample(withReplacement = false, 1, seed)`'s one element:
    * a Bernoulli sample at `computeFractionForSampleSize`'s fraction
    * with one seed per partition, redrawn while empty, then shuffled by
    * `randomizeInPlace`.
    */
  private def takeOne(data: Array[Array[VectorWithNorm]], seed: Long): VectorWithNorm = {
    val count = data.map(_.length.toLong).sum
    require(count > 0, "No samples available from the local K-means input")
    val rand = new java.util.Random(seed)
    if (count <= 1) return Utils.randomizeInPlace(data.flatten, rand).head
    val fraction = SamplingUtils.computeFractionForSampleSize(1, count, withReplacement = false)
    def sample(sampleSeed: Long): Array[VectorWithNorm] = {
      val partitionSeeds = new java.util.Random(sampleSeed)
      val sampler = new BernoulliSampler[VectorWithNorm](fraction)
      data.flatMap { points =>
        val partitionSampler = sampler.clone
        partitionSampler.setSeed(partitionSeeds.nextLong())
        partitionSampler.sample(points.iterator)
      }
    }
    var samples = sample(rand.nextInt())
    while (samples.isEmpty) samples = sample(rand.nextInt())
    Utils.randomizeInPlace(samples, rand).head
  }
}
