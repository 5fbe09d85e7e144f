package org.apache.spark.ml.stat

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.rdd.RDD

/** Bridge into the `private[spark]` `SummarizerBuffer`, the buffer that
  * `StandardScaler.fit`'s Summarizer aggregate folds its rows into, so
  * graft can take a vector column's row count, mean and std in one
  * pass with Spark's own arithmetic. Lives under the spark.ml package
  * solely for access (as `GraftPlanBridge` does for spark.sql).
  */
object GraftSummarizerBridge {

  /** Row count, mean and std of `vectors` in one `treeAggregate` job;
    * mean and std are empty when there are no rows. Like the SQL
    * aggregate `StandardScaler.fit` runs, each partition folds its rows
    * into one buffer and the partial buffers are merged once, on an
    * executor (depth 1, final merge on the executor).
    */
  def countMeanStd(vectors: RDD[Vector]): (Long, Vector, Vector) = {
    val s = vectors.treeAggregate(Summarizer.createSummarizerBuffer("count", "mean", "std"),
      (buf: SummarizerBuffer, v: Vector) => buf.add(v),
      (a: SummarizerBuffer, b: SummarizerBuffer) => a.merge(b), 1, true)
    if (s.count == 0) (0L, Vectors.zeros(0), Vectors.zeros(0)) else (s.count, s.mean, s.std)
  }
}
