package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.expressions.SketchExpressions

/** Exact heavy-hitter detection with a count-min-sketch prefilter —
  * the skew-DETECTION half of the skew toolkit (SkewTools is the
  * mitigation half): find every key whose true frequency ≥ T without
  * paying a full groupBy over all keys.
  *
  * Count-min never underestimates (each of its d counters upper-
  * bounds the true count; the estimate is their min), so
  * `estimate(k) ≥ T` is a SOUND prefilter for `count(k) ≥ T`: no true
  * heavy hitter is ever dropped. Rows whose key fails the prefilter —
  * at 100 TB, almost all of them — never enter the counting shuffle;
  * the survivors are exactly re-counted and re-thresholded, which
  * removes the sketch's overestimates. The composed result is
  * bit-identical to the plain `GROUP BY HAVING count ≥ T`.
  *
  * Sizing: overestimate ≤ eps·N with probability 0.99 per key.
  * Spark's CountMinSketch allocates width = ⌈2/eps⌉ counters ×
  * depth = ⌈log₂(1/(1−conf))⌉ rows of 8 B — eps 1e-4 / conf 0.99 is
  * a ~1.1 MB sketch. For the prefilter to prune, eps·N must be small
  * against (T − typical count): size eps ≈ slack/N at the call site
  * when N is known (see the q116 site). The sketch is built with one
  * executor-side aggregate (counter sums are order-independent →
  * deterministic) and shipped to executors as a BROADCAST inside the
  * compiled probe expression, so task binaries stay sketch-free at
  * any eps.
  */
object HeavyHitters {

  /** Keys of `df[key]` (LongType) with exact count ≥ `threshold`,
    * count-min-prefiltered. Returns (key, n) with n the exact count.
    */
  def exactOverThreshold(
      df: DataFrame,
      key: String,
      threshold: Long,
      eps: Double = 1e-4): DataFrame = {
    val cms = df.stat.countMinSketch(key, eps, 0.99, 42)
    df.filter(SketchExpressions.cmsEstimate(col(key), cms) >= threshold)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= threshold)
  }
}
