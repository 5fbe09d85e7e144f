package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph structural statistics. First member: degree
  * assortativity (Newman 2002) — the Pearson correlation of endpoint
  * degrees across edges. r > 0: hubs link to hubs (social graphs);
  * r < 0: hubs link to leaves (bipartite/infrastructure graphs — the
  * supplier–part co-supply graph here is strongly disassortative by
  * construction). The single number a graph-pipeline health check
  * quotes before running expensive iterative algorithms.
  *
  * Exactness: with x, y the endpoint degrees over the directed edge
  * list (both directions of each undirected edge),
  *
  *   r = (m·Σxy − Σx·Σy) / (√(m·Σxx − (Σx)²) · √(m·Σyy − (Σy)²))
  *
  * every Σ is an exact DECIMAL(38,0) integer sum (degree products
  * can overflow int64 at 100-TB graph sizes — the Profiling Gini
  * lesson), the numerator/radicands are exact integer arithmetic,
  * and only the final sqrt·sqrt/division chain is IEEE — pinned, so
  * the statistic hash-checks against a HUGEINT oracle.
  *
  * Scale shape: one distinct-collapse of the edge list, one degree
  * aggregate, two hash joins to attach endpoint degrees, one global
  * single-row aggregate with map-side partials. No windows, nothing
  * iterative, nothing driver-side.
  */
object GraphStats {

  /** One row: (n_nodes, n_edges, assortativity) of the UNDIRECTED
    * statistic. The operator unions the reversed list and collapses
    * duplicates, so a node appearing only as a dst still contributes
    * its degree — on input that already carries both directions the
    * union collapses to the identity and the statistic is
    * bit-identical. `n_edges` counts undirected edges, self-loops
    * included exactly once (a self-loop survives reversal as one
    * directed row, so the count is (m + self_loops) / 2, never a
    * truncating m / 2).
    *
    * Degree-regular graphs have zero degree variance — the 0/0
    * surfaces as NULL (both Spark non-ANSI division and the oracle
    * agree), never a fabricated 0.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val raw = edges.select(col(srcCol).as("_s"), col(dstCol).as("_d"))
    val e = raw.union(raw.select(col("_d").as("_s"), col("_s").as("_d")))
      .distinct()
    val deg = e.groupBy(col("_s").as("_n"))
      .agg(count(lit(1)).as("_deg"))
    val withDeg = e
      .join(deg.select(col("_n").as("_s"), col("_deg").as("_dx")), "_s")
      .join(deg.select(col("_n").as("_d"), col("_deg").as("_dy")), "_d")

    val dec = "decimal(38,0)"
    val agg = withDeg.agg(
      count(lit(1)).as("_m"),
      sum(when(col("_s") === col("_d"), 1L).otherwise(0L)).as("_sl"),
      sum(col("_dx").cast(dec)).as("_sx"),
      sum(col("_dy").cast(dec)).as("_sy"),
      sum((col("_dx") * col("_dy")).cast(dec)).as("_sxy"),
      sum((col("_dx") * col("_dx")).cast(dec)).as("_sxx"),
      sum((col("_dy") * col("_dy")).cast(dec)).as("_syy"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))

    // exact integer numerator/radicands, then ONE pinned IEEE chain
    val m = col("_m").cast(dec)
    val num = (m * col("_sxy") - col("_sx") * col("_sy")).cast("double")
    val radX = (m * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val radY = (m * col("_syy") - col("_sy") * col("_sy")).cast("double")
    agg.crossJoin(nodes).select(
      col("n_nodes"),
      ((col("_m") + col("_sl")) / 2).cast("long").as("n_edges"),
      round(num / (sqrt(radX) * sqrt(radY)), 6).as("assortativity"))
  }
}
