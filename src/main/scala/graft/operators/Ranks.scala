package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank statistics over exact global ranks: Spearman's ρ, snake
  * sharding and Kendall's τ-b. Every global rank comes from
  * [[GlobalOrder.rank]].
  */
object Ranks {

  /** Spearman rank correlation between two columns, permutation
    * convention: each column ranks by (value, id) — a TOTAL order, so
    * there are no ties and the classic closed form
    *
    *   ρ = 1 − 6·Σd² / (n·(n²−1))
    *
    * is exact. Σd² accumulates in DECIMAL(38,0) (d² ≤ n², summed n
    * times ⇒ n³ — past int64 at ~2 M rows) and ONE division closes
    * the chain. The y rank runs over the x rank's output, so the
    * pair needs no join: two global orders, one aggregate.
    */
  def spearman(df: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame = {
    val rx = GlobalOrder.rank(df.select(col(idCol), col(xCol), col(yCol)),
      idCol, Seq(col(xCol)), "_rx")
    val ranked = GlobalOrder.rank(rx, idCol, Seq(col(yCol)), "_ry")
    val dec = "decimal(38,0)"
    ranked
      .agg(count(lit(1)).as("n"),
        sum(((col("_rx") - col("_ry")) * (col("_rx") - col("_ry")))
          .cast(dec)).as("_sd2"))
      .select(col("n"), col("_sd2").cast("long").as("sum_d2"),
        round(lit(1.0) - (lit(6.0) * col("_sd2").cast("double"))
          / (col("n").cast(dec)
            * (col("n").cast(dec) * col("n").cast(dec) - lit(1)))
            .cast("double"), 6).as("spearman_rho"))
  }

  /** Token-balanced shard assignment by snake (boustrophedon) order:
    * rank rows by weight DESC, then stripe rank r to shard
    * `r mod 2S < S ? r mod S : S−1−(r mod S)` — the classic LPT
    * approximation without any sequential state: consecutive heavy
    * rows land on DIFFERENT shards and each 2S-block hands every
    * shard one heavy and one light row. Returns per-row assignments;
    * aggregate for the balance report.
    */
  def snakeShards(df: DataFrame, idCol: String, weightCol: String,
      shards: Int): DataFrame = {
    require(shards >= 2, s"need at least 2 shards: $shards")
    val ranked = GlobalOrder.rank(df.select(col(idCol), col(weightCol)),
      idCol, Seq(col(weightCol).desc), "_rank")
    val r0 = ranked.col("_rank") - 1L // 0-based
    val m = r0 % (2L * shards)
    ranked.withColumn("shard",
        when(m < shards, m).otherwise(lit(2L * shards) - 1L - m)
          .cast("int"))
      .select(col(idCol), col(weightCol), col("_rank").as("rank"),
        col("shard"))
  }

  /** Exact Kendall τ-b between two DISCRETE integer columns — the
    * ordinal-association companion to [[spearman]]: where Spearman
    * correlates ranks, Kendall counts concordant vs discordant pairs,
    * the statistic of choice for heavily tied ordinal data.
    *
    * Naive Kendall is O(n²) pairs; this collapses the corpus to the
    * zero-filled |X|×|Y| joint histogram first (domain-bounded — the
    * caller's columns must be discrete), then
    *
    *   C = Σ_cells n(x,y)·Σ_{x'<x, y'<y} n,
    *   D = Σ_cells n(x,y)·Σ_{x'<x, y'>y} n
    *
    * via two chained window prefix sums over the bounded grid (each
    * unordered pair counted exactly once by its greater-x cell).
    * Ties n₁/n₂ come from the marginals; everything is exact
    * DECIMAL(38,0), and τ_b = (C−D)/√((n₀−n₁)(n₀−n₂)) is one
    * division over one sqrt of one exact product.
    *
    * Output (1 row): n_rows, concordant, discordant, ties_x, ties_y,
    * tau_b (null when either side is constant — 0/0).
    *
    * The discreteness precondition is ENFORCED, not documented: the
    * joint histogram is pinned (one corpus scan — it also feeds the
    * grid, both marginals and the tie terms, which previously each
    * re-aggregated the corpus), its two domain cardinalities are
    * counted, and the zero-filled |X|·|Y| grid is only built when
    * the product stays within `maxGridCells` — a near-continuous
    * column fails fast with the sizes in hand instead of exploding
    * quadratically through the crossJoin and the per-x windows.
    */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String,
      maxGridCells: Long = 4000000L): DataFrame = {
    val dec = "decimal(38,0)"
    // persist (not localCheckpoint): the histogram feeds five
    // consumers but its lineage is one shallow aggregate, and persist
    // is releasable below — a checkpointed h would pin its blocks for
    // the session on every call (ADVICE r11)
    val h = df.select(col(xCol).cast("long").as("_x"),
        col(yCol).cast("long").as("_y"))
      .groupBy(col("_x"), col("_y")).agg(count(lit(1)).as("_n"))
      .persist()
    // finally, not just on success: the maxGridCells fail-fast
    // below must not leak the cached histogram on exactly the
    // oversized-input case it exists for (ADVICE r12)
    try {
      val domRow = h.agg(countDistinct(col("_x")).as("_nx"),
        countDistinct(col("_y")).as("_ny")).head
      val (nx, ny) = (domRow.getLong(0), domRow.getLong(1))
      // BigInt product: two ~2^31+ domains would overflow a Long
      // product and sail PAST the guard — the exact case it exists for
      require(BigInt(nx) * BigInt(ny) <= BigInt(maxGridCells),
        s"kendallTauB joint grid would hold $nx x $ny = ${BigInt(nx) * BigInt(ny)} " +
          s"cells (> $maxGridCells): '$xCol'/'$yCol' are not discrete " +
          "enough for the zero-filled-grid algorithm - bucket or " +
          "quantize the wider column first (e.g. ntile/width_bucket), " +
          "or raise maxGridCells if the grid genuinely fits")
      val grid = h.select(col("_x")).distinct()
        .crossJoin(h.select(col("_y")).distinct())
        .join(h, Seq("_x", "_y"), "left")
        .withColumn("_n", coalesce(col("_n"), lit(0L)))
      // Σ_{y'<y} and Σ_{y'>y} within each x, then Σ_{x'<x} of those
      val wyLt = Window.partitionBy(col("_x")).orderBy(col("_y"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wyGt = Window.partitionBy(col("_x")).orderBy(col("_y"))
        .rowsBetween(1, Window.unboundedFollowing)
      val wxLt = Window.partitionBy(col("_y")).orderBy(col("_x"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val staged = grid
        .withColumn("_cyl", coalesce(sum(col("_n")).over(wyLt), lit(0L)))
        .withColumn("_cyg", coalesce(sum(col("_n")).over(wyGt), lit(0L)))
      val scanned = staged
        .withColumn("_slt", coalesce(sum(col("_cyl")).over(wxLt), lit(0L)))
        .withColumn("_sgt", coalesce(sum(col("_cyg")).over(wxLt), lit(0L)))
      val cd = scanned.agg(
        sum(col("_n").cast(dec) * col("_slt").cast(dec)).as("_c"),
        sum(col("_n").cast(dec) * col("_sgt").cast(dec)).as("_d"))
      val margs = h.agg(
        sum(col("_n")).as("_nr"),
        sum(col("_n").cast(dec) * (col("_n") - 1).cast(dec)).as("_txy2"))
      val tx = h.groupBy(col("_x")).agg(sum(col("_n")).as("_t"))
        .agg(sum(col("_t").cast(dec) * (col("_t") - 1).cast(dec)).as("_tx2"))
      val ty = h.groupBy(col("_y")).agg(sum(col("_n")).as("_t"))
        .agg(sum(col("_t").cast(dec) * (col("_t") - 1).cast(dec)).as("_ty2"))
      val out = cd.crossJoin(broadcast(margs))
        .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .select(col("_nr").as("n_rows"),
          col("_c").cast("long").as("concordant"),
          col("_d").cast("long").as("discordant"),
          (col("_tx2") / 2).cast("long").as("ties_x"),
          (col("_ty2") / 2).cast("long").as("ties_y"),
          {
            val n0x2 = col("_nr").cast(dec) * (col("_nr") - 1).cast(dec)
            val a = n0x2 - col("_tx2")
            val b = n0x2 - col("_ty2")
            when(a > 0 && b > 0,
              ((col("_c") - col("_d")) * 2).cast("double") /
                sqrt((a * b).cast("double"))).as("tau_b")
          })
      // eagerly pin the 1-row result — the cache-release
      // discipline; repeated library calls leave only
      // a 1-row checkpoint behind, not the |X|·|Y| grid feed
      out.localCheckpoint()
    } finally h.unpersist()
  }
}
