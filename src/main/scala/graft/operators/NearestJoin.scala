package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GeoFunctions

/** Spatial nearest-neighbor join: attach, to every left row, the single
  * closest right row by a distance expression (J1+J2+W1 in SURVEY.md
  * §2.3/§2.5; reference `src/combine_spark.py:104-124`).
  *
  * Strategy notes for scale:
  *  - The right side (weather stations) is tiny → `broadcast` +
  *    `BroadcastNestedLoopJoin`: no shuffle of the big side at all.
  *  - Two winner selections. `nearestByWindow` keeps the reference's
  *    plan shape (`row_number` per left key over `dist`, rank 1: a
  *    shuffle and sort of N×M rows); `flightsToNearestWeather`, the
  *    pipeline's flights × stations join, runs it. `nearestByMinBy`
  *    picks the winner with `min_by(struct(...), dist)` via `groupBy`,
  *    which partial-aggregates map-side so the exchange carries one
  *    row per left key; the grid paths below and the nearest-site
  *    queries run it.
  *  - Ties: the reference's `row_number` over `orderBy(dist)` breaks
  *    ties nondeterministically; we pin a secondary ordering on the
  *    right-side key columns (SURVEY.md §7.4).
  */
object NearestJoin {

  /** Prefix every column of `df` (reference `src/combine_spark.py:94-101`
    * does N withColumnRenamed calls; one `select` projection is a single
    * plan node).
    */
  def prefixColumns(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.map(c => col(c).as(prefix + c)).toSeq: _*)

  /** Window implementation — mirrors the reference's plan shape:
    * cross join → dist column → row_number per left key → rank==1.
    *
    * @param tieBreak columns on the joined frame that make the ordering
    *                 total (appended after dist ascending).
    */
  def nearestByWindow(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      dist: Column,
      tieBreak: Seq[Column]): DataFrame = {
    val joined = left.crossJoin(broadcast(right))
      .withColumn("dist_km", dist)
    val w = Window.partitionBy(col(leftKey))
      .orderBy(col("dist_km").asc +: tieBreak: _*)
    joined
      .withColumn("_rank", row_number().over(w))
      .filter(col("_rank") === 1)
      .drop("_rank")
  }

  /** Aggregation implementation — same result, cheaper plan: the
    * min_by partial-aggregates map-side, so the exchange carries one
    * row per left key instead of one per (left × right) pair.
    * Requires a total order on (dist, tieBreak) — callers pass a
    * struct-ordered tie-break expression.
    */
  def nearestByMinBy(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      dist: Column,
      tieBreak: Column): DataFrame = {
    minByWinner(left.crossJoin(broadcast(right)).withColumn("dist_km", dist),
      leftKeys, tieBreak)
  }

  /** One winner row per left key among `candidates` (which carry
    * `dist_km`): min_by on a struct gives lexicographic (dist,
    * tieBreak) ordering — a deterministic winner per key.
    */
  private def minByWinner(candidates: DataFrame, leftKeys: Seq[String],
      tieBreak: Column): DataFrame = {
    val others = candidates.columns.filterNot(c => leftKeys.contains(c))
    val ordKey = struct(col("dist_km"), tieBreak)
    candidates
      .groupBy(leftKeys.map(col).toSeq: _*)
      .agg(min_by(struct(others.map(col).toSeq: _*), ordKey).as("_best"))
      .select((leftKeys.map(col) ++ others.map(c => col(s"_best.$c").as(c))).toSeq: _*)
  }

  /** The reference's concrete use: flights × weather stations by
    * Haversine km, weather columns prefixed `w_`.
    */
  def flightsToNearestWeather(flights: DataFrame, weather: DataFrame): DataFrame = {
    val w = prefixColumns(weather, "w_")
    nearestByWindow(
      flights, w, "icao24",
      GeoFunctions.haversineKm(
        col("latitude"), col("longitude"),
        col("w_latitude"), col("w_longitude")),
      tieBreak = Seq(col("w_latitude"), col("w_longitude")))
  }

  // nearestByGridAuto's regime constants (see its steps 1 and 2)
  private val MinGridSites = 64
  private val SampleSize = 512
  private val Margin = 1.25

  /** [[nearestByGrid]] with the cell size derived from a SAMPLED
    * nearest-distance bound — the regime guard the fixed-cell form
    * lacks, robust to ANY site distribution (uniform, clustered,
    * lattice-with-holes):
    *
    *  1. fewer than `MinGridSites` distinct site positions (or a
    *     degenerate bounding box): the broadcast exhaustive pass wins
    *     outright — skip the grid entirely;
    *  2. otherwise, measure the true nearest-site distance of
    *     `SampleSize` hash-picked points (one bounded broadcast pass)
    *     and size the cell so the 3×3 ring's PROVABLE radius covers
    *     the sampled maximum with `Margin` — the grid pass then confirms
    *     essentially every point, and sample-missed stragglers stay
    *     exact through the fallback;
    *  3. if the resulting ring would cover a large fraction of the
    *     site area anyway, grid bucketing cannot beat one broadcast
    *     pass — take the exhaustive pass directly.
    *
    * A density-derived cell (`pad·sqrt(area/n)`) is NOT safe here:
    * co-located duplicates and structured lattices make typical
    * nearest distances far exceed the density scale, silently routing
    * a large fraction of points through the quadratic fallback.
    */
  def nearestByGridAuto(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      latL: String, lonL: String,
      latR: String, lonR: String,
      tieBreak: Column): DataFrame = {
    val spark = left.sparkSession
    val shufflePartitions = spark.sessionState.conf.numShufflePartitions
    val dist = GeoFunctions.haversineKm(col(latL), col(lonL), col(latR), col(lonR))

    val s = right.agg(
      count(lit(1)).as("n"),
      approx_count_distinct(struct(col(latR), col(lonR))).as("npos"),
      min(col(latR).cast("double")).as("la0"),
      max(col(latR).cast("double")).as("la1"),
      min(col(lonR).cast("double")).as("lo0"),
      max(col(lonR).cast("double")).as("lo1")).first()
    val n = s.getAs[Long]("n")
    val nPos = if (n == 0) 0L else math.max(1L, math.min(n, s.getAs[Long]("npos")))
    val area =
      if (n == 0) 0.0
      else (s.getAs[Double]("la1") - s.getAs[Double]("la0")) *
        (s.getAs[Double]("lo1") - s.getAs[Double]("lo0"))
    if (nPos < MinGridSites || area <= 0.0)
      return nearestByMinBy(left, right, leftKeys, dist, tieBreak)

    // EXACT pre-reduction: distance depends only on (lat, lon) and the
    // ordering is (dist, tieBreak), so among co-located sites only the
    // min-tieBreak row can ever win — one narrow shuffle of the site
    // table collapses duplicates before every downstream pass (the
    // q65-style lattice has 5-6 co-located sites per position).
    // tieBreak must therefore be a RIGHT-side expression (it already
    // must be for nearestByMinBy's struct ordering to make sense).
    val rightCols = right.columns.toSeq
    val sites = right
      .groupBy(col(latR), col(lonR))
      .agg(min_by(struct(rightCols.map(col): _*), tieBreak).as("_site"))
      .select(rightCols.map(c => col(s"_site.`$c`").as(c)): _*)

    // sampled max nearest distance (km): deterministic hash-picked
    // points, re-spread before the broadcast expansion (see the
    // fallback note in nearestByGrid)
    val sampled = left
      .select(col(latL).cast("double").as("_plat"), col(lonL).cast("double").as("_plon"))
      .orderBy(xxhash64(col(latL), col(lonL)), col(latL), col(lonL))
      .limit(SampleSize)
      .repartition(shufflePartitions)
    val nnRows = sampled
      .crossJoin(broadcast(sites.select(
        col(latR).cast("double").as("_slat"), col(lonR).cast("double").as("_slon"))))
      .groupBy(col("_plat"), col("_plon"))
      .agg(min(GeoFunctions.haversineKm(col("_plat"), col("_plon"),
        col("_slat"), col("_slon"))).as("_nn"))
      .agg(max(col("_nn")).as("_dmax"))
      .first()
    if (nnRows.isNullAt(0)) // empty left
      return nearestByMinBy(left, sites, leftKeys, dist, tieBreak)
    val dMaxKm = nnRows.getDouble(0)

    // invert safeKm(lat) = cell · 110 · cos(|lat|+cell) at the worst
    // latitude so the provable radius covers the sampled bound; one
    // fixed-point refinement accounts for cell widening the angle.
    // A mis-estimate only costs fallback time, never correctness.
    val worstAbsLat = math.max(math.abs(s.getAs[Double]("la0")),
      math.abs(s.getAs[Double]("la1"))) + 1.0
    def cellFor(extraDeg: Double): Double = {
      val c = math.cos(math.toRadians(math.min(worstAbsLat + extraDeg, 89.0)))
      if (c <= 0.05) Double.MaxValue
      else dMaxKm * Margin / (110.0 * c)
    }
    val cell0 = cellFor(0.0)
    val cellDeg = math.max(cellFor(if (cell0.isInfinite) 0.0 else cell0), 1e-4)

    // a 3×3 ring covering ≥20% of the site area means the grid can't
    // meaningfully prune — one broadcast pass is strictly cheaper
    if (cellDeg == Double.MaxValue || 9.0 * cellDeg * cellDeg >= 0.2 * area)
      nearestByMinBy(left, sites, leftKeys, dist, tieBreak)
    else
      nearestByGrid(left, sites, leftKeys, latL, lonL, latR, lonR, tieBreak, cellDeg)
  }

  /** Grid-bucketed nearest join — the LARGE-site-set path (SURVEY.md
    * §2.3 J2's "geohash-bucketed" alternative). Broadcast cross join
    * stops scaling once the site table does; here both sides bucket
    * into `cellDeg`-degree grid cells, each site replicates into its
    * 3×3 cell neighborhood, and candidates come from an EQUI join on
    * the cell — per point, only nearby sites are scored.
    *
    * Exactness: any site OUTSIDE a point's 3×3 ring is at least
    * `cellDeg` degrees away in some axis, i.e. at least
    * `cellDeg · 110 km · cos(|lat|+cellDeg)` away. A ring winner at or
    * under that radius is therefore provably the global nearest; ring
    * winners beyond it — and points with an empty ring — fall back to
    * the exhaustive broadcast path, so the result equals brute-force
    * nearest for EVERY point, with the fallback sized by `cellDeg`
    * against site density (tiny when cells are chosen sensibly).
    *
    * Longitude cells are not wrapped at ±180°; near the poles the safe
    * radius collapses and everything falls back (conservative).
    */
  def nearestByGrid(
      left: DataFrame,
      right: DataFrame,
      leftKeys: Seq[String],
      latL: String, lonL: String,
      latR: String, lonR: String,
      tieBreak: Column,
      cellDeg: Double): DataFrame = {
    require(cellDeg > 0, "cellDeg must be positive")
    val dist = GeoFunctions.haversineKm(col(latL), col(lonL), col(latR), col(lonR))

    def cellOf(lat: Column, lon: Column): (Column, Column) =
      (floor(lat / cellDeg).cast("long"), floor(lon / cellDeg).cast("long"))

    val (pLat, pLon) = cellOf(col(latL), col(lonL))
    val points = left.withColumn("_cla", pLat).withColumn("_clo", pLon)

    val (sLat, sLon) = cellOf(col(latR), col(lonR))
    val sites = right
      .withColumn("_cla0", sLat).withColumn("_clo0", sLon)
      .withColumn("_cla", explode(array(col("_cla0") - 1, col("_cla0"), col("_cla0") + 1)))
      .withColumn("_clo", explode(array(col("_clo0") - 1, col("_clo0"), col("_clo0") + 1)))
      .drop("_cla0", "_clo0")

    val candidates = points.join(sites, Seq("_cla", "_clo"))
      .drop("_cla", "_clo")
      .withColumn("dist_km", dist)
    val gridWinners = minByWinner(candidates, leftKeys, tieBreak)

    // provably-exact winners: closer than any possible out-of-ring site
    // (110 km/deg is a lower bound on the meridian degree; longitude
    // degrees shrink by cos(lat), taken at the band's worst latitude)
    val safeKm = lit(cellDeg * 110.0) *
      greatest(cos(radians(abs(col(latL)) + lit(cellDeg))), lit(0.0))
    val confirmed = gridWinners.filter(col("dist_km") <= safeKm)

    // remainder: empty ring, or winner not provably global → exhaustive.
    // The anti-join output is tiny, so AQE coalesces it to ~1 partition
    // — but the broadcast cross join EXPANDS each row |right|-fold, and
    // an expansion processed in one task serializes the whole fallback.
    // Re-spread the small side first: partition count must be sized to
    // the post-join row count, not the input byte count.
    val unmatched = points.drop("_cla", "_clo")
      .join(confirmed.select(leftKeys.map(col).toSeq: _*), leftKeys, "left_anti")
      .repartition(left.sparkSession.sessionState.conf.numShufflePartitions)
    val fallback = nearestByMinBy(unmatched, right, leftKeys, dist, tieBreak)

    confirmed.unionByName(fallback)
  }
}
