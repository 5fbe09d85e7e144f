package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geospatial column algebra.
  *
  * Pure `Column` expressions — no UDFs — so Catalyst keeps pushdown,
  * pruning and whole-stage codegen (same design rule as the reference:
  * Haversine as native column math, `src/combine_spark.py:39-53`).
  */
object GeoFunctions {

  /** Mean Earth radius in km (reference `src/combine_spark.py:44`). */
  val EarthRadiusKm = 6371.0

  /** Great-circle distance in km between two (lat, lon) points in
    * degrees. Same formulation as the reference
    * (`src/combine_spark.py:39-53`):
    * a = sin²(Δφ/2) + cosφ1·cosφ2·sin²(Δλ/2); d = 2R·atan2(√a, √(1−a)).
    */
  def haversineKm(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a =
      pow(sin(dLat / 2), 2) +
        cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusKm) * atan2(sqrt(a), sqrt(lit(1.0) - a))
  }

  /** Squared Euclidean distance in the (lat, lon) plane — a cheap,
    * trig-free distance usable for *ranking* nearest candidates when an
    * exact km figure is not needed (monotone in true distance only at
    * small extents; the engine uses it for oracle-checkable tests since
    * it is exact in IEEE arithmetic across engines).
    */
  def planarDist2(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column =
    (lat2 - lat1) * (lat2 - lat1) + (lon2 - lon1) * (lon2 - lon1)
}
