package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geodesic distance as a pure Column expression (whole-stage-codegen
  * friendly — no UDF).
  *
  * Mirrors the reference's `point.distance(point({latitude,longitude}), …)`
  * (Neo4j WGS-84 geodesic; `new_dbSetup.py:98`, `main.py:66,132`) with the
  * haversine great-circle formula on a spherical earth (R = 6 371 000 m).
  * Divergence from Neo4j's ellipsoidal geodesic is ≤ ~0.3 %, which is
  * irrelevant at the 200–300 m thresholds the reference uses (SURVEY §2.9 F1).
  */
object SpatialFunctions {
  val EarthRadiusMeters = 6371000.0

  /** Great-circle distance in meters between (lat1,lon1) and (lat2,lon2),
    * all in decimal degrees. */
  def haversineMeters(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dLat = radians(lat2 - lat1)
    val dLon = radians(lon2 - lon1)
    val a = pow(sin(dLat / 2), 2) +
      cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dLon / 2), 2)
    lit(2.0 * EarthRadiusMeters) * asin(sqrt(a))
  }

  /** Driver-side twin of [[haversineMeters]] for scalar coordinates already
    * on the driver (harness bookkeeping, near-stop pre-checks) — issuing a
    * Spark job to evaluate four literals is pure scheduling overhead. */
  def haversineMetersScalar(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    2.0 * EarthRadiusMeters * math.asin(math.sqrt(a))
  }

  /** Radius predicate with a derived bounding-box pre-filter. The bbox
    * comparisons are plain `lat/lon BETWEEN` predicates Catalyst pushes
    * into the parquet scan (`PushedFilters` → row-group min/max pruning) —
    * at 100 TB the scan skips everything outside the box before a single
    * trig instruction runs; the exact haversine conjunct keeps the
    * semantics identical (the box is a strict superset of the circle).
    * Falls back to the exact test alone near the poles or the
    * antimeridian, where a rectangular box stops being a superset. Margins
    * use 111 000 m/degree (slightly under the true 111 195), widening the
    * box — never shrinking the result. */
  def withinRadius(lat: Column, lon: Column, lat0: Double, lon0: Double,
      radiusMeters: Double): Column = {
    val exact = haversineMeters(lat, lon, lit(lat0), lit(lon0)) < radiusMeters
    val latMargin = radiusMeters / 111000.0
    if (math.abs(lat0) + latMargin >= 89.0) exact
    else {
      val latBox = lat >= lat0 - latMargin && lat <= lat0 + latMargin
      val cosLat = math.cos(math.toRadians(math.abs(lat0) + latMargin))
      val lonMargin = radiusMeters / (111000.0 * cosLat)
      if (lon0 - lonMargin <= -180.0 || lon0 + lonMargin >= 180.0)
        latBox && exact
      else
        latBox && lon >= lon0 - lonMargin && lon <= lon0 + lonMargin && exact
    }
  }
}
