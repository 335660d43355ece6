package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.model.GtfsTables

/** Small hand-built feeds that break a clean feed's assumptions, one
  * service (S1) on 2024-01-18. GtfsEngineSpec routes them through every
  * regime; ProjectionParitySpec builds their projections with both
  * builders. The routing specs' comments explain what each one probes. */
object DirtyFeeds {

  private def feed(spark: SparkSession, routes: Seq[(String, String, String)],
      trips: Seq[(String, String)], stops: Seq[(String, String, Double, Double)],
      stopTimes: Seq[(String, String, String, String, Int)]): GtfsTables = {
    import spark.implicits._
    import graft.functions.TimeFunctions.secondsSinceMidnight
    val agency = Seq(("A", "http://example.org", "Europe/Rome"))
      .toDF("agency_name", "agency_url", "agency_timezone")
    val routesDf = routes.map { case (r, s, l) => (r, s, l, 3) }
      .toDF("route_id", "short_name", "route_long_name", "route_type")
    val tripsDf = trips.map { case (r, t) => (r, "S1", t, "0", "SH", "h") }
      .toDF("route_id", "service_id", "trip_id", "direction_id", "shape_id",
        "trip_headsign")
    val stopsDf = stops.toDF("stop_id", "stop_name", "stop_lat", "stop_lon")
    val stopTimesDf = stopTimes
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
      .withColumn("arr_secs", secondsSinceMidnight(col("arrival_time")))
      .withColumn("dep_secs", secondsSinceMidnight(col("departure_time")))
    val calendar = Seq(("S1", java.sql.Date.valueOf("2024-01-18"), "1"))
      .toDF("service_id", "day", "exception_type")
    GtfsTables(agency, routesDf, tripsDf, stopsDf, stopTimesDf, calendar)
  }

  private val twoRoutes = Seq(("R1", "1", "Start-Mid0"), ("R2", "2", "Mid0-End"))
  private val twoTrips = Seq(("R1", "TA"), ("R2", "TB"))
  private val fourStops = Seq(
    ("SA", "Start", 44.6000, 10.9000), ("SB", "Mid0", 44.6100, 10.9000),
    ("SM", "Mid", 44.6200, 10.9000), ("ST", "End", 44.6300, 10.9100))
  private val startLeg = Seq(
    ("TA", "14:00:00", "14:00:00", "SA", 1),
    ("TA", "14:20:00", "14:21:00", "SB", 2),
    ("TB", "14:25:00", "14:30:00", "SB", 1))

  /** TB's last row arrives 18:40 but departs 17:00 (arr > dep); its middle
    * row departs 18:20. */
  def irregular(spark: SparkSession): GtfsTables =
    feed(spark, twoRoutes, twoTrips, fourStops, startLeg ++ Seq(
      ("TB", "18:10:00", "18:20:00", "SM", 2),
      ("TB", "18:40:00", "17:00:00", "ST", 3)))

  /** [[irregular]] with TB's middle row departing 19:30, past the padded
    * 19:00 cap bucket. */
  def beyondAnchor(spark: SparkSession): GtfsTables =
    feed(spark, twoRoutes, twoTrips, fourStops, startLeg ++ Seq(
      ("TB", "18:10:00", "19:30:00", "SM", 2),
      ("TB", "18:40:00", "17:00:00", "ST", 3)))

  /** TB's middle row arrives 14:10, before TB leaves SB at 14:30: a
    * negative PRECEDES weight. */
  def negativeHop(spark: SparkSession): GtfsTables =
    feed(spark, Seq(("R1", "1", "Start-Mid"), ("R2", "2", "Mid-End")), twoTrips,
      fourStops, startLeg ++ Seq(
        ("TB", "14:10:00", "14:45:00", "SM", 2),
        ("TB", "15:00:00", "15:01:00", "ST", 3)))

  /** TB's middle row has a blank arrival time, as GTFS allows on a
    * non-timepoint stop; the CSV loader reads the empty field as null. */
  def blankArrival(spark: SparkSession): GtfsTables =
    feed(spark, twoRoutes, twoTrips, fourStops, startLeg ++ Seq(
      ("TB", null, "14:45:00", "SM", 2),
      ("TB", "15:00:00", "15:01:00", "ST", 3)))

  /** TB runs 20 min backward and TC boards with zero dwell at co-located
    * stops SB/SC/SD (walk 0 between them): the cycle TB1 → TB2 → TC1 → TB1
    * costs exactly 0. */
  def zeroCycle(spark: SparkSession): GtfsTables =
    feed(spark, Seq(("R1", "1", "L1"), ("R2", "2", "L2"), ("R3", "3", "L3")),
      Seq(("R1", "TA"), ("R2", "TB"), ("R3", "TC")),
      Seq(("SA", "Start", 44.6000, 10.9000), ("SB", "Mid0", 44.6100, 10.9000),
        ("SC", "Mid1", 44.6100, 10.9000), ("SD", "Mid2", 44.6100, 10.9000),
        ("SE", "End", 44.6300, 10.9100)),
      Seq(
        ("TA", "14:00:00", "14:00:00", "SA", 1),
        ("TA", "14:20:00", "14:21:00", "SB", 2),
        ("TB", "14:25:00", "14:25:00", "SB", 1),
        ("TB", "14:05:00", "14:05:00", "SC", 2),
        ("TC", "14:10:00", "14:10:00", "SD", 1),
        ("TC", "14:40:00", "14:41:00", "SE", 2)))
}
