package graft.api

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.model.GtfsTables
import graft.functions.TimeFunctions.secondsSinceMidnight

/** A tiny inline GTFS network (same topology as the test fixture
  * `src/test/resources/gtfs-mini`): 3 routes, 6 trips, 7 stops, one
  * service-past-midnight trip, a 16.7 m walk transfer pair and a same-name
  * stop pair. Used to demonstrate the full routing pipeline from the
  * driver-visible query catalog without external files.
  */
object DemoGtfs {

  def tables(spark: SparkSession): GtfsTables = {
    import spark.implicits._
    val agency = Seq(("aMo Modena", "http://example.org", "Europe/Rome"))
      .toDF("agency_name", "agency_url", "agency_timezone")
    val routes = Seq(
      ("R1", "1", "Alpha-Gamma", 3), ("R2", "2", "GammaDue-Epsilon", 3),
      ("R3", "3", "Alpha-Epsilon", 3))
      .toDF("route_id", "short_name", "route_long_name", "route_type")
    val trips = Seq(
      ("R1", "S1", "T1"), ("R1", "S1", "T2"), ("R2", "S1", "T3"),
      ("R2", "S1", "T4"), ("R3", "S1", "T5"), ("R3", "S1", "T6"))
      .map { case (r, s, t) => (r, s, t, "0", "SH", "headsign") }
      .toDF("route_id", "service_id", "trip_id", "direction_id", "shape_id", "trip_headsign")
    val stops = Seq(
      ("SA", "Alpha", 44.6000, 10.9000), ("SB", "Beta", 44.6100, 10.9000),
      ("SC", "Gamma", 44.6200, 10.9000), ("SC2", "Gamma Due", 44.62015, 10.9000),
      ("SD1", "Delta", 44.6300, 10.9100), ("SD2", "Delta", 44.63005, 10.91005),
      ("SE", "Epsilon", 44.6400, 10.9200))
      .toDF("stop_id", "stop_name", "stop_lat", "stop_lon")
    val stopTimes = Seq(
      ("T1", "14:01:00", "14:01:00", "SA", 1), ("T1", "14:05:00", "14:06:00", "SB", 2),
      ("T1", "14:10:00", "14:11:00", "SC", 3),
      ("T2", "15:00:00", "15:00:00", "SA", 1), ("T2", "15:05:00", "15:06:00", "SB", 2),
      ("T2", "15:10:00", "15:11:00", "SC", 3),
      ("T3", "14:15:00", "14:15:00", "SC2", 1), ("T3", "14:25:00", "14:26:00", "SD1", 2),
      ("T3", "14:40:00", "14:40:00", "SE", 3),
      ("T4", "14:05:00", "14:05:00", "SC2", 1), ("T4", "14:15:00", "14:16:00", "SD1", 2),
      ("T4", "14:30:00", "14:30:00", "SE", 3),
      ("T5", "14:02:00", "14:02:00", "SA", 1), ("T5", "15:30:00", "15:30:00", "SE", 2),
      ("T6", "24:05:00", "24:05:00", "SA", 1), ("T6", "24:50:00", "24:50:00", "SE", 2))
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
      .withColumn("arr_secs", secondsSinceMidnight(col("arrival_time")))
      .withColumn("dep_secs", secondsSinceMidnight(col("departure_time")))
    val calendar = Seq(("S1", java.sql.Date.valueOf("2024-01-18"), "1"))
      .toDF("service_id", "day", "exception_type")
    GtfsTables(agency, routes, trips, stops, stopTimes, calendar)
  }

  /** Inline footway network matching the test fixture (thesis extension). */
  def footway(spark: SparkSession): FootwayEngine = {
    import spark.implicits._
    val nodes = Seq(
      ("F1", 44.60005, 10.90005, "W1"), ("F2", 44.6040, 10.9000, "W1"),
      ("F3", 44.6100, 10.9001, "W2"), ("F4", 44.6300, 10.9100, "W3"),
      ("F5", 44.6400, 10.92005, "W4"), ("F6", 44.5000, 10.8000, "W9"))
      .toDF("id", "latitude", "longitude", "footway_id")
    val edges = Seq(
      ("F1", "F2", "FOOT_ROUTE", 450.0),
      ("F2", "F3", "CONTINUE_ON_FOOTWAY", 680.0),
      ("F3", "F4", "CONTAINS", 3050.0),
      ("F4", "F5", "CONTINUE_ON_FOOTWAY_BY_CROSSING_ROAD", 1720.0),
      ("F5", "F1", "SHORTEST_ROUTE_TO", 4200.0))
      .toDF("src", "dst", "type", "length")
    new FootwayEngine(nodes, edges, tables(spark).stops)
  }

  /** A FRESH engine per call — deliberately not memoized per session: the
    * bench clears the Spark cache between queries, and a memoized engine
    * would keep handing out projection DataFrames whose .cache() was
    * unpersisted underneath it, silently recomputing the projection on
    * every downstream action (measured 2.7 s → 17 s on the routing query).
    * Callers wanting projection reuse hold on to one engine instance. */
  def engine(spark: SparkSession): RoutingEngine = new RoutingEngine(tables(spark))

  def footwayEngine(spark: SparkSession): FootwayEngine = footway(spark)

  /** The demo perf harness's two OD pairs (stop coordinates of the feed). */
  val harnessPairs: Seq[PerfHarness.OdPair] = Seq(
    PerfHarness.OdPair("alpha-epsilon", 44.6000, 10.9000, 44.6400, 10.9200),
    PerfHarness.OdPair("gamma-delta", 44.6200, 10.9000, 44.6300, 10.9100))
}
