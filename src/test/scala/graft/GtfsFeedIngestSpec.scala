package graft

import graft.api.RoutingEngine
import graft.etl.{GtfsLoader, GtfsWarehouse}

/** End-to-end ingest of a realistically-shaped GTFS feed directory
  * (`src/test/resources/gtfs-sample`): real-world headers
  * (`route_short_name`, `agency_id`, `block_id`, `pickup_type`, …), extra
  * columns, and a shuffled stops.txt column order — the layout
  * `new_dbSetup.py:33-100` consumes from the actual Modena feed. Proves
  * load → warehouse write → day-pruned reload → routing end to end, with
  * the warehouse-served itinerary bit-equal to the direct one. */
class GtfsFeedIngestSpec extends SparkSpec {

  private lazy val feedDir = getClass.getResource("/gtfs-sample").getPath
  private val Day = "2024-06-01"

  test("by-name loading survives real-feed column order and extras") {
    val gtfs = GtfsLoader.load(spark, feedDir)
    assert(gtfs.stops.count() == 7)
    assert(gtfs.trips.count() == 4)
    assert(gtfs.stopTimes.count() == 16)
    // stops.txt leads with stop_lat/stop_lon — by-name resolution must
    // still land the right values in the right model columns
    val u1 = gtfs.stops.filter(gtfs.stops("stop_id") === "U1").head
    assert(u1.getAs[String]("stop_name") == "Uno")
    assert(u1.getAs[Double]("stop_lat") == 44.6400)
    // route_short_name resolves onto the model's short_name
    val r10 = gtfs.routes.filter(gtfs.routes("route_id") === "R10").head
    assert(r10.getAs[String]("short_name") == "10")
    // reshape drops SV9 (no trips) and converts YYYYMMDD to dates
    val days = gtfs.calendar.select("service_id", "day").collect()
      .map(r => (r.getString(0), r.getDate(1).toString)).toSet
    assert(days == Set(("SV1", "2024-06-01"), ("SV1", "2024-06-02")))
  }

  test("feed directory → warehouse → day-pruned reload → same golden itinerary") {
    val gtfs = GtfsLoader.load(spark, feedDir)
    val segD = withEngine(new RoutingEngine(gtfs)) { direct =>
      // golden: T10A Uno→Tre, line change at Tre, T20A Tre→Vico Due
      val seg = direct.routing(Day, 1.0, "07:55:00", "Uno", "Vico Due").collect()
      assert(seg.length == 5)
      assert(seg.map(_.getAs[String]("trip")).toSeq ==
        Seq("T10A", "T10A", "T10A", "T20A", "T20A"))
      assert(seg.head.getAs[String]("departure") == "08:00:00")
      assert(seg.last.getAs[String]("arrival") == "08:42:00")
      assert(direct.changeCount(direct.routing(Day, 1.0, "07:55:00", "Uno", "Vico Due")) == 1)
      seg
    }

    val whDir = java.nio.file.Files.createTempDirectory("gtfs-sample-wh").toString
    GtfsWarehouse.write(gtfs, whDir)
    val fromWh = GtfsWarehouse.loadTables(spark, whDir, java.sql.Date.valueOf(Day))
    val segW = withEngine(new RoutingEngine(fromWh))(
      _.routing(Day, 1.0, "07:55:00", "Uno", "Vico Due").collect())
    assert(segW.toSeq == segD.toSeq)
  }
}
