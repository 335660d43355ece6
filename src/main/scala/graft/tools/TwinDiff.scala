package graft.tools

import graft.api.{PerfHarness, RoutingEngine}

/** The Modena harness's cross-regime twin: runs `PerfHarness.run` over
  * `PerfHarness.ModenaPairs` on the default engine and again on an engine
  * forced onto the distributed TransitSssp regime (`ssspLocalThreshold =
  * 0L`), and prints one line per pair with both itinerary digests. For a
  * pair whose digests differ it prints the two itineraries side by side
  * with their endpoint times, so an equal-cost path-multiplicity tie can be
  * told apart from a genuine distance bug. Exits with status 1 when any
  * pair differs.
  *
  * `tools/run_tool.sh graft.tools.TwinDiff` */
object TwinDiff {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")

    val raw = graft.etl.SyntheticGtfs.modena(spark)
    val cached = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
    val eng = new RoutingEngine(cached)
    val twin = new RoutingEngine(cached, ssspLocalThreshold = 0L)
    val date = "2024-01-18"; val time = "08:00:00"; val speed = 1.0; val radius = 300.0
    def digests(e: RoutingEngine): Map[String, Long] =
      PerfHarness.run(e, date, time, speed, radius, PerfHarness.ModenaPairs)
        .map(m => m.name -> m.itineraryDigest).toMap
    val viaCsr = digests(eng)
    val viaGrid = digests(twin)

    val differing = PerfHarness.ModenaPairs.filter { p =>
      val (a, b) = (viaCsr(p.name), viaGrid(p.name))
      println(s"${p.name} csr=$a grid-twin=$b equal=${a == b}")
      a != b
    }
    println(s"${PerfHarness.ModenaPairs.length - differing.length}/" +
      s"${PerfHarness.ModenaPairs.length} equal digests")

    differing.foreach { p =>
      val startNames = eng.findNearStops(date, p.startLat, p.startLon, radius, speed)
        .collect().map(_.getString(0)).toSeq
      val endNames = eng.findNearStops(date, p.endLat, p.endLon, radius, speed)
        .collect().map(_.getString(0)).toSeq
      println(s"${p.name} startNames=$startNames endNames=$endNames")

      def show(tag: String, e: RoutingEngine): Array[String] = {
        val rows = e.routingBetweenTwoPoints(date, p.startLat, p.startLon, p.endLat, p.endLon,
          startNames, endNames, speed, time).collect()
        println(s"== $tag: ${rows.length} segments")
        val lines = rows.map { r =>
          Seq("hop", "trip", "departure", "line", "starting_stop_name",
            "next_trip", "next_stop", "arrival").map(c => r.getAs[Any](c)).mkString(" | ")
        }
        lines.foreach(println)
        lines
      }
      val csrLines = show("csr", eng)
      val gridLines = show("grid-twin", twin)
      val firstDiff = csrLines.zip(gridLines).indexWhere { case (x, y) => x != y }
      println(s"rows equal: ${csrLines.sameElements(gridLines)}; first differing hop: " +
        (if (firstDiff < 0 && csrLines.length != gridLines.length) "length mismatch"
         else firstDiff.toString))
    }
    eng.close(); twin.close()
    cached.stopTimes.unpersist(); cached.stops.unpersist()
    spark.stop()
    if (differing.nonEmpty) sys.exit(1)
  }
}
