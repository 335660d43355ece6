package graft.tools

/** Adjudication probe for a cross-regime itinerary divergence surfaced by
  * the harness twin digest (`PerfHarness.twinDigestOk=false`): routes ONE
  * OD pair of the Modena harness through BOTH SSSP regimes and prints the
  * two itineraries side by side with their endpoint times, so an equal-cost
  * path-multiplicity tie can be told apart from a genuine distance bug.
  * SPARK_GRAFT_TWIN_PAIR picks the pair (default p8-backwards). */
object TwinDiff {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")

    val raw = graft.etl.SyntheticGtfs.modena(spark)
    val cached = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
    val eng = new graft.api.RoutingEngine(cached)
    val twin = new graft.api.RoutingEngine(cached, ssspLocalThreshold = 0L)
    def pt(r: Int, c: Int): (Double, Double) = (44.5 + r * 0.0032, 10.8 + c * 0.01)
    val specs = Map(
      "p1-samecol-short" -> ((2, 2), (6, 2)),
      "p2-near-diag" -> ((0, 0), (10, 5)),
      "p3-samecol-mid" -> ((5, 10), (20, 10)),
      "p4-samerow-long" -> ((10, 0), (10, 20)),
      "p5-diag-mid" -> ((0, 0), (25, 25)),
      "p6-cross-far" -> ((45, 5), (5, 45)),
      "p7-offdiag" -> ((40, 10), (45, 40)),
      "p8-backwards" -> ((30, 30), (5, 15)),
      "p9-corner-corner" -> ((49, 49), (0, 0)))
    val name = sys.env.getOrElse("SPARK_GRAFT_TWIN_PAIR", "p8-backwards")
    val (a, b) = specs(name)
    val (aLat, aLon) = pt(a._1, a._2); val (bLat, bLon) = pt(b._1, b._2)
    val date = "2024-01-18"; val time = "08:00:00"; val speed = 1.0

    val startNames = eng.findNearStops(date, aLat, aLon, 300.0, speed)
      .collect().map(_.getString(0)).toSeq
    val endNames = eng.findNearStops(date, bLat, bLon, 300.0, speed)
      .collect().map(_.getString(0)).toSeq
    println(s"$name startNames=$startNames endNames=$endNames")

    def show(tag: String, e: graft.api.RoutingEngine): Array[String] = {
      val rows = e.routingBetweenTwoPoints(date, aLat, aLon, bLat, bLon,
        startNames, endNames, speed, time).collect()
      println(s"== $tag: ${rows.length} segments")
      val lines = rows.map { r =>
        Seq("hop", "trip", "departure", "line", "starting_stop_name",
          "next_trip", "next_stop", "arrival").map(c => r.getAs[Any](c)).mkString(" | ")
      }
      lines.foreach(println)
      lines
    }
    val viaCsr = show("csr", eng)
    val viaGrid = show("grid-twin", twin)
    val firstDiff = viaCsr.zip(viaGrid).indexWhere { case (x, y) => x != y }
    println(s"rows equal: ${viaCsr.sameElements(viaGrid)}; first differing hop: " +
      (if (firstDiff < 0 && viaCsr.length != viaGrid.length) "length mismatch"
       else firstDiff.toString))
    eng.close(); twin.close()
    spark.stop()
  }
}
