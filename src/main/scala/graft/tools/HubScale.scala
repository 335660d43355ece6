package graft.tools

/** Hub-skew stress for the distributed routing path (r11 verdict #6).
  *
  * Every scale point so far used the uniform synthetic grid; real feeds
  * have hub stops where many routes interchange, skewing the CHANGE
  * slice's per-trip fan and the candidate stage's (src, d_trip, d_seq)
  * reduction. This probe builds [[graft.etl.SyntheticGtfs.hub]] at 10×
  * Modena cardinality (50 spokes × 100 stops × 500 trips = 2.5M
  * stoptimes, ALL transfers at one shared hub stop), routes an
  * end-to-end spoke pair through the distributed branch, and asserts
  * itinerary parity against a raised-threshold CSR twin. Interpretation
  * notes:
  *  - partial aggregation must absorb the hub's candidate fan (the
  *    groupBy(src, d_trip, d_seq) reduction is map-side combinable);
  *    the check is that the route's wall stays near the uniform 10×
  *    campaign medians in COVERAGE.md.
  * walkRadiusMeters = 50 keeps WALK_TO to self-loops, so the ONLY
  * transfer point is the hub (pure skew, no geometric side-channels).
  *
  * Recipe: SPARK_DRIVER_MEM=24g sbt "runMain graft.tools.HubScale"
  * Knobs: SPARK_GRAFT_HUB_SPOKES / _STOPS / _TRIPS override the shape;
  * SPARK_GRAFT_HUB_DIRTY=1 rewinds every 17th intra-trip arrival clock by
  * 200 s (arr < previous dep → a negative PRECEDES Δacum inside any
  * cap) — the r15 dirty-feed measurement: the capped CSR must STILL
  * serve, through the label-correcting fixpoint, instead of declining to
  * the 335 s-class distributed rounds. Departure clocks stay monotone, so the
  * perturbation never moves a clock PAST the anchor — capped and
  * uncapped itineraries stay comparable (full parity expected).
  */
object HubScale {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(4).count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val nSpokes = sys.env.getOrElse("SPARK_GRAFT_HUB_SPOKES", "50").toInt
    val nStops = sys.env.getOrElse("SPARK_GRAFT_HUB_STOPS", "100").toInt
    val nTrips = sys.env.getOrElse("SPARK_GRAFT_HUB_TRIPS", "500").toInt
    val raw0 = graft.etl.SyntheticGtfs.hub(spark, nSpokes, nStops, nTrips)
    val dirty = sys.env.get("SPARK_GRAFT_HUB_DIRTY").contains("1")
    val raw = if (!dirty) raw0 else raw0.copy(stopTimes = raw0.stopTimes
      .withColumn("arr_secs",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.expr(
            "stop_sequence % 17 = 6 and stop_sequence > 1"),
          org.apache.spark.sql.functions.col("arr_secs") - 200)
          .otherwise(org.apache.spark.sql.functions.col("arr_secs"))))
    val g = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
    println(s"hub network: $nSpokes spokes x $nStops stops x $nTrips trips = " +
      s"${g.stopTimes.count()} stoptimes" +
      (if (dirty) " (DIRTY: non-monotone arrivals injected)" else ""))

    val eng = new graft.api.RoutingEngine(g, walkRadiusMeters = 50.0,
      ssspLocalThreshold = graft.graph.ShortestPaths.LocalDijkstraMaxEdges)
    val day = java.sql.Date.valueOf("2024-01-18")
    val (proj, buildSec) = timed {
      val p = eng.projected(day, 1.0); p.edges.count(); p
    }
    val edges = proj.edges.count()
    val hubChange = proj.edges.filter(
      org.apache.spark.sql.functions.col("type") === "CHANGE").count()
    println(f"build $buildSec%.1f s, $edges%d edges ($hubChange%d CHANGE, " +
      f"all at the hub), regime ${if (proj.sssp.isLocal) "csr" else "distributed"}%s")

    // end-to-end: outer end of spoke 0 (inbound side) to the outer end of
    // spoke 25 (outbound side) — forced through the hub with one change
    val mid = nStops / 2
    val src = s"Spoke 0/${mid - 40}"
    val tgt = s"Spoke 25/${mid + 40}"
    val (rows, routeSec) = timed {
      eng.routing("2024-01-18", 1.0, "08:00:00", src, tgt).collect()
    }
    println(f"hub route $src%s -> $tgt%s: ${rows.length}%d segments " +
      f"in $routeSec%.1f s")
    require(rows.nonEmpty, "hub route returned no itinerary")
    // cost-carrying endpoints (boarding + final arrival) — lets an
    // over-budget dirty run be compared against the in-heap run on the
    // repair contract (parity on distances; path structure may differ
    // when a zero-total cycle forces a non-canonical tree)
    println(s"hub route endpoints: depart ${rows.head.getAs[String]("departure")}" +
      s" arrive ${rows.last.getAs[String]("arrival")}")
    val acyc = eng.evidence.acyclicResolveServed.get()
    if (acyc > 0) println(s"acyclic re-resolutions served: $acyc " +
      "(zero-total-cycle repair engaged on the distributed walk)")

    // parity: raised-threshold CSR twin on the same pair
    if (!sys.env.get("SPARK_GRAFT_SCALE_NOPARITY").contains("1")) {
      val twin = new graft.api.RoutingEngine(g, walkRadiusMeters = 50.0,
        ssspLocalThreshold = 100000000L)
      val viaCsr = twin.routing("2024-01-18", 1.0, "08:00:00", src, tgt)
        .collect().map(_.toString).toSeq
      val viaDist = rows.map(_.toString).toSeq
      require(viaDist == viaCsr,
        s"HUB PARITY FAILURE: dist=$viaDist csr=$viaCsr")
      println(s"hub parity: distributed itinerary == csr itinerary " +
        s"(${viaCsr.size} segment rows)")
      twin.close()
    }
    eng.close()
    spark.stop()
  }
}
