package graft.api

import org.apache.spark.sql.functions.col
import graft.functions.TimeFunctions.{parseHms, secondsSinceMidnight}
import graft.model.GtfsTables

/** Pins the local regime's one labelled, horizon-capped search against
  * [[PerSourceRanking]] — the per-source searches and |sources| × |targets|
  * pair ranking it replaced — on the full itinerary (chosen pair and every
  * hop): tie-heavy random grids with non-zero dwells, requests whose
  * origin and destination share stops (the `t_dep > s_dep` second run), a
  * trip that arrives before the horizon anchor and departs after it, a
  * feed with a row that arrives after it departs (uncapped search), a
  * negative-weight feed (uncapped label-correcting search), and the
  * search's target prune (an unreachable early destination stoptime, a
  * tie on the winning primary key, an invalid self pair below it). The
  * grid's first requests also pin the distributed regime's staged flow to
  * the same oracle, and a warm-routing-shaped request pins the search's
  * work count. */
class LabelledRoutingSpec extends graft.SparkSpec {
  import spark.implicits._

  private val Day = "2024-01-18"
  private val Horizon = 4

  /** One request: stop-name lists at both ends and, point to point, the
    * walk origins. */
  private final case class Req(srcNames: Seq[String], tgtNames: Seq[String],
      from: Option[(Double, Double)], to: Option[(Double, Double)], time: String)

  /** `eng`'s itinerary for one request at walking `speed`, as segment
    * values: point to point when the request has walk origins, else stop
    * to stop. */
  private def routed(eng: RoutingEngine, r: Req, speed: Double = 1.0): Seq[Seq[Any]] =
    ((r.from, r.to) match {
      case (Some((oLa, oLo)), Some((dLa, dLo))) =>
        eng.routingBetweenTwoPoints(Day, oLa, oLo, dLa, dLo, r.srcNames, r.tgtNames,
          speed, r.time, Horizon)
      case _ => eng.routing(Day, speed, r.time, r.srcNames.head, r.tgtNames.head, Horizon)
    }).collect().map(_.toSeq).toSeq

  /** Engine and oracle itineraries of one request at walking `speed`, as
    * segment values; the oracle reads the engine's projection (edges and
    * node records). */
  private final class Both(eng: RoutingEngine, speed: Double = 1.0) {
    private val g = eng.projected(java.sql.Date.valueOf(Day), speed)
    private val ix = g.localIndex.getOrElse(fail("fixture must route in the local regime"))
    private val edges = g.weightedEdges.as[(Long, Long, Double)].collect().toSeq

    /** `via` routes the request (another regime's engine on the same
      * feed); the oracle always reads this engine's projection. */
    def apply(r: Req, via: RoutingEngine = eng): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val got = routed(via, r, speed)
      val (srcs, tgts) = PerSourceRanking.candidates(ix.recs.toSeq, r.srcNames, r.from,
        r.tgtNames, r.to, speed, parseHms(r.time), Horizon)
      val path = PerSourceRanking.best(edges, srcs, tgts)
      val want = if (path.size < 2) Nil
        else RoutingEngine.segmentRows(ix.get, path).map(_.productIterator.toSeq)
      (got, want)
    }
  }

  /** k × k stops about 170 m apart, a route each way along every row and
    * column, minute-granular clocks (many equal arrivals) with random
    * 1–3 min hops and 1–2 min dwells. */
  private def randomGrid(seed: Long, k: Int, tripsPerRoute: Int): GtfsTables = {
    val rnd = new scala.util.Random(seed)
    def stop(r: Int, c: Int) = s"S$r-$c"
    def point(r: Int, c: Int) = (44.6 + r * 0.0015, 10.9 + c * 0.002)
    val lines = (0 until k).flatMap { i =>
      val row = (0 until k).map(stop(i, _)); val column = (0 until k).map(stop(_, i))
      Seq(s"E$i" -> row, s"W$i" -> row.reverse, s"S$i" -> column, s"N$i" -> column.reverse)
    }
    val stopTimes = for {
      (route, stops) <- lines
      t <- 0 until tripsPerRoute
      row <- {
        var clock = 6 * 3600 + t * 600 + 60 * rnd.nextInt(6)
        stops.zipWithIndex.map { case (s, i) =>
          if (i > 0) clock += 60 * (1 + rnd.nextInt(3))
          val arr = clock
          clock += 60 * (1 + rnd.nextInt(2))
          (s"$route-$t", arr, clock, s, i + 1)
        }
      }
    } yield row
    def hms(s: Int) = f"${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d"
    tables(
      lines.map { case (r, _) => (r, r, r) },
      lines.flatMap { case (r, _) => (0 until tripsPerRoute).map(t => (r, s"$r-$t")) },
      for (r <- 0 until k; c <- 0 until k) yield {
        val (la, lo) = point(r, c); (stop(r, c), s"Stop $r/$c", la, lo)
      },
      stopTimes.map { case (trip, a, d, s, q) => (trip, hms(a), hms(d), s, q) })
  }

  /** A one-service feed from (route_id, short name, long name) routes, (route, trip),
    * (stop_id, name, lat, lon) and (trip, arr, dep, stop_id, seq) rows. */
  private def tables(routes: Seq[(String, String, String)], trips: Seq[(String, String)],
      stops: Seq[(String, String, Double, Double)],
      stopTimes: Seq[(String, String, String, String, Int)]): GtfsTables =
    GtfsTables(
      Seq(("A", "http://example.org", "Europe/Rome"))
        .toDF("agency_name", "agency_url", "agency_timezone"),
      routes.map { case (r, n, l) => (r, n, l, 3) }
        .toDF("route_id", "short_name", "route_long_name", "route_type"),
      trips.map { case (r, t) => (r, "S1", t, "0", "SH", "h") }
        .toDF("route_id", "service_id", "trip_id", "direction_id", "shape_id",
          "trip_headsign"),
      stops.toDF("stop_id", "stop_name", "stop_lat", "stop_lon"),
      stopTimes.toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
        .withColumn("arr_secs", secondsSinceMidnight(col("arrival_time")))
        .withColumn("dep_secs", secondsSinceMidnight(col("departure_time"))),
      Seq(("S1", java.sql.Date.valueOf(Day), "1")).toDF("service_id", "day", "exception_type"))

  private val (gridK, gridSeed) = (5, 11L)

  /** The random grid's requests, in order (a fixed seed): every fifth
    * stop to stop, the rest point to point with near-stop lists read from
    * `eng`; every other request ends one cell away, so the near-stop sets
    * overlap. */
  private def gridRequests(eng: RoutingEngine): Iterator[Req] = {
    val k = gridK
    val rnd = new scala.util.Random(gridSeed * 31)
    def point(r: Int, c: Int) = (44.6 + r * 0.0015, 10.9 + c * 0.002)
    def near(p: (Double, Double)) =
      eng.findNearStops(Day, p._1, p._2, 300).collect().map(_.getString(0)).toSeq
    Iterator.from(0).map { i =>
      val (r0, c0) = (rnd.nextInt(k), rnd.nextInt(k))
      val (r1, c1) =
        if (i % 2 == 0) (rnd.nextInt(k), rnd.nextInt(k))
        else ((r0 + 1) % k, c0)
      val (from, to) = (point(r0, c0), point(r1, c1))
      val time = f"06:${rnd.nextInt(40)}%02d:00"
      if (i % 5 == 4) Req(Seq(s"Stop $r0/$c0"), Seq(s"Stop $r1/$c1"), None, None, time)
      else Req(near(from), near(to), Some(from), Some(to), time)
    }
  }

  test("random tie-heavy grid: the labelled search picks the per-source oracle's itinerary") {
    withEngine(new RoutingEngine(randomGrid(gridSeed, gridK, tripsPerRoute = 4))) { eng =>
      val both = new Both(eng)
      var routed, sharedRouted = 0
      gridRequests(eng).take(100).zipWithIndex.foreach { case (req, i) =>
        val (got, want) = both(req)
        assert(got == want, s"request $i ($req):\nengine=$got\noracle=$want")
        if (want.nonEmpty) {
          routed += 1
          if (req.srcNames.exists(req.tgtNames.contains)) sharedRouted += 1
        }
      }
      assert(routed >= 80 && sharedRouted >= 30,
        s"fixture drifted: routed $routed, $sharedRouted with a shared stop")
    }
  }

  test("random tie-heavy grid: the staged distributed flow picks the oracle's itinerary") {
    // the first 12 requests of the grid case, walked and stop to stop,
    // routed by a ssspLocalThreshold = 0 engine (staged TransitSssp: the
    // capped CSR stays off under its node-count floor)
    val feed = randomGrid(gridSeed, gridK, tripsPerRoute = 4)
    withEngine(new RoutingEngine(feed)) { eng =>
      withEngine(new RoutingEngine(feed, ssspLocalThreshold = 0L)) { engD =>
        val both = new Both(eng)
        var routed = 0
        gridRequests(eng).take(12).zipWithIndex.foreach { case (req, i) =>
          val (got, want) = both(req, via = engD)
          assert(got == want, s"request $i ($req):\ndistributed=$got\noracle=$want")
          if (want.nonEmpty) routed += 1
        }
        assert(routed >= 8, s"fixture drifted: routed $routed of 12")
        assert(engD.projected(java.sql.Date.valueOf(Day), 1.0).localIndex.isEmpty &&
          engD.evidence.cappedCsrServed.get() == 0L, "the staged flow did not route")
      }
    }
  }

  /** Start → End for the target prune. TA reaches End at 14:30 and is the
    * first target to settle. TE passes End at 14:10, before any source can
    * get there: unreachable, with a primary key below every other target's.
    * TB arrives at End at 14:20 and dwells until 14:45; TC reaches Near2,
    * 100 m from End, at 14:38 and changes to TB there (cost 2500), which
    * beats changing from TA at End (cost 2700). Near1 and Near2 arrive
    * after 14:30, so only a cap that keeps TB's departure clock keeps the
    * winning path. */
  private def earlyDestination: GtfsTables = tables(
    Seq(("R1", "1", "Start-End"), ("R2", "2", "FarB-Beyond"), ("R3", "3", "Start-Near2"),
      ("R4", "4", "FarE-Beyond")),
    Seq(("R1", "TA"), ("R2", "TB"), ("R3", "TC"), ("R4", "TE")),
    Seq(("SA", "Start", 44.6000, 10.9000), ("SM1", "Near1", 44.6100, 10.9000),
      ("SM2", "Near2", 44.6309, 10.9100), ("ST", "End", 44.6300, 10.9100),
      ("SF", "FarB", 44.6500, 10.9500), ("SE", "FarE", 44.6600, 10.9600),
      ("SX", "Beyond", 44.6700, 10.9700)),
    Seq(("TA", "14:00:00", "14:00:00", "SA", 1), ("TA", "14:30:00", "14:30:00", "ST", 2),
      ("TC", "14:05:00", "14:05:00", "SA", 1), ("TC", "14:36:00", "14:36:00", "SM1", 2),
      ("TC", "14:38:00", "14:38:00", "SM2", 3),
      ("TB", "14:10:00", "14:10:00", "SF", 1), ("TB", "14:20:00", "14:45:00", "ST", 2),
      ("TB", "14:55:00", "14:55:00", "SX", 3),
      ("TE", "14:00:00", "14:00:00", "SE", 1), ("TE", "14:10:00", "14:10:00", "ST", 2),
      ("TE", "14:20:00", "14:20:00", "SX", 3)))

  test("target prune: an unreachable early destination stoptime and a dwelling winner") {
    val req = Req(Seq("Start"), Seq("End"), None, None, "13:50:00")
    val (got, want) = withEngine(new RoutingEngine(earlyDestination))(new Both(_)(req))
    assert(want.map(_(8)) == Seq("TC", "TC", "TB"), s"fixture drifted: oracle=$want")
    assert(got == want, s"engine=$got\noracle=$want")
  }

  test("target prune: a target tied on the winning primary key wins on cost after settling") {
    // From Start (the walk origin, so no start walk): TA reaches EndA at
    // 14:30, TB leaves a minute later and reaches EndB at 14:32. EndB is
    // 120 s of walking nearer the destination at the chosen speed, so both
    // primary keys tie; TA's target settles first (cost 1800 < 1860), TB's
    // wins on cost + walks (1860 + 280 < 1800 + 400, near enough).
    import graft.functions.SpatialFunctions.haversineMetersScalar
    val (la, lo) = (44.6300, 10.9100)
    val (endA, endB) = ((44.6345, 10.9100), (44.62685, 10.9100))
    def meters(p: (Double, Double)) = haversineMetersScalar(p._1, p._2, la, lo)
    val speed = (meters(endA) - meters(endB)) / 120.0
    assert(parseHms("14:30:00") + meters(endA) / speed ==
      parseHms("14:32:00") + meters(endB) / speed, "fixture drifted: the primary keys differ")
    val feed = tables(
      Seq(("R1", "1", "Start-EndA"), ("R2", "2", "Start-EndB")),
      Seq(("R1", "TA"), ("R2", "TB")),
      Seq(("SA", "Start", 44.6000, 10.9000), ("SEA", "EndA", endA._1, endA._2),
        ("SEB", "EndB", endB._1, endB._2)),
      Seq(("TA", "14:00:00", "14:00:00", "SA", 1), ("TA", "14:30:00", "14:30:00", "SEA", 2),
        ("TB", "14:01:00", "14:01:00", "SA", 1), ("TB", "14:32:00", "14:32:00", "SEB", 2)))
    val req = Req(Seq("Start"), Seq("EndA", "EndB"), Some((44.6000, 10.9000)), Some((la, lo)),
      "13:50:00")
    val (got, want) = withEngine(new RoutingEngine(feed))(new Both(_, speed)(req))
    assert(want.map(_(1)) == Seq("TB"), s"fixture drifted: oracle=$want")
    assert(got == want, s"engine=$got\noracle=$want")
  }

  test("target prune: a self pair below the winner's primary key is not a valid winner") {
    // TB's Mid stoptime is a source and a target; its self pair settles
    // first but fails t_dep > s_dep (the second run finds no other source
    // for it), and TA's End stoptime, with a higher primary key, wins
    val feed = tables(
      Seq(("R1", "1", "Start-End"), ("R2", "2", "Mid-Far")),
      Seq(("R1", "TA"), ("R2", "TB")),
      Seq(("SA", "Start", 44.6000, 10.9000), ("SM", "Mid", 44.6100, 10.9000),
        ("ST", "End", 44.6300, 10.9100), ("SF", "Far", 44.6500, 10.9500)),
      Seq(("TA", "14:00:00", "14:00:00", "SA", 1), ("TA", "14:30:00", "14:30:00", "ST", 2),
        ("TB", "14:08:00", "14:10:00", "SM", 1), ("TB", "14:40:00", "14:40:00", "SF", 2)))
    val req = Req(Seq("Start", "Mid"), Seq("Mid", "End"), Some((44.6050, 10.9000)),
      Some((44.6200, 10.9050)), "13:40:00")
    val (got, want) = withEngine(new RoutingEngine(feed))(new Both(_)(req))
    assert(want.map(_(1)) == Seq("TA"), s"fixture drifted: oracle=$want")
    assert(got == want, s"engine=$got\noracle=$want")
  }

  test("back-to-back searches on one projection equal searches on fresh state") {
    withEngine(new RoutingEngine(randomGrid(gridSeed, gridK, tripsPerRoute = 4))) { eng =>
      // point to point, the search's settle count
      def settled(r: Req): Option[Int] = for {
        (oLa, oLo) <- r.from; (dLa, dLo) <- r.to
        l <- eng.localSearchBetweenTwoPoints(Day, oLa, oLo, dLa, dLo, r.srcNames, r.tgtNames,
          1.0, r.time, Horizon)
      } yield l.settled
      // a search keeps its working state per thread and projection: a new
      // thread's first search starts from freshly allocated state
      def onFreshThread[T](f: => T): T = {
        var out: scala.util.Try[T] = scala.util.Failure(new IllegalStateException("not run"))
        val t = new Thread(() => out = scala.util.Try(f))
        t.start(); t.join()
        out.get
      }
      val reqs = gridRequests(eng).take(30).toIndexedSeq
      val backToBack = reqs.map(r => (routed(eng, r), settled(r)))
      val fresh = reqs.map(r => (onFreshThread(routed(eng, r)), onFreshThread(settled(r))))
      reqs.indices.foreach { i =>
        assert(backToBack(i) == fresh(i), s"request $i (${reqs(i)})")
      }
      assert(backToBack.count(_._1.nonEmpty) >= 20 && backToBack.count(_._2.isDefined) >= 20,
        "fixture drifted: too few routed point-to-point requests")
    }
  }

  test("a warm grid request settles under a third of its horizon window") {
    // warm_routing's feed shape: 16 × 16 stops, a route each way along
    // every row and column, 25 trips per route
    val feed = graft.etl.SyntheticGtfs.grid(spark, 16, 16, 25, baseSecs = 5 * 3600,
      headwaySecs = 2300, hopSecs = 90, directions = 2, rowStepDeg = 0.0032)
    withEngine(new RoutingEngine(feed)) { eng =>
      def point(r: Int, c: Int) = (44.5 + r * 0.0032, 10.8 + c * 0.01)
      def near(p: (Double, Double)) =
        eng.findNearStops(Day, p._1, p._2, 300).collect().map(_.getString(0)).toSeq
      val (from, to, time) = (point(3, 2), point(11, 12), "08:00:00")
      val req = Req(near(from), near(to), Some(from), Some(to), time)
      val (got, want) = new Both(eng)(req)
      assert(want.nonEmpty && got == want, s"engine=$got\noracle=$want")
      val labels = eng.localSearchBetweenTwoPoints(Day, from._1, from._2, to._1, to._2,
        req.srcNames, req.tgtNames, 1.0, time, Horizon)
        .getOrElse(fail("the request must search in the local regime"))
      val t0 = parseHms(time)
      val window = eng.projected(java.sql.Date.valueOf(Day), 1.0).localIndex.get.recs
        .count(r => r.arr >= t0 && r.arr <= t0 + Horizon * 3600L)
      info(s"settled ${labels.settled} of a $window-stoptime horizon window")
      assert(labels.settled > 0 && labels.settled * 3 < window,
        s"settled ${labels.settled} of a $window-stoptime horizon window")
    }
  }

  /** Start → Mid0 on TA, which then dwells at Mid0 until 19:00, past the
    * 17:50 anchor of a 13:50 request; TB leaves Mid0 at 14:30 for End.
    * Changing from TA to TB at Mid0 is the only itinerary. */
  private def dwellPastAnchor: GtfsTables = tables(
    Seq(("R1", "1", "Start-Far"), ("R2", "2", "Mid0-End")),
    Seq(("R1", "TA"), ("R2", "TB")),
    Seq(("SA", "Start", 44.6000, 10.9000), ("SB", "Mid0", 44.6100, 10.9000),
      ("SF", "Far", 44.6200, 10.9000), ("ST", "End", 44.6300, 10.9100)),
    Seq(("TA", "14:00:00", "14:00:00", "SA", 1), ("TA", "14:20:00", "19:00:00", "SB", 2),
      ("TA", "19:10:00", "19:10:00", "SF", 3),
      ("TB", "14:30:00", "14:30:00", "SB", 1), ("TB", "14:50:00", "14:51:00", "ST", 2)))

  test("a trip alighted before the horizon anchor but departing after it still routes") {
    val req = Req(Seq("Start"), Seq("End"), None, None, "13:50:00")
    val (got, want) = withEngine(new RoutingEngine(dwellPastAnchor))(new Both(_)(req))
    assert(want.map(_(1)) == Seq("TA", "TA", "TB"), s"fixture drifted: oracle=$want")
    assert(got == want, s"engine=$got\noracle=$want")
  }

  test("the distributed regime's departure clock cap loses the dwell-past-anchor route") {
    // Pinned divergence: TransitSssp's grid keeps the rows with
    // dep_secs ≤ the anchor, so TA's Mid0 row (dep 19:00) is dropped and
    // the change to TB with it. A fix flips this to the local answer.
    val segs = withEngine(new RoutingEngine(dwellPastAnchor, ssspLocalThreshold = 0L))(
      _.routing(Day, 1.0, "13:50:00", "Start", "End", Horizon).collect().toSeq)
    assert(segs.isEmpty, s"distributed regime now routes: $segs")
  }

  test("irregular feed (a row arrives after it departs): uncapped, matches oracle and grid") {
    // TB's Mid row arrives at 19:00, past the 17:50 anchor, but departs at
    // 14:35: every weight stays positive, yet an arrival cap would drop
    // the row and with it the only itinerary
    val feed = tables(
      Seq(("R1", "1", "Start-Mid0"), ("R2", "2", "Mid0-End")),
      Seq(("R1", "TA"), ("R2", "TB")),
      Seq(("SA", "Start", 44.6000, 10.9000), ("SB", "Mid0", 44.6100, 10.9000),
        ("SM", "Mid", 44.6200, 10.9000), ("ST", "End", 44.6300, 10.9100)),
      Seq(("TA", "14:00:00", "14:00:00", "SA", 1), ("TA", "14:20:00", "14:21:00", "SB", 2),
        ("TB", "14:25:00", "14:30:00", "SB", 1), ("TB", "19:00:00", "14:35:00", "SM", 2),
        ("TB", "14:50:00", "14:51:00", "ST", 3)))
    val req = Req(Seq("Start"), Seq("End"), None, None, "13:50:00")
    val (got, want) = withEngine(new RoutingEngine(feed)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf(Day), 1.0)
      assert(g.weightedEdges.filter(col("weight") < 0).count() == 0,
        "fixture drifted: a negative weight")
      new Both(eng)(req)
    }
    assert(want.map(_(1)) == Seq("TA", "TA", "TB", "TB"), s"fixture drifted: oracle=$want")
    assert(got == want, s"engine=$got\noracle=$want")
    val grid = withEngine(new RoutingEngine(feed, ssspLocalThreshold = 0L))(
      _.routing(Day, 1.0, req.time, "Start", "End", Horizon).collect().map(_.toSeq).toSeq)
    assert(grid == want, s"distributed=$grid\noracle=$want")
  }

  test("negative-weight feed: the uncapped label-correcting search matches the oracle") {
    // TB's second row arrives before the first departs: a negative
    // PRECEDES weight, so the search runs the SPFA fixpoint, uncapped
    val feed = tables(
      Seq(("R1", "1", "Start-Mid"), ("R2", "2", "Mid-End")),
      Seq(("R1", "TA"), ("R2", "TB")),
      Seq(("SA", "Start", 44.6000, 10.9000), ("SB", "Mid0", 44.6100, 10.9000),
        ("SM", "Mid", 44.6200, 10.9000), ("ST", "End", 44.6300, 10.9100)),
      Seq(("TA", "14:00:00", "14:00:00", "SA", 1), ("TA", "14:20:00", "14:21:00", "SB", 2),
        ("TB", "14:25:00", "14:30:00", "SB", 1), ("TB", "14:10:00", "14:45:00", "SM", 2),
        ("TB", "15:00:00", "15:01:00", "ST", 3)))
    withEngine(new RoutingEngine(feed)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf(Day), 1.0)
      val both = new Both(eng)
      assert(g.weightedEdges.filter(col("weight") < 0).count() > 0,
        "fixture drifted: no negative weight")
      for (req <- Seq(Req(Seq("Start"), Seq("End"), None, None, "13:50:00"),
          Req(Seq("Start", "Mid0"), Seq("Mid", "End"), Some((44.605, 10.9)),
            Some((44.625, 10.905)), "13:50:00"))) {
        val (got, want) = both(req)
        assert(want.nonEmpty, s"fixture drifted: $req does not route")
        assert(got == want, s"$req:\nengine=$got\noracle=$want")
      }
    }
  }
}
