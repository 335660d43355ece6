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
  * feed with a row that arrives after it departs (uncapped search) and a
  * negative-weight feed (uncapped label-correcting search). */
class LabelledRoutingSpec extends graft.SparkSpec {
  import spark.implicits._

  private val Day = "2024-01-18"
  private val Horizon = 4

  /** One request: stop-name lists at both ends and, point to point, the
    * walk origins. */
  private final case class Req(srcNames: Seq[String], tgtNames: Seq[String],
      from: Option[(Double, Double)], to: Option[(Double, Double)], time: String)

  /** Engine and oracle itineraries of one request, as segment values;
    * the oracle reads the engine's projection (edges and node records). */
  private final class Both(eng: RoutingEngine) {
    private val g = eng.projected(java.sql.Date.valueOf(Day), 1.0)
    private val ix = g.localIndex.getOrElse(fail("fixture must route in the local regime"))
    private val edges = g.weightedEdges.as[(Long, Long, Double)].collect().toSeq

    def apply(r: Req): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val got = ((r.from, r.to) match {
        case (Some((oLa, oLo)), Some((dLa, dLo))) =>
          eng.routingBetweenTwoPoints(Day, oLa, oLo, dLa, dLo, r.srcNames, r.tgtNames,
            1.0, r.time, Horizon)
        case _ => eng.routing(Day, 1.0, r.time, r.srcNames.head, r.tgtNames.head, Horizon)
      }).collect().map(_.toSeq).toSeq
      val (srcs, tgts) = PerSourceRanking.candidates(ix.recs.toSeq, r.srcNames, r.from,
        r.tgtNames, r.to, 1.0, parseHms(r.time), Horizon)
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

  test("random tie-heavy grid: the labelled search picks the per-source oracle's itinerary") {
    val (k, seed) = (5, 11L)
    withEngine(new RoutingEngine(randomGrid(seed, k, tripsPerRoute = 4))) { eng =>
      val both = new Both(eng)
      val rnd = new scala.util.Random(seed * 31)
      def point(r: Int, c: Int) = (44.6 + r * 0.0015, 10.9 + c * 0.002)
      def near(p: (Double, Double)) =
        eng.findNearStops(Day, p._1, p._2, 300).collect().map(_.getString(0)).toSeq
      var routed, sharedRouted = 0
      (0 until 100).foreach { i =>
        val (r0, c0) = (rnd.nextInt(k), rnd.nextInt(k))
        // every other request ends one cell away: overlapping near-stop sets
        val (r1, c1) =
          if (i % 2 == 0) (rnd.nextInt(k), rnd.nextInt(k))
          else ((r0 + 1) % k, c0)
        val (from, to) = (point(r0, c0), point(r1, c1))
        val time = f"06:${rnd.nextInt(40)}%02d:00"
        val req =
          if (i % 5 == 4) Req(Seq(s"Stop $r0/$c0"), Seq(s"Stop $r1/$c1"), None, None, time)
          else Req(near(from), near(to), Some(from), Some(to), time)
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
