package graft

import org.apache.spark.sql.functions._
import graft.etl.{GtfsLoader, GraphBuilder}
import graft.api.RoutingEngine
import graft.graph.ShortestPaths

/** Golden tests over the mini GTFS fixture (FIXTURES.md §5): every derived
  * edge and the full routing flow asserted against hand-computed values
  * (see the distance/cost derivations in the comments).
  */
class GtfsEngineSpec extends SparkSpec {
  import spark.implicits._

  lazy val gtfs = GtfsLoader.load(spark, fixtureDir)
  lazy val engine = new RoutingEngine(gtfs)
  val Day = "2024-01-18"

  test("loader: times parsed as seconds incl. past-midnight; calendar reshaped") {
    val st = gtfs.stopTimes.filter($"trip_id" === "T6").orderBy("stop_sequence")
      .select("dep_secs").as[Int].collect().toSeq
    assert(st == Seq(24 * 3600 + 300, 24 * 3600 + 3000)) // 24:05:00, 24:50:00
    // reshape.py semantics: S9 (absent from trips) filtered out
    val services = gtfs.calendar.select("service_id").distinct().as[String].collect().toSet
    assert(services == Set("S1"))
    assert(gtfs.calendar.count() == 2) // S1 on two days
  }

  test("precedes: per-trip lead edges with waiting = next.arr − this.dep") {
    val p = GraphBuilder.precedes(gtfs.stopTimes)
    assert(p.count() == 10) // 4 trips × 2 + 2 trips × 1
    val t1 = p.filter($"trip_id" === "T1").orderBy("src_seq")
      .select("waiting_time").as[Long].collect().toSeq
    assert(t1 == Seq(240L, 240L)) // A→B 14:05−14:01, B→C 14:10−14:06
    val t6 = p.filter($"trip_id" === "T6").select("waiting_time").as[Long].head()
    assert(t6 == 2700L) // 24:50 − 24:05 (needs the >24 h codec)
  }

  test("walkTo: pairs <300 m incl. self-loops and both directions") {
    val w = engine.walkTo
    // 7 self-loops + (C,C2) and (D1,D2) in both directions = 11
    assert(w.count() == 11)
    val self = w.filter($"src_stop_id" === $"dst_stop_id")
    assert(self.count() == 7)
    assert(self.select(max("distance")).head.getDouble(0) == 0.0)
    val cc2 = w.filter($"src_stop_id" === "SC" && $"dst_stop_id" === "SC2")
      .select("distance").as[Double].head()
    assert(math.abs(cc2 - 16.679) < 0.01)
    // symmetry
    val c2c = w.filter($"src_stop_id" === "SC2" && $"dst_stop_id" === "SC")
      .select("distance").as[Double].head()
    assert(cc2 == c2c)
  }

  test("projection: day-valid nodes and CHANGE ∪ PRECEDES edges") {
    val g = engine.projected(java.sql.Date.valueOf(Day), 1.0)
    assert(g.nodeCount == 16) // 4 trips × 3 stoptimes + 2 trips × 2
    val byType = g.edges.groupBy("type").count().as[(String, Long)].collect().toMap
    assert(byType("PRECEDES") == 10)
    // hand-enumerated CHANGE edges (same service, diff trip+route, earliest
    // per (source, other-route, distance), reachable in time):
    // A(T1)→A(T5), A(T5)→A(T2), A(T2)→A(T6), C(T1)→C2(T3), C2(T3)→C(T2),
    // C2(T4)→C(T1), E(T3)→E(T5), E(T4)→E(T5)
    assert(byType("CHANGE") == 8)
    // the transfer used by the golden itinerary: C(T1,seq3) → C2(T3,seq1)
    val key = g.nodes.filter($"trip_id" === "T1" && $"stop_sequence" === 3)
      .select("id").as[Long].head()
    val tkey = g.nodes.filter($"trip_id" === "T3" && $"stop_sequence" === 1)
      .select("id").as[Long].head()
    val e = g.edges.filter($"source" === key && $"target" === tkey)
      .select("waiting_time", "walking_time").as[(Long, Long)].head()
    // walk 16.679 m at 1 m/s → floor 16 s; wait = (14:15−14:10) + 16 = 316
    assert(e == ((316L, 16L)))
  }

  test("pregel SSSP: multi-source distances are exact") {
    val g = engine.projected(java.sql.Date.valueOf(Day), 1.0)
    val aT1 = g.nodes.filter($"trip_id" === "T1" && $"stop_sequence" === 1)
      .select("id").as[Long].head()
    val eT3 = g.nodes.filter($"trip_id" === "T3" && $"stop_sequence" === 3)
      .select("id").as[Long].head()
    // force the distributed Pregel path (localThreshold = 0) …
    val dist = ShortestPaths.fromDF(g.weightedEdges, Set(aT1), localThreshold = 0)
    val d = dist.filter($"vertex_id" === eT3).select("dist").as[Double].head()
    // A→B 240 + B→C 240 + change 316 + C2→D1 600 + D1→E 840 = 2236
    assert(d == 2236.0)
    // … and assert the local-Dijkstra fast path returns the identical table
    val local = ShortestPaths.fromDF(g.weightedEdges, Set(aT1))
    assert(local.orderBy("vertex_id").collect().toSeq ==
      dist.orderBy("vertex_id").collect().toSeq)
    // the target-restricted handle above the threshold (the branch a
    // walking graph past LocalDijkstraMaxEdges reads): distances carry
    // only the reached requested target, and the driver-side lookups
    // answer None/Nil by contract
    val absent = g.nodes.agg(max("id")).as[Long].head() + 1L
    val distRun = new ShortestPaths.Sssp(g.weightedEdges, localThreshold = 0)
      .runForTargets(Set(aT1), Set(eT3, absent))
    assert(!distRun.isLocal)
    assert(distRun.distances.select("vertex_id", "source_id", "dist")
      .as[(Long, Long, Double)].collect().toSeq == Seq((eT3, aT1, 2236.0)))
    assert(distRun.distance(aT1, eT3).isEmpty)
    assert(distRun.path(aT1, eT3) == Nil)
    // … while the default (local) handle serves both from driver state
    val localRun = new ShortestPaths.Sssp(g.weightedEdges)
      .runForTargets(Set(aT1), Set(eT3, absent))
    assert(localRun.isLocal)
    assert(localRun.distance(aT1, eT3) == Some(2236.0))
    val path = localRun.path(aT1, eT3)
    assert(path.head == aT1 && path.last == eT3)
  }

  test("golden routing Alpha→Epsilon 14:00: the 5-segment transfer itinerary") {
    val seg = engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").collect()
    assert(seg.length == 5)
    val trips = seg.map(_.getAs[String]("trip")).toSeq
    assert(trips == Seq("T1", "T1", "T1", "T3", "T3"))
    val nextTrips = seg.map(_.getAs[String]("next_trip")).toSeq
    assert(nextTrips == Seq("T1", "T1", "T3", "T3", "T3"))
    assert(seg.head.getAs[String]("departure") == "14:01:00")
    assert(seg.last.getAs[String]("arrival") == "14:40:00")
    assert(seg.last.getAs[String]("next_stop") == "Epsilon")
    // exactly 1 line change (A7 analog)
    assert(engine.changeCount(engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")) == 1)
  }

  test("routing through the forced-distributed branch equals the local branch") {
    // same golden query, but the engine is constructed with localThreshold 0,
    // forcing the distributed branch: TransitSssp trip-collapse rounds +
    // distributed path extraction
    val segD = withEngine(new graft.api.RoutingEngine(graft.api.DemoGtfs.tables(spark),
      ssspLocalThreshold = 0L))(_.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").collect())
    val segL = engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").collect()
    assert(segD.toSeq == segL.toSeq)
    assert(segD.length == 5)
  }

  test("close() releases every persistent RDD a distributed-regime route added") {
    // the projection's TransitSssp pins (trip prefix, CHANGE slice, capped
    // slices) are local checkpoints, which no Dataset cache clear frees
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val engD = new graft.api.RoutingEngine(graft.api.DemoGtfs.tables(spark),
      ssspLocalThreshold = 0L)
    val seg = engD.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").collect()
    assert(seg.length == 5)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the route persisted nothing: the check is vacuous")
    engD.close()
    def described(ids: scala.collection.Set[Int]) = s"${ids.toSeq.sorted}: " +
      ids.toSeq.sorted.map(spark.sparkContext.getPersistentRDDs(_).toDebugString
        .linesIterator.next()).mkString("; ")
    val left = added.intersect(spark.sparkContext.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"close() left persistent RDDs ${described(left)}")
    // a local-regime engine: its nodes and WALK_TO caches, and no edge
    // frame at all (the driver build pins none), go with close()
    val beforeLocal = spark.sparkContext.getPersistentRDDs.keySet
    val engL = new graft.api.RoutingEngine(graft.api.DemoGtfs.tables(spark))
    assert(engL.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").collect().length == 5)
    assert(engL.projected(java.sql.Date.valueOf(Day), 1.0).localIndex.isDefined)
    assert(spark.sparkContext.getPersistentRDDs.keySet != beforeLocal,
      "the local route persisted nothing: the check is vacuous")
    engL.close()
    val leftLocal = spark.sparkContext.getPersistentRDDs.keySet -- beforeLocal
    assert(leftLocal.isEmpty, s"close() left persistent RDDs ${described(leftLocal)}")
  }

  test("routing through the forced capped-CSR regime equals distributed and local") {
    // r14: a clock-capped call whose horizon-bounded subgraph fits the
    // driver budget routes on the in-heap CSR
    // (TransitSssp.runForTargetsCapped). At fixture scale the node-count
    // floor keeps the distributed path, so force the capped machinery on
    // and pin the itinerary against BOTH the capped distributed flow (CSR
    // budget zeroed) and the plain local branch — the engine's own
    // engagement counter proves the forced run took the CSR path rather
    // than silently falling back.
    val tables = graft.api.DemoGtfs.tables(spark)
    // gates forced per-engine (constructor params); each engine's evidence
    // counts only its own calls
    def forcedEngine(csrBudget: Long) =
      new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L,
        cappedCsrMaxEdges = csrBudget, cappedSliceMinNodes = 0L)
    def route(eng: graft.api.RoutingEngine): Seq[String] =
      eng.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")
        .collect().map(_.toString).toSeq
    val segCsr = withEngine(forcedEngine(1L << 40)) { engCsr =>
      withEngine(forcedEngine(1L << 40)) { bystander =>
        val seg = route(engCsr)
        assert(engCsr.evidence.cappedCsrServed.get() >= 1L,
          "capped-CSR regime did not engage under forced gates")
        assert(bystander.evidence.cappedCsrServed.get() == 0L,
          "an engine that routed nothing must report no capped-CSR runs")
        seg
      }
    }
    val segDist = withEngine(forcedEngine(0L)) { engDist =>
      val seg = route(engDist)
      assert(engDist.evidence.cappedCsrServed.get() == 0L,
        "zeroed CSR budget must keep the distributed flow")
      seg
    }
    val segLocal = engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")
      .collect().map(_.toString).toSeq
    assert(segCsr == segDist, "capped-CSR itinerary diverged from distributed")
    assert(segCsr == segLocal, "capped-CSR itinerary diverged from local CSR")
    assert(segCsr.size == 5)
  }

  test("past-midnight routing survives the horizon clock cap, both branches") {
    // A 23:00 query's horizon ends at 27:00 (97200 s): T6's past-midnight
    // rows (dep_secs 86700 / 89400) must survive the capped grid — raw
    // seconds-since-midnight keep ordering across 24:00, so the cap
    // arithmetic needs no day wraparound. Both branches must return the
    // 1-segment T6 itinerary.
    val segD = withEngine(new graft.api.RoutingEngine(graft.api.DemoGtfs.tables(spark),
      ssspLocalThreshold = 0L))(_.routing(Day, 1.0, "23:00:00", "Alpha", "Epsilon").collect())
    val segL = engine.routing(Day, 1.0, "23:00:00", "Alpha", "Epsilon").collect()
    assert(segD.toSeq == segL.toSeq)
    assert(segD.length == 1 && segD.head.getAs[String]("trip") == "T6")
    assert(segD.head.getAs[String]("departure") == "24:05:00")
    assert(segD.head.getAs[String]("arrival") == "24:50:00")
  }

  test("irregular feed: target arriving past the horizon keeps its full capped itinerary") {
    // r11 ADVICE regression: rankable targets need only DEPART before the
    // horizon, and SSSP distances anchor at the target's ARRIVAL clock —
    // this feed's final leg carries an irregular target row (arrival clock
    // 18:40 > departure clock 17:00) and an intermediate row departing
    // 18:20, PAST the 17:50 horizon but before the target's arrival. A
    // horizon-anchored clock cap drops that intermediate row from the
    // capped grid: distances stay exact (rel-space ride is
    // position-independent) but predecessor resolution skips the row, so
    // the distributed itinerary loses a segment vs the local CSR branch
    // (uncapped: the arr > dep row turns its cap off). The
    // target-clock-anchored cap keeps the whole pred chain.
    val tables = DirtyFeeds.irregular(spark)
    def seg(eng: graft.api.RoutingEngine) =
      withEngine(eng)(_.routing(Day, 1.0, "13:50:00", "Start", "End").collect())
    val segD = seg(new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L))
    val segL = seg(new graft.api.RoutingEngine(tables))
    assert(segD.toSeq == segL.toSeq,
      s"capped distributed itinerary diverged:\nD=${segD.toSeq}\nL=${segL.toSeq}")
    // the intermediate past-horizon stop must appear (the pre-fix capped
    // run skipped it)
    assert(segD.map(_.getAs[String]("next_stop")).contains("Mid"))
    assert(segD.length == 4) // SA→SB(TA), SB→SB(change), SB→SM, SM→ST
  }

  test("dirty feed beyond the anchor's guarantee: the documented divergence, pinned") {
    // The clock-cap anchor's RESIDUAL assumption (RoutingEngine scaladoc,
    // r12 ADVICE): intra-trip clocks on the final leg must not exceed the
    // target's max(arr, dep). This feed violates it deliberately — the
    // final leg's intermediate row departs 19:30, past the anchor clock
    // (18:40) AND past the padded cap bucket (19:00) every capped regime
    // shares — so the capped grid/CSR drop the row. ACCEPTED DIVERGENCE,
    // pinned here so a change in either direction is noticed: cost,
    // endpoints, and arrival stay EXACT (the ride prefix telescopes
    // through dropped rows), but the capped itinerary compresses the ride
    // SB→ST into one segment where the local CSR (uncapped, the feed has
    // an arr > dep row) lists SB→SM→ST. Both capped regimes (distributed
    // grid, r14 capped CSR) must agree with each other exactly — they
    // iterate over the SAME padded position pin by construction.
    val tables = DirtyFeeds.beyondAnchor(spark)
    def seg(eng: graft.api.RoutingEngine) =
      withEngine(eng)(_.routing(Day, 1.0, "13:50:00", "Start", "End").collect().toSeq)
    val segL = seg(new graft.api.RoutingEngine(tables)) // local CSR, uncapped
    val segD = seg(new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L))
    val segC = { // forced capped-CSR regime on the same feed (per-engine)
      val eng = new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L,
        cappedSliceMinNodes = 0L)
      val r = seg(eng)
      assert(eng.evidence.cappedCsrServed.get() > 0L); r
    }
    assert(segD == segC, "the two capped regimes must agree exactly")
    // uncapped keeps the dropped intermediate: one extra ride segment
    assert(segL.map(_.getAs[String]("next_stop")) ==
      Seq("Mid0", "Mid0", "Mid", "End"))
    assert(segD.map(_.getAs[String]("next_stop")) ==
      Seq("Mid0", "Mid0", "End"))
    // cost-carrying fields agree: same boarding, same final arrival
    assert(segL.head.getAs[String]("departure") ==
      segD.head.getAs[String]("departure"))
    assert(segL.last.getAs[String]("arrival") ==
      segD.last.getAs[String]("arrival"))
  }

  test("dirty feed with a negative within-cap hop routes in-heap with full parity (r15)") {
    // The r14 capped CSR DECLINED feeds whose capped subgraph carried a
    // negative PRECEDES Δacum (arr running backward inside the cap) and
    // fell back to the distributed rounds — the 335 s-class path on hub
    // topologies. r15 serves them through the exact in-heap
    // label-correcting fixpoint. End-to-end pin: the forced capped-CSR
    // itinerary equals the capped distributed one AND the local CSR one
    // (uncapped on a negative-weight feed; every clock is within the
    // horizon, so no anchor-residual divergence applies), and the
    // negative-served counter proves the SPFA path ran.
    val tables = DirtyFeeds.negativeHop(spark)
    def seg(eng: graft.api.RoutingEngine) =
      withEngine(eng)(_.routing(Day, 1.0, "13:50:00", "Start", "End").collect().toSeq)
    val segL = seg(new graft.api.RoutingEngine(tables)) // local CSR, uncapped SPFA
    val segD = seg(new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L))
    val segC = { // forced capped-CSR regime — must take the SPFA path
      val eng = new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L,
        cappedSliceMinNodes = 0L)
      val r = seg(eng)
      assert(eng.evidence.cappedCsrServed.get() > 0L,
        "capped-CSR regime did not engage on the dirty feed")
      assert(eng.evidence.cappedCsrNegativeServed.get() > 0L,
        "dirty feed did not take the negative-weight in-heap path")
      r
    }
    assert(segC == segD, "dirty-feed capped CSR diverged from distributed")
    assert(segC == segL, "dirty-feed capped CSR diverged from the local CSR")
    assert(segC.map(_.getAs[String]("next_stop")) ==
      Seq("Mid0", "Mid0", "Mid", "End"))
  }

  test("zero-total-cycle dirty feed routes OVER-BUDGET via the acyclic re-resolution (r16)") {
    // The r15 contract left one regime asymmetry: an over-budget dirty
    // feed whose optimal-path structure carries a zero-total cycle got a
    // pointed PredCycleException from the distributed walk (the canonical
    // tie-break provably has no tree there) while the in-heap regimes
    // repaired. r16 ports the repair: the router catches the typed
    // exception and retries the walk over the level-layered acyclic
    // re-resolution (TransitSssp.resolveStateAcyclic) — distances
    // unchanged, pred tree cycle-free by construction.
    //
    // Fixture: TB's second row runs 20 min backward (ride −1200 s) and TC
    // boards with ZERO dwell — the cycle TB1 →ride TB2 →change TC1
    // →change TB1 telescopes to the dwell, exactly 0. The seed chain
    // (TA) enters only at TB1, and TC1's node id sorts below TA's SB row,
    // so the canonical min-pred selection realizes the cycle (asserted —
    // the served counter proves the repair path actually ran). Forcing
    // cappedCsrMaxEdges = 0 on top of ssspLocalThreshold = 0 is the
    // over-budget variant: no in-heap regime can serve the route.
    val tables = DirtyFeeds.zeroCycle(spark)
    def seg(eng: graft.api.RoutingEngine) =
      withEngine(eng)(_.routing(Day, 1.0, "13:50:00", "Start", "End").collect().toSeq)
    val segL = seg(new graft.api.RoutingEngine(tables)) // in-heap strict repair
    assert(segL.nonEmpty, "fixture must route in-heap")
    // over-budget: distributed only (per-engine zeroed CSR budget)
    val engD = new graft.api.RoutingEngine(tables,
      ssspLocalThreshold = 0L, cappedCsrMaxEdges = 0L)
    val segD = seg(engD)
    assert(engD.evidence.acyclicResolveServed.get() > 0L,
      "the canonical walk did not cycle - the repair path never ran " +
        "(fixture id-order regressed?)")
    assert(segD.nonEmpty,
      "over-budget dirty feed must route via the acyclic re-resolution")
    // parity on the cost-carrying fields: the repaired tree is a valid
    // shortest-path tree over the SAME distances, so boarding and final
    // arrival match the in-heap itinerary (path structure may differ —
    // both trees are optimal; same contract as the in-heap strict repair)
    assert(segD.head.getAs[String]("departure") ==
      segL.head.getAs[String]("departure"))
    assert(segD.last.getAs[String]("arrival") ==
      segL.last.getAs[String]("arrival"))
  }

  test("concurrent routing calls do not corrupt each other's paths") {
    // two threads route different OD pairs against the SAME engine (shared
    // projection + Sssp handle); each TargetRun owns its own path state, so
    // both must return their own golden answers every iteration
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").count() // warm projection
    val runs = (1 to 4).map { _ =>
      val a = Future(engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")
        .select("trip").as[String].collect().toSeq)
      val b = Future(engine.routing(Day, 1.0, "14:05:00", "Gamma", "Epsilon")
        .select("starting_stop_name").as[String].collect().toSeq)
      (Await.result(a, 120.seconds), Await.result(b, 120.seconds))
    }
    runs.foreach { case (tripsA, stopsB) =>
      assert(tripsA == Seq("T1", "T1", "T1", "T3", "T3"))
      assert(stopsB.nonEmpty && stopsB.head == "Gamma")
    }
  }

  test("point-to-point routing at exact stop coordinates equals stop routing") {
    val seg = engine.routingBetweenTwoPoints(Day, 44.6000, 10.9000, 44.6400, 10.9200,
      Seq("Alpha"), Seq("Epsilon"), 1.0, "14:00:00").collect()
    assert(seg.length == 5)
    assert(seg.last.getAs[String]("arrival") == "14:40:00")
  }

  test("findNearStops returns distinct day-valid stop names in radius") {
    val names = engine.findNearStops(Day, 44.6200, 10.9000, 300)
      .as[String].collect().toSet
    assert(names == Set("Gamma", "Gamma Due"))
    // SD2 has no stoptimes → "Delta" appears once via SD1 only
    val atDelta = engine.findNearStops(Day, 44.6300, 10.9100, 300)
      .as[String].collect().toSeq
    assert(atDelta == Seq("Delta"))
  }

  test("near-stop search is identical across its two stop-dimension sources") {
    // (1) the bounded driver stop dimension, read on a fresh projection
    // and again after the regime is resolved (the local index changes
    // nothing), (2) the distributed stopDim scan (the above-the-bound
    // fallback shape). Both must return the same name set — the exact
    // haversine decides membership everywhere.
    withEngine(new RoutingEngine(gtfs)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf(Day), 1.0)
      val viaDriverDim = eng.findNearStops(Day, 44.6200, 10.9000, 300)
        .as[String].collect().toSet
      assert(g.localStopDim.isDefined, "demo feed must fit the stop-dim bound")
      val viaDistributed = g.stopDim
        .filter(graft.functions.SpatialFunctions.withinRadius(
          col("lat"), col("lon"), 44.6200, 10.9000, 300))
        .select("stop_name").distinct().as[String].collect().toSet
      g.localIndex // resolve the regime: the search still reads the driver dim
      val viaIndex = eng.findNearStops(Day, 44.6200, 10.9000, 300)
        .as[String].collect().toSet
      assert(viaDriverDim == Set("Gamma", "Gamma Due"))
      assert(viaDistributed == viaDriverDim)
      assert(viaIndex == viaDriverDim)
    }
  }

  test("numberOfStops counts distinct served stops") {
    assert(engine.numberOfStops(Day) == 6) // SD2 unserved
  }

  test("hoursOfService: avg whole-hour service span per line") {
    // R1: 14:01→15:10 = 1 h; R2: 14:05→14:40 = 0 h; R3: 14:02→24:50 = 10 h
    assert(math.abs(engine.hoursOfService(Day) - (11.0 / 3)) < 1e-9)
  }

  test("graph metrics: counts and density") {
    val m = engine.graphMetrics(Day, 1.0)
    assert(m.nodeCount == 16)
    assert(m.relationshipCount == 18)
    assert(math.abs(m.density - 18.0 / (16.0 * 15)) < 1e-12)
  }

  test("itinerary formatter classifies the walk transfer") {
    val txt = engine.formatItinerary(engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon"))
    assert(txt.contains("start trip at 14:01:00 at station Alpha line: R1"))
    assert(txt.contains("walk_to_station Gamma Due"))
    assert(txt.contains("end trip at 14:40:00 at station Epsilon with line: R2"))
  }

  test("journey summary composes transit + footway walking legs + total time") {
    val fw = graft.api.FootwayEngine.load(spark, fixtureDir, gtfs.stops)
    // start ~22 m south of Alpha (close enough that the 14:01 departure is
    // still walk-reachable: dep − walk/speed > 14:00), end exactly at Epsilon
    val Some(j) = engine.journey(Day, 44.5998, 10.9000, 44.6400, 10.9200,
      speed = 1.0, time = "14:00:00", footway = Some(fw))
    assert(j.changes == 1)
    assert(j.segments.count() == 5)
    // start leg: Alpha -> nearest footnode F1 + network distance back to SA
    val expectedStart = fw.distanceFromStop("SA", 44.5998, 10.9000) * 1000.0
    assert(math.abs(j.startWalkMeters - expectedStart) < 1e-6)
    // end leg: point is exactly at Epsilon; footway route ≈ F5→NEAR→SE (few m)
    assert(j.endWalkMeters < 20.0)
    // total = transit span (14:01→14:40 = 2340 s) + walks at 1 m/s
    val expectedTotal = 2340.0 + j.startWalkMeters + j.endWalkMeters
    assert(math.abs(j.totalSeconds - expectedTotal) < 1e-6)
  }

  test("concurrent journey calls on one engine return the golden summary") {
    // journey() itself forks warm-up futures (edge/CSR build, WALK_TO,
    // footway, the second near-stop scan) — two overlapping calls on a
    // SHARED fresh engine exercise every lazy initializer from multiple
    // threads at once; both must still compose the exact golden summary.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    withEngine(new graft.api.RoutingEngine(graft.api.DemoGtfs.tables(spark))) { eng =>
      val fw = graft.api.FootwayEngine.load(spark, fixtureDir, gtfs.stops)
      def call() = Future {
        eng.journey(Day, 44.5998, 10.9000, 44.6400, 10.9200,
          speed = 1.0, time = "14:00:00", footway = Some(fw)).map(j =>
          (j.changes, math.round(j.totalSeconds * 100) / 100.0))
      }
      val (a, b) = (call(), call())
      val ra = Await.result(a, 120.seconds)
      val rb = Await.result(b, 120.seconds)
      assert(ra.isDefined && ra == rb)
      assert(ra.get._1 == 1L)
    }
  }

  test("Sssp locality probe decides the distributed regime without collecting rows") {
    // A distributed-scale edge set containing a row that CANNOT be
    // deserialized to the driver (null src into a primitive Long): the
    // count-based pre-gate never moves or decodes edge rows, so the
    // decision succeeds; the previous head(cap+1) probe collected — and
    // would throw decoding the poison row — even though the answer was
    // "not local". (What's-wrong r4 #3: a ~100-200 MB driver spike in
    // exactly the 100× regime.)
    val edges = spark.range(10).selectExpr(
      "CASE WHEN id = 3 THEN NULL ELSE id END AS src",
      "id + 1 AS dst", "CAST(1.0 AS DOUBLE) AS weight")
    val sssp = new ShortestPaths.Sssp(edges, localThreshold = 5)
    assert(!sssp.isLocal)
    // below the threshold the same handle still goes local
    val small = spark.range(4).selectExpr("id AS src", "id + 1 AS dst",
      "CAST(1.0 AS DOUBLE) AS weight")
    assert(new ShortestPaths.Sssp(small, localThreshold = 5).isLocal)
  }

  test("empty result when no source departs in the window") {
    val seg = engine.routing(Day, 1.0, "23:00:00", "Gamma", "Epsilon")
    assert(seg.count() == 0)
  }

  test("perf harness emits a cross-regime-verified itinerary digest") {
    // The timing harnesses are the catalog's only oracle-free rows; the
    // digest is their self-verification: same pair, CSR regime vs forced
    // TransitSssp regime, identical itinerary content hash.
    import graft.api.{DemoGtfs, PerfHarness}
    def measure(e: RoutingEngine): Seq[PerfHarness.Measurement] =
      try PerfHarness.run(e, Day, "14:00:00", 1.0, 300.0, DemoGtfs.harnessPairs)
      finally e.close()
    val viaCsr = measure(DemoGtfs.engine(spark))
    val viaGrid = measure(new RoutingEngine(DemoGtfs.tables(spark), ssspLocalThreshold = 0L))
    assert(viaCsr.map(_.name) == DemoGtfs.harnessPairs.map(_.name))
    viaCsr.zip(viaGrid).foreach { case (m, t) =>
      assert(m.segments > 0L, m.name)
      assert(m.itineraryDigest != 0L, m.name)
      assert(t.itineraryDigest == m.itineraryDigest,
        s"cross-regime digest mismatch for ${m.name}")
    }
    // the catalog row routes the same pairs to the digests Verify pins
    val q = graft.queries.Catalog.all.find(_.name == "gtfs_perf_harness").get
    val pinned = q.run(spark, "unused").select("name", "itineraryDigest").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pinned == Verify.pinnedHarnessDigests("gtfs_perf_harness"))
  }
}
