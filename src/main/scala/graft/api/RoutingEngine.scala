package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.graftbridge.PlannedFrameBridge
import graft.model.GtfsTables
import graft.etl.GraphBuilder
import graft.projection.TimeExpandedGraph
import graft.graph.ShortestPaths
import graft.functions.SpatialFunctions.haversineMeters
import graft.functions.TimeFunctions.parseHms

/** Degree-distribution summary of the projected graph — the analog of
  * `gds.graph.list` (`main.py:29-44`). */
final case class GraphMetrics(nodeCount: Long, relationshipCount: Long,
    density: Double, minDegree: Long, meanDegree: Double, maxDegree: Long,
    p50Degree: Double, p90Degree: Double, p99Degree: Double)

/** A complete door-to-door journey: transit segments, line changes, walking
  * legs in meters, and total seconds (transit span + walks at the requested
  * speed) — the notebook golden run's summary shape (total 1936.07 s with
  * 556.07 m of walking). */
final case class JourneySummary(segments: DataFrame, changes: Long,
    startWalkMeters: Double, endWalkMeters: Double, totalSeconds: Double)

/** One labeled itinerary segment. Both routing branches end by assembling
  * these from driver-resident node records (the local index, or the bounded
  * per-path collect), so the routing result is driver-side FIRST and a
  * DataFrame second — `journey` reads the rows directly, and `segmentsDf`
  * hands the public routing frames over as a LocalRelation frame planned
  * in advance, which collects without a Spark job, an optimizer pass or
  * generated code. */
private[api] final case class Seg(hop: Int, trip: String, departure: String,
    line: String, startingStopName: String, startingStopId: String,
    startLat: Double, startLon: Double, nextTrip: String, nextStop: String,
    nextStopId: String, nextLat: Double, nextLon: Double, nextLine: String,
    arrival: String)

/** The reference App's query surface (`main.py`), Spark-native.
  *
  * Correlated-Dijkstra decorrelation (SURVEY §7.3): the reference calls
  * `gds.shortestPath.dijkstra` once per candidate (source, target) pair
  * (`main.py:95,143`). Here a routing call runs one flow in every regime:
  * driver records of the named stops (the local index, or one bounded
  * collect in the distributed regime) → one candidate selection
  * ([[select]]: per-route earliest sources, horizon targets, the
  * [[capAnchor]] clock) → one search for all pairs → the [[PairOrder]]
  * minimum, ranked on the driver. The search is ONE labelled multi-source
  * Dijkstra whose per-target label is the best source for that target
  * ([[bestPath]]) in the driver-side regimes (the local projection, the
  * capped CSR), or one staged multi-source TransitSssp run whose
  * distances at the candidate targets are collected and ranked. Same
  * answer as the per-pair searches, a fraction of the traversal work.
  */
class RoutingEngine(val gtfs: GtfsTables, walkRadiusMeters: Double = 300.0,
    ssspLocalThreshold: Long = ShortestPaths.LocalDijkstraMaxEdges,
    /** Edge budget of the clock-capped driver-CSR regime (same per-call
      * shape as ssspLocalThreshold — r18, r17 verdict #2); 0 disables it
      * (`gtfs_routing_zero_cycle` passes 0 together with
      * ssspLocalThreshold = 0 to force the distributed fixpoint). */
    cappedCsrMaxEdges: Long = graft.graph.TransitSssp.cappedCsrMaxEdges,
    /** Node-count floor of the capped-slice machinery; engine-level specs
      * force the capped path at fixture scale by passing 0. */
    cappedSliceMinNodes: Long = graft.graph.TransitSssp.cappedSliceMinNodes) {

  import RoutingEngine.{Cand, Candidates}

  private val spark: SparkSession = gtfs.stops.sparkSession

  /** Per-engine regime evidence (r19, r18 verdict #2): counters only
    * THIS engine's routing calls advance — its projections' TransitSssp
    * runners bump it. Regime-proof `require`s (the zero-cycle catalog row,
    * forced-regime specs) and the scale tools read it; no process-global
    * copy exists for a concurrent session to advance. */
  val evidence = new graft.graph.TransitSssp.RegimeEvidence

  /** WALK_TO is day-independent — build once, reuse across projections. */
  lazy val walkTo: DataFrame = GraphBuilder.walkTo(gtfs.stops, walkRadiusMeters).cache()

  /** Projection cache keyed by (day, speed) — the reference re-projects
    * `graph_walk` per (date, speed) and holds it in GDS memory
    * (`main.py:13-22`). */
  private val projections =
    scala.collection.mutable.Map.empty[(java.sql.Date, Double), TimeExpandedGraph]

  def projected(day: java.sql.Date, speed: Double): TimeExpandedGraph =
    synchronized {
      projections.getOrElseUpdate((day, speed),
        TimeExpandedGraph.build(gtfs, day, speed, walkTo, ssspLocalThreshold,
          cappedCsrMaxEdges, cappedSliceMinNodes,
          regimeEvidence = evidence))
    }

  /** Release every cache this engine owns (projections + WALK_TO) — the
    * analog of `gds.graph.drop`. Long-lived sessions that build engines per
    * request (Verify/Bench run the whole catalog in one JVM) call this so
    * dead projections don't pin executor storage. */
  def close(): Unit = synchronized {
    projections.values.foreach(_.unpersist())
    projections.clear()
    walkTo.unpersist()
  }

  private def day(date: String): java.sql.Date = java.sql.Date.valueOf(date)

  /** Stops with service on `date` within `radius` m of a point → distinct
    * names (`main.py:62-71`). The few-thousand-row stop dimension is
    * driver-resident (`localStopDim`, one bounded collect per projection
    * that does not need the edge build); above its row bound the
    * distributed stop dimension answers. The exact haversine decides
    * membership on both paths (the distributed bbox is only a superset
    * pre-filter), so the result set is identical. */
  def findNearStops(date: String, lat: Double, lon: Double, radius: Double,
      speed: Double = 1.0): DataFrame = {
    val g = projected(day(date), speed)
    g.localStopDim match {
      case Some(arr) =>
        val names = arr.iterator.filter { case (_, la, lo) =>
          graft.functions.SpatialFunctions.haversineMetersScalar(la, lo, lat, lon) < radius
        }.map(_._1).filter(_ != null) // distributed distinct() tolerated null names; so must we
          .toSet.toSeq.sorted
        // a frame planned in advance, as segmentsDf's
        RoutingEngine.NearStopFrames.frame(spark, names.map(Tuple1(_)))
      case None =>
        g.stopDim
          // bbox + exact haversine: the box predicates prune a columnar
          // stop store before any trig runs (identical result set)
          .filter(graft.functions.SpatialFunctions.withinRadius(
            col("lat"), col("lon"), lat, lon, radius))
          .select("stop_name").distinct()
    }
  }

  /** G3 — Brandes betweenness of the day's projected routing graph, joined
    * to stop names and ranked (`gds.betweenness.stream`, `main.py:46-60`).
    * Exact below [[graft.graph.Betweenness.ExactSourcesMaxVertices]]
    * vertices, hash-sampled above. */
  def betweenness(date: String, speed: Double = 1.0): DataFrame =
    graft.graph.Betweenness.ofProjection(projected(day(date), speed))

  /** Windowed G3 (r16 — surfaces the r15 capped in-heap rung through the
    * api): betweenness over the HORIZON-BOUNDED subgraph of stoptimes
    * departing at or before `capTime` ("HH:mm:ss") — the capped routing
    * regime's subgraph semantics applied to centrality. At scale the
    * windowed subgraph rides the collect+sweep rung whenever it fits the
    * capped-CSR budget (12.9 s vs 510 s level-sync at the 10× grid,
    * COVERAGE.md); windows over the budget keep the level-sync branch —
    * the only 100 TB-safe full-graph plan. */
  def betweennessWindow(date: String, capTime: String,
      speed: Double = 1.0): DataFrame =
    graft.graph.Betweenness.ofProjection(projected(day(date), speed),
      clockCap = parseHms(capTime).toDouble)

  /** Candidate endpoint of a routing call: stop-name list plus, for the
    * point-to-point variant, the walk origin whose straight-line walking
    * time (at the call's speed) adjusts the time predicates and the pair
    * ordering. `walkFrom = None` ⇒ zero walks, the stop-to-stop variant. */
  private final case class Endpoint(names: Seq[String], walkFrom: Option[(Double, Double)])

  /** Best stop-name-to-stop-name itinerary (`main.py:73-117`): per-route
    * earliest departures after `time` at `sourceName` stops; targets at
    * `targetName` departing within `maxDurationHours`; best pair by
    * (target arrival, cost) — zero walks ⇒ PairOrder reduces to
    * (arrival_time, cost), `main.py:102`; returns the labeled segment rows. */
  def routing(date: String, speed: Double, time: String, sourceName: String,
      targetName: String, maxDurationHours: Int = 4): DataFrame =
    route(day(date), speed, parseHms(time), maxDurationHours,
      Endpoint(Seq(sourceName), None), Endpoint(Seq(targetName), None))

  /** Best point-to-point itinerary with walking legs (`main.py:119-176`):
    * departure/arrival adjusted by straight-line walking time to/from the
    * candidate stops (name lists from findNearStops), best by
    * (final_time = arrival + end walk, cost incl. both walks) — PairOrder
    * with non-zero walks, `main.py:158-159`. */
  def routingBetweenTwoPoints(date: String, startLat: Double, startLon: Double,
      endLat: Double, endLon: Double, startNames: Seq[String], endNames: Seq[String],
      speed: Double, time: String, maxDurationHours: Int = 4): DataFrame =
    route(day(date), speed, parseHms(time), maxDurationHours,
      Endpoint(startNames, Some((startLat, startLon))),
      Endpoint(endNames, Some((endLat, endLon))))

  /** THE best-pair ordering — one definition for both routing variants
    * and every regime. Formula: (t_arr + t_walk, cost + s_walk + t_walk,
    * s_id, t_id). With zero walks this is exactly the stop-to-stop
    * (arrival, cost) order (`main.py:102`); with walks it is the
    * point-to-point (final_time, full_cost) order (`main.py:158-159`). */
  private object PairOrder {
    type Key = (Double, Double, Long, Long)
    val order: Ordering[Key] = implicitly[Ordering[Key]]
    /** The key's first component, which does not depend on the source —
      * the labelled search prunes targets by it ([[routeLocal]]). */
    def primary(tArr: Long, tWalk: Double): Double = tArr + tWalk
    def key(tArr: Long, tWalk: Double, cost: Double, sWalk: Double,
        sId: Long, tId: Long): Key =
      (primary(tArr, tWalk), cost + sWalk + tWalk, sId, tId)
  }

  /** Shared routing core: candidate selection ([[select]]), one
    * multi-source SSSP, candidate-pair ranking, path expansion (G6+J8).
    * Dispatches on the projection's regime: driver-side over the local
    * index below the SSSP threshold (the reference's in-memory regime),
    * TransitSssp above it. The forced-distributed parity specs pin the
    * regimes to identical itineraries. */
  private def route(d: java.sql.Date, speed: Double, t0: Long,
      maxDurationHours: Int, src: Endpoint, tgt: Endpoint): DataFrame =
    segmentsDf(routeRows(d, speed, t0, maxDurationHours, src, tgt))

  /** Routing core returning the driver-side segment rows — `journey`
    * consumes these directly (change count, endpoints, times) without a
    * round-trip through a LocalRelation collect. Both regimes select
    * their candidates from driver records of the named stops: the local
    * index, or one bounded collect ([[candidateRecs]]). */
  private def routeRows(d: java.sql.Date, speed: Double, t0: Long,
      maxDurationHours: Int, src: Endpoint, tgt: Endpoint): Seq[Seg] = {
    val g = projected(d, speed)
    val horizonEnd = t0 + maxDurationHours * 3600L
    g.localIndex match {
      case Some(ix) =>
        select(ix.byName, speed, t0, horizonEnd, src, tgt)
          .fold(Seq.empty[Seg])(routeLocal(g, ix, _))
      case None =>
        val byName = candidateRecs(g, t0, horizonEnd, src, tgt).groupBy(_.stopName)
        select(byName, speed, t0, horizonEnd, src, tgt)
          .fold(Seq.empty[Seg])(routeDistributed(g, _))
    }
  }

  /** The candidate selection every regime routes from, over driver
    * records of the named stops (`byName` may hold more rows than the
    * predicates keep). None when no source or no target qualifies. */
  private def select(byName: Map[String, Array[graft.projection.NodeRec]],
      speed: Double, t0: Long, horizonEnd: Long,
      src: Endpoint, tgt: Endpoint): Option[Candidates] = {
    import graft.projection.NodeRec
    import graft.functions.SpatialFunctions.haversineMetersScalar
    def walkSecs(e: Endpoint)(r: NodeRec): Double = e.walkFrom match {
      case Some((la, lo)) => haversineMetersScalar(r.lat, r.lon, la, lo) / speed
      case None => 0.0
    }
    def candidates(e: Endpoint): Seq[(NodeRec, Double)] =
      e.names.distinct.iterator
        .flatMap(n => byName.getOrElse(n, Array.empty[NodeRec]))
        .map(r => (r, walkSecs(e)(r))).toSeq

    // source predicate: dep − s_walk > t0 (zero walk ⇒ dep > t0, `main.py:80`)
    val srcCands = candidates(src).filter { case (r, w) => r.dep - w > t0 }
    // Per-route earliest departure; apoc.agg.minItems + `s[0]` keeps one
    // item per route (`main.py:84-87`) — deterministic first by
    // (dep_secs, trip_id, stop_sequence), trip ids in UTF-8 order.
    val srcRows = srcCands.groupBy(_._1.routeId).values.map(_.reduceLeft { (x, y) =>
      val c = java.lang.Long.compare(x._1.dep, y._1.dep) match {
        case 0 => graft.util.Utf8Order.compare(x._1.tripId, y._1.tripId) match {
          case 0 => Integer.compare(x._1.seq, y._1.seq)
          case c2 => c2
        }
        case c1 => c1
      }
      if (c <= 0) x else y
    }).toSeq
    if (srcRows.isEmpty) return None

    // target predicate: dep + t_walk < t0 + horizon (`main.py:91,139`)
    val tgtRows = candidates(tgt).filter { case (r, w) => r.dep + w < horizonEnd }
    if (tgtRows.isEmpty) return None
    def cand(rw: (NodeRec, Double)): Cand = (rw._1.id, rw._1.dep, rw._1.arr, rw._2)
    val tgts = tgtRows.map(cand)
    Some(Candidates(srcRows.map(cand).sortBy(_._1).toIndexedSeq, tgts,
      capAnchor(horizonEnd, tgts.iterator.map(RoutingEngine.clock))))
  }

  /** The distributed regime's driver records for [[select]]: ONE bounded
    * collect of the day's stoptimes at the call's named stops — source
    * names departing after t0, target names departing before the horizon
    * end, supersets of the walk-adjusted predicates. These are per-stop
    * schedule rows, not graph-sized; a name list that matches more than
    * [[RoutingEngine.CandidateCollectMaxRows]] of them is refused with
    * its row count. */
  private def candidateRecs(g: TimeExpandedGraph, t0: Long, horizonEnd: Long,
      src: Endpoint, tgt: Endpoint): Array[graft.projection.NodeRec] = {
    def at(e: Endpoint) = col("stop_name").isin(e.names.distinct: _*)
    val rows = g.nodes.filter((at(src) && col("dep_secs") > t0) ||
      (at(tgt) && col("dep_secs") < horizonEnd))
    val bound = RoutingEngine.CandidateCollectMaxRows
    val recs = graft.projection.LocalProjection.recsOf(rows.limit(bound + 1))
    if (recs.length > bound) throw new IllegalArgumentException(
      s"routing: the named stops hold ${rows.count()} candidate stoptimes, " +
        s"over the driver bound of $bound rows; pass fewer stop names")
    recs
  }

  /** Local regime: SSSP, pair ranking, and segment labeling all run over
    * driver-resident state, and the segment DataFrame is planned in
    * advance over a LocalRelation ([[segmentsDf]]) — a warm request runs
    * zero Spark jobs. The SSSP is [[localSearch]]; ranking = [[bestPath]]. */
  private def routeLocal(g: TimeExpandedGraph, ix: graft.projection.LocalProjection,
      c: Candidates): Seq[Seg] = {
    val path = bestPath(localSearch(g, c), c.srcs, c.tgts)
    if (path.size < 2) Nil else RoutingEngine.segmentRows(ix.get, path)
  }

  /** The local regime's SSSP: ONE labelled search from every candidate
    * source (replacing per-pair Dijkstras, SURVEY §7.3; the per-projection
    * handle reuses the resolved CSR across calls), capped at the horizon
    * ([[capAnchor]]) on the projection's arrival clock (uncapped on a feed
    * with an arr > dep row) and pruned by the pair order: once a target
    * settles with a valid winner, targets whose [[PairOrder.primary]] key
    * exceeds its key stop being waited for and the cap falls to the
    * clocks of the targets that can still win
    * ([[ShortestPaths.Labels]]). */
  private def localSearch(g: TimeExpandedGraph, c: Candidates): ShortestPaths.Labels =
    g.sssp.labelled(c.srcs.map(s => (s._1, s._4, s._2)),
      c.tgts.map(t => ShortestPaths.Goal(t._1, t._2, PairOrder.primary(t._3, t._4),
        RoutingEngine.clock(t))),
      g.capClock.map((_, c.anchor)))

  /** [[routingBetweenTwoPoints]]'s labelled search in the local regime —
    * what [[bestPath]] ranks — so a spec can read its work count; None
    * when the projection routes distributed or no candidate qualifies. */
  private[api] def localSearchBetweenTwoPoints(date: String, startLat: Double,
      startLon: Double, endLat: Double, endLon: Double, startNames: Seq[String],
      endNames: Seq[String], speed: Double, time: String,
      maxDurationHours: Int): Option[ShortestPaths.Labels] = {
    val g = projected(day(date), speed)
    val t0 = parseHms(time)
    g.localIndex.flatMap(ix => select(ix.byName, speed, t0, t0 + maxDurationHours * 3600L,
      Endpoint(startNames, Some((startLat, startLon))),
      Endpoint(endNames, Some((endLat, endLon))))).map(localSearch(g, _))
  }

  /** The clock cap every regime searches under: the horizon end, or the
    * latest target clock max(arr, dep) when a target row runs past it.
    *
    * Why the targets' clocks: rankable targets need only DEPART before
    * the horizon (`main.py:91`), but a path's cost anchors at the
    * target's ARRIVAL. On a clean feed arr ≤ dep < horizon end, so the
    * horizon bounds every clock on an optimal path; a row whose arrival
    * clock exceeds its departure (dirty data) can carry path clocks past
    * it. Anchoring at max(horizon end, max over targets of max(arr, dep))
    * keeps the target row's own clocks under the cap, and every stoptime
    * on an optimal path to a target departs at or before that target's
    * clock (event clocks only move forward), so a departure cap keeps the
    * whole predecessor chain. Residual assumption of the departure caps
    * (the capped CSR and the distributed grid): intra-trip clocks on the
    * FINAL leg do not exceed the anchor — a non-monotone intermediate row
    * whose departure clock exceeds every target's max(arr, dep) is capped
    * out, and that regime's itinerary loses the row (GtfsEngineSpec pins
    * the divergence). On clean feeds the anchor is the horizon end.
    *
    * The local regime relaxes into a stoptime only when its ARRIVAL
    * clock is ≤ the anchor (the capped CSR and the distributed grid cap
    * on departure), and only on a feed whose every stoptime has
    * arr ≤ dep. Exactness, walking an optimal path back from a target t,
    * whose arrival and departure are both ≤ the anchor: a PRECEDES step
    * v → w has arr(v) ≤ dep(v) ≤ arr(w) (weights ≥ 0 give the second
    * step), so arr(v) ≤ the anchor; a CHANGE step v → w boards w after v
    * arrives (arr(v) + walk < dep(w)), so arr(v) ≤ the anchor whenever
    * dep(w) is, which holds when w is t or rides on to a PRECEDES step.
    * The one hole is a CHANGE → CHANGE step, boarding w and leaving it
    * again at once: dep(w) may then exceed the anchor and the step before
    * it moves the clock backward. With arr ≤ dep at every vertex, the
    * arrival cap keeps every vertex the departure cap keeps, plus a trip
    * that arrives before the anchor but dwells past it
    * (it can still be alighted, walked from and changed to the target).
    * A row v with arr > dep breaks the PRECEDES step out of it (nothing
    * bounds arr(v)), so a feed with such a row searches uncapped
    * ([[graft.projection.TimeExpandedGraph.capClock]] is None), as does a
    * negative-weight feed ([[ShortestPaths.Labels]]).
    *
    * The local search lowers this anchor as it runs ([[localSearch]]):
    * once a target settles whose winner forms a valid pair, with primary
    * key P*, no target whose primary key exceeds P* can win, and the
    * anchor falls to the greatest max(arr, dep) over the targets whose
    * primary key is ≤ P*, never above this one. Exact by the argument
    * above, applied to the targets that can still win: each one's optimal
    * path keeps its clocks under that target's own max(arr, dep). Lowering
    * the anchor to P* itself would not be: a kept target may be boarded
    * after its arrival, along a path whose clocks pass P*. */
  private def capAnchor(horizonEnd: Long, targetClocks: Iterator[Long]): Long =
    targetClocks.foldLeft(horizonEnd)(math.max)

  /** The in-heap pair ranking both driver-side regimes share (the local
    * projection and the capped CSR): the [[PairOrder.key]] minimum over
    * the (source, target) pairs whose target departs after its source and
    * which the search connects; that pair's path, or Nil. `run` is one
    * labelled search seeded with `srcs` (ascending ids, so seed index =
    * position in `srcs`), so each target carries its best source already:
    * PairOrder's primary key does not depend on the source, and its
    * secondary keys at a fixed target are the label. One label per target
    * replaces the |sources| × |targets| pair loop. In floating point the
    * label and the key can disagree on sources one ulp apart (adding
    * t_walk may round them into a key tie that s_id then breaks the other
    * way); [[ShortestPaths.Labels]] says more.
    *
    * The filter `t_dep > s_dep` (`main.py:93,141`) is not implied by the
    * search: a stoptime that is both a source and a target labels itself
    * (cost 0, t_dep == s_dep). A target whose winner fails the filter gets
    * a second run of the same search, seeded only with the sources that
    * depart before it, unless its primary key already loses to the best
    * valid pair (no source can change it). The second run is unpruned.
    *
    * `run` may carry the local regime's target prune ([[localSearch]]):
    * only a settled target whose winner passes the filter sets the prune's
    * key P*, every target whose primary key is ≤ P* is settled (or
    * unreachable) when the search stops, and a target above P* may read as
    * unreached — it loses to the pair that set P* whatever its label, so
    * the minimum and the second runs it triggers are unchanged. */
  private def bestPath(run: ShortestPaths.Labels, srcs: IndexedSeq[Cand],
      tgts: Iterable[Cand]): List[Long] = {
    import PairOrder.Key
    def keyOf(lab: ShortestPaths.Labels, t: Cand): Option[(Key, Boolean)] =
      lab.winner(t._1).map { case (i, cost) =>
        val (s, sDep, _, sw) = srcs(i)
        (PairOrder.key(t._3, t._4, cost, sw, s, t._1), t._2 > sDep)
      }
    var best: Option[(Key, ShortestPaths.Labels, Long)] = None
    def offer(k: Key, lab: ShortestPaths.Labels, t: Long): Unit =
      if (best.forall(b => PairOrder.order.lt(k, b._1))) best = Some((k, lab, t))
    val invalid = scala.collection.mutable.ArrayBuffer.empty[(Double, Cand)]
    tgts.foreach { t =>
      keyOf(run, t).foreach { case (k, valid) =>
        if (valid) offer(k, run, t._1) else invalid += ((k._1, t))
      }
    }
    invalid.sortBy(_._1).foreach { case (primary, t) =>
      if (best.forall(b => primary <= b._1._1)) {
        val again = run.reseeded(i => srcs(i)._2 < t._2, t._1)
        keyOf(again, t).foreach { case (k, _) => offer(k, again, t._1) }
      }
    }
    best.fold(List.empty[Long]) { case (_, lab, t) => lab.path(t) }
  }

  /** Distributed regime, from the same [[Candidates]] as the local one.
    * When the horizon-bounded subgraph fits the capped-CSR budget
    * (TransitSssp.runForTargetsCapped's gates), SSSP, ranking and path
    * extraction run in-heap: one labelled search over the clock-capped
    * subgraph, ranked by [[bestPath]]. Otherwise one staged TransitSssp
    * run: its distances at the candidate targets — at most |sources| ×
    * |targets| rows — are collected and ranked on the driver by
    * [[PairOrder.key]] over the valid (t_dep > s_dep, `main.py:93,141`)
    * pairs, and the winner's path comes back through
    * `ShortestPaths.pathDistributed` — a driver walk of the source's pred
    * chain up to `DriverWalkMaxChainRows` rows, pointer doubling (log L
    * self-joins) above it — never the reachable set. */
  private def routeDistributed(g: TimeExpandedGraph, c: Candidates): Seq[Seg] =
    // Capped-CSR regime (r14): on cadence-bounded feeds (hubs) this
    // replaces hundreds of per-CHANGE-depth Spark rounds with ns/edge
    // relaxation; the subgraph is already clock-capped.
    g.transit.runForTargetsCapped(c.srcs.map(s => (s._1, s._4)),
        c.tgts.iterator.map(_._1).toSet, c.anchor.toDouble) match {
      case Some(run) =>
        val path = bestPath(run, c.srcs, c.tgts)
        if (path.size < 2) Nil else segments(g, path)
      case None => routeStaged(g, c)
    }

  /** The staged TransitSssp flow of [[routeDistributed]]. */
  private def routeStaged(g: TimeExpandedGraph, c: Candidates): Seq[Seg] = {
    val Candidates(srcs, tgts, anchor) = c
    // Staged run: ranking needs only DISTANCES at the candidate targets —
    // none of the predecessor-resolution windows/joins run for it — and
    // the path needs predecessors for the ONE winning source (exact:
    // resolution is per-(source, vertex) independent). Cost cap: path
    // cost = clock elapsed + Σ per-change walks, each walk ≤ its change's
    // wait (boarding requires s_arr + walk < t_dep), so cost ≤ 2 × clock
    // elapsed < 2 × (anchor + 60 − s_dep); exact for ranking and for the
    // winner's pred chain (cost is monotone along paths; see
    // TransitSssp.staged).
    val costCap = 2.0 * ((anchor + 60L) - srcs.iterator.map(_._2).min).max(0L)
    val sc = spark.sparkContext
    sc.setJobDescription("route: sssp converge")
    val staged = g.transit.staged(srcs.iterator.map(_._1).toSet, costCap = costCap,
      clockCap = anchor.toDouble)
    var predOne: DataFrame = null
    // try/finally, not happy-path cleanup: a throw (or early return) out of
    // ranking/resolution/path extraction must still release the staged
    // run's converged grid — at 10× Modena that is ~600 MB of checkpoint
    // blocks per round that would otherwise wait for the ContextCleaner.
    try {
      sc.setJobDescription("route: pair ranking")
      val srcById = srcs.iterator.map(s => s._1 -> s).toMap
      val tgtById = tgts.iterator.map(t => t._1 -> t).toMap
      val best = staged.distances
        .filter(col("vertex_id").isInCollection(tgtById.keySet))
        .collect().iterator.flatMap { r =>
          val (t, s) = (tgtById(r.getLong(0)), srcById(r.getLong(1)))
          if (t._2 > s._2) Some(PairOrder.key(t._3, t._4, r.getDouble(2), s._4, s._1, t._1))
          else None
        }.minOption(PairOrder.order).getOrElse(return Nil)
      val (bestSrc, bestTgt) = (best._3, best._4)
      sc.setJobDescription("route: pred resolve + path")
      predOne = staged.resolve(bestSrc).cache()
      val path =
        try ShortestPaths.pathDistributed(predOne, bestSrc, bestTgt)
        catch {
          // Zero-total-cycle feed (r16): the canonical pred selection has
          // no tree here — distances are final and correct, so re-resolve
          // with the level-layered acyclic selection and walk that
          // (TransitSssp.resolveStateAcyclic; parity on distances, pred
          // tree non-canonical by the same contract as the in-heap strict
          // repair).
          case _: ShortestPaths.PredCycleException =>
            sc.setJobDescription("route: acyclic re-resolve + path")
            predOne.unpersist()
            predOne = staged.resolveAcyclic(bestSrc).cache()
            ShortestPaths.pathDistributed(predOne, bestSrc, bestTgt)
        }
      // path ids are collected; every remaining consumer is driver-side
      if (path.size < 2) return Nil
      segments(g, path)
    } finally {
      sc.setJobDescription(null)
      if (predOne != null) predOne.unpersist()
      staged.release()
    }
  }

  /** Path → labeled segment rows (G6 + the J8 label joins, `main.py:103-114`):
    * one row per consecutive stoptime pair with trip/line/stop labels.
    * Coordinates are scalar lat/lon columns (the reference's `[s.lat,s.lon]`
    * list at `main.py:112` flattened) — driver-facing outputs carry no array
    * columns. */
  private def segments(g: TimeExpandedGraph, path: List[Long]): Seq[Seg] = {
    // ONE job: collect only the path's own node rows (≤ hops+1 — tens of
    // rows; the isin filter prunes the cached node scan) and assemble the
    // labeled segment rows driver-side. The previous form ran the J8 label
    // joins as two broadcast joins — several Spark jobs per routing call
    // to label a ~20-row result. Semantics unchanged (GtfsEngineSpec
    // goldens + gtfs_routing_golden / gtfs_point_routing_golden oracles).
    val byId = graft.projection.LocalProjection.recsOf(
      g.nodes.filter(col("id").isin(path: _*)))
      .map(r => r.id -> r).toMap
    RoutingEngine.segmentRows(byId.get, path)
  }

  /** Driver-side segment rows → the public routing DataFrame shape, a
    * frame planned in advance over a LocalRelation
    * ([[PlannedFrameBridge.Shape]]): its collect runs no analysis,
    * optimizer, planner or code generation. The rows are hop-ordered by
    * construction and the frame keeps row order on collect, so no sort
    * runs. Collecting the frame (or a filter/projection of it) launches no
    * Spark job. */
  private def segmentsDf(rows: Seq[Seg]): DataFrame =
    RoutingEngine.SegmentFrames.frame(spark, rows)

  /** Count of distinct stops served on a date (`main.py:186-191`). */
  def numberOfStops(date: String, speed: Double = 1.0): Long =
    projected(day(date), speed).nodes.agg(countDistinct("stop_id")).head().getLong(0)

  /** Mean service-span hours across lines (`main.py:193-205`): per line the
    * earliest departure(s) × latest arrival(s) (ties kept, minItems/maxItems
    * semantics), span in whole hours, averaged. */
  def hoursOfService(date: String, speed: Double = 1.0): Double = {
    val nodes = projected(day(date), speed).nodes
    val wMin = Window.partitionBy("route_id").orderBy(col("dep_secs"))
    val wMax = Window.partitionBy("route_id").orderBy(col("arr_secs").desc)
    val starting = nodes.withColumn("rk", rank().over(wMin)).filter(col("rk") === 1)
      .select(col("route_id"), col("dep_secs"))
    val ending = nodes.withColumn("rk", rank().over(wMax)).filter(col("rk") === 1)
      .select(col("route_id"), col("arr_secs"))
    starting.join(ending, Seq("route_id"))
      .select(((col("arr_secs") - col("dep_secs")) / 3600).cast("long").as("hours"))
      .agg(avg("hours")).head().getDouble(0)
  }

  /** Geodesic meters from a stop to a point (`main.py:178-184`). */
  def distanceFromStop(stopId: String, lat: Double, lon: Double): Double =
    gtfs.stops.filter(col("stop_id") === stopId)
      .select(haversineMeters(col("stop_lat"), col("stop_lon"), lit(lat), lit(lon)))
      .head().getDouble(0)

  /** gds.graph.list analog (`main.py:29-44`). */
  def graphMetrics(date: String, speed: Double): GraphMetrics = {
    val g = projected(day(date), speed)
    val n = g.nodeCount
    val m = g.edgeCount
    val deg = g.edges.groupBy("source").agg(count(lit(1)).as("degree"))
    val stats = deg.agg(min("degree"), avg("degree"), max("degree"),
      expr("percentile_approx(degree, 0.5)"), expr("percentile_approx(degree, 0.9)"),
      expr("percentile_approx(degree, 0.99)")).head()
    GraphMetrics(n, m, if (n > 1) m.toDouble / (n.toDouble * (n - 1)) else 0.0,
      stats.getLong(0), stats.getDouble(1), stats.getLong(2),
      stats.getLong(3).toDouble, stats.getLong(4).toDouble, stats.getLong(5).toDouble)
  }

  /** Number of line changes in a segment DataFrame — pandas post-processing
    * analog (`main.py:285-293`). Collects the (few) change rows instead of
    * `count()`: the filter folds into a routing frame's LocalRelation, where
    * an aggregate would launch a job. */
  def changeCount(segments: DataFrame): Long =
    segments.filter(col("trip") =!= col("next_trip")).collect().length

  /** Full journey summary — the notebook's composed flow
    * (`routing.ipynb` cells 7-18): nearby-stop search at both endpoints,
    * point-to-point transit routing, walking legs through the footway graph
    * (straight-line fallback without one), and the golden run's total time
    * = transit span + both walks at `speed`. */
  def journey(date: String, startLat: Double, startLon: Double,
      endLat: Double, endLon: Double, speed: Double, time: String,
      radius: Double = 300.0, footway: Option[FootwayEngine] = None,
      maxDurationHours: Int = 4): Option[JourneySummary] = {
    // One one-time warm-up runs beside the projection's own work: the
    // footway (NEAR edges, walking CSR, node index). Nothing else overlaps:
    // every lazy structure of the projection — stop dimension, driver
    // build, node index — initializes under the projection's one monitor,
    // so an index-build future and the near-stop scans would only queue
    // behind each other. Measured with ProfileRows gtfs_journey_golden at
    // sf0.01 (best of 5 runs, five rotating rounds, 4 cores): without the
    // footway future every round is 0.5–1.9 s slower (median best 2.99 s
    // against 2.22 s); a WALK_TO warm-up beside it does not pay (2.37 s
    // with it) now that the driver build collects WALK_TO itself. Spark
    // schedules concurrent jobs.
    import scala.concurrent.{Await, Future, TimeoutException}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fwWarm = footway.map(fw => Future { fw.nearestFootNode(startLat, startLon) })
    // Every exit path drains the warm-up (bounded — a hung build must fail
    // loudly, not hang the call forever or bleed jobs into the caller's next
    // query); Await.ready, not result: a warm-up failure surfaces on the
    // phase that actually needs the state.
    def drainWarm(): Unit =
      fwWarm.foreach { f =>
        try Await.ready(f, 10.minutes)
        catch { case _: TimeoutException => throw new TimeoutException(
          "journey(): footway warm-up did not finish within 10 minutes") }
      }
    def nearNames(lat: Double, lon: Double): Seq[String] =
      findNearStops(date, lat, lon, radius, speed).collect().map(_.getString(0)).toSeq
    val startNames = nearNames(startLat, startLon)
    val endNames = nearNames(endLat, endLon)
    if (startNames.isEmpty || endNames.isEmpty) { drainWarm(); return None }
    // routeRows, not the public DataFrame wrapper: the change count,
    // endpoints and times read the driver-side segment rows (hop-ordered by
    // construction) directly; the frame is built only for the caller.
    val rows = routeRows(day(date), speed, parseHms(time), maxDurationHours,
      Endpoint(startNames, Some((startLat, startLon))),
      Endpoint(endNames, Some((endLat, endLon))))
    if (rows.isEmpty) { drainWarm(); return None }
    val firstStop = rows.head.startingStopId
    val lastStop = rows.last.nextStopId
    drainWarm()
    // Both walking legs out of ONE multi-source SSSP over the footway graph
    // (straight-line fallback when the network doesn't reach the stop).
    val Seq(startWalk, endWalk) = footway match {
      case Some(fw) =>
        val kms = fw.distancesFromStops(Seq(
          (firstStop, startLat, startLon), (lastStop, endLat, endLon)))
        Seq((firstStop, startLat, startLon, kms(0)), (lastStop, endLat, endLon, kms(1)))
          .map { case (stopId, lat, lon, km) =>
            if (km.isInfinite) distanceFromStop(stopId, lat, lon) else km * 1000.0 }
      case None =>
        Seq(distanceFromStop(firstStop, startLat, startLon),
          distanceFromStop(lastStop, endLat, endLon))
    }
    val dep = graft.functions.TimeFunctions.parseHms(rows.head.departure)
    val arr = graft.functions.TimeFunctions.parseHms(rows.last.arrival)
    // change count from the driver rows — same predicate as changeCount,
    // minus one Spark job. NULL semantics must match =!= exactly: a null
    // trip on either side is NOT a change (the Column form's null
    // comparison filters out), where bare Scala != would count it.
    val changes = rows.count { r =>
      r.trip != null && r.nextTrip != null && r.trip != r.nextTrip
    }.toLong
    Some(JourneySummary(segmentsDf(rows), changes, startWalk, endWalk,
      (arr - dep) + (startWalk + endWalk) / speed))
  }

  /** Formatted itinerary printer (F13, `main.py:216-237`): classifies each
    * boundary row as same-stop change vs walk-transfer vs ride. Sorts by
    * the numeric `hop` on the driver (nulls first, as `orderBy` would): a
    * routing frame collects without a job, a Spark sort would launch one. */
  def formatItinerary(segments: DataFrame): String = {
    val h = segments.schema.fieldIndex("hop")
    val rows = segments.collect().sortBy(r =>
      if (r.isNullAt(h)) Long.MinValue else r.getAs[Number](h).longValue)
    if (rows.isEmpty) return "no itinerary found"
    val sb = new StringBuilder
    val first = rows.head
    sb.append(s"start trip at ${first.getAs[String]("departure")} at station " +
      s"${first.getAs[String]("starting_stop_name")} line: ${first.getAs[String]("line")}\n")
    rows.foreach { r =>
      val sameStop = r.getAs[String]("starting_stop_id") == r.getAs[String]("next_stop_id")
      val changed = r.getAs[String]("trip") != r.getAs[String]("next_trip")
      if (sameStop && changed)
        sb.append(s"drop at ${r.getAs[String]("departure")} at station " +
          s"${r.getAs[String]("starting_stop_name")} change to line: ${r.getAs[String]("next_line")}\n")
      else if (changed)
        sb.append(s"drop at ${r.getAs[String]("departure")} at station " +
          s"${r.getAs[String]("starting_stop_name")} walk_to_station ${r.getAs[String]("next_stop")}" +
          s" change to line: ${r.getAs[String]("next_line")}\n")
    }
    val last = rows.last
    sb.append(s"end trip at ${last.getAs[String]("arrival")} at station " +
      s"${last.getAs[String]("next_stop")} with line: ${last.getAs[String]("next_line")}")
    sb.toString
  }
}

object RoutingEngine {
  /** Candidate stoptime of a routing call: (id, dep, arr, walk seconds). */
  private type Cand = (Long, Long, Long, Double)

  /** A target's clock max(arr, dep), which [[RoutingEngine.capAnchor]]
    * anchors at. */
  private def clock(t: Cand): Long = math.max(t._2, t._3)

  /** The candidates of one routing call: sources in ascending id order
    * (seed index = position in `srcs`), targets, and the clock cap every
    * regime searches under. */
  private final case class Candidates(srcs: IndexedSeq[Cand], tgts: Seq[Cand], anchor: Long)

  /** Row bound of the distributed regime's candidate collect: the
    * departures at the NAMED stops after the request time (sources) and
    * before the horizon end (targets) — per-stop schedule size (hundreds
    * to low tens of thousands on real feeds), not graph size, so 1M rows
    * (≈ tens of MB driver) covers any plausible call; a degenerate name
    * list (every stop in a mega-feed) is refused with its row count. */
  val CandidateCollectMaxRows: Int = 1 << 20

  /** Schema of `findNearStops`' driver-built frame: the one nullable
    * string column the distributed stop dimension's frame has. */
  private[api] val NearStopSchema: StructType =
    StructType(Seq(StructField("stop_name", StringType)))

  /** `findNearStops`' driver-built frames, planned in advance. */
  private val NearStopFrames = new PlannedFrameBridge.Shape(NearStopSchema)

  /** Schema of every routing frame (`routing`, `routingBetweenTwoPoints`,
    * `JourneySummary.segments`): [[Seg]]'s fields in order — `hop` and the
    * coordinates non-null, the labels nullable. */
  private[api] val SegmentSchema: StructType = {
    def label(n: String) = StructField(n, StringType)
    def coord(n: String) = StructField(n, DoubleType, nullable = false)
    StructType(Seq(StructField("hop", IntegerType, nullable = false),
      label("trip"), label("departure"), label("line"), label("starting_stop_name"),
      label("starting_stop_id"), coord("start_lat"), coord("start_lon"),
      label("next_trip"), label("next_stop"), label("next_stop_id"),
      coord("next_lat"), coord("next_lon"), label("next_line"), label("arrival")))
  }

  /** Every routing frame, planned in advance. */
  private val SegmentFrames = new PlannedFrameBridge.Shape(SegmentSchema)

  /** Path → labeled segment rows from any id→node resolver (local index
    * or a bounded per-path collect); hop `i + 1` for the i-th consecutive
    * pair, so the rows are hop-ordered by construction. A node the resolver
    * lacks is a broken projection contract: it fails here, naming the hop,
    * rather than leaving a gap in the itinerary. */
  private[api] def segmentRows(byId: Long => Option[graft.projection.NodeRec],
      path: List[Long]): Seq[Seg] = {
    val hms = graft.functions.TimeFunctions.formatHms _
    def rec(hop: Int, id: Long) = byId(id).getOrElse(throw new IllegalStateException(
      s"segment hop $hop: path node $id is missing from the node resolver"))
    path.zip(path.tail).zipWithIndex.map { case ((a, b), i) =>
      val (ra, rb) = (rec(i + 1, a), rec(i + 1, b))
      Seg(i + 1, ra.tripId, hms(ra.dep.toInt), ra.routeId,
        ra.stopName, ra.stopId, ra.lat, ra.lon,
        rb.tripId, rb.stopName, rb.stopId,
        rb.lat, rb.lon, rb.routeId, hms(rb.arr.toInt))
    }
  }
}
