package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
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
  * DataFrame second — `journey` reads the rows directly, and the public
  * routing frames wrap them in a LocalRelation via `segmentsDf`, which
  * collects without a Spark job. */
private[api] final case class Seg(hop: Int, trip: String, departure: String,
    line: String, startingStopName: String, startingStopId: String,
    startLat: Double, startLon: Double, nextTrip: String, nextStop: String,
    nextStopId: String, nextLat: Double, nextLon: Double, nextLine: String,
    arrival: String)

/** The reference App's query surface (`main.py`), Spark-native.
  *
  * Correlated-Dijkstra decorrelation (SURVEY §7.3): the reference calls
  * `gds.shortestPath.dijkstra` once per candidate (source, target) pair
  * (`main.py:95,143`). Here a routing call runs one search for all pairs:
  * in the driver-side regimes (the local projection, the capped CSR) ONE
  * labelled multi-source Dijkstra whose per-target label is the best
  * source for that target ([[bestPath]]); in the distributed regime one
  * multi-source TransitSssp run whose distance table is joined against the
  * candidate targets and ranked top-1. Same answer as the per-pair
  * searches, a fraction of the traversal work.
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
        import spark.implicits._
        arr.iterator.filter { case (_, la, lo) =>
          graft.functions.SpatialFunctions.haversineMetersScalar(la, lo, lat, lon) < radius
        }.map(_._1).filter(_ != null) // distributed distinct() tolerated null names; so must we
          .toSet.toSeq.sorted.toDF("stop_name")
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

  /** THE best-pair ordering — one definition shared by both routing variants
    * and both execution branches (r4 advice: the local branch used to
    * hardcode a tuple that only happened to match the callers' orderCols).
    * Formula: (t_arr + t_walk, cost + s_walk + t_walk, s_id, t_id). With
    * zero walks this is exactly the stop-to-stop (arrival, cost) order
    * (`main.py:102`); with walks it is the point-to-point
    * (final_time, full_cost) order (`main.py:158-159`). `columns` and `key`
    * MUST stay the same formula — the forced-Pregel parity spec pins them. */
  private object PairOrder {
    def columns: Seq[org.apache.spark.sql.Column] = Seq(
      col("t_arr") + col("t_walk"), col("cost") + col("s_walk") + col("t_walk"),
      col("s_id"), col("t_id"))
    def key(tArr: Long, tWalk: Double, cost: Double, sWalk: Double,
        sId: Long, tId: Long): (Double, Double, Long, Long) =
      (tArr + tWalk, cost + sWalk + tWalk, sId, tId)
  }

  /** Shared routing core: per-route earliest source selection, one
    * multi-source SSSP, candidate-pair ranking, path expansion (G6+J8).
    * Dispatches on the projection's regime: driver-side over the local
    * index below the SSSP threshold (the reference's in-memory regime),
    * declarative DataFrames above it. The forced-Pregel parity spec pins
    * both branches to identical itineraries. */
  private def route(d: java.sql.Date, speed: Double, t0: Long,
      maxDurationHours: Int, src: Endpoint, tgt: Endpoint): DataFrame =
    segmentsDf(routeRows(d, speed, t0, maxDurationHours, src, tgt))

  /** Routing core returning the driver-side segment rows — `journey`
    * consumes these directly (change count, endpoints, times) without a
    * round-trip through a LocalRelation collect. */
  private def routeRows(d: java.sql.Date, speed: Double, t0: Long,
      maxDurationHours: Int, src: Endpoint, tgt: Endpoint): Seq[Seg] = {
    val g = projected(d, speed)
    g.localIndex match {
      case Some(ix) => routeLocal(g, ix, speed, t0, maxDurationHours, src, tgt)
      case None => routeDistributed(g, speed, t0, maxDurationHours, src, tgt)
    }
  }

  /** Local regime: candidate selection, SSSP, pair ranking, and segment
    * labeling all run over driver-resident state, and the segment
    * DataFrame is a LocalRelation — a warm request runs zero Spark jobs.
    * The SSSP is one labelled search from every candidate source, capped
    * at the horizon ([[capAnchor]]) on the projection's arrival clock
    * (uncapped on a feed with an arr > dep row);
    * ranking = [[bestPath]], whose key is the same PairOrder definition
    * the distributed branch orders by. */
  private def routeLocal(g: TimeExpandedGraph, ix: graft.projection.LocalProjection,
      speed: Double, t0: Long, maxDurationHours: Int,
      src: Endpoint, tgt: Endpoint): Seq[Seg] = {
    import graft.projection.NodeRec
    import graft.functions.SpatialFunctions.haversineMetersScalar
    def walkSecs(e: Endpoint)(r: NodeRec): Double = e.walkFrom match {
      case Some((la, lo)) => haversineMetersScalar(r.lat, r.lon, la, lo) / speed
      case None => 0.0
    }
    def candidates(e: Endpoint): Seq[(NodeRec, Double)] =
      e.names.distinct.iterator
        .flatMap(n => ix.byName.getOrElse(n, Array.empty[NodeRec]))
        .map(r => (r, walkSecs(e)(r))).toSeq

    // source predicate: dep − s_walk > t0 (zero walk ⇒ dep > t0, `main.py:80`)
    val srcCands = candidates(src).filter { case (r, w) => r.dep - w > t0 }
    // Per-route earliest departure; apoc.agg.minItems + `s[0]` keeps one
    // item per route (`main.py:84-87`) — deterministic first, same
    // (dep_secs, trip_id, stop_sequence) order as the distributed window.
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
    if (srcRows.isEmpty) return Nil

    // target predicate: dep + t_walk < t0 + horizon (`main.py:91,139`)
    val horizonEnd = t0 + maxDurationHours * 3600L
    val tgtRows = candidates(tgt).filter { case (r, w) => r.dep + w < horizonEnd }
    if (tgtRows.isEmpty) return Nil
    val anchor = capAnchor(horizonEnd,
      tgtRows.iterator.map { case (r, _) => math.max(r.arr, r.dep) })

    // ONE labelled search replaces per-pair Dijkstras (SURVEY §7.3); the
    // per-projection handle reuses the resolved CSR across calls.
    def cand(rw: (NodeRec, Double)): Cand = (rw._1.id, rw._1.dep, rw._1.arr, rw._2)
    val srcs = srcRows.map(cand).sortBy(_._1).toIndexedSeq
    val tgts = tgtRows.map(cand)
    val path = bestPath(g.sssp.labelled(srcs.map(s => (s._1, s._4)),
      tgts.iterator.map(_._1).toSet, g.capClock.map((_, anchor))), srcs, tgts)
    if (path.size < 2) Nil else RoutingEngine.segmentRows(ix.get, path)
  }

  /** Candidate stoptime of a routing call: (id, dep, arr, walk seconds). */
  private type Cand = (Long, Long, Long, Double)

  /** The clock cap both regimes search under: the horizon end, or the
    * latest target clock when an irregular target row (arr > dep) runs
    * past it — see routeDistributed for why the anchor sits at the
    * targets' max(arr, dep).
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
    * negative-weight feed ([[ShortestPaths.Labels]]). */
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
    * valid pair (no source can change it). */
  private def bestPath(run: ShortestPaths.Labels, srcs: IndexedSeq[Cand],
      tgts: Iterable[Cand]): List[Long] = {
    type Key = (Double, Double, Long, Long)
    val order = implicitly[Ordering[Key]]
    def keyOf(lab: ShortestPaths.Labels, t: Cand): Option[(Key, Boolean)] =
      lab.winner(t._1).map { case (i, cost) =>
        val (s, sDep, _, sw) = srcs(i)
        (PairOrder.key(t._3, t._4, cost, sw, s, t._1), t._2 > sDep)
      }
    var best: Option[(Key, ShortestPaths.Labels, Long)] = None
    def offer(k: Key, lab: ShortestPaths.Labels, t: Long): Unit =
      if (best.forall(b => order.lt(k, b._1))) best = Some((k, lab, t))
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

  /** Distributed regime: full distance table stays distributed; the path
    * comes back through `ShortestPaths.pathDistributed` — a driver walk
    * of the source's pred chain up to `DriverWalkMaxChainRows` rows,
    * pointer doubling (log L self-joins) above it — never the reachable
    * set. */
  private def routeDistributed(g: TimeExpandedGraph, speed: Double, t0: Long,
      maxDurationHours: Int, src: Endpoint, tgt: Endpoint): Seq[Seg] = {
    def walkCol(e: Endpoint): org.apache.spark.sql.Column = e.walkFrom match {
      case Some((la, lo)) => haversineMeters(col("lat"), col("lon"), lit(la), lit(lo)) / speed
      case None => lit(0.0)
    }
    val sWalk = walkCol(src); val tWalk = walkCol(tgt)
    val sourceCandidates = g.nodes
      .filter(col("stop_name").isin(src.names.distinct: _*) &&
        col("dep_secs") - sWalk > t0)
      .withColumn("s_walk", sWalk)
    val targets = g.nodes
      .filter(col("stop_name").isin(tgt.names.distinct: _*) &&
        col("dep_secs") + tWalk < t0 + maxDurationHours * 3600L)
      .select(col("id").as("t_id"), col("dep_secs").as("t_dep"),
        col("arr_secs").as("t_arr"), tWalk.as("t_walk"))

    // Per-route earliest departure (`main.py:84-87`), distributed window.
    val perRoute = Window.partitionBy("route_id")
      .orderBy("dep_secs", "trip_id", "stop_sequence")
    val srcRows = sourceCandidates
      .withColumn("rn", row_number().over(perRoute)).filter(col("rn") === 1)
      .select(col("id").as("s_id"), col("dep_secs").as("s_dep"), col("s_walk"))
    val srcLocal = srcRows.collect() // tiny: one row per route at one stop
    if (srcLocal.isEmpty) return Nil
    val srcIds = srcLocal.map(_.getLong(0)).toSet

    // Staged run: ranking needs only DISTANCES at the candidate targets —
    // none of the predecessor-resolution windows/joins run for it — and
    // the path needs predecessors for the ONE winning source (exact:
    // resolution is per-(source, vertex) independent). The k-sources
    // resolution this replaces was a measurable slice of every
    // distributed routing call (COVERAGE.md, distributed scale section).
    //
    // Horizon cost cap, anchored at the candidate TARGETS' max event
    // clock (r11 ADVICE): rankable targets need only DEPART before the
    // horizon (`main.py:91`), and SSSP distances anchor at the target
    // stoptime's ARRIVAL — on a clean feed arr ≤ dep < horizon_end so
    // the horizon bounds every clock on an optimal path, but a feed with
    // irregular rows (arrival clock > departure clock, e.g. dirty data)
    // can carry path clocks past the horizon. Anchoring at
    // max(horizon_end, max over targets of max(arr, dep)) restores the
    // argument for the arr>dep-at-target case: path cost = clock elapsed
    // + Σ per-change walks with each walk ≤ its change's wait (boarding
    // requires s_arr + walk < t_dep), so cost ≤ 2 × clock elapsed
    // < 2 × (anchor + 60 − s_dep), and every stoptime on an optimal path
    // to a target departs at or before the target's anchor clock (event
    // clocks only move forward), so the clock cap keeps the whole pred
    // chain — intermediate rows of a final leg included. Residual
    // assumption (r12 ADVICE): intra-trip clocks on the FINAL leg do not
    // exceed the target anchor — a dirty feed with a non-monotone
    // intermediate row whose dep clock exceeds every target's
    // max(arr, dep) would have that row clock-capped out of the grid,
    // losing a pred-chain segment vs the uncapped CSR branch. Exact for
    // ranking and for the winner's pred chain (cost is monotone along
    // paths; see TransitSssp.staged). On clean feeds the anchor equals
    // horizon_end and both caps are unchanged.
    // dep_secs is IntegerType on CSV-loaded feeds and LongType on others
    val minDep = srcLocal.map(_.getAs[Number]("s_dep").longValue()).min
    val horizonEnd = t0 + maxDurationHours * 3600L
    // Bounded collect of the candidate-target dimension — structurally
    // per-stop schedule rows (departures at the named stops inside the
    // horizon), not graph-sized. Driver rows serve (a) the cap anchor
    // without a separate agg job and (b) the capped-CSR regime's
    // driver-side ranking below. An oversized dimension keeps the
    // distributed agg + staged flow — as does a projection where the
    // capped regime is structurally inactive (budget off, under the
    // node-count floor): there the collect would be pure waste and the
    // one distributed agg it replaced is the cheaper plan (r14 ADVICE).
    val tgtLocal =
      if (!g.transit.cappedEligible) None
      else {
        val rows = targets.limit(RoutingEngine.TargetCollectMaxRows + 1).collect()
        if (rows.length > RoutingEngine.TargetCollectMaxRows) None else Some(rows)
      }
    // greatest()-of-the-replaced-aggregate semantics: GTFS permits blank
    // non-timepoint arrivals, so a null t_arr contributes its dep clock
    // only (t_dep is non-null by the horizon filter's null rejection)
    def clockOf(r: org.apache.spark.sql.Row): Long = {
      val dep = r.getAs[Number]("t_dep").longValue()
      val arr = r.getAs[Number]("t_arr")
      if (arr == null) dep else math.max(arr.longValue(), dep)
    }
    val anchor = tgtLocal match {
      case Some(rows) =>
        if (rows.isEmpty) return Nil // no rankable targets
        capAnchor(horizonEnd, rows.iterator.map(clockOf))
      case None =>
        val row = targets
          .agg(max(greatest(col("t_arr").cast("long"), col("t_dep").cast("long"))))
          .head()
        if (row.isNullAt(0)) return Nil // no rankable targets
        capAnchor(horizonEnd, Iterator.single(row.getLong(0)))
    }
    val costCap = 2.0 * ((anchor + 60L) - minDep).max(0L)

    // Capped-CSR regime (r14): when the horizon-bounded subgraph fits the
    // driver budget (TransitSssp.runForTargetsCapped's gates), SSSP,
    // ranking, and path extraction all run over in-heap state — the exact
    // shape routeLocal runs, over the clock-capped subgraph instead of the
    // whole projection. On cadence-bounded feeds (hubs) this replaces
    // hundreds of per-CHANGE-depth Spark rounds with ns/edge relaxation.
    // One labelled search, ranked by bestPath, routeLocal's own
    // (PairOrder.key inside); the subgraph is already clock-capped.
    // Null-arr targets keep the staged flow: the distributed ranking
    // orders their null (t_arr + t_walk) key nulls-first, a behavior the
    // driver-side key can't express without duplicating the formula —
    // and such rows only occur on non-timepoint-blank feeds.
    val srcs = srcLocal.map(s => (s.getLong(0), s.getAs[Number]("s_dep").longValue(),
      0L, s.getAs[Double]("s_walk"))).sortBy(_._1).toIndexedSeq
    for (tgtRows <- tgtLocal
           if tgtRows.forall(r => !r.isNullAt(r.fieldIndex("t_arr")));
         run <- g.transit.runForTargetsCapped(srcs.map(s => (s._1, s._4)),
           tgtRows.iterator.map(_.getAs[Long]("t_id")).toSet, anchor.toDouble)) {
      val path = bestPath(run, srcs,
        tgtRows.view.map(t => (t.getAs[Long]("t_id"), t.getAs[Number]("t_dep").longValue(),
          t.getAs[Number]("t_arr").longValue(), t.getAs[Double]("t_walk"))))
      return if (path.size < 2) Nil else segments(g, path)
    }

    val sc = spark.sparkContext
    sc.setJobDescription("route: sssp converge")
    val staged = g.transit.staged(srcIds, costCap = costCap,
      clockCap = anchor.toDouble)
    val dist = staged.distances.cache()
    var predOne: DataFrame = null
    // try/finally, not happy-path cleanup: a throw (or early return) out of
    // ranking/resolution/path extraction must still release the staged
    // run's converged grid — at 10× Modena that is ~600 MB of checkpoint
    // blocks per round that would otherwise wait for the ContextCleaner.
    try {
      sc.setJobDescription("route: pair ranking")
      val pairs = dist
        .join(targets, col("vertex_id") === col("t_id"))
        .join(broadcast(srcRows.withColumnRenamed("s_id", "source_id")), Seq("source_id"))
        // target must depart after its source (`main.py:93,141`)
        .filter(col("t_dep") > col("s_dep"))
        .withColumn("cost", col("dist"))
        .withColumnRenamed("source_id", "s_id")
      val row = pairs.orderBy(PairOrder.columns: _*).limit(1).collect().headOption
        .getOrElse(return Nil)
      val (bestSrc, bestTgt) = (row.getAs[Long]("s_id"), row.getAs[Long]("t_id"))
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
      dist.unpersist()
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

  /** Driver-side segment rows → the public routing DataFrame shape. The
    * rows are hop-ordered by construction and a LocalRelation keeps row
    * order on collect, so no sort runs; the constant schema spares the
    * per-call reflective product encoder. Collecting the frame (or a
    * filter/projection of it) launches no Spark job. */
  private def segmentsDf(rows: Seq[Seg]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(Row.fromTuple).asJava, RoutingEngine.SegmentSchema)
  }

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
  /** Row bound for routeDistributed's candidate-target collect: targets
    * are the horizon's departures at the NAMED stops — per-stop schedule
    * size (hundreds to low tens of thousands on real feeds), not graph
    * size, so 1M rows (≈ tens of MB driver) covers any plausible call
    * while a degenerate name list (every stop in a mega-feed) falls back
    * to the distributed agg + staged flow. */
  val TargetCollectMaxRows: Int = 1 << 20

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
