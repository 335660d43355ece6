package graft.projection

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.GtfsTables

/** The day-specific **time-expanded routing graph** — our analog of the
  * reference's GDS projection `graph_walk` (`main.py:13-22`).
  *
  * Nodes = stoptimes of trips whose service is valid on `day` (node query,
  * `main.py:16`). Edges = PRECEDES (ride/dwell to the next stoptime of the
  * same trip, weight = stored waiting_time) ∪ CHANGE (transfer to the
  * earliest-departing stoptime of a different route reachable by walking,
  * weight = wait + walk seconds with the walking `speed` baked in at
  * projection time — edge query, `main.py:17`).
  *
  * Node identity: the reference uses Neo4j's internal `id(st)`; we use the
  * deterministic `xxhash64(trip_id, stop_sequence)` (SURVEY §7.3) — stable
  * across runs and cluster layouts, fits GraphX's Long VertexId.
  *
  * The regime is decided once, before any edge exists, on first use of the
  * edges, the SSSP handle or the local index: one count over the cached
  * `nodes`. When it and the derived edge count are both within
  * `ssspLocalThreshold`, the projection is built on the driver
  * ([[DriverBuild]]: one node collect, one WALK_TO collect, the routing CSR
  * built directly) and routes in the local regime; no edge frame is
  * cached, and `edges` wraps the driver arrays in a LocalRelation per call.
  * Over either bound the Spark builder below builds and caches the edge
  * union, and the projection routes distributed — so a node count over the
  * bound routes distributed whatever its edge count. The reference holds
  * its projection in memory and reuses it across routing calls the same
  * way; re-projection is needed only per (day, speed), which RoutingEngine
  * keys its cache on.
  */
final class TimeExpandedGraph private[projection] (val nodes: DataFrame,
    walkToEdges: DataFrame, speed: Double,
    /** Deferred Spark CHANGE∪PRECEDES construction → (edges, build-side
      * caches: schedule dimension first, then any helper frames the build
      * pinned — all released in unpersist()). It runs only for a
      * projection over the local bound, on first `edges`/`schedCache`
      * access. */
    buildEdges: () => (DataFrame, Seq[DataFrame]),
    val ssspLocalThreshold: Long,
    // capped-regime knobs of the projection's TransitSssp runner, threaded
    // per-instance (r18, r17 verdict #2) — engine-level callers pass them
    // the same way they pass ssspLocalThreshold
    val cappedCsrMaxEdges: Long,
    val cappedSliceMinNodes: Long,
    /** Regime evidence the projection's TransitSssp runner bumps
      * (TransitSssp.RegimeEvidence scaladoc); the owning engine passes its
      * own so callers can require regimes engaged per engine. */
    val regimeEvidence: graft.graph.TransitSssp.RegimeEvidence) {

  private def spark = nodes.sparkSession

  /** The driver-built projection, or None when the projection routes
    * distributed (node count, then derived edge count, over the local
    * bound). The collects run on the calling thread: this initializer
    * holds the projection's monitor, so work handed to the shared pool
    * could queue behind pool threads BLOCKED on that monitor — a
    * deadlock. */
  private lazy val driverGraph: Option[DriverGraph] = {
    val cap = graft.graph.ShortestPaths.localCap(ssspLocalThreshold)
    if (nodes.count() > cap) None
    else DriverBuild(nodes, walkToEdges, speed, cap)
  }

  // Forced-flags tell unpersist() which lazy caches exist. Every lazy val
  // of this object initializes under its one monitor, so the flags are
  // written under it too; @volatile keeps unpersist() from another thread
  // seeing a stale "not built".
  @volatile private var edgesForced = false
  private lazy val edgesAndSched: (DataFrame, Seq[DataFrame]) = {
    val r = buildEdges()
    edgesForced = true
    r
  }
  /** Public projected edge list — the 5-column CHANGE ∪ PRECEDES contract.
    * Driver-built: a fresh LocalRelation over the driver arrays per call.
    * Spark-built: a narrowing view over the cached (possibly
    * position-enriched) union; the in-memory cache serves it with the
    * extra columns pruned. */
  def edges: DataFrame = driverGraph match {
    case Some(d) => d.edgeFrame(spark)
    case None =>
      val full = edgesAndSched._1
      if (full.columns.length == 5) full
      else full.select("source", "target", "type", "waiting_time", "walking_time")
  }
  /** CHANGE edges WITH the position/rel-weight enrichment when the Spark
    * builder provided it (s_trip/s_seq/d_trip/d_seq/w_rel/d_acum — see
    * build()): TransitSssp's whole-day slice pin then needs no position
    * joins. A driver-built projection's are the plain 5 columns. */
  def changeEnriched: DataFrame = {
    val all = if (driverGraph.isDefined) edges else edgesAndSched._1
    all.filter(col("type") === "CHANGE")
  }
  /** Persisted per-(stop, distance, service, route) schedule dimension
    * feeding the Spark builder's CHANGE probe join — held so `edges`
    * (cached lazily) can materialize from it without recomputation,
    * released in unpersist(). None on a driver-built projection. */
  def schedCache: Option[DataFrame] =
    if (driverGraph.isDefined) None else edgesAndSched._2.headOption

  def nodeCount: Long = nodes.count()
  def edgeCount: Long = driverGraph.fold(edges.count())(_.edgeCount)

  /** Edge list in the shape ShortestPaths.fromDF expects. */
  def weightedEdges: DataFrame =
    edges.select(col("source").as("src"), col("target").as("dst"),
      col("waiting_time").cast("double").as("weight"))

  /** Day-served stop dimension — one row per distinct (stop_name, lat, lon)
    * with service in this projection. Interactive near-stop search only
    * needs this few-thousand-row table, not the full stoptime node set
    * (249k rows at Modena cardinality). */
  private def stopRows: DataFrame = nodes.select("stop_name", "lat", "lon").distinct()

  /** [[stopRows]] cached, for the distributed near-stop scan above the
    * [[localStopDim]] bound; built on first use. */
  lazy val stopDim: DataFrame = {
    val d = stopRows.cache()
    stopDimForced = true
    d
  }
  @volatile private var stopDimForced = false

  /** Driver-resident twin of [[stopDim]], BOUNDED: the stop dimension is
    * structurally small (distinct physical stops — tens of thousands for a
    * national feed, vs millions of stoptime nodes), so near-stop search is
    * an array scan in either routing regime and on a fresh projection —
    * one limit-guarded collect per projection instead of a
    * filter+distinct Spark job per search call, and it does not need the
    * edge build. None above the bound (callers fall back to the
    * distributed scan); the exact haversine decides membership on both
    * paths, so results are identical. It collects the uncached distinct:
    * reading through the [[stopDim]] cache launches one more job and
    * writes a cache the local regime never reads. */
  lazy val localStopDim: Option[Array[(String, Double, Double)]] = {
    val rows = stopRows.limit(TimeExpandedGraph.LocalStopDimMaxRows + 1).collect()
    if (rows.length > TimeExpandedGraph.LocalStopDimMaxRows) None
    else Some(rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))))
  }

  /** The projection's transit-structured distributed runner (trip-collapse
    * rounds, transfer-bounded) — the time-expanded day is deep in PRECEDES
    * hops, and this projection knows its own trip structure. One runner per
    * projection: its trip-prefix and CHANGE frames are call-invariant and
    * pinned on first use, shared across calls — the distributed twin of the
    * local regime's held CSR. The routing engine calls it directly in the
    * distributed regime (capped CSR, staged rank-then-path). */
  lazy val transit: graft.graph.TransitSssp = {
    val t = new graft.graph.TransitSssp(nodes, changeEnriched,
      cappedCsrMaxEdges = cappedCsrMaxEdges,
      cappedSliceMinNodes = cappedSliceMinNodes,
      evidence = regimeEvidence)
    transitForced = true
    t
  }
  @volatile private var transitForced = false

  /** Per-projection SSSP handle on the regime [[driverGraph]] decided:
    * the driver-built CSR, shared by every routing call against this
    * projection — the reference holds one in-memory CSR per projection
    * the same way — or, over the local bound, [[transit]] rather than
    * generic hop-bounded Pregel. */
  lazy val sssp: graft.graph.ShortestPaths.Sssp =
    graft.graph.ShortestPaths.Sssp.decided(spark, driverGraph.map(_.csr), weightedEdges,
      distributedRunner = Some(transit.run(_)))

  /** Driver-resident node attributes, local-SSSP regime only (see
    * [[LocalProjection]]): the records the driver build collected — None
    * in the distributed regime, where callers stay on the declarative
    * DataFrame path. */
  lazy val localIndex: Option[LocalProjection] = driverGraph.map(_.index)

  /** The local regime's horizon-cap clock: the arrival clock of every
    * local-CSR vertex, aligned to the CSR's sorted ids (RoutingEngine's
    * `capAnchor` reads it). Built once per projection from
    * [[localIndex]]'s records, no Spark job. None when some stoptime
    * arrives after it departs: the cap's exactness rests on arr ≤ dep at
    * every vertex, so such a feed searches uncapped. A vertex without a
    * record (none on a projected feed) gets Long.MinValue, which no cap
    * drops. Local regime only. */
  private[graft] lazy val capClock: Option[Array[Long]] = {
    val ix = localIndex.getOrElse(throw new IllegalStateException(
      "capClock: the projection routes in the distributed regime"))
    if (ix.recs.exists(r => r.arr > r.dep)) None
    else Some(sssp.localIds.map { id =>
      val r = ix.byId.get(id)
      if (r == null) Long.MinValue else r.arr
    })
  }

  def unpersist(): Unit = {
    // the runner's pins are local checkpoints, which no cache clear frees
    if (transitForced) transit.releasePins()
    if (stopDimForced) stopDim.unpersist()
    // unpersist the FULL cached union (edges is a narrowing view whose
    // plan would not match the cache entry)
    if (edgesForced) {
      edgesAndSched._2.foreach(_.unpersist())
      edgesAndSched._1.unpersist()
    }
    nodes.unpersist()
  }
}

object TimeExpandedGraph {

  /** Broadcast the CHANGE schedule dimension when its measured payload is
    * under this bound (estimate: 16 B per schedule entry + 64 B row
    * overhead). City-scale feeds are a few MB and broadcast; a national-
    * scale dimension exceeds the bound and falls back to the shuffled
    * equi-join, which the stop-bucketed layout co-locates for free. */
  val BroadcastSchedMaxBytes: Long = 64L << 20

  /** Row bound for [[TimeExpandedGraph.localStopDim]]: 256k stops × ~48 B
    * ≈ 12 MB of driver heap — covers any national feed; a larger (multi-
    * agency planet) dimension keeps the distributed scan path. */
  val LocalStopDimMaxRows: Int = 262144

  /** Catalyst-stat floor (stopTimes sizeInBytes) below which the build
    * SKIPS generation-time enrichment on non-warehouse feeds: the
    * enrichment exists for TransitSssp's whole-day slice pin, which only
    * distributed-regime (>2M-edge) projections ever build — on
    * fixture/city feeds the extra trip-keyed window and fatter schedule
    * entries are pure build premium (measured 1.18–1.24× on the two
    * projection-building bench rows, r14 COVERAGE). 64 MB ≈ >1M
    * stoptimes. Warehouse feeds carry the STORED ride_acum column and
    * enrich for free regardless; an under-estimated big feed merely keeps
    * the legacy join-built pin — the r13 shape, correct and spec-pinned,
    * never a wrong plan. Same stats-not-jobs posture as the WALK_TO
    * broadcast gate above. Production DEFAULT of build's per-call
    * parameter (r18): specs force enrichment onto fixture-scale feeds by
    * passing 0 per call, not by mutating a global. */
  private[graft] val EnrichMinStatBytes: Long = 64L << 20

  /** Stable node id for a stoptime. */
  def nodeId(tripId: org.apache.spark.sql.Column, seq: org.apache.spark.sql.Column) =
    xxhash64(tripId, seq)

  /** Per-trip cumulative ride-cost prefix A as a `ride_acum` column:
    * A(first) = 0, A(u) = A(u−1) + (arr(u) − dep(u−1)) — so a within-trip
    * chain v→u costs A(u) − A(v), dwells included. This is the rel-space
    * potential graph.TransitSssp operates in; ONE definition shared by
    * the projection build (fallback window) and the warehouse writer
    * (precompute-at-write: acum is day-independent and per-trip, so the
    * stored column costs one window at write time and saves the build's
    * trip-keyed Exchange on every read — keeping the stop-bucketed scan's
    * shuffle-free CHANGE build). Input needs (trip_id, stop_sequence,
    * arr_secs, dep_secs). */
  def withRideAcum(stopTimes: DataFrame): DataFrame = {
    val w = Window.partitionBy("trip_id").orderBy("stop_sequence")
    stopTimes
      .withColumn("hop_w",
        (col("arr_secs") - lag("dep_secs", 1).over(w)).cast("double"))
      .withColumn("ride_acum", coalesce(
        sum("hop_w").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        lit(0.0)))
      .drop("hop_w")
  }

  /** Build the projection for one service day at one walking speed.
    * `walkToEdges` is the WALK_TO table (build once via
    * GraphBuilder.walkTo — day-independent). Only the cached node frame is
    * defined here; the regime decision and the edges wait for first use
    * (see the class scaladoc). The edge pipeline below is the Spark
    * builder: the distributed regime's, and the only one that runs over
    * the local bound. */
  def build(g: GtfsTables, day: java.sql.Date, speed: Double,
      walkToEdges: DataFrame,
      ssspLocalThreshold: Long = graft.graph.ShortestPaths.LocalDijkstraMaxEdges,
      cappedCsrMaxEdges: Long = graft.graph.TransitSssp.cappedCsrMaxEdges,
      cappedSliceMinNodes: Long = graft.graph.TransitSssp.cappedSliceMinNodes,
      enrichMinStatBytes: Long = EnrichMinStatBytes,
      regimeEvidence: graft.graph.TransitSssp.RegimeEvidence =
        new graft.graph.TransitSssp.RegimeEvidence)
      : TimeExpandedGraph = {

    // J1 calendar chain: Day ← Service ← Trip ← Stoptime → Stop (+ Route).
    // Dimensions (calendar slice, trips, routes, stops) broadcast — the
    // Stoptime side is the only big relation, exactly the Cypher planner's
    // start-from-Day ordering re-expressed for Spark.
    val dayServices = g.calendar.filter(col("day") === lit(day))
      .select("service_id").distinct()
    val dayTrips = g.trips.join(broadcast(dayServices), Seq("service_id"))
      .select("trip_id", "route_id", "service_id")
    // ride_acum: stored by the warehouse writer (precomputed, keeps the
    // bucketed scan's partitioning intact) or window-derived in the edge
    // closure below — see withRideAcum. Non-warehouse feeds under the
    // stat floor skip enrichment entirely (see EnrichMinStatBytes);
    // TransitSssp then uses its legacy join-built pin.
    val hasStoredAcum = g.stopTimes.columns.contains("ride_acum")
    val enrich = hasStoredAcum ||
      g.stopTimes.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(enrichMinStatBytes)
    val nodes = g.stopTimes
      .join(broadcast(dayTrips), Seq("trip_id"))
      .join(broadcast(g.stops), Seq("stop_id"))
      .select(Seq(
        nodeId(col("trip_id"), col("stop_sequence")).as("id"),
        col("trip_id"), col("route_id"), col("service_id"),
        col("stop_id"), col("stop_name"),
        col("stop_lat").as("lat"), col("stop_lon").as("lon"),
        col("stop_sequence"), col("arr_secs"), col("dep_secs")) ++
        (if (hasStoredAcum) Seq(col("ride_acum")) else Nil): _*)
      .cache()

    // Everything below (PRECEDES window, CHANGE schedule aggregation +
    // probe, measured broadcast decision) is deferred: the closure runs on
    // first `edges` access of a projection over the local bound. Node-only
    // callers never trigger it.
    def edgesAndSched(): (DataFrame, Seq[DataFrame]) = {
    // PRECEDES edges restricted to day-valid trips; weight = next.arrival −
    // this.departure (`new_dbSetup.py:72-74`). Derived from the cached node
    // set rather than a second pass over raw stoptimes: the day filter and
    // id hash are already paid, and service validity is per-trip, so the
    // within-trip lead is unaffected by the day restriction. One window
    // shuffle on trip_id — same as GraphBuilder.precedes — minus the raw
    // scan and the dayTrips re-join.
    //
    // The per-trip ride-cost prefix A (see withRideAcum) rides every node:
    // the rel-space potential graph.TransitSssp's distributed rounds
    // operate in. Carrying it AT GENERATION lets every CHANGE edge carry
    // both endpoints' (trip, seq) positions and the pre-folded rel weight
    // w_rel = A(src) + w − A(dst), so the whole-day CHANGE-slice pin
    // becomes one layout shuffle + write instead of three edge-table
    // shuffles plus two 25M-row position joins (r13 verdict: 141–187 s
    // of one-time cost at the 100× point, paid by every uncapped
    // probe/betweenness call). A warehouse-written feed STORES the column
    // (acum is day-independent), so the bucketed layout's shuffle-free
    // CHANGE build is untouched; other feeds over the stat floor pay the
    // trip-keyed window here, once per projection; feeds under it skip
    // enrichment (see EnrichMinStatBytes — the pin it serves only exists
    // in the distributed regime).
    val wTrip = Window.partitionBy("trip_id").orderBy("stop_sequence")
    // The window-derived fallback is RECOMPUTED by its three consumers
    // (PRECEDES, the probe's s side, the schedule tgt side) during the one
    // union-cache materialization — Spark reuses the Exchange but not the
    // sort+window above it. A persisted variant was measured WORSE at the
    // 100× point (148.7 s build vs 52.1–109.9 recomputed vs 41.6
    // r13-code: the 25M-row ~2.7 GB cache write sits on this box's weak
    // storage axis, while the redundant sorts are cheap CPU), so the
    // ~1.25–1.65× plain-path build premium stands as the documented price
    // of generation-time enrichment — and the production warehouse path
    // pays ZERO (stored ride_acum column, no window at all).
    val nodesAcum =
      if (!enrich) nodes // unused below when enrichment is off
      else if (hasStoredAcum) nodes.withColumn("acum", col("ride_acum"))
      else TimeExpandedGraph.withRideAcum(nodes)
        .withColumnRenamed("ride_acum", "acum")
    val precedesDay = nodes
      .withColumn("target", lead("id", 1).over(wTrip))
      .withColumn("dst_arr", lead("arr_secs", 1).over(wTrip))
      .filter(col("target").isNotNull)
      .select(
        col("id").as("source"),
        col("target"),
        lit("PRECEDES").as("type"),
        (col("dst_arr") - col("dep_secs")).cast("long").as("waiting_time"),
        lit(0L).as("walking_time"))

    // CHANGE edges (`main.py:17`): from stoptime `s`, walk to a neighboring
    // stop (WALK_TO, self-loop included = same-stop change), catch the
    // earliest-departing stoptime per (other route, walking distance) on the
    // SAME service, different route (one trip serves one route, so the
    // reference's trip-inequality predicate is implied), reachable in time:
    //   s.arrival + floor(distance/speed) < t.departure   (strict)
    // weight = (t.departure − s.arrival) + floor(distance/speed).
    // apoc.agg.minItems keeps ALL tied earliest targets → rank()=1.
    //
    // Shape for scale: the naive s ⋈ walk ⋈ stoptimes expansion materializes
    // |stoptimes| × neighbors × departures-per-stop rows (≈10⁸ at Modena
    // cardinality, worse at 100 TB) just to keep one-in-thousands after the
    // rank. Instead the target side is aggregated ONCE into a per-(stop,
    // service, route) SORTED departure schedule — data volume |stoptimes|,
    // grouping key starts with stop_id so a stop-bucketed scan satisfies it
    // shuffle-free — and each (s × walk × route-at-neighbor) row probes its
    // schedule array for the earliest departure after the walk-adjusted
    // threshold (+ ties). Only those winners (≈ one per candidate row) reach
    // the rank window, which then only resolves EQUIDISTANT neighbor stops
    // sharing a route (min over per-stop minima = min over their union, and
    // a row ties globally iff it ties within its stop — so the two-stage
    // selection is exactly the one-stage one).
    val s = nodesAcum.select(Seq(col("id").as("s_id"),
      col("trip_id").as("s_trip"),
      col("route_id").as("s_route"), col("service_id").as("s_service"),
      col("stop_id").as("s_stop"), col("arr_secs").as("s_arr")) ++
      (if (enrich) Seq(col("stop_sequence").as("s_seq"),
        col("acum").as("s_acum")) else Nil): _*)
    val walk = walkToEdges.select(col("src_stop_id").as("n_stop"),
      col("dst_stop_id").as("s_stop"), col("distance"))
    val tgt = nodesAcum.select(Seq(col("id").as("t_id"),
      col("route_id").as("t_route"), col("service_id").as("t_service"),
      col("stop_id").as("n_stop"), col("dep_secs").as("t_dep")) ++
      (if (enrich) Seq(col("trip_id").as("t_trip"),
        col("stop_sequence").as("t_seq"), col("acum").as("t_acum"))
      else Nil): _*)

    // Entry layout: (t_dep, t_id) lead — the probe's binary-search keys
    // and the struct sort order (t_id is unique, so the trailing
    // enrichment fields never influence ordering) — then the target's
    // position + ride prefix riding along for the enriched edge output.
    val entry =
      if (enrich) struct(col("t_dep").cast("long").as("t_dep"),
        col("t_id"), col("t_trip"), col("t_seq"), col("t_acum"))
      else struct(col("t_dep"), col("t_id"))
    val sched = tgt
      .groupBy("n_stop", "t_service", "t_route")
      .agg(sort_array(collect_list(entry)).as("deps"))

    // Fold the walk dimension in BEFORE the big-side join: per (source stop,
    // walking distance, service, route) the sorted UNION of all equidistant
    // neighbors' schedules. The old rank() window existed only to resolve
    // EQUIDISTANT neighbor stops sharing a route; merging their schedules
    // into one array makes cross-stop ties ordinary within-array ties, which
    // the probe already returns — so the window (a full shuffle + sort of
    // the probed candidate set) disappears. min over per-stop minima = min
    // over their union, and the probe keeps ALL entries tied at that min,
    // so the edge set is unchanged (ProjectionParitySpec pins this against
    // the naive one-stage formulation). This join+agg touches only
    // dimension-sized data: |sched| rows ≈ stops × routes-at-stop.
    // WALK_TO is a stop-pair dimension (|stops| × few-neighbors rows) —
    // broadcast it when its KNOWN size allows, killing the n_stop
    // sort-merge's two Exchanges (AQE cannot convert this join itself: it
    // sits inside the cached-plan fragment, where runtime re-planning is
    // off). The gate reads Catalyst stats, not a job: for a materialized
    // cache that is the exact byte size (the engine caches WALK_TO and
    // journey/harness flows materialize it early); for an unmaterialized
    // plan the estimate is inflated and the hint simply stays off — the
    // status-quo shuffled join, never a wrong plan.
    val walkStatsBytes = walkToEdges.queryExecution.optimizedPlan.stats.sizeInBytes
    val walkSide =
      if (walkStatsBytes <= BroadcastSchedMaxBytes) broadcast(walk) else walk
    val schedAt = sched
      .join(walkSide, Seq("n_stop"))
      .groupBy("s_stop", "distance", "t_service", "t_route")
      .agg(sort_array(flatten(collect_list(col("deps")))).as("deps"))

    // One equi-join on s_stop carries the whole CHANGE generation, then one
    // codegen'd binary-search probe per candidate row — the earliest
    // reachable departure plus its ties (empty → no edge). AQE does NOT
    // reliably convert this to a broadcast join (Catalyst's size estimate
    // for the post-aggregation array column is wildly inflated, measured
    // 9.6 s SMJ vs 2.5 s broadcast at Modena cardinality), so gate an
    // explicit hint on the MEASURED payload: persist the dimension, sum its
    // array lengths (one dimension-sized job), broadcast under the bound.
    // Oversized dimensions keep the shuffled equi-join, co-located for free
    // under the stop-bucketed layout.
    val schedAtCached = schedAt.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // per entry: 2 longs + struct overhead ≈ 16 B; enriched entries add
    // int + double + the trip key's actual bytes (~40 B + key)
    val entryBytes =
      if (enrich) aggregate(col("deps"), lit(0L), (acc, e) =>
        acc + lit(40L) + length(e.getField("t_trip")).cast("long"))
      else size(col("deps")).cast("long") * 16L
    val schedBytes = schedAtCached
      .agg(coalesce(sum(entryBytes + 64L), lit(0L)))
      .collect()(0).getLong(0)
    val schedSide =
      if (schedBytes <= BroadcastSchedMaxBytes) broadcast(schedAtCached)
      else schedAtCached

    val walkSecs = floor(col("distance") / speed).cast("long")
    val probed = s
      .join(schedSide, Seq("s_stop"))
      .filter(col("t_service") === col("s_service") &&
        col("t_route") =!= col("s_route"))
      .withColumn("walking_time", walkSecs)
      .select(Seq(col("s_id"), col("s_arr"), col("walking_time")) ++
        (if (enrich) Seq(col("s_trip"), col("s_seq"), col("s_acum"))
        else Nil) :+
        explode(graft.functions.expressions.EarliestAfterExpr(col("deps"),
          col("s_arr") + col("walking_time"))).as("e"): _*)
    val changeBase = Seq(col("s_id").as("source"), col("e.t_id").as("target"),
      lit("CHANGE").as("type"),
      (col("e.t_dep") - col("s_arr") + col("walking_time")).cast("long").as("waiting_time"),
      col("walking_time"))
    val changeEdges =
      if (!enrich) probed.select(changeBase: _*)
      else probed.select(changeBase ++ Seq(
          // position/rel-weight enrichment (see the acum comment above):
          // TransitSssp's whole-day slice pin reads these verbatim
          col("s_trip"), col("s_seq"),
          col("e.t_trip").as("d_trip"), col("e.t_seq").as("d_seq"),
          col("s_acum"), col("e.t_acum").as("d_acum")): _*)
        .withColumn("w_rel",
          col("s_acum") + col("waiting_time").cast("double") - col("d_acum"))
        .drop("s_acum")

    // U1: the projected edge list is CHANGE ∪ PRECEDES (`main.py:17`) —
    // cached with the enrichment columns (PRECEDES rows null-extended);
    // the public `edges` view narrows back to the 5-column contract and
    // the in-memory cache prunes the untouched columns per consumer.
    (changeEdges.unionByName(precedesDay, allowMissingColumns = true).cache(),
      Seq(schedAtCached))
    }

    new TimeExpandedGraph(nodes, walkToEdges, speed, () => edgesAndSched(),
      ssspLocalThreshold, cappedCsrMaxEdges, cappedSliceMinNodes, regimeEvidence)
  }
}
