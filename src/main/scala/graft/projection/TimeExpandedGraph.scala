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
  * Both DataFrames are cached: the reference holds the CSR projection
  * in memory and reuses it across routing calls; re-projection is needed
  * only per (day, speed), which RoutingEngine keys its cache on.
  */
final class TimeExpandedGraph(val nodes: DataFrame,
    /** Deferred CHANGE∪PRECEDES construction → (edges, build-side caches:
      * schedule dimension first, then any helper frames the build pinned —
      * all released in unpersist()). Edge generation ends in a
      * measured-size broadcast decision (one dimension-sized Spark job),
      * so it must NOT run at build() time: interactive calls that need
      * only the node side (near-stop search on a fresh projection) would
      * pay the whole CHANGE pipeline for a stop scan. First
      * `edges`/`schedCache` access evaluates the thunk once. */
    buildEdges: () => (DataFrame, Seq[DataFrame]),
    val ssspLocalThreshold: Long = graft.graph.ShortestPaths.LocalDijkstraMaxEdges,
    // capped-regime knobs of the projection's TransitSssp runner, threaded
    // per-instance (r18, r17 verdict #2) — engine-level callers pass them
    // the same way they pass ssspLocalThreshold
    val cappedCsrMaxEdges: Long = graft.graph.TransitSssp.cappedCsrMaxEdges,
    val cappedSliceMinNodes: Long = graft.graph.TransitSssp.cappedSliceMinNodes,
    /** Regime evidence the projection's TransitSssp runner bumps
      * (TransitSssp.RegimeEvidence scaladoc); the owning engine passes its
      * own so callers can require regimes engaged per engine. */
    val regimeEvidence: graft.graph.TransitSssp.RegimeEvidence =
      new graft.graph.TransitSssp.RegimeEvidence) {

  // Forced-flags are written inside lazy-val initializers and read from
  // other threads (journey() warms the index concurrently with near-stop
  // scans): @volatile for visibility, and set AFTER the build completes so
  // localIndexIfBuilt peeks from a concurrent reader see "not built yet"
  // (→ the non-blocking distributed path) instead of blocking on the
  // initializer's monitor for the whole edge build.
  @volatile private var edgesForced = false
  private lazy val edgesAndSched: (DataFrame, Seq[DataFrame]) = {
    val r = buildEdges()
    edgesForced = true
    r
  }
  /** Public projected edge list — the 5-column CHANGE ∪ PRECEDES contract.
    * A narrowing view over the cached (possibly position-enriched) union;
    * the in-memory cache serves it with the extra columns pruned. */
  def edges: DataFrame = {
    val full = edgesAndSched._1
    if (full.columns.length == 5) full
    else full.select("source", "target", "type", "waiting_time", "walking_time")
  }
  /** CHANGE edges WITH the position/rel-weight enrichment when the builder
    * provided it (s_trip/s_seq/d_trip/d_seq/w_rel/d_acum — see build()):
    * TransitSssp's whole-day slice pin then needs no position joins. */
  def changeEnriched: DataFrame =
    edgesAndSched._1.filter(org.apache.spark.sql.functions.col("type") === "CHANGE")
  /** Persisted per-(stop, distance, service, route) schedule dimension
    * feeding the CHANGE probe join — held so `edges` (cached lazily) can
    * materialize from it without recomputation, released in unpersist(). */
  def schedCache: Option[DataFrame] = edgesAndSched._2.headOption

  def nodeCount: Long = nodes.count()
  def edgeCount: Long = edges.count()

  /** Memo for [[graft.graph.Betweenness]]'s windowed dep-hole guard, keyed
    * by clock cap — the guard is one window agg over `nodes`, paid once per
    * (projection, cap) instead of per windowed+transit call (r16, r15
    * ADVICE). Bounded like the capped-slice buckets: caps are event clocks
    * within the service day. */
  private[graft] val depHoleMemo =
    new java.util.concurrent.ConcurrentHashMap[java.lang.Double, java.lang.Boolean]()

  /** Edge list in the shape ShortestPaths.fromDF expects. */
  def weightedEdges: DataFrame =
    edges.select(col("source").as("src"), col("target").as("dst"),
      col("waiting_time").cast("double").as("weight"))

  /** Day-served stop dimension — one row per distinct (stop_name, lat, lon)
    * with service in this projection. Interactive near-stop search only
    * needs this few-thousand-row table, not the full stoptime node set
    * (249k rows at Modena cardinality); built once per projection, cached. */
  lazy val stopDim: DataFrame = {
    val d = nodes.select("stop_name", "lat", "lon").distinct().cache()
    stopDimForced = true
    d
  }
  @volatile private var stopDimForced = false

  /** Driver-resident twin of [[stopDim]], BOUNDED: the stop dimension is
    * structurally small (distinct physical stops — tens of thousands for a
    * national feed, vs millions of stoptime nodes), so near-stop search can
    * be an array scan even before any routing call resolves the regime —
    * one limit-guarded collect per projection instead of a
    * filter+distinct Spark job per search call. None above the bound
    * (callers fall back to the distributed scan); the exact haversine
    * decides membership on every path, so results are identical. */
  lazy val localStopDim: Option[Array[(String, Double, Double)]] = {
    val rows = stopDim.limit(TimeExpandedGraph.LocalStopDimMaxRows + 1).collect()
    if (rows.length > TimeExpandedGraph.LocalStopDimMaxRows) None
    else Some(rows.map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))))
  }

  /** Per-projection SSSP handle: the local-vs-distributed decision and
    * (when local) the adjacency index happen once, shared by every routing
    * call against this projection — the reference holds one in-memory CSR
    * per projection the same way. The distributed branch is the
    * transit-structured [[graft.graph.TransitSssp]] (trip-collapse rounds,
    * transfer-bounded) rather than generic hop-bounded Pregel — the
    * time-expanded day is deep in PRECEDES hops, and this projection knows
    * its own trip structure. */
  lazy val sssp: graft.graph.ShortestPaths.Sssp = {
    // one transit runner per projection: its trip-prefix and CHANGE frames
    // are call-invariant and pinned on first use, shared across calls —
    // the distributed twin of the local regime's held CSR
    lazy val transit = new graft.graph.TransitSssp(nodes, changeEnriched,
      cappedCsrMaxEdges = cappedCsrMaxEdges,
      cappedSliceMinNodes = cappedSliceMinNodes,
      evidence = regimeEvidence)
    new graft.graph.ShortestPaths.Sssp(weightedEdges, ssspLocalThreshold,
      distributedRunner = Some(srcs => transit.run(srcs)),
      distributedStaged = Some { (srcs, costCap, clockCap) =>
        val st = transit.staged(srcs, costCap = costCap, clockCap = clockCap)
        new graft.graph.ShortestPaths.DistRun(
          st.distances, s => st.resolve(s), () => st.release(),
          // zero-total-cycle repair (r16): level-layered acyclic pred
          // re-selection, engaged by the router only after a detected
          // pred cycle — over-budget dirty feeds route instead of erroring
          resolveAcyclicFn = Some(s => st.resolveAcyclic(s)))
      },
      // clock-capped driver-CSR regime (r14): a horizon-bounded subgraph
      // that fits the driver budget routes in-heap — the hub-cadence lever
      cappedTargets = Some { (srcs, tgts, cap) =>
        transit.runForTargetsCapped(srcs, tgts, cap)
      },
      cappedEligibleHint = () => transit.cappedEligible)
  }

  /** Driver-resident node attributes, local-SSSP regime only (see
    * [[LocalProjection]]) — None in the distributed regime, where callers
    * stay on the declarative DataFrame path. */
  lazy val localIndex: Option[LocalProjection] = {
    // The node collect runs on the calling thread, after the regime gate:
    // this initializer holds the projection's monitor, so work handed to
    // the shared pool can queue behind pool threads that are themselves
    // BLOCKED on that monitor (concurrent journey calls entering
    // localStopDim) and never run — a deadlock.
    val r = if (sssp.isLocal) Some(LocalProjection.from(nodes)) else None
    localIndexForced = true
    r
  }
  @volatile private var localIndexForced = false

  /** The local index if a routing call already materialized it, None
    * otherwise — WITHOUT forcing it. The regime gate (`sssp.isLocal`) needs
    * an edge count, i.e. the full CHANGE build; a node-only caller
    * (near-stop search) peeks so a fresh projection answers from the
    * distributed stop dimension instead of paying that build. */
  def localIndexIfBuilt: Option[LocalProjection] =
    if (localIndexForced) localIndex else None

  def unpersist(): Unit = {
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
    * GraphBuilder.walkTo — day-independent). */
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
    // first `edges` access. Node-only callers never trigger it.
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

    new TimeExpandedGraph(nodes, () => edgesAndSched(), ssspLocalThreshold,
      cappedCsrMaxEdges, cappedSliceMinNodes, regimeEvidence)
  }
}
