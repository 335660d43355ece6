package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Distributed SSSP specialized to the TIME-EXPANDED transit graph — the
  * production (>2M-edge) routing regime.
  *
  * Generic Pregel relaxes one edge hop per superstep, so its round count is
  * the graph's longest relaxation chain — and a time-expanded day is DEEP:
  * riding a trip end to end is one PRECEDES hop per stoptime, giving ~600+
  * supersteps at 3× Modena (measured >10 min per routing call at local[32];
  * each superstep is a full graph shuffle). But the depth is almost all
  * WITHIN-TRIP: a trip's PRECEDES chain v→…→u has cost A(u) − A(v) for a
  * per-trip cumulative prefix A (hop weights arr_next − dep_cur, dwells
  * included), so one window prefix-min per iteration relaxes EVERY ride of
  * every trip at once:
  *
  *   dist_ride(u) = min(dist(u), min over earlier trip rows v of
  *                      (dist(v) − A(v)) + A(u))
  *
  * followed by one equi-join through the CHANGE edges. An iteration is
  * therefore ride* ∘ change, and the iteration count is bounded by the
  * maximum number of LINE CHANGES on any optimal path (single digits for
  * transit) instead of the hop depth. The state is the checkpointed
  * (source × stoptime) grid; BOTH per-round operations are expressed
  * against its hash(trip_id)-compatible, (src, trip_id, stop_sequence)-
  * sorted layout: the prefix-min window and the candidate merge (keyed
  * on the target's primary key, carried on the pinned CHANGE slice)
  * group and join on grid-layout keys, so only the frontier-sized
  * candidate table does real data movement per round. NOTE on layout
  * metadata: under AQE, localCheckpoint drops the partitioning/ordering
  * info, so the grid's per-round Exchange/Sort is re-planned each round
  * — re-attaching the metadata via CheckpointBridge.rePin was built,
  * measured (~neutral wall on local[32]) and REVERTED for the
  * loop-carried grid after routing-parity failures showed layout-claim
  * induction through join/window flavors is unsound under AQE (r11
  * bisect, COVERAGE.md); only the static trip-prefix and CHANGE-slice
  * pins (terminal repartition/sort, faithful by construction) remain.
  * This is the standard round-based structure transit engines
  * (RAPTOR-family) exploit, re-expressed as Catalyst window + join so
  * it scales with the cluster.
  *
  * STATE REPRESENTATION (round 11): the grid stores distances in
  * RELATIVE ("rel") space — rel(u) = dist(u) − A(u), the quantity the
  * ride prefix-min already operated on — and carries only
  * (src, trip_id, stop_sequence, dist, fresh): five fixed-width fields
  * ≈ 48 B/UnsafeRow against the previous seven ≈ 64 B. The round loop
  * rewrites the full grid every iteration, so row width IS the block
  * churn that drove the 10×-Modena GC variance (VERDICT r10 #2):
  *  - `acum` is gone from the state: in rel space the ride closure is a
  *    pure prefix-min (rel'(u) = min(rel(u), min over earlier v of
  *    rel(v))), and the CHANGE candidate weight pre-folds both
  *    endpoints' prefixes into one static per-edge constant
  *    w_rel = A(src) + w − A(dst), carried on the pinned slice. All
  *    values stay integer-valued doubles, so fixpoint equalities remain
  *    exact; absolute distances are restored (dist = rel + A) by one
  *    position join against the pinned trip prefix at OUTPUT time only
  *    (Staged.distances / resolveState), never per round.
  *  - `id` is gone from the state: every in-loop join is positional on
  *    (trip_id, stop_sequence) — the node's primary key — and the CHANGE
  *    slice carries both endpoints' positions. Ids rejoin the output in
  *    the same position join that restores A.
  *  - the CHANGE slice is pinned REPARTITIONED on hash(s_trip) and
  *    sorted (s_trip, s_seq), so the per-round frontier→edge join is
  *    Exchange-free on BOTH sides (grid and slice are co-partitioned on
  *    the trip key; only the frontier-sized sort runs) — previously the
  *    slice sat on its build-join partitioning and re-shuffled or
  *    re-sorted every mid-flood round.
  *
  * Exactness: label-correcting Bellman-Ford over the (ride-closure, change)
  * operator — monotone improvements to a unique fixpoint = Dijkstra's
  * distances (weights ≥ 0). All weights are integer-valued doubles, so the
  * fixpoint equality tests in the predecessor pass are exact. Predecessors
  * are resolved AFTER convergence in one pass (stale mid-iteration preds
  * can dangle): a vertex's pred is any in-edge satisfying
  * dist(u) = dist(v) + w(v,u) at the fixpoint — for ride-optimal vertices
  * the immediate trip predecessor satisfies it (telescoping), for
  * change-optimal vertices the CHANGE source does; ties resolve
  * deterministically (seeds first, then smallest pred id). The output
  * contract matches ShortestPaths.distancesDF: (vertex_id, source_id,
  * dist, pred), pred = -1 at sources, only reached vertices present —
  * ShortestPaths.pathDistributed walks it unchanged. GtfsEngineSpec's
  * forced-distributed parity test pins itineraries equal to the CSR
  * branch; TransitSsspSpec pins distances equal to generic Pregel.
  */
object TransitSssp {
  /** Session-unique run counter for observation names (see run()). */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-instance regime evidence: every TransitSssp instance bumps the
    * evidence object it was constructed with, so a caller that owns the
    * engine/projection can require a regime engaged on counters only its
    * own calls can advance (the zero-cycle catalog row, the routing
    * specs). No process-global copy exists. */
  final class RegimeEvidence {
    /** Capped-CSR runs actually SERVED (every gate passed) — specs assert
      * the forced regime engaged instead of silently falling back. */
    val cappedCsrServed = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Of the served capped-CSR runs, those whose subgraph carried a
      * negative PRECEDES Δacum (non-monotone feed) and therefore ran the
      * label-correcting SPFA fixpoint instead of settle-once Dijkstra. */
    val cappedCsrNegativeServed =
      new java.util.concurrent.atomic.AtomicLong(0L)
    /** ACYCLIC pred re-resolutions served ([[TransitSssp!.resolveStateAcyclic]]):
      * a PredCycleException fired and the retry routed. */
    val acyclicResolveServed = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Sparse tails that outlived [[TransitSssp.tailLazyRounds]] and built
      * the sorted probe caches — the evidence a keep-or-delete A/B of the
      * batch-pruned probes reads. */
    val tailCacheBuilds = new java.util.concurrent.atomic.AtomicLong(0L)
    /** Nanos spent building capped-bucket state (CHANGE slice + position
      * pin + driver CSR) — the ONE-TIME component of a routing call's
      * wall, memoized per bucket; TimeScale subtracts it to score the pure
      * routing component. */
    val cappedBuildNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** Largest frontier key list the tail turns into a chunked-In
    * batch-pruning predicate; above it the probe falls back to a full
    * scan + broadcast join (the r11 shape). The per-ROW cost of the
    * predicate is keys×rows-surviving int compares, so the cap bounds
    * the worst case where pruning skips nothing — measured at 3×, a
    * ~1600-key chunked-In cost 20–47 s/round against a scan the
    * fallback shape does in 2–4 s. */
  private[graft] val tailPruneMaxKeys: Int = 256

  /** Cached-batch row target for the tail's sorted probe caches. At the
    * session default (10000) a batch spans ~90 trips at 3× Modena, so a
    * few-hundred-trip frontier matches EVERY batch and pruning buys
    * nothing; at ~1024 a batch spans ~1 trip at 30×+ and the same
    * frontier skips >95 % of batches. Applied only to the two
    * tail-local caches (the conf is captured per-relation at persist
    * time and restored immediately). */
  private[graft] val tailPruneBatchSize: Int = 1024

  /** Specs construct instances with true to exercise the pruned-probe
    * path on fixture-scale graphs where the granularity gate
    * (rows/trip ≥ batch/4) would otherwise disable it. */
  private[graft] val tailPruneForce: Boolean = false

  /** Tail rounds to run PLAIN (pipelined probes against the raw frozen
    * base, zero setup) before building the sorted probe caches. A
    * horizon-capped route often dribbles only 2-3 tail rounds, where the
    * ~10 s of setup can never pay for itself
    * (measured at the 30× center pair: 17.9 s tail with eager setup vs
    * 11.4 s for the r11 shape; at 10× capped the setup landed at round
    * 3 of an 8-round dying dribble — pure overhead). Long tails — the
    * shapes the machinery exists for — run 17–23 rounds at 30×/100×
    * and amortize it many times over, so the gate sits at 12 — only a
    * genuinely long dribble pays the builds (a 10× capped pair-2 A/B:
    * 80.5 s at gate 3, 63.0 at 6, vs the 52.2 s r11 control; the
    * machinery was pure overhead on every ≤14-round tail measured).
    * Specs pass 0 per instance to force the caches onto fixture graphs. */
  private[graft] val tailLazyRounds: Int = 12

  /** Membership predicate that SURVIVES cached-batch stat pruning.
    * Spark's SimpleMetricsCachedBatchSerializer.buildFilter prunes
    * in-memory-cache batches for In(attr, literals) / And / Or /
    * comparisons — but NOT for InSet, and the optimizer rewrites In to
    * InSet above spark.sql.optimizer.inSetConversionThreshold (default
    * 10). Chunking the list into ≤10-literal Ins OR'd together keeps
    * every chunk below that threshold, so a probe against a SORTED
    * cached copy skips every batch whose min/max range misses all keys —
    * O(matched batches) per probe instead of O(frame). Keys are the
    * INT hash buckets of [[tbCol]], not the trip strings: int equality
    * keeps the row-level evaluation cheap and the generated code
    * compact, and a hash collision only lets extra rows through to the
    * exact join behind the filter. */
  private[graph] def isinPruned(c: Column, vals: Seq[Any]): Column = {
    // Chunk at min(10, inSetConversionThreshold): a session configured
    // below the default 10 would rewrite 10-literal Ins to InSet, which
    // the cached-batch stat filter ignores — silently disabling pruning
    // (r12 ADVICE). OptimizeIn converts when size > threshold, so
    // chunks of exactly the threshold stay In.
    val thresh = org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.optimizer.inSetConversionThreshold", "10").toInt
    val chunk = math.max(1, math.min(10, thresh))
    vals.grouped(chunk).map(g => c.isin(g: _*)).reduce(_ || _)
  }

  /** Clock-capped runs build a RUN-SCOPED CHANGE slice (edges whose BOTH
    * endpoints depart within the cap) directly from the projection's edge
    * list via broadcast position joins, instead of forcing the full
    * uncapped slice pin — at the 100× point the uncapped pin is 141 s of
    * one-time cost and every round then streams its 61M rows to meet a
    * frontier that can only touch the capped ~3 % (r13 diagnosis). The gate bounds the capped position dimension the
    * build broadcasts (two broadcasts of ~50 B/row live at once); above
    * it the run falls back to the shared uncapped pin — the status-quo
    * plan, never a wrong one. */
  private[graft] val cappedSliceMaxRows: Long = 2L * 1024L * 1024L

  /** Byte companion to the row gate above (r13 ADVICE): explicit
    * broadcast() bypasses autoBroadcastJoinThreshold, and the cost is
    * BYTES — feeds with long string trip ids can blow well past the
    * ~50 B/row the 2M default assumed. The build measures the payload
    * (fixed-width columns + the trip key's actual lengths) in the same
    * agg that counts the rows; either gate failing keeps the shared
    * uncapped pin. The 128 MB default assumes a driver with ≥ ~4 GB
    * headroom for the two simultaneous position broadcasts. */
  private[graft] val cappedSliceMaxBytes: Long = 128L * 1024L * 1024L

  /** Edge budget for the clock-capped DRIVER-CSR regime (r14): when a
    * capped run's horizon-bounded subgraph — capped positions (one
    * PRECEDES edge each, less trip tails) plus the capped CHANGE slice —
    * fits this many edges, routing collects it into the proven in-heap
    * CSR (ShortestPaths' labelled search) and the whole multi-round
    * distributed relaxation becomes ns/edge driver work. This is the
    * scale lever for CADENCE-bounded feeds: a hub's improvement chains
    * advance one CHANGE depth per Spark round through its ~500-deep
    * temporal trip sequence (222 rounds × ~1.4 s scheduling floor at
    * r13's hub point), but its capped subgraph is only ~683k positions /
    * ~2.7M edges — driver-trivial. Budget arithmetic: CSR arrays are
    * ~12 B/vertex + 12 B/edge (≤ ~90 MB at the default) and the one-time
    * edge collect streams ~60 B/row tuples — the same driver posture as
    * the uncapped local regime's 2M gate, deliberately wider because the
    * capped subgraph is a horizon's share of the feed, not the whole
    * projection. 0 disables the regime (specs pin the distributed capped
    * path against it). */
  private[graft] val cappedCsrMaxEdges: Long = 6L * 1024L * 1024L

  /** Node-count floor below which capped runs keep the shared uncapped
    * pin: on fixture/Modena-1× feeds the whole-day pin costs ~1-4 s once
    * and per-round scans are already sub-second, so a per-call count job
    * plus two slice pins is pure overhead there (the same shape as the
    * r12 tailLazyRounds lesson — heavy machinery only where measurement
    * says it pays). Specs force the capped path at fixture scale by
    * zeroing this. */
  private[graft] val cappedSliceMinNodes: Long = 1L * 1000L * 1000L

  /** Capped slices are memoized per clock-cap BUCKET (cap rounded UP to
    * this granularity — a superset slice is exactly as correct as the
    * uncapped pin, which is the ultimate superset): a multi-pair harness
    * issues calls whose cap anchors differ by minutes, and padding lets
    * them share one slice instead of rebuilding per call. */
  private[graft] val cappedSlicePadSecs: Long = 3600L

  /** Serializes the tail-cache build's set/persist/restore of the shared
    * session conf `spark.sql.inMemoryColumnarStorage.batchSize`: two
    * concurrent routing calls on one engine (a supported pattern) could
    * otherwise interleave the pairs and leave the session pinned at the
    * tiny tail batch size (r12 ADVICE). Coarse JVM-global lock — the
    * build is rare (gated at tailLazyRounds) and seconds-long. */
  private[graph] val cacheBuildLock = new Object

  /** Deterministic int bucket of a trip id — the sort/prune key of the
    * tail's cached probe copies. 2^30 buckets ≈ collision-free at any
    * plausible trip count; collisions are correctness-neutral (the
    * exact equi-join runs behind the filter). */
  private[graph] def tbCol(tripCol: Column): Column =
    pmod(xxhash64(tripCol), lit(1 << 30)).cast("int")

  /** Row-count ceiling below which a static pin is re-read as ONE task.
    *
    * The pinned frames lay out at the session's shuffle-partition count so
    * per-round joins stay Exchange-free at scale — but every round's map
    * stage over a pin launches that many tasks, and on a fixture-scale
    * graph (tens of rows) that is numShufflePartitions near-empty task
    * quanta per join per round, the dominant cost of the forced-regime
    * catalog rows (measured r21: shuffle.partitions 32→4 alone moved
    * gtfs_routing_zero_cycle 8.3→6.0 s / gtfs_routing_distributed
    * 5.6→4.7 s, converge-phase tasks 831→147 — pure task-launch overhead,
    * guide §2.2 "fewer, larger tasks"). A pin at or under this bound is
    * wrapped in `coalesce(1)` AFTER the checkpoint (narrow, no extra job,
    * blocks unchanged): CoalesceExec(1) reports SinglePartition, which
    * satisfies every join distribution, so correctness claims are never
    * attached — only removed (the degrade-to-correct direction of the
    * rePin guard). Real deployments never hit the bound (a 4096-row
    * transit day is not a workload), so scale behavior — layouts, claims,
    * Exchange-freeness — is byte-identical to before. */
  private[graft] val TinyPinRows = 4096L

  /** Apply the [[TinyPinRows]] rule to a just-built pin whose exact row
    * count the caller observed on the checkpoint job itself. */
  private[graft] def tinyCoalesce(pinned: DataFrame, rows: Long): DataFrame =
    if (rows >= 0 && rows <= TinyPinRows) pinned.coalesce(1) else pinned

  /** Eager local checkpoint, stored SERIALIZED (MEMORY_AND_DISK_SER) —
    * grids, round outputs and static pins alike. A measured decision: the
    * ~600 MB/round deserialized grids drove GC spikes that inflated
    * individual 10×-Modena rounds up to 8× (12-54 s rounds amid 5 s
    * neighbors); serialized runs capped the spike at ~2.5× (COVERAGE.md
    * distributed section), and deserializing only the tail base or the
    * static pins showed no repeatable win. The result is rewrapped
    * WITHOUT origin statistics (CheckpointBridge.flattenStats): each
    * round's plan joins the grid with grid-derived candidates, so the
    * size-only estimator's exponent DOUBLES per checkpointed round — at
    * 30× Modena (flood + long sparse tail ≈ 32 rounds) the BigInt stats
    * products first dominate driver time (measured 41 → 165 → 895 s
    * "rounds" that were pure planning) and then overflow BigInteger
    * inside Dataset.localCheckpoint's stats rewrite. Flattening keeps
    * every round's estimate depth-bounded; in-loop join shapes are hint-
    * or partitioning-driven (broadcast() on the sparse frontier, pinned
    * SMJ elsewhere) and AQE re-plans from actual sizes, so no plan choice
    * regresses. */
  private[graph] def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.CheckpointBridge.flattenStats(
      df.localCheckpoint(true,
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** One-shot convenience over [[TransitSssp]] — for repeated calls against
    * one projection hold an instance (the per-projection Sssp handle does),
    * so the static trip-prefix and CHANGE frames are pinned once, not per
    * routing call. */
  def run(nodes: DataFrame, changeEdges: DataFrame, sources: Set[Long],
      maxIterations: Int = 1000): DataFrame =
    new TransitSssp(nodes, changeEdges).run(sources, maxIterations)
}

/** See the companion's scaladoc above for the algorithm. Instances hold the
  * call-invariant state: the per-trip ride-cost prefix and the CHANGE edge
  * slice, both checkpointed lazily on first use and shared by every run.
  *
  * The gates specs force onto fixture-scale feeds are PER-INSTANCE
  * constructor parameters defaulting to the companion's production
  * constants (r18, r17 verdict #2 — no process-global mutable state).
  * Specs and the catalog row pass values here; nothing mutates after
  * construction. */
final class TransitSssp(nodes: DataFrame, changeEdges: DataFrame,
    /** Edge budget for the clock-capped driver-CSR regime; 0 disables it
      * (companion val scaladoc for the budget arithmetic). */
    cappedCsrMaxEdges: Long = TransitSssp.cappedCsrMaxEdges,
    /** Node-count floor below which capped runs keep the shared uncapped
      * pin; specs force the capped path at fixture scale by passing 0. */
    cappedSliceMinNodes: Long = TransitSssp.cappedSliceMinNodes,
    /** Clock-cap bucket granularity of the memoized capped slices. */
    cappedSlicePadSecs: Long = TransitSssp.cappedSlicePadSecs,
    /** true bypasses the prune granularity gate (spec hook). */
    tailPruneForce: Boolean = TransitSssp.tailPruneForce,
    /** Plain tail rounds before the probe caches build; specs pass 0 to
      * force the build onto fixture graphs. */
    tailLazyRounds: Int = TransitSssp.tailLazyRounds,
    /** Regime evidence this instance bumps (companion class scaladoc).
      * Callers that need to REQUIRE a regime engaged pass and read their
      * own instance; the default keeps an unshared one. */
    val evidence: TransitSssp.RegimeEvidence = new TransitSssp.RegimeEvidence) {
  import TransitSssp.ckpt

  private val spark = nodes.sparkSession
  private val bridge = org.apache.spark.sql.graftbridge.CheckpointBridge
  /** Shuffle-partition count every pinned frame targets; rePin re-attaches
    * the layout metadata AQE strips from checkpoints (see
    * CheckpointBridge.rePin — count-guarded, so coalesced fixture-scale
    * frames safely stay unpinned). */
  private val nPart = spark.sessionState.conf.numShufflePartitions

  private val wTrip = Window.partitionBy("trip_id").orderBy("stop_sequence")
  private val wSrcTrip =
    Window.partitionBy("src", "trip_id").orderBy("stop_sequence")
  private val pref = wSrcTrip.rowsBetween(Window.unboundedPreceding, -1)
  /** Ride closure in rel space: rel after riding from any earlier same-trip
    * row — transitively complete in one window pass (pure prefix-min; the
    * A(u) offsets are already folded out of the representation). */
  private val rideCol = least(col("dist"), min(col("dist")).over(pref))

  // Static per-trip ride-cost prefix: A(first) = 0,
  // A(u) = A(u−1) + (arr(u) − dep(u−1)) — so chain cost v→u = A(u) − A(v)
  // equals the sum of the PRECEDES hop weights including intermediate
  // dwells. Checkpointed once per projection; every call reads the pins.
  @volatile private var preparedForced = false
  @volatile private var changeForced = false

  /** Row count of the [[prepared]] pin, observed ON the pin's own
    * checkpoint job (the r15 changeRowCount pattern) — feeds [[nodeCount]]
    * without the separate count() job the lazy val used to pay, and the
    * [[TransitSssp.TinyPinRows]] fixture gate. −1 until forced. */
  @volatile private[graft] var preparedRowCount: Long = -1L

  private[graft] lazy val prepared = {
    val obs = org.apache.spark.sql.Observation(
      s"prefix-pin-rows-${TransitSssp.runSeq.incrementAndGet()}")
    val p = nodes
      .select(col("id"), col("trip_id"), col("stop_sequence"),
        col("arr_secs"), col("dep_secs"))
      .withColumn("hop_w",
        (col("arr_secs") - lag("dep_secs", 1).over(wTrip)).cast("double"))
      .withColumn("acum", coalesce(
        sum("hop_w").over(wTrip.rowsBetween(Window.unboundedPreceding, 0)),
        lit(0.0)))
      // dep_secs stays on the pin so a clock-capped run can drop
      // beyond-horizon rows from the grid at construction (see staged)
      .select(col("id"), col("trip_id"), col("stop_sequence"), col("acum"),
        col("dep_secs"))
      // the count observation rides the checkpoint write's own pass
      // (see preparedRowCount)
      .observe(obs, count(lit(1)).as("rows"))
      // by-construction pin (r12): the helper itself lays the frame out
      // on hash(trip_id) before checkpointing, so the attached claim can
      // never diverge from the data (one extra one-time Exchange per
      // projection — the window above already left hash(trip_id), but
      // the explicit repartition is what makes the claim verifiable).
      // r13: the (trip_id, stop_sequence) SORT claim (also arranged by
      // the helper, so the r11 induction hazard does not apply) lets
      // every position-keyed SMJ against the prefix — Staged.distances,
      // the resolution joins, the capped-slice acum lookups — skip a
      // full prefix-side sort per call (25M rows at the 100× point).
      .transform(bridge.pinnedCheckpoint(_, nPart, Seq("trip_id"),
        Seq("trip_id", "stop_sequence"), ckpt))
    preparedRowCount = obs.get("rows").asInstanceOf[Long]
    preparedForced = true
    TransitSssp.tinyCoalesce(p, preparedRowCount)
  }

  /** Node count, observed on the pinned prefix's own checkpoint job —
    * sizes the sparse-tail switch threshold. */
  private lazy val nodeCount: Long = { prepared; preparedRowCount }

  /** True when the caller handed POSITION-ENRICHED CHANGE edges (the
    * projection carries s/d positions, w_rel, and d_acum at generation —
    * TimeExpandedGraph.build, r14): the whole-day slice pin below is then
    * one layout shuffle + write, no position joins. Raw 5-column edge
    * lists (spec-built graphs, external callers) keep the legacy join
    * build — both paths are parity-pinned by TransitSsspSpec. */
  private val enrichedEdges =
    Seq("s_trip", "s_seq", "d_trip", "d_seq", "w_rel", "d_acum")
      .forall(changeEdges.columns.contains)

  // CHANGE slice pinned once — iterations must not re-derive it from the
  // projected union per round. Each edge carries BOTH endpoints'
  // (trip_id, stop_sequence) positions — every in-loop join is positional
  // (the grid rows carry no ids) — plus the endpoint ids for predecessor
  // output, and the pre-folded rel-space weight
  // w_rel = A(src) + w − A(dst) (integer-valued, so fixpoint equalities
  // stay exact). Pinned REPARTITIONED on hash(s_trip) at the session's
  // shuffle-partition count — the same partitioning family the grid's
  // window Exchange produces — and sorted (s_trip, s_seq), so the
  // per-round frontier→edge join moves and sorts only the frontier:
  // both sides satisfy the join's distribution on the trip key, and the
  // slice's pinned sort already matches the SMJ order.
  /** Row count of the [[change]] pin, observed ON the pin's own
    * checkpoint job (r15, verdict #5): at the 100× point a separate
    * count() re-scans the 61M-row checkpoint for +25 % of the pin's
    * wall — the Observation rides the write for free. −1 until the pin
    * is forced. */
  @volatile private[graft] var changeRowCount: Long = -1L

  private[graph] lazy val change = {
    val n = spark.sessionState.conf.numShufflePartitions
    val obs = org.apache.spark.sql.Observation(
      s"change-pin-rows-${TransitSssp.runSeq.incrementAndGet()}")
    val c = (if (enrichedEdges)
      // r13 verdict #2: the legacy build's two 25M-row-side position
      // joins + three edge-table shuffles were 141–187 s of one-time
      // cost at the 100× point; the enriched projection makes the pin
      // exactly the required layout Exchange + sort + write.
      changeEdges.select(col("source").as("e_src"), col("target").as("e_dst"),
        col("s_trip"), col("s_seq"), col("d_trip"), col("d_seq"),
        col("w_rel"), col("d_acum"))
    else {
      val srcPos = prepared.select(col("id").as("e_src"),
        col("trip_id").as("s_trip"), col("stop_sequence").as("s_seq"),
        col("acum").as("s_acum"))
      val tgtPos = prepared.select(col("id").as("e_dst"),
        col("trip_id").as("d_trip"), col("stop_sequence").as("d_seq"),
        col("acum").as("d_acum"))
      changeEdges.select(col("source").as("e_src"),
        col("target").as("e_dst"), col("waiting_time").cast("double").as("w"))
        .join(tgtPos, Seq("e_dst"))
        .join(srcPos, Seq("e_src"))
        .select(col("e_src"), col("e_dst"), col("s_trip"), col("s_seq"),
          col("d_trip"), col("d_seq"),
          (col("s_acum") + col("w") - col("d_acum")).as("w_rel"),
          // d_acum rides on the slice (+8 B/row) so a capped run can test a
          // candidate's ABSOLUTE cost (rel + d_acum) without a second join
          col("d_acum"))
    })
      // the count observation rides the checkpoint write's own pass —
      // see changeRowCount (the observe node sits under the layout
      // Exchange, so the pinned plan itself is unchanged)
      .observe(obs, count(lit(1)).as("rows"))
      .transform(bridge.pinnedCheckpoint(_, n, Seq("s_trip"),
        Seq("s_trip", "s_seq"), ckpt))
    changeRowCount = obs.get("rows").asInstanceOf[Long]
    changeForced = true
    TransitSssp.tinyCoalesce(c, changeRowCount)
  }

  /** A run's horizon-bounded static frames: the CHANGE slice every round
    * joins, and (when capped) the matching position dimension —
    * [[Staged.distances]] restores ids/absolute distances against `pos`
    * instead of streaming the whole-day prefix (750k vs 25M rows at the
    * 100× point). `pos` is None for uncapped runs and gate-exceeded
    * buckets (callers fall back to [[prepared]]); `nPos` counts the
    * capped position rows (−1 when `pos` is None). */
  private case class RunSlices(slice: DataFrame, pos: Option[DataFrame],
      nPos: Long = -1L)

  /** Per-cap-bucket memo cell. The ConcurrentHashMap's computeIfAbsent
    * only CONSTRUCTS these (cheap), so the seconds of Spark work behind
    * `slices`/`csr` run outside the map's bin lock (r13 ADVICE:
    * concurrent routing calls on different buckets that hash to the same
    * bin no longer serialize behind an unrelated build); same-bucket
    * callers still share one build through the lazy val's own monitor. */
  private final class CappedBucket(bucket: Long) {
    @volatile private[TransitSssp] var slicesForced = false
    lazy val slices: RunSlices = {
      val r = buildSlices(bucket)
      slicesForced = true
      r
    }
    /** Driver-CSR image of the padded-capped subgraph (see
      * [[buildCappedCsr]]); None when the slice gates fell back to the
      * shared pin or the edge budget is exceeded. Plain driver arrays —
      * no release path; dropped with the bucket map. */
    lazy val csr: Option[ShortestPaths.Csr] =
      slices.pos.flatMap(p => buildCappedCsr(slices.slice,
        p, slices.nPos))
  }

  /** Memoized clock-capped run frames, keyed by cap bucket (see
    * [[TransitSssp.cappedSlicePadSecs]]). Values are pinned checkpoints
    * living for the instance's lifetime (released in [[releasePins]]);
    * a bucket whose capped prefix exceeds the broadcast gates memoizes
    * the shared uncapped [[change]] pin instead.
    *
    * LIFETIME BOUND for long-lived services (r15 audit): the key space is
    * bounded BY CONSTRUCTION, not by eviction — a cap bucket is
    * ceil(clockCap / pad), clock caps are event clocks within the service
    * day plus the query horizon (GTFS past-midnight rows put the practical
    * ceiling near 48 h), so at the default 1 h pad an instance can
    * materialize at most ~48 buckets over ANY number of routing calls
    * (TransitSsspSpec pins the sharing: same-pad caps hit one bucket).
    * Worst-case driver residency is therefore ~48 × the per-bucket CSR
    * budget ([[TransitSssp.cappedCsrMaxEdges]], ~90 MB) — large but
    * bounded and knob-controlled (shrink the pad multiplies buckets,
    * shrink the budgets caps each one). Eviction was considered and
    * rejected: a concurrent routing call may be mid-iteration over an
    * evicted bucket's slice pin, and unpersisting a localCheckpoint under
    * a running query fails the query (lineage is truncated) — a
    * correctness hazard to save memory that construction already bounds.
    * Services that want a hard floor call [[releasePins]] between runs. */
  private val cappedSlices =
    new java.util.concurrent.ConcurrentHashMap[Long, CappedBucket]()

  /** Spec hook: materialized cap-bucket count. */
  private[graft] def cappedBucketCount: Int = cappedSlices.size()

  private def bucketOf(clockCap: Double): Long = {
    val pad = math.max(1L, cappedSlicePadSecs)
    math.ceil(clockCap / pad).toLong
  }

  private def bucketCell(clockCap: Double): CappedBucket =
    cappedSlices.computeIfAbsent(bucketOf(clockCap), b => new CappedBucket(b))

  /** The CHANGE slice a run with this clock cap iterates over. Uncapped
    * runs use the shared whole-day pin; capped runs (the production
    * routing path) get a horizon-bounded slice built WITHOUT forcing
    * that pin: the capped position dimension (id, trip, seq, acum — the
    * rows the capped GRID itself keeps) broadcasts against the raw edge
    * list, so the build is one scan of the projection's cached edges
    * plus two broadcast hash joins and a slice-sized pin write.
    *
    * Exactness: the capped grid keeps exactly the rows with
    * dep_secs ≤ cap, so (a) an edge whose SOURCE row is beyond the cap
    * can never match the frontier (frontier ⊆ grid), and (b) a candidate
    * to a beyond-cap TARGET dies in the grid-side left join today —
    * dropping both classes from the slice changes no merge, no
    * convergence test, and no predecessor fixpoint (resolution joins
    * reached × reached rows, both within the grid). A PADDED cap builds
    * a superset slice, which is correct for the same reason the
    * uncapped pin is. */
  private def selectRun(clockCap: Double): RunSlices =
    if (clockCap.isPosInfinity ||
        nodeCount < cappedSliceMinNodes) RunSlices(change, None)
    else bucketCell(clockCap).slices

  private def buildSlices(bucket: Long): RunSlices = {
    val pad = math.max(1L, cappedSlicePadSecs)
    val padCap = (bucket * pad).toDouble
    val t0 = System.nanoTime()
    val capped = prepared.filter(col("dep_secs") <= padCap)
    // one job answers both broadcast gates: row count and the measured
    // byte payload (fixed-width columns + the trip key's actual lengths)
    val stats = capped.agg(count(lit(1)),
      coalesce(sum(length(col("trip_id")).cast("long")), lit(0L))).head()
    val nCapped = stats.getLong(0)
    val estBytes = nCapped * 40L + stats.getLong(1)
    if (nCapped > TransitSssp.cappedSliceMaxRows ||
        estBytes > TransitSssp.cappedSliceMaxBytes) {
      RunSlices(change, None)
    } else {
      // pin the capped position dimension first: the two broadcasts
      // below and every distances/resolution consumer then read the
      // slice-sized pin instead of re-filtering the whole-day prefix.
      // nCapped is already measured (the gate above), so a fixture-scale
      // bucket lays out at ONE partition directly (TinyPinRows scaladoc)
      // instead of paying per-round numShufflePartitions-task scans.
      val pinN = if (nCapped <= TransitSssp.TinyPinRows) 1 else nPart
      val posPin = capped.transform(bridge.pinnedCheckpoint(_, pinN,
        Seq("trip_id"), Seq("trip_id", "stop_sequence"),
        ckpt))
      val c = (if (enrichedEdges)
        // enriched edges already carry positions/w_rel — the cap
        // restriction is two broadcast SEMI-joins on bare id sets
        // (8 B/row, ~5× under what the byte gate budgeted for)
        changeEdges.select(col("source").as("e_src"),
          col("target").as("e_dst"), col("s_trip"), col("s_seq"),
          col("d_trip"), col("d_seq"), col("w_rel"), col("d_acum"))
          .join(broadcast(posPin.select(col("id").as("e_dst"))),
            Seq("e_dst"), "left_semi")
          .join(broadcast(posPin.select(col("id").as("e_src"))),
            Seq("e_src"), "left_semi")
      else {
        val srcPos = posPin.select(col("id").as("e_src"),
          col("trip_id").as("s_trip"), col("stop_sequence").as("s_seq"),
          col("acum").as("s_acum"))
        val tgtPos = posPin.select(col("id").as("e_dst"),
          col("trip_id").as("d_trip"), col("stop_sequence").as("d_seq"),
          col("acum").as("d_acum"))
        changeEdges.select(col("source").as("e_src"),
          col("target").as("e_dst"),
          col("waiting_time").cast("double").as("w"))
          .join(broadcast(tgtPos), Seq("e_dst"))
          .join(broadcast(srcPos), Seq("e_src"))
          .select(col("e_src"), col("e_dst"), col("s_trip"), col("s_seq"),
            col("d_trip"), col("d_seq"),
            (col("s_acum") + col("w") - col("d_acum")).as("w_rel"),
            col("d_acum"))
      })
        .transform(bridge.pinnedCheckpoint(_, pinN, Seq("s_trip"),
          Seq("s_trip", "s_seq"), ckpt))
      evidence.cappedBuildNanos.addAndGet(System.nanoTime() - t0)
      RunSlices(c, Some(posPin), nCapped)
    }
  }

  /** Absolute-space edge image of the PADDED-capped subgraph, collected
    * into the in-heap CSR when it fits [[TransitSssp.cappedCsrMaxEdges]].
    *
    * Derivation — both halves read the bucket's already-pinned frames:
    *  - PRECEDES: consecutive KEPT rows of each trip in the position pin,
    *    weight = Δacum. On a clean (dep-monotone) feed these are exactly
    *    the projection's within-trip edges; if a cap ever drops an
    *    intermediate row (non-monotone feed), the synthesized edge's
    *    Δacum telescopes the chain cost through the dropped rows — the
    *    SAME semantics the distributed branch's prefix-min window applies
    *    over the capped grid, so regime parity is preserved by
    *    construction rather than by feed hygiene.
    *  - CHANGE: the capped slice's edges restored to absolute weight
    *    w = w_rel − s_acum + d_acum; s_acum arrives by a positional join
    *    against the pin (both sides share the pinned hash(s_trip) layout
    *    and (s_trip, s_seq) sort — Exchange-free).
    *
    * Exactness of routing on this subgraph: event clocks only move
    * forward along time-expanded paths, so every vertex on an optimal
    * path to a within-cap target is itself within cap — the capped
    * subgraph contains all such paths whole, and Dijkstra over it returns
    * the same distances and (under the shared canonical tie-break) the
    * same predecessor chains as the full graph for every within-cap
    * vertex. This is the same argument the clock-capped GRID rests on
    * (see [[staged]]); the padded bucket is a superset, correct a
    * fortiori. The argument has holes: a CHANGE → CHANGE step (board a
    * stoptime and leave it at once) moves the clock backward, and a
    * DEPARTURE cap also drops a stoptime alighted before the cap whose
    * trip dwells past it, which a later CHANGE still needs (the local
    * regime caps on arrival for this reason — RoutingEngine's
    * `capAnchor`; LabelledRoutingSpec pins the distributed loss). */
  private def buildCappedCsr(slice: DataFrame,
      posPin: DataFrame, nPos: Long): Option[ShortestPaths.Csr] = {
    // budget pre-gate on counts the build already knows (positions) or
    // reads off the pinned slice (one cheap count): PRECEDES ≤ nPos.
    val sliceRows = slice.count()
    val est = nPos + sliceRows
    if (est > cappedCsrMaxEdges) return None
    val t0 = System.nanoTime()
    val wT = Window.partitionBy("trip_id").orderBy("stop_sequence")
    val prec = posPin
      .withColumn("nxt", lead("id", 1).over(wT))
      .withColumn("n_acum", lead("acum", 1).over(wT))
      .filter(col("nxt").isNotNull)
      .select(col("id").as("src"), col("nxt").as("dst"),
        (col("n_acum") - col("acum")).as("w"))
    val chg = slice
      .join(posPin.select(col("trip_id").as("s_trip"),
        col("stop_sequence").as("s_seq"), col("acum").as("s_acum")),
        Seq("s_trip", "s_seq"))
      .select(col("e_src").as("src"), col("e_dst").as("dst"),
        (col("w_rel") - col("s_acum") + col("d_acum")).as("w"))
    import spark.implicits._
    val rows = prec.unionByName(chg).as[(Long, Long, Double)].collect()
    // A non-monotone feed (arr(u) < dep(u−1)) yields a negative PRECEDES
    // Δacum, where settle-once Dijkstra is inexact. Such feeds STAY
    // in-heap (r15): the Csr detects the negative weight
    // (hasNegative) and the run dispatches to the exact label-correcting fixpoint
    // (ShortestPaths.spfaCsr, same canonical tie-break, parity
    // spec-pinned against the distributed rounds) instead of paying the
    // 335 s-class hub fallback r14's decline to the distributed rounds
    // cost.
    val csr = ShortestPaths.buildCsr(rows)
    evidence.cappedBuildNanos.addAndGet(System.nanoTime() - t0)
    Some(csr)
  }

  /** Clock-capped driver-CSR routing run (r14 — the hub-cadence lever).
    * Engages when the capped-slice machinery is active for this cap (the
    * node-count floor and both broadcast gates pass) and the subgraph fits
    * the CSR edge budget; None otherwise — the caller keeps the staged
    * distributed flow. The run is ONE labelled multi-source search
    * ([[ShortestPaths.Labels]]; `seeds` in ascending id order with their
    * walk seconds) bounded by `targets`, the same kernel, canonical
    * tie-break and path walk the local regime runs, so regime parity
    * follows from the subgraph-exactness argument on [[buildCappedCsr]].
    * It holds O(vertices) state whatever the seed count. The subgraph is
    * already clock-capped, so the search takes no further cap. */
  private[graft] def runForTargetsCapped(seeds: IndexedSeq[(Long, Double)],
      targets: Set[Long], clockCap: Double): Option[ShortestPaths.Labels] =
    if (clockCap.isPosInfinity || cappedCsrMaxEdges <= 0L ||
        nodeCount < cappedSliceMinNodes) None
    else bucketCell(clockCap).csr.flatMap { g =>
      try {
        val run = ShortestPaths.labels(g, seeds, targets, None)
        evidence.cappedCsrServed.incrementAndGet()
        if (g.hasNegative) evidence.cappedCsrNegativeServed.incrementAndGet()
        Some(run)
      } catch {
        // a reachable negative-total cycle has no fixpoint (corrupt
        // feed; impossible on a time-expanded DAG) — keep the staged
        // distributed flow, whose iteration cap bounds the damage
        case _: ShortestPaths.NegativeCycleException => None
      }
    }

  /** sources: seed vertex ids (dist 0, pred −1). Output matches
    * ShortestPaths.distancesDF: (vertex_id, source_id, dist, pred). */
  def run(sources: Set[Long], maxIterations: Int = 1000): DataFrame = {
    import spark.implicits._
    if (sources.isEmpty)
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("vertex_id", "source_id", "dist", "pred")
    resolveState(converge(sources, maxIterations), sources.toSeq.sorted, change)
  }

  /** Converged-state handle for callers that rank BEFORE they need a path
    * (the routing engine): `distances` is a plain projection of the grid —
    * none of the predecessor-resolution windows/joins run — and
    * `resolve(source)` runs the resolution for ONE chosen source (exact:
    * resolution is per-(src, v) independent, so single-source output equals
    * the all-sources output filtered). `release()` frees the converged grid
    * once every derived frame has been consumed. */
  final class Staged private[TransitSssp] (state: DataFrame,
      sources: Seq[Long], clockCap: Double) {
    /** Checkpoints retained by [[resolveAcyclic]] (the level frame its
      * output plan reads) — released with the run in [[release]]. */
    private val retained =
      new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
    // The grid stores rel distances and no ids; ONE position join against
    // the pinned trip prefix restores both (dist = rel + A, id) — the
    // prefix side is already partitioned/sorted on the join key, so only
    // the reached rows sort. Output-time cost, paid once per routing call
    // instead of 8 B × grid × rounds of checkpoint churn.
    def distances: DataFrame = {
      // capped runs restore ids against the run's capped position pin
      // (exact: every state row is within the capped grid, and the pin
      // holds the same (trip, seq) → (id, acum) rows as the prefix)
      val pos = selectRun(clockCap).pos.getOrElse(prepared)
      state.filter(col("dist").isNotNull)
        .join(pos, Seq("trip_id", "stop_sequence"))
        .select(col("id").as("vertex_id"), col("src").as("source_id"),
          (col("dist") + col("acum")).as("dist"))
    }
    def resolve(source: Long): DataFrame = {
      require(sources.contains(source), s"$source is not a seed of this run")
      // the memoized run slice: a capped run resolves over its own
      // horizon-bounded slice (exact — pred chains of within-cap vertices
      // join reached × reached rows, both inside the capped grid)
      resolveState(state.filter(col("src") === source), Seq(source),
        selectRun(clockCap).slice)
    }
    /** ACYCLIC predecessor re-resolution for one source (r16 — the
      * zero-total-cycle repair in the DISTRIBUTED regime; r15 verdict #3).
      * Same distances as [[resolve]] — only the pred SELECTION differs.
      * Callers invoke it after [[ShortestPaths.PredCycleException]] proves
      * the canonical selection has no tree on this feed; see
      * [[resolveStateAcyclic]] for the construction and proof. */
    def resolveAcyclic(source: Long): DataFrame = {
      require(sources.contains(source), s"$source is not a seed of this run")
      evidence.acyclicResolveServed.incrementAndGet()
      resolveStateAcyclic(state.filter(col("src") === source), source,
        selectRun(clockCap).slice, d => { retained.add(d); () })
    }
    def release(): Unit = {
      val rel =
        org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
      retained.forEach(rel(_))
      retained.clear()
      rel(state)
    }
  }

  /** See [[Staged]]. `sources` must be non-empty.
    *
    * `costCap`: prune candidate merges whose ABSOLUTE cost (rel + A)
    * exceeds the cap. Exact for any consumer that only reads distances
    * ≤ cap: cost is monotone along time-expanded paths (every edge weight
    * is a non-negative elapsed increment), so a beyond-cap candidate can
    * never lie on an optimal path to a within-cap vertex, and the optimal
    * predecessor chain of a within-cap vertex is entirely within cap. The
    * routing engine passes its temporal-horizon bound — the flood then
    * stops at the horizon instead of relaxing the rest of the service day
    * (the 30×-grid measurement: most of the multi-million-row flood and
    * the long change-depth dribble tail arrive after the horizon). The
    * full-table contract (oracle `run`) stays uncapped. */
  /** `clockCap`: additionally drop grid rows whose departure clock exceeds
    * the cap BEFORE iterating. Exact for the same consumers: event times
    * increase monotonically along a time-expanded path, so every stoptime
    * on a path to a target departing before the horizon itself departs
    * before the horizon. This shrinks the GRID (every scan, window,
    * checkpoint, and tail slice), where the cost cap only shrinks the
    * candidate flow — measured the dominant effect at 10×/30×. */
  def staged(sources: Set[Long], maxIterations: Int = 1000,
      costCap: Double = Double.PositiveInfinity,
      clockCap: Double = Double.PositiveInfinity): Staged = {
    require(sources.nonEmpty, "staged() needs at least one seed")
    new Staged(converge(sources, maxIterations, costCap, clockCap),
      sources.toSeq.sorted, clockCap)
  }

  /** Label-correcting iteration to the fixpoint; returns the converged
    * grid (src, trip_id, stop_sequence, dist, fresh) with dist in REL
    * space (dist_abs = dist + A(trip_id, stop_sequence)). */
  private def converge(sources: Set[Long], maxIterations: Int,
      costCap: Double = Double.PositiveInfinity,
      clockCap: Double = Double.PositiveInfinity): DataFrame = {
    import spark.implicits._
    // The iteration STATE is the full (source × stoptime) grid with a
    // nullable dist and a `fresh` flag (dist arrived via a CHANGE merge
    // last round, so this row's own out-edges have not fired yet — seeds
    // start fresh). Carrying the grid itself — instead of a separate
    // reached-set joined back in every round — matters for the plan:
    // localCheckpoint preserves the physical partitioning/ordering, so
    // after the first round the prefix-min window plans with NO Exchange
    // and NO Sort, and the candidate merge (keyed on the grid's own
    // layout — see below) moves only the candidate side. Every iteration
    // runs with the grid pinned in place, flood rounds included.
    val srcDim = sources.toSeq.sorted.toDF("src")
    // Clock-capped grid: beyond-horizon rows never lie on a path to a
    // within-horizon target (event times only move forward), so a capped
    // run excludes them from the ITERATION STATE entirely — the window,
    // the candidate merge (out-of-grid candidate targets die in the left
    // join), every checkpoint, and the sparse-tail slices all shrink to
    // the horizon's share of the service day.
    //
    // When the bucket's position pin exists, it IS the grid base: the run
    // reads the memoized slice-sized pin instead of re-filtering the
    // whole-day prefix per call, and — decisive on feeds that violate the
    // anchor's residual dirty-feed assumption — the distributed grid and
    // the capped CSR then operate on the SAME padded subgraph, so regime
    // parity holds by construction instead of by feed hygiene
    // (GtfsEngineSpec's dirty-feed divergence test pins this). The padded
    // superset is exact for every contractual read (see staged).
    val runSlices = selectRun(clockCap)
    val gridBase =
      if (clockCap.isPosInfinity) prepared
      else runSlices.pos.getOrElse(prepared.filter(col("dep_secs") <= clockCap))
    // Horizon-bounded CHANGE slice for this run (= the shared uncapped
    // pin when no cap): every per-round candidate join and the sparse
    // tail's caches stream this instead of the whole service day.
    val runChange = runSlices.slice
    var state = gridBase.crossJoin(broadcast(srcDim))
      .withColumn("dist", when(col("id") === col("src"), -col("acum")))
      .withColumn("fresh", col("dist").isNotNull)
      .select("src", "trip_id", "stop_sequence", "dist", "fresh")

    // Sparse-tail switch: once a round improves fewer rows than this AND
    // the frontier is DECAYING, remaining rounds run over a trip-slice +
    // small overlay (see the tail loop below) instead of rewriting the
    // full grid. 1/128 of the grid bounds the first sparse slice at ~1 %
    // of a full round's rows (threshold rows × ~25-row trips / grid). The
    // decay condition matters: round 0's improvement count is just the
    // seed handful, BEFORE the flood — switching there would push the
    // entire flood through overlay machinery (measured 2-4× slower than
    // full rounds at 10× Modena); the tail is where improvements are
    // both small and shrinking.
    val sparseThreshold =
      math.max(1024L, nodeCount * sources.size / 128L)
    var it = 0
    var converged = false
    var sparse = false
    var prevImproved = -1L
    while (it < maxIterations && !converged && !sparse) {
      val ride = state.withColumn("rdist", rideCol)
      // Delta frontier: only rows whose value is new since their out-edges
      // last fired can improve a neighbor — ride improvements this round,
      // plus rows merged from candidates last round (`fresh`).
      val changed = ride.filter(col("rdist").isNotNull &&
        (col("fresh") || col("dist").isNull || col("rdist") < col("dist")))
      // Candidate merge keyed on (src, trip_id, stop_sequence) — the
      // target's position, not its id ((trip_id, stop_sequence) is the
      // node's primary key). The GRID side satisfies the merge join's
      // distribution by the subset rule: its checkpoint-preserved
      // partitioning is hash(trip_id) ⊆ the join keys, and its window
      // sort (src, trip_id, stop_sequence) IS the SMJ sort order. Only
      // candMin (frontier-sized) shuffles into the grid's layout — the
      // r9 (src, id) key forced a grid-sized Exchange here AND a second
      // one at the next round's window, the 30–47 s/round dominant cost
      // of a 10×-Modena route (COVERAGE.md distributed section). The
      // frontier→edge join on (s_trip, s_seq) is Exchange-free on BOTH
      // sides (r11): the frontier inherits the grid's hash(trip_id) and
      // the slice is pinned on hash(s_trip) at the same partition count,
      // so only the frontier-sized sort runs.
      val candRaw = changed
        .select(col("src"), col("trip_id"), col("stop_sequence"), col("rdist"))
        .join(runChange, col("trip_id") === col("s_trip") &&
          col("stop_sequence") === col("s_seq"))
      val candMin =
        (if (costCap.isPosInfinity) candRaw
         else candRaw.filter(col("rdist") + col("w_rel") + col("d_acum") <= costCap))
        .groupBy(col("src"), col("d_trip"), col("d_seq"))
        .agg(min(col("rdist") + col("w_rel")).as("cdist"))
        .withColumnRenamed("d_trip", "trip_id")
        .withColumnRenamed("d_seq", "stop_sequence")
      val merged = ride.join(candMin, Seq("src", "trip_id", "stop_sequence"), "left")
        .withColumn("ndist", least(col("rdist"), col("cdist")))
      // The convergence test rides INSIDE the checkpoint job: observe()
      // plants a CollectMetrics node whose aggregate is computed by the
      // same tasks that materialize the grid, so an iteration is ONE Spark
      // job, not checkpoint + a second agg scan over the cached state.
      // The name must be unique across CONCURRENT runs, not just rounds:
      // the observation listener matches by metric name over every query
      // execution in the session, so two simultaneous routing calls both
      // emitting "round-0" could cross-read each other's improvement count
      // and converge early on the wrong run.
      val obs = org.apache.spark.sql.Observation(
        s"transit-sssp-${TransitSssp.runSeq.incrementAndGet()}-round-$it")
      val newState = merged
        .observe(obs, coalesce(sum((col("ndist").isNotNull &&
          (col("dist").isNull || col("ndist") < col("dist"))).cast("long")),
          lit(0L)).as("improved"))
        .select(col("src"), col("trip_id"), col("stop_sequence"),
          col("ndist").as("dist"),
          (col("cdist").isNotNull && (col("rdist").isNull ||
            col("cdist") < col("rdist"))).as("fresh"))
        .transform(ckpt)
      val improved = obs.get("improved").asInstanceOf[Long]
      converged = improved == 0L
      sparse = !converged && improved <= sparseThreshold &&
        prevImproved >= 0L && improved < prevImproved
      prevImproved = improved
      // newState is materialized (eager checkpoint), so the superseded
      // grid's blocks are dead — release them NOW instead of waiting for
      // the ContextCleaner's GC-driven pass. Without this, a 10×-Modena
      // route keeps ~15 superseded ~600 MB grids alive and later rounds
      // slow down under block-store pressure (measured in COVERAGE.md's
      // distributed scale section). Live checkpoint state is now bounded
      // by TWO grids per run regardless of round count.
      org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint(state)
      state = newState
      it += 1
    }
    if (sparse) return sparseTail(state, it, maxIterations, costCap, runChange)
    if (!converged) throw new IllegalStateException(
      s"TransitSssp did not converge in $maxIterations iterations — " +
        "optimal paths deeper than the bound (raise maxIterations)")
    state
  }

  /** Sparse-tail rounds: once the frontier dribbles (late tail of a run —
    * measured 10×-Modena routes spend up to 7 rounds merging a few
    * thousand improvements each, at a full 7.5M-row grid rewrite per
    * round), the grid stops moving ENTIRELY. The last full checkpoint
    * becomes the static `base`; the mutable state is a small OVERLAY of
    * (src, position) → (dist, fresh) rows that differ from base. A round
    * touches only the trips containing a fresh overlay row: it pulls
    * those trips' rows from base (broadcast semi-join — the grid scan is
    * a partition-local in-memory filter, no Exchange), coalesces the
    * overlay in, and runs the SAME ride-window + CHANGE-candidate
    * operators full rounds run, so the semantics are unchanged operator
    * for operator. Ride improvements fire all their effects in-round
    * (window transitivity + candidate join) and enter the overlay
    * non-fresh; candidate improvements enter fresh (their out-edges fire
    * next round). Converged = a round with zero improvements — the same
    * fixpoint test as the full loop, on the same operator. One full-grid
    * merge materializes the final state (replacing N tail-round grid
    * rewrites with one), after which base and overlay are released; the
    * returned frame carries the full-round schema, so every consumer
    * (Staged, resolveState) is oblivious.
    *
    * Overlay merges join on (src, trip_id, stop_sequence) — the grid's
    * primary key in its own partitioning terms — so neither the slice
    * pull, the candidate-target probe, nor the final merge ever
    * re-Exchanges base. All per-round actions run over overlay-sized
    * frames; fixture-scale runs switch to this loop after round 0
    * (threshold floor 1024 rows), so every routing parity spec and the
    * per-round `gtfs_routing_distributed` oracle exercise it.
    *
    * PENDING PIPELINING + BATCH-PRUNED PROBES (r12 — the r11 verdict's
    * top item). The r11 tail paid THREE frame-sized touches per round
    * (base slice pull, full-CHANGE candidate scan, base candidate-target
    * probe) plus a fixed ~3-job scheduling floor, for rounds merging only
    * O(1k) improvements — ≈216 s of a 30× center pair, ≈600 s of the
    * 100× probe. Two attacks:
    *
    * 1. PENDING PIPELINING: a round never probes candidate targets
    *    against base. The cap-filtered, overlay-prefiltered candidate
    *    mins are carried to the NEXT round as a small `pending` frame and
    *    folded into that round's slice — whose trip set includes the
    *    pending targets' trips by construction — where an improving
    *    candidate applies and fires BOTH its ride effects (the prefix-min
    *    window runs after the fold) and its transfer effects (the fold
    *    marks the row changed) in the same round. One base touch per
    *    round instead of two, same one-change-depth-per-round cadence.
    *    Converged = a round whose pending output is EMPTY: every
    *    improvement's effects fire in its own round, so empty pending
    *    means no outstanding work (entry fresh rows are covered because
    *    the first round's slice spans all fresh trips and its forced
    *    merge clears the flags; afterwards rounds never set fresh, so the
    *    frontier is carried entirely by pending).
    * 2. BATCH-PRUNED PROBES (after [[TransitSssp.tailLazyRounds]] plain
    *    rounds — short tails never pay the build): the tail freezes base
    *    and the CHANGE slice, so both are re-materialized ONCE per tail
    *    as SORTED columnar caches (sortWithinPartitions on the existing
    *    pinned hash layouts — no Exchange). Every later probe filters by
    *    the round's frontier trip ids via [[TransitSssp.isinPruned]]
    *    chunked-In predicates, and the in-memory cache's per-batch
    *    min/max stats skip every non-matching batch: a probe reads
    *    O(matched batches), not O(grid). This removes the O(grid) term
    *    from the round floor for the frontier sizes the tail sees (tens
    *    of trips). The r12 30×-uncapped win (216 → 124 s) rests on it.
    *
    * Correctness: both reuse the full round's operators verbatim.
    * Termination: improvements strictly decrease per-position dists
    * over a finite path-cost set; a round with pending but zero
    * improvements and no fresh rows yields an empty changed set, hence
    * empty pending, hence convergence next round. The overlay prefilter
    * only drops candidates whose target's best-KNOWN value is already
    * ≤ the candidate (monotone-safe); pruned probes are storage-level
    * only (the same rows reach the same joins). Pinned by the forced
    * fixture-scale parity specs, cap-parity, both routing oracles, and
    * the cross-regime twin digests. */
  private def sparseTail(base: DataFrame, itStart: Int,
      maxIterations: Int,
      costCap: Double,
      runChange: DataFrame): DataFrame = {
    val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    val posKey = Seq("src", "trip_id", "stop_sequence")
    var ov = base.filter(col("fresh"))
      .select(col("src"), col("trip_id"), col("stop_sequence"),
        col("dist"), col("fresh"))
      .transform(ckpt)
    var it = itStart
    var converged = false
    // entry overlay rows carry the full loop's fresh flags; the first
    // merge (forced) clears them once their effects have fired
    var ovHasFresh = true
    // the previous pipelined round's candidate frame
    // (src, trip_id, stop_sequence, dist) and its backing checkpoint
    var pending: DataFrame = null
    var pendingSrc: DataFrame = null
    // Lazy amortized probe state (attack #2): plain rounds probe the raw
    // frozen base/change; once the tail proves LONG (tailLazyRounds),
    // both are re-materialized as SORTED columnar caches — partition-
    // local sorts on the pinned hash layouts, no Exchange — with the
    // trip's int hash bucket t_b leading the sort and narrow (~1k-row)
    // batches, so a batch's t_b min/max spans ~1 trip at 30×+ scale and
    // chunked-In probes read O(matched batches). Short tails (the common
    // horizon-capped shape) never pay the build.
    var probeBase = base
    var probeChange = runChange
    var pruneEnabled = false
    var cachesReady = false
    def ensureCaches(): Unit = if (!cachesReady) {
      val spark = base.sparkSession
      val batchKey = "spark.sql.inMemoryColumnarStorage.batchSize"
      // Locked: persist() captures the session batchSize at cache
      // REGISTRATION, so the set/persist/restore triple must not
      // interleave with a concurrent call's (r12 ADVICE — two
      // interleaved pairs could leave the session pinned at 1024 and
      // give unrelated caches tiny batches).
      val (bc, cc) = TransitSssp.cacheBuildLock.synchronized {
        val batchPrev = spark.conf.get(batchKey)
        try {
          spark.conf.set(batchKey, TransitSssp.tailPruneBatchSize.toString)
          (base.withColumn("t_b", TransitSssp.tbCol(col("trip_id")))
             .sortWithinPartitions("t_b", "trip_id", "src", "stop_sequence")
             .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
           // the tail's candidate stage never reads the endpoint ids
           // (only post-convergence pred resolution does, off the pinned
           // slice) — dropping them cuts ~20 % of the per-round decode
           runChange.drop("e_src", "e_dst")
             .withColumn("t_b", TransitSssp.tbCol(col("s_trip")))
             .sortWithinPartitions("t_b", "s_trip", "s_seq")
             .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        } finally spark.conf.set(batchKey, batchPrev)
      }
      // one job materializes the base cache and reads both gate inputs
      val stats = bc.agg(count(lit(1)),
        approx_count_distinct(col("trip_id"))).head()
      val baseCount = stats.getLong(0)
      val nTrips = math.max(1L, stats.getLong(1))
      cc.count()
      // Granularity gate: pruning pays only when a batch spans few
      // trips (rows/trip ≥ batch/4 ⟺ ≤ ~4 trips/batch) — below that
      // most batches match any frontier and the predicate is pure
      // row-level overhead (measured 20–47 s/round at 3×). Specs
      // force-enable to pin the pruned path's parity at fixture scale.
      pruneEnabled = tailPruneForce ||
        baseCount / nTrips >= TransitSssp.tailPruneBatchSize / 4
      probeBase = bc; probeChange = cc; cachesReady = true
      evidence.tailCacheBuilds.incrementAndGet()
    }

    def seedPairs: DataFrame = {
      val fresh = ov.filter(col("fresh")).select("src", "trip_id")
      (if (pending == null) fresh
       else fresh.unionByName(pending.select("src", "trip_id"))).distinct()
    }

    // Batch-pruned probe: chunked-In on the cached copy's t_b bucket
    // when pruning is enabled and the key list is small (tail frontiers
    // are tens of trips in the dribble that matters). Above the cap —
    // or below the granularity gate — the probe falls back to the r11
    // full-scan + broadcast-join shape, so it never costs more.
    def prunedScan(cached: DataFrame, keys: Seq[Int]): DataFrame =
      if (pruneEnabled && keys.nonEmpty &&
          keys.size <= TransitSssp.tailPruneMaxKeys)
        cached.filter(TransitSssp.isinPruned(col("t_b"), keys))
      else cached

    // One ride∘change application over curBase ∪ overlay ∪ pend.
    // Candidates never touch base — they are returned as the next
    // round's pending. Returns (nPend, outcome ckpt); outcome carries
    // improvement rows (pend=false) and next-pending rows (pend=true);
    // the CALLER owns its release.
    def round(curBase: DataFrame, candEdges: DataFrame,
        pend: DataFrame, forceMerge: Boolean): (Long, DataFrame) = {
      val cur0 = curBase
        .join(ov.select(col("src"), col("trip_id"), col("stop_sequence"),
          col("dist").as("o_dist"), col("fresh").as("o_fresh")), posKey, "left")
        .select(col("src"), col("trip_id"), col("stop_sequence"),
          coalesce(col("o_dist"), col("dist")).as("dist"),
          coalesce(col("o_fresh"), col("fresh")).as("fresh"))
      // fold carried candidates in (attack #1): an improving pending
      // value becomes the row's dist and marks it changed, so its ride
      // AND transfer effects fire in THIS round; applied rows enter
      // the overlay non-fresh
      val cur =
        if (pend == null) cur0.withColumn("p_app", lit(false))
        else cur0
          .join(broadcast(pend.select(col("src"), col("trip_id"),
            col("stop_sequence"), col("dist").as("p_dist"))), posKey, "left")
          .withColumn("p_app", col("p_dist").isNotNull &&
            (col("dist").isNull || col("p_dist") < col("dist")))
          .select(col("src"), col("trip_id"), col("stop_sequence"),
            when(col("p_app"), col("p_dist")).otherwise(col("dist")).as("dist"),
            (col("fresh") || col("p_app")).as("fresh"), col("p_app"))
      // The slice is overlay-sized — pin it so the consumers below
      // don't each re-run the scan + window. The changed-row count rides
      // on the same job: a terminal round (no fresh rows, no applying
      // pendings, no ride improvements — the shape pipelining's
      // pending-empty convergence test produces one round after the last
      // real improvement) short-circuits before paying the candidate
      // join + output checkpoint + overlay merge, halving the tax of
      // the convergence round at every scale.
      val chObs = org.apache.spark.sql.Observation(
        s"transit-tail-ch-${TransitSssp.runSeq.incrementAndGet()}")
      val changedPred = col("rdist").isNotNull &&
        (col("fresh") || col("dist").isNull || col("rdist") < col("dist"))
      val ride = cur.withColumn("rdist", rideCol)
        .observe(chObs, coalesce(sum(changedPred.cast("long")), lit(0L))
          .as("nch"))
        .transform(ckpt)
      if (chObs.get("nch").asInstanceOf[Long] == 0L) {
        rel(ride)
        return (0L, curBase.limit(0))
      }
      val changed = ride.filter(changedPred)
      // broadcast the FRONTIER side: candEdges streams once (batch-
      // pruned when the caches are built) instead of shuffling to meet a
      // few hundred frontier rows
      val candRaw = candEdges
        .join(broadcast(changed.select(col("src"), col("trip_id"),
          col("stop_sequence"), col("rdist"))),
          col("trip_id") === col("s_trip") &&
            col("stop_sequence") === col("s_seq"))
      val candMin =
        (if (costCap.isPosInfinity) candRaw
         else candRaw.filter(col("rdist") + col("w_rel") + col("d_acum") <= costCap))
        .groupBy(col("src"), col("d_trip"), col("d_seq"))
        .agg(min(col("rdist") + col("w_rel")).as("cdist"))
        .withColumnRenamed("d_trip", "trip_id")
        .withColumnRenamed("d_seq", "stop_sequence")
      val rideImp = ride
        .filter(col("rdist").isNotNull &&
          (col("dist").isNull || col("rdist") < col("dist")))
        .select(col("src"), col("trip_id"), col("stop_sequence"),
          col("rdist").as("dist"), lit(false).as("fresh"))
      val imps =
        if (pend == null) rideImp
        else rideImp.unionByName(ride.filter(col("p_app"))
          .select(col("src"), col("trip_id"), col("stop_sequence"),
            col("dist"), lit(false).as("fresh")))
      // overlay prefilter: candidates provably not improving the
      // best-KNOWN value are dropped; the rest carry to the next round's
      // fold (targets absent from ov may still lose to their base value
      // there — the fold is the exact check)
      val tagged = imps.withColumn("pend", lit(false)).unionByName(
        candMin
          .join(broadcast(ov.select(col("src"), col("trip_id"),
            col("stop_sequence"), col("dist").as("o_dist"))),
            posKey, "left")
          .filter(col("o_dist").isNull || col("cdist") < col("o_dist"))
          .select(col("src"), col("trip_id"), col("stop_sequence"),
            col("cdist").as("dist"), lit(false).as("fresh"),
            lit(true).as("pend")))
      val obs = org.apache.spark.sql.Observation(
        s"transit-tail-${TransitSssp.runSeq.incrementAndGet()}")
      val out = tagged
        .observe(obs, count(when(!col("pend"), lit(1))).as("nimp"),
          count(when(col("pend"), lit(1))).as("npend"))
        .transform(ckpt)
      rel(ride)
      val nImp = obs.get("nimp").asInstanceOf[Long]
      val nPend = obs.get("npend").asInstanceOf[Long]
      if (nImp > 0L || forceMerge) {
        // processed fresh rows have fired all effects — clear the
        // flag; per position keep the best dist (ties prefer fresh =
        // refire, which is monotone-safe)
        val wPick = Window.partitionBy(posKey.map(col): _*)
          .orderBy(col("dist").asc, col("fresh").desc)
        val mergedOv = ov.withColumn("fresh", lit(false))
          .unionByName(out.filter(!col("pend")).drop("pend"))
          .withColumn("rn", row_number().over(wPick))
          .filter(col("rn") === 1).drop("rn")
          .transform(ckpt)
        rel(ov)
        ov = mergedOv
      }
      (nPend, out)
    }

    def pipelinedRound(): Unit = {
      val pairs = seedPairs
      val trips =
        if (pruneEnabled)
          // limit(cap+1): a dense round would otherwise ship every
          // distinct t_b to the driver just for prunedScan to discard
          // them (r12 VERDICT #5); one extra row is enough to overflow
          // the cap check and fall back to the full scan
          pairs.select(TransitSssp.tbCol(col("trip_id")).as("t_b"))
            .distinct().limit(TransitSssp.tailPruneMaxKeys + 1)
            .collect().map(_.getInt(0)).toIndexedSeq
        else IndexedSeq.empty[Int]
      val slice = prunedScan(probeBase, trips)
        .join(broadcast(pairs), Seq("src", "trip_id"))
      val (nPend, out) = round(slice, prunedScan(probeChange, trips),
        pending, forceMerge = ovHasFresh)
      ovHasFresh = false
      if (pendingSrc != null) rel(pendingSrc)
      if (nPend == 0L) {
        rel(out); pending = null; pendingSrc = null
        converged = true
      } else {
        pendingSrc = out
        pending = out.filter(col("pend"))
          .select(col("src"), col("trip_id"), col("stop_sequence"), col("dist"))
      }
      it += 1
    }

    var tailRounds = 0
    while (it < maxIterations && !converged
        && tailRounds < tailLazyRounds) {
      // plain early rounds: pipelined probes on the raw frozen base —
      // zero setup, one base touch per round (short capped tails end
      // here without ever paying the cache build)
      pipelinedRound()
      tailRounds += 1
    }
    if (!converged) ensureCaches()
    while (it < maxIterations && !converged) pipelinedRound()
    if (cachesReady) {
      probeBase.unpersist(false)
      probeChange.unpersist(false)
    }
    if (!converged) throw new IllegalStateException(
      s"TransitSssp did not converge in $maxIterations iterations — " +
        "optimal paths deeper than the bound (raise maxIterations)")
    val full = base
      .join(ov.select(col("src"), col("trip_id"), col("stop_sequence"),
        col("dist").as("o_dist")), posKey, "left")
      .select(col("src"), col("trip_id"), col("stop_sequence"),
        coalesce(col("o_dist"), col("dist")).as("dist"),
        lit(false).as("fresh"))
      .transform(ckpt)
    rel(base); rel(ov)
    full
  }

  /** Release the instance's pinned static frames (trip prefix + CHANGE
    * slice + capped slices) — serialized local checkpoints, which neither
    * `Dataset.unpersist` nor `clearCache` frees. Short-lived instances
    * call it when done; a projection-held instance keeps its pins for the
    * projection's lifetime and is released by
    * `TimeExpandedGraph.unpersist` (so `RoutingEngine.close`). */
  private[graft] def releasePins(): Unit = {
    val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    if (preparedForced) rel(prepared)
    if (changeForced) rel(change)
    cappedSlices.values.forEach { cell =>
      if (cell.slicesForced) {
        val rs = cell.slices
        // a gate-exceeded bucket memoizes the shared pin — released above
        if (!(changeForced && (rs.slice eq change))) rel(rs.slice)
        rs.pos.foreach(rel)
      }
      // the CSR (if built) is plain driver arrays — dropped with the map
    }
    cappedSlices.clear()
  }

  /** Predecessor resolution against the CONVERGED rel distances:
    * candidates are (a) trip predecessor where the single-hop fixpoint
    * equality holds — in rel space simply rel(u) = rel(pred) (the A
    * offsets telescope out), (b) CHANGE sources where
    * rel(dst) = rel(src) + w_rel, (c) the seeds themselves (pred −1,
    * always preferred). All arithmetic is on integer-valued doubles —
    * equality is exact. Candidates key on the grid's own
    * (trip_id, stop_sequence) position; ids and absolute distances are
    * restored by position joins against the pinned trip prefix — once
    * for the ride preds (pred row's id), once for the picked output.
    * Pre-filtering to reached rows is safe for the ride lag: if
    * rel(u) = rel(p̃) for a reached earlier row p̃, every intermediate
    * trip row is reachable through that same ride at the fixpoint, so
    * the filtered lag still pairs immediate neighbors. Per-(src, v)
    * independent, so it may run over a source-filtered grid slice
    * (Staged.resolve). */
  private def resolveState(state: DataFrame, sources: Seq[Long],
      slice: DataFrame): DataFrame = {
    import spark.implicits._
    val reached = state.filter(col("dist").isNotNull)
    val rideCand = reached
      .withColumn("p_seq", lag("stop_sequence", 1).over(wSrcTrip))
      .withColumn("p_rel", lag("dist", 1).over(wSrcTrip))
      .filter(col("p_rel").isNotNull && col("dist") === col("p_rel"))
      .join(prepared.select(col("trip_id"),
        col("stop_sequence").as("p_seq"), col("id").as("pred")),
        Seq("trip_id", "p_seq"))
      .select(col("src"), col("trip_id"), col("stop_sequence"),
        col("dist").as("rel"), col("pred"), lit(1).as("prio"))
    // CHANGE fixpoint edges: slice × reached source rows (positional; the
    // pinned slice and the grid co-partition on the trip key) probed
    // against the target's own grid row.
    val dv = reached.select(col("src"), col("trip_id").as("s_trip"),
      col("stop_sequence").as("s_seq"), col("dist").as("s_rel"))
    val dt = reached.select(col("src"), col("trip_id").as("d_trip"),
      col("stop_sequence").as("d_seq"), col("dist").as("t_rel"))
    val changeCand = slice
      .join(dv, Seq("s_trip", "s_seq"))
      .join(dt, Seq("src", "d_trip", "d_seq"))
      .filter(col("t_rel") === col("s_rel") + col("w_rel"))
      .select(col("src"), col("d_trip").as("trip_id"),
        col("d_seq").as("stop_sequence"), col("t_rel").as("rel"),
        col("e_src").as("pred"), lit(1).as("prio"))
    // Seeds: position + rel (= −A) read off the pinned prefix. Seeds
    // ABSENT from the projection have no grid row — they rejoin as
    // phantom self-rows after the widen (contract: every seed reports
    // itself at dist 0).
    val sidDim = sources.sorted.toDF("sid")
    val seedCand = prepared
      .join(broadcast(sidDim), col("id") === col("sid"))
      .select(col("id").as("src"), col("trip_id"), col("stop_sequence"),
        (-col("acum")).as("rel"), lit(-1L).as("pred"), lit(0).as("prio"))
    val wPick = Window.partitionBy("src", "trip_id", "stop_sequence")
      .orderBy(col("prio"), col("pred"))
    val resolved = rideCand.unionByName(changeCand).unionByName(seedCand)
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .join(prepared, Seq("trip_id", "stop_sequence"))
      .select(col("id").as("vertex_id"), col("src").as("source_id"),
        (col("rel") + col("acum")).as("dist"), col("pred"))
    val phantom = sidDim
      .join(prepared.select(col("id").as("sid")), Seq("sid"), "left_anti")
      .select(col("sid").as("vertex_id"), col("sid").as("source_id"),
        lit(0.0).as("dist"), lit(-1L).as("pred"))
    resolved.unionByName(phantom)
  }

  /** ACYCLIC predecessor resolution for ONE source over the converged grid
    * (r16 — closes the zero-total-cycle regime asymmetry, r15 verdict #3).
    *
    * On a feed whose optimal-path structure carries a cycle of total
    * weight EXACTLY zero (inconsistent clock data), the canonical
    * equal-dist smaller-pred selection in [[resolveState]] can be CYCLIC —
    * the per-vertex minima themselves form the cycle, and the path walk
    * throws [[ShortestPaths.PredCycleException]]. The in-heap regimes
    * repair via a strict-improvement rerun (ShortestPaths.acyclicPreds);
    * that argument is relaxation-ORDER-dependent and does not distribute,
    * so the distributed repair re-selects preds against a CHANGE-LEVEL
    * layering of the tight subgraph instead:
    *
    *  - TIGHT edges are the fixpoint-equality edges resolveState already
    *    enumerates: ride v→u with rel(u) = rel(v) (within a trip the
    *    converged rel is non-increasing along stop_sequence — the ride
    *    closure is a prefix-min — so equal-rel rows form CONTIGUOUS runs
    *    and (trip_id, rel) keys a run); change v→u with
    *    rel(u) = rel(v) + w_rel.
    *  - lev(u) = minimum number of CHANGE edges on any tight path
    *    seed→u. Computed by the same ride-closure ∘ change-candidate
    *    iteration the main fixpoint runs (ride propagates lev at +0 via a
    *    running min over the run; change propagates at +1 through the
    *    run's slice), converging in (max change level + 1) rounds — the
    *    same transfer-bounded cadence as the distance fixpoint. Every
    *    reached row gets a level: its shortest path from the seed is a
    *    tight path (fixpoint property), so tight-reachability covers the
    *    reached set.
    *  - SELECTION: seeds keep pred −1; otherwise any ride candidate with
    *    lev(pred) = lev(u) (the immediate earlier row of u's run — its
    *    level always equals u's when u's min-level path rides, see below),
    *    or any change candidate with lev(pred) = lev(u) − 1; ties resolve
    *    by smallest pred id (deterministic).
    *
    * ACYCLICITY: a selected change edge strictly DECREASES lev; a selected
    * ride edge keeps lev and strictly decreases stop_sequence within one
    * trip (a run never spans trips). (lev, stop_sequence) is therefore a
    * strictly decreasing lexicographic measure along any pred chain — no
    * cycle exists, on ANY feed. EXISTENCE: u's min-level tight path ends
    * either in a change from v — where lev(v) ≤ lev(u) − 1 by the path
    * prefix and ≥ lev(u) − 1 by minimality, so v satisfies the filter —
    * or in a ride within u's run from v with lev(v) = lev(u) (same
    * sandwich), and then the IMMEDIATE earlier run row p also has
    * lev(p) = lev(u): lev(p) ≤ lev(v) via v→p ride and lev(u) ≤ lev(p)
    * via p→u ride. Distances are NOT touched — output dist equals
    * [[resolveState]]'s bit for bit; only pred differs, and only on feeds
    * where the canonical rule HAS no tree (the same contract the in-heap
    * strict repair documents).
    *
    * Cost: only ever runs after a detected cycle (zero overhead on clean
    * feeds), over the ONE source's reached rows, with transfer-bounded
    * rounds over frontier-sized candidate joins — the 100 TB posture of
    * the main fixpoint. `retain` receives the level checkpoint the output
    * plan reads; the caller releases it with the run. */
  private[graph] def resolveStateAcyclic(state: DataFrame, source: Long,
      slice: DataFrame, retain: DataFrame => Unit,
      maxIterations: Int = 1000): DataFrame = {
    import spark.implicits._
    val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    val reached = state.filter(col("dist").isNotNull)
      .select(col("trip_id"), col("stop_sequence"), col("dist"))
    // seed position(s): the source's own grid row sits at rel = −acum at
    // the fixpoint (strictly below would telescope to a negative-total
    // cycle, which the converged run excludes)
    val seed = prepared.filter(col("id") === source)
      .select(col("trip_id"), col("stop_sequence"), (-col("acum")).as("srel"))
    var lev = reached
      .join(broadcast(seed), Seq("trip_id", "stop_sequence"), "left")
      .select(col("trip_id"), col("stop_sequence"), col("dist"),
        when(col("dist") === col("srel"), lit(0L)).as("lev"))
      .transform(ckpt)
    // ride closure of levels: running min over the row's equal-rel run
    // (contiguous by the non-increasing converged rel; integer-valued
    // doubles, so the (trip_id, dist) partition key is exact)
    val wRun = Window.partitionBy("trip_id", "dist").orderBy("stop_sequence")
      .rowsBetween(Window.unboundedPreceding, 0)
    var it = 0
    var converged = false
    var lastUnlabeled = -1L
    while (it < maxIterations && !converged) {
      val ridden = lev.withColumn("rlev", min(col("lev")).over(wRun))
      val srcSide = ridden.filter(col("rlev").isNotNull)
        .select(col("trip_id").as("s_trip"), col("stop_sequence").as("s_seq"),
          col("dist").as("s_rel"), col("rlev").as("s_lev"))
      val cand = slice.join(srcSide, Seq("s_trip", "s_seq"))
        .select(col("d_trip").as("c_trip"), col("d_seq").as("c_seq"),
          (col("s_rel") + col("w_rel")).as("t_need"),
          (col("s_lev") + 1L).as("clev"))
        .groupBy("c_trip", "c_seq", "t_need").agg(min("clev").as("clev"))
      val obs = org.apache.spark.sql.Observation(
        s"transit-acyclic-${TransitSssp.runSeq.incrementAndGet()}-round-$it")
      val next = ridden
        .join(cand, col("trip_id") === col("c_trip") &&
          col("stop_sequence") === col("c_seq") &&
          col("dist") === col("t_need"), "left")
        .select(col("trip_id"), col("stop_sequence"), col("dist"),
          col("lev"), least(col("rlev"), col("clev")).as("nlev"))
        // unlabeled rides the same round job (r20, guide §1): the
        // converged round's nlev IS the final lev column, so the last
        // round's count replaces the separate post-loop count() job
        .observe(obs, coalesce(sum((col("nlev").isNotNull &&
          (col("lev").isNull || col("nlev") < col("lev"))).cast("long")),
          lit(0L)).as("improved"),
          coalesce(sum(col("nlev").isNull.cast("long")), lit(0L))
            .as("unlabeled"))
        .select(col("trip_id"), col("stop_sequence"), col("dist"),
          col("nlev").as("lev"))
        .transform(ckpt)
      converged = obs.get("improved").asInstanceOf[Long] == 0L
      lastUnlabeled = obs.get("unlabeled").asInstanceOf[Long]
      rel(lev)
      lev = next
      it += 1
    }
    if (!converged) {
      rel(lev)
      throw new IllegalStateException(
        s"acyclic re-resolution did not converge in $maxIterations rounds")
    }
    retain(lev)
    // defensive contract check (an unlabeled reached row would silently
    // vanish from the output; tight-reachability makes this impossible —
    // see the scaladoc — so a hit means a regression): read from the last
    // round's observation; the loop always runs ≥ 1 round when converged.
    val unlabeled = lastUnlabeled
    if (unlabeled > 0) throw new IllegalStateException(
      s"acyclic re-resolution left $unlabeled reached rows unlabeled")
    val wTripR = Window.partitionBy("trip_id").orderBy("stop_sequence")
    val rideC = lev
      .withColumn("p_seq", lag("stop_sequence", 1).over(wTripR))
      .withColumn("p_rel", lag("dist", 1).over(wTripR))
      .withColumn("p_lev", lag("lev", 1).over(wTripR))
      .filter(col("p_rel").isNotNull && col("dist") === col("p_rel") &&
        col("p_lev") === col("lev"))
      .join(prepared.select(col("trip_id"),
        col("stop_sequence").as("p_seq"), col("id").as("pred")),
        Seq("trip_id", "p_seq"))
      .select(col("trip_id"), col("stop_sequence"), col("dist").as("rel"),
        col("pred"), lit(1).as("prio"))
    val sv = lev.select(col("trip_id").as("s_trip"),
      col("stop_sequence").as("s_seq"), col("dist").as("s_rel"),
      col("lev").as("s_lev"))
    val tv = lev.select(col("trip_id").as("d_trip"),
      col("stop_sequence").as("d_seq"), col("dist").as("t_rel"),
      col("lev").as("t_lev"))
    val changeC = slice
      .join(sv, Seq("s_trip", "s_seq"))
      .join(tv, Seq("d_trip", "d_seq"))
      .filter(col("t_rel") === col("s_rel") + col("w_rel") &&
        col("t_lev") === col("s_lev") + 1L)
      .select(col("d_trip").as("trip_id"), col("d_seq").as("stop_sequence"),
        col("t_rel").as("rel"), col("e_src").as("pred"), lit(1).as("prio"))
    val seedC = prepared.filter(col("id") === source)
      .select(col("trip_id"), col("stop_sequence"), (-col("acum")).as("rel"),
        lit(-1L).as("pred"), lit(0).as("prio"))
    val wPick = Window.partitionBy("trip_id", "stop_sequence")
      .orderBy(col("prio"), col("pred"))
    val resolved = rideC.unionByName(changeC).unionByName(seedC)
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .join(prepared, Seq("trip_id", "stop_sequence"))
      .select(col("id").as("vertex_id"), lit(source).as("source_id"),
        (col("rel") + col("acum")).as("dist"), col("pred"))
    val phantom = Seq(source).toDF("sid")
      .join(prepared.select(col("id").as("sid")), Seq("sid"), "left_anti")
      .select(col("sid").as("vertex_id"), col("sid").as("source_id"),
        lit(0.0).as("dist"), lit(-1L).as("pred"))
    resolved.unionByName(phantom)
  }
}
