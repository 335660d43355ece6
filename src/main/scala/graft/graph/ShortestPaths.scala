package graft.graph

import org.apache.spark.graphx._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum}

/** Weighted shortest paths on GraphX Pregel.
  *
  * Re-expresses the reference's `gds.shortestPath.dijkstra.stream`
  * (`main.py:95-101,143-151`) and `apoc.algo.dijkstra` (`prova.py:208-226`)
  * as distributed edge relaxation. Key design decision (SURVEY §7.3): the
  * reference runs ONE Dijkstra per candidate (source, target) pair — a
  * correlated-procedure anti-pattern. We decorrelate: one multi-source
  * Pregel run carries `Map[sourceId -> (dist, pred)]`, so N candidate
  * sources cost one traversal instead of N.
  *
  * The projected routing graph is time-expanded (edges only go forward in
  * time), i.e. a DAG — relaxation converges in ≤ longest-path supersteps.
  */
object ShortestPaths {

  /** Per-vertex routing state: for each reachable source, best known
    * (distance, predecessor vertex). */
  type State = Map[VertexId, (Double, VertexId)]

  /** On equal distance, the smaller predecessor id wins (seed pred −1 is
    * smallest, so seeds stay seeds) — the CANONICAL tie-break every engine
    * shares (TransitSssp.resolveState orders by (prio, pred), the CSR
    * Dijkstra applies the same rule in its relaxation), so equal-cost path
    * multiplicity cannot make regimes return different itineraries
    * (the Modena harness twin caught exactly that). */
  private def better(x: (Double, VertexId), y: (Double, VertexId)): (Double, VertexId) =
    if (x._1 < y._1) x else if (y._1 < x._1) y
    else if (x._2 <= y._2) x else y

  private def mergeStates(a: State, b: State): State =
    if (a.isEmpty) b else if (b.isEmpty) a
    else (a.keySet ++ b.keySet).iterator.map { k =>
      k -> ((a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) => better(x, y)
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case (None, None) => throw new IllegalStateException
      })
    }.toMap

  /** Multi-source SSSP. Returns a VertexRDD whose state maps each source to
    * the best (distance, predecessor) at that vertex.
    *
    * Memory posture: per-vertex state is O(|sources| reaching it) — sized
    * for candidate-stop source sets (tens, the routing use case). For
    * thousands of sources batch the calls; one traversal per batch keeps
    * peak state at O(batch) while still decorrelating within a batch. */
  def multiSource(edges: RDD[Edge[Double]], sources: Set[VertexId],
      maxIterations: Int = Int.MaxValue): VertexRDD[State] = {
    // Seeds are vertices in their own right: a seed no edge touches still
    // reports itself at distance 0, as the local CSR does.
    val seeds = edges.sparkContext.parallelize(
      sources.toSeq.map(s => (s, Map(s -> (0.0, -1L)): State)))
    val init: Graph[State, Double] = Graph(seeds, edges, Map.empty: State)
    val result = Pregel(init, Map.empty: State, maxIterations, EdgeDirection.Out)(
      vprog = (_, state, msg) => mergeStates(state, msg),
      sendMsg = triplet => {
        val improvements: State = triplet.srcAttr.iterator.flatMap {
          case (src, (dSrc, _)) =>
            val cand = dSrc + triplet.attr
            triplet.dstAttr.get(src) match {
              // equal-dist smaller-pred messages DO flow (canonical
              // tie-break); pred-only updates change no distance, so the
              // extra supersteps are bounded by the strictly-decreasing
              // pred chain at each vertex
              case Some((dCur, pCur)) if dCur < cand ||
                (dCur == cand && pCur <= triplet.srcId) => None
              case _ => Some(src -> (cand, triplet.srcId))
            }
        }.toMap
        if (improvements.nonEmpty) Iterator((triplet.dstId, improvements)) else Iterator.empty
      },
      mergeMsg = mergeStates)
    result.vertices
  }

  /** Distances as a DataFrame (vertex_id, source_id, dist). */
  def distancesDF(spark: SparkSession, vertices: VertexRDD[State]): DataFrame = {
    import spark.implicits._
    vertices.flatMap { case (vid, st) =>
      st.iterator.map { case (src, (d, pred)) => (vid, src, d, pred) }
    }.toDF("vertex_id", "source_id", "dist", "pred")
  }

  /** One-source chain-row count under which pathDistributed collects the
    * (v, pred) chain and walks it on the driver instead of building jump
    * tables. 16 B/row → ≤128 MB at the bound — the same driver-heap
    * posture as [[LocalDijkstraMaxEdges]] (and deliberately looser: the
    * chain rows are two longs, a third the CSR row's width). The common
    * case this serves: a converged 10×-Modena source reaches ~2.5M
    * vertices, and the log-depth jump tables cost 13.9–17.1 s to extract
    * a ~20-hop itinerary from it — the bounded walk is one filter-collect.
    * A 100 TB chain (billions of rows) exceeds the bound and takes the
    * pointer-doubling branch, whose driver traffic is the final path only. */
  val DriverWalkMaxChainRows: Long = 8000000L

  /** Uniquifier for the path-extraction Observation names — the listener
    * matches metrics by name across every query execution in the session,
    * so concurrent path extractions must not share one (same contract as
    * TransitSssp.runSeq). */
  private val pathSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Distributed path reconstruction — the 100 TB regime, where collecting
    * even one source's reachable set may flood the driver.
    *
    * PRECONDITION (seed-row contract): `dist` must be resolveState-shaped
    * output in which the source's own row is present with pred = −1 (the
    * phantom-seed contract — every seed reports itself at dist 0 even when
    * absent from the projection). A frame without that row fails the
    * `require`; a pred chain with a gap (a vertex whose pred has no row)
    * fails either branch with an IllegalStateException naming the vertex,
    * instead of returning a path that does not start at the source.
    *
    * Two branches, gated on the MEASURED chain size (the count reads the
    * chain's own checkpoint):
    *
    *  - chain ≤ `driverWalkMaxRows`: collect the (v, pred) rows and walk
    *    predecessors on the driver — exact, and O(chain) bytes moved once
    *    instead of O(chain × log chain) through the jump-table self-joins.
    *  - above the bound (or `driverWalkMaxRows = 0`, the forced-100 TB
    *    evidence path): pointer doubling — jump tables
    *    J_k(v) = pred^(2^k)(v) built with log(pathLen) self-joins, then
    *    the positions 0..L accumulate walking high power to low (each
    *    partial sum stays on the true path, so every jump is defined).
    *    Only the final path (L rows) reaches the driver.
    *
    * TransitSsspSpec pins branch equality over every reachable target of
    * one converged run. `dist` is run()/fromDF output; returns
    * source-first vertex ids, Nil when unreachable. */
  def pathDistributed(dist: DataFrame, source: Long, target: Long,
      driverWalkMaxRows: Long = DriverWalkMaxChainRows): List[Long] = {
    val spark = dist.sparkSession
    import spark.implicits._
    // Chain size, target reachability and the seed row ride the chain
    // checkpoint's own materialization job via observe(), placed above
    // the pred filter so it sees the seed row too: one job, no separate
    // reachability or count pass. Reached ⇔ a dist row exists; the chain
    // drops only pred = −1 rows, and the single-source resolve emits
    // pred = −1 exactly for the seed — so target reached ⇔
    // target == source ∨ target ∈ chain.v.
    val obs = org.apache.spark.sql.Observation(
      s"path-chain-${pathSeq.incrementAndGet()}")
    def tally(c: org.apache.spark.sql.Column) =
      coalesce(sum(c.cast("long")), lit(0L))
    val chained = col("pred") =!= -1L
    val chain0 = dist.filter(col("source_id") === source)
      .observe(obs,
        tally(chained).as("rows"),
        tally(chained && col("vertex_id") === target).as("tgt"),
        tally(!chained && col("vertex_id") === source).as("seed"))
      .filter(chained)
      .select(col("vertex_id").as("v"), col("pred").as("p"))
      .localCheckpoint(true)
    val chainRows = obs.get("rows").asInstanceOf[Long]
    val targetInChain = obs.get("tgt").asInstanceOf[Long] > 0L
    val release = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _
    def chainGap(v: Long) = new IllegalStateException(
      s"pred chain gap: vertex $v has no row in source $source's pred chain, " +
        "so the walk cannot reach the source")
    try {
      require(obs.get("seed").asInstanceOf[Long] > 0L,
        s"pathDistributed: dist has no seed row (vertex_id = $source, pred = -1) " +
          s"for source $source")
      if (target == source) return List(source)
      if (!targetInChain) return Nil
      if (chainRows <= driverWalkMaxRows) {
        // Bounded driver walk — identical output to the doubling branch:
        // both walk the same converged predecessor function from target
        // to source; this one resolves it from a collected map.
        val chain = chain0.as[(Long, Long)].collect().toMap
        // step-bounded: the distributed fixpoint's canonical tie-break can
        // emit a CYCLIC pred assignment on zero-total-cycle (dirty-clock)
        // feeds — fail with a pointed error instead of spinning (r15; the
        // routing engine then re-resolves acyclically)
        @annotation.tailrec
        def walk(v: Long, acc: List[Long], steps: Int): List[Long] =
          if (v == source) v :: acc
          else if (steps > chain.size) throw new PredCycleException(
            "predecessor cycle in path walk - canonical ties have no tree " +
              "on this feed (zero-total cycle); re-resolve acyclically or " +
              "route through the in-heap regime")
          else chain.get(v) match {
            case Some(p) => walk(p, v :: acc, steps + 1)
            case None => throw chainGap(v)
          }
        return walk(target, Nil, 0)
      }
      val jumps = scala.collection.mutable.ArrayBuffer(chain0)
      // 63 doubling levels cover any acyclic chain (2^63 rows); a table
      // still non-empty past that proves a pred cycle — fail clean
      // instead of launching jobs forever. Each level's row count rides
      // its own checkpoint job via observe() (r20 — the emptiness test
      // was previously a separate isEmpty job per level, doubling the
      // loop's scheduler round-trips at every scale).
      var lastRows = chainRows
      while (lastRows > 0L) {
        if (jumps.size > 63) throw new PredCycleException(
          "predecessor cycle in jump tables - canonical ties have no tree " +
            "on this feed (zero-total cycle); re-resolve acyclically or " +
            "route through the in-heap regime")
        val jk = jumps.last
        val lobs = org.apache.spark.sql.Observation(
          s"path-jump-${pathSeq.incrementAndGet()}")
        // flattenStats: the self-join SQUARES the size estimate per
        // doubling level (see TransitSssp.ckpt's scaladoc for the
        // pathology at scale); drop origin stats each level
        jumps += org.apache.spark.sql.graftbridge.CheckpointBridge
          .flattenStats(jk.as("a").join(jk.as("b"), col("a.p") === col("b.v"))
            .select(col("a.v").as("v"), col("b.p").as("p"))
            .observe(lobs, count(lit(1)).as("rows"))
            .localCheckpoint(true))
        lastRows = lobs.get("rows").asInstanceOf[Long]
      }
      var pos = Seq((target, 0L)).toDF("v", "idx").localCheckpoint(true)
      for (k <- (jumps.size - 1) to 0 by -1) {
        val added = pos.join(jumps(k), Seq("v"))
          .select(col("p").as("v"), (col("idx") + (1L << k)).as("idx"))
        val next = pos.unionByName(added).localCheckpoint(true)
        release(pos) // next is materialized; the superseded accumulator is dead
        pos = next
      }
      val path = pos.orderBy(col("idx").desc).select("v").as[Long].collect().toList
      // jump tables (chain-sized each) are dead once the descent finishes;
      // jumps(0) == chain0 gets its release in the finally (double-release
      // is a no-op, the guard below skips tail tables only)
      jumps.drop(1).foreach(release)
      release(pos)
      // the descent stops where the chain does: at the source, or at a gap
      if (path.head != source) throw chainGap(path.head)
      path
    } finally release(chain0)
  }

  /** Edge-count threshold below which SSSP runs as a driver-local Dijkstra
    * over the collected edge list instead of Pregel. This is the honest
    * analog of the reference's GDS execution — its "distributed" graph is a
    * single-node in-memory CSR holding the full Modena projection (249k
    * nodes / 738k edges), so the threshold admits that size (738k edges ×
    * 24 B ≈ 18 MB — trivial driver heap). A 100 TB-scale projection is not
    * local; Pregel takes over above the threshold. */
  val LocalDijkstraMaxEdges: Long = 2000000L

  /** Reusable SSSP handle over one edge set: resolves the local-vs-Pregel
    * decision once and, when local, collects + indexes the adjacency once —
    * so repeated routing calls against the same projection (the 9-OD-pair
    * perf harness, the journey API) don't re-count and re-collect the edge
    * list per call.
    *
    * `distributedRunner`, when given, replaces the generic Pregel branch
    * above the threshold with a runner producing the same (vertex_id,
    * source_id, dist, pred) contract — the time-expanded projection passes
    * [[TransitSssp.run]], whose iteration count is transfer-bounded instead
    * of hop-bounded (generic Pregel measured >10 min per routing call at 3×
    * Modena; the trip-collapse runs the same query in seconds). The local
    * CSR branch and its threshold gate are unchanged. */
  final class Sssp(edges: DataFrame, localThreshold: Long = LocalDijkstraMaxEdges,
      distributedRunner: Option[Set[Long] => DataFrame] = None) {
    private val spark = edges.sparkSession
    private val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("weight").cast("double"))
    // Overflow pre-gate: a plain parallel count() answers "is the graph
    // local?" without moving a single edge row — per-partition counts
    // combine map-side. (The previous head(cap+1) probe collected up to
    // threshold+1 tuples, ~100-200 MB, to the driver even when the
    // answer was "distributed regime, discard"; a limit(cap+1).count()
    // probe would be no better, gathering the rows into one partition
    // for the GlobalLimit.)
    private lazy val localCsr: Option[Csr] = {
      import spark.implicits._
      val cap = math.min(localThreshold, (Int.MaxValue - 2).toLong)
      // The collect runs only when the count proves every edge fits — and
      // reads the projection's cache, which the count itself populated.
      if (e.count() <= cap) Some(buildCsr(e.as[(Long, Long, Double)].collect()))
      else None
    }
    def run(sources: Set[Long]): DataFrame = localCsr match {
      case Some(g) => localDijkstraDF(spark, g, sources)
      case None => distributedRunner match {
        case Some(f) => f(sources)
        case None =>
          val edgeRdd = e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
          distancesDF(spark, multiSource(edgeRdd, sources))
      }
    }

    def isLocal: Boolean = localCsr.isDefined

    /** Distances restricted to `targets`. The local path computes the
      * per-source arrays once and emits ONLY target rows — materializing
      * the full (vertex × source) table through toDF was the routing hot
      * path's dominant cost at Modena scale (~1M rows per call). The
      * returned [[TargetRun]] owns THIS call's (dist, pred) state, so
      * concurrent routing calls cannot observe each other's paths. */
    def runForTargets(sources: Set[Long], targets: Set[Long]): TargetRun = localCsr match {
      case Some(g) =>
        // Early-terminated per-source Dijkstras: final distances are
        // guaranteed for the REQUESTED targets (and every vertex on their
        // shortest-path pred chains) — exactly what TargetRun exposes.
        // A graph with an unreachable requested target degrades to the
        // full exploration (its settle never arrives), never to a wrong
        // answer.
        runTargetsOnCsr(spark, g, sources, targets)
      case None =>
        val df = run(sources).filter(col("vertex_id").isin(targets.toSeq: _*))
        new TargetRun(() => df, None, Map.empty)
    }

  }

  /** Early-terminated multi-source Dijkstra over an in-heap CSR, emitting
    * the [[Sssp.runForTargets]] contract (target-restricted distance frame
    * + driver-resident path state). Shared by the local regime and the
    * clock-capped CSR regime ([[TransitSssp.runForTargetsCapped]]). The
    * distance FRAME is built lazily on first access (r14 ADVICE): the
    * capped routing caller ranks and walks paths through the in-heap
    * state only, so up-to-1M collected targets never pay the boxed
    * (source × target) tuple builder or its LocalRelation. */
  private[graph] def runTargetsOnCsr(spark: SparkSession, g: Csr,
      sources: Set[Long], targets: Set[Long]): TargetRun = {
    val state = computeOnCsr(g, sources, Some(targets))
    new TargetRun(() => {
      import spark.implicits._
      val b = Seq.newBuilder[(Long, Long, Double, Long)]
      for ((src, (dist, pred)) <- state; t <- targets) {
        val ti = g.indexOf(t)
        if (ti >= 0 && !dist(ti).isInfinity) {
          val p = if (pred(ti) < 0) -1L else g.ids(pred(ti))
          b += ((t, src, dist(ti), p))
        }
      }
      b.result().toDF("vertex_id", "source_id", "dist", "pred")
    }, Some(g), state)
  }

  private def computeOnCsr(g: Csr, sources: Set[Long],
      targets: Option[Set[Long]]): Map[Long, (Array[Double], Array[Int])] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    // Target-bounded runs stop each source's Dijkstra once every in-graph
    // target is SETTLED (first-popped — its distance is final by the
    // Dijkstra invariant); the flag array is read-only and shared across
    // the concurrent per-source searches. Negative-weight graphs take the
    // label-correcting fixpoint instead (spfaCsr) — no settle invariant,
    // so no early stop; the full fixpoint is final for every vertex.
    val stop = targets.map { ts =>
      val flags = new Array[Boolean](g.n)
      var c = 0
      ts.foreach { t =>
        val ti = g.indexOf(t)
        if (ti >= 0 && !flags(ti)) { flags(ti) = true; c += 1 }
      }
      (flags, c)
    }
    val futures = sources.toSeq.sorted.map { src =>
      src -> Future {
        val si = g.indexOf(src)
        if (si < 0) None
        else if (g.hasNegative) Some(acyclicPreds(spfaCsr(g, si, _)))
        else Some(acyclicPreds(dijkstraCsr(g, si, stop, _)))
      }
    }
    futures.flatMap { case (s, f) => Await.result(f, Duration.Inf).map(s -> _) }.toMap
  }

  /** Guard against the zero-total-cycle pathology (r15, found by the
    * dirty-hub measurement): on a feed whose optimal-path structure
    * contains a cycle of total weight EXACTLY zero (only possible with
    * inconsistent clock data — on clean time-expanded feeds event clocks
    * strictly advance around any cycle), the canonical equal-dist
    * smaller-pred tie-break is unsatisfiable as a tree — the per-vertex
    * minima themselves form a cycle, and every regime's path walk would
    * spin on it. Detect in O(V) (color-stamped chain walks) and, only
    * then, rerun the SAME search with STRICT-improvement pred updates
    * only: distances are unchanged (tie-breaks never affect distance) and
    * the strict pred graph is provably acyclic — setting pred(u)=v
    * strictly lowers dist(u), so a pred cycle would telescope to a
    * negative-total cycle, which the run would have rejected. The strict
    * tree is deterministic (fixed relaxation order per regime) but not
    * canonical across regimes; acceptable because it engages only on
    * feeds where the canonical rule HAS no tree. */
  private def acyclicPreds(
      run: Boolean => (Array[Double], Array[Int])): (Array[Double], Array[Int]) = {
    val first = run(true)
    if (!predHasCycle(first._2)) first else run(false)
  }

  private def predHasCycle(pred: Array[Int]): Boolean = {
    val n = pred.length
    val state = new Array[Byte](n) // 0 unvisited, 1 on current walk, 2 done
    var i = 0
    while (i < n) {
      if (state(i) == 0) {
        var v = i
        while (v >= 0 && state(v) == 0) { state(v) = 1; v = pred(v) }
        if (v >= 0 && state(v) == 1) return true
        var u = i
        while (u >= 0 && state(u) == 1) { state(u) = 2; u = pred(u) }
      }
      i += 1
    }
    false
  }

  /** One runForTargets call's result: the target-restricted distance frame
    * plus, in the local regime, a path reconstructor over the call's own
    * immutable (dist, pred) arrays. Distributed-regime callers reconstruct
    * via [[pathDistributed]] over the full table instead — `path` is Nil
    * there by contract. */
  final class TargetRun private[graph] (
      distancesThunk: () => DataFrame,
      csr: Option[Csr],
      state: Map[Long, (Array[Double], Array[Int])]) {

    /** Target-restricted distance frame, built on FIRST ACCESS: callers
      * on the in-heap fast path (capped routing) read only
      * `distance`/`path` and never pay the frame's construction. */
    lazy val distances: DataFrame = distancesThunk()

    /** True when this run holds driver-resident state (the local regime) —
      * distance/path lookups are O(1) array reads, no Spark job. */
    def isLocal: Boolean = csr.isDefined

    /** Best distance source→target from this run's local state; None when
      * unreachable, unknown vertices, or on the distributed branch. */
    def distance(source: Long, target: Long): Option[Double] =
      (csr, state.get(source)) match {
        case (Some(g), Some((dist, _))) =>
          val ti = g.indexOf(target)
          if (ti < 0 || dist(ti).isInfinity) None else Some(dist(ti))
        case _ => None
      }

    /** Path source→target (source-first); Nil when unreachable or when the
      * run executed on the distributed branch. */
    def path(source: Long, target: Long): List[Long] =
      (csr, state.get(source)) match {
        case (Some(g), Some((dist, pred))) =>
          val ti = g.indexOf(target)
          if (ti < 0 || dist(ti).isInfinity) Nil
          else {
            var acc: List[Long] = Nil
            var v = ti
            var steps = 0
            while (v >= 0) {
              // acyclicPreds makes this unreachable; keep the walk from
              // ever spinning if a future pred producer regresses
              steps += 1
              if (steps > g.n) throw new IllegalStateException(
                "predecessor cycle in path walk (zero-total-cycle feed?)")
              acc = g.ids(v) :: acc; v = pred(v)
            }
            acc
          }
        case _ => Nil
      }
  }

  /** Compressed-sparse-row image of the edge list over a dense Int vertex
    * numbering — primitive arrays end to end, so the local Dijkstra runs at
    * in-memory-graph speed (the boxed Map/PriorityQueue version measured
    * ~20× slower at the Modena cardinality). */
  private[graph] final class Csr(val ids: Array[Long], val offsets: Array[Int],
      val targets: Array[Int], val weights: Array[Double]) {
    def n: Int = ids.length
    def indexOf(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
    /** True when any edge weight is negative — [[computeOnCsr]] then runs
      * the exact label-correcting fixpoint ([[spfaCsr]]) instead of
      * settle-once Dijkstra, which under-relaxes there. One O(E) scan,
      * memoized; non-negative graphs (every clean feed) pay a single
      * branch per run. */
    lazy val hasNegative: Boolean = {
      var i = 0
      while (i < weights.length && weights(i) >= 0.0) i += 1
      i < weights.length
    }
  }

  /** Thrown by the label-correcting in-heap regime when relaxation cannot
    * reach a fixpoint — a negative-total cycle is reachable, so no
    * shortest path exists (the distributed fixpoint rounds would spin to
    * their iteration cap on the same input). Callers with a distributed
    * fallback catch it and decline the in-heap regime. */
  final class NegativeCycleException(msg: String) extends RuntimeException(msg)

  /** Thrown by the path walks when the CANONICAL predecessor assignment is
    * cyclic — the zero-total-cycle pathology (see [[acyclicPreds]]): the
    * per-vertex minima of the equal-dist smaller-pred rule themselves form
    * a cycle, so no tie-break tweak yields a tree. Distances are final and
    * correct; only the pred SELECTION needs repair. TYPED (r16) so the
    * distributed routing caller can catch it and retry with the acyclic
    * re-resolution ([[graft.graph.TransitSssp.Staged.resolveAcyclic]])
    * instead of failing the route. */
  final class PredCycleException(msg: String)
    extends IllegalStateException(msg)

  private[graph] def buildCsr(rows: Array[(Long, Long, Double)]): Csr = {
    val all = new Array[Long](rows.length * 2)
    var i = 0
    while (i < rows.length) {
      all(2 * i) = rows(i)._1; all(2 * i + 1) = rows(i)._2; i += 1
    }
    java.util.Arrays.sort(all)
    var n = 0
    i = 0
    while (i < all.length) { // dedup in place
      if (n == 0 || all(n - 1) != all(i)) { all(n) = all(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val offsets = new Array[Int](n + 1)
    rows.foreach { r => offsets(java.util.Arrays.binarySearch(ids, r._1) + 1) += 1 }
    i = 0
    while (i < n) { offsets(i + 1) += offsets(i); i += 1 }
    val cursor = java.util.Arrays.copyOf(offsets, n)
    val targets = new Array[Int](rows.length)
    val weights = new Array[Double](rows.length)
    rows.foreach { r =>
      val s = java.util.Arrays.binarySearch(ids, r._1)
      val c = cursor(s); cursor(s) = c + 1
      targets(c) = java.util.Arrays.binarySearch(ids, r._2)
      weights(c) = r._3
    }
    new Csr(ids, offsets, targets, weights)
  }

  /** Single-source Dijkstra over the CSR: lazy-deletion binary heap on
    * parallel primitive arrays, (dist, predIdx) out.
    *
    * `targetStop = Some((flags, count))` stops the search once `count`
    * flagged vertices have been SETTLED (first pop, where the popped key
    * equals the final distance — strict-improvement pushes mean exactly
    * one heap entry carries a vertex's final distance, so the counter
    * decrements once per target). On early stop, distances/preds are
    * final for every settled vertex — in particular all flagged targets
    * and their shortest-path ancestors (settled earlier by order) — while
    * unsettled vertices may hold tentative labels; callers must read only
    * target rows, which is the [[Sssp.runForTargets]]/[[TargetRun]]
    * contract. On a time-expanded day this skips the portion of the grid
    * later than the last candidate target — the routing hot path stops at
    * the horizon instead of flooding the rest of the service day. */
  private def dijkstraCsr(g: Csr, srcIdx: Int,
      targetStop: Option[(Array[Boolean], Int)],
      canonicalTies: Boolean): (Array[Double], Array[Int]) = {
    val n = g.n
    val dist = Array.fill(n)(Double.PositiveInfinity)
    val pred = Array.fill(n)(-1)
    val tFlags = targetStop.map(_._1).orNull
    var remaining = targetStop.map(_._2).getOrElse(0)
    val bounded = tFlags != null
    var heapD = new Array[Double](1024)
    var heapV = new Array[Int](1024)
    var size = 0
    def push(d: Double, v: Int): Unit = {
      if (size == heapD.length) {
        heapD = java.util.Arrays.copyOf(heapD, size * 2)
        heapV = java.util.Arrays.copyOf(heapV, size * 2)
      }
      var i = size; size += 1
      while (i > 0 && heapD((i - 1) / 2) > d) {
        heapD(i) = heapD((i - 1) / 2); heapV(i) = heapV((i - 1) / 2); i = (i - 1) / 2
      }
      heapD(i) = d; heapV(i) = v
    }
    dist(srcIdx) = 0.0
    push(0.0, srcIdx)
    // After the last target settles at `doneLevel`, keep draining heap
    // entries AT that level: a zero-weight edge from an equal-dist vertex
    // could still lower a settled chain vertex's canonical pred. (For
    // positive weights every optimal in-edge vertex has strictly smaller
    // dist and settled earlier, so the canonical pred is already final.)
    var doneLevel = Double.NegativeInfinity
    while (size > 0 && (!bounded || remaining > 0 || heapD(0) <= doneLevel)) {
      val popD = heapD(0); val popV = heapV(0)
      size -= 1
      if (size > 0) { // sift the last leaf down from the root
        val ld = heapD(size); val lv = heapV(size)
        var i = 0
        var done = false
        while (!done) {
          var c = 2 * i + 1
          if (c >= size) done = true
          else {
            if (c + 1 < size && heapD(c + 1) < heapD(c)) c += 1
            if (heapD(c) < ld) { heapD(i) = heapD(c); heapV(i) = heapV(c); i = c }
            else done = true
          }
        }
        heapD(i) = ld; heapV(i) = lv
      }
      if (popD <= dist(popV)) {
        if (bounded && tFlags(popV)) {
          remaining -= 1
          if (remaining == 0) doneLevel = popD
        }
        var j = g.offsets(popV)
        val end = g.offsets(popV + 1)
        while (j < end) {
          val u = g.targets(j)
          val nd = popD + g.weights(j)
          if (nd < dist(u)) { dist(u) = nd; pred(u) = popV; push(nd, u) }
          // canonical equal-dist tie-break: smaller pred index wins (ids
          // are sorted, so index order IS global-id order — the same rule
          // TransitSssp.resolveState applies). Sources keep pred −1
          // (popV < −1 is never true). No re-push: dist is unchanged.
          // canonicalTies=false is the acyclicPreds retry: strict
          // improvements only, whose pred graph is always a tree.
          else if (canonicalTies && nd == dist(u) && popV < pred(u))
            pred(u) = popV
          j += 1
        }
      }
    }
    (dist, pred)
  }

  /** Label-correcting fixpoint (SPFA — Bellman–Ford with a worklist) over
    * the CSR: the exact in-heap twin of the distributed
    * iterate-to-fixpoint rounds for graphs carrying NEGATIVE edge
    * weights, where settle-once Dijkstra under-relaxes. The r14 capped
    * regime DECLINED such feeds back to the 335 s-class distributed
    * rounds; this runs them in-heap at the same budget (r15).
    *
    * Exactness and tie parity: the relaxation rule and the canonical
    * equal-dist smaller-pred-index tie-break are [[dijkstraCsr]]'s,
    * verbatim. Every distance improvement re-enqueues its vertex, so each
    * in-neighbor v of u relaxes u at least once AFTER dist(v) is final —
    * at the fixpoint dist is the true shortest distance and pred(u) is
    * the MIN-INDEX optimal in-neighbor (a non-optimal tentative pred
    * cannot survive: its equal-cost relaxation implies its final cost
    * ties or beats, else dist(u) drops and resets it). Hence outputs are
    * bit-identical to dijkstraCsr on non-negative inputs and to the
    * distributed fixpoint (same canonical rule) on negative-weight ones.
    *
    * No early termination: there is no settle invariant, so
    * target-bounded callers read the full fixpoint — the capped subgraph
    * is horizon-bounded and the worklist converges in O(V·E) worst case,
    * msec-class at the CSR edge budget. A vertex dequeued more than n
    * times proves a reachable negative cycle: no fixpoint exists and
    * [[NegativeCycleException]] aborts (time-expanded projections are
    * DAGs in the event clock, so this is a data-corruption guard, not a
    * live path). */
  private def spfaCsr(g: Csr, srcIdx: Int,
      canonicalTies: Boolean): (Array[Double], Array[Int]) = {
    val n = g.n
    val dist = Array.fill(n)(Double.PositiveInfinity)
    val pred = Array.fill(n)(-1)
    val inQueue = new Array[Boolean](n)
    val dequeues = new Array[Int](n)
    var queue = new Array[Int](math.max(1024, math.min(n, 1 << 16)))
    var head = 0; var tail = 0; var size = 0
    def enqueue(v: Int): Unit = {
      if (size == queue.length) { // grow, unwrapping the ring
        val bigger = new Array[Int](queue.length * 2)
        var i = 0
        while (i < size) { bigger(i) = queue((head + i) % queue.length); i += 1 }
        queue = bigger; head = 0; tail = size
      }
      queue(tail) = v
      tail += 1; if (tail == queue.length) tail = 0
      size += 1
      inQueue(v) = true
    }
    dist(srcIdx) = 0.0
    enqueue(srcIdx)
    while (size > 0) {
      val v = queue(head)
      head += 1; if (head == queue.length) head = 0
      size -= 1
      inQueue(v) = false
      dequeues(v) += 1
      if (dequeues(v) > n)
        throw new NegativeCycleException("no SSSP fixpoint: negative-total " +
          s"cycle reachable from vertex ${g.ids(srcIdx)}")
      val dv = dist(v)
      var j = g.offsets(v)
      val end = g.offsets(v + 1)
      while (j < end) {
        val u = g.targets(j)
        val nd = dv + g.weights(j)
        if (nd < dist(u)) {
          dist(u) = nd; pred(u) = v
          if (!inQueue(u)) enqueue(u)
        }
        // canonical equal-dist tie-break, dijkstraCsr's rule verbatim:
        // pred-only updates change no distance, so no re-enqueue.
        // canonicalTies=false is the acyclicPreds retry (see there).
        else if (canonicalTies && nd == dist(u) && v < pred(u)) pred(u) = v
        j += 1
      }
    }
    (dist, pred)
  }

  /** SSSP over an edge DataFrame (src: long, dst: long, weight: double),
    * returning (vertex_id, source_id, dist, pred). Adaptively picks local
    * Dijkstra vs distributed Pregel by edge count; results are identical
    * (both exact). `localThreshold = 0` forces Pregel. One-shot — for
    * repeated calls over the same edges hold a `Sssp`. */
  def fromDF(edges: DataFrame, sources: Set[Long],
      localThreshold: Long = LocalDijkstraMaxEdges): DataFrame =
    new Sssp(edges, localThreshold).run(sources)

  /** Driver-local multi-source Dijkstra over the CSR — same output contract
    * as the Pregel path: [[computeOnCsr]]'s per-source searches, rows in
    * sorted source order; a source absent from the edge list reports
    * itself at distance 0. */
  private def localDijkstraDF(spark: SparkSession, g: Csr,
      sources: Set[Long]): DataFrame = {
    import spark.implicits._
    val state = computeOnCsr(g, sources, None)
    val b = Array.newBuilder[(Long, Long, Double, Long)]
    sources.toSeq.sorted.foreach { src =>
      state.get(src) match {
        case None => b += ((src, src, 0.0, -1L))
        case Some((dist, pred)) =>
          var v = 0
          while (v < g.n) {
            if (!dist(v).isInfinity) {
              val p = if (pred(v) < 0) -1L else g.ids(pred(v))
              b += ((g.ids(v), src, dist(v), p))
            }
            v += 1
          }
      }
    }
    b.result().toSeq.toDF("vertex_id", "source_id", "dist", "pred")
  }
}
