package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Betweenness centrality — the reference's `gds.betweenness.stream` over
  * the projected routing graph (`main.py:46-60`, SURVEY §2.8 G3).
  *
  * Brandes' algorithm on unweighted shortest paths (GDS's default). Two
  * regimes, keyed on whether the GRAPH (not the pivot set) fits in one
  * task's memory:
  *
  *  - '''graph-fits (≤ 2M edges, same bound as SSSP's CSR gate)''': the
  *    canonical cluster shape for sampled Brandes is PIVOT parallelism —
  *    the graph is broadcast once as a compact CSR (forward + reverse,
  *    ~24 B/edge), the pivots are distributed, and each task runs the
  *    classic O(E)-per-pivot array sweep, emitting per-partition partial
  *    score vectors that one `groupBy(vertex).sum` reduces. Per-pivot work
  *    never touches the scheduler, so 256 pivots cost 256/cores × a few ms
  *    instead of one Spark job per BFS level (the level-synchronous loop
  *    runs the same 256 pivots in ~370 s at Modena cardinality; this
  *    regime in seconds). On a real cluster the pivots spread across
  *    executors — exactly how GDS parallelizes sampled betweenness.
  *  - '''graph-too-big''': a level-synchronous multi-source BFS in
  *    DataFrames: one forward sweep accumulating path counts (sigma) per
  *    (source, vertex), then a backward sweep over the BFS DAG
  *    accumulating dependencies (delta). All sources advance together, so
  *    the join count is O(diameter), not O(sources × diameter), and the
  *    per-level shuffle volume is FRONTIER-sized: the edge table is
  *    pinned once per sweep direction (repartition + sort + checkpoint),
  *    and visited-dedup is a per-vertex pivot BITMASK frame pinned on
  *    hash(v) — |V| rows and one bit per (pivot, vertex) — instead of a
  *    growing (source, vertex) pair relation re-shuffled every level.
  *    No single machine ever holds the graph — the only branch possible
  *    when the projection outgrows a broadcast.
  *
  * Exact when `sources` = all vertices; pass a sample for the standard
  * sampled approximation (scores scale by |V|/|sample|) — the right
  * trade-off at 100 TB scale where exact Brandes is O(V·E).
  */
object Betweenness {

  /** Below this edge count the graph is broadcast as a CSR and Brandes runs
    * pivot-parallel (one array sweep per pivot per task). Same bound as
    * [[ShortestPaths.LocalDijkstraMaxEdges]] — both answer "does the full
    * graph fit comfortably in one JVM's heap", and the reference's own
    * "distributed" GDS graph is a single-node in-memory CSR at exactly this
    * scale. Above it, the level-synchronous DataFrame branch takes over.
    * Immutable: [[ofProjection]] always starts from this bound, and
    * [[inHeapBudget]] is the one place that widens it. */
  private[graft] val CsrBrandesMaxEdges: Long =
    ShortestPaths.LocalDijkstraMaxEdges

  /** edges: (src: long, dst: long) directed. Returns (vertex_id, score). */
  def run(edges: DataFrame, sources: Seq[Long],
      localThreshold: Long = CsrBrandesMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().cache()
    // ONE bounded limit-collect decides the regime AND delivers the edges
    // (r20, guide §1: the previous count()-then-collect() ran two full
    // passes — the limit is threshold+1, so an over-threshold graph ships
    // at most one row past the budget before falling to level-sync).
    // Trade-off (r20 ADVICE): the limit can short-circuit mid-partition,
    // so an OVER-threshold decision may leave the distinct cache only
    // partially populated and the level-sync path re-shuffles the
    // unscanned remainder on first touch — accepted: the old count()
    // fully materialized the cache by paying a full extra pass on EVERY
    // call, over-threshold or not, which is the larger cost.
    val bound = math.min(localThreshold + 1L, Int.MaxValue.toLong).toInt
    val collected = e.limit(bound).as[(Long, Long)].collect()
    if (collected.length <= localThreshold) {
      e.unpersist()
      return runCsr(spark, collected, sources.distinct)
    }

    // Forward BFS, frontier rows (s: pivot index, v, sigma = #shortest
    // s→v paths). Iterative DataFrame loops grow the logical plan
    // exponentially if the lineage isn't cut — localCheckpoint (eager)
    // keeps each level's plan flat (the first uncut run OOM'd building
    // the plan STRING).
    //
    // Two structural choices keep per-level shuffle volume FRONTIER-sized
    // instead of graph- or state-sized (the previous shape shuffled the
    // full edge table AND a growing visited (s, v) pair relation every BFS
    // level — measured as a ~2.5 s/pivot slope at Modena cardinality,
    // COVERAGE.md betweenness section):
    //
    //  - The edge table is pinned ONCE per sweep direction —
    //    repartition(hash(key)) + sortWithinPartitions + eager local
    //    checkpoint (the TransitSssp change-slice pattern) — so every
    //    per-level join satisfies the merge join's distribution and
    //    ordering on the pinned side and only the level-sized side moves.
    //  - Visited-dedup needs one BIT per (pivot, vertex), not a pair row:
    //    a per-vertex bitmask frame (v, mask: array<long> of
    //    ceil(|pivots|/64) words — |V| rows regardless of pivot count)
    //    keyed on hash(v). Candidates test their pivot's bit with a
    //    codegen'd array/bit expression, and each level's new reaches
    //    fold in through a LEFT join. (The mask frame itself re-shuffles
    //    per level — |V| rows, the cheap side; loop-carried layout
    //    CLAIMS were tried and reverted: metadata induction through
    //    join/window flavors is unsound under AQE, see
    //    CheckpointBridge.rePin and the r11 parity bisect.) Pivots are
    //    densely re-indexed 0..k−1 for the bit math — scores aggregate
    //    the pivot away, so the original ids are never needed back.
    val bridge = org.apache.spark.sql.graftbridge.CheckpointBridge
    // every loop checkpoint drops its origin statistics (see flattenStats:
    // the state⋈state-derived recurrence otherwise DOUBLES the size
    // estimate's exponent per level — BigInteger overflow by level ~30)
    val n = spark.sessionState.conf.numShufflePartitions
    def ckptFlat(df: DataFrame): DataFrame =
      bridge.flattenStats(df.localCheckpoint(true))
    // checkpoint + re-attach the layout metadata AQE strips. The helper
    // ARRANGES the claimed repartition/sort itself right before the
    // checkpoint (CheckpointBridge.pinnedCheckpoint), so the claim is
    // true by construction — raw rePin's misuse mode (r11 ADVICE) is
    // structurally impossible here.
    def ckptPin(partCols: Seq[String], sortCols: Seq[String])(
        df: DataFrame): DataFrame =
      bridge.pinnedCheckpoint(df, n, partCols, sortCols,
        d => d.localCheckpoint(true))
    val eBySrc = e.transform(ckptPin(Seq("src"), Seq("src")))
    val srcList = sources.distinct
    val words = (srcList.size + 63) / 64
    val bitOfS = expr("shiftleft(1L, s % 64)")
    // delta-mask of a (s, v) pair set: (v, delta: array<long>[words])
    def maskDelta(pairs: DataFrame): DataFrame = pairs
      .select(col("v"), expr("s DIV 64").as("w"), bitOfS.as("b"))
      .groupBy("v", "w").agg(expr("bit_or(b)").as("bits"))
      .groupBy("v").agg(map_from_arrays(
        collect_list("w"), collect_list("bits")).as("m"))
      .select(col("v"), expr(
        s"transform(sequence(0, ${words - 1}), i -> coalesce(m[i], 0L))")
        .as("delta"))
    val initPairs = srcList.zipWithIndex
      .map { case (id, i) => (i, id) }.toDF("s", "v")
    var visitedBits = e.select(col("src").as("v"))
      .union(e.select(col("dst").as("v")))
      .union(srcList.toDF("v")).distinct()
      .join(maskDelta(initPairs), Seq("v"), "left")
      .select(col("v"),
        coalesce(col("delta"), expr(s"array_repeat(0L, $words)")).as("mask"))
      .transform(ckptPin(Seq("v"), Seq("v")))
    var frontier = initPairs.withColumn("sigma", lit(1.0))
      .transform(ckptPin(Seq("v"), Seq("v")))
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var frontierSize = frontier.count()
    while (frontierSize > 0) {
      // One Exchange per level: the raw expansion repartitions on hash(v),
      // which satisfies BOTH the (s, v) sigma aggregation (subset rule)
      // and the bitmask dedup join — and the surviving frontier leaves
      // partitioned AND sorted on v, so the next level's edge join is
      // Exchange-free on both sides.
      val next = frontier.join(eBySrc, frontier("v") === eBySrc("src"))
        .select(col("s"), col("dst").as("v"), col("sigma"))
        .repartition(n, col("v"))
        .groupBy("s", "v").agg(sum("sigma").as("sigma"))
        .join(visitedBits, Seq("v"))
        .filter(expr("(mask[s DIV 64] & shiftleft(1L, s % 64)) = 0"))
        .select(col("s"), col("v"), col("sigma"))
        .transform(ckptFlat)
      frontierSize = next.count()
      if (frontierSize > 0) {
        val grown = visitedBits
          .join(maskDelta(next.select("s", "v")), Seq("v"), "left")
          .select(col("v"), when(col("delta").isNull, col("mask"))
            .otherwise(expr("zip_with(mask, delta, (a, b) -> a | b)"))
            .as("mask"))
          .transform(ckptFlat)
        // the superseded mask frame is only ever read by the dedup join,
        // which now uses `grown`; the backward sweep reads `levels`/deltas,
        // never the masks — release it immediately.
        bridge.unpersistCheckpoint(visitedBits)
        visitedBits = grown
        levels += next
      }
      frontier = next
    }
    bridge.unpersistCheckpoint(visitedBits)
    bridge.unpersistCheckpoint(eBySrc)
    // Reverse-direction pin for the dependency sweep (delta flows across
    // DAG edges u→v probed BY v — the per-level join below keys on dst).
    val eByDst = e.transform(ckptPin(Seq("dst"), Seq("dst")))
    e.unpersist()

    // Backward sweep: delta(u) += sigma_u/sigma_v · (1 + delta(v)) over DAG
    // edges u→v with dist(v) = dist(u)+1, from the deepest level up.
    val maxLevel = levels.size - 1
    var scores = spark.emptyDataset[(Long, Double)].toDF("vertex_id", "score")
    var deltaNext: DataFrame = null // delta at level `lev` being consumed
    for (lev <- maxLevel to 1 by -1) {
      val vLevel = levels(lev).withColumnRenamed("sigma", "sigma_v")
      val withDelta =
        if (deltaNext == null) vLevel.withColumn("delta", lit(0.0))
        else vLevel.join(deltaNext, Seq("s", "v"), "left")
          .na.fill(0.0, Seq("delta"))
      // score contribution of the vertices at this level (excluding sources,
      // which only appear at level 0)
      scores = scores.unionByName(
        withDelta.groupBy(col("v").as("vertex_id"))
          .agg(sum("delta").as("score")))
      val uLevel = levels(lev - 1).withColumnRenamed("sigma", "sigma_u")
        .withColumnRenamed("v", "u")
      deltaNext = withDelta
        .join(eByDst, withDelta("v") === eByDst("dst"))
        .select(col("s"), col("src").as("u"), col("v"), col("sigma_v"), col("delta"))
        .join(uLevel, Seq("s", "u"))
        .select(col("s"), col("u").as("v"),
          (col("sigma_u") / col("sigma_v") * (col("delta") + 1.0)).as("part"))
        .groupBy("s", "v").agg(sum("part").as("delta"))
        .transform(ckptFlat)
    }
    bridge.unpersistCheckpoint(eByDst)
    scores.groupBy("vertex_id").agg(sum("score").as("score"))
  }

  /** Compact immutable graph for the broadcast: vertex ids sorted (index =
    * binarySearch), forward CSR for the BFS, reverse CSR for the dependency
    * sweep (delta flows to in-neighbors one BFS level up, so no per-vertex
    * predecessor lists need building). ~24 B/edge + 8 B/vertex. */
  private[graph] final case class BrandesCsr(ids: Array[Long],
      outOff: Array[Int], outAdj: Array[Int],
      inOff: Array[Int], inAdj: Array[Int]) {
    def indexOf(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    def n: Int = ids.length
  }

  private[graph] def buildCsr(edges: Array[(Long, Long)],
      extraIds: Seq[Long]): BrandesCsr = {
    val ids = (edges.iterator.flatMap(e => Iterator(e._1, e._2)) ++
      extraIds.iterator).toArray.distinct.sorted
    val n = ids.length
    def idx(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    val outOff = new Array[Int](n + 1)
    val inOff = new Array[Int](n + 1)
    edges.foreach { case (s, d) => outOff(idx(s) + 1) += 1; inOff(idx(d) + 1) += 1 }
    var i = 0
    while (i < n) { outOff(i + 1) += outOff(i); inOff(i + 1) += inOff(i); i += 1 }
    val outAdj = new Array[Int](edges.length)
    val inAdj = new Array[Int](edges.length)
    val outCur = java.util.Arrays.copyOf(outOff, n)
    val inCur = java.util.Arrays.copyOf(inOff, n)
    edges.foreach { case (s, d) =>
      val si = idx(s); val di = idx(d)
      outAdj(outCur(si)) = di; outCur(si) += 1
      inAdj(inCur(di)) = si; inCur(di) += 1
    }
    BrandesCsr(ids, outOff, outAdj, inOff, inAdj)
  }

  /** Pivot-parallel Brandes over a broadcast CSR. Each partition reuses one
    * set of working arrays across its pivots (resetting only the vertices
    * the previous BFS touched) and emits ONE partial score entry per
    * visited vertex — the shuffle is at most numSlices × |V| rows and the
    * map-side partial sum collapses it further. Matches `runLocal` exactly,
    * including the row set: every vertex some pivot's BFS visits (other
    * than that pivot itself) gets a row, zero-score or not. */
  private def runCsr(spark: SparkSession, edges: Array[(Long, Long)],
      sources: Seq[Long]): DataFrame = {
    import spark.implicits._
    val csr = buildCsr(edges, sources)
    val bc = spark.sparkContext.broadcast(csr)
    val pivotIdx = sources.map(csr.indexOf).filter(_ >= 0)
    val slices = math.max(1, math.min(pivotIdx.size,
      spark.sparkContext.defaultParallelism))
    val partials = spark.sparkContext.parallelize(pivotIdx, slices)
      .mapPartitions { pivots =>
        val g = bc.value
        val n = g.n
        if (!pivots.hasNext) Iterator.empty
        else {
          val dist = Array.fill(n)(-1)
          val sigma = new Array[Double](n)
          val delta = new Array[Double](n)
          val order = new Array[Int](n) // doubles as the BFS queue
          val score = new Array[Double](n)
          val visited = new Array[Boolean](n) // emitted-row mask
          pivots.foreach { s =>
            var qt = 0
            order(qt) = s; qt += 1; dist(s) = 0; sigma(s) = 1.0
            var qh = 0
            while (qh < qt) {
              val v = order(qh); qh += 1
              val dv1 = dist(v) + 1
              var i = g.outOff(v)
              val end = g.outOff(v + 1)
              while (i < end) {
                val u = g.outAdj(i)
                if (dist(u) < 0) { dist(u) = dv1; order(qt) = u; qt += 1 }
                if (dist(u) == dv1) sigma(u) += sigma(v)
                i += 1
              }
            }
            // Dependency sweep in reverse BFS order; order(0) == s is the
            // only vertex at dist 0, so stopping at index 1 excludes
            // exactly the current pivot (runLocal's `w != s`).
            var j = qt - 1
            while (j >= 1) {
              val w = order(j)
              val coef = (1.0 + delta(w)) / sigma(w)
              val dw1 = dist(w) - 1
              var i = g.inOff(w)
              val end = g.inOff(w + 1)
              while (i < end) {
                val v = g.inAdj(i)
                if (dist(v) == dw1) delta(v) += sigma(v) * coef
                i += 1
              }
              score(w) += delta(w); visited(w) = true
              j -= 1
            }
            // Reset only what this BFS touched — O(visited), not O(V).
            var k = 0
            while (k < qt) {
              val v = order(k); dist(v) = -1; sigma(v) = 0.0; delta(v) = 0.0
              k += 1
            }
          }
          Iterator.range(0, n).filter(visited(_))
            .map(i => (g.ids(i), score(i)))
        }
      }
    partials.toDF("vertex_id", "score")
      .groupBy("vertex_id").agg(sum("score").as("score"))
  }

  /** Classic single-machine Brandes (unweighted BFS variant) — identical
    * semantics to both distributed paths; serves as their test oracle. */
  def runLocal(edges: Array[(Long, Long)], sources: Seq[Long]): Map[Long, Double] = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val score = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    sources.distinct.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1.0).withDefaultValue(0.0)
      val preds = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
      val order = scala.collection.mutable.ArrayBuffer.empty[Long]
      val queue = scala.collection.mutable.Queue(s)
      while (queue.nonEmpty) {
        val v = queue.dequeue()
        order += v
        adj.getOrElse(v, Array.empty).foreach { u =>
          if (!dist.contains(u)) { dist(u) = dist(v) + 1; queue.enqueue(u) }
          if (dist(u) == dist(v) + 1) { sigma(u) += sigma(v); preds(u) = v :: preds(u) }
        }
      }
      val delta = scala.collection.mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      order.reverseIterator.foreach { w =>
        preds(w).foreach { v => delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w)) }
        if (w != s) score(w) += delta(w)
      }
    }
    score.toMap
  }

  /** Above this vertex count the default switches from exact Brandes
    * (O(V·E) — dead at Modena's 249k nodes, let alone 100×) to the standard
    * sampled approximation: `DefaultSampleSources` pivots picked by a
    * deterministic hash order, scores scaled by |V|/|sample|. */
  val ExactSourcesMaxVertices: Long = 5000L
  val DefaultSampleSources: Int = 256

  /** Betweenness of the projected routing graph joined back to stop names,
    * ordered by score (the reference's result shape, `main.py:54-58`).
    *
    * Default source policy: exact below `ExactSourcesMaxVertices` vertices,
    * sampled above (never an all-vertex collect on a big graph — the pivot
    * set reaches the driver via a TakeOrdered of `DefaultSampleSources`
    * ids, O(sample) not O(V)).
    *
    * Regime: ≤ `localThreshold` edges the graph broadcasts and Brandes
    * runs pivot-parallel over the CSR (via [[run]]); above it — the 100 TB
    * regime — the engine runs the generic level-synchronous distributed
    * Brandes. That is a MEASURED adjudication (COVERAGE.md betweenness
    * section): on the hop metric Brandes uses, shortest paths chain
    * through CHANGE edges liberally (a change costs 1 hop; measured
    * change-depth ≈ 34 at 1× Modena vs ≈ 12 for the weighted routing
    * metric), so a trip-collapse Brandes paid ~3 × 34 full-grid rounds
    * across its dist/sigma/delta phases — ≈ 12.5 s/pivot measured —
    * where the level-synchronous loop's ~600 cheap frontier rounds
    * amortize to ≈ 3.6 s/pivot at 64 pivots and ≈ 1.46 s/pivot at 256
    * at the same cardinality (r11 bitmask-dedup + pinned-edge rewrite;
    * rounds dominate, extra pivots ride almost free). The collapse that
    * wins for weighted transit SSSP (TransitSssp, round count 12-15)
    * loses here. The level-synchronous branch is spec-pinned to runLocal
    * (BetweennessSpec).
    *
    * `localThreshold`: None (the default) uses [[CsrBrandesMaxEdges]] and
    * lets the capped-budget rung widen the in-heap collect to
    * [[TransitSssp.cappedCsrMaxEdges]]; `Some(x)` is an EXACT caller bound
    * on the driver collect — never escalated (r16, r15 ADVICE: the
    * previous sentinel-by-value-equality made an explicit bound equal to
    * the default indistinguishable from it). `Some(x ≤ 0)` forces the
    * level-synchronous regime (the measurement convention). */
  def ofProjection(g: graft.projection.TimeExpandedGraph,
      sources: Option[Seq[Long]] = None, seed: Long = 42L,
      localThreshold: Option[Long] = None,
      /** r15: clock cap for WINDOWED betweenness — scores computed over
        * the subgraph of stoptimes departing at or before the cap (the
        * same horizon-bounded subgraph the capped routing regime
        * collects). ∞ (default) keeps whole-projection semantics. */
      clockCap: Double = Double.PositiveInfinity): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val windowed = !clockCap.isPosInfinity
    val scopeNodes =
      if (!windowed) g.nodes else g.nodes.filter(col("dep_secs") <= clockCap)
    val (srcs, scale) = sources match {
      case Some(s) => (s, 1.0)
      case None =>
        // ONE bounded limit-collect decides exact-vs-sampled AND delivers
        // the exact pivot set (r20 — the previous count()-then-collect()
        // paid two jobs over the node set in the exact case; the limit is
        // bound+1, so an over-bound graph ships one row past the budget,
        // then pays the count it always needed for the sample scale).
        val probe = scopeNodes.select("id")
          .limit(ExactSourcesMaxVertices.toInt + 1).as[Long].collect()
        if (probe.length <= ExactSourcesMaxVertices) (probe.toSeq, 1.0)
        else {
          val nVerts = if (windowed) scopeNodes.count() else g.nodeCount
          val sample = scopeNodes.select(col("id"))
            .orderBy(xxhash64(col("id"), lit(seed)))
            .limit(DefaultSampleSources).as[Long].collect().toSeq
          (sample, nVerts.toDouble / sample.size)
        }
    }
    val scopeEdges = {
      val e = g.edges.select(col("source").as("src"), col("target").as("dst"))
      if (!windowed) e
      else {
        // both endpoints within the cap — the capped router's subgraph
        // (the cap keeps rows by departure clock, so the semi-joins prune
        // exactly the rows the capped grid drops)
        val within = scopeNodes.select(col("id"))
        e.join(within.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
          .join(within.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
      }
    }
    // r15 (the router's capped-subgraph lever, applied to Brandes): between
    // the broadcast-CSR bound and the level-sync regime sits the rung where
    // the (possibly clock-capped) subgraph fits the SAME driver budget the
    // capped routing CSR uses — collect its topology once and run the
    // pivot-parallel in-heap sweep, identical scores to level-sync
    // (BetweennessSpec pins it), at ns/edge instead of ~600 scheduler
    // rounds (3× grid: 707.7 s level-sync → seconds; see COVERAGE).
    // Some(x ≤ 0) is the forced-level-sync measurement convention and
    // disables the rung, as does TransitSssp.cappedCsrMaxEdges = 0; feeds
    // over the budget keep level-sync — the only 100 TB-safe branch. The
    // rung only widens the DEFAULT (None) threshold: a caller-supplied
    // explicit bound keeps bounding the driver collect exactly — the
    // Option makes that distinction structural (r16; the r15 sentinel
    // compared by VALUE, so an explicit bound equal to the default
    // silently escalated).
    val scores = run(scopeEdges, srcs, inHeapBudget(g, localThreshold))
    scopeNodes.join(scores, scopeNodes("id") === scores("vertex_id"))
      .select(col("stop_name"), col("dep_secs"), col("lat"), col("lon"),
        (col("score") * scale).as("score"))
      .orderBy(col("score").desc, col("stop_name"), col("dep_secs"))
  }

  /** Edge budget of [[ofProjection]]'s driver collect: an explicit
    * `Some(x)` binds exactly (`x ≤ 0` forces level-sync); `None` widens
    * [[CsrBrandesMaxEdges]] to the PROJECTION's capped-CSR budget, so an
    * engine built with `cappedCsrMaxEdges = 0` disables the rung here as
    * it does in routing. */
  private[graft] def inHeapBudget(g: graft.projection.TimeExpandedGraph,
      localThreshold: Option[Long]): Long = localThreshold match {
    case Some(x) => math.max(x, 0L)
    case None => math.max(CsrBrandesMaxEdges, g.cappedCsrMaxEdges)
  }
}
