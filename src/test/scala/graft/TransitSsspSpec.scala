package graft

import org.apache.spark.sql.functions._
import graft.graph.{ShortestPaths, TransitSssp}

/** Pins the transit-structured distributed SSSP (trip-collapse rounds) to
  * the generic engines on the demo projection: distances must equal the
  * hop-by-hop Pregel and the local CSR Dijkstra EXACTLY, and the resolved
  * predecessor chain must be a valid shortest-path tree (every non-seed's
  * pred is reached, monotone in dist, and pathDistributed walks it to the
  * source). GtfsEngineSpec's forced-distributed routing test additionally
  * pins full itineraries through this branch. */
class TransitSsspSpec extends SparkSpec {
  import spark.implicits._

  private lazy val g = {
    val gtfs = graft.api.DemoGtfs.tables(spark)
    val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0)
    graft.projection.TimeExpandedGraph.build(
      gtfs, java.sql.Date.valueOf("2024-01-18"), 1.0, walk)
  }

  private def changeEdges = g.edges.filter(col("type") === "CHANGE")

  test("distances equal generic Pregel and local Dijkstra, multi-source") {
    val sources = g.nodes.orderBy("id").limit(3).select("id")
      .as[Long].collect().toSet
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vertex_id", "source_id", "dist")
        .as[(Long, Long, Double)].collect().toSet
    val transit = TransitSssp.run(g.nodes, changeEdges, sources)
    val pregel = ShortestPaths.fromDF(g.weightedEdges, sources, localThreshold = 0)
    val local = ShortestPaths.fromDF(g.weightedEdges, sources,
      localThreshold = Long.MaxValue)
    assert(key(transit) == key(pregel))
    assert(key(transit) == key(local))
  }

  test("batched sparse tail (forced) equals the un-batched loop and Pregel") {
    // tailBatchMinBase = 0 forces the k-depth batched tail onto the
    // fixture graph (normally gated to ≥1M-row grids); distances and
    // predecessors must match the un-batched shape exactly.
    val sources = g.nodes.orderBy("id").limit(3).select("id")
      .as[Long].collect().toSet
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vertex_id", "source_id", "dist", "pred")
        .as[(Long, Long, Double, Long)].collect().toSet
    val unbatched = key(TransitSssp.run(g.nodes, changeEdges, sources))
    // r18: knobs forced per-instance, no global mutation
    val batched = key(new TransitSssp(g.nodes, changeEdges,
      tailBatchMinBase = 0L, tailLazyRounds = 0).run(sources))
    assert(batched == unbatched && batched.nonEmpty)
    val pregel = ShortestPaths.fromDF(g.weightedEdges, sources, localThreshold = 0)
      .select("vertex_id", "source_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    assert(batched.map(t => (t._1, t._2, t._3)) == pregel)
  }

  test("batch-pruned tail probes (forced) equal the unpruned shape") {
    // tailPruneForce bypasses the granularity gate so the chunked-In
    // t_b predicates run on the fixture's cached copies — every tail
    // probe goes through the pruned scan; results must be identical.
    // Run both with batching forced too, so pruned batch PULLS are
    // exercised alongside pruned pipelined rounds.
    val sources = g.nodes.orderBy("id").limit(3).select("id")
      .as[Long].collect().toSet
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vertex_id", "source_id", "dist", "pred")
        .as[(Long, Long, Double, Long)].collect().toSet
    val plain = key(TransitSssp.run(g.nodes, changeEdges, sources))
    // r18: knobs forced per-instance, no global mutation
    val pruned = key(new TransitSssp(g.nodes, changeEdges,
      tailPruneForce = true, tailLazyRounds = 0).run(sources))
    val prunedBatched = key(new TransitSssp(g.nodes, changeEdges,
      tailPruneForce = true, tailBatchMinBase = 0L, tailLazyRounds = 0)
      .run(sources))
    assert(pruned == plain && pruned.nonEmpty)
    assert(prunedBatched == plain)
  }

  test("pred chain is a valid shortest-path tree pathDistributed can walk") {
    val src = g.nodes.orderBy("id").limit(1).select("id").as[Long].head()
    val dist = TransitSssp.run(g.nodes, changeEdges, Set(src)).cache()
    try {
      val rows = dist.select("vertex_id", "dist", "pred")
        .as[(Long, Double, Long)].collect()
      val byId = rows.map(r => r._1 -> r).toMap
      rows.foreach { case (v, d, p) =>
        if (v == src) assert(p == -1L && d == 0.0)
        else {
          assert(p != -1L, s"non-seed $v lost its pred")
          val (_, pd, _) = byId(p)
          assert(pd <= d, s"pred of $v is farther than it: $pd > $d")
        }
      }
      // the farthest vertex walks back to the source
      val far = rows.maxBy(_._2)._1
      val path = ShortestPaths.pathDistributed(dist, src, far)
      assert(path.headOption.contains(src) && path.lastOption.contains(far))
      assert(path.toSet.subsetOf(rows.map(_._1).toSet))
    } finally dist.unpersist()
  }

  test("pathDistributed: bounded driver walk ≡ pointer doubling") {
    val src = g.nodes.orderBy("id").limit(1).select("id").as[Long].head()
    val dist = TransitSssp.run(g.nodes, changeEdges, Set(src)).cache()
    try {
      val reached = dist.select("vertex_id", "dist")
        .as[(Long, Double)].collect().sortBy(r => (r._2, r._1))
      // every reachable target, not just the farthest — short paths, the
      // 1-hop edge case, and the deepest chain all take both branches
      reached.map(_._1).foreach { tgt =>
        val walked = ShortestPaths.pathDistributed(dist, src, tgt,
          driverWalkMaxRows = Long.MaxValue)
        val doubled = ShortestPaths.pathDistributed(dist, src, tgt,
          driverWalkMaxRows = 0L)
        assert(walked == doubled, s"branch mismatch for target $tgt")
      }
      // unreachable target: both branches agree on Nil
      assert(ShortestPaths.pathDistributed(dist, src, -99L,
        driverWalkMaxRows = Long.MaxValue).isEmpty)
      assert(ShortestPaths.pathDistributed(dist, src, -99L,
        driverWalkMaxRows = 0L).isEmpty)
    } finally dist.unpersist()
  }

  test("horizon-capped staged run equals the uncapped run within the cap") {
    // The cap prunes candidate merges whose absolute cost exceeds it —
    // exact for consumers reading only dists ≤ cap (cost is monotone along
    // time-expanded paths). Within-cap rows must be IDENTICAL (dist and
    // resolved pred chains); beyond-cap rows may be absent. The routing
    // engine's capped path is additionally pinned end-to-end by the
    // forced-distributed golden (gtfs_routing_distributed) and the
    // CanonicalTieSpec itinerary parity.
    val sources = g.nodes.orderBy("id").limit(2).select("id")
      .as[Long].collect().toSet
    val ts = new TransitSssp(g.nodes, changeEdges)
    val full = ts.staged(sources)
    val fullRows = full.distances.as[(Long, Long, Double)].collect().toSet
    full.release()
    // a cap that bisects the observed cost range exercises real pruning
    val cap = fullRows.map(_._3).toSeq.sorted.apply(fullRows.size / 2)
    val capped = ts.staged(sources, costCap = cap)
    val cappedRows = capped.distances.as[(Long, Long, Double)].collect().toSet
    capped.release()
    assert(fullRows.filter(_._3 <= cap).subsetOf(cappedRows),
      "capped run lost a within-cap distance")
    cappedRows.filter(_._3 <= cap).foreach { r =>
      assert(fullRows.contains(r), s"capped run invented/changed $r")
    }
    // cap × batched-tail interaction: the cost-cap filter runs inside the
    // batched inner rounds too — force the batch path and re-check
    val cappedBatched = {
      // r18: batch path forced per-instance, no global mutation
      val tsB = new TransitSssp(g.nodes, changeEdges,
        tailBatchMinBase = 0L, tailLazyRounds = 0)
      val st = tsB.staged(sources, costCap = cap)
      val rows = st.distances.as[(Long, Long, Double)].collect().toSet
      st.release(); rows
    }
    assert(cappedBatched == cappedRows,
      "batched capped run diverged from the un-batched capped run")
  }

  test("run-scoped capped CHANGE slice (forced) equals the shared-pin path") {
    // r13: clock-capped runs above the node-count gate build a
    // horizon-bounded CHANGE slice + position pin instead of forcing the
    // whole-day pin. At fixture scale the gate keeps the shared pin, so
    // force the slice path (min-nodes 0) and pin distances AND resolved
    // pred chains against the default path under the SAME clock cap.
    val sources = g.nodes.orderBy("id").limit(2).select("id")
      .as[Long].collect().toSet
    val ts = new TransitSssp(g.nodes, changeEdges)
    val clk = g.nodes.select(col("dep_secs").cast("double"))
      .as[Double].collect().sorted.apply(g.nodes.count().toInt / 2)
    def rows(st: TransitSssp#Staged) = {
      val d = st.distances.as[(Long, Long, Double)].collect().toSet
      val p = st.resolve(sources.min)
        .as[(Long, Long, Double, Long)].collect().toSet
      st.release(); (d, p)
    }
    val viaShared = rows(ts.staged(sources, clockCap = clk))
    // pad 1 s: the sliced run's padded grid then equals the shared-pin
    // run's exact-capped grid, so the comparison below can stay strict
    // (r14 — capped runs iterate over the bucket's position pin; the
    // production pad's superset semantics are pinned by the capped-CSR
    // parity test and GtfsEngineSpec's dirty-feed divergence test).
    // r18: forced per-instance, no global mutation.
    val tsSlice = new TransitSssp(g.nodes, changeEdges,
      cappedSliceMinNodes = 0L, cappedSlicePadSecs = 1L)
    val viaSlice = rows(tsSlice.staged(sources, clockCap = clk))
    assert(viaSlice._1 == viaShared._1,
      "capped-slice distances diverged from the shared-pin path")
    assert(viaSlice._2 == viaShared._2,
      "capped-slice pred resolution diverged from the shared-pin path")
  }

  test("capped-CSR run (forced) pins target distances and paths to the capped slice path") {
    // r14: the driver-CSR image of the capped subgraph must agree with the
    // distributed capped run on every within-cap distance AND on resolved
    // paths (shared canonical tie-break). Targets = every within-cap node,
    // so the early-termination path runs to full settlement.
    val sources = g.nodes.orderBy("id").limit(2).select("id")
      .as[Long].collect().toSet
    // forced gates per-instance (r18): huge CSR budget + zeroed node floor
    val ts = new TransitSssp(g.nodes, changeEdges,
      cappedCsrMaxEdges = 1L << 40, cappedSliceMinNodes = 0L)
    val clk = g.nodes.select(col("dep_secs").cast("double"))
      .as[Double].collect().sorted.apply(g.nodes.count().toInt / 2)
    val targets = g.nodes.filter(col("dep_secs") <= clk).select("id")
      .as[Long].collect().toSet
    val (csrRows, csrPath, pathKey) = {
      val run = ts.runForTargetsCapped(sources, targets, clk)
        .getOrElse(fail("forced capped-CSR run did not engage"))
      val rows = run.distances.select("vertex_id", "source_id", "dist")
        .as[(Long, Long, Double)].collect().toSet
      // deepest reached target of the smallest source — the longest chain
      val (far, src) = rows.filter(_._2 == sources.min) match {
        case s if s.nonEmpty => val m = s.maxBy(r => (r._3, r._1)); (m._1, m._2)
        case _ => fail("capped-CSR run reached no targets")
      }
      (rows, run.path(src, far), (src, far))
    }
    val st = ts.staged(sources, clockCap = clk)
    val distRows = st.distances.select("vertex_id", "source_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    val distPath = ShortestPaths.pathDistributed(
      st.resolve(pathKey._1), pathKey._1, pathKey._2)
    st.release()
    assert(csrRows == distRows,
      "capped-CSR distances diverged from the capped distributed run")
    assert(csrPath == distPath,
      "capped-CSR path diverged from the capped distributed run")
    assert(csrPath.size >= 2)
  }

  test("position-enriched CHANGE edges give the same distances as the raw 5-column list") {
    // r14: above the stat floor the projection carries positions/w_rel/
    // d_acum on CHANGE edges so the whole-day slice pin needs no position
    // joins; the legacy join build stays for raw edge lists and
    // under-floor feeds. Both pin paths must agree exactly — uncapped AND
    // through the capped-slice machinery (whose enriched branch restricts
    // by id semi-joins instead of position joins).
    val gE = {
      val gtfs = graft.api.DemoGtfs.tables(spark)
      val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0)
      // forced-enrichment floor per call (r18 — no global mutation)
      graft.projection.TimeExpandedGraph.build(
        gtfs, java.sql.Date.valueOf("2024-01-18"), 1.0, walk,
        enrichMinStatBytes = 0L)
    }
    assert(gE.changeEnriched.columns.contains("w_rel"),
      "forced floor did not produce enriched edges")
    assert(!g.changeEnriched.columns.contains("w_rel"),
      "default floor should keep fixture-scale feeds un-enriched")
    val sources = g.nodes.orderBy("id").limit(2).select("id")
      .as[Long].collect().toSet
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vertex_id", "source_id", "dist", "pred")
        .as[(Long, Long, Double, Long)].collect().toSet
    val enriched = key(TransitSssp.run(gE.nodes, gE.changeEnriched, sources))
    val legacy = key(TransitSssp.run(g.nodes, changeEdges, sources))
    assert(enriched == legacy && enriched.nonEmpty)
    // capped: enriched slice build (forced) vs the legacy instance's
    val clk = g.nodes.select(col("dep_secs").cast("double"))
      .as[Double].collect().sorted.apply(g.nodes.count().toInt / 2)
    def capped(n: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame) = {
      val st = new TransitSssp(n, c, cappedSliceMinNodes = 0L)
        .staged(sources, clockCap = clk)
      val r = st.distances.select("vertex_id", "source_id", "dist")
        .as[(Long, Long, Double)].collect().toSet
      st.release(); r
    }
    val (cE, cL) =
      (capped(gE.nodes, gE.changeEnriched), capped(g.nodes, changeEdges))
    assert(cE == cL && cE.nonEmpty,
      "enriched capped-slice distances diverged from the legacy build")
    gE.unpersist()
  }

  test("empty sources and unreachable seeds degrade gracefully") {
    assert(TransitSssp.run(g.nodes, changeEdges, Set.empty).isEmpty)
    // a seed absent from the projection still reports itself at dist 0
    val out = TransitSssp.run(g.nodes, changeEdges, Set(-42L))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(out == Seq((-42L, -42L, 0.0, -1L)))
  }

  test("cap buckets are shared within a pad - the memo's lifetime bound (r15)") {
    // The long-lived-service memory story rests on the bucket key space
    // being ceil(cap / pad): two caps inside one pad window must
    // materialize ONE bucket (slice + CSR shared), a third in the next
    // window a second — so a service's residency is bounded by the
    // service-day span over the pad, never by call count.
    val ts = new TransitSssp(g.nodes, changeEdges,
      cappedSliceMinNodes = 0L, cappedSlicePadSecs = 3600L)
    val sources = g.nodes.orderBy("id").limit(1).select("id")
      .as[Long].collect().toSet
    try {
      def run(cap: Double): Unit = {
        val st = ts.staged(sources, clockCap = cap); st.distances.count()
        st.release()
      }
      run(15 * 3600.0 + 100); run(15 * 3600.0 + 900) // same pad window
      assert(ts.cappedBucketCount == 1,
        s"same-pad caps must share one bucket, got ${ts.cappedBucketCount}")
      run(17 * 3600.0 + 100) // next window
      assert(ts.cappedBucketCount == 2)
    } finally ts.releasePins()
  }

  test("negative-weight edge list: in-heap fixpoint equals Pregel (r15 SPFA)") {
    // A negative-weight DAG where the greedy settle-once answer is WRONG
    // (1→2 direct costs 5, via 3 costs −2): the local regime must now
    // dispatch to the label-correcting fixpoint and match the Pregel
    // fixpoint exactly, pred tie-breaks included. Before r15 the local
    // branch silently ran Dijkstra here.
    val edges = Seq(
      (1L, 2L, 5.0), (1L, 3L, 2.0), (3L, 2L, -4.0),
      (2L, 4L, 1.0), (3L, 4L, 10.0), (4L, 5L, -1.0))
      .toDF("src", "dst", "weight")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("vertex_id", "source_id", "dist", "pred")
        .as[(Long, Long, Double, Long)].collect().toSet
    val local = key(ShortestPaths.fromDF(edges, Set(1L),
      localThreshold = Long.MaxValue))
    val pregel = key(ShortestPaths.fromDF(edges, Set(1L), localThreshold = 0))
    assert(local == pregel)
    assert(local.contains((2L, 1L, -2.0, 3L)), s"wrong fixpoint: $local")
    assert(local.contains((5L, 1L, -2.0, 4L)))
  }

  test("zero-total cycle in the transit fixpoint: acyclic re-resolution routes where the canonical walk cycles (r16)") {
    // Mixed ride/change cycle of total weight EXACTLY zero (dirty clock:
    // T1's second arrival runs 10 s backward; 10 →ride 11 →change 12
    // →change 10 sums −10 + 4 + 6 = 0), with the seed's direct entries
    // tying every member — the canonical min-pred selection then picks
    // each member's cycle predecessor (ids 10/11/12 sort below the seed
    // 100) and the distributed walk throws. The level-layered
    // re-resolution (resolveAcyclic) must return the SAME distances with
    // an acyclic tree, and the walk must reach every member.
    val nodes = Seq(
      (100L, "T0", 1, 0, 0),
      (10L, "T1", 1, 100, 100),
      (11L, "T1", 2, 90, 90), // arr 90 < prev dep 100: ride weight −10
      (12L, "T2", 1, 50, 50))
      .toDF("id", "trip_id", "stop_sequence", "arr_secs", "dep_secs")
    val change = Seq(
      (100L, 10L, 5.0), (100L, 11L, -5.0), (100L, 12L, -1.0),
      (11L, 12L, 4.0), (12L, 10L, 6.0))
      .toDF("source", "target", "waiting_time")
    val ts = new TransitSssp(nodes, change)
    val st = ts.staged(Set(100L))
    try {
      val canonical = st.resolve(100L).cache()
      val distRows = canonical.select("vertex_id", "dist")
        .as[(Long, Double)].collect().toMap
      assert(distRows == Map(100L -> 0.0, 10L -> 5.0, 11L -> -5.0, 12L -> -1.0))
      // the canonical selection must realize the cycle (fixture precondition)
      val preds = canonical.select("vertex_id", "pred")
        .as[(Long, Long)].collect().toMap
      assert(preds(10L) == 12L && preds(12L) == 11L && preds(11L) == 10L,
        s"fixture no longer canonically cyclic: $preds")
      assertThrows[ShortestPaths.PredCycleException] {
        ShortestPaths.pathDistributed(canonical, 100L, 10L)
      }
      canonical.unpersist()
      // the repair: same distances, acyclic tree, every member walks home
      val repaired = st.resolveAcyclic(100L).cache()
      val rDist = repaired.select("vertex_id", "dist")
        .as[(Long, Double)].collect().toMap
      assert(rDist == distRows, "acyclic re-resolution changed distances")
      assert(ShortestPaths.pathDistributed(repaired, 100L, 10L) ==
        List(100L, 10L))
      assert(ShortestPaths.pathDistributed(repaired, 100L, 11L) ==
        List(100L, 10L, 11L))
      assert(ShortestPaths.pathDistributed(repaired, 100L, 12L) ==
        List(100L, 12L))
      repaired.unpersist()
    } finally {
      st.release()
      ts.releasePins()
    }
  }

  test("zero-total cycle: canonical ties have no tree - in-heap repairs, distributed walk fails clean") {
    // On a zero-total cycle every member's dist ties, and the canonical
    // min-pred rule picks each member's cycle predecessor — the canonical
    // pred assignment IS a cycle, so no tie-break tweak can fix it; the
    // r15 dirty-hub measurement found exactly this (mixed CHANGE/PRECEDES
    // cycles on clock-inconsistent feeds telescope to zero). Ids chosen
    // so the source (100) sorts ABOVE the cycle members: each member's
    // min-index optimal in-neighbor is then its cycle predecessor.
    val edges = Seq(
      (100L, 10L, 5.0), (100L, 11L, 5.0), (100L, 12L, 5.0),
      (10L, 11L, 0.0), (11L, 12L, 0.0), (12L, 10L, 0.0))
      .toDF("src", "dst", "weight")
    // in-heap: acyclicPreds detects the canonical cycle and reruns with
    // strict-improvement preds — distances exact, pred walk terminates
    val local = ShortestPaths.fromDF(edges, Set(100L),
      localThreshold = Long.MaxValue)
      .select("vertex_id", "source_id", "dist", "pred")
      .as[(Long, Long, Double, Long)].collect()
    assert(local.filter(_._1 != 100L).forall(_._3 == 5.0))
    val preds = local.map(r => r._1 -> r._4).toMap
    Seq(10L, 11L, 12L).foreach { v0 =>
      var v = v0; var steps = 0
      while (v != -1L && steps < 10) { v = preds.getOrElse(v, -1L); steps += 1 }
      assert(v == -1L, s"pred chain from $v0 did not reach the source")
    }
    // distributed: the Pregel fixpoint's canonical merge emits the cyclic
    // preds; the walk must fail with the pointed error, not spin
    val pregel = ShortestPaths.fromDF(edges, Set(100L), localThreshold = 0)
    assert(pregel.select("vertex_id", "dist")
      .as[(Long, Double)].collect().filter(_._1 != 100L).forall(_._2 == 5.0))
    val cyclic = pregel.filter(col("vertex_id") === 10L && col("pred") === 12L)
      .count() == 1
    if (cyclic) // the canonical fixpoint realized the cycle — pin the guard
      assertThrows[IllegalStateException] {
        ShortestPaths.pathDistributed(pregel, 100L, 10L)
      }
  }

  test("randomized: acyclic re-resolution matches canonical distances and walks home (r16)") {
    // The fixed fixture pins the repair TRIGGER (a realized zero-total
    // cycle); this randomized twin pins the re-resolution's EXACTNESS
    // surface — the level BFS over tight edges and the (lev, seq)
    // selection — across random transit shapes with dirty (negative)
    // ride weights and heavy ties: distances must equal the canonical
    // resolution's bit for bit, and every reached vertex must walk to
    // the source. Change weights are kept ≥ trip-ride losses so no
    // negative-total cycle can form (cycle total = Σ changes ≥ 40 each
    // + Σ rides ≥ −30 per trip segment, and every cycle alternates).
    val rnd = new scala.util.Random(5)
    for (trial <- 1 to 3) {
      val nTrips = 4 + rnd.nextInt(3)
      var id = 100L
      val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Int, Int, Int)]
      for (t <- 0 until nTrips) {
        var clock = 100 + rnd.nextInt(50)
        val len = 2 + rnd.nextInt(3)
        for (seq <- 1 to len) {
          // dirty: ~1 in 3 arrivals rewind ≤ 30 s against the prev dep
          clock += (if (seq > 1 && rnd.nextInt(3) == 0) -rnd.nextInt(30)
            else 5 + rnd.nextInt(20))
          nodes += ((id, s"T$t", seq, clock, clock + rnd.nextInt(5)))
          id += 1
        }
      }
      val ids = nodes.map(_._1)
      val change = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      for (_ <- 0 until nodes.size * 2) {
        val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
        // small weight SET → tied equal-cost paths are common
        if (a != b) change += ((a, b, (40 + 10 * rnd.nextInt(3)).toDouble))
      }
      val seed = ids(rnd.nextInt(ids.size))
      val ts = new TransitSssp(
        nodes.toSeq.toDF("id", "trip_id", "stop_sequence", "arr_secs", "dep_secs"),
        change.toSeq.distinct.toDF("source", "target", "waiting_time"))
      val st = ts.staged(Set(seed))
      try {
        def distKey(df: org.apache.spark.sql.DataFrame) =
          df.select("vertex_id", "dist").as[(Long, Double)].collect().toSet
        val canonical = st.resolve(seed)
        val repaired = st.resolveAcyclic(seed).cache()
        assert(distKey(repaired) == distKey(canonical),
          s"trial $trial: acyclic distances diverged")
        val reachedIds = repaired.select("vertex_id").as[Long].collect()
        reachedIds.foreach { v =>
          val p = ShortestPaths.pathDistributed(repaired, seed, v)
          assert(p.headOption.contains(seed) && p.lastOption.contains(v),
            s"trial $trial: walk to $v did not span $seed -> $v")
        }
        repaired.unpersist()
      } finally {
        st.release()
        ts.releasePins()
      }
    }
  }

  test("reachable negative-total cycle aborts the in-heap fixpoint") {
    val edges = Seq(
      (1L, 2L, 1.0), (2L, 3L, -5.0), (3L, 2L, 1.0), (2L, 4L, 1.0))
      .toDF("src", "dst", "weight")
    assertThrows[ShortestPaths.NegativeCycleException] {
      ShortestPaths.fromDF(edges, Set(1L), localThreshold = Long.MaxValue)
        .collect()
    }
  }

  test("dirty feed with negative within-cap Δacum: capped CSR serves in-heap with parity (r15)") {
    // A trip whose intermediate arrival clock runs BACKWARD (arr(u) <
    // dep(u−1)) puts a negative PRECEDES weight inside the cap. r14
    // declined the CSR here and hub topologies paid the 335 s-class
    // distributed rounds; r15 keeps the run in-heap through the exact
    // label-correcting fixpoint. Pinned: (a) the negative-served counter
    // proves the SPFA path ran, (b) distances AND the resolved path match
    // the capped distributed rounds exactly.
    import graft.functions.TimeFunctions.secondsSinceMidnight
    val agency = Seq(("A", "http://example.org", "Europe/Rome"))
      .toDF("agency_name", "agency_url", "agency_timezone")
    val routes = Seq(("R1", "1", "L1", 3), ("R2", "2", "L2", 3))
      .toDF("route_id", "short_name", "route_long_name", "route_type")
    val trips = Seq(("R1", "S1", "TA"), ("R2", "S1", "TB"))
      .map { case (r, s, t) => (r, s, t, "0", "SH", "h") }
      .toDF("route_id", "service_id", "trip_id", "direction_id", "shape_id",
        "trip_headsign")
    val stops = Seq(
      ("SA", "Sa", 44.60, 10.90), ("SB", "Sb", 44.61, 10.90),
      ("SC", "Sc", 44.62, 10.90), ("SD", "Sd", 44.63, 10.91),
      ("SE", "Se", 44.64, 10.92))
      .toDF("stop_id", "stop_name", "stop_lat", "stop_lon")
    val stopTimes = Seq(
      ("TA", "14:00:00", "14:00:00", "SA", 1),
      ("TA", "14:20:00", "14:21:00", "SB", 2),
      ("TA", "14:10:00", "14:30:00", "SC", 3), // arr 14:10 < prev dep 14:21
      ("TA", "14:40:00", "14:41:00", "SD", 4),
      ("TB", "14:38:00", "14:40:00", "SB", 1),
      ("TB", "14:55:00", "14:56:00", "SE", 2))
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id", "stop_sequence")
      .withColumn("arr_secs", secondsSinceMidnight(col("arrival_time")))
      .withColumn("dep_secs", secondsSinceMidnight(col("departure_time")))
    val calendar = Seq(("S1", java.sql.Date.valueOf("2024-01-18"), "1"))
      .toDF("service_id", "day", "exception_type")
    val gtfs = graft.model.GtfsTables(agency, routes, trips, stops,
      stopTimes, calendar)
    val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0)
    val gD = graft.projection.TimeExpandedGraph.build(
      gtfs, java.sql.Date.valueOf("2024-01-18"), 1.0, walk)
    val ts = new TransitSssp(gD.nodes,
      gD.edges.filter(col("type") === "CHANGE"),
      cappedCsrMaxEdges = 1L << 40, cappedSliceMinNodes = 0L)
    // seed at TA's head so the negative intra-trip hop is ON the reached
    // chain (an id-ordered pick can land on a terminal row)
    val sources = gD.nodes
      .filter(col("trip_id") === "TA" && col("stop_sequence") === 1)
      .select("id").as[Long].collect().toSet
    val clk = 15.0 * 3600 // every row is within cap — the Δacum too
    val targets = gD.nodes.filter(col("dep_secs") <= clk).select("id")
      .as[Long].collect().toSet
    val (csrRows, csrPath, pathKey) = {
      val run = ts.runForTargetsCapped(sources, targets, clk)
        .getOrElse(fail("dirty-feed capped run did not engage the CSR"))
      assert(ts.evidence.cappedCsrNegativeServed.get() == 1L,
        "the run did not take the negative-weight in-heap path")
      val rows = run.distances.select("vertex_id", "source_id", "dist")
        .as[(Long, Long, Double)].collect().toSet
      val (far, src) = rows.filter(_._2 == sources.min) match {
        case s if s.nonEmpty => val m = s.maxBy(r => (r._3, r._1)); (m._1, m._2)
        case _ => fail("dirty-feed capped run reached no targets")
      }
      (rows, run.path(src, far), (src, far))
    }
    val st = ts.staged(sources, clockCap = clk)
    val distRows = st.distances.select("vertex_id", "source_id", "dist")
      .as[(Long, Long, Double)].collect().toSet
    val distPath = ShortestPaths.pathDistributed(
      st.resolve(pathKey._1), pathKey._1, pathKey._2)
    st.release()
    assert(csrRows == distRows,
      "dirty-feed CSR distances diverged from the capped distributed run")
    assert(csrPath == distPath,
      "dirty-feed CSR path diverged from the capped distributed run")
    assert(csrPath.size >= 2)
    gD.unpersist()
  }

  test("fixture-scale pins read as one task and still release (r21 TinyPinRows)") {
    // A fixture graph's static pins lay out at numShufflePartitions but
    // carry a handful of rows — the per-round joins were launching
    // 32 near-empty map tasks per pin per round. The tiny-pin gate wraps
    // them in coalesce(1): one task per scan, SinglePartition satisfies
    // every join distribution, and the release path still reaches the
    // checkpoint blocks through the wrapper.
    val sources = g.nodes.orderBy("id").limit(1).select("id")
      .as[Long].collect().toSet
    val ts = new TransitSssp(g.nodes, changeEdges)
    try {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val run = ts.run(sources) // forces prepared + change
      assert(run.count() > 0)
      assert(ts.preparedRowCount > 0 &&
        ts.preparedRowCount <= TransitSssp.TinyPinRows,
        s"demo projection should be fixture-scale, got ${ts.preparedRowCount}")
      assert(ts.changeRowCount > 0 &&
        ts.changeRowCount <= TransitSssp.TinyPinRows)
      assert(ts.prepared.rdd.getNumPartitions == 1,
        "a tiny prefix pin must scan as ONE task")
      val pinned = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(pinned.nonEmpty)
      ts.releasePins()
      val released = pinned -- spark.sparkContext.getPersistentRDDs.keySet
      // the run's RESULT checkpoint legitimately stays alive; the two
      // static pins (prepared + change) must be gone despite the wrapper
      assert(released.size >= 2,
        s"releasePins must drop the coalesce-wrapped pins' storage " +
          s"(released ${released.size} of ${pinned.size})")
    } finally ts.releasePins()
  }

  test("tinyCoalesce keeps the full layout above the row bound (r21)") {
    import org.apache.spark.sql.functions.col
    val big = spark.range(TransitSssp.TinyPinRows + 1).toDF("v")
      .repartition(7, col("v")).localCheckpoint(true)
    assert(TransitSssp.tinyCoalesce(big, TransitSssp.TinyPinRows + 1)
      .rdd.getNumPartitions == 7,
      "above the bound the pin layout must be untouched")
    assert(TransitSssp.tinyCoalesce(big, TransitSssp.TinyPinRows)
      .rdd.getNumPartitions == 1)
    assert(TransitSssp.tinyCoalesce(big, -1L).rdd.getNumPartitions == 7,
      "an unknown row count must never coalesce")
    org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint(big)
  }
}
