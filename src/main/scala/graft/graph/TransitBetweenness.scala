package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Brandes betweenness specialized to the TIME-EXPANDED transit projection —
  * the production (>[[Betweenness.CsrBrandesMaxEdges]]) regime, where the
  * graph cannot be broadcast as a CSR and the generic level-synchronous
  * DataFrame BFS pays the projection's ~600-hop ride depth in scheduler
  * rounds (measured 1255 s for 256 pivots at Modena cardinality).
  * Re-expresses the reference's `gds.betweenness.stream`
  * (`main.py:46-60`) for graphs that outgrow one machine.
  *
  * The same structural fact [[TransitSssp]] exploits for weighted SSSP
  * collapses all three Brandes phases to LINE-CHANGE depth instead of hop
  * depth. With pos = row position within a trip, a within-trip ride chain
  * v→…→u costs pos(u) − pos(v) hops, so:
  *
  *  - '''dist''' (forward hop-BFS) is weighted SSSP with ride weight
  *    Δpos and change weight 1 — literally `TransitSssp.converge` fed
  *    position-valued arr/dep columns.
  *  - At the fixpoint, key(v) = dist(v) − pos(v) is non-increasing along
  *    each trip (else an earlier row would improve the later one), so
  *    each trip splits into maximal constant-key runs — '''blocks''' —
  *    and the within-trip shortest-path DAG is exactly the consecutive
  *    pairs inside each block: dist(v+1) = dist(v) + 1 iff
  *    key(v+1) = key(v). Every shortest path's prefix is shortest, so a
  *    ride used by any shortest path stays inside one block.
  *  - '''sigma''' (path counts): paths reach u either by a CHANGE edge
  *    into u (count = σ of the change source, when dist lines up) or by
  *    riding from an earlier same-block entry point, and the ride from
  *    each entry is unique — so σ(u) = Σ_{v ≤ u, same block} enter(v),
  *    an INCLUSIVE PREFIX SUM per block of
  *    enter(v) = [v is the pivot] + Σ_{DAG change c→v} σ(c).
  *    Iterated Jacobi-style: iteration k counts all shortest paths with
  *    ≤ k changes; counts are integers (exact in doubles), so the loop
  *    stops on exact no-row-changed, observed inside the checkpoint job.
  *  - '''delta''' (dependency sweep): with φ = δ/σ and
  *    ψ(v) = Σ_{DAG change v→w} (1 + δ(w))/σ(w), the in-block recurrence
  *    φ(v) = 1/σ(next) + φ(next) + ψ(v) unrolls to
  *    δ(v) = σ(v)·[ψ(v) + Σ_{u > v, same block} (1/σ(u) + ψ(u))] — an
  *    EXCLUSIVE SUFFIX SUM per block. Dependencies flow strictly down
  *    the DAG through ≤ C change edges (C = max changes on any shortest
  *    path), and sigma's observed iteration count is exactly C + 1, so
  *    delta runs that many fixed Jacobi rounds — no floating-point
  *    stability test needed (δ carries divisions, where an exact-equality
  *    stop could chatter).
  *
  * Each iteration of each phase is one block-window pass plus one join
  * through the CHANGE slice, both expressed against the pinned grid's own
  * layout (hash(trip_id)-compatible partitioning, (src, trip, pos) order)
  * — the grid never re-shuffles; only edge-candidate tables move. Pivots
  * run in batches that bound the (pivot × stoptime) grid; batches are
  * embarrassingly parallel in the score sum, the standard sampled-Brandes
  * cluster shape.
  *
  * Output matches [[Betweenness.runLocal]] exactly (BetweennessSpec pins
  * scores AND row set): one (vertex_id, score) row for every vertex some
  * pivot's BFS visits, other than that pivot itself — zero scores kept.
  */
object TransitBetweenness {
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Pivots per pass: bounds the working grid at batch × |stoptimes| rows
    * (Modena cardinality: 128 × 250k = 32M narrow rows across the
    * cluster). More pivots per batch amortize the per-round scheduling;
    * fewer bound executor memory — the knob a 100 TB deployment sizes to
    * its executor count. */
  val DefaultPivotBatch: Int = 128

  /** nodes: the projection's stoptime nodes (id, trip_id, stop_sequence);
    * changeEdges: the CHANGE slice (source, target) — PRECEDES structure
    * is implied by trip membership and never materialized as edges here.
    * Returns (vertex_id, score) summed over `sources` pivots. */
  def run(nodes: DataFrame, changeEdges: DataFrame, sources: Seq[Long],
      pivotBatch: Int = DefaultPivotBatch, maxIterations: Int = 1000): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    if (sources.isEmpty)
      return Seq.empty[(Long, Double)].toDF("vertex_id", "score")
    val rel = org.apache.spark.sql.graftbridge.CheckpointBridge.unpersistCheckpoint _

    // pos = dense row position within the trip — the ride-chain hop count
    // between two same-trip stoptimes is exactly Δpos (stop_sequence may
    // have gaps; PRECEDES links consecutive ROWS).
    val wTrip = Window.partitionBy("trip_id").orderBy("stop_sequence")
    val pos = nodes.select(col("id"), col("trip_id"), col("stop_sequence"))
      .withColumn("pos", row_number().over(wTrip).cast("long"))
      .select(col("id"), col("trip_id"), col("pos"))

    // Unweighted-BFS view: arr = dep = pos makes TransitSssp's per-trip
    // prefix weight 1 per consecutive pair; CHANGE hops cost 1. Betweenness
    // counts each parallel edge set once — dedup (the projection can carry
    // the same (source, target) CHANGE pair at two walk distances).
    val bfsNodes = pos.select(col("id"), col("trip_id"),
      col("pos").as("stop_sequence"), col("pos").as("arr_secs"),
      col("pos").as("dep_secs"))
    val change1 = changeEdges.select(col("source"), col("target")).distinct()
      .withColumn("waiting_time", lit(1L))
    val sssp = new TransitSssp(bfsNodes, change1)

    // CHANGE slice with BOTH endpoints' (trip, pos), pinned once per
    // probe direction pre-partitioned on the trip key the grid join uses —
    // so per-iteration joins move candidate aggregates only, never the
    // grid and never a re-shuffle of the static slice.
    val cb = change1.select(col("source").as("e_src"), col("target").as("e_dst"))
      .join(pos.select(col("id").as("e_src"), col("trip_id").as("s_trip"),
        col("pos").as("s_seq")), Seq("e_src"))
      .join(pos.select(col("id").as("e_dst"), col("trip_id").as("d_trip"),
        col("pos").as("d_seq")), Seq("e_dst"))
    val changeBySrc = cb.repartition(col("s_trip")).localCheckpoint(true)
    val changeByDst = cb.repartition(col("d_trip")).localCheckpoint(true)

    val blockW = Window.partitionBy("src", "trip_id", "key").orderBy("stop_sequence")
    val prefIncl = blockW.rowsBetween(Window.unboundedPreceding, 0)
    val sufExcl = blockW.rowsBetween(1, Window.unboundedFollowing)
    val stateCols = Seq("src", "trip_id", "stop_sequence", "dist", "key", "seed")

    val batches = sources.distinct.grouped(math.max(1, pivotBatch)).toSeq
    val batchScores = batches.map { batch =>
      // ---- forward: hop distances via trip-collapse SSSP ----
      val grid = sssp.converge(batch.toSet, maxIterations)
      // The grid's dist is REL (hop metric: A(u) = pos − 1, so
      // dist_abs = rel + pos − 1); key IS rel — exactly the block key the
      // prefix/suffix sums partition on. The pivot's own row is the only
      // one at abs distance 0 (every edge costs ≥ 1 hop), replacing the
      // old id === src seed test — the grid carries no ids.
      val state0 = grid.filter(col("dist").isNotNull)
        .withColumn("key", col("dist"))
        .withColumn("dist",
          col("dist") + (col("stop_sequence") - 1).cast("double"))
        .withColumn("seed", when(col("dist") === 0.0, 1.0).otherwise(0.0))
        .select(stateCols.map(col): _*)

      // ---- sigma: block prefix sums, iterate to exact stability ----
      var state = state0.withColumn("sigma", sum("seed").over(prefIncl))
        .localCheckpoint(true)
      rel(grid)
      var sigmaIters = 0
      var changed = -1L
      while (changed != 0L) {
        if (sigmaIters >= maxIterations) throw new IllegalStateException(
          s"TransitBetweenness sigma did not stabilize in $maxIterations rounds")
        val enters = state
          .join(changeBySrc, state("trip_id") === changeBySrc("s_trip") &&
            state("stop_sequence") === changeBySrc("s_seq"))
          .groupBy(state("src").as("b_src"), col("d_trip"), col("d_seq"),
            (state("dist") + 1.0).as("b_dist"))
          .agg(sum(col("sigma")).as("enterC"))
        val obs = org.apache.spark.sql.Observation(
          s"transit-bw-sigma-${obsSeq.incrementAndGet()}")
        val next = state.join(enters,
            state("src") === enters("b_src") &&
            state("trip_id") === enters("d_trip") &&
            state("stop_sequence") === enters("d_seq") &&
            state("dist") === enters("b_dist"), "left")
          .select(state("src"), state("trip_id"),
            state("stop_sequence"), state("dist"), state("key"), state("seed"),
            state("sigma").as("sigma_old"), col("enterC"))
          .withColumn("sigma",
            sum(col("seed") + coalesce(col("enterC"), lit(0.0))).over(prefIncl))
          .observe(obs, coalesce(sum((col("sigma") =!= col("sigma_old"))
            .cast("long")), lit(0L)).as("changed"))
          .select((stateCols :+ "sigma").map(col): _*)
          .localCheckpoint(true)
        changed = obs.get("changed").asInstanceOf[Long]
        rel(state)
        state = next
        sigmaIters += 1
      }

      // ---- delta: block suffix sums, sigmaIters (= maxChanges + 1)
      //      fixed Jacobi rounds ----
      var dstate = state.withColumn("delta", lit(0.0)).localCheckpoint(true)
      rel(state)
      for (_ <- 1 to sigmaIters) {
        val psi = dstate
          .join(changeByDst, dstate("trip_id") === changeByDst("d_trip") &&
            dstate("stop_sequence") === changeByDst("d_seq"))
          .groupBy(dstate("src").as("b_src"), col("s_trip"), col("s_seq"),
            (dstate("dist") - 1.0).as("b_dist"))
          .agg(sum((lit(1.0) + col("delta")) / col("sigma")).as("psiC"))
        val next = dstate.join(psi,
            dstate("src") === psi("b_src") &&
            dstate("trip_id") === psi("s_trip") &&
            dstate("stop_sequence") === psi("s_seq") &&
            dstate("dist") === psi("b_dist"), "left")
          .select(dstate("src"), dstate("trip_id"),
            dstate("stop_sequence"), dstate("dist"), dstate("key"),
            dstate("seed"), dstate("sigma"),
            coalesce(col("psiC"), lit(0.0)).as("psiV"))
          .withColumn("inner", lit(1.0) / col("sigma") + col("psiV"))
          .withColumn("delta", col("sigma") *
            (col("psiV") + coalesce(sum(col("inner")).over(sufExcl), lit(0.0))))
          .select((stateCols ++ Seq("sigma", "delta")).map(col): _*)
          .localCheckpoint(true)
        rel(dstate)
        dstate = next
      }

      // runLocal's row set: every visited vertex except the pivot itself
      // (the only abs-dist-0 row per pivot). Vertex ids rejoin AFTER the
      // aggregation — the joined frame is vertex-count-sized, not grid-
      // sized.
      val scores = dstate.filter(col("dist") =!= 0.0)
        .groupBy(col("trip_id"), col("stop_sequence"))
        .agg(sum("delta").as("score"))
        .join(pos.select(col("id"), col("trip_id"),
          col("pos").as("stop_sequence")), Seq("trip_id", "stop_sequence"))
        .select(col("id").as("vertex_id"), col("score"))
        .localCheckpoint(true)
      rel(dstate)
      scores
    }

    val result = batchScores.reduce(_.unionByName(_))
      .groupBy("vertex_id").agg(sum("score").as("score"))
      .localCheckpoint(true)
    batchScores.foreach(rel)
    rel(changeBySrc); rel(changeByDst)
    sssp.releasePins()
    result
  }
}
