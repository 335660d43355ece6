package graft.tools

/** Dev-only: sampled-Brandes betweenness at the reference's graph
  * cardinality — the one diagnostic operator whose catalog oracle runs only
  * at fixture scale (`gtfs_betweenness`, 16 nodes). Builds the synthetic
  * Modena projection (250k stoptime nodes / ~973k edges), runs
  * `Betweenness.ofProjection` with its default source policy (256
  * hash-sampled pivots), and reports wall time plus the top rows.
  *
  * SPARK_GRAFT_BW_SOURCES overrides the pivot count.
  * SPARK_GRAFT_BW_REGIME picks the branch being measured:
  *  - "csr" (default): the edge count sits under CsrBrandesMaxEdges, so
  *    the pivot-parallel broadcast-CSR sweep runs. Since r15 this regime
  *    extends through the capped-CSR budget rung: a graph over the 2M
  *    bound but under TransitSssp.cappedCsrMaxEdges (3× = 2.9M edges)
  *    collects and sweeps in-heap instead of paying the level-sync rounds
  *    (the 707.7 s r14 point).
  *  - "levelsync": localThreshold forced to 0, so the same pivots run
  *    through the level-synchronous distributed Brandes — the >2M-edge
  *    DEFAULT (the measured adjudication in Betweenness.ofProjection's
  *    scaladoc). */
object TimeBetweenness {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(32)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(4).count()

    // SPARK_GRAFT_BW_SCALE picks the grid dimension (1× Modena = 50,
    // 3× = 87 → ≈2.9M projected edges, ABOVE the 2M CSR gate by
    // construction — the size where the level-sync regime engages on
    // its own threshold rather than by force).
    val dim = sys.env.getOrElse("SPARK_GRAFT_BW_SCALE", "50").toInt
    val raw =
      if (dim == 50) graft.etl.SyntheticGtfs.modena(spark)
      else graft.etl.SyntheticGtfs.grid(spark, dim, dim, 25,
        baseSecs = 5 * 3600, headwaySecs = 2300, hopSecs = 90,
        directions = 2, rowStepDeg = 0.0032)
    val g = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
    val eng = new graft.api.RoutingEngine(g)
    val proj = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
    val (nodes, edges) = (proj.nodeCount, proj.edgeCount)
    println(s"projection: $nodes nodes / $edges edges")

    // SPARK_GRAFT_BW_CAP (seconds since midnight) runs WINDOWED
    // betweenness over the horizon-bounded subgraph — read before the
    // pivot sample so explicit pivots draw from WITHIN the window
    // (ofProjection scores only the capped subgraph; out-of-window pivots
    // would be silently dropped and the printed pivot count would
    // overstate the run — r15 review).
    val cap = sys.env.get("SPARK_GRAFT_BW_CAP").map(_.toDouble)
      .getOrElse(Double.PositiveInfinity)
    val nSrc = sys.env.get("SPARK_GRAFT_BW_SOURCES").map(_.toInt)
    val sources = nSrc.map { k =>
      import spark.implicits._
      import org.apache.spark.sql.functions._
      proj.nodes.filter(col("dep_secs") <= cap)
        .select(col("id")).orderBy(xxhash64(col("id"), lit(42L)))
        .limit(k).as[Long].collect().toSeq
    }
    val regime = sys.env.getOrElse("SPARK_GRAFT_BW_REGIME", "csr")
    val threshold = regime match {
      case "levelsync" => Some(0L)
      case _ => None // default bound + the capped-budget rung
    }
    val t0 = System.nanoTime()
    // cached, then count()-forced as a DEFENSIVE measure: a limit(5) read
    // is not guaranteed to materialize every cached partition (CollectLimit
    // may stop early), in which case the digest agg below would compute
    // the remainder outside the timed section; the count forces all
    // partitions up front so both reads hit materialized blocks (r16
    // ADVICE: this is a sufficiency argument, not a claim about exactly
    // how much a limit materializes — that is a Spark implementation
    // detail this tool does not depend on).
    val out = graft.graph.Betweenness.ofProjection(proj, sources = sources,
        localThreshold = threshold, clockCap = cap).cache()
    out.count()
    val top = out.limit(5).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"sampled Brandes [$regime%s] " +
      f"(${nSrc.getOrElse(graft.graph.Betweenness.DefaultSampleSources)}%d pivots): $sec%.1f s")
    top.foreach(r => println(s"  $r"))
    // cross-regime parity digest: rows + score mass, FP-order-insensitive
    // (scores rounded to 1e-3 before summing) — two regimes on the same
    // pivot set must print the same line
    import org.apache.spark.sql.functions._
    // bit_xor, not sum: an ANSI-mode long sum over 700k+ hashes overflows
    val dig = out.agg(count(lit(1)),
      sum(round(col("score"), 3)), expr(
        "bit_xor(xxhash64(stop_name, dep_secs, round(score, 3)))")).head()
    println(s"digest rows=${dig.getLong(0)} scoreSum=${dig.get(1)} " +
      s"hash=${dig.get(2)}")
    eng.close()
    spark.stop()
  }
}
