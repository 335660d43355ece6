package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scaling-curve probe for the flagship projection path: build + route the
  * synthetic Modena network at 1×/3×/10× its stoptime cardinality
  * (SPARK_GRAFT_SCALES to override, e.g. "1,3" while iterating).
  *
  * Scaling dimension: NETWORK SIZE (grid rows/cols), not schedule density —
  * trips-per-route and headways stay at the Modena preset's values, so
  * per-(stop, route) schedule arrays keep ~25 entries and the probe
  * isolates how build cost grows with |stoptimes|. The schedule-probe
  * CHANGE generator claims ~linear growth (candidate volume is
  * |stoptimes| + one probe per (source × neighbor × route), no
  * ×departures-per-stop product term); this measures it.
  *
  * Grids: 1× = 50×50 (250,000 stoptimes — the Modena preset), 3× = 87×87
  * (756,900), 10× = 158×158 (2,496,400), 30× = 274×274 (7,507,600 — run
  * with SPARK_DRIVER_MEM=48g; the serialized+disk checkpoint path
  * actually spills here), 100× = 500×500 (25,000,000 / 85.6M edges —
  * probe-only recommended: SPARK_GRAFT_SCALE_PAIRS=none).
  *
  * Focused A/Bs: SPARK_GRAFT_SCALE_PAIRS selects routed pairs (0-based
  * comma list, or "none"); SPARK_GRAFT_SCALE_NOPROBE=1 skips the 1-source
  * probe block; SPARK_GRAFT_SCALE_NOPARITY=1 skips the CSR-twin parity
  * assert. Routing calls go through the horizon-capped staged path (the
  * production flow); the probe's sssp.run stays uncapped by contract, so
  * its column measures the raw full-table flood.
  *
  * SPARK_GRAFT_SCALE_REGIME picks the ROUTING branch being measured:
  *  - "csr" (default): ssspLocalThreshold raised to 100M edges so every
  *    size routes on the in-memory CSR — isolates build cost against one
  *    algorithm (the 10× projection is ~10M edges ≈ 240 MB of CSR, still
  *    trivially driver-resident). Run with SPARK_DRIVER_MEM=24g at 10×.
  *  - "distributed": the DEFAULT 2M-edge threshold, so 3×/10× route via
  *    Pregel multi-source SSSP + pointer-doubling path extraction
  *    (graph.ShortestPaths) — the branch that actually runs above the
  *    production threshold, i.e. at 100 TB. Extra columns split one pair's
  *    cost into the Pregel traversal (sssp.run) and the path extraction
  *    (pathDistributed); at the smallest measured scale the probe also
  *    routes one pair on a raised-threshold CSR twin and asserts the
  *    itineraries are IDENTICAL (branch parity at scale, not just at the
  *    fixture size of the forced-Pregel spec).
  */
object TimeScale {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(4).count() // scheduler warm-up

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }

    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val dims = Map(1 -> 50, 3 -> 87, 10 -> 158, 30 -> 274, 100 -> 500)
    val regime = sys.env.getOrElse("SPARK_GRAFT_SCALE_REGIME", "csr")
    val threshold = regime match {
      case "distributed" => graft.graph.ShortestPaths.LocalDijkstraMaxEdges
      case _ => 100000000L
    }

    // JIT/codegen warm-up at the smallest size so the 1× row doesn't carry
    // first-compile cost the larger rows then amortize (TimeBuild showed a
    // 2× cold-vs-warm gap on identical plans).
    locally {
      val g = graft.etl.SyntheticGtfs.grid(spark, 20, 20, 5, directions = 2,
        rowStepDeg = 0.0032)
      val eng = new graft.api.RoutingEngine(g, ssspLocalThreshold = threshold)
      eng.routing("2024-01-18", 1.0, "08:00:00", "Stop 0/0", "Stop 19/19").collect()
      eng.close()
    }

    println(s"regime: $regime (ssspLocalThreshold = $threshold)")
    var parityDone = false // once, at the smallest distributed-regime scale
    println(f"${"scale"}%-6s ${"stoptimes"}%10s ${"edges"}%10s ${"walkTo_s"}%9s " +
      f"${"build_s"}%8s ${"csr_s"}%6s ${"index_s"}%8s ${"route_s/pair"}%13s")
    for (sc <- scales) {
      val n = dims(sc)
      val raw = graft.etl.SyntheticGtfs.grid(spark, n, n, 25,
        baseSecs = 5 * 3600, headwaySecs = 2300, hopSecs = 90, directions = 2,
        rowStepDeg = 0.0032)
      val g = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
      val nStoptimes = g.stopTimes.count(); g.stops.count()
      val eng = new graft.api.RoutingEngine(g, ssspLocalThreshold = threshold)
      val (_, walkSec) = timed { eng.walkTo.count() }
      val day = java.sql.Date.valueOf("2024-01-18")
      val (proj, buildSec) = timed {
        val p = eng.projected(day, 1.0); p.edges.count(); p
      }
      val edges = proj.edges.count()
      val (isLocal, csrSec) = timed { proj.sssp.isLocal }
      val (_, idxSec) = timed { proj.localIndex.foreach(ix => { ix.byName; ix.stopDim }) }
      // three FIXED-SPAN OD name pairs (≈20 grid hops each, one transfer):
      // travel time stays inside the 4 h routing horizon, so the probe
      // measures per-call cost against graph size, not trip length. At 30×
      // the CENTER pair is expected to return an empty itinerary: the
      // generator's per-route stagger (route k shifted k×60–105 s) puts the
      // first boardable departure at Stop 137/137 at 10:43 and the last
      // in-window target departure at 11:51, with the earliest column leg at
      // row 137 passing 11:51:30 — no feasible connection under the
      // reference's temporal predicates (`main.py:80,91`). Both regimes
      // agree (adjudicated on the CSR twin, COVERAGE.md round 11); the
      // timing still measures the full flood + ranking, which is the cost
      // under test.
      // SPARK_GRAFT_SCALE_PAIRS=1 (comma list, 0-based) routes a subset —
      // focused A/Bs on one pair (e.g. the grid-center long-tail flood at
      // 30×) without paying the full three-pair campaign per knob setting.
      val allPairs = Seq(
        ("Stop 0/0", "Stop 10/10"),
        (s"Stop ${n / 2}/${n / 2}", s"Stop ${n / 2 + 10}/${n / 2 + 10}"),
        (s"Stop ${n / 4}/${n / 4}", s"Stop ${n / 4 + 5}/${n / 4 + 5}"))
      // "none" selects NO pairs — probe-only runs (e.g. the 100× point,
      // where one full multi-source route costs tens of minutes but the
      // 1-source probe is the scale-invariance signal being measured)
      val pairs = sys.env.get("SPARK_GRAFT_SCALE_PAIRS") match {
        case Some("none") => Seq.empty
        case Some(sel) => sel.split(",").map(_.trim.toInt).toSeq.map(allPairs)
        case None => allPairs
      }
      val csrServed0 = eng.evidence.cappedCsrServed.get()
      // per-pair split (r18, r17 verdict #7): the one-time capped-bucket
      // build (slice pin + CSR collect, memoized — re-paid only on cold
      // page cache) vs the pure routing component. The campaign's spread
      // gate reads the ROUTING component, so a cold-box first pair no
      // longer fails a gate about routing variance.
      val routeSplits = pairs.map { case (a, b) =>
        val build0 = eng.evidence.cappedBuildNanos.get()
        val (rows, s) = timed {
          eng.routing("2024-01-18", 1.0, "08:00:00", a, b).collect()
        }
        if (rows.isEmpty) println(s"WARN: no itinerary $a -> $b at scale $sc")
        val buildSec =
          (eng.evidence.cappedBuildNanos.get() - build0) / 1e9
        (s, buildSec)
      }
      val routeSecs = routeSplits.map(_._1)
      if (routeSplits.nonEmpty && !isLocal)
        println("  scale " + sc + " route split (total = bucketBuild + " +
          "routing): " + routeSplits.map { case (t, b) =>
            f"$t%.2f = $b%.2f + ${t - b}%.2f" }.mkString(" | "))
      // r15 campaign guard: good numbers must not hide a silently
      // regressed capped-CSR gate — the counter says which regime served.
      // SPARK_GRAFT_SCALE_REQUIRE_CSR=1 (the 10×-campaign recipe) asserts
      // every routed pair rode the capped CSR.
      val csrServed = eng.evidence.cappedCsrServed.get() - csrServed0
      if (pairs.nonEmpty && !isLocal)
        println(s"  scale $sc capped-CSR served $csrServed/${pairs.size} pairs")
      // campaign-log counter (r16 verdict #3): a clean feed must show
      // zero acyclic repairs
      if (pairs.nonEmpty && !isLocal)
        println(s"  scale $sc counters: acyclicResolveServed=" +
          s"${eng.evidence.acyclicResolveServed.get()}")
      if (sys.env.get("SPARK_GRAFT_SCALE_REQUIRE_CSR").contains("1") &&
          !isLocal && csrServed < pairs.size)
        throw new IllegalStateException(
          s"capped-CSR gate regression: served $csrServed of ${pairs.size}")
      println(f"$sc%-6d $nStoptimes%10d $edges%10d $walkSec%9.2f $buildSec%8.2f " +
        f"$csrSec%6.2f $idxSec%8.2f ${routeSecs.map(s => f"$s%.2f").mkString("/")}%13s " +
        (if (isLocal) "[csr]" else "[transit-distributed]"))

      if (regime == "distributed" && !isLocal &&
          !sys.env.get("SPARK_GRAFT_SCALE_NOPROBE").contains("1")) {
        // Split one traversal's cost: Pregel relaxation vs pointer-doubling
        // path extraction. Source = the earliest departure after 08:00 at
        // the first pair's origin (or SPARK_GRAFT_SCALE_PROBE_STOP — e.g.
        // the grid center, whose uncapped flood has the longest sparse
        // tail); target = the farthest vertex that source reaches
        // (worst-case path length for the extraction step).
        val probeStop = sys.env.getOrElse("SPARK_GRAFT_SCALE_PROBE_STOP",
          allPairs.head._1)
        val src = proj.nodes
          .filter(col("stop_name") === probeStop && col("dep_secs") > 8 * 3600)
          .orderBy("dep_secs").limit(1).select("id").collect()(0).getLong(0)
        val (dist, pregelSec) = timed {
          val d = proj.sssp.run(Set(src)).cache(); d.count(); d
        }
        val far = dist.orderBy(desc("dist")).limit(1)
          .select("vertex_id").collect()(0).getLong(0)
        val (path, pathSec) = timed {
          graft.graph.ShortestPaths.pathDistributed(dist, src, far)
        }
        dist.unpersist()
        println(f"  scale $sc%d distributed probe: sssp.run $pregelSec%.2f s, " +
          f"pathDistributed $pathSec%.2f s (${path.size}%d hops)")

        if (!parityDone && pairs.nonEmpty &&
            !sys.env.get("SPARK_GRAFT_SCALE_NOPARITY").contains("1")) {
          parityDone = true
          // Branch parity at scale, once, at the smallest distributed size:
          // a raised-threshold twin engine routes the same OD pair on the
          // CSR; itineraries must match row for row.
          val twin = new graft.api.RoutingEngine(g, ssspLocalThreshold = 100000000L)
          val (a, b) = pairs.head
          val viaPregel = eng.routing("2024-01-18", 1.0, "08:00:00", a, b)
            .collect().map(_.toString).toSeq
          val viaCsr = twin.routing("2024-01-18", 1.0, "08:00:00", a, b)
            .collect().map(_.toString).toSeq
          require(viaPregel == viaCsr,
            s"PARITY FAILURE at scale $sc: pregel=$viaPregel csr=$viaCsr")
          println(s"  scale $sc parity: pregel itinerary == csr itinerary " +
            s"(${viaPregel.size} segment rows)")
          twin.close()
        }
      }
      eng.close()
      g.stopTimes.unpersist(); g.stops.unpersist()
    }
    spark.stop()
  }
}
