package graft.queries

import org.apache.spark.sql.functions._
import graft.graph.{Components, ShortestPaths}

/** Graph / iterative operators (SURVEY §2.8) demonstrated over deterministic
  * graphs derived from the testdata tables, so the driver's DuckDB oracle
  * can check them (recursive CTE / window forms).
  *
  * The GTFS time-expanded routing graph itself is exercised by the ScalaTest
  * golden fixtures (graft.api.RoutingEngine); these queries prove the same
  * Pregel machinery on oracle-checkable graphs.
  */
object GraphQueries {
  import Catalog.t

  /** `f` on `eng`, then the engine closed. The result must not read the
    * engine's caches: routing and near-stop frames are LocalRelations,
    * anything else goes through [[collected]]. */
  private def closing[A](eng: graft.api.RoutingEngine)(f: graft.api.RoutingEngine => A): A =
    try f(eng) finally eng.close()

  /** `df` copied into a LocalRelation with the same schema and row order. */
  private def collected(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  def all: Seq[Q] = Seq(

    // G2 — weighted SSSP via multi-source Pregel relaxation. Graph: binary
    // tree over customer keys (parent = k/2), integer weights (k % 97 + 1) so
    // distances are FP-exact in any summation order; diameter is log2(N) so
    // Pregel converges in ~17 supersteps even at 100× data.
    Q("g2_sssp_tree", "G2",
      (s, dir) => {
        val edges = t(s, dir, "customer")
          .filter(col("c_custkey") > 1)
          .select((col("c_custkey") / 2).cast("long").as("src"),
            col("c_custkey").cast("long").as("dst"),
            (col("c_custkey") % 97 + 1).cast("double").as("weight"))
        // localThreshold = 0: always exercise the distributed Pregel path
        // here (the catalog's proof of scale-out SSSP; RoutingEngine uses
        // the adaptive default).
        ShortestPaths.fromDF(edges, Set(1L), localThreshold = 0)
          .select(col("vertex_id"), col("dist").cast("long").as("dist"))
          .orderBy("vertex_id")
      },
      Some("""WITH RECURSIVE walk AS (
             |  SELECT c_custkey AS vertex_id, c_custkey AS cur, 0 AS dist FROM customer
             |  UNION ALL
             |  SELECT vertex_id, cur // 2, dist + (cur % 97 + 1) FROM walk WHERE cur > 1
             |)
             |SELECT vertex_id, CAST(dist AS BIGINT) AS dist FROM walk WHERE cur = 1
             |ORDER BY vertex_id""".stripMargin)),

    // G5 — reachability / connected components: per-nation hub-and-spoke
    // graph (each customer linked to its nation's min custkey). Component id
    // = min vertex id, oracle-checkable as a window min. Diameter 2 ⇒
    // convergence is scale-independent.
    Q("g5_connected_components", "G5",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val hubs = c.groupBy("c_nationkey").agg(min("c_custkey").as("hub"))
        val edges = c.join(hubs, Seq("c_nationkey"))
          .select(col("hub").cast("long").as("src"), col("c_custkey").cast("long").as("dst"))
        Components.connected(edges)
          .select(col("vertex_id"), col("component"))
          .orderBy("vertex_id")
      },
      Some("""SELECT c_custkey AS vertex_id,
             |       min(c_custkey) OVER (PARTITION BY c_nationkey) AS component
             |FROM customer ORDER BY vertex_id""".stripMargin)),

    // G6 — path decomposition: per-customer ordered order-key "path"
    // collected as an array, consecutive pairs via slice+zip_with+posexplode
    // (ref: main.py:101-107 UNWIND of node-pair lists). Oracle: the
    // equivalent window-lead form.
    Q("g6_path_pairs", "G6,F8",
      (s, dir) => {
        val path = t(s, dir, "orders")
          .groupBy("o_custkey")
          .agg(transform(sort_array(collect_list(struct(col("o_orderdate"), col("o_orderkey")))),
            x => x.getField("o_orderkey")).as("path"))
        path.filter(size(col("path")) > 1)
          .select(col("o_custkey"),
            posexplode(zip_with(
              slice(col("path"), lit(1), size(col("path")) - 1),
              slice(col("path"), lit(2), size(col("path")) - 1),
              (a, b) => struct(a.as("src"), b.as("dst")))).as(Seq("pos", "pair")))
          .select(col("o_custkey"), (col("pos") + 1).as("hop"),
            col("pair.src").as("src_order"), col("pair.dst").as("dst_order"))
          .orderBy("o_custkey", "hop")
      },
      Some("""SELECT o_custkey, hop, src_order, dst_order FROM (
             |  SELECT o_custkey,
             |         row_number() OVER w AS hop,
             |         o_orderkey AS src_order,
             |         lead(o_orderkey) OVER w AS dst_order
             |  FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             |) WHERE dst_order IS NOT NULL ORDER BY o_custkey, hop""".stripMargin)),

    // G1+G2+G6+J8 — the full reference routing flow on the inline demo GTFS
    // network: build → project time-expanded graph → multi-source SSSP →
    // top-1 by (arrival, cost) → labeled segments. The oracle is the
    // hand-computed golden itinerary as literal VALUES (same fixture truth
    // GtfsEngineSpec pins) — the demo network isn't in the sf parquet
    // tables, so the expected rows ARE the SQL.
    Q("gtfs_routing_golden", "G1,G2,G6,J8",
      (s, _) => closing(graft.api.DemoGtfs.engine(s))(
        _.routing("2024-01-18", 1.0, "14:00:00", "Alpha", "Epsilon")),
      Some("""SELECT hop, trip, departure, line, starting_stop_name, starting_stop_id,
             | CAST(start_lat AS DOUBLE) AS start_lat, CAST(start_lon AS DOUBLE) AS start_lon,
             | next_trip, next_stop, next_stop_id,
             | CAST(next_lat AS DOUBLE) AS next_lat, CAST(next_lon AS DOUBLE) AS next_lon,
             | next_line, arrival
             |FROM (VALUES
             | (1,'T1','14:01:00','R1','Alpha','SA',44.6,10.9,'T1','Beta','SB',44.61,10.9,'R1','14:05:00'),
             | (2,'T1','14:06:00','R1','Beta','SB',44.61,10.9,'T1','Gamma','SC',44.62,10.9,'R1','14:10:00'),
             | (3,'T1','14:11:00','R1','Gamma','SC',44.62,10.9,'T3','Gamma Due','SC2',44.62015,10.9,'R2','14:15:00'),
             | (4,'T3','14:15:00','R2','Gamma Due','SC2',44.62015,10.9,'T3','Delta','SD1',44.63,10.91,'R2','14:25:00'),
             | (5,'T3','14:26:00','R2','Delta','SD1',44.63,10.91,'T3','Epsilon','SE',44.64,10.92,'R2','14:40:00'))
             | AS t(hop, trip, departure, line, starting_stop_name, starting_stop_id, start_lat, start_lon,
             |      next_trip, next_stop, next_stop_id, next_lat, next_lon, next_line, arrival)
             |ORDER BY hop""".stripMargin)),

    // The production DISTRIBUTED-REGIME path under the hash gate: the same
    // golden itinerary, but the engine is forced past the local threshold
    // (ssspLocalThreshold = 0), so the route runs TransitSssp trip-collapse
    // rounds + distributed path extraction — the branch a >2M-edge
    // (100 TB-scale) projection takes. At this cardinality the path comes
    // back by the bounded driver walk; TransitSsspSpec pins it equal to
    // pointer doubling over every reachable target. The oracle being the
    // IDENTICAL golden VALUES proves regime choice never changes answers,
    // re-checked by DuckDB every round (specs force this branch too, but
    // this row puts it under the driver's own hash gate).
    Q("gtfs_routing_distributed", "G2,G6,J8",
      (s, _) => closing(new graft.api.RoutingEngine(graft.api.DemoGtfs.tables(s),
          ssspLocalThreshold = 0L))(
        _.routing("2024-01-18", 1.0, "14:00:00", "Alpha", "Epsilon")),
      Some("""SELECT hop, trip, departure, line, starting_stop_name, starting_stop_id,
             | CAST(start_lat AS DOUBLE) AS start_lat, CAST(start_lon AS DOUBLE) AS start_lon,
             | next_trip, next_stop, next_stop_id,
             | CAST(next_lat AS DOUBLE) AS next_lat, CAST(next_lon AS DOUBLE) AS next_lon,
             | next_line, arrival
             |FROM (VALUES
             | (1,'T1','14:01:00','R1','Alpha','SA',44.6,10.9,'T1','Beta','SB',44.61,10.9,'R1','14:05:00'),
             | (2,'T1','14:06:00','R1','Beta','SB',44.61,10.9,'T1','Gamma','SC',44.62,10.9,'R1','14:10:00'),
             | (3,'T1','14:11:00','R1','Gamma','SC',44.62,10.9,'T3','Gamma Due','SC2',44.62015,10.9,'R2','14:15:00'),
             | (4,'T3','14:15:00','R2','Gamma Due','SC2',44.62015,10.9,'T3','Delta','SD1',44.63,10.91,'R2','14:25:00'),
             | (5,'T3','14:26:00','R2','Delta','SD1',44.63,10.91,'T3','Epsilon','SE',44.64,10.92,'R2','14:40:00'))
             | AS t(hop, trip, departure, line, starting_stop_name, starting_stop_id, start_lat, start_lon,
             |      next_trip, next_stop, next_stop_id, next_lat, next_lon, next_line, arrival)
             |ORDER BY hop""".stripMargin)),

    // The OVER-BUDGET ZERO-TOTAL-CYCLE repair under the hash gate (r17,
    // r16 verdict #4 — the repair landed r16 but was reachable only from
    // HubScale and specs): a dirty feed whose optimal-path structure
    // carries a cycle telescoping to exactly 0 (SyntheticGtfs.zeroCycleFeed
    // scaladoc), routed with ssspLocalThreshold = 0 AND the capped-CSR
    // budget forced to 0 — no in-heap regime can serve, so the distributed
    // fixpoint detects the pred cycle and the route is served by the
    // change-level acyclic re-resolution. The closure materializes the
    // itinerary INSIDE the forcing window and REQUIRES the served counter
    // to have advanced — if the repair path ever stops engaging (id-order
    // regression upstream), Verify fails loudly instead of silently
    // oracling the easy path. Oracle: the hand-verified golden itinerary
    // as literal VALUES (in-heap parity spec-pinned in GtfsEngineSpec).
    Q("gtfs_routing_zero_cycle", "G2,G6,J8",
      (s, _) => {
        val tables = graft.etl.SyntheticGtfs.zeroCycleFeed(s)
        // per-call regime forcing (r18, r17 verdict #2 — no global
        // mutation window: a concurrent routing call keeps its own
        // capped-CSR budget): ssspLocalThreshold = 0 kills the in-heap
        // regimes, cappedCsrMaxEdges = 0 kills the capped CSR — only the
        // distributed fixpoint's acyclic repair can serve.
        // Path extraction is the driver walk at this cardinality, as in
        // gtfs_routing_distributed: the row exists to prove the
        // DISTRIBUTED fixpoint's acyclic repair serves the route.
        closing(new graft.api.RoutingEngine(tables, ssspLocalThreshold = 0L,
            cappedCsrMaxEdges = 0L)) { eng =>
          val d = eng.routing("2024-01-18", 1.0, "13:50:00", "Start", "End")
          // SESSION-LOCAL evidence (r19, r18 verdict #2): only this
          // engine's calls advance its evidence counters, so a concurrent
          // routing in the same JVM cannot false-pass the regime proof the
          // way a global-counter diff could.
          require(eng.evidence.acyclicResolveServed.get() > 0L,
            "zero-cycle row did not take the acyclic re-resolution path")
          d // routing is eager: the rows sit in d's LocalRelation, hop-ordered
        }
      },
      // Golden: Start --TA--> Mid0 (arr 14:20), change to TB 14:25, ride
      // the BACKWARD edge to Mid1 (arr 14:05 — the dirty row), zero-dwell
      // change to TC at Mid2 14:10, arrive End 14:40. Head departure and
      // final arrival equal the in-heap strict-repair itinerary
      // (GtfsEngineSpec's parity assertions).
      Some("""SELECT hop, trip, departure, line, starting_stop_name, starting_stop_id,
             | CAST(start_lat AS DOUBLE) AS start_lat, CAST(start_lon AS DOUBLE) AS start_lon,
             | next_trip, next_stop, next_stop_id,
             | CAST(next_lat AS DOUBLE) AS next_lat, CAST(next_lon AS DOUBLE) AS next_lon,
             | next_line, arrival
             |FROM (VALUES
             | (1,'TA','14:00:00','R1','Start','SA',44.6,10.9,'TA','Mid0','SB',44.61,10.9,'R1','14:20:00'),
             | (2,'TA','14:21:00','R1','Mid0','SB',44.61,10.9,'TB','Mid0','SB',44.61,10.9,'R2','14:25:00'),
             | (3,'TB','14:25:00','R2','Mid0','SB',44.61,10.9,'TB','Mid1','SC',44.61,10.9,'R2','14:05:00'),
             | (4,'TB','14:05:00','R2','Mid1','SC',44.61,10.9,'TC','Mid2','SD',44.61,10.9,'R3','14:10:00'),
             | (5,'TC','14:10:00','R3','Mid2','SD',44.61,10.9,'TC','End','SE',44.63,10.91,'R3','14:40:00'))
             | AS t(hop, trip, departure, line, starting_stop_name, starting_stop_id, start_lat, start_lon,
             |      next_trip, next_stop, next_stop_id, next_lat, next_lon, next_line, arrival)
             |ORDER BY hop""".stripMargin)),

    // The CANONICAL EQUAL-COST TIE-BREAK under the hash gate: a
    // bidirectional grid network where the best (source, target) pair
    // admits several equal-cost paths (in a time-expanded graph the cost
    // of any path between two fixed stoptimes is near-fixed by the
    // endpoints, so multi-change alternatives tie routinely — the demo
    // fixture's paths are unique, so the golden rows above can't cover
    // this). The oracle pins the CANONICAL itinerary (on equal distance
    // the smaller predecessor id wins, seeds first). Without the canonical
    // rule this hash is whatever pick the engine happens to make (the r11
    // p8-backwards divergence, COVERAGE.md). The route runs on the default
    // (CSR) branch — forcing TransitSssp here measured 11–17 s of
    // fixture-scale iteration scheduling per bench run, and the
    // cross-regime equality of the SAME tie-heavy-grid itineraries is
    // already pinned by CanonicalTieSpec's forced-TransitSssp parity test
    // plus the harness twins (GtfsEngineSpec, tools.TwinDiff).
    Q("gtfs_routing_ties", "G2,G6,J8",
      (s, _) => closing(new graft.api.RoutingEngine(
          graft.etl.SyntheticGtfs.grid(s, rows = 6, cols = 6, tripsPerRoute = 3,
            directions = 2)))(
        _.routing("2024-01-18", 1.0, "06:00:00", "Stop 1/1", "Stop 4/4")),
      // Grid coordinates are written ARITHMETICALLY (44.5 + r*0.0023,
      // 10.8 + c*0.01) so DuckDB reproduces the generator's exact IEEE
      // doubles instead of re-parsing a decimal rendering. The pinned
      // itinerary is the canonical equal-cost pick: it ties the direct
      // 1-change route (wait 27 min at Stop 4/1) to the same T-RH-4-1
      // 06:42:00 arrival, and the smallest-pred backward walk selects
      // this 3-change chain — hand-verified optimal (the only earlier
      // target arrivals, RV-4 06:14 and RVN-4 06:39, are unreachable
      // from the 06:04 source).
      Some("""SELECT hop, trip, departure, line, starting_stop_name, starting_stop_id,
             | CAST(start_lat AS DOUBLE) AS start_lat, CAST(start_lon AS DOUBLE) AS start_lon,
             | next_trip, next_stop, next_stop_id,
             | CAST(next_lat AS DOUBLE) AS next_lat, CAST(next_lon AS DOUBLE) AS next_lon,
             | next_line, arrival
             |FROM (VALUES
             | (1,'T-RV-1-0','06:04:00','RV-1','Stop 1/1','S-1-1',44.5+1*0.0023,10.8+1*0.01,'T-RV-1-0','Stop 2/1','S-2-1',44.5+2*0.0023,10.8+1*0.01,'RV-1','06:05:30'),
             | (2,'T-RV-1-0','06:06:00','RV-1','Stop 2/1','S-2-1',44.5+2*0.0023,10.8+1*0.01,'T-RV-1-0','Stop 3/1','S-3-1',44.5+3*0.0023,10.8+1*0.01,'RV-1','06:07:30'),
             | (3,'T-RV-1-0','06:08:00','RV-1','Stop 3/1','S-3-1',44.5+3*0.0023,10.8+1*0.01,'T-RV-1-0','Stop 4/1','S-4-1',44.5+4*0.0023,10.8+1*0.01,'RV-1','06:09:30'),
             | (4,'T-RV-1-0','06:10:00','RV-1','Stop 4/1','S-4-1',44.5+4*0.0023,10.8+1*0.01,'T-RV-1-0','Stop 5/1','S-5-1',44.5+5*0.0023,10.8+1*0.01,'RV-1','06:11:30'),
             | (5,'T-RV-1-0','06:12:00','RV-1','Stop 5/1','S-5-1',44.5+5*0.0023,10.8+1*0.01,'T-RHW-5-0','Stop 5/1','S-5-1',44.5+5*0.0023,10.8+1*0.01,'RHW-5','06:14:15'),
             | (6,'T-RHW-5-0','06:14:45','RHW-5','Stop 5/1','S-5-1',44.5+5*0.0023,10.8+1*0.01,'T-RHW-5-0','Stop 5/0','S-5-0',44.5+5*0.0023,10.8+0*0.01,'RHW-5','06:16:15'),
             | (7,'T-RHW-5-0','06:16:45','RHW-5','Stop 5/0','S-5-0',44.5+5*0.0023,10.8+0*0.01,'T-RVN-0-1','Stop 5/0','S-5-0',44.5+5*0.0023,10.8+0*0.01,'RVN-0','06:30:00'),
             | (8,'T-RVN-0-1','06:30:30','RVN-0','Stop 5/0','S-5-0',44.5+5*0.0023,10.8+0*0.01,'T-RVN-0-1','Stop 4/0','S-4-0',44.5+4*0.0023,10.8+0*0.01,'RVN-0','06:32:00'),
             | (9,'T-RVN-0-1','06:32:30','RVN-0','Stop 4/0','S-4-0',44.5+4*0.0023,10.8+0*0.01,'T-RH-4-1','Stop 4/0','S-4-0',44.5+4*0.0023,10.8+0*0.01,'RH-4','06:34:00'),
             | (10,'T-RH-4-1','06:34:30','RH-4','Stop 4/0','S-4-0',44.5+4*0.0023,10.8+0*0.01,'T-RH-4-1','Stop 4/1','S-4-1',44.5+4*0.0023,10.8+1*0.01,'RH-4','06:36:00'),
             | (11,'T-RH-4-1','06:36:30','RH-4','Stop 4/1','S-4-1',44.5+4*0.0023,10.8+1*0.01,'T-RH-4-1','Stop 4/2','S-4-2',44.5+4*0.0023,10.8+2*0.01,'RH-4','06:38:00'),
             | (12,'T-RH-4-1','06:38:30','RH-4','Stop 4/2','S-4-2',44.5+4*0.0023,10.8+2*0.01,'T-RH-4-1','Stop 4/3','S-4-3',44.5+4*0.0023,10.8+3*0.01,'RH-4','06:40:00'),
             | (13,'T-RH-4-1','06:40:30','RH-4','Stop 4/3','S-4-3',44.5+4*0.0023,10.8+3*0.01,'T-RH-4-1','Stop 4/4','S-4-4',44.5+4*0.0023,10.8+4*0.01,'RH-4','06:42:00'))
             | AS t(hop, trip, departure, line, starting_stop_name, starting_stop_id, start_lat, start_lon,
             |      next_trip, next_stop, next_stop_id, next_lat, next_lon, next_line, arrival)
             |ORDER BY hop""".stripMargin)),

    // The production STORAGE path under the hash gate: the same routing
    // flow as gtfs_routing_golden, but the stoptime table goes through the
    // bucketed warehouse round-trip first — written day-partitioned +
    // stop-bucketed (writeBucketedByStop), reloaded off the catalog table
    // (loadTablesBucketed), then projected and routed. WarehouseSpec proves
    // the layout's zero-Exchange join plans; THIS row proves the layout
    // never changes answers: the oracle is the identical golden itinerary.
    Q("gtfs_routing_bucketed", "S2,G1,G2,J8",
      (s, _) => {
        val g = graft.api.DemoGtfs.tables(s)
        val dirP = java.nio.file.Files.createTempDirectory("graft_wh_route")
        // per-run table name: repeated Verify/Bench runs in one session must
        // not collide, and the finally below leaves catalog + /tmp flat
        val table = "graft_demo_day_st_bucketed_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        try {
          // dims only (r20): loadTablesBucketed reads dims + the bucketed
          // fact table — the plain day-partitioned fact write was a second
          // full day-expansion this row never read back
          graft.etl.GtfsWarehouse.writeDims(g, dirP.toString)
          graft.etl.GtfsWarehouse.writeBucketedByStop(
            g, table, s"$dirP/bucketed", buckets = 4)
          val day = java.sql.Date.valueOf("2024-01-18")
          val tables = graft.etl.GtfsWarehouse.loadTablesBucketed(s, table, dirP.toString, day)
          // routing is eager: the 5-row itinerary sits in a LocalRelation
          // BEFORE the warehouse dir is deleted underneath the lazy scan
          closing(new graft.api.RoutingEngine(tables))(
            _.routing("2024-01-18", 1.0, "14:00:00", "Alpha", "Epsilon"))
        } finally {
          s.sql(s"DROP TABLE IF EXISTS $table")
          graft.etl.GtfsWarehouse.deleteRecursively(dirP)
        }
      },
      Some("""SELECT hop, trip, departure, line, starting_stop_name, starting_stop_id,
             | CAST(start_lat AS DOUBLE) AS start_lat, CAST(start_lon AS DOUBLE) AS start_lon,
             | next_trip, next_stop, next_stop_id,
             | CAST(next_lat AS DOUBLE) AS next_lat, CAST(next_lon AS DOUBLE) AS next_lon,
             | next_line, arrival
             |FROM (VALUES
             | (1,'T1','14:01:00','R1','Alpha','SA',44.6,10.9,'T1','Beta','SB',44.61,10.9,'R1','14:05:00'),
             | (2,'T1','14:06:00','R1','Beta','SB',44.61,10.9,'T1','Gamma','SC',44.62,10.9,'R1','14:10:00'),
             | (3,'T1','14:11:00','R1','Gamma','SC',44.62,10.9,'T3','Gamma Due','SC2',44.62015,10.9,'R2','14:15:00'),
             | (4,'T3','14:15:00','R2','Gamma Due','SC2',44.62015,10.9,'T3','Delta','SD1',44.63,10.91,'R2','14:25:00'),
             | (5,'T3','14:26:00','R2','Delta','SD1',44.63,10.91,'T3','Epsilon','SE',44.64,10.92,'R2','14:40:00'))
             | AS t(hop, trip, departure, line, starting_stop_name, starting_stop_id, start_lat, start_lon,
             |      next_trip, next_stop, next_stop_id, next_lat, next_lon, next_line, arrival)
             |ORDER BY hop""".stripMargin)),

    // P3+P4+P6+O2 — the reference's FLAGSHIP point-to-point routing
    // (`routing_between_two_points_in_space`, main.py:119-176) with
    // NON-ZERO walking adjustments that change the answer: the start point
    // is ~78 m from Alpha, so the walk-adjusted departure predicate
    // `dep_secs - walk/speed > 14:00` (main.py:132) EXCLUDES the 14:01 T1
    // departure (walk 78 s > 60 s margin) that wins the stop-to-stop golden
    // above, and the itinerary flips to the direct R3 ride (T5, arr 15:30).
    // The end point is ~14 m off Epsilon, so the arrival-side adjustment
    // (main.py:140) and the (final_time, cost+walks) ranking (main.py:158)
    // carry non-zero walk terms too. Literal-VALUES golden.
    Q("gtfs_point_routing_golden", "P3,P4,P6,O2,G1,G2",
      (s, _) => closing(graft.api.DemoGtfs.engine(s))(
        _.routingBetweenTwoPoints("2024-01-18", 44.5993, 10.9000, 44.6401, 10.9201,
          Seq("Alpha"), Seq("Epsilon"), 1.0, "14:00:00")),
      Some("""SELECT hop, trip, departure, line, starting_stop_name, starting_stop_id,
             | CAST(start_lat AS DOUBLE) AS start_lat, CAST(start_lon AS DOUBLE) AS start_lon,
             | next_trip, next_stop, next_stop_id,
             | CAST(next_lat AS DOUBLE) AS next_lat, CAST(next_lon AS DOUBLE) AS next_lon,
             | next_line, arrival
             |FROM (VALUES
             | (1,'T5','14:02:00','R3','Alpha','SA',44.6,10.9,'T5','Epsilon','SE',44.64,10.92,'R3','15:30:00'))
             | AS t(hop, trip, departure, line, starting_stop_name, starting_stop_id, start_lat, start_lon,
             |      next_trip, next_stop, next_stop_id, next_lat, next_lon, next_line, arrival)
             |ORDER BY hop""".stripMargin)),

    // A7+G4+J7+F12 — the door-to-door journey composition (the notebook's
    // headline result shape: cells 7-18 — nearby stops, point-to-point
    // transit, footway walking legs, total = transit span + walks). One-row
    // golden of the JourneySummary scalars; walk meters from the footway
    // Dijkstra (F1→…→NEAR→stop), rounded to cm like gtfs_footway_distances.
    Q("gtfs_journey_golden", "A7,G4,J7,F12,F13",
      (s, _) => {
        import s.implicits._
        val eng = graft.api.DemoGtfs.engine(s)
        val fw = graft.api.DemoGtfs.footwayEngine(s)
        val j =
          try eng.journey("2024-01-18", 44.5998, 10.9000, 44.6400, 10.9200,
            speed = 1.0, time = "14:00:00", footway = Some(fw)).get
          finally { eng.close(); fw.unpersist() }
        Seq((j.changes, math.round(j.startWalkMeters * 100) / 100.0,
          math.round(j.endWalkMeters * 100) / 100.0,
          math.round(j.totalSeconds * 100) / 100.0))
          .toDF("changes", "start_walk_m", "end_walk_m", "total_secs")
      },
      Some("""SELECT CAST(changes AS BIGINT) AS changes,
             | CAST(start_walk_m AS DOUBLE) AS start_walk_m,
             | CAST(end_walk_m AS DOUBLE) AS end_walk_m,
             | CAST(total_secs AS DOUBLE) AS total_secs
             |FROM (VALUES (1, 34.9, 7.91, 2382.82))
             | AS t(changes, start_walk_m, end_walk_m, total_secs)""".stripMargin)),

    // S4+S5 — whole-graph CSV export + import round-trip through real
    // files (apoc.export.csv.all / LOAD CSV analog, PDF p.5-6): the demo
    // stop table written as headered CSV to a temp dir and read back under
    // its declared schema. Literal-VALUES golden = the fixture itself; a
    // lossy codec (quoting, float formatting, header skew) would break the
    // hash.
    Q("gtfs_csv_roundtrip", "S4,S5",
      (s, _) => {
        val stops = graft.api.DemoGtfs.tables(s).stops
        val dir = java.nio.file.Files.createTempDirectory("graft_s4_stops").toString
        graft.etl.GraphCsv.exportTable(stops, dir, single = true)
        graft.etl.GraphCsv.importTable(s, dir, stops.schema).orderBy("stop_id")
      },
      Some("""SELECT stop_id, stop_name, CAST(stop_lat AS DOUBLE) AS stop_lat,
             | CAST(stop_lon AS DOUBLE) AS stop_lon FROM (VALUES
             | ('SA','Alpha',44.6,10.9), ('SB','Beta',44.61,10.9),
             | ('SC','Gamma',44.62,10.9), ('SC2','Gamma Due',44.62015,10.9),
             | ('SD1','Delta',44.63,10.91), ('SD2','Delta',44.63005,10.91005),
             | ('SE','Epsilon',44.64,10.92))
             | AS t(stop_id, stop_name, stop_lat, stop_lon)
             |ORDER BY stop_id""".stripMargin)),

    // S3 — the calendar preprocessor (reshape.py:9-37): keep only calendar
    // rows whose service_id occurs in trips (semi-join), YYYYMMDD →
    // DATE. Literal-VALUES golden: S9 (absent from trips) must be dropped.
    Q("gtfs_calendar_reshape", "S3",
      (s, _) => {
        import s.implicits._
        val trips = Seq(("R1", "S1", "T1"), ("R1", "S2", "T2"))
          .toDF("route_id", "service_id", "trip_id")
        val raw = Seq(("S1", "20240118", "1"), ("S1", "20240119", "2"),
          ("S2", "20240118", "1"), ("S9", "20240118", "1"))
          .toDF("service_id", "date", "exception_type")
        graft.etl.GtfsLoader.reshapeCalendar(trips, raw).orderBy("service_id", "day")
      },
      Some("""SELECT service_id, CAST(day AS DATE) AS day, exception_type FROM (VALUES
             | ('S1', DATE '2024-01-18', '1'), ('S1', DATE '2024-01-19', '2'),
             | ('S2', DATE '2024-01-18', '1')) AS t(service_id, day, exception_type)
             |ORDER BY service_id, day""".stripMargin)),

    // S1-analog near-stop spatial search on the demo network (F1+P8).
    // Literal-VALUES golden oracle (see gtfs_routing_golden).
    Q("gtfs_near_stops", "F1,P8,A3",
      (s, _) => closing(graft.api.DemoGtfs.engine(s))(
        _.findNearStops("2024-01-18", 44.6200, 10.9000, 300.0).orderBy("stop_name")),
      Some("""SELECT * FROM (VALUES ('Gamma'), ('Gamma Due')) AS t(stop_name)
             |ORDER BY stop_name""".stripMargin)),

    // G4+G5+J7 — footway-graph walking distances (thesis extension): nearest
    // footnode, typed-edge Dijkstra across the pedestrian network, NEAR
    // bridges to stops; includes an unreachable pair (null distance).
    Q("gtfs_footway_distances", "G4,G5,J7",
      (s, _) => {
        import s.implicits._
        val fw = graft.api.DemoGtfs.footwayEngine(s)
        val dists =
          try Seq(
            ("F1", "SE", fw.walkingDistance("F1", "SE")),
            ("F1", "SB", fw.walkingDistance("F1", "SB")),
            ("F4", "SB", fw.walkingDistance("F4", "SB")),
            ("F1", "SD2", fw.walkingDistance("F1", "SD2")))
          finally fw.unpersist()
        val rows = dists.map { case (a, b, d) =>
          (a, b, if (d.isInfinite) None else Some(math.round(d * 100) / 100.0)) }
        rows.toDF("from_footnode", "to_stop", "meters").orderBy("from_footnode", "to_stop")
      },
      // literal-VALUES golden oracle: FootwaySpec derives the same numbers
      // from a reference Dijkstra over the fixture
      Some("""SELECT from_footnode, to_stop, CAST(meters AS DOUBLE) AS meters FROM (VALUES
             | ('F1','SB',1137.92), ('F1','SD2', NULL), ('F1','SE',5903.96), ('F4','SB',3057.92))
             | AS t(from_footnode, to_stop, meters)
             |ORDER BY from_footnode, to_stop""".stripMargin)),

    // G3 — Brandes betweenness centrality of the projected routing graph,
    // joined back to stop names and ranked (gds.betweenness.stream analog).
    Q("gtfs_betweenness", "G3",
      // through the api method (r16) so the public surface is what the
      // oracle pins
      (s, _) => closing(graft.api.DemoGtfs.engine(s))(e => collected(e.betweenness("2024-01-18"))),
      // literal-VALUES golden oracle (exact Brandes on the 16-node demo
      // projection — scores are exact halves, safe as double literals)
      Some("""SELECT stop_name, dep_secs, CAST(lat AS DOUBLE) AS lat,
             | CAST(lon AS DOUBLE) AS lon, CAST(score AS DOUBLE) AS score FROM (VALUES
             | ('Gamma Due',51300,44.62015,10.9,13.5), ('Gamma',51060,44.62,10.9,12.5),
             | ('Delta',51960,44.63,10.91,8.0), ('Alpha',54000,44.6,10.9,7.5),
             | ('Alpha',50520,44.6,10.9,5.5), ('Beta',50760,44.61,10.9,4.5),
             | ('Epsilon',52800,44.64,10.92,4.0), ('Alpha',86700,44.6,10.9,3.0),
             | ('Beta',54360,44.61,10.9,2.5), ('Delta',51360,44.63,10.91,2.0),
             | ('Epsilon',52200,44.64,10.92,2.0), ('Epsilon',55800,44.64,10.92,0.0),
             | ('Epsilon',89400,44.64,10.92,0.0), ('Gamma',54660,44.62,10.9,0.0))
             | AS t(stop_name, dep_secs, lat, lon, score)
             |ORDER BY score DESC, stop_name, dep_secs""".stripMargin)),

    // G3 windowed variant (r15): Brandes over the HORIZON-BOUNDED subgraph
    // (stoptimes departing ≤ the cap) — the capped routing regime's
    // subgraph semantics applied to centrality; at scale this rides the
    // same in-heap budget rung instead of the level-sync rounds.
    Q("gtfs_betweenness_windowed", "G3",
      // through the api mirror (r16, r15 verdict #7): the windowed rung is
      // user-reachable, and the oracle pins the public surface — 14:40
      // cap, a proper sub-window of the demo day
      (s, _) => closing(graft.api.DemoGtfs.engine(s))(e =>
        collected(e.betweennessWindow("2024-01-18", "14:40:00"))),
      // literal-VALUES golden oracle (exact Brandes over the 8 stoptimes
      // departing ≤ 14:40 — BetweennessSpec pins the in-heap rung ≡
      // level-sync on this capped subgraph)
      Some("""SELECT stop_name, dep_secs, CAST(lat AS DOUBLE) AS lat,
             | CAST(lon AS DOUBLE) AS lon, CAST(score AS DOUBLE) AS score FROM (VALUES
             | ('Gamma',51060,44.62,10.9,9.0), ('Gamma Due',51300,44.62015,10.9,8.0),
             | ('Delta',51960,44.63,10.91,5.0), ('Beta',50760,44.61,10.9,4.0),
             | ('Delta',51360,44.63,10.91,1.0), ('Alpha',50520,44.6,10.9,0.0),
             | ('Epsilon',52200,44.64,10.92,0.0), ('Epsilon',52800,44.64,10.92,0.0))
             | AS t(stop_name, dep_secs, lat, lon, score)
             |ORDER BY score DESC, stop_name, dep_secs""".stripMargin)),

    // §6 perf harness at the reference's graph cardinality: the 9-OD-pair
    // measurement shape (`main.py:340-369`) over a Modena-scale synthetic
    // network — 250k stoptime nodes vs the reference's 249,052
    // (Tesina_Reggianini.pdf p.4). The returned table carries the per-pair
    // routing wall-times the BASELINE.md comparison needs (median 2.9 s,
    // range 1.0–23.6 s per routing call on the reference).
    Q("gtfs_modena_harness", "perf,G1,G2",
      (s, _) => {
        // cache the two multiply-scanned synthetic inputs (250k + 2.5k rows)
        // for this run: the projection build reads stopTimes twice (nodes +
        // PRECEDES) and stops once more via walkTo — regenerating the
        // distributed range per scan re-paid ~2 s per harness run
        val raw = graft.etl.SyntheticGtfs.modena(s)
        val cached = raw.copy(stopTimes = raw.stopTimes.cache(), stops = raw.stops.cache())
        val eng = new graft.api.RoutingEngine(cached)
        // Timing only: the cross-regime twin over these pairs is
        // tools.TwinDiff (a forced-TransitSssp converge costs ~20 s per
        // pair at this cardinality), and Verify pins their digests.
        val ms = try {
          graft.api.PerfHarness.run(eng, "2024-01-18", "08:00:00", 1.0, 300.0,
            graft.api.PerfHarness.ModenaPairs)
        } finally {
          // measurements are local scalars by now — drop every cache this
          // run pinned (repeated bench runs share one JVM)
          eng.close()
          cached.stopTimes.unpersist(); cached.stops.unpersist()
        }
        graft.api.PerfHarness.toDF(s, ms)
      },
      None),

    // §6 perf-harness analog: the reference's 9-OD-pair measurement table
    // re-expressed over the demo network (2 pairs) — returns the measured
    // table itself so the driver sees timing columns. Timing only: the
    // cross-regime twin over these pairs runs in GtfsEngineSpec on every
    // test run, and Verify pins their digests.
    Q("gtfs_perf_harness", "perf",
      (s, _) => {
        val eng = graft.api.DemoGtfs.engine(s)
        val ms = try graft.api.PerfHarness.run(eng, "2024-01-18", "14:00:00", 1.0, 300.0,
          graft.api.DemoGtfs.harnessPairs) finally eng.close()
        graft.api.PerfHarness.toDF(s, ms)
      },
      None),
  )
}
