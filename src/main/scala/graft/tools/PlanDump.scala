package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Writes PLANS.md: a physical-plan audit of every catalog query — the
  * per-round "is this the plan you'd want" check (broadcasts where dims are
  * small, filters pushed to the scan, codegen coverage, shuffle count) —
  * plus stage-level plans for the flagship routing path (projection build
  * plain vs bucketed, the CHANGE-candidate join, day pruning, near-stop
  * search), which executes eagerly inside its catalog queries and so can't
  * be audited through them.
  * Run: `sbt "runMain graft.tools.PlanDump /root/testdata/sf0.001"`. */
object PlanDump {

  /** Demo-engine queries execute eagerly at construction (projection +
    * routing happen before a plan exists) — excluded from the per-query
    * table; the flagship section audits those flows stage-by-stage instead.
    * PlansFreshnessSpec keys on this set to detect a stale PLANS.md. */
  val skippedQueries: Set[String] = Set(
    "gtfs_routing_golden", "gtfs_near_stops", "gtfs_footway_distances",
    "gtfs_betweenness", "gtfs_perf_harness", "gtfs_modena_harness",
    "gtfs_point_routing_golden", "gtfs_journey_golden", "gtfs_csv_roundtrip",
    "gtfs_routing_bucketed")

  /** (shuffle Exchanges, broadcast join present, parquet PushedFilters
    * present, WholeStageCodegen stage count) of a plan string. */
  private def stats(plan: String): (Int, Boolean, Boolean, Int) = {
    def n(s: String) = s.r.findAllIn(plan).size
    // codegen stages print as `*(k)` operator prefixes; count stages
    val codegen = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
    // shuffle Exchanges only — a bare "Exchange" regex also matches
    // BroadcastExchange/ReusedExchange and inflates the count
    val shuffles = n("Exchange hashpartitioning") +
      n("Exchange rangepartitioning") + n("Exchange SinglePartition")
    val bcast = plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop")
    val pushed = plan.contains("PushedFilters: [") && !plan.contains("PushedFilters: []")
    (shuffles, bcast, pushed, codegen)
  }

  /** Evidence fragments worth quoting verbatim from a plan: for each key,
    * the plan text from the key's occurrence onward (the interesting part
    * of a FileScan line sits far right of the 200-char operator prefix). */
  private def evidence(plan: String, keys: Seq[String]): Seq[String] =
    (for {
      line <- plan.linesIterator
      key <- keys
      i = line.indexOf(key)
      if i >= 0
    } yield line.substring(i).take(140)).distinct.toSeq

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Bench.session(8)
    // AQE off for the audit: the static plan exposes WholeStageCodegen
    // spans and the worst-case Exchange count (AQE can only remove or
    // split them at runtime, never add)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("ERROR")

    val skip = skippedQueries
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the query catalog\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` on `$sfDir`.\n")
    sb.append("Columns: shuffles = `Exchange` operators in the static plan " )
    sb.append("(AQE off — runtime can only shrink this); ")
    sb.append("bcast = broadcast joins present; pushed = parquet scan carries ")
    sb.append("`PushedFilters`; codegen = `WholeStageCodegen` spans.\n\n")
    sb.append("| query | shuffles | bcast | pushed | codegen |\n")
    sb.append("|---|---|---|---|---|\n")
    graft.queries.Catalog.all.sortBy(_.name).foreach { q =>
      if (!skip.contains(q.name)) {
        try {
          val (sh, bc, pu, cg) =
            stats(q.run(spark, sfDir).queryExecution.executedPlan.toString)
          sb.append(s"| ${q.name} | $sh | ${if (bc) "yes" else "-"} | " +
            s"${if (pu) "yes" else "-"} | $cg |\n")
        } catch {
          case e: Throwable => sb.append(s"| ${q.name} | err: ${e.getClass.getSimpleName} | | | |\n")
        }
      }
    }
    sb.append("\n")
    flagship(spark, sb)
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    println("wrote PLANS.md")
    spark.stop()
  }

  /** Stage-level plans for the demo-engine flows the catalog table can't
    * show. Runs over a parquet-backed warehouse round-trip of the demo
    * network so scans are real file scans (partition pruning, bucket
    * pruning, pushed filters all visible), with broadcast auto-detection
    * OFF so Exchange counts reflect the LAYOUT, not the toy data size —
    * the 100 TB posture; explicit broadcast() hints (the small dims) keep
    * working. */
  private def flagship(spark: SparkSession, sb: StringBuilder): Unit = {
    val g = graft.api.DemoGtfs.tables(spark)
    val dir = java.nio.file.Files.createTempDirectory("plandump_wh").toString
    graft.etl.GtfsWarehouse.write(g, dir)
    graft.etl.GtfsWarehouse.writeBucketedByStop(g, "plandump_day_st", s"$dir/b", buckets = 4)
    val day = java.sql.Date.valueOf("2024-01-18")
    val plain = graft.etl.GtfsWarehouse.loadTables(spark, dir, day)
    val bucketed = graft.etl.GtfsWarehouse.loadTablesBucketed(spark, "plandump_day_st", dir, day)
    val walk = graft.etl.GraphBuilder.walkTo(plain.stops, 300.0).localCheckpoint()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

      sb.append("## Flagship stage plans (demo network through the parquet warehouse)\n\n")
      sb.append("Broadcast auto-detection off (layout, not toy-size, decides the\n")
      sb.append("Exchange count); explicit `broadcast()` hints — the dimension\n")
      sb.append("joins — survive. Same stats columns as above.\n\n")
      sb.append("| stage | shuffles | bcast | pushed | codegen |\n")
      sb.append("|---|---|---|---|---|\n")
      def row(name: String, df: DataFrame, keys: Seq[String]): Seq[String] = {
        val plan = df.queryExecution.executedPlan.toString
        val (sh, bc, pu, cg) = stats(plan)
        sb.append(s"| $name | $sh | ${if (bc) "yes" else "-"} | " +
          s"${if (pu) "yes" else "-"} | $cg |\n")
        evidence(plan, keys)
      }

      // 1. day pruning: one service day reads one partition directory
      val dayEv = row("day scan (loadDay)",
        graft.etl.GtfsWarehouse.loadDay(spark, dir, day),
        Seq("PartitionFilters"))
      // 2-3. projection build, plain vs bucketed layout (the CHANGE +
      // PRECEDES + WALK_TO union that routing runs on)
      // (ssspLocalThreshold = 0: the Spark builder, the one with a plan)
      val pb = graft.projection.TimeExpandedGraph.build(plain, day, 1.0, walk,
        ssspLocalThreshold = 0L)
      val bb = graft.projection.TimeExpandedGraph.build(bucketed, day, 1.0, walk,
        ssspLocalThreshold = 0L)
      val plainEv = try row("projection edges (plain layout)", pb.edges, Nil)
      finally ()
      val buckEv = row("projection edges (bucketed layout)", bb.edges,
        Seq("SelectedBucketsCount"))
      // 4. the CHANGE-candidate join isolated (the dominant 100 TB shuffle):
      // bucketed target side satisfies its distribution straight off the
      // scan — only the walk fan-out redistributes
      def change(t: DataFrame): DataFrame = {
        val s = t.select(col("stop_id").as("s_stop"), col("trip_id").as("s_trip"),
          col("arr_secs").as("s_arr"))
        val w = walk.select(col("src_stop_id").as("n_stop"), col("dst_stop_id").as("s_stop"))
        val tgt = t.select(col("stop_id").as("n_stop"), col("trip_id").as("t_trip"),
          col("dep_secs").as("t_dep"))
        s.join(broadcast(w), Seq("s_stop")).join(tgt, Seq("n_stop"))
          .filter(col("s_arr") < col("t_dep") && col("s_trip") =!= col("t_trip"))
      }
      row("CHANGE-candidate join (plain)", change(plain.stopTimes), Nil)
      row("CHANGE-candidate join (bucketed)", change(bucketed.stopTimes), Nil)
      // 5. near-stop search off the projection's stop dimension (the bbox
      // predicates also reach a raw parquet stop scan — p8_bbox_radius in
      // the table above is that scan-level evidence on the sf tables)
      val eng = new graft.api.RoutingEngine(plain)
      // fresh projection: the bounded driver stop dimension answers without
      // paying the CHANGE build (r10 — LocalRelation, one shared small job
      // per projection); feeds above the row bound take the distributed
      // stopDim scan, shown next as the explicit fallback shape
      row("findNearStops fresh projection (bounded driver stopDim)",
        eng.findNearStops("2024-01-18", 44.62, 10.9, 300.0), Nil)
      val gPlain = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      row("near-stop search above the stop-dim bound (distributed stopDim)",
        gPlain.stopDim.filter(graft.functions.SpatialFunctions.withinRadius(
          org.apache.spark.sql.functions.col("lat"),
          org.apache.spark.sql.functions.col("lon"), 44.62, 10.9, 300.0))
          .select("stop_name").distinct(), Nil)
      try { pb.unpersist(); bb.unpersist() } catch { case _: Throwable => () }

      sb.append("\nEvidence lines (verbatim from the executed plans):\n\n```\n")
      (dayEv.map("day scan:    " + _) ++ plainEv ++
        buckEv.map("bucketed:    " + _)).foreach(l => sb.append(l).append("\n"))
      sb.append("```\n\n")
      sb.append("The bucketed projection reads `SelectedBucketsCount` straight off\n")
      sb.append("the scan and drops the big-side Exchanges the plain layout pays\n")
      sb.append("(WarehouseSpec asserts the exact counts: CHANGE-candidate join 1\n")
      sb.append("shuffle bucketed vs 2 plain; graph parity row-for-row; and\n")
      sb.append("`gtfs_routing_bucketed` hash-matches the golden itinerary through\n")
      sb.append("this layout). Routing beyond the projection (SSSP, segment\n")
      sb.append("re-expansion) is audited by GtfsEngineSpec and the forced-Pregel\n")
      sb.append("parity spec; its driver-side collects are bounded (≤ hops+1 rows).\n")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS plandump_day_st")
    }
  }
}
