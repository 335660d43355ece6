package graft

import org.apache.spark.sql.functions._
import graft.etl.{GtfsLoader, GtfsWarehouse}

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("day-partitioned warehouse prunes to one partition per day") {
    val gtfs = GtfsLoader.load(spark, fixtureDir)
    val dir = java.nio.file.Files.createTempDirectory("warehouse").toString
    GtfsWarehouse.write(gtfs, dir)

    val d1 = GtfsWarehouse.loadDay(spark, dir, java.sql.Date.valueOf("2024-01-18"))
    assert(d1.count() == 16) // all 16 stoptimes valid on the day
    // partition pruning: the rows actually read come only from the
    // day=2024-01-18 directory (input_file_name() is the runtime truth —
    // DataFrame.inputFiles lists the whole relation pre-pruning), and the
    // physical plan carries the day partition filter.
    val files = d1.select(input_file_name()).distinct().as[String].collect()
    assert(files.nonEmpty)
    assert(files.forall(_.contains("day=2024-01-18")), files.mkString("\n"))
    assert(d1.queryExecution.executedPlan.toString.contains("PartitionFilters"))

    // a day with no service reads nothing
    val d0 = GtfsWarehouse.loadDay(spark, dir, java.sql.Date.valueOf("2024-02-02"))
    assert(d0.count() == 0)

    // expansion count = stoptimes × valid days of their service (S1: 2 days)
    val all = spark.read.parquet(s"$dir/day_stoptimes")
    assert(all.count() == 32)
  }

  test("stop-bucketed warehouse joins co-locate without a shuffle") {
    val gtfs = GtfsLoader.load(spark, fixtureDir)
    val dir = java.nio.file.Files.createTempDirectory("warehouse-bucketed").toString
    GtfsWarehouse.writeBucketedByStop(gtfs, "day_stoptimes_by_stop", s"$dir/t", buckets = 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the join strategy must choose sort-merge —
      // the bucketed layout then satisfies the join's distribution with
      // ZERO Exchange operators on either side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val t = spark.table("day_stoptimes_by_stop")
      val joined = t.alias("a").join(t.alias("b"), "stop_id")
      assert(joined.count() > 0)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS day_stoptimes_by_stop")
    }
  }

  test("bucketed day table: CHANGE-candidate join shuffles only the walk fan-out") {
    // the projection's dominant join at 100 TB is
    //   stoptimes ⋈ WALK_TO ⋈ stoptimes  (s_stop, then n_stop)
    // with the day table bucketed by stop_id, the target side satisfies the
    // n_stop distribution straight off the scan — only the (much smaller)
    // s×walk fan-out shuffles. The unbucketed layout shuffles BOTH sides.
    val gtfs = GtfsLoader.load(spark, fixtureDir)
    val dir = java.nio.file.Files.createTempDirectory("warehouse-change").toString
    GtfsWarehouse.writeBucketedByStop(gtfs, "day_st_change", s"$dir/t", buckets = 4)
    GtfsWarehouse.write(gtfs, dir) // plain layout twin
    // localCheckpoint truncates walkTo's own grid-join lineage so the
    // Exchange count below reflects only the stoptimes join layout
    val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0)
      .select(col("src_stop_id").as("n_stop"), col("dst_stop_id").as("s_stop"))
      .localCheckpoint()
    def changeCandidates(t: org.apache.spark.sql.DataFrame) = {
      val s = t.select(col("stop_id").as("s_stop"), col("trip_id").as("s_trip"),
        col("arr_secs").as("s_arr"))
      val tgt = t.select(col("stop_id").as("n_stop"), col("trip_id").as("t_trip"),
        col("dep_secs").as("t_dep"))
      s.join(broadcast(walk), Seq("s_stop"))
        .join(tgt, Seq("n_stop"))
        .filter(col("s_arr") < col("t_dep") && col("s_trip") =!= col("t_trip"))
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // pin the strategy: walk broadcasts by explicit hint only; the big
      // join must go sort-merge so the Exchange count reflects the layout
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "(?<!Broadcast)Exchange".r
          .findAllIn(df.queryExecution.executedPlan.toString).size
      val bucketed = changeCandidates(spark.table("day_st_change"))
      val plain = changeCandidates(spark.read.parquet(s"$dir/day_stoptimes"))
      assert(bucketed.count() == plain.count() && plain.count() > 0)
      val (nb, np) = (exchanges(bucketed), exchanges(plain))
      assert(nb == 1, s"bucketed plan should shuffle only the fan-out side:\n" +
        bucketed.queryExecution.executedPlan)
      assert(np == 2, s"plain plan should shuffle both sides, got $np")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS day_st_change")
    }
  }

  test("projection built from the bucketed warehouse: same graph, fewer shuffles") {
    // the production 100 TB path: TimeExpandedGraph.build over
    // loadTablesBucketed must produce the exact same graph as over the
    // plain layout, with the big-side Exchanges gone from the real plan.
    val gtfs = GtfsLoader.load(spark, fixtureDir)
    val dir = java.nio.file.Files.createTempDirectory("warehouse-proj").toString
    GtfsWarehouse.write(gtfs, dir)
    GtfsWarehouse.writeBucketedByStop(gtfs, "day_st_proj", s"$dir/t", buckets = 4)
    val day = java.sql.Date.valueOf("2024-01-18")
    val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0).localCheckpoint()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force sort-merge for non-hinted joins so Exchange counts show the
      // layout; build()'s dimension joins keep their explicit broadcast hints
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val bucketedTables = GtfsWarehouse.loadTablesBucketed(spark, "day_st_proj", dir, day)
      val plainTables = GtfsWarehouse.loadTables(spark, dir, day)
      // ssspLocalThreshold = 0: the plans under test are the Spark
      // builder's, which only a projection over the local bound reaches
      val gb = graft.projection.TimeExpandedGraph.build(bucketedTables, day, 1.0, walk,
        ssspLocalThreshold = 0L)
      val gp = graft.projection.TimeExpandedGraph.build(plainTables, day, 1.0, walk,
        ssspLocalThreshold = 0L)
      try {
        def edgeSet(g: graft.projection.TimeExpandedGraph) =
          g.edges.select("source", "target", "type", "waiting_time")
            .collect().map(_.toString).toSet
        val (eb, ep) = (edgeSet(gb), edgeSet(gp))
        assert(eb == ep && eb.nonEmpty)
        def exchanges(df: org.apache.spark.sql.DataFrame): Int =
          "(?<!Broadcast)Exchange".r
            .findAllIn(df.queryExecution.executedPlan.toString).size
        val (nb, np) = (exchanges(gb.edges), exchanges(gp.edges))
        assert(nb < np, s"bucketed build should shuffle less: $nb vs $np")
        assert(gb.edges.queryExecution.executedPlan.toString.contains("SelectedBucketsCount"),
          "bucketed scan should reach the projection plan")
      } finally { gb.unpersist(); gp.unpersist() }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS day_st_proj")
    }
  }

  test("projection build broadcasts the measured-small schedule dimension") {
    // build() gates an explicit broadcast() hint on the MEASURED payload of
    // the CHANGE schedule dimension (AQE's own estimate for the post-agg
    // array column is inflated and never converts the join). The fixture's
    // dimension is a few KB, far under the 64 MB bound, so the hint must
    // fire even with auto-broadcast disabled — this pins the gate so a
    // lost hint (back to sort-merge) fails loudly.
    val gtfs = GtfsLoader.load(spark, fixtureDir)
    val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0).localCheckpoint()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val g = graft.projection.TimeExpandedGraph // the Spark builder, as above
        .build(gtfs, java.sql.Date.valueOf("2024-01-18"), 1.0, walk, ssspLocalThreshold = 0L)
      try {
        assert(g.edgeCount > 0)
        val plan = g.edges.queryExecution.executedPlan.toString
        // The SPECIFIC join that must broadcast is the CHANGE probe join on
        // s_stop (the big-side join the measured gate hints). The plan also
        // carries other broadcasts (dayTrips/stops dims), so a bare
        // contains("BroadcastHashJoin") could pass with the schedule hint
        // lost — assert on the s_stop join's own operator lines instead.
        val sStopJoins = plan.linesIterator
          .filter(l => l.contains("Join") && l.contains("s_stop")).toSeq
        assert(sStopJoins.nonEmpty, s"no join on s_stop found in plan:\n$plan")
        assert(sStopJoins.exists(_.contains("BroadcastHashJoin")),
          s"s_stop probe join is not broadcast:\n${sStopJoins.mkString("\n")}")
        assert(!sStopJoins.exists(_.contains("SortMergeJoin")),
          s"s_stop probe join fell back to sort-merge:\n${sStopJoins.mkString("\n")}")
        assert(g.schedCache.exists(_.storageLevel.useMemory),
          "schedule dimension should stay persisted until unpersist()")
      } finally g.unpersist()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
