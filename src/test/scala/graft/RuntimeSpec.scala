package graft

/** Pins the process-level lifecycle surface (r17): `Runtime.releaseAll()`
  * must drain every library-global retained-cache registry — the same
  * hygiene Verify and Bench apply between queries, exposed to embedders as
  * one call. The contamination rows are the registry's only current
  * producer (their benchmark-gram cache feeds the returned plan's
  * broadcast side, so the builder retains it). */
class RuntimeSpec extends SparkSpec {

  test("releaseAll drains the builder-retained caches after a catalog row") {
    Runtime.releaseAll() // isolate from any earlier suite's leftovers
    assert(Runtime.retainedCount == 0)
    assert(queries.Catalog.all.exists(_.name == "pipeline_contamination"),
      "catalog row pipeline_contamination missing")
    // retention only fires at the deployment-scale stats gate (the
    // fixture corpus is far under 64 MB) — pass the gate per call so the
    // spec exercises the exact production path that retains (r18: the
    // gate is a contaminationPlan parameter, not a global)
    val n = queries.Pipeline.contaminationPlan(spark, "/root/testdata/sf0.001",
      forceBloom = false, bloomMinStatBytes = 0L).count()
    assert(n > 0, "contamination row must produce rows at sf0.001")
    assert(Runtime.retainedCount > 0,
      "the contamination builder should have retained its gram cache — " +
        "if it legitimately stopped retaining, repoint this spec at the " +
        "new producer so releaseAll keeps a real workload")
    Runtime.releaseAll()
    assert(Runtime.retainedCount == 0,
      "releaseAll left retained cache entries behind")
    // r19 (r18 ADVICE): also run the CATALOG ROW itself once (default
    // gate — the builder path production benches execute), so the row's
    // own wiring stays covered here, not just the direct low-gate call.
    val row = queries.Catalog.all.find(_.name == "pipeline_contamination").get
    assert(row.run(spark, "/root/testdata/sf0.001").count() > 0,
      "pipeline_contamination catalog row produced no rows at sf0.001")
    Runtime.releaseAll()
    assert(Runtime.retainedCount == 0)
  }

  test("demo gtfs catalog rows leave no persistent RDD behind") {
    // Each row builds its own engine; a row that does not close it leaves
    // the projection caches (and, in the distributed regime, TransitSssp's
    // checkpoint pins) for later work in the session to be served from.
    val names = Seq("gtfs_routing_golden", "gtfs_routing_distributed",
      "gtfs_routing_zero_cycle", "gtfs_routing_ties", "gtfs_routing_bucketed",
      "gtfs_point_routing_golden", "gtfs_journey_golden", "gtfs_near_stops",
      "gtfs_footway_distances", "gtfs_betweenness", "gtfs_betweenness_windowed")
    val rows = queries.Catalog.all.filter(q => names.contains(q.name))
    assert(rows.map(_.name).sorted == names.sorted)
    val sc = spark.sparkContext
    rows.foreach { q =>
      val before = sc.getPersistentRDDs.keySet
      // the demo rows build their own feeds and read no sf tables
      assert(q.run(spark, "").collect().nonEmpty,
        s"${q.name} returned no rows")
      val left = (sc.getPersistentRDDs.keySet -- before).toSeq.sorted
      assert(left.isEmpty, s"${q.name} left persistent RDDs: " +
        left.map(sc.getPersistentRDDs(_).name).mkString(", "))
    }
  }

  test("contamination tool's byte-string parse matches Spark's size-config forms (r19)") {
    import tools.TimeContamination.parseByteString
    // the forms spark.conf.get actually returns for size configs
    assert(parseByteString("10485760") == 10485760L)        // bare = bytes
    assert(parseByteString("10m") == 10L << 20)
    assert(parseByteString("10MB") == 10L << 20)            // case-insensitive
    assert(parseByteString(" 64k ") == 64L << 10)           // trimmed
    assert(parseByteString("2g") == 2L << 30)
    assert(parseByteString("512b") == 512L)
    assert(parseByteString("-1") == -1L)                    // broadcast disabled
    // unknown suffixes must error loudly, never silently misread
    intercept[RuntimeException](parseByteString("1t"))
    intercept[RuntimeException](parseByteString("10 mb"))
  }
}
