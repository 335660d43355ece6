package graft

import graft.graph.Betweenness
import graft.api.DemoGtfs

class BetweennessSpec extends SparkSpec {
  import spark.implicits._

  test("path graph: interior vertices score the pair counts through them (both paths)") {
    // a(1)→b(2)→c(3)→d(4): b lies on (a,c),(a,d) → 2; c on (a,d),(b,d) → 2
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    for (threshold <- Seq(0L, Betweenness.CsrBrandesMaxEdges)) {
      val scores = Betweenness.run(edges, Seq(1L, 2L, 3L, 4L), threshold)
        .as[(Long, Double)].collect().toMap
      assert(scores.getOrElse(1L, 0.0) == 0.0)
      assert(scores(2L) == 2.0)
      assert(scores(3L) == 2.0)
      assert(scores.getOrElse(4L, 0.0) == 0.0)
    }
  }

  test("diamond: path counts split dependency correctly (both paths)") {
    // a(1)→b1(2), a→b2(3), b1→c(4), b2→c, c→d(5):
    // sigma(a→c)=2 → each b gets 0.5+0.5; c gets (a,d)+(b1,d)+(b2,d)=3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    for (threshold <- Seq(0L, Betweenness.CsrBrandesMaxEdges)) {
      val scores = Betweenness.run(edges, Seq(1L, 2L, 3L, 4L, 5L), threshold)
        .as[(Long, Double)].collect().toMap
      assert(scores(2L) == 1.0)
      assert(scores(3L) == 1.0)
      assert(scores(4L) == 3.0)
      assert(scores.getOrElse(5L, 0.0) == 0.0)
    }
  }

  test("distributed Brandes equals local Brandes on a random graph") {
    val rng = new scala.util.Random(7)
    val edges = Seq.fill(40)((rng.nextInt(12).toLong, rng.nextInt(12).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = (0L to 11L).toSeq
    val dist = Betweenness.run(edges.toDF("src", "dst"), sources, localThreshold = 0)
      .as[(Long, Double)].collect().toMap
    val local = Betweenness.runLocal(edges.toArray, sources)
      .filter(_._2 != 0.0)
    val distNz = dist.filter(_._2 != 0.0)
    assert(distNz.keySet == local.keySet)
    distNz.foreach { case (k, v) => assert(math.abs(v - local(k)) < 1e-9, s"vertex $k") }
  }

  test("distributed Brandes with >64 pivots exercises the multi-word bitmask") {
    // r11 ADVICE: every distributed-branch test used ≤ 5 sources, so the
    // words > 1 path (zip_with mask fold, m[i] word indexing for s ≥ 64)
    // never ran. 70 pivots force ceil(70/64) = 2 mask words; parity with
    // runLocal pins both words' bit math.
    val rng = new scala.util.Random(21)
    val edges = Seq.fill(500)((rng.nextInt(70).toLong, rng.nextInt(70).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = (0L until 70L).toSeq
    val dist = Betweenness.run(edges.toDF("src", "dst"), sources, localThreshold = 0)
      .as[(Long, Double)].collect().toMap
    val local = Betweenness.runLocal(edges.toArray, sources).filter(_._2 != 0.0)
    val distNz = dist.filter(_._2 != 0.0)
    assert(distNz.keySet == local.keySet)
    distNz.foreach { case (k, v) =>
      assert(math.abs(v - local(k)) < 1e-9, s"vertex $k") }
  }

  test("sampled Brandes approximates exact within tolerance on a chain+shortcut graph") {
    // 0→1→…→79 chain with shortcuts i→i+7: interior vertices carry large
    // scores. Sample half the sources by the same hash order ofProjection
    // uses and scale by |V|/|sample| — the standard estimator.
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val n = 80
    val edges = ((0 until n - 1).map(i => (i.toLong, i.toLong + 1)) ++
      (0 until n - 7).map(i => (i.toLong, i.toLong + 7))).toArray
    val all = (0L until n.toLong).toSeq
    val exact = Betweenness.runLocal(edges, all)
    val sample = all.toDF("id")
      .orderBy(xxhash64(col("id"), lit(42L)))
      .limit(n / 2).as[Long].collect().toSeq
    val scale = n.toDouble / sample.size
    val approx = Betweenness.runLocal(edges, sample).map { case (k, v) => k -> v * scale }
    // every heavy vertex (top quartile by exact score) is estimated within 50%
    val heavy = exact.toSeq.sortBy(-_._2).take(n / 4)
    heavy.foreach { case (v, ex) =>
      val ap = approx.getOrElse(v, 0.0)
      assert(math.abs(ap - ex) <= 0.5 * ex, s"vertex $v: exact $ex approx $ap")
    }
    // and every approximate top-5 vertex is genuinely heavy (exact score in
    // the top half) — scores on a chain are smooth, so exact ranks within
    // the peak are not preserved by sampling, but heaviness is
    val exactTop = exact.toSeq.sortBy(-_._2).take(n / 2).map(_._1).toSet
    approx.toSeq.sortBy(-_._2).take(5).foreach { case (v, _) =>
      assert(exactTop.contains(v), s"approx top-5 vertex $v not in exact top half")
    }
  }

  test("pivot-parallel CSR Brandes matches the oracle, row set included") {
    // Bigger random graph than the level-sync parity test, pivots spread
    // across several partitions; the CSR branch must reproduce runLocal's
    // exact ROW SET too (every visited non-pivot vertex appears, zero-score
    // rows included — the catalog query inner-joins scores to nodes).
    val rng = new scala.util.Random(13)
    val edges = Seq.fill(600)((rng.nextInt(90).toLong, rng.nextInt(90).toLong))
      .filter(e => e._1 != e._2).distinct
    val sources = (0L until 90L).filter(_ % 3 != 1) // pivot subset, id gaps
    val csr = Betweenness.run(edges.toDF("src", "dst"), sources,
        localThreshold = Betweenness.CsrBrandesMaxEdges)
      .as[(Long, Double)].collect().toMap
    val local = Betweenness.runLocal(edges.toArray, sources)
    assert(csr.keySet == local.keySet)
    csr.foreach { case (k, v) => assert(math.abs(v - local(k)) < 1e-9, s"vertex $k") }
  }

  test("ofProjection above-threshold regime matches the CSR regime") {
    withEngine(DemoGtfs.engine(spark)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("stop_name"),
          r.getAs[Number]("dep_secs").longValue(), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      val viaCsr = rows(Betweenness.ofProjection(g))
      // the above-threshold branch (level-synchronous) must reproduce the
      // CSR rows
      val viaLevelSync = rows(Betweenness.ofProjection(g, localThreshold = Some(0L)))
      assert(viaCsr.size == viaLevelSync.size)
      viaCsr.zip(viaLevelSync).foreach { case ((n1, d1, s1), (n2, d2, s2)) =>
        assert(n1 == n2 && d1 == d2, s"row mismatch: ($n1,$d1) vs ($n2,$d2)")
        assert(math.abs(s1 - s2) < 1e-9, s"score mismatch at ($n1,$d1): $s1 vs $s2")
      }
    }
  }

  test("capped-budget in-heap rung equals level-sync above the broadcast bound (r15)") {
    // The default (None) budget widens the broadcast bound to the
    // PROJECTION's capped-CSR budget; an explicit threshold binds the
    // driver collect exactly and Some(x ≤ 0) forces level-sync. An engine
    // built with cappedCsrMaxEdges = 0 (driver CSR disabled) keeps the
    // plain broadcast bound. Every budget must give the same scores on
    // the fixture, whichever branch it selects.
    import graft.graph.TransitSssp
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("stop_name"),
        r.getAs[Number]("dep_secs").longValue(), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    val day = java.sql.Date.valueOf("2024-01-18")
    val eng = DemoGtfs.engine(spark)
    val engNoCsr = new graft.api.RoutingEngine(DemoGtfs.tables(spark),
      cappedCsrMaxEdges = 0L)
    try {
      val g = eng.projected(day, 1.0)
      val gNoCsr = engNoCsr.projected(day, 1.0)
      assert(Betweenness.inHeapBudget(g, None) == TransitSssp.cappedCsrMaxEdges)
      assert(TransitSssp.cappedCsrMaxEdges == 6L * 1024 * 1024)
      assert(Betweenness.inHeapBudget(gNoCsr, None) == Betweenness.CsrBrandesMaxEdges)
      assert(Betweenness.CsrBrandesMaxEdges == 2000000L)
      assert(Betweenness.inHeapBudget(g, Some(1L)) == 1L)
      assert(Betweenness.inHeapBudget(g, Some(0L)) == 0L)
      val viaDefault = rows(Betweenness.ofProjection(g))
      assert(rows(Betweenness.ofProjection(g, localThreshold = Some(0L))) == viaDefault,
        "forced level-sync diverged from the default budget")
      assert(rows(Betweenness.ofProjection(g, localThreshold = Some(1L))) == viaDefault,
        "explicit-threshold level-sync diverged")
      // an explicit bound equal to the production default binds exactly;
      // on this tiny fixture both run the CSR branch, same rows
      assert(rows(Betweenness.ofProjection(g,
        localThreshold = Some(Betweenness.CsrBrandesMaxEdges))) == viaDefault)
      assert(rows(Betweenness.ofProjection(gNoCsr)) == viaDefault,
        "projection-default (disabled) budget diverged")
    } finally {
      eng.close()
      engNoCsr.close()
    }
  }

  test("windowed transit on a dep-dirty feed keeps the exact edge-list branch (r15 review)") {
    // A dep-dirty feed: dep_secs runs backward inside a trip, so the cap
    // drops a MIDDLE row (a hole) instead of a suffix. Windowed scoring
    // works on the capped subgraph's edge list, which keeps no ride edge
    // across the hole, so the in-heap rung and level-sync must agree.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("stop_name"),
        r.getAs[Number]("dep_secs").longValue(), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    import graft.functions.TimeFunctions.secondsSinceMidnight
    import org.apache.spark.sql.functions.col
    val agency = Seq(("A", "http://example.org", "Europe/Rome"))
      .toDF("agency_name", "agency_url", "agency_timezone")
    val routes = Seq(("R1", "1", "L1", 3), ("R2", "2", "L2", 3))
      .toDF("route_id", "short_name", "route_long_name", "route_type")
    val trips = Seq(("R1", "S1", "TA"), ("R2", "S1", "TB"))
      .map { case (r, s, t) => (r, s, t, "0", "SH", "h") }
      .toDF("route_id", "service_id", "trip_id", "direction_id", "shape_id",
        "trip_headsign")
    val stops = Seq(
      ("SA", "A", 44.6000, 10.9000), ("SB", "B", 44.6100, 10.9000),
      ("SC", "C", 44.6200, 10.9000), ("SD", "D", 44.6300, 10.9100))
      .toDF("stop_id", "stop_name", "stop_lat", "stop_lon")
    // TB's middle dep (14:45) sits ABOVE the 14:40 cap while its final dep
    // (14:30) sits below AND runs backward — the cap drops only the middle
    // row. TA feeds a change into TB.
    val stopTimes = Seq(
      ("TA", "14:00:00", "14:00:00", "SA", 1),
      ("TA", "14:06:00", "14:07:00", "SB", 2),
      ("TB", "14:10:00", "14:12:00", "SB", 1),
      ("TB", "14:44:00", "14:45:00", "SC", 2), // dep above the cap
      ("TB", "14:20:00", "14:30:00", "SD", 3)) // dep below the cap, rewound
      .toDF("trip_id", "arrival_time", "departure_time", "stop_id",
        "stop_sequence")
      .withColumn("arr_secs", secondsSinceMidnight(col("arrival_time")))
      .withColumn("dep_secs", secondsSinceMidnight(col("departure_time")))
    val calendar = Seq(("S1", java.sql.Date.valueOf("2024-01-18"), "1"))
      .toDF("service_id", "day", "exception_type")
    val tables = graft.model.GtfsTables(agency, routes, trips, stops,
      stopTimes, calendar)
    withEngine(new graft.api.RoutingEngine(tables)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      val cap = 52800.0 // 14:40
      val inHeap = rows(Betweenness.ofProjection(g, clockCap = cap))
      val levelSync = rows(Betweenness.ofProjection(g, localThreshold = Some(0L),
        clockCap = cap))
      assert(inHeap == levelSync,
        "dep-dirty windowed in-heap betweenness diverged from the exact edge-list branch")
      // the dropped middle row must actually be a hole (fixture precondition)
      assert(g.nodes.filter(col("dep_secs") > cap).count() == 1)
    }
  }

  test("windowed betweenness: in-heap rung equals level-sync on the capped subgraph (r15)") {
    withEngine(DemoGtfs.engine(spark)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      import spark.implicits._
      // cap at the median departure — a proper subgraph (some rows drop)
      val clk = g.nodes.select(org.apache.spark.sql.functions.col("dep_secs")
        .cast("double")).as[Double].collect().sorted.apply(g.nodeCount.toInt / 2)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("stop_name"),
          r.getAs[Number]("dep_secs").longValue(), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      val inHeap = rows(Betweenness.ofProjection(g, clockCap = clk))
      val levelSync = rows(Betweenness.ofProjection(g, localThreshold = Some(0L),
        clockCap = clk))
      assert(inHeap == levelSync,
        "windowed in-heap betweenness diverged from windowed level-sync")
      val full = rows(Betweenness.ofProjection(g))
      assert(inHeap.size < full.size,
        "the cap should restrict the scored rows to the window")
      assert(inHeap.nonEmpty)
    }
  }

  test("api betweennessWindow mirrors the windowed rung (r16)") {
    // the engine-level mirror of the capped betweenness capability —
    // "HH:mm:ss" cap parses to the same clock the direct call takes
    withEngine(DemoGtfs.engine(spark)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("stop_name"),
          r.getAs[Number]("dep_secs").longValue(), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
      assert(rows(eng.betweennessWindow("2024-01-18", "14:40:00")) ==
        rows(Betweenness.ofProjection(g, clockCap = 52800.0)))
      assert(rows(eng.betweenness("2024-01-18")) ==
        rows(Betweenness.ofProjection(g)))
    }
  }

  test("betweenness of the projected routing graph ranks transfer stoptimes") {
    withEngine(DemoGtfs.engine(spark)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      val top = Betweenness.ofProjection(g).collect()
      assert(top.nonEmpty)
      // the golden itinerary's mid-path stoptimes (Beta/Gamma on T1) must
      // outrank terminal stoptimes
      val byName = top.map(r => (r.getAs[String]("stop_name"), r.getAs[Double]("score")))
      val best = byName.head
      assert(best._2 > 0.0)
    }
  }
}
