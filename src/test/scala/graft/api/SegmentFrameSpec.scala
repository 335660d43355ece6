package graft.api

import java.util.concurrent.{Callable, ConcurrentHashMap, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PlannedFrameBridge.PlannedScanExec
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.projection.NodeRec

/** Local-regime routing answers are driver-side: once the projection is
  * built, every public routing frame — and `formatItinerary` /
  * `changeCount` over it — reaches the caller with no Spark job, rows in
  * hop order, under the same 15-column schema the product encoder used to
  * derive. The schema is pinned here literally, not read back from the
  * engine, so a drift in either shows. The frames arrive planned in
  * advance (`PlannedFrameBridge`): the cases below pin that they are that
  * plan, that it prints no rows, and that anything derived from them is
  * planned as Spark plans any local relation. */
class SegmentFrameSpec extends graft.SparkSpec {
  val Day = "2024-01-18"

  val PinnedNearStopSchema: StructType =
    StructType(Seq(StructField("stop_name", StringType, nullable = true)))

  val PinnedSchema: StructType = StructType(Seq(
    StructField("hop", IntegerType, nullable = false),
    StructField("trip", StringType, nullable = true),
    StructField("departure", StringType, nullable = true),
    StructField("line", StringType, nullable = true),
    StructField("starting_stop_name", StringType, nullable = true),
    StructField("starting_stop_id", StringType, nullable = true),
    StructField("start_lat", DoubleType, nullable = false),
    StructField("start_lon", DoubleType, nullable = false),
    StructField("next_trip", StringType, nullable = true),
    StructField("next_stop", StringType, nullable = true),
    StructField("next_stop_id", StringType, nullable = true),
    StructField("next_lat", DoubleType, nullable = false),
    StructField("next_lon", DoubleType, nullable = false),
    StructField("next_line", StringType, nullable = true),
    StructField("arrival", StringType, nullable = true)))

  /** Runs each call under its own job group and returns the jobs each
    * launched. Listener events are delivered in order, so once the marker
    * job's end has arrived every earlier job start has been counted. */
  private def jobsPerCall(calls: Seq[(String, () => Unit)]): Map[String, Int] = {
    val sc = spark.sparkContext
    val Marker = "segment-frame-spec-marker"
    val started = new ConcurrentHashMap[String, Integer]()
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val markerEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach { g =>
            if (g == Marker) markerJobs.add(e.jobId)
            started.merge(g, 1, (a, b) => a + b)
          }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      (calls :+ (Marker -> (() => sc.parallelize(Seq(1), 1).count(): Unit))).foreach {
        case (group, call) =>
          sc.setJobGroup(group, group)
          try call() finally sc.clearJobGroup()
      }
      assert(markerEnded.await(60, TimeUnit.SECONDS), "marker job end never arrived")
    } finally sc.removeSparkListener(listener)
    calls.map { case (group, _) => group -> Option(started.get(group)).fold(0)(_.intValue) }.toMap
  }

  test("local-regime routing frames launch no Spark job, keep hop order and the pinned schema") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      def stops() = engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")
      def points() = engine.routingBetweenTwoPoints(Day, 44.6000, 10.9000, 44.6400, 10.9200,
        Seq("Alpha"), Seq("Epsilon"), 1.0, "14:00:00")
      // build and warm the projection, its local index and CSR (these run jobs)
      assert(engine.projected(java.sql.Date.valueOf(Day), 1.0).localIndex.isDefined,
        "the demo feed must route in the local regime")
      stops().collect()
      points().collect()
      val journey = engine.journey(Day, 44.5998, 10.9000, 44.6400, 10.9200,
        speed = 1.0, time = "14:00:00").get

      val frames = scala.collection.mutable.Map.empty[String, (StructType, Array[Row])]
      var itinerary = ""
      var changes = -1L
      val jobs = jobsPerCall(Seq(
        "routing" -> { () => val df = stops(); frames("routing") = (df.schema, df.collect()) },
        "routingBetweenTwoPoints" -> { () =>
          val df = points(); frames("routingBetweenTwoPoints") = (df.schema, df.collect()) },
        "journey.segments" -> { () =>
          frames("journey.segments") = (journey.segments.schema, journey.segments.collect()) },
        "formatItinerary" -> { () => itinerary = engine.formatItinerary(stops()) },
        "changeCount" -> { () => changes = engine.changeCount(stops()) }))

      assert(jobs.values.forall(_ == 0), s"Spark jobs per call: $jobs")
      assert(frames.keySet == Set("routing", "routingBetweenTwoPoints", "journey.segments"))
      frames.foreach { case (name, (schema, rows)) =>
        assert(schema == PinnedSchema, s"$name schema")
        assert(rows.map(_.getInt(0)).toSeq == (1 to 5), s"$name hop order")
        assert(rows.map(_.getAs[String]("trip")).toSeq == Seq("T1", "T1", "T1", "T3", "T3"), name)
        assert(rows.last.getAs[String]("arrival") == "14:40:00", name)
      }
      assert(itinerary.startsWith("start trip at 14:01:00 at station Alpha line: R1"))
      assert(itinerary.endsWith("end trip at 14:40:00 at station Epsilon with line: R2"))
      assert(changes == 1L && journey.changes == 1L)
    }
  }

  test("warm near-stop search launches no Spark job and keeps its names") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      def near() = engine.findNearStops(Day, 44.6200, 10.9000, 300).collect()
        .map(_.getString(0)).toSeq
      val first = near() // builds the projection's stop dimension (runs jobs)
      engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon").collect()
      var again = Seq.empty[String]
      val jobs = jobsPerCall(Seq("findNearStops" -> { () => again = near() }))
      assert(jobs("findNearStops") == 0, s"Spark jobs per call: $jobs")
      assert(first == Seq("Gamma", "Gamma Due"))
      assert(again == first)
      val schema = engine.findNearStops(Day, 44.6200, 10.9000, 300).schema
      assert(schema == PinnedNearStopSchema, s"near-stop schema: ${schema.treeString}")
    }
  }

  test("first near-stop search on a fresh projection collects its stop dimension in few jobs") {
    // Bench's session lets AQE re-plan cached frames' output partitioning
    val CachedRepartition = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val before = spark.conf.getOption(CachedRepartition)
    spark.conf.set(CachedRepartition, "true")
    // the demo feed moved one degree north: no other engine's cached stop
    // dimension matches its plan, so the search really starts cold
    val demo = DemoGtfs.tables(spark)
    val engine = new RoutingEngine(demo.copy(
      stops = demo.stops.withColumn("stop_lat", demo.stops("stop_lat") + 1.0)))
    var names = Seq.empty[String]
    val jobs = try jobsPerCall(Seq("findNearStops" -> { () =>
      names = engine.findNearStops(Day, 45.6200, 10.9000, 300).collect()
        .map(_.getString(0)).toSeq
    })) finally {
      engine.close()
      before.fold(spark.conf.unset(CachedRepartition))(spark.conf.set(CachedRepartition, _))
    }
    // the node cache's build and the distinct's collect; reading it
    // through the stop-dimension cache launched one job more
    assert(jobs("findNearStops") <= 6, s"Spark jobs per call: $jobs")
    assert(names == Seq("Gamma", "Gamma Due"))
  }

  private def stops(engine: RoutingEngine): DataFrame =
    engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")
  private def points(engine: RoutingEngine): DataFrame =
    engine.routingBetweenTwoPoints(Day, 44.6000, 10.9000, 44.6400, 10.9200,
      Seq("Alpha"), Seq("Epsilon"), 1.0, "14:00:00")

  test("routing frames behave as ordinary DataFrames") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      val want = stops(engine).collect().toSeq // builds the projection (runs jobs)
      val wantPoints = points(engine).collect().toSeq
      assert(want.map(_.getInt(0)) == (1 to 5) && wantPoints.map(_.getInt(0)) == (1 to 5))
      def hops(rows: Array[Row]) = rows.map(_.getInt(0)).toSeq
      var filtered, taken = Seq.empty[Int]
      var changes = -1L
      var itinerary = ""
      val jobs = jobsPerCall(Seq(
        "filter" -> { () => filtered = hops(stops(engine).filter(col("hop") > 2).collect()) },
        "take" -> { () => taken = hops(stops(engine).take(2)) },
        "changeCount" -> { () => changes = engine.changeCount(stops(engine)) },
        "formatItinerary" -> { () => itinerary = engine.formatItinerary(stops(engine)) }))
      assert(jobs.values.forall(_ == 0), s"Spark jobs per call: $jobs")
      assert(filtered == Seq(3, 4, 5) && taken == Seq(1, 2) && changes == 1L)
      assert(itinerary.startsWith("start trip at 14:01:00 at station Alpha line: R1"))

      assert(stops(engine).union(points(engine)).collect().toSeq == want ++ wantPoints)
      // two frames of one shape carry fresh attributes: the join resolves
      val (a, b) = (stops(engine), stops(engine))
      val joined = a.join(b, a("hop") === b("hop")).select(a("hop"), b("trip"))
        .orderBy("hop").collect()
      assert(hops(joined) == (1 to 5) && joined.map(_.getString(1)).toSeq == want.map(_.getString(1)))

      val cached = stops(engine).cache()
      try {
        assert(cached.storageLevel != StorageLevel.NONE)
        assert(cached.count() == 5L && cached.collect().toSeq == want)
      } finally cached.unpersist(blocking = true)
      assert(cached.storageLevel == StorageLevel.NONE)

      assert(stops(engine).rdd.count() == 5L)
      assert(stops(engine).rdd.map(_.getInt(0)).collect().toSeq == (1 to 5))
      assert(stops(engine).count() == 5L)
    }
  }

  test("an empty near-stop frame and an empty route frame keep their schemas") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      val near = engine.findNearStops(Day, 45.0, 11.5, 300) // no stop within 300 m
      val route = engine.routing(Day, 1.0, "14:00:00", "Alpha", "Omega") // no such stop
      assert(near.schema == PinnedNearStopSchema && route.schema == PinnedSchema)
      assert(near.collect().isEmpty && near.count() == 0L && near.rdd.count() == 0L)
      assert(route.collect().isEmpty && route.count() == 0L && route.rdd.count() == 0L)
      assert(route.filter(col("hop") > 0).collect().isEmpty && engine.changeCount(route) == 0L)
      assert(near.union(near).collect().isEmpty && route.take(1).isEmpty)
    }
  }

  test("a routing frame's executed plan is the planned leaf, which prints no row data") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      for (df <- Seq(stops(engine), points(engine),
          engine.findNearStops(Day, 44.6200, 10.9000, 300))) {
        val qe = df.queryExecution
        val values = df.collect().flatMap(_.toSeq).collect { case v: String => v }.toSet
        assert(values.nonEmpty)
        assert(qe.executedPlan.isInstanceOf[PlannedScanExec], qe.executedPlan.treeString)
        assert(qe.optimizedPlan.isInstanceOf[LocalRelation], qe.optimizedPlan.treeString)
        assert(qe.analyzed eq qe.optimizedPlan)
        val shown = Seq(qe.executedPlan.treeString(verbose = true), qe.simpleString)
        shown.foreach(text => assert(!values.exists(text.contains), text))
        // a derived frame is planned as Spark plans any local relation:
        // the filter folds into a LocalRelation, scanned as usual
        val derived = df.filter(col(df.columns.head).isNotNull).queryExecution
        assert(derived.optimizedPlan.isInstanceOf[LocalRelation], derived.optimizedPlan.treeString)
        assert(derived.executedPlan.isInstanceOf[LocalTableScanExec], derived.executedPlan.treeString)
      }
    }
  }

  test("eight threads building routing frames on one engine read the single-threaded answers") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      val near: IndexedSeq[() => DataFrame] = IndexedSeq(
        () => engine.findNearStops(Day, 44.6200, 10.9000, 300),
        () => engine.findNearStops(Day, 44.6000, 10.9000, 300),
        () => engine.findNearStops(Day, 44.6400, 10.9200, 300))
      val routes: IndexedSeq[() => DataFrame] = IndexedSeq(() => stops(engine),
        () => points(engine), () => engine.routing(Day, 1.0, "14:00:00", "Alpha", "Gamma"))
      val wantNear = near.map(_().collect().toSeq) // builds the projection (runs jobs)
      val wantRoutes = routes.map(_().collect().toSeq)
      assert(wantNear.forall(_.nonEmpty) && wantRoutes.forall(_.nonEmpty), "fixture drifted")
      val (threads, perThread) = (8, 50)
      val pool = Executors.newFixedThreadPool(threads)
      try {
        val go = new CountDownLatch(1)
        val results = (0 until threads).map { t =>
          pool.submit(new Callable[Seq[String]] {
            def call(): Seq[String] = {
              go.await()
              (0 until perThread).flatMap { i =>
                val (k, j) = ((t + i) % near.size, (t + 2 * i) % routes.size)
                val (gotNear, gotRoute) = (near(k)().collect().toSeq, routes(j)().collect().toSeq)
                (if (gotNear == wantNear(k)) None else Some(s"thread $t call $i near $k: $gotNear")) ++
                  (if (gotRoute == wantRoutes(j)) None else Some(s"thread $t call $i route $j: $gotRoute"))
              }
            }
          })
        }
        go.countDown()
        val wrong = results.flatMap(_.get(5, TimeUnit.MINUTES))
        assert(wrong.isEmpty, wrong.take(5).mkString("\n"))
      } finally pool.shutdownNow()
    }
  }

  test("formatItinerary sorts a shuffled segment frame by hop on the driver") {
    withEngine(new RoutingEngine(DemoGtfs.tables(spark))) { engine =>
      val seg = engine.routing(Day, 1.0, "14:00:00", "Alpha", "Epsilon")
      val reversed = spark.createDataFrame(
        java.util.Arrays.asList(seg.collect().reverse: _*), seg.schema)
      assert(engine.formatItinerary(reversed) == engine.formatItinerary(seg))
    }
  }

  test("segmentRows fails on a path node the resolver lacks, naming the hop and the node") {
    def rec(id: Long) = NodeRec(id, s"T$id", "R1", s"S$id", s"Stop $id", 44.6, 10.9,
      id.toInt, 50000L + 60 * id, 50000L + 60 * id)
    val path = List(11L, 12L, 13L, 14L)
    assert(RoutingEngine.segmentRows(id => Some(rec(id)), path).map(_.hop) == Seq(1, 2, 3))
    val e = intercept[IllegalStateException] {
      RoutingEngine.segmentRows(id => if (id == 13L) None else Some(rec(id)), path)
    }
    assert(e.getMessage.contains("hop 2") && e.getMessage.contains("node 13"), e.getMessage)
  }
}
