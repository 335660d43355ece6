package perfbench

import graft.api.RoutingEngine
import graft.etl.SyntheticGtfs
import graft.model.GtfsTables
import graft.projection.TimeExpandedGraph

/** A synthetic grid feed: `rows` × `cols` stops about 356 m apart north to
  * south and 790 m east to west, a route along every row and column in both
  * directions, `trips` departures per route from 05:00 every `headwaySecs`. */
final case class GridFeed(rows: Int, cols: Int, trips: Int, headwaySecs: Int) {
  def generate(ctx: Ctx): GtfsTables = {
    val g = SyntheticGtfs.grid(ctx.spark, rows, cols, trips, baseSecs = 5 * 3600,
      headwaySecs = headwaySecs, hopSecs = 90, directions = 2, rowStepDeg = 0.0032)
    g.stopTimes.cache().count()
    g
  }
}

/** Answers recorded for the default seed, `<key>\t<value>` per line. */
object Expected {
  def path(ctx: Ctx, workload: String): java.nio.file.Path =
    java.nio.file.Paths.get(ctx.benchDir, "expected", s"$workload.tsv")

  def load(ctx: Ctx, workload: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    val p = path(ctx, workload)
    require(java.nio.file.Files.exists(p), s"missing recorded answers $p")
    java.nio.file.Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, v) = l.split("\t", 2); k -> v
    }.toMap
  }

  def write(ctx: Ctx, workload: String, rows: Seq[(String, String)]): Unit = {
    val p = path(ctx, workload)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p,
      rows.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes("UTF-8"))
  }
}

/** Point-to-point routing on a projection held in memory: the local CSR
  * regime, the reference's own traffic. Each request is findNearStops at
  * both ends, then the point-to-point route. */
final class WarmRouting(ctx: Ctx) extends Workload {
  val name = "warm_routing"
  val Day = "2024-01-18"
  val Radius = 300.0
  private val feedShape = GridFeed(16, 16, 25, 2300)
  private val nRequests = 240
  private val horizonHours = 4
  private val nWarmups = 40

  val requests: Vector[OdRequest] =
    Inputs.routing(ctx.seed, feedShape.rows, feedShape.cols, nRequests)
  val warmups: Vector[OdRequest] =
    Inputs.routing(Inputs.warmupSeed(ctx.seed), feedShape.rows, feedShape.cols, nWarmups)

  private var feed: GtfsTables = _
  private var engine: RoutingEngine = _
  private var graph: TimeExpandedGraph = _
  private var index: FeedIndex = _
  /** Legs of each answered operation. */
  private val answers = scala.collection.mutable.Map.empty[Int, Seq[Leg]]

  def req(i: Int): OdRequest = requests(i % requests.size)

  def setUp(round: Int): Unit = {
    releaseAll()
    feed = ctx.span("etl.generate", "etl")(feedShape.generate(ctx))
    engine = new RoutingEngine(feed)
    ctx.span("etl.walkto", "etl")(engine.walkTo.count())
    graph = ctx.span("projection.build", "projection") {
      val g = engine.projected(java.sql.Date.valueOf(Day), 1.0)
      g.nodes.count(); g.edges.count()
      g
    }
    ctx.span("projection.index", "projection") {
      graph.localIndex match {
        case Some(ix) => ix.byName; ix.stopDim
        case None => graph.stopDim.count()
      }
    }
    if (index == null) index = FeedIndex(feed)
  }

  private def releaseAll(): Unit = {
    if (engine != null) engine.close()
    if (feed != null) feed.stopTimes.unpersist()
  }

  def tearDown(): Unit = releaseAll()

  /** Point of a grid cell: the position of its stop in the feed. */
  def point(row: Int, col: Int): (Double, Double) = index.coords(row, col)

  private def route(r: OdRequest): Seq[Leg] = {
    val (oLa, oLo) = point(r.fromRow, r.fromCol)
    val (dLa, dLo) = point(r.toRow, r.toCol)
    def near(la: Double, lo: Double) = ctx.span("api.near_stops", "api") {
      engine.findNearStops(Day, la, lo, Radius, r.speed).collect().map(_.getString(0)).toSeq
    }
    val from = near(oLa, oLo)
    val to = near(dLa, dLo)
    if (from.isEmpty || to.isEmpty) Nil
    else ctx.span("api.route", "api") {
      Leg.fromRows(engine.routingBetweenTwoPoints(Day, oLa, oLo, dLa, dLo, from, to,
        r.speed, r.departure, horizonHours).collect().toSeq)
    }
  }

  def warmUp(): Unit = warmups.foreach(route)

  def op(i: Int): Unit = answers(i) = route(req(i))

  private lazy val expected: Map[String, String] =
    if (ctx.seed == Inputs.DefaultSeed) Expected.load(ctx, name) else Map.empty

  def answerOf(i: Int): Answer = Check.answer(req(i), answers(i), index)

  def check(i: Int): Option[String] = {
    Check.itinerary(req(i), answers(i), index, Radius, horizonHours).orElse {
      val key = (i % requests.size).toString
      expected.get(key).flatMap { v =>
        val Array(arr, tot) = v.split("\t")
        val want = Answer(arr, tot.toDouble)
        val got = answerOf(i)
        if (got.matches(want)) None else Some(s"request $key answered $got, recorded $want")
      }
    }
  }

  /** Answers of the whole default-seed request list. */
  def record(): Seq[(String, String)] = requests.indices.map { i =>
    op(i)
    Check.itinerary(req(i), answers(i), index, Radius, horizonHours)
      .foreach(e => sys.error(s"request $i fails its check: $e"))
    val a = answerOf(i)
    i.toString -> s"${a.arrival}\t${a.totalSeconds}"
  }

  private def setupMetrics(rounds: Seq[Interval], work: WorkSummary): Map[String, Double] = {
    val spans = ctx.tracer.spans
    def perRound(name: String): Double =
      Stats.median(rounds.indices.map(r => spans.filter(s => s.op == -(r + 1) &&
        s.name == name).map(_.seconds).sum))
    def projection(f: Seq[JobRec] => Double): Double =
      Stats.median(rounds.map(w => f(work.jobsIn(w, Some("projection")))))
    Map(
      "etl.generate_s" -> perRound("etl.generate"),
      "etl.walkto_s" -> perRound("etl.walkto"),
      "projection.build_s" -> perRound("projection.build"),
      "projection.index_s" -> perRound("projection.index"),
      "projection.jobs" -> projection(work.jobCount),
      "projection.tasks" -> projection(work.taskCount),
      "projection.shuffle_mb" -> projection(work.shuffleMb))
  }

  private def requestMetrics(samples: Seq[OpSample], work: WorkSummary): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val traced = samples.filter(_.traced)
    def perOp(f: OpSample => Double): Double = Stats.mean(traced.map(f))
    def spanS(name: String)(s: OpSample): Double =
      spans.filter(x => x.op == s.i && x.name == name).map(_.seconds).sum
    def graphJobs(f: Seq[JobRec] => Double)(s: OpSample): Double =
      f(work.jobsIn(s.window, Some("graph")))
    def allJobs(f: Seq[JobRec] => Double)(s: OpSample): Double = f(work.jobsIn(s.window))
    Map(
      "api.near_stops_s" -> perOp(spanS("api.near_stops")),
      "api.route_s" -> perOp(spanS("api.route")),
      "api.jobs_per_request" -> perOp(allJobs(work.jobCount)),
      "api.tasks_per_request" -> perOp(allJobs(work.taskCount)),
      "api.result_mb" -> perOp(allJobs(work.resultMb)),
      "api.driver_gap_s" -> perOp(s => work.driverGapSeconds(s.window)),
      "graph.sssp_s" -> perOp(spanS("graph.sssp")),
      "graph.jobs" -> perOp(graphJobs(work.jobCount)),
      "graph.tasks" -> perOp(graphJobs(work.taskCount)),
      "graph.job_s" -> perOp(graphJobs(work.jobSeconds)),
      "graph.shuffle_mb" -> perOp(graphJobs(work.shuffleMb)),
      "graph.task_wait_s" -> perOp(graphJobs(work.taskWaitSeconds)))
  }

  def layerMetrics(rounds: Seq[Interval], samples: Seq[OpSample],
      work: WorkSummary): Map[String, Double] =
    setupMetrics(rounds, work) ++ requestMetrics(samples, work)

  /** The graph layer alone: one SSSP from the answer's first stoptime to
    * its last, plus the path, on the projection's in-memory index. */
  override def probe(samples: Seq[OpSample]): Unit = graph.localIndex.foreach { ix =>
    val ids = ix.recs.iterator.map(r => (r.tripId, r.stopId) -> r.id).toMap
    samples.filter(_.error.isEmpty).foreach { s =>
      val legs = answers(s.i)
      val src = ids((legs.head.trip, legs.head.fromStop))
      val dst = ids((legs.last.nextTrip, legs.last.nextStop))
      ctx.tracer.op = s.i
      val path = ctx.span("graph.sssp", "graph") {
        graph.sssp.runForTargets(Set(src), Set(dst)).path(src, dst)
      }
      if (path.headOption != Some(src) || path.lastOption != Some(dst)) s.error =
        Some(s"graph probe found no path from $src to $dst")
    }
  }
}
