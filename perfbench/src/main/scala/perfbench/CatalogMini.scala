package perfbench

import graft.queries.{GraphQueries, Pipeline, Q, Relational, StreamingQueries}

/** The data-processing side: a fixed subset of the operator catalog over
  * generated tables. One operation is one full pass over the subset, in an
  * order drawn from the seed; every query's collected result is hashed and
  * compared with the hash recorded for it. Caches are released after every
  * query, as the catalog bench does. */
final class CatalogMini(ctx: Ctx) extends Workload {
  val name = "catalog_mini"

  /** Query → the catalog file that defines it. */
  val Subset: Seq[(String, String)] = Seq(
    "j1_star_join_chain" -> "relational", "w1_sequence_lead" -> "relational",
    "f1_haversine_radius" -> "relational", "text_bpe_merges" -> "pipeline",
    "multimodal_resize" -> "pipeline", "g5_connected_components" -> "graph",
    "stream_windowed_counts" -> "streaming")

  private val files: Map[String, Seq[Q]] = Map(
    "relational" -> Relational.all, "pipeline" -> Pipeline.all,
    "graph" -> GraphQueries.all, "streaming" -> StreamingQueries.all)

  private val queries: Map[String, Q] = Subset.map { case (n, file) =>
    n -> files(file).find(_.name == n).getOrElse(
      sys.error(s"catalog query $n is not in the $file catalog"))
  }.toMap

  val order: Vector[String] = Inputs.order(ctx.seed, Subset.map(_._1))

  /** One reference job per query, so a pass is compared with as many. */
  override def referencesPerOp: Int = Subset.size
  private val warmOrder = Inputs.order(Inputs.warmupSeed(ctx.seed), Subset.map(_._1))
  val dir: String = s"${ctx.workDir}/catalog-data"

  private val hashes = scala.collection.mutable.Map.empty[(Int, String), Either[String, String]]

  def setUp(round: Int): Unit =
    ctx.span("etl.generate", "etl")(CatalogData.write(ctx.spark, dir))

  private def runQuery(n: String): String = {
    val rows = ctx.span(s"query.$n", "queries")(queries(n).run(ctx.spark, dir).collect())
    ctx.spark.catalog.clearCache()
    graft.Runtime.releaseAll()
    Check.resultHash(rows)
  }

  def warmUp(): Unit = warmOrder.foreach(runQuery)

  def op(i: Int): Unit = order.foreach { n =>
    hashes((i, n)) =
      try Right(runQuery(n)) catch { case e: Exception => Left(s"$n threw $e") }
  }

  private lazy val expected = Expected.load(ctx, name)

  def check(i: Int): Option[String] = order.iterator.map { n =>
    hashes((i, n)) match {
      case Left(err) => Some(err)
      case Right(h) if !expected.get(n).contains(h) =>
        Some(s"$n hashed $h, recorded ${expected.getOrElse(n, "nothing")}")
      case _ => None
    }
  }.collectFirst { case Some(e) => e }

  /** Hashes of every subset query: recorded once, valid for every seed
    * because the tables do not depend on it. */
  def record(): Seq[(String, String)] = Subset.map { case (n, _) => n -> runQuery(n) }

  def layerMetrics(rounds: Seq[Interval], samples: Seq[OpSample],
      work: WorkSummary): Map[String, Double] = {
    val spans = ctx.tracer.spans
    val traced = samples.filter(_.traced)
    def perPass(f: OpSample => Double): Double = Stats.mean(traced.map(f))
    def fileS(file: String)(s: OpSample): Double = {
      val names = Subset.collect { case (n, `file`) => s"query.$n" }.toSet
      spans.filter(x => x.op == s.i && names(x.name)).map(_.seconds).sum
    }
    def module(m: String)(s: OpSample): Double = work.jobSeconds(work.jobsIn(s.window, Some(m)))
    Map(
      "etl.generate_s" -> Stats.median(rounds.indices.map(r => spans.filter(s =>
        s.op == -(r + 1) && s.name == "etl.generate").map(_.seconds).sum)),
      "queries.relational_s" -> perPass(fileS("relational")),
      "queries.pipeline_s" -> perPass(fileS("pipeline")),
      "queries.graph_s" -> perPass(fileS("graph")),
      "queries.streaming_s" -> perPass(fileS("streaming")),
      "queries.driver_gap_s" -> perPass(s => work.driverGapSeconds(s.window)),
      "queries.jobs" -> perPass(s => work.jobCount(work.jobsIn(s.window))),
      "queries.tasks" -> perPass(s => work.taskCount(work.jobsIn(s.window))),
      "queries.shuffle_mb" -> perPass(s => work.shuffleMb(work.jobsIn(s.window))),
      "operators.job_s" -> perPass(module("operators")),
      "functions.job_s" -> perPass(module("functions")),
      "streaming.job_s" -> perPass(module("streaming")))
  }

  def tearDown(): Unit = ()
}
