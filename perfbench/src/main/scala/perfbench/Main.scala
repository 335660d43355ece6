package perfbench

import org.apache.spark.sql.SparkSession

/** Metric names, units and directions; BENCHMARK.json lists the same. */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"), M("latency_p50_rel", "x", "lower"), M("heap_mb", "MB", "lower"))

  private def lower(unit: String)(names: String*): Seq[M] = names.map(M(_, unit, "lower"))

  val PerLayer: Seq[M] =
    lower("s")("etl.generate_s", "etl.walkto_s", "projection.build_s", "projection.index_s") ++
    lower("count")("projection.jobs", "projection.tasks") ++
    lower("MB")("projection.shuffle_mb") ++
    lower("s")("graph.sssp_s") ++ lower("count")("graph.jobs", "graph.tasks") ++
    lower("s")("graph.job_s") ++ lower("MB")("graph.shuffle_mb") ++
    lower("s")("graph.task_wait_s", "api.near_stops_s", "api.route_s") ++
    lower("count")("api.jobs_per_request", "api.tasks_per_request") ++
    lower("MB")("api.result_mb") ++ lower("s")("api.driver_gap_s") ++
    lower("s")("queries.relational_s", "queries.pipeline_s", "queries.graph_s",
      "queries.streaming_s", "queries.driver_gap_s") ++
    lower("count")("queries.jobs", "queries.tasks") ++ lower("MB")("queries.shuffle_mb") ++
    lower("s")("operators.job_s", "functions.job_s", "streaming.job_s") ++
    lower("s")("spark.session_s", "spark.gc_s") ++ lower("MB")("spark.spill_mb") ++
    lower("s")("trace.overhead_s") ++ Seq(M("trace.layer_cover", "ratio", "higher")) ++
    lower("s")("latency.p50_s", "latency.reference_s", "latency.tail_s") ++
    Seq(M("latency.tail_pct", "pct", "higher"),
      M("latency.samples", "count", "higher")) ++ lower("ratio")("check.error_ratio")

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"

  def json(metrics: Seq[(M, Double)]): String =
    metrics.map { case (m, v) => s""""${m.name}": {"value": ${num(v)}, "unit": "${m.unit}"}""" }
      .mkString("{", ", ", "}")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

object Main {

  val Workloads: Seq[String] = Seq("warm_routing", "catalog_mini")

  def make(name: String, ctx: Ctx): Workload = name match {
    case "warm_routing" => new WarmRouting(ctx)
    case "catalog_mini" => new CatalogMini(ctx)
    case other => sys.error(s"unknown workload $other; known: ${Workloads.mkString(", ")}")
  }

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opts.get("seed").map(_.toLong).getOrElse(Inputs.DefaultSeed)
    val seconds = opts.get("seconds").map(_.toInt).getOrElse(10)
    val traced = opts.get("trace").contains("1")
    val workDir = opt("work-dir")
    val benchDir = opt("bench-dir")
    require(Workloads.contains(workload), s"unknown workload $workload")

    val s0 = System.nanoTime()
    val spark = session(workDir)
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = new Tracer
    val recorder = new JobRecorder
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val ctx = Ctx(spark, tracer, seed, benchDir, workDir)
    val w = make(workload, ctx)
    try {
      if (opts.get("record").contains("1")) {
        (w: @unchecked) match {
          case r: WarmRouting => r.setUp(1); Expected.write(ctx, workload, r.record())
          case c: CatalogMini => c.setUp(1); Expected.write(ctx, workload, c.record())
        }
        System.err.println(s"recorded ${Expected.path(ctx, workload)}")
      } else {
        val r = Harness.run(w, ctx, seconds, traced)
        val failed = r.samples.count(_.error.isDefined)
        r.samples.flatMap(s => s.error.map(e => s"op ${s.i}: $e")).take(5)
          .foreach(e => System.err.println(s"[perfbench] FAILED $e"))
        val metrics =
          if (!traced) endToEnd(r)
          else {
            recorder.drain(spark.sparkContext)
            val work = new WorkSummary(recorder, tracer)
            val m = perLayer(w, r, work, tracer, sessionS)
            writeTrace(ctx, workload, tracer, work)
            m
          }
        System.err.println(s"[perfbench] workload=$workload seed=$seed (default seed " +
          s"${Inputs.DefaultSeed}) ops=${r.samples.size} setup rounds=" +
          r.setupRounds.map(x => f"$x%.3f").mkString(",") + " op seconds=" +
          r.samples.map(x => f"${x.seconds}%.3f").mkString(","))
        println(s"""{"correct": ${failed == 0}, "attempted": ${r.samples.size}, """ +
          s""""failed": $failed, "metrics": ${Metrics.json(metrics)}}""")
      }
    } finally {
      w.tearDown()
      spark.stop()
    }
  }

  def endToEnd(r: Harness.Result): Seq[(Metrics.M, Double)] = {
    val values = Map(
      "setup_s" -> Stats.median(r.setupRounds),
      "latency_p50_rel" -> Stats.median(r.samples.map(_.seconds)) / Stats.median(r.references),
      "heap_mb" -> r.heapMb)
    Metrics.EndToEnd.map(m => m -> values(m.name))
  }

  def perLayer(w: Workload, r: Harness.Result, work: WorkSummary, tracer: Tracer,
      sessionS: Double): Seq[(Metrics.M, Double)] = {
    val traced = r.samples.filter(_.traced)
    val plain = r.samples.filterNot(_.traced)
    val self = tracer.selfSeconds
    val opSpans = tracer.spans.filter(_.name == "op").map(s => s.op -> s).toMap
    val cover = traced.flatMap(s => opSpans.get(s.i)).map(sp => 1.0 - self(sp.id) / sp.seconds)
    val tail = Stats.tail(r.samples.map(_.seconds))
    val common = Map(
      "spark.session_s" -> sessionS,
      "spark.gc_s" -> Stats.mean(traced.map(_.gcSeconds)),
      "spark.spill_mb" -> Stats.mean(traced.map(s => work.spillMb(work.jobsIn(s.window)))),
      "trace.overhead_s" -> (if (plain.isEmpty) 0.0
        else Stats.median(traced.map(_.seconds)) - Stats.median(plain.map(_.seconds))),
      "trace.layer_cover" -> Stats.mean(cover),
      "latency.p50_s" -> Stats.median(r.samples.map(_.seconds)),
      "latency.reference_s" -> Stats.median(r.references),
      "latency.tail_s" -> tail.map(_._2).getOrElse(0.0),
      "latency.tail_pct" -> tail.map(_._1).getOrElse(0.0),
      "latency.samples" -> r.samples.size.toDouble,
      "check.error_ratio" -> r.samples.count(_.error.isDefined).toDouble / r.samples.size)
    val values = common ++ w.layerMetrics(r.roundWindows, r.samples, work)
    Metrics.PerLayer.map(m => m -> values.getOrElse(m.name, 0.0))
  }

  /** Spans and module-attributed jobs of the traced run, as JSON lines. */
  def writeTrace(ctx: Ctx, workload: String, tracer: Tracer, work: WorkSummary): Unit = {
    val dir = java.nio.file.Paths.get(ctx.workDir, "traces")
    tracer.write(dir.resolve(s"$workload-seed${ctx.seed}-spans.jsonl"))
    val jobs = work.attributed.sortBy(_._1.id).map { case (j, m) =>
      val site = j.callSite.split("\n").take(3).mkString(" | ")
        .replace("\\", "\\\\").replace("\"", "\\\"")
      s"""{"job":${j.id},"module":"$m","start_ms":${j.startMs},"end_ms":${j.endMs},""" +
        s""""call_site":"$site"}"""
    }
    java.nio.file.Files.write(dir.resolve(s"$workload-seed${ctx.seed}-jobs.jsonl"),
      (jobs.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
