package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-JOB wall-clock profile of named catalog queries — the "where do the
  * seconds of a bench row actually go" instrument (optimization guide §1:
  * measure first, attribute to operators/call sites before touching code).
  *
  * For each named query it runs Bench's own set-up and per-run protocol
  * (`Bench.session`, `Bench.warmUp`, `Bench.timeRow`: noop sink, a failing
  * run logged and skipped past, clearCache + Runtime.releaseAll between
  * runs) with min-of-N semantics, and additionally records every Spark job's
  * submit→complete wall, its task count, and the first graft call-site
  * frame of its first stage (else of the SQL execution it ran for), then
  * prints the jobs of the FASTEST run grouped by call site. The gap
  * between the run wall and the sum of job walls is driver-side time
  * (planning, collects of empty results, pure-driver work).
  *
  * `sbt "runMain graft.tools.ProfileRows <name>[,<name>...] [sfDir] [repeats]"`
  * SPARK_GRAFT_PROFILE_CONF="k=v;k=v" sets runtime SQL confs on top of
  * Bench's for an ad-hoc experiment.
  */
object ProfileRows {
  private final case class JobRec(id: Int, desc: String, site: String,
      tasks: Int, submitNs: Long, var wallMs: Long = -1L)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val repeats = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Bench.session(32)
    sys.env.get("SPARK_GRAFT_PROFILE_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v)
    })

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    // per-STAGE record: (name+first graft frame, tasks, wallMs) — the job
    // view hides which operator a multi-stage AQE job spent its time in
    final case class StageRec(site: String, tasks: Int, var wallMs: Long = -1L,
        var submitNs: Long = 0L)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
    // SQL execution id → long call site of the action that started it
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def graftFrame(details: String): Option[String] =
      details.linesIterator.find(_.contains("graft.")).map(_.trim.replaceFirst("^at ", ""))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.details)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        // AQE submits stage-materialization jobs from its own threads
        // (stage name "withThreadLocalCaptured", no graft frame): fall
        // back to the call site of the SQL execution that owns them
        val execFrame = prop("spark.sql.execution.id")
          .flatMap(id => Option(executions.get(id.toLong))).flatMap(graftFrame)
        def frameOf(si: StageInfo) = graftFrame(si.details).orElse(execFrame)
        val site = js.stageInfos.headOption
          .map(si => frameOf(si).getOrElse(si.name)).getOrElse("?")
        val desc = prop("spark.job.description").getOrElse("")
        jobs.put(js.jobId, JobRec(js.jobId, desc, site,
          js.stageInfos.map(_.numTasks).sum, System.nanoTime()))
        js.stageInfos.foreach { si =>
          val frame = frameOf(si).getOrElse("-")
          stages.putIfAbsent(si.stageId,
            StageRec(s"${si.name.takeWhile(_ != '(').trim} | $frame", si.numTasks))
        }
      }
      override def onStageSubmitted(
          ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        val r = stages.get(ss.stageInfo.stageId)
        if (r != null) r.submitNs = System.nanoTime()
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val r = stages.get(sc.stageInfo.stageId)
        if (r != null && r.submitNs > 0L)
          r.wallMs = (System.nanoTime() - r.submitNs) / 1000000L
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.wallMs = (System.nanoTime() - r.submitNs) / 1000000L
      }
    }
    spark.sparkContext.addSparkListener(listener)

    graft.Bench.warmUp(spark, sfDir)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries
        .getOrElse(name, sys.error(s"no catalog query named $name"))
      val runs = (1 to repeats).map { _ =>
        jobs.clear()
        stages.clear()
        executions.clear()
        val (_, wall) = graft.Bench.timeRow(spark, sfDir, name, fn)
        val snap = {
          import scala.jdk.CollectionConverters._
          jobs.values.asScala.toIndexedSeq.sortBy(_.id)
        }
        val stageSnap = {
          import scala.jdk.CollectionConverters._
          stages.values.asScala.toIndexedSeq
        }
        (wall, snap, stageSnap)
      }
      val (bestWall, bestJobs, bestStages) = runs.minBy(_._1)
      println(f"== $name: runs ${runs.map(r => f"${r._1}%.2f").mkString(" ")} s" +
        f" | best $bestWall%.2f s, ${bestJobs.size} jobs," +
        f" job-wall sum ${bestJobs.map(_.wallMs).sum / 1000.0}%.2f s" +
        f" (rest = driver/planning)")
      // group by job description (phase label) + call site, descending wall
      bestJobs.groupBy(j =>
        if (j.desc.nonEmpty) s"${j.desc} @ ${j.site}" else j.site).toSeq
        .map { case (site, js) => (site, js.map(_.wallMs).sum, js.size, js.map(_.tasks).sum) }
        .sortBy(-_._2)
        .take(30)
        .foreach { case (site, ms, n, tasks) =>
          println(f"  $ms%6d ms  jobs=$n%3d tasks=$tasks%5d  $site")
        }
      println("  -- stages (grouped by operator span + first graft frame) --")
      bestStages.groupBy(_.site).toSeq
        .map { case (site, ss) =>
          (site, ss.map(s => math.max(0L, s.wallMs)).sum, ss.size,
            ss.map(_.tasks).sum) }
        .sortBy(-_._2)
        .take(20)
        .foreach { case (site, ms, n, tasks) =>
          println(f"  $ms%6d ms  stages=$n%3d tasks=$tasks%5d  $site")
        }
    }
    spark.stop()
  }
}
