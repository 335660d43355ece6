package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `op` is the shared request id (-1 for
  * set-up work); `parent` is the enclosing span's id (-1 at the root). */
final case class Span(id: Int, name: String, layer: String, op: Int, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the single client thread. Spans are only
  * recorded while `on`; nothing is written until [[Tracer.write]]. */
final class Tracer {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, String, Long, Long)]
  private var nextId = 0
  var on = false
  var op = -1

  def span[A](name: String, layer: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId; nextId += 1
      val parent = if (open.isEmpty) -1 else open.top._1
      open.push((id, name, layer, System.nanoTime(), System.currentTimeMillis()))
      try f
      finally {
        val (_, _, _, s0, m0) = open.pop()
        done += Span(id, name, layer, op, parent, s0, System.nanoTime(), m0,
          System.currentTimeMillis())
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Wall seconds of each span minus its direct children. */
  def selfSeconds: Map[Int, Double] = {
    val child = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    done.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Innermost span open at epoch millisecond `ms`. */
  def layerAt(ms: Long): Option[String] = {
    val hits = done.filter(s => s.startMs <= ms && ms <= s.endMs)
    if (hits.isEmpty) None else Some(hits.maxBy(_.startNs).layer)
  }

  /** JSON lines, one span each, with self time. */
  def write(path: java.nio.file.Path): Unit = {
    val self = selfSeconds
    val lines = done.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","layer":"${s.layer}","op":${s.op},""" +
        s""""parent":${s.parent},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""seconds":${s.seconds},"self_seconds":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Per-stage task metrics, summed over the stage's tasks. */
final class StageStats {
  var submitMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var tasks = 0
  var shuffleBytes = 0L
  var resultBytes = 0L
  var spillBytes = 0L
}

/** A Spark job: its call site, and that of the SQL execution it ran for
  * (jobs Spark submits from its own threads carry no user frames). */
final case class JobRec(id: Int, startMs: Long, callSite: String, executionSite: String,
    stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Records every Spark job and task the session runs. Events arrive on
  * Spark's listener thread; [[drain]] waits until all of them are in. */
final class JobRecorder extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageStats]()
  /** Stage id → the first job that listed it (later jobs may skip it). */
  val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private def stage(id: Int): StageStats = stages.computeIfAbsent(id, _ => new StageStats)

  /** SQL execution id → call site of the action that started it, and
    * the id of its root execution. */
  private val executions = new java.util.concurrent.ConcurrentHashMap[Long, (String, Long)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executions.put(x.executionId, (x.details, x.rootExecutionId.getOrElse(x.executionId)))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(executions.get(id.toLong)))
      .map { case (d, root) => d + "\n" + Option(executions.get(root)).fold("")(_._1) }
      .getOrElse("")
    e.stageIds.foreach(stageOwner.putIfAbsent(_, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, e.time, site, exec, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val s = stage(e.stageId)
    s.synchronized { s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (m != null) {
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.resultBytes += m.resultSize
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Block until every event posted before this call has been delivered:
    * run one marker job and wait for its end event. */
  def drain(sc: SparkContext): Unit = {
    sc.setJobGroup("perfbench-drain", "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val ids = sc.statusTracker.getJobIdsForGroup("perfbench-drain")
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (ids.exists(id => Option(jobs.get(id)).forall(_.endMs < 0)) &&
      System.nanoTime() < deadline) Thread.sleep(5)
    ids.foreach(jobs.remove)
  }
}

/** Attribution of Spark work to graft modules. */
object Modules {

  /** Modules, named by their source directory under `src/main/scala/graft/`.
    * A job belongs to the module of the innermost graft frame in its call
    * site. */
  val All: Seq[String] = Seq("etl", "projection", "graph", "api", "queries", "functions",
    "operators", "streaming", "multimodal", "ml")

  private val Frame = """^graft\.([a-z]+)\..*""".r

  def ofCallSite(callSite: String): Option[String] =
    callSite.split("\n").iterator.map(_.trim)
      .collectFirst { case Frame(pkg) if All.contains(pkg) => pkg }

  /** Module of a job: its call site, else that of its SQL execution, else
    * the benchmark layer that was running when it started (jobs the
    * benchmark itself issues). */
  def of(job: JobRec, tracer: Tracer): String =
    ofCallSite(job.callSite).orElse(ofCallSite(job.executionSite))
      .orElse(tracer.layerAt(job.startMs)).getOrElse("bench")
}

/** Spark work inside one time window, split by module. */
final case class Interval(startMs: Long, endMs: Long)

final class WorkSummary(rec: JobRecorder, tracer: Tracer) {
  import scala.jdk.CollectionConverters._

  lazy val attributed: Seq[(JobRec, String)] =
    rec.jobs.values.asScala.toSeq.filter(_.endMs >= 0).map(j => j -> Modules.of(j, tracer))

  def jobsIn(w: Interval, module: Option[String] = None): Seq[JobRec] =
    attributed.collect { case (j, m) if j.startMs >= w.startMs && j.startMs <= w.endMs &&
      module.forall(_ == m) => j }

  /** Stages run by `js`: each stage counts once, for the job that ran it. */
  private def stagesOf(js: Seq[JobRec]): Seq[StageStats] =
    js.flatMap(j => j.stages.filter(s => rec.stageOwner.get(s) == j.id)).distinct
      .flatMap(id => Option(rec.stages.get(id)))

  def jobCount(js: Seq[JobRec]): Double = js.size.toDouble
  def taskCount(js: Seq[JobRec]): Double = stagesOf(js).map(_.tasks).sum.toDouble
  def shuffleMb(js: Seq[JobRec]): Double = stagesOf(js).map(_.shuffleBytes).sum / 1e6
  def resultMb(js: Seq[JobRec]): Double = stagesOf(js).map(_.resultBytes).sum / 1e6
  def spillMb(js: Seq[JobRec]): Double = stagesOf(js).map(_.spillBytes).sum / 1e6
  def jobSeconds(js: Seq[JobRec]): Double = js.map(j => (j.endMs - j.startMs) / 1e3).sum

  /** Seconds from stage submission to its first task launch, summed. */
  def taskWaitSeconds(js: Seq[JobRec]): Double =
    stagesOf(js).filter(s => s.submitMs >= 0 && s.firstLaunchMs != Long.MaxValue)
      .map(s => math.max(0L, s.firstLaunchMs - s.submitMs) / 1e3).sum

  /** Seconds of `w` during which no job of the window was running: driver
    * compute, planning and scheduling floor. */
  def driverGapSeconds(w: Interval): Double = {
    val iv = jobsIn(w).map(j => (math.max(j.startMs, w.startMs), math.min(j.endMs, w.endMs)))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (w.endMs - w.startMs) - covered) / 1e3
  }
}
