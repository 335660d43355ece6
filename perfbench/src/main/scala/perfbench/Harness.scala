package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload needs from the run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, benchDir: String,
    workDir: String) {
  def span[A](name: String, layer: String)(f: => A): A = tracer.span(name, layer)(f)
}

/** One timed operation's record. `error` is set when it threw or its answer
  * failed the correctness check. */
final case class OpSample(i: Int, seconds: Double, traced: Boolean, window: Interval,
    gcSeconds: Double, var error: Option[String])

/** A closed-loop workload: one client thread, each operation sent after the
  * previous answer arrived, in the order of a list generated from the seed. */
trait Workload {
  def name: String

  /** One complete set-up. Rounds after the first replace the state of the
    * previous one. */
  def setUp(round: Int): Unit

  /** Untimed operations from inputs of another seed, run after set-up. */
  def warmUp(): Unit

  /** Operation `i` of the timed loop; keeps its answer for [[check]]. */
  def op(i: Int): Unit

  /** Reason operation `i`'s answer is wrong, or None. */
  def check(i: Int): Option[String]

  /** Reference jobs run after each operation; see [[Harness.reference]]. */
  def referencesPerOp: Int = 1

  /** Extra traced measurements taken after the timed loop. */
  def probe(samples: Seq[OpSample]): Unit = ()

  /** Per-layer metrics this workload defines, from the traced run. */
  def layerMetrics(setupRounds: Seq[Interval], samples: Seq[OpSample],
      work: WorkSummary): Map[String, Double]

  def tearDown(): Unit
}

object Harness {

  val SetupRounds = 3

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }

  /** Heap in use after full collections: the least of five readings, each
    * taken a moment after a GC, so that blocks Spark's cleaner releases
    * once their owners are collected are gone by a later reading. */
  def heapMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(200)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  /** Seconds of one fixed Spark job that no graft code takes part in: a
    * 100,000-row range grouped into 16 keys over a 4-partition shuffle.
    * Interleaved with the timed operations, it tracks how fast this machine
    * runs Spark jobs at that moment; latency is reported in its units too,
    * because the machine's speed drifts by up to 2x over minutes. */
  def reference(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.col
    val t0 = System.nanoTime()
    spark.range(0L, 100000L, 1L, 4).groupBy((col("id") % 16).as("k")).count().collect()
    (System.nanoTime() - t0) / 1e9
  }

  final case class Result(setupRounds: Seq[Double], roundWindows: Seq[Interval],
      heapMb: Double, samples: Seq[OpSample], references: Seq[Double])

  /** Set up [[SetupRounds]] times, warm up, then run the timed loop for
    * `seconds` (at least one operation, each followed by its reference
    * jobs) and check every answer. In a traced
    * run every other operation is traced, so the untraced ones give the
    * tracing overhead. */
  def run(w: Workload, ctx: Ctx, seconds: Int, traced: Boolean): Result = {
    val rounds = (1 to SetupRounds).map { r =>
      ctx.tracer.on = traced
      ctx.tracer.op = -r
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      ctx.span("setup", "bench")(w.setUp(r))
      val dt = (System.nanoTime() - t0) / 1e9
      ctx.tracer.on = false
      (dt, Interval(m0, System.currentTimeMillis()))
    }
    w.warmUp()
    val heap = heapMb()
    val samples = scala.collection.mutable.ArrayBuffer.empty[OpSample]
    val references = scala.collection.mutable.ArrayBuffer.empty[Double]
    val loop0 = System.nanoTime()
    val limit = loop0 + seconds * 1000000000L
    var i = 0
    while (i == 0 || System.nanoTime() < limit) {
      val tr = traced && i % 2 == 0
      ctx.tracer.on = tr
      ctx.tracer.op = i
      val gc0 = gcSeconds()
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try { ctx.span("op", "bench")(w.op(i)); None }
        catch { case e: Exception => Some(s"threw $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      val m1 = System.currentTimeMillis()
      ctx.tracer.on = false
      samples += OpSample(i, dt, tr, Interval(m0, m1), gcSeconds() - gc0, err)
      references ++= (1 to w.referencesPerOp).map(_ => reference(ctx.spark))
      i += 1
    }
    samples.foreach { s =>
      if (s.error.isEmpty) s.error =
        try w.check(s.i) catch { case e: Exception => Some(s"check threw $e") }
    }
    if (traced) {
      ctx.tracer.on = true
      w.probe(samples.toSeq.filter(_.traced))
      ctx.tracer.on = false
    }
    Result(rounds.map(_._1), rounds.map(_._2), heap, samples.toSeq, references.toSeq)
  }
}
