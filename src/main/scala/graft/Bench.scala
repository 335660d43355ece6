package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark entry point. Emits a full JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{name:sec,...},
  *  "runs":{name:[sec,...]},"starts":{name:[epochSec,...]},
  *  "controls":{name:{"pin":s,"pre":s,"post":s},...},
  *  "drift":[cpuPre,cpuPost,ioPre,ioPost],
  *  "degraded":bool,"retried":bool,"sf":dir}
  * followed by a compact FINAL line sized for a consumer that keeps only the
  * last 2000 chars of stdout (see `qmsLine`).
  *
  * Each query runs `BENCH_REPEATS`+1 times (default 2+1 = 3) and `queries`
  * reports the MIN across runs: a co-tenant CPU spike during one window
  * poisons a single run, not the reported number. `starts` carries the
  * wall-clock epoch seconds of every run so a contended window is
  * identifiable post-hoc from the JSON alone, and the final qms line carries
  * per-query spread percent (see `qmsLine`) so even a tail-truncated log
  * flags contention mechanically.
  *
  * SELF-ADJUDICATION (r17, r16 verdict #1 — three rounds running the
  * headline total moved for environmental reasons and a human had to
  * re-derive "box drift" each time): the run brackets the catalog sweep
  * with [[Controls]] — fixed pure-CPU/shuffle pipelines that no catalog
  * commit touches, each with a PINNED idle-box band measured at the
  * r17 close (32 cores, min-of-3). `drift` = [cpuPre, cpuPost, ioPre,
  * ioPost] — for the CPU controls the median of measured-min /
  * pinned-band in the window before and after the sweep; for the
  * [[IoControl]] its own ratio, indexed SEPARATELY (a median across both
  * kinds would dilute an IO-only shift to invisibility — exactly the
  * state the IO control exists to expose). A reader normalizes a
  * CPU-bound row by the cpu index and a data-heavy row by the io index
  * (rowAdj ≈ row / drift) before calling it a code regression: drift ≈ 1
  * on an idle box at pinned core count; a contended or down-clocked box
  * shows drift >> 1 on BOTH ends (r16's 84.71 s artifact vs the builder's
  * 70.14 s mid-round read would have shown as drift ≈ 1.3 with catalog
  * ratios matching it); drift that appears only in `post` is state the
  * sweep itself created. COVERAGE cites this number instead of a manual
  * adjudication paragraph.
  */
object Bench {

  /** Fixed CONTROL pipelines: deterministic, pure CPU + shuffle, ZERO data
    * reads (tmp/page-cache state can't move them) and zero dependence on
    * catalog code (no commit to operators/queries can touch them). Sized
    * to ~0.5-1.5 s each at 32 cores — stable to time, cheap to run twice
    * per bench. The pinned band (seconds) is the idle-box min-of-3 at
    * local[32], spark.sql.shuffle.partitions=32, measured on the round-17
    * box; re-pin only with an idle min-of-3 on the measurement box and say
    * so in COVERAGE (same protocol as the Verify harness digests). */
  private[graft] val Controls: Seq[(String, Double, SparkSession => DataFrame)] = Seq(
    // codegen'd hash + two-level hash aggregate + 32-partition shuffle
    ("ctl_hash_agg", 0.33, s => s.range(0L, 20000000L, 1L, 32)
      .select((xxhash64(col("id")) % 1000).as("k"), col("id"))
      .groupBy("k").agg(count(lit(1)).as("c"), sum(col("id")).as("s"))),
    // range-partitioned global sort: exchange + external sorter
    ("ctl_sort", 0.58, s => s.range(0L, 8000000L, 1L, 32)
      .select(xxhash64(col("id")).as("h")).orderBy("h")),
    // string-heavy column pipeline: md5 + substring + aggregate
    ("ctl_string", 0.49, s => s.range(0L, 4000000L, 1L, 32)
      .select(md5(concat(lit("ctl"), col("id"))).as("m"))
      .select(substring(col("m"), 1, 6).as("p"))
      .groupBy("p").agg(count(lit(1)).as("c"))))

  /** IO-path control (r17 close): the CPU controls above read clean while
    * engine-build rows moved 30-70 % on untouched code — page-cache /
    * disk-state drift is invisible to pure-CPU pipelines. This control
    * writes and reads back a fixed 2M-row parquet (same tmp path every
    * run, overwrite), timing the write+scan path the data-heavy rows
    * depend on. A proxy, not a per-file oracle: `drift[2]`/`drift[3]`
    * ≈ 1 with inflated data rows says "look at box disk state, not
    * code"; per-row `spr` stays the tie-breaker. Pinned like the CPU
    * bands (idle min-of-3, local[32], r17 box). */
  private[graft] val IoControl: (String, Double, SparkSession => Unit) =
    ("ctl_io_parquet", 0.55, s => {
      val p = "/tmp/graft_ctl_io.parquet"
      s.range(0L, 2000000L, 1L, 16)
        .select(col("id"), md5(concat(lit("io"), col("id"))).as("m"))
        .write.mode("overwrite").parquet(p)
      s.read.parquet(p).agg(count(lit(1)), max("m")).collect()
      ()
    })

  /** Drift-gate for the r18 capture loop (r17 verdict #1: BENCH_r17 shipped
    * at ioPre drift 2.88 while the clean 72.0 s reading lived only in
    * COVERAGE — the artifact flagged its own inflation but the official
    * record still NEEDED a footnote). If any PRE index (cpu or io) exceeds
    * this gate the harness settles [[DriftSettleSec]] and re-measures the
    * pre controls ONCE before starting the sweep — pre-drift is usually
    * leftover state from whatever ran before (page-cache churn, a co-tenant
    * tail), and one settle window is cheap next to depositing a drifted
    * 90 s artifact as the round's record. If the re-measure still exceeds,
    * both JSON lines carry `"degraded":true` so the consumer knows the
    * numbers are upper bounds WITHOUT reading COVERAGE. Post-sweep drift is
    * reported but never gates: state the sweep itself created is signal,
    * not noise, and re-running the whole sweep on a busy box just measures
    * the busy box twice. */
  private[graft] val DriftRetryGate = 1.5

  /** Settle pause before the one pre-control retry. Long enough for a
    * co-tenant tail or page-cache write-back to drain; short next to the
    * ~70 s sweep it protects. Env-overridable only so a local iteration
    * doesn't have to sit through it (driver runs leave it at default). */
  private[graft] def driftSettleSec: Int =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_SETTLE_SEC", "25").toInt

  /** The retry/degraded decision: true when ANY index exceeds the gate.
    * Empty indices (a subset run with controls skipped) never trip it. */
  private[graft] def exceedsGate(indices: Seq[Double], gate: Double = DriftRetryGate): Boolean =
    indices.exists(_ > gate)

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** FORCED-REGIME FIXTURE ROWS (r19, r18 verdict #3): catalog rows whose
    * cost is scheduling rounds on a ~6-stoptime fixture BY DESIGN (they
    * keep the distributed fixpoint / acyclic repair under the oracle;
    * the 10× campaign measures the same regimes at scale). They are
    * scheduling-floor-bound — repeats return the same number ±noise — so
    * the bench runs them ONCE (min-of-N adds nothing but ~12 s of wall
    * per extra repeat) and reports their subtotal separately
    * (`fixtureSec`) so a reader can split scheduling floors from data
    * work in the headline. */
  private[graft] val FixtureRows: Set[String] =
    Set("gtfs_routing_distributed", "gtfs_routing_zero_cycle")

  /** Drift-normalized total (r19, r18 verdict stretch #8): the reading a
    * consumer previously derived by hand — `total / max(1, median(drift))`.
    * Degradation only ever INFLATES rows (a busy box never makes queries
    * faster), so indices below 1 (box faster than the pinned band —
    * ordinary idle variance) never scale the total up: the clean-close
    * identity `adj == total` holds on a clean box. With no controls run
    * (subset runs) the total passes through unchanged. */
  private[graft] def driftAdjusted(totalSec: Double, drift: Seq[Double]): Double =
    if (drift.isEmpty) totalSec
    else totalSec / math.max(1.0, median(drift))

  /** JSON string-literal escaping for interpolated values (sfDir is a
    * filesystem path — a backslash or quote in it must not break the line). */
  private[graft] def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The tail-window-safe summary: total seconds plus per-query INTEGER
    * MILLISECONDS in a name-sorted array (`v(i)` belongs to the i-th
    * element of `SparkEntry.queries.keys.toSeq.sorted` — a consumer must
    * sort the names itself; Map iteration order is unspecified).
    * Integer ms and no names keep the line well under budget for 89
    * queries (r3-r5's name-keyed line was 2877 chars and was cut mid-line
    * by the consumer's 2000-char tail window every round — BenchReportSpec
    * pins the budget so it can't regress). `n` must equal the full catalog
    * size for the positional mapping to hold: a SPARK_GRAFT_BENCH_ONLY
    * subset run (local iteration only; driver runs leave it unset) shifts
    * the array, and n != catalog size is the consumer's detection signal.
    *
    * `spr(i)` is the matching per-query CONTENTION SIGNAL: integer percent
    * spread across that query's repeats, (max−min)/min × 100, capped at
    * 999. Idle-box repeats of an unchanged query sit within ~0-40%; a
    * co-tenant load inflates some runs 2-4× (spread 100-300+) — so a round
    * whose spr values are broadly large was measured under contention and
    * its v(i) minima are upper bounds, not steady-state numbers (the r8
    * adjudication re-ran half the catalog idle to establish exactly this).
    */
  def qmsLine(totalSec: Double, sfDir: String, minsSecNameSorted: Seq[Double],
      spreadPctNameSorted: Seq[Int] = Nil,
      // [cpuPre, cpuPost, ioPre, ioPost] drift indices (class doc);
      // empty = no controls ran (a SPARK_GRAFT_BENCH_ONLY subset run)
      drift: Seq[Double] = Nil,
      // true = pre-drift exceeded [[DriftRetryGate]] even after the one
      // settle-and-retry — the row minima are upper bounds, not steady-state
      degraded: Boolean = false,
      // forced-fixture subtotal (r19 — [[FixtureRows]] scaladoc); the
      // data-work headline is value − fx
      fixtureSec: Double = 0.0): String = {
    val ms = minsSecNameSorted.map(s => math.round(s * 1000)).mkString("[", ",", "]")
    val spr = spreadPctNameSorted.map(p => math.min(999, math.max(0, p)))
      .mkString("[", ",", "]")
    val tot = math.round(totalSec * 1000) / 1000.0
    val adj = math.round(driftAdjusted(totalSec, drift) * 1000) / 1000.0
    val fx = math.round(fixtureSec * 1000) / 1000.0
    val dr = drift.map(d => math.round(d * 100) / 100.0).mkString("[", ",", "]")
    s"""{"metric":"qms","value":$tot,"adj":$adj,"fx":$fx,"unit":"sec","sf":${jsonStr(sfDir)},"n":${minsSecNameSorted.size},"degraded":$degraded,"drift":$dr,"spr":$spr,"v":$ms}"""
  }
  /** The one SparkSession every graft main runs on, so a tool measures
    * the same program Bench times: local[cpus] with as many shuffle
    * partitions, AQE on, UTC session clock, no UI. `defaultCpus` is the
    * caller's core count when the environment names none. */
  private[graft] def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE re-plan (coalesce) the OUTPUT partitioning of cached-plan
      // materializations too (r20, guide §2.2/§6: fewer, larger tasks).
      // Off by default only to keep cache-sharing plans byte-stable;
      // scale-adaptive in both directions — tiny cached frames (the
      // projection caches at city scale) stop fanning 32-160 scheduling
      // quanta per read, and at 100 TB AQE targets advisoryPartitionSize
      // instead. Measured on gtfs_modena_harness: best 13.0→10.0 s
      // min-of-3 (build phase 8.7→6.1 s job wall).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm up codegen/shuffle machinery so the first measured query doesn't
    * absorb session start-up (~5 s otherwise) — including the parquet
    * reader path against the actual data dir (region is ~5 rows), so the
    * alphabetically-first real query isn't charged for footer/codec init. */
  private[graft] def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000).repartition(4).groupBy((col("id") % 10).as("k")).count().collect()
    try spark.read.parquet(s"$sfDir/region.parquet").repartition(2)
      .groupBy("r_name").count().collect()
    catch { case _: Throwable => () }
    // ...and the parquet WRITE path (committer + codec init): the io
    // control is the first writer otherwise and its cold first run reads
    // ~1.6× pin on an idle box — a spurious drift-gate retry per JVM.
    // per-run temp dir (r18 ADVICE: the old fixed /tmp path collided
    // across concurrent bench JVMs and was never cleaned up)
    try {
      val warmDir = java.nio.file.Files
        .createTempDirectory("graft_bench_warmup").toFile
      try {
        val p = new java.io.File(warmDir, "w.parquet").getAbsolutePath
        spark.range(10000).write.mode("overwrite").parquet(p)
        spark.read.parquet(p).count()
      } finally {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(warmDir)
      }
    } catch { case _: Throwable => () }
  }

  /** One timed run of catalog row `name`: (start epoch seconds, wall
    * seconds). A row that throws is logged and timed up to the throw; the
    * caller goes on to the next run. */
  private[graft] def timeRow(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame): (Double, Double) = {
    val start = System.currentTimeMillis() / 1000.0
    val t0 = System.nanoTime()
    // noop sink: forces full evaluation of every column (count() would let
    // Catalyst prune the plan down to a row count).
    try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
    val dt = (System.nanoTime() - t0) / 1e9
    // Queries may cache intermediates internally; drop them so one run's
    // cached blocks neither speed up the next run nor pressure its memory.
    spark.catalog.clearCache()
    // clearCache frees the BLOCKS but builder-retained cache handles
    // would still accumulate plan references across a 96-query run —
    // drain every global registry too (review r16; r17: through the
    // one lifecycle surface embedders get)
    graft.Runtime.releaseAll()
    (start, dt)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEATS", "2").toInt.max(1)
    val spark = session(32)
    warmUp(spark, sfDir)
    // Optional subset run for iterating on one query's timing:
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 (driver runs always leave this unset).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    // Controls bracket the sweep (class doc); min-of-3 like the catalog
    // rows. Skipped on subset runs — those are local iteration, and their
    // author is watching the box directly — unless the subset names a
    // control (the re-pinning recipe: SPARK_GRAFT_BENCH_ONLY=ctl).
    def controlsOn: Boolean = !only.exists(!_.exists(_.startsWith("ctl")))
    def runControls(): Seq[(String, Double)] =
      if (!controlsOn) Nil
      else Controls.map { case (name, _, fn) =>
        val t = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        (name, t.min)
      }
    def runIoControl(): Option[Double] =
      if (!controlsOn) None
      else Some((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        IoControl._3(spark)
        (System.nanoTime() - t0) / 1e9
      }.min)
    def preIndices(ctl: Seq[(String, Double)], io: Option[Double]): Seq[Double] =
      (if (ctl.isEmpty) Nil
       else Seq(median(ctl.map { case (n, s) =>
         s / Controls.collectFirst { case (`n`, pin, _) => pin }.get }))) ++
        io.map(_ / IoControl._2).toSeq
    var ctlPre = runControls()
    var ioPre = runIoControl()
    // Drift-gated capture loop (see DriftRetryGate): one settle-and-retry of
    // the PRE controls when the box reads drifted before the sweep starts;
    // still drifted after the retry → sweep anyway but stamp degraded.
    var retried = false
    if (exceedsGate(preIndices(ctlPre, ioPre))) {
      val settle = driftSettleSec
      System.err.println(s"[bench] pre-sweep drift ${preIndices(ctlPre, ioPre)
        .map(d => math.round(d * 100) / 100.0).mkString("[", ",", "]")} " +
        s"exceeds gate $DriftRetryGate — settling ${settle}s and re-measuring controls once")
      Thread.sleep(settle * 1000L)
      ctlPre = runControls()
      ioPre = runIoControl()
      retried = true
    }
    val degraded = exceedsGate(preIndices(ctlPre, ioPre))
    if (degraded) System.err.println(
      "[bench] pre-sweep drift still exceeds gate after retry — artifact will be stamped degraded:true")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      def runOnce(): (Double, Double) = timeRow(spark, sfDir, name, fn)
      // Forced-fixture rows run ONCE (r19 — FixtureRows scaladoc): their
      // wall is a scheduling-round floor, so repeats reproduce the same
      // number and min-of-3 only added ~24 s of fixture scheduling per
      // bench. Everything else keeps min-of-(repeats+1).
      val reps = if (FixtureRows(name)) 1 else repeats
      val base = (1 to reps).map(_ => runOnce())
      // Every query gets a third run (r8: sub-2 s only). min-of-2 is one
      // co-tenant CPU spike away from a 2-4× phantom regression, and r8's
      // SUSTAINED contention defeated even min-of-3 on the slow queries —
      // the extra repeat plus the qms line's per-query spread signal lets a
      // consumer adjudicate contended rounds from the JSON alone. NOTE for
      // cross-round comparison: run counts changed r7→r8→r9 (2 → 3-for-fast
      // → 3-for-all); minima bias slightly down as repeats rise, so the
      // "runs" object carries the actual per-query run count.
      val timings = if (FixtureRows(name)) base else base :+ runOnce()
      (name, timings.map(_._2), timings.map(_._1))
    }
    val ctlPost = runControls()
    val ioPost = runIoControl()
    def obj(pairs: Seq[(String, String)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, runs, _) => k -> runs.min.toString })
    val runsJson = obj(results.map { case (k, runs, _) =>
      k -> runs.mkString("[", ",", "]") })
    val startsJson = obj(results.map { case (k, _, starts) =>
      k -> starts.mkString("[", ",", "]") })
    val total = results.map(_._2.min).sum
    val pins = Controls.map { case (n, pin, _) => n -> pin }.toMap
    def driftOf(ctl: Seq[(String, Double)]): Seq[Double] =
      if (ctl.isEmpty) Nil
      else Seq(median(ctl.map { case (n, s) => s / pins(n) }))
    // drift = [cpuPre, cpuPost, ioPre, ioPost] — CPU and IO indexed
    // SEPARATELY (a median across both kinds would dilute an IO-only
    // shift to invisibility, which is exactly the state the IO control
    // exists to expose)
    val drift = driftOf(ctlPre) ++ driftOf(ctlPost) ++
      ioPre.map(_ / IoControl._2).toSeq ++ ioPost.map(_ / IoControl._2).toSeq
    val ctlJson = obj((Controls.map { case (n, pin, _) =>
      n -> (s"""{"pin":$pin,"pre":${ctlPre.collectFirst { case (`n`, s) => s }
        .getOrElse(-1.0)},"post":${ctlPost.collectFirst { case (`n`, s) => s }
        .getOrElse(-1.0)}}""")
    }) :+ (IoControl._1 -> s"""{"pin":${IoControl._2},"pre":${
      ioPre.getOrElse(-1.0)},"post":${ioPost.getOrElse(-1.0)}}"""))
    val driftJson = drift.map(d => math.round(d * 100) / 100.0)
      .mkString("[", ",", "]")
    val fixtureSec = results.collect {
      case (n, runs, _) if FixtureRows(n) => runs.min }.sum
    val totalAdj = math.round(driftAdjusted(total, drift) * 1000) / 1000.0
    println(s"""{"metric":"total","value":$total,"totalAdj":$totalAdj,"fixtureSec":$fixtureSec,"unit":"sec","queries":$qs,"runs":$runsJson,"starts":$startsJson,"controls":$ctlJson,"drift":$driftJson,"degraded":$degraded,"retried":$retried,"sf":${jsonStr(sfDir)}}""")
    // The driver keeps only the TAIL of stdout: the full line above is 4k+
    // chars and gets cut mid-line ("parsed": null in r3-r5). Final line =
    // the compact name-free summary, guaranteed (BenchReportSpec) to fit a
    // 2000-char tail window together with the truncated remains of the
    // full line, so the last complete line always parses with every number.
    println(qmsLine(total, sfDir, results.map(_._2.min),
      results.map { case (_, runs, _) =>
        val mn = runs.min
        if (mn <= 0.0) 0 else math.round((runs.max - mn) / mn * 100).toInt
      }, drift, degraded, fixtureSec))
    spark.stop()
  }
}
