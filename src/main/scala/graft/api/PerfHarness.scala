package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's routing performance harness (`main.py:307-369`): for a
  * list of origin-destination coordinate pairs, time the nearby-stop
  * searches and the point-to-point routing, returning the measurement table
  * the checkpoint notebook published (BASELINE.md). */
object PerfHarness {

  final case class OdPair(name: String, startLat: Double, startLon: Double,
      endLat: Double, endLon: Double)

  /** `buildSec` is the one-time projection/SSSP/stopDim warm-up, identical
    * on every row: the harness queries' bench totals decompose as
    * buildSec + Σ per-pair columns without reading code.
    *
    * `itineraryDigest` is a content hash of the ordered routed segments
    * (first 8 MD5 bytes over the canonicalized rows; 0 for no itinerary) —
    * the harness emits TIMINGS, which no SQL oracle can pin, so the digest
    * is the self-verification handle: it must be byte-stable across runs,
    * layouts and regimes (the golden itinerary queries pin the same
    * content through the hash oracle at fixture scale). `twinDigestOk`,
    * when a twin engine is supplied, asserts exactly that in-query: the
    * SAME pair routed through the OTHER SSSP regime produced the
    * identical digest (null = no twin configured). */
  final case class Measurement(name: String, straightLineKm: Double,
      findStartStopsSec: Double, findEndStopsSec: Double, routingSec: Double,
      segments: Long, buildSec: Double, itineraryDigest: Long,
      twinDigestOk: Option[Boolean])

  /** Canonical content hash of a collected itinerary (ordered rows).
    * Fields are joined with \u0001 — a byte that cannot appear in any
    * GTFS-derived label/time field — so rows with shifted field
    * boundaries ("ab","c" vs "a","bc") hash differently (r11 ADVICE
    * flagged the unseparated form).
    *
    * DIGEST FORMAT v2 (since round 13): the separator change makes every
    * digest value differ from the unseparated v1 digests recorded in
    * BENCH/COVERAGE artifacts of rounds ≤ 12 — cross-ROUND digest
    * comparisons across that boundary are meaningless and must not be
    * read as correctness divergence (within-run twin comparisons always
    * used one function and are unaffected; r13's same-box control
    * adjudicated the wall-clock side). */
  def itineraryDigest(rows: Array[org.apache.spark.sql.Row]): Long = {
    if (rows.isEmpty) return 0L
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { r =>
      md.update(r.mkString("\u0001").getBytes("UTF-8")); md.update(10.toByte)
    }
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  def run(engine: RoutingEngine, date: String, time: String, speed: Double,
      radius: Double, pairs: Seq[OdPair],
      twin: Option[RoutingEngine] = None): Seq[Measurement] = {
    import graft.functions.SpatialFunctions._
    // Warm the shared structures the reference also holds before ITS timed
    // loop (`main.py:313-338` projects the GDS graph first): the (day,
    // speed) projection, the resolved SSSP handle, and the near-stop
    // dimension. Without this the first pair's columns absorb the one-time
    // build and overstate per-call latency. Timed separately as buildSec.
    val sc = engine.gtfs.stops.sparkSession.sparkContext
    val tb = System.nanoTime()
    sc.setJobDescription("perf-harness: projection build + SSSP resolve")
    // Materialize WALK_TO before the edge build reads its stats (r20,
    // guide §3.1): the broadcast gate in TimeExpandedGraph.build reads
    // Catalyst stats — exact for a MATERIALIZED cache, inflated for the
    // unmaterialized plan — so forcing the (dimension-sized) cache here
    // turns the schedule-dimension walk join from a two-Exchange
    // sort-merge into a broadcast join at Modena cardinality. Same move
    // journey() already makes; one tiny job, stats-not-guesses.
    engine.walkTo.count()
    val g = engine.projected(java.sql.Date.valueOf(date), speed)
    g.localIndex match {
      case Some(ix) => ix.byName; ix.stopDim // warm the driver-side indexes
      case None => g.stopDim.count()
    }
    val buildSec = (System.nanoTime() - tb) / 1e9
    try pairs.map { p =>
      sc.setJobDescription(s"perf-harness: pair ${p.name}")
      val t0 = System.nanoTime()
      val startNames = engine.findNearStops(date, p.startLat, p.startLon, radius, speed)
        .collect().map(_.getString(0)).toSeq
      val t1 = System.nanoTime()
      val endNames = engine.findNearStops(date, p.endLat, p.endLon, radius, speed)
        .collect().map(_.getString(0)).toSeq
      val t2 = System.nanoTime()
      // collect(), not count(): count() lets Catalyst prune every label
      // column off the plan, so routingSec would understate what a real
      // caller pays to SEE the itinerary. The result is bounded (≤ hops+1
      // path segments), so the collect is driver-safe, and its length is
      // the segment count — full materialization and the count in one job.
      val rows =
        if (startNames.isEmpty || endNames.isEmpty)
          Array.empty[org.apache.spark.sql.Row]
        else engine.routingBetweenTwoPoints(date, p.startLat, p.startLon,
          p.endLat, p.endLon, startNames, endNames, speed, time).collect()
      val t3 = System.nanoTime()
      val dg = itineraryDigest(rows)
      // Twin verification runs AFTER the timed window — it must not
      // contaminate the per-pair columns the BASELINE comparison reads.
      val twinOk = twin.map { tw =>
        val twinRows =
          if (startNames.isEmpty || endNames.isEmpty)
            Array.empty[org.apache.spark.sql.Row]
          else tw.routingBetweenTwoPoints(date, p.startLat, p.startLon,
            p.endLat, p.endLon, startNames, endNames, speed, time).collect()
        itineraryDigest(twinRows) == dg
      }
      val km = haversineMetersScalar(p.startLat, p.startLon,
        p.endLat, p.endLon) / 1000.0
      Measurement(p.name, km, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        rows.length.toLong, buildSec, dg, twinOk)
    } finally sc.setJobDescription(null)
  }

  def toDF(spark: SparkSession, ms: Seq[Measurement]): DataFrame = {
    import spark.implicits._
    ms.toDF()
  }
}
