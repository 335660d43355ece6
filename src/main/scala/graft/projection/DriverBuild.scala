package graft.projection

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.graph.ShortestPaths

/** A local-regime projection built on the driver: the node records, the
  * routing CSR and, beside it in CSR slot order, the two edge columns the
  * CSR does not hold (type and walking seconds; the waiting seconds are
  * the CSR weights). Nothing here is a Spark cache: [[edgeFrame]] wraps the
  * arrays in a fresh LocalRelation per call, which its caller drops. */
private[projection] final class DriverGraph(val index: LocalProjection,
    val csr: ShortestPaths.Csr, change: Array[Boolean], walking: Array[Long]) {

  def edgeCount: Long = csr.targets.length

  /** The 5-column CHANGE ∪ PRECEDES edge list, in CSR order. */
  def edgeFrame(spark: SparkSession): DataFrame = {
    val rows = new java.util.ArrayList[Row](csr.targets.length)
    var v = 0
    while (v < csr.n) {
      var j = csr.offsets(v)
      while (j < csr.offsets(v + 1)) {
        rows.add(Row(csr.ids(v), csr.ids(csr.targets(j)),
          if (change(j)) "CHANGE" else "PRECEDES", csr.weights(j).toLong, walking(j)))
        j += 1
      }
      v += 1
    }
    spark.createDataFrame(rows, DriverBuild.EdgeSchema)
  }
}

/** The local regime's projection builder: PRECEDES and CHANGE derived on
  * the driver from one collect of the day's nodes and one of WALK_TO, by
  * the rules [[TimeExpandedGraph.build]]'s Spark builder applies.
  *
  *  - PRECEDES: each stoptime to the next of its trip in `stop_sequence`
  *    order, waiting = next arrival − this departure.
  *  - CHANGE: from stoptime s, for every group of neighbour stops at one
  *    WALK_TO distance from s's stop, and every route other than s's (same
  *    service) departing at any of them: the earliest departure strictly
  *    after s.arr + floor(distance / speed), ties kept (the schedules of
  *    equidistant neighbours are one merged schedule). waiting =
  *    t.dep − s.arr + walk, walking = walk.
  *
  * Departures are sorted per (stop, service, route) by (dep, id) and
  * probed by binary search — the `EarliestAfterExpr.earliest` kernel in
  * plain arrays. ProjectionParitySpec holds the edge multiset equal to
  * the Spark builder's and to a naive one-stage CHANGE. */
private[projection] object DriverBuild {

  /** The projected edge list's schema. */
  val EdgeSchema: StructType = StructType(Seq(
    StructField("source", LongType, nullable = false),
    StructField("target", LongType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("waiting_time", LongType, nullable = false),
    StructField("walking_time", LongType, nullable = false)))

  /** Build the projection over the (cached) `nodes` and `walkTo`; None
    * once the derived edges pass `maxEdges` — the projection then routes
    * distributed. */
  def apply(nodes: DataFrame, walkTo: DataFrame, speed: Double,
      maxEdges: Long): Option[DriverGraph] = {
    val rows = nodes.select((LocalProjection.RecColumns :+ "service_id").map(col): _*)
      .collect()
    val recs = rows.map(LocalProjection.rec)
    val walks = walkTo.select("src_stop_id", "dst_stop_id", "distance").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val out = new Edges(maxEdges)
    precedes(recs, out)
    change(recs, rows.map(_.getString(10)), walks, speed, out)
    if (out.full) None
    else {
      val (csr, slots) = ShortestPaths.csrOf(out.src.result(), out.dst.result(),
        out.waiting.result().map(_.toDouble))
      val kinds = out.change.result()
      val walked = out.walking.result()
      val isChange = new Array[Boolean](slots.length)
      val walking = new Array[Long](slots.length)
      var i = 0
      while (i < slots.length) {
        isChange(slots(i)) = kinds(i); walking(slots(i)) = walked(i); i += 1
      }
      Some(new DriverGraph(new LocalProjection(recs), csr, isChange, walking))
    }
  }

  /** Edge columns as they are derived; `full` once more than `max` edges
    * were offered (the rest are dropped: the build is abandoned). */
  private final class Edges(max: Long) {
    val src, dst, waiting, walking = new scala.collection.mutable.ArrayBuilder.ofLong
    val change = new scala.collection.mutable.ArrayBuilder.ofBoolean
    private var m = 0L
    def full: Boolean = m > max
    def add(s: Long, t: Long, isChange: Boolean, wait: Long, walk: Long): Unit = {
      m += 1
      if (!full) {
        src += s; dst += t; change += isChange; waiting += wait; walking += walk
      }
    }
  }

  /** Dense Int codes of `keys` (first-seen order), −1 for null: grouping
    * and sorting then compare ints, not strings. */
  private def codes(keys: Array[String], dict: java.util.HashMap[String, Integer] =
      new java.util.HashMap[String, Integer]): Array[Int] =
    keys.map(k => if (k == null) -1 else dict.computeIfAbsent(k, _ => dict.size).intValue)

  /** Indices 0 until n sorted by `cmp`. */
  private def sortedBy(n: Int)(cmp: (Int, Int) => Int): Array[Int] = {
    val ix = Array.tabulate[Integer](n)(Int.box)
    java.util.Arrays.sort(ix, (a: Integer, b: Integer) => cmp(a, b))
    ix.map(_.intValue)
  }

  private def precedes(recs: Array[NodeRec], out: Edges): Unit = {
    val trip = codes(recs.map(_.tripId))
    val order = sortedBy(recs.length) { (a, b) =>
      val c = Integer.compare(trip(a), trip(b))
      if (c != 0) c else Integer.compare(recs(a).seq, recs(b).seq)
    }
    var k = 1
    while (k < order.length && !out.full) {
      val (p, q) = (order(k - 1), order(k))
      if (trip(p) == trip(q))
        out.add(recs(p).id, recs(q).id, isChange = false, recs(q).arr - recs(p).dep, 0L)
      k += 1
    }
  }

  private def change(recs: Array[NodeRec], services: Array[String],
      walks: Array[(String, String, Double)], speed: Double, out: Edges): Unit = {
    val stopDict = new java.util.HashMap[String, Integer]
    val stop = codes(recs.map(_.stopId), stopDict)
    val service = codes(services)
    val route = codes(recs.map(_.routeId))
    // Schedules: the nodes sorted by (stop, service, route, dep, id), cut
    // into one slice per (stop, service, route); starts(k) opens slice k.
    // A null service or route matches nothing (the Spark builder's
    // equality filters drop it).
    val sched = sortedBy(recs.length) { (a, b) =>
      var c = Integer.compare(stop(a), stop(b))
      if (c == 0) c = Integer.compare(service(a), service(b))
      if (c == 0) c = Integer.compare(route(a), route(b))
      if (c == 0) c = java.lang.Long.compare(recs(a).dep, recs(b).dep)
      if (c == 0) c = java.lang.Long.compare(recs(a).id, recs(b).id)
      c
    }.filter(i => service(i) >= 0 && route(i) >= 0)
    val deps = sched.map(recs(_).dep)
    def stopService(i: Int): Long = (stop(i).toLong << 32) | service(i)
    val startsB = scala.collection.mutable.ArrayBuilder.make[Int]
    // (stop, service) → [first, end) of its slices
    val slicesAt = new java.util.HashMap[Long, (Int, Int)]
    var k = 0
    var nSlices = 0
    while (k < sched.length) {
      val key = stopService(sched(k))
      val first = nSlices
      while (k < sched.length && stopService(sched(k)) == key) {
        val rt = route(sched(k))
        startsB += k; nSlices += 1
        while (k < sched.length && stopService(sched(k)) == key && route(sched(k)) == rt) k += 1
      }
      slicesAt.put(key, (first, nSlices))
    }
    startsB += sched.length
    val starts = startsB.result()
    val sliceRoute = starts.init.map(st => route(sched(st)))

    // WALK_TO by the stop walked TO (the source's stop): its neighbour stops
    // grouped by equal distance, each group one merged schedule. Stops no
    // node serves have no code and no schedule.
    def code(stopId: String): Int = Option(stopDict.get(stopId)).fold(-1)(_.intValue)
    val groups = new Array[Array[(Long, Array[Int])]](stopDict.size)
    walks.groupBy(w => code(w._2)).foreach { case (s, ws) =>
      if (s >= 0) groups(s) = ws.groupBy(_._3).toArray.map { case (d, g) =>
        (math.floor(d / speed).toLong, g.map(w => code(w._1)).filter(_ >= 0))
      }
    }

    // per group: (route, slice, first departure index after the threshold)
    val cands = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var i = 0
    while (i < recs.length && !out.full) {
      if (stop(i) >= 0 && service(i) >= 0 && route(i) >= 0 && groups(stop(i)) != null) {
        val s = recs(i)
        groups(stop(i)).foreach { case (walk, nbrs) =>
          val thr = s.arr + walk
          cands.clear()
          nbrs.foreach { n =>
            val range = slicesAt.get((n.toLong << 32) | service(i))
            if (range != null) {
              var sl = range._1
              while (sl < range._2) {
                if (sliceRoute(sl) != route(i)) {
                  val lo = firstAfter(deps, starts(sl), starts(sl + 1), thr)
                  if (lo < starts(sl + 1)) cands += ((sliceRoute(sl), sl, lo))
                }
                sl += 1
              }
            }
          }
          // a route's earliest departure over the group, all ties kept
          cands.foreach { case (rt, sl, lo) =>
            val dep = deps(lo)
            if (!cands.exists(c => c._1 == rt && deps(c._3) < dep)) {
              var j = lo
              while (j < starts(sl + 1) && deps(j) == dep) {
                out.add(s.id, recs(sched(j)).id, isChange = true, dep - s.arr + walk, walk)
                j += 1
              }
            }
          }
        }
      }
      i += 1
    }
  }

  /** First index in [from, until) whose departure is > thr (the slice is
    * sorted by departure); `until` when there is none. */
  private def firstAfter(deps: Array[Long], from: Int, until: Int, thr: Long): Int = {
    var (lo, hi) = (from, until)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (deps(mid) <= thr) lo = mid + 1 else hi = mid
    }
    lo
  }
}
