package graft.api

import graft.projection.NodeRec

/** The per-source routing ranking — one full search per candidate source,
  * no horizon cap, the |sources| × |targets| pair-order minimum over the
  * pairs whose target departs after its source (`main.py:93,141`) — kept
  * as the oracle the engine's one labelled, horizon-capped search must
  * reproduce. Spark-free on purpose: it shares no search or ranking code
  * with the engine. It reads the projection's edge list and node records,
  * so a fault in the projection builder passes it.
  *
  * Dijkstra on non-negative edge lists, Bellman–Ford otherwise; both keep
  * the canonical tie-break (on equal distance the smaller predecessor id
  * wins). Boxed maps and a full search per source, so keep fixtures small. */
object PerSourceRanking {

  /** Candidate stoptime: (id, dep, arr, walk seconds). */
  type Cand = (Long, Long, Long, Double)

  /** The routing call's candidates. Sources: stoptimes at `srcNames` that
    * depart after `t0` plus their walk, the earliest per route by
    * (dep, trip_id, stop_sequence) (`main.py:84-87`). Targets: stoptimes at
    * `tgtNames` with dep + walk < t0 + horizon (`main.py:91,139`). Walks
    * are straight-line meters from the point at `speed`; zero without one. */
  def candidates(recs: Seq[NodeRec], srcNames: Seq[String], srcPoint: Option[(Double, Double)],
      tgtNames: Seq[String], tgtPoint: Option[(Double, Double)], speed: Double,
      t0: Long, horizonHours: Int): (Seq[Cand], Seq[Cand]) = {
    def walk(p: Option[(Double, Double)], r: NodeRec): Double = p.fold(0.0) {
      case (la, lo) =>
        graft.functions.SpatialFunctions.haversineMetersScalar(r.lat, r.lon, la, lo) / speed
    }
    val srcs = recs.filter(r => srcNames.contains(r.stopName) && r.dep - walk(srcPoint, r) > t0)
      .groupBy(_.routeId).values.map { rs =>
        rs.min(Ordering.fromLessThan[NodeRec] { (a, b) =>
          if (a.dep != b.dep) a.dep < b.dep
          else {
            val c = graft.util.Utf8Order.compare(a.tripId, b.tripId)
            if (c != 0) c < 0 else a.seq < b.seq
          }
        })
      }.map(r => (r.id, r.dep, r.arr, walk(srcPoint, r))).toSeq
    val tgts = recs.filter(r => tgtNames.contains(r.stopName) &&
        r.dep + walk(tgtPoint, r) < t0 + horizonHours * 3600L)
      .map(r => (r.id, r.dep, r.arr, walk(tgtPoint, r)))
    (srcs, tgts)
  }

  /** Path (source first) of the best pair by the pair order
    * (t_arr + t_walk, cost + s_walk + t_walk, s_id, t_id); Nil when no
    * valid pair connects. */
  def best(edges: Seq[(Long, Long, Double)], srcs: Seq[Cand], tgts: Seq[Cand]): List[Long] = {
    val runs = srcs.map(s => s._1 -> search(edges, s._1)).toMap
    val ranked = for {
      (s, sDep, _, sw) <- srcs
      (t, tDep, tArr, tw) <- tgts
      if tDep > sDep
      d <- runs(s)._1.get(t)
    } yield ((tArr + tw, d + sw + tw, s, t), s, t)
    ranked.minByOption(_._1).fold(List.empty[Long]) { case (_, s, t) =>
      val pred = runs(s)._2
      @annotation.tailrec
      def walk(v: Long, acc: List[Long]): List[Long] =
        if (v == s) v :: acc
        else if (acc.size > pred.size) sys.error(s"predecessor cycle at $v")
        else walk(pred(v), v :: acc)
      walk(t, Nil)
    }
  }

  /** (distance, predecessor) of every vertex `src` reaches. */
  private def search(edges: Seq[(Long, Long, Double)],
      src: Long): (Map[Long, Double], Map[Long, Long]) = {
    val dist = scala.collection.mutable.HashMap(src -> 0.0)
    val pred = scala.collection.mutable.HashMap.empty[Long, Long]
    def relax(v: Long, u: Long, w: Double): Boolean = {
      val nd = dist(v) + w
      dist.get(u) match {
        case Some(d) if d < nd => false
        case Some(d) if d == nd =>
          if (u != src && pred.get(u).exists(v < _)) pred(u) = v
          false
        case _ => dist(u) = nd; pred(u) = v; true
      }
    }
    if (edges.forall(_._3 >= 0.0)) {
      val out = edges.groupBy(_._1)
      val heap = scala.collection.mutable.PriorityQueue((0.0, src))(
        Ordering.by[(Double, Long), Double](_._1).reverse)
      while (heap.nonEmpty) {
        val (d, v) = heap.dequeue()
        if (d == dist(v)) out.getOrElse(v, Nil).foreach { case (_, u, w) =>
          if (relax(v, u, w)) heap.enqueue((dist(u), u))
        }
      }
    } else {
      var changed = true
      var passes = 0
      while (changed) {
        passes += 1
        if (passes > edges.size + 2) sys.error("negative cycle")
        changed = false
        edges.foreach { case (v, u, w) =>
          if (dist.contains(v) && relax(v, u, w)) changed = true
        }
      }
    }
    (dist.toMap, pred.toMap)
  }
}
