package graft

import graft.graph.ShortestPaths

/** Pins the CANONICAL equal-cost tie-break across the SSSP engines: on
  * equal distance the smaller predecessor id wins (seed pred −1 first).
  * The pre-existing parity specs compared distances — path multiplicity
  * slipped through them and surfaced as a cross-regime itinerary
  * divergence on the Modena grid (the harness twin digests differed on
  * p8-backwards, COVERAGE.md round 11). These tests fail without the
  * canonical rule:
  *  - a unit lattice where EVERY vertex has two equal-cost in-edges, with
  *    the minimal-pred property asserted from the edge list itself (not
  *    merely engine-vs-engine agreement, which could agree on the wrong
  *    pick);
  *  - full itinerary parity, forced-local vs forced-TransitSssp, on a
  *    tie-heavy bidirectional grid network (the p8 shape at spec scale).
  */
class CanonicalTieSpec extends SparkSpec {
  import spark.implicits._

  /** k×k DAG lattice, unit weights, edges right and down: every interior
    * path from vertex 1 to (r,c) has cost r+c, so ties are everywhere.
    * id(r,c) = r*k + c + 1; the canonical pred of an interior vertex is
    * its UP neighbor ((r−1)*k + c + 1 < r*k + c for k ≥ 2). */
  private def lattice(k: Int): Seq[(Long, Long, Double)] = {
    def id(r: Int, c: Int): Long = (r * k + c + 1).toLong
    val right = for (r <- 0 until k; c <- 0 until k - 1)
      yield (id(r, c), id(r, c + 1), 1.0)
    val down = for (r <- 0 until k - 1; c <- 0 until k)
      yield (id(r, c), id(r + 1, c), 1.0)
    right ++ down
  }

  private def predMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Double, Long)] =
    df.select("vertex_id", "dist", "pred").as[(Long, Double, Long)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("lattice ties: CSR and Pregel both pick the minimal optimal pred") {
    val k = 5
    val edges = lattice(k).toDF("src", "dst", "weight")
    val inEdges = lattice(k).groupBy(_._2) // dst -> in-edge list
    for (threshold <- Seq(Long.MaxValue, 0L)) { // CSR, then forced Pregel
      val out = predMap(ShortestPaths.fromDF(edges, Set(1L), threshold))
      assert(out(1L) == (0.0, -1L))
      out.foreach { case (v, (d, p)) =>
        if (v != 1L) {
          // canonical pred = the SMALLEST in-neighbor u with
          // dist(u) + w == dist(v), computed from the edge list itself
          val expected = inEdges(v)
            .filter { case (u, _, w) => out(u)._1 + w == d }
            .map(_._1).min
          assert(p == expected,
            s"threshold=$threshold vertex $v: pred $p, canonical $expected")
        }
      }
    }
  }

  test("tie-heavy grid routing: forced-TransitSssp itinerary == local, per pair") {
    // Bidirectional small grid (the Modena topology at spec scale): row,
    // column, and reversed routes give most OD pairs several equal-cost
    // itineraries. Itineraries — the full labeled segment rows, not just
    // distances — must match across the regime threshold for every pair.
    val gtfs = graft.etl.SyntheticGtfs.grid(spark, rows = 8, cols = 8,
      tripsPerRoute = 4, directions = 2)
    val local = new graft.api.RoutingEngine(gtfs)
    val dist = new graft.api.RoutingEngine(gtfs, ssspLocalThreshold = 0L)
    try {
      val pairs = Seq(
        ("Stop 1/1", "Stop 5/5"),   // diagonal: row-then-column vs column-then-row
        ("Stop 6/6", "Stop 2/3"),   // backwards (the p8 shape)
        ("Stop 0/4", "Stop 7/4"))   // same column, reverse routes available
      var nonEmpty = 0
      pairs.foreach { case (a, b) =>
        val l = local.routing("2024-01-18", 1.0, "06:00:00", a, b).collect().toSeq
        val d = dist.routing("2024-01-18", 1.0, "06:00:00", a, b).collect().toSeq
        assert(l == d, s"regime divergence on $a -> $b:\nlocal=$l\ndist=$d")
        if (l.nonEmpty) nonEmpty += 1
      }
      assert(nonEmpty >= 2, "fixture drifted: most pairs should route")
    } finally { local.close(); dist.close() }
  }
}
