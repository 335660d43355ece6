package graft

import graft.model.GtfsTables
import graft.api.RoutingEngine

/** Scale smoke: a synthetic network in the Modena order of magnitude
  * (SURVEY §1: 249k nodes / 738k edges at full scale) driven through the
  * complete build → project → route path, including the distributed Pregel
  * branch. Catches quadratic blowups and per-row anti-patterns that the
  * mini fixture can't.
  */
class ScaleSpec extends SparkSpec {

  /** 40×25 grid, 12 trips per route → 24k stoptimes on one service day
    * (generator shared with the Modena-cardinality bench query —
    * graft.etl.SyntheticGtfs). */
  def syntheticGtfs(): GtfsTables =
    graft.etl.SyntheticGtfs.grid(spark, rows = 40, cols = 25, tripsPerRoute = 12)

  test("Modena-order synthetic network: build, project, route end-to-end") {
    val t0 = System.nanoTime()
    val engine = new RoutingEngine(syntheticGtfs())
    val g = engine.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
    val nodes = g.nodeCount
    val edges = g.edgeCount
    info(f"projection: $nodes nodes, $edges edges in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(nodes == (40 * 12 * 25) + (25 * 12 * 40)) // 24 000 stoptimes
    assert(edges > nodes) // PRECEDES ≈ nodes − trips, plus CHANGE fan-out

    // cross-grid journey requiring a horizontal→vertical transfer
    val t1 = System.nanoTime()
    val seg = engine.routing("2024-01-18", 1.0, "08:00:00", "Stop 0/0", "Stop 39/24")
    val segments = seg.collect()
    val routingSecs = (System.nanoTime() - t1) / 1e9
    info(f"routing: ${segments.length} segments in $routingSecs%.1f s")
    assert(segments.nonEmpty)
    assert(engine.changeCount(seg) >= 1) // must change lines to cross the grid
    // arrival of the last segment is a valid time on the service day
    val arr = segments.last.getAs[String]("arrival")
    assert(arr > "08:00:00" && arr < "24:00:00")
    // stays comfortably inside the reference's measured 1.0–23.6 s range
    assert(routingSecs < 60.0, s"routing took $routingSecs s")
  }
}
