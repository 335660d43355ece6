package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Three independent derivations of the projection's edges must agree as
  * multisets, weights included:
  *  - the NAIVE one-stage CHANGE formulation — expand s ⋈ walk ⋈
  *    stoptimes, rank over (s_id, t_route, distance), keep ties;
  *  - the Spark builder (forced with `ssspLocalThreshold = 0`): the
  *    two-stage schedule-array probe over merged equidistant schedules;
  *  - the driver builder (the default at fixture scale): sorted departures
  *    and a binary search in plain arrays.
  * Run on a regular grid (equidistant neighbor stops are common), the demo
  * fixture (service boundaries, same-stop transfers past midnight) and the
  * dirty feeds the routing specs route (arr > dep, a negative hop, a
  * zero-total cycle through co-located stops). Edges are compared as
  * sorted sequences, so a duplicated edge fails too. */
class ProjectionParitySpec extends SparkSpec {

  private val day = java.sql.Date.valueOf("2024-01-18")

  /** The reference formulation, kept deliberately naive (the shape the
    * rewrite replaced): one big expansion + one rank window. */
  private def naiveChange(nodes: DataFrame, walkToEdges: DataFrame,
      speed: Double): DataFrame = {
    val s = nodes.select(col("id").as("s_id"), col("trip_id").as("s_trip"),
      col("route_id").as("s_route"), col("service_id").as("s_service"),
      col("stop_id").as("s_stop"), col("arr_secs").as("s_arr"))
    val walk = walkToEdges.select(col("src_stop_id").as("n_stop"),
      col("dst_stop_id").as("s_stop"), col("distance"))
    val tgt = nodes.select(col("id").as("t_id"), col("trip_id").as("t_trip"),
      col("route_id").as("t_route"), col("service_id").as("t_service"),
      col("stop_id").as("n_stop"), col("dep_secs").as("t_dep"))
    val walkSecs = floor(col("distance") / speed).cast("long")
    val candidates = s.join(walk, Seq("s_stop")).join(tgt, Seq("n_stop"))
      .filter(col("t_service") === col("s_service") &&
        col("t_trip") =!= col("s_trip") &&
        col("t_route") =!= col("s_route") &&
        col("s_arr") + walkSecs < col("t_dep"))
      .withColumn("walking_time", walkSecs)
    val earliest = Window.partitionBy("s_id", "t_route", "distance").orderBy("t_dep")
    candidates.withColumn("rk", rank().over(earliest)).filter(col("rk") === 1)
      .select(col("s_id").as("source"), col("t_id").as("target"),
        lit("CHANGE").as("type"),
        (col("t_dep") - col("s_arr") + col("walking_time")).cast("long").as("waiting_time"),
        col("walking_time"))
  }

  private type E = (Long, Long, String, Long, Long)

  private def edgeSeq(edges: DataFrame): Seq[E] =
    edges.select("source", "target", "type", "waiting_time", "walking_time")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq.sorted

  private def assertParity(gtfs: graft.model.GtfsTables, speed: Double): Unit = {
    val walk = graft.etl.GraphBuilder.walkTo(gtfs.stops, 300.0).localCheckpoint()
    val onDriver = graft.projection.TimeExpandedGraph.build(gtfs, day, speed, walk)
    val onSpark = graft.projection.TimeExpandedGraph.build(gtfs, day, speed, walk,
      ssspLocalThreshold = 0L)
    try {
      // each builder really ran: the driver one holds the local index and
      // pins no schedule, the Spark one the reverse
      assert(onDriver.localIndex.isDefined && onDriver.schedCache.isEmpty)
      assert(onSpark.localIndex.isEmpty && onSpark.schedCache.isDefined)
      val (driver, sparkBuilt) = (edgeSeq(onDriver.edges), edgeSeq(onSpark.edges))
      val naive = edgeSeq(naiveChange(onDriver.nodes, walk, speed))
      def diff(a: Seq[E], b: Seq[E]) =
        s"missing=${b.diff(a).take(5)} extra=${a.diff(b).take(5)}"
      assert(naive.nonEmpty && driver.exists(_._3 == "PRECEDES"))
      assert(driver == sparkBuilt, s"driver vs Spark builder: ${diff(driver, sparkBuilt)}")
      val driverChange = driver.filter(_._3 == "CHANGE")
      assert(driverChange == naive, s"driver vs naive CHANGE: ${diff(driverChange, naive)}")
      assert(onDriver.edgeCount == sparkBuilt.size)
    } finally { onDriver.unpersist(); onSpark.unpersist() }
  }

  test("grid network (equidistant neighbors): schedule probe == naive rank") {
    assertParity(graft.etl.SyntheticGtfs.grid(spark, rows = 8, cols = 6,
      tripsPerRoute = 4), speed = 1.0)
  }

  test("demo fixture at a non-unit walking speed") {
    // the demo feed's T6 runs past midnight (dep 24:05)
    assertParity(graft.api.DemoGtfs.tables(spark), speed = 1.4)
  }

  test("dirty feeds: arr > dep, a negative hop, a zero-total cycle") {
    assertParity(DirtyFeeds.irregular(spark), speed = 1.0)
    assertParity(DirtyFeeds.beyondAnchor(spark), speed = 1.0)
    assertParity(DirtyFeeds.negativeHop(spark), speed = 1.0)
    assertParity(DirtyFeeds.zeroCycle(spark), speed = 1.0)
  }
}
