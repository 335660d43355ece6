package graft.projection

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** One projected stoptime node, driver-resident (field order mirrors the
  * projection's node schema). */
final case class NodeRec(id: Long, tripId: String, routeId: String,
    stopId: String, stopName: String, lat: Double, lon: Double,
    seq: Int, arr: Long, dep: Long)

/** Driver-resident twin of the projection's node attributes, built ONLY in
  * the local-SSSP regime: it is the node collect [[DriverBuild]] derives
  * the edges from (projection within
  * [[graft.graph.ShortestPaths.LocalDijkstraMaxEdges]] nodes and edges —
  * the collect tops out around the same ~2M rows / tens of MB the CSR
  * itself holds on the driver), kept beside the CSR.
  *
  * Rationale: the reference holds the whole GDS projection in Neo4j's heap
  * (`main.py:13-22`); below the same size threshold we keep the node
  * attributes beside the CSR, so per-routing-call candidate selection and
  * segment labeling are array scans instead of Spark jobs — each job on a
  * cached 250k-row node set costs ~0.1-0.3 s of pure scheduling, ×5 jobs
  * ×9 pairs in the reference's perf harness. The distributed regime never
  * builds this (nothing unbounded is collected); every query then runs the
  * declarative DataFrame path.
  */
final class LocalProjection(val recs: Array[NodeRec]) {

  /** id → node. */
  val byId: java.util.HashMap[java.lang.Long, NodeRec] = {
    val m = new java.util.HashMap[java.lang.Long, NodeRec](recs.length * 2)
    recs.foreach(r => m.put(r.id, r))
    m
  }

  def get(id: Long): Option[NodeRec] = Option(byId.get(id))

  /** stop_name → its stoptime nodes (candidate selection by name list). */
  lazy val byName: Map[String, Array[NodeRec]] = recs.groupBy(_.stopName)

  /** Distinct (stop_name, lat, lon), identical to the projection's
    * `stopDim` row set. Near-stop search reads the projection's
    * `localStopDim` instead; the benchmark harness warms this one. */
  lazy val stopDim: Array[(String, Double, Double)] =
    recs.iterator.map(r => (r.stopName, r.lat, r.lon)).toSet.toArray
}

object LocalProjection {
  /** The node columns a [[NodeRec]] reads, in field order. */
  private[projection] val RecColumns: Seq[String] = Seq("id", "trip_id", "route_id",
    "stop_id", "stop_name", "lat", "lon", "stop_sequence", "arr_secs", "dep_secs")

  /** A collected row whose first columns are [[RecColumns]]. Numeric
    * columns arrive as int or long depending on the source schema — coerce
    * through Number like the engine's other bounded collects. */
  private[projection] def rec(r: Row): NodeRec = {
    def num(i: Int): Long = r.get(i).asInstanceOf[Number].longValue
    NodeRec(r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4), r.getDouble(5), r.getDouble(6),
      num(7).toInt, num(8), num(9))
  }

  /** Collect a node frame (caller guarantees a bounded row count) into
    * [[NodeRec]]s. */
  def recsOf(nodes: DataFrame): Array[NodeRec] =
    nodes.select(RecColumns.map(col): _*).collect().map(rec)
}
