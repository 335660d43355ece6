package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.graph.ShortestPaths
import graft.functions.SpatialFunctions.haversineMeters

/** The footway-graph extension (thesis + `prova.py`, `routing.ipynb:cell1`):
  * an OSM pedestrian network (FootNode vertices, typed directed edges with a
  * `length` weight) merged with the transit stops via NEAR edges, used to
  * compute real walking distances instead of straight lines.
  *
  * Expected inputs (FIXTURES.md §3):
  *   - footNodes(id, latitude, longitude, footway_id)
  *   - footEdges(src, dst, type, length) with type ∈ {SHORTEST_ROUTE_TO,
  *     FOOT_ROUTE, CONTAINS, CONTINUE_ON_FOOTWAY,
  *     CONTINUE_ON_FOOTWAY_BY_CROSSING_ROAD}
  *
  * Divergence note: the reference's nearest-footnode query builds its point
  * as `point({latitude: footnode.longitude, longitude: footnode.latitude})`
  * — coordinates swapped (`prova.py:188`). We use the correct order and
  * document it (FIXTURES.md §3 flags this as a reproduce-or-fix decision).
  *
  * Edge direction semantics follow the reference's Dijkstra type filter
  * `'...|CONTAINS>|<CONTAINS|...'` (`prova.py:215`): CONTAINS is traversed
  * in both directions, every other type only as stored.
  */
class FootwayEngine(val footNodes: DataFrame, val footEdges: DataFrame,
    val stops: DataFrame) {

  private val spark: SparkSession = footNodes.sparkSession

  /** Stable vertex ids; foot nodes and stops live in one id space. */
  private def footVid(id: org.apache.spark.sql.Column) = xxhash64(lit("F:"), id)
  private def stopVid(id: org.apache.spark.sql.Column) = xxhash64(lit("S:"), id)

  /** Driver-side twins of the vid columns — the single-row lookups below
    * need literal vertex ids, and evaluating the catalyst XxHash64 locally
    * beats scheduling a one-row Spark job per lookup. (Literal inputs →
    * same bytes/seed chain as the column form.) */
  private def evalVid(prefix: String, id: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    new XxHash64(Seq(Literal(prefix), Literal(id))).eval(null).asInstanceOf[Long]
  }
  private def footVidLocal(id: String): Long = evalVid("F:", id)
  private def stopVidLocal(id: String): Long = evalVid("S:", id)

  /** Cell size for the NEAR candidate grid; any footnode whose in-
    * neighborhood nearest stop is farther than the latitude-adjusted
    * acceptance radius falls back to an exact scan, so the result is the
    * true nearest regardless of cell size or latitude. */
  private val NearCellMeters = 1000.0

  /** NEAR: each footnode → its nearest stop (batch nearest-neighbor join,
    * J7: window top-1 by distance; PDF p.6-7). Weight = geodesic meters.
    *
    * Scale path (same cell trick as GraphBuilder.walkTo): bucket both sides
    * into ~1 km grid cells and join each footnode against the stops in its
    * 3×3 neighborhood — n·k candidates instead of the n×m crossJoin. A
    * neighborhood win is provably the global nearest only when it is ≤ the
    * SMALLEST cell dimension in meters: the E-W width shrinks by cos(lat)
    * beyond the sizing's cos ≥ 0.4 assumption, so the acceptance radius is
    * derived from the data's max |latitude| (degrading gracefully to
    * all-fallback near the poles). The rare footnode with an empty or
    * too-far neighborhood re-scans the full stop dimension (broadcast —
    * stops are a dimension, footnodes are not). */
  lazy val nearEdges: DataFrame = {
    val latCell = NearCellMeters / 111320.0
    val lonCell = NearCellMeters / (111320.0 * 0.4)
    val fn = footNodes.select(col("id").as("fn_id"), col("latitude").as("fn_lat"),
      col("longitude").as("fn_lon"))
    val st = stops.select(col("stop_id"), col("stop_lat"), col("stop_lon"))
    val maxAbsLat = {
      val a = footNodes.agg(max(abs(col("latitude")))).head()
      val b = stops.agg(max(abs(col("stop_lat")))).head()
      math.max(if (a.isNullAt(0)) 0.0 else a.getDouble(0),
        if (b.isNullAt(0)) 0.0 else b.getDouble(0))
    }
    val lonCellMeters = lonCell * 111320.0 * math.cos(math.toRadians(maxAbsLat))
    val acceptMeters = math.max(0.0, math.min(NearCellMeters, lonCellMeters))
    val w = Window.partitionBy("fn_id").orderBy("distance", "stop_id")
    def top1(cands: DataFrame): DataFrame = cands
      .withColumn("distance",
        haversineMeters(col("fn_lat"), col("fn_lon"), col("stop_lat"), col("stop_lon")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("fn_id"), col("stop_id"), col("distance"))
    val fnCells = fn
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("fn_id"), col("fn_lat"), col("fn_lon"),
        (floor(col("fn_lat") / latCell).cast("long") + col("dx")).as("cell_x"),
        (floor(col("fn_lon") / lonCell).cast("long") + col("dy")).as("cell_y"))
    val stCells = st.select(col("stop_id"), col("stop_lat"), col("stop_lon"),
      floor(col("stop_lat") / latCell).cast("long").as("cell_x"),
      floor(col("stop_lon") / lonCell).cast("long").as("cell_y"))
    // cached: the union and the fallback's left_anti both consume this
    // subtree — uncached it would evaluate the grid join + window twice
    val resolved = top1(fnCells.join(stCells, Seq("cell_x", "cell_y")))
      .filter(col("distance") <= acceptMeters)
      .cache()
    val fallback = top1(
      fn.join(resolved.select("fn_id"), Seq("fn_id"), "left_anti")
        .crossJoin(broadcast(st)))
    val union = resolved.unionByName(fallback).cache()
    // materialize the union so the inner cache can be released — otherwise
    // `resolved` stays pinned for the engine's lifetime although only the
    // union is ever reused
    union.count()
    resolved.unpersist()
    nearEdgesForced = true
    union
  }
  private var nearEdgesForced = false
  private var walkingForced = false

  /** Release this engine's cached frames (mirrors TimeExpandedGraph). */
  def unpersist(): Unit = {
    if (walkingForced) walkingGraphEdges.unpersist()
    if (nearEdgesForced) nearEdges.unpersist()
  }

  /** gds.graph.list analog over the WALKING graph this engine routes on —
    * the footway mirror of [[RoutingEngine.graphMetrics]] (r17, r16
    * verdict #8: the one API asymmetry between the two graphs). Nodes =
    * foot nodes plus the distinct stops a NEAR edge links in (the vertex
    * set [[walkingGraphEdges]] can touch); degree statistics are
    * OUT-degree by source over the typed ∪ reversed-CONTAINS ∪ NEAR edge
    * set, matching the transit surface's shape (one partial-agg shuffle +
    * one tiny stats agg — reference cardinality: 5,539 nodes / 11,786
    * relationships, Tesina_Reggianini.pdf p.3-4). */
  def graphMetrics: GraphMetrics = {
    val n = footNodes.count() + nearEdges.select("stop_id").distinct().count()
    val m = walkingGraphEdges.count()
    val deg = walkingGraphEdges.groupBy("src").agg(count(lit(1)).as("degree"))
    val stats = deg.agg(min("degree"), avg("degree"), max("degree"),
      expr("percentile_approx(degree, 0.5)"), expr("percentile_approx(degree, 0.9)"),
      expr("percentile_approx(degree, 0.99)")).head()
    GraphMetrics(n, m, if (n > 1) m.toDouble / (n.toDouble * (n - 1)) else 0.0,
      stats.getLong(0), stats.getDouble(1), stats.getLong(2),
      stats.getLong(3).toDouble, stats.getLong(4).toDouble, stats.getLong(5).toDouble)
  }

  /** The weighted walking graph: typed foot edges (CONTAINS bidirectional,
    * others directed) ∪ NEAR edges (both directions — entering and leaving
    * the transit network). */
  lazy val walkingGraphEdges: DataFrame = {
    val typed = footEdges
      .select(footVid(col("src")).as("src"), footVid(col("dst")).as("dst"),
        col("length").cast("double").as("weight"), col("type"))
    val reversedContains = footEdges.filter(col("type") === "CONTAINS")
      .select(footVid(col("dst")).as("src"), footVid(col("src")).as("dst"),
        col("length").cast("double").as("weight"), col("type"))
    val near = nearEdges
      .select(footVid(col("fn_id")).as("src"), stopVid(col("stop_id")).as("dst"),
        col("distance").as("weight"), lit("NEAR").as("type"))
    val nearRev = nearEdges
      .select(stopVid(col("stop_id")).as("src"), footVid(col("fn_id")).as("dst"),
        col("distance").as("weight"), lit("NEAR").as("type"))
    val g = typed.unionByName(reversedContains).unionByName(near).unionByName(nearRev)
      .select("src", "dst", "weight").cache()
    walkingForced = true
    g
  }

  /** Driver-resident footnode coordinates, built only in the walking
    * graph's local-SSSP regime (same boundedness argument as the transit
    * engine's LocalProjection: nodes are bounded by the sub-threshold edge
    * count the CSR already holds on the driver). Point-to-node lookups
    * then cost no Spark job. */
  private lazy val localFootNodes: Option[Array[(String, Double, Double)]] =
    if (walkingSssp.isLocal)
      Some(footNodes.select("id", "latitude", "longitude").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))))
    else None

  /** Nearest footnode to a point: (footnode_id, geodesic meters) —
    * `prova.py:176-198` ORDER BY distance LIMIT 1 (distance ties broken by
    * id ascending on both paths; code-point order = Spark's UTF-8 sort). */
  def nearestFootNode(lat: Double, lon: Double): Option[(String, Double)] =
    localFootNodes match {
      case Some(arr) =>
        var best: (String, Double) = null
        arr.foreach { case (id, la, lo) =>
          val d = graft.functions.SpatialFunctions.haversineMetersScalar(la, lo, lat, lon)
          if (best == null || d < best._2 ||
              (d == best._2 && graft.util.Utf8Order.lt(id, best._1))) best = (id, d)
        }
        Option(best)
      case None =>
        footNodes
          .select(col("id"),
            haversineMeters(col("latitude"), col("longitude"), lit(lat), lit(lon)).as("distance"))
          .orderBy("distance", "id")
          .limit(1)
          .collect()
          .headOption.map(r => (r.getString(0), r.getDouble(1)))
    }

  /** One SSSP handle for the walking graph — repeated distance lookups
    * reuse the resolved adjacency. */
  private lazy val walkingSssp = new ShortestPaths.Sssp(walkingGraphEdges)

  /** Network distances for every (source, target) pair the walking graph
    * connects, out of ONE target-restricted multi-source run. Local
    * regime: read straight from the run's arrays (no job); distributed:
    * the target-restricted frame is tiny — collect it. */
  private def networkDistances(srcIds: Set[Long],
      targets: Set[Long]): Map[(Long, Long), Double] = {
    import spark.implicits._
    val run = walkingSssp.runForTargets(srcIds, targets)
    if (run.isLocal)
      (for (s <- srcIds.toSeq; v <- targets.toSeq; d <- run.distance(s, v))
        yield (s, v) -> d).toMap
    else run.distances
      .select("source_id", "vertex_id", "dist").as[(Long, Long, Double)].collect()
      .map { case (s, v, d) => (s, v) -> d }.toMap
  }

  // a node is 0 m from itself even when no walking edge touches it
  private def networkDistance(srcId: Long, dstId: Long): Double =
    if (srcId == dstId) 0.0
    else networkDistances(Set(srcId), Set(dstId))
      .getOrElse((srcId, dstId), Double.PositiveInfinity)

  /** Walking distance in meters from a footnode to a stop across the
    * pedestrian network (`prova.py:200-226` apoc.algo.dijkstra on `length`);
    * Double.PositiveInfinity when unreachable (the reference's OPTIONAL
    * MATCH + `end IS NOT NULL` guard, G5). */
  def walkingDistance(footNodeId: String, stopId: String): Double =
    networkDistance(footVidLocal(footNodeId), stopVidLocal(stopId))

  /** Walking distance footnode→footnode (calculate_distance analog,
    * `prova.py:229-244`), meters. */
  def walkingDistanceBetweenFootNodes(a: String, b: String): Double =
    networkDistance(footVidLocal(a), footVidLocal(b))

  /** Full walking distance from a point to a stop: straight line to the
    * nearest footnode + network distance to the stop, in KILOMETERS
    * (`prova.py:252-270` distance_from_a_stop returns total/1000). */
  def distanceFromStop(stopId: String, lat: Double, lon: Double): Double =
    distancesFromStops(Seq((stopId, lat, lon))).head

  /** Batched `distance_from_a_stop`: ONE multi-source SSSP (per-source
    * distances) serves every (stop, point) leg at once — the journey API's
    * two walking legs were two separate Dijkstra runs. Returns km per input
    * leg, Infinity when unreachable. */
  def distancesFromStops(legs: Seq[(String, Double, Double)]): Seq[Double] = {
    val resolved = legs.map { case (stopId, lat, lon) =>
      (nearestFootNode(lat, lon), stopVidLocal(stopId))
    }
    val srcIds = resolved.flatMap(_._1.map { case (fnId, _) => footVidLocal(fnId) }).toSet
    if (srcIds.isEmpty) return legs.map(_ => Double.PositiveInfinity)
    val distMap = networkDistances(srcIds, resolved.map(_._2).toSet)
    resolved.map {
      case (None, _) => Double.PositiveInfinity
      case (Some((fnId, toFn)), stopVidId) =>
        distMap.get((footVidLocal(fnId), stopVidId)) match {
          case Some(network) => (toFn + network) / 1000.0
          case None => Double.PositiveInfinity
        }
    }
  }
}

object FootwayEngine {
  /** Load from CSV files (foot_nodes.txt, foot_edges.txt) — the shape the
    * reference's whole-graph CSV export/import round-trips (S4/S5). */
  def load(spark: SparkSession, dir: String, stops: DataFrame): FootwayEngine = {
    import org.apache.spark.sql.types._
    val nodeSchema = StructType(Seq(
      StructField("id", StringType), StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("footway_id", StringType)))
    val edgeSchema = StructType(Seq(
      StructField("src", StringType), StructField("dst", StringType),
      StructField("type", StringType), StructField("length", DoubleType)))
    new FootwayEngine(
      spark.read.option("header", "true").schema(nodeSchema).csv(s"$dir/foot_nodes.txt"),
      spark.read.option("header", "true").schema(edgeSchema).csv(s"$dir/foot_edges.txt"),
      stops)
  }
}
