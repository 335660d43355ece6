package graft.graph

import org.apache.spark.graphx._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Reachability / connected components — the reference's variable-length
  * path-existence guard (`prova.py:211-212`, SURVEY §2.8 G5) generalized:
  * two vertices can reach each other (undirected) iff they share a
  * component.
  *
  * Adaptive like ShortestPaths: below the edge threshold a driver-side
  * union-find answers in O(E α) with zero supersteps (the dedup pipelines'
  * near-dup pair graphs are tiny relative to the corpus — pairs, not
  * documents); above it, GraphX's Pregel connectedComponents takes over.
  * Both return component = min vertex id, so results are identical.
  */
object Components {

  val LocalUnionFindMaxEdges: Long = 2000000L

  /** Connected components over an edge DataFrame (src, dst). Returns
    * (vertex_id, component) where component = min vertex id in the group.
    * `localThreshold = 0` forces the distributed path. */
  def connected(edges: DataFrame,
      localThreshold: Long = LocalUnionFindMaxEdges): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // cache around the count-then-consume pair: without it the (often
    // expensive) upstream pipeline — an LSH verify join in the dedup
    // callers — runs twice
    val e = edges.select(col("src").cast("long"), col("dst").cast("long")).cache()
    // ONE bounded limit-collect decides the regime AND delivers the edges
    // (r20, guide §1: count()-then-collect() was two passes; the limit is
    // threshold+1 so an over-threshold graph ships at most one extra row
    // before falling to Pregel, which re-reads the cache)
    val bound = math.min(localThreshold + 1L, Int.MaxValue.toLong).toInt
    val pairs = e.limit(bound).as[(Long, Long)].collect()
    if (pairs.length <= localThreshold) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(v: Long): Long = {
        var r = v
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = v // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      e.unpersist()
      pairs.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        // attach the larger root under the smaller → root IS the min id
        if (ra < rb) parent(rb) = ra
        else if (rb < ra) parent(ra) = rb
      }
      val vertices = parent.keySet.toSeq
      vertices.map(v => (v, find(v))).toDF("vertex_id", "component")
    } else {
      val edgeRdd = e.rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
      // connectedComponents materializes during the call (Pregel actions)
      // and caches its own vertices, so the source cache can be released
      val cc = Graph.fromEdges(edgeRdd, 0).connectedComponents()
      val out = cc.vertices.map { case (vid, comp) => (vid, comp) }
        .toDF("vertex_id", "component")
      e.unpersist()
      out
    }
  }
}
