package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.DelayFeed

class DelayFeedSpec extends SparkSpec {
  import spark.implicits._

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)

  test("stateful latest-delay fold keeps the newest update per trip") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DelayFeed.DelayEvent]
    val q = DelayFeed.latestDelays(mem.toDS())
      .writeStream.format("memory").queryName("delays")
      .outputMode("update").start()
    try {
      mem.addData(
        DelayFeed.DelayEvent("T1", ts("2024-01-18 14:00:00"), 60L),
        DelayFeed.DelayEvent("T3", ts("2024-01-18 14:00:30"), 120L))
      q.processAllAvailable()
      mem.addData(DelayFeed.DelayEvent("T1", ts("2024-01-18 14:05:00"), 180L))
      q.processAllAvailable()
      val latest = spark.table("delays").as[DelayFeed.TripDelay]
        .collect().groupBy(_.trip_id).map { case (k, v) => k -> v.maxBy(_.as_of.getTime) }
      assert(latest("T1").delay_secs == 180L)
      assert(latest("T3").delay_secs == 120L)
    } finally q.stop()
  }

  test("batch twin picks the same winners incl. timestamp ties") {
    val updates = Seq(
      ("T1", ts("2024-01-18 14:00:00"), 60L),
      ("T1", ts("2024-01-18 14:05:00"), 180L),
      ("T3", ts("2024-01-18 14:00:30"), 120L),
      ("T3", ts("2024-01-18 14:00:30"), 90L)) // tie → larger delay wins
      .toDF("trip_id", "ts", "delay_secs")
    val out = DelayFeed.latestDelaysBatch(updates)
      .select("trip_id", "delay_secs").as[(String, Long)].collect().toMap
    assert(out == Map("T1" -> 180L, "T3" -> 120L))
  }

  test("delays shift the projected stoptimes of exactly the delayed trips") {
    withEngine(graft.api.DemoGtfs.engine(spark)) { eng =>
      val g = eng.projected(java.sql.Date.valueOf("2024-01-18"), 1.0)
      val delays = Seq(("T1", 300L)).toDF("trip_id", "delay_secs")
      val base = g.nodes.select(col("trip_id"), col("stop_sequence").cast("int"),
          col("dep_secs").cast("long"))
        .as[(String, Int, Long)].collect().toSet
      val shifted = DelayFeed.applyDelays(g.nodes, delays)
        .select(col("trip_id"), col("stop_sequence").cast("int"),
          col("dep_secs").cast("long"))
        .as[(String, Int, Long)].collect().toSet
      val expected = base.map { case (t, s, d) => (t, s, if (t == "T1") d + 300L else d) }
      assert(shifted == expected)
    }
  }
}
