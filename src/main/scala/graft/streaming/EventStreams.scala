package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming layer.
  *
  * The reference is strictly batch (SURVEY §2.10) — time-dependence lives in
  * the static time-expanded graph. This module is the engine's live seam:
  * the same event schema as the batch `events` table, processed as a stream
  * (the GTFS-RT vehicle-positions extension SURVEY sketches). Batch/stream
  * parity: every transformation here also runs on the static table, so the
  * ScalaTest specs assert stream output == batch output on the same rows.
  */
object EventStreams {

  /** Tumbling-window counts + value sums per event type with a watermark —
    * the `groupBy(window($"ts", …))` shape. Works on a static DataFrame or a
    * stream (same plan, Catalyst picks the stateful version). */
  def windowedTypeCounts(events: DataFrame, windowLength: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      // Money as exact integer cents: per-row round then long sum is
      // order-independent, so stream == batch == DuckDB bit-for-bit (a raw
      // double sum is summation-order-dependent across engines).
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value_cents"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserSession(user_id: Long, n_events: Long, total_value: Double,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp, closed: Boolean)

  /** Public (not nested-private): the state encoder's generated code must
    * reach the accessors. */
  final case class SessionState(n: Long, total: Double, firstMs: Long, lastMs: Long)

  /** Custom sessionization with mapGroupsWithState: per-user sessions closed
    * after `gapMs` of inactivity (processing-time timeout). The
    * KeyValueGroupedDataset.mapGroupsWithState shape for arbitrary state. */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    // gapMs <= 0 disables the inactivity timeout (sessions stay open) —
    // also what deterministic tests use, since a processing-time timeout
    // keeps the query triggering empty micro-batches forever.
    val timeoutConf =
      if (gapMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, UserSession](timeoutConf) {
        (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            UserSession(userId, s.n, s.total, new java.sql.Timestamp(s.firstMs),
              new java.sql.Timestamp(s.lastMs), closed = true)
          } else {
            val evs = rows.toSeq
            val prev = state.getOption.getOrElse(SessionState(0, 0.0, Long.MaxValue, Long.MinValue))
            val next = evs.foldLeft(prev) { (s, e) =>
              SessionState(s.n + 1, s.total + e.value,
                math.min(s.firstMs, e.ts.getTime), math.max(s.lastMs, e.ts.getTime))
            }
            state.update(next)
            if (gapMs > 0) state.setTimeoutDuration(gapMs)
            UserSession(userId, next.n, next.total, new java.sql.Timestamp(next.firstMs),
              new java.sql.Timestamp(next.lastMs), closed = false)
          }
      }
  }

  final case class GapSession(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Long, total_value_cents: Long)

  /** The arbitrary-state gap sessionization in its deterministic batch
    * form: groupByKey + flatMapGroups folding each user's time-sorted
    * events into sessions split on more than `gapUs` of inactivity — the
    * same per-group state logic [[sessionize]] (mapGroupsWithState) runs,
    * with the processing-time timeout replaced by the event-time gap so
    * the result is exactly derivable (and hash-checked) via the lag +
    * running-sum SQL form. Boundary convention matches the native
    * `session_window`: an event at exactly last + gap MERGES (touching
    * per-event windows [ts, ts+gap) coalesce) — StreamingSpec pins the
    * two forms equal on that edge. Timeline in microseconds, the
    * resolution both engines share; money as integer cents
    * (order-independent sums).
    * Per-group memory = one user's events — the bounded-key regime; the
    * unbounded-key regime belongs to the streaming form, where the
    * watermark timeout bounds state instead. */
  def sessionizeBatchUs(events: Dataset[(Long, Long, Double)],
      gapUs: Long): Dataset[GapSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1).flatMapGroups { (uid, it) =>
      val evs = it.toArray.sortBy(_._2)
      val out = scala.collection.mutable.ArrayBuffer.empty[GapSession]
      def emit(lo: Int, hi: Int): Unit = { // [lo, hi)
        var n = 0L; var cents = 0L; var j = lo
        while (j < hi) { n += 1; cents += math.round(evs(j)._3 * 100); j += 1 }
        out += GapSession(uid, evs(lo)._2, evs(hi - 1)._2 + gapUs, n, cents)
      }
      var start = 0
      var i = 1
      while (i < evs.length) {
        if (evs(i)._2 - evs(i - 1)._2 > gapUs) { emit(start, i); start = i }
        i += 1
      }
      if (evs.nonEmpty) emit(start, evs.length)
      out.iterator
    }
  }

  /** Gap-based session windows per user via the native `session_window`
    * aggregation — the declarative twin of [[sessionize]]: events closer
    * than `gap` merge into one session spanning [first_ts, last_ts + gap).
    * Identical plan on a static frame or a stream (with the watermark
    * bounding session state); money as exact integer cents (same
    * order-independence argument as windowedTypeCounts). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_value_cents"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value_cents"))

  /** Streaming exact dedup with genuinely bounded state:
    * dropDuplicatesWithinWatermark expires per-key state once the watermark
    * passes the key's event time, so the operator runs forever on an
    * unbounded stream with ever-fresh keys. (Plain dropDuplicates(keyCol)
    * would keep one state entry per key FOREVER — the watermark does not
    * bound it unless the event-time column is part of the key.) The
    * trade-off is the documented one: a duplicate arriving after the
    * watermark has passed its original re-emits. Batch parity in the
    * catalog keys the FIRST row per key (min ts tie-broken by event_id),
    * which is what the stream emits under in-order arrival inside the
    * watermark window. */
  def dedupByKey(events: DataFrame, keyCol: String,
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keyCol)

  /** Stream-stream interval join: each left event pairs with same-user
    * right events whose timestamp falls in [left.ts, left.ts + within].
    * With watermarks on BOTH sides, Spark bounds the join state: buffered
    * rows older than watermark + interval are dropped, so the operator
    * runs forever on unbounded streams (the classic view→click
    * attribution shape). Works identically on static frames — the catalog
    * twin (`stream_interval_join`) is the same join on the static events
    * table; StreamingSpec proves stream output == batch output. */
  def intervalJoinByUser(left: DataFrame, right: DataFrame, within: String,
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"),
        col("ts").as("r_ts"))
    l.join(r, col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Stream-static enrichment: the event stream joined to a small static
    * dimension on `key` — Spark broadcasts the dim into every micro-batch
    * (no stream state at all, unlike a stream-stream join). The same plan
    * runs on a static frame; StreamingSpec pins stream == batch. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Read the static events parquet back as a timestamped DataFrame.
    * `ts` lands as a proper TimestampType whatever the file's physical
    * type: long nanos (legacy TIMESTAMP(NANOS) via nanosAsLong — truncate
    * to micros), TIMESTAMP(MICROS) as timestamp_ntz (wall time read as
    * UTC — the session timezone every entrypoint pins), or already a
    * timestamp. */
  def eventsWithTimestamp(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
}
