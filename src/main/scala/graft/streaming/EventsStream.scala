package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Structured Streaming surface over the `events` shape. The reference has
  * no streaming abstractions (SURVEY.md §1.1) — this is the engine's
  * forward-looking stream path, mirroring the batch q33/q34 semantics:
  *
  *  - `hourlyCounts`: watermarked sliding-window aggregation
  *    (event-time, late data dropped after 30 min).
  *  - `sessionize`: custom state via flatMapGroupsWithState — emits a
  *    session row when a >30 min gap closes it (same gap rule as the
  *    batch q34_events_sessions).
  *
  * At scale both are shuffle-on-user_id/window with RocksDB-backed state;
  * parallelism = shuffle partitions.
  */
object EventsStream {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class SessionState(start: Long, lastSec: Long, nEvents: Int)

  case class SessionOut(user_id: Long, n_events: Int, duration_sec: Long)

  /** Watermarked hourly counts per event type. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Gap-based sessionization with explicit state. Emits a session only
    * when a >30 min silence CLOSES it; each user's trailing open session
    * stays in state (it has not ended). A production stream that must
    * flush quiet users would add an event-time watermark +
    * `EventTimeTimeout` (processing-time timeouts make batch-as-stream
    * smoke runs spin on empty timeout batches).
    */
  def sessionize(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(SessionState(-1L, -1L, 0))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            val sec = e.ts.getTime / 1000L
            if (st.start < 0) st = SessionState(sec, sec, 1)
            else if (sec - st.lastSec > 1800L) {
              out += SessionOut(userId, st.nEvents, st.lastSec - st.start)
              st = SessionState(sec, sec, 1)
            } else st = SessionState(st.start, sec, st.nEvents + 1)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup bounded by the event-time watermark: a
    * duplicate `event_id` arriving within `delay` of the original is
    * dropped; dedup state for ids older than the watermark is EVICTED —
    * the property that makes streaming ingestion dedup viable at
    * 100 TB/day (unbounded `dropDuplicates` state would grow with the
    * full corpus; within-watermark state is bounded by delay × ingest
    * rate). At-least-once upstreams (queue redeliveries, retried
    * uploads) redeliver within the delay window in practice.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** `read`'s events with `ts` as a µs TimestampType. Parquet
    * TIMESTAMP(NANOS), which Spark's reader rejects (max precision is
    * µs), is read as raw longs and truncated to µs; any other
    * non-timestamp `ts` (TimestampNTZ from non-UTC-adjusted parquet) is
    * cast, so downstream epoch arithmetic stays legal. A µs-typed source
    * loads unchanged: nanosAsLong only affects TIMESTAMP(NANOS) columns.
    * The flag is session-wide because Spark's parquet reader takes it
    * from the session conf only; it is set here, before `read` resolves
    * its schema.
    */
  private[graft] def withMicrosTs(spark: SparkSession)(read: => DataFrame): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read
    raw.schema("ts").dataType match {
      case TimestampType => raw
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Drive the watermarked streaming dedup synchronously over a parquet
    * directory (duplicates planted by the caller); returns the deduped
    * rows from the memory sink.
    */
  def runDedupAsStream(spark: SparkSession, inputDir: String,
                       queryName: String): DataFrame =
    Streams.drainToMemory(
      dedupWithinWatermark(withMicrosTs(spark)(Streams.fileSource(spark, inputDir))),
      queryName, "append")

  /** Stream-stream event-time interval join: purchases attributed to a
    * preceding click by the same user within `window`. Both sides carry
    * watermarks so Spark bounds the join state — each side buffers only
    * rows younger than (watermark − window); without the bound a
    * stream-stream join's state grows with the full history, the classic
    * 100 TB/day failure mode. Inner-join matches emit as soon as both
    * rows have arrived (the watermark gates state EVICTION, not
    * emission).
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       window: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", window)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", window)
    c.join(p,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $window"))
  }

  /** Drive the stream-stream attribution join synchronously over a
    * parquet directory; returns the raw join pairs from the memory sink.
    */
  def runIntervalJoinAsStream(spark: SparkSession, inputDir: String,
                              queryName: String): DataFrame = {
    val events = Streams.fileSource(spark, inputDir)
    def side(tpe: String): DataFrame = events.filter(col("event_type") === tpe)
    Streams.drainToMemory(clickAttribution(side("click"), side("purchase")),
      queryName, "append")
  }

  /** Drive the streaming pipeline synchronously over the batch parquet —
    * the local-mode smoke path (`format("memory")` +
    * `processAllAvailable`). `events.parquet` may be one file or a
    * directory of part files; the file source streams either.
    */
  def runBatchAsStream(spark: SparkSession, sfDir: String, queryName: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val stream = withMicrosTs(spark)(Streams.fileSource(spark, path))
      .filter(col("event_id").isNotNull)
    val out = Streams.drainToMemory(hourlyCounts(stream), queryName, "append")
    // Fail LOUDLY if the source matched no files — a zero-row stream here
    // would otherwise surface as a silently-dropped correctness gate
    // downstream.
    require(!out.isEmpty,
      s"streaming smoke path read zero rows from $path — source matched no files?")
    out
  }
}
