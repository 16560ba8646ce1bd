package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event sessionization + windowed aggregation, batch AND streaming.
  *
  * The reference is pure batch; its watermark-like piece is the static
  * time filter (F2). This module is the engine's forward surface for
  * the same event data arriving as a stream:
  *
  *  - [[sessionizeBatch]] — gap-based sessions via lag/cumsum window
  *    functions (integer-ms arithmetic; DuckDB-oracle-checkable).
  *  - [[sessionizeStream]] — identical session semantics under
  *    Structured Streaming with `flatMapGroupsWithState`, event-time
  *    timeout + watermark flushing, order-insensitive within the
  *    watermark; verified equal to the batch result (including
  *    cross-trigger out-of-order arrival) in StreamingSpec.
  *  - [[hourlyCountsStream]] — the q12 hourly aggregation as a
  *    watermarked streaming windowed agg.
  *
  * Scale shape: both paths shuffle once on user_id; streaming state per
  * key is the open-session intervals (bounded by the watermark horizon),
  * not buffered events.
  */
object Sessions {

  val GapMs: Long = 30 * 60 * 1000L

  final case class Event(user_id: Long, ts_ms: Long, event_type: String, value: Double)
  /** Event widened with a TimestampType column so the stream can carry
    * a watermark (public for the encoder's generated code). */
  final case class EventT(user_id: Long, ts_ms: Long, event_type: String, value: Double,
                          ts: java.sql.Timestamp)
  final case class SessionOut(user_id: Long, session_start_ms: Long, session_end_ms: Long,
                              n_events: Long, total_value_x100: Long)
  /** public: the state encoder's generated code must reach the accessors */
  final case class SessionState(startMs: Long, endMs: Long, nEvents: Long, totalX100: Long)

  /** Normalize the events table to typed rows (value scaled to integer
    * hundredths so session sums are exact in both engines). */
  def typedEvents(events: DataFrame): Dataset[Event] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(
      col("user_id").cast("long").as("user_id"),
      unix_millis(col("ts")).as("ts_ms"),
      col("event_type").cast("string").as("event_type"),
      col("value").cast("double").as("value")).as[Event]
  }

  /** Batch sessionization: a session ends after a >30 min silence. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
    typedEvents(events).toDF()
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > GapMs, 1L).otherwise(0L))
      .withColumn("session_no", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("total_value_x100"))
      .drop("session_no")
  }

  /** Streaming sessionization with identical semantics, robust to
    * out-of-order arrival within the watermark horizon.
    *
    * State per user is a list of OPEN sessions as disjoint intervals.
    * Every incoming event is a singleton interval; state ∪ events is
    * sorted and gap-coalesced, which is ORDER-INSENSITIVE: a late event
    * extends a session's start (min), bridges two open sessions into
    * one, or opens its own — exactly what batch would have computed.
    * Sessions flush when the event-time watermark passes their gap
    * (no admissible event can join them anymore), driven by an
    * EventTimeTimeout wake-up; events older than the watermark are
    * dropped by Spark before reaching the state function, so a closed
    * session can never be mutated after emission. Batch≡stream equality
    * therefore holds for any arrival order within `watermarkDelay`.
    * State per key is O(open sessions), bounded by the watermark. */
  def sessionizeStream(events: Dataset[Event], watermarkDelay: String = "30 minutes"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermarkDelay)
      .as[EventT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, it: Iterator[EventT], state: GroupState[List[SessionState]]) =>
          val minis = it.map(e => SessionState(e.ts_ms, e.ts_ms, 1L, math.round(e.value * 100))).toList
          val all = (state.getOption.getOrElse(Nil) ++ minis).sortBy(_.startMs)
          val merged = all.foldLeft(List.empty[SessionState]) { (acc, s) =>
            acc match {
              case h :: t if s.startMs - h.endMs <= GapMs =>
                SessionState(h.startMs, math.max(h.endMs, s.endMs), h.nEvents + s.nEvents, h.totalX100 + s.totalX100) :: t
              case _ => s :: acc
            }
          }.reverse
          val wm = state.getCurrentWatermarkMs()
          val (closed, stillOpen) = merged.partition(s => s.endMs + GapMs < wm)
          if (stillOpen.isEmpty) state.remove()
          else {
            state.update(stillOpen)
            // wake when the earliest open session's gap can first seal
            // (clamped above the watermark, as the API requires)
            state.setTimeoutTimestamp(math.max(stillOpen.map(_.endMs).min + GapMs, wm + 1))
          }
          closed.iterator.map(s => SessionOut(userId, s.startMs, s.endMs, s.nEvents, s.totalX100))
      }
  }

  /** Streaming exact dedup: drop events already seen at the same
    * (user_id, ts) within the watermark horizon — the streaming face of
    * the sink's F5 existence filter. State is bounded by the watermark
    * (Spark evicts seen-keys older than the horizon), which is what
    * makes exact dedup feasible on an unbounded stream. */
  def dedupStream(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("user_id", "ts")

  /** Watermarked streaming hourly aggregation (q12's streaming face).
    * The total routes through DECIMAL(18,2): double summation order
    * varies with partitioning (and across engines), decimal doesn't —
    * so totals are bit-stable under replays and verifiable. */
  def hourlyCountsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(value AS DECIMAL(18,2))")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))
}
