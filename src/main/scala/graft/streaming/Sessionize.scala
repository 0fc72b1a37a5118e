package graft.streaming

import org.apache.spark.sql.{Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization of the events stream with custom state —
  * the `flatMapGroupsWithState` surface of the engine.
  *
  * A session is a maximal run of a user's events with no gap larger than
  * [[gapMicros]]. The batch form (graft.queries.Events.sessionize) computes
  * the same sessions with window functions and is DuckDB-verified; the
  * streaming form here maintains per-user open-session state and emits a
  * session when the event-time watermark passes its close. On bounded input
  * every session the watermark has passed must match the batch result
  * exactly (tested in StreamingSpec).
  */
object Sessionize {

  val gapMicros: Long = 30L * 60 * 1000000L // 30 minutes

  /** event_time duplicates tus as a timestamp: the watermark column
    * must survive into the grouped Dataset for EventTimeTimeout to work.
    */
  final case class Event(
      user_id: Long, tus: Long, value: Double, event_time: java.sql.Timestamp)

  /** Session sums accumulate in 1e-4 fixed point (`floor(v*10000+0.5)` per
    * event), the same basis as the batch twin — a running double sum's last
    * bits would depend on micro-batch boundaries and the hash gate would
    * flap; integer sums cannot.
    */
  final case class OpenSession(startUs: Long, endUs: Long, n: Long, sumFixed: Long) {
    def closed(userId: Long): Session = Session(userId, startUs, endUs, n, sumFixed)

    /** The close time, event-time ms: the session closes once the
      * watermark strictly passes its end + gap.
      */
    def closeMs: Long = endUs / 1000L + gapMicros / 1000L
  }
  final case class Session(
      user_id: Long, start_us: Long, end_us: Long, n: Long, sum_fixed: Long)

  private def fixed(v: Double): Long = math.floor(v * 10000 + 0.5).toLong

  /** THE transition, shared by both state APIs ([[updateState]] on
    * flatMapGroupsWithState, [[SessionizeTws]] on transformWithState — one
    * function so the twins that pin the same oracle cannot drift): absorb
    * a batch's events (sorted by time) into the open session `open`,
    * splitting into closed sessions whenever a gap exceeds gapMicros.
    * Returns the open tail and the closed sessions; `events` is non-empty.
    */
  def step(
      userId: Long,
      open: Option[OpenSession],
      events: Iterator[Event]): (OpenSession, Vector[Session]) = {
    val closed = Vector.newBuilder[Session]
    var cur = open.orNull
    for (e <- events.toSeq.sortBy(_.tus)) {
      if (cur == null) cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      else if (e.tus - cur.endUs > gapMicros) {
        closed += cur.closed(userId)
        cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      } else cur = OpenSession(cur.startUs, math.max(cur.endUs, e.tus),
        cur.n + 1, cur.sumFixed + fixed(e.value))
    }
    (cur, closed.result())
  }

  /** flatMapGroupsWithState adapter over [[step]]: keep the open tail in
    * state with an event-time timeout at its close.
    */
  def updateState(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[Session] =
    if (!events.hasNext) {
      // Timeout fired: the watermark passed the open session's close.
      if (state.hasTimedOut && state.exists) {
        val s = state.get
        state.remove()
        Iterator(s.closed(userId))
      } else Iterator.empty
    } else {
      val (cur, closed) = step(userId, state.getOption, events)
      state.update(cur)
      state.setTimeoutTimestamp(cur.closeMs)
      closed.iterator
    }

  /** The watermarked events stream both sessionizers group by user: the
    * events parquet as a bounded file-source stream.
    */
  private[streaming] def byUser(
      spark: SparkSession, dir: String): KeyValueGroupedDataset[Long, Event] = {
    import spark.implicits._
    graft.queries.Events.eventsStream(spark, dir)
      .select(col("user_id"), col("tus"), col("value"),
        timestamp_micros(col("tus")).as("event_time"))
      .withWatermark("event_time", "0 seconds")
      .as[Event]
      .groupByKey(_.user_id)
  }

  /** Streaming sessionization over the events parquet. Returns the
    * closed-sessions Dataset; callers start/await the query (see
    * StreamingSpec).
    */
  def sessions(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    byUser(spark, dir)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateState)
  }
}
