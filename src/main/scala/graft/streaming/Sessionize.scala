package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
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
  final case class OpenSession(startUs: Long, endUs: Long, n: Long, sumFixed: Long)
  final case class Session(
      user_id: Long, start_us: Long, end_us: Long, n: Long, sum_fixed: Long)

  private def fixed(v: Double): Long = math.floor(v * 10000 + 0.5).toLong

  /** State transition: absorb new events (sorted by time), splitting into
    * closed sessions whenever a gap exceeds gapMicros; keep the open tail in
    * state with an event-time timeout at tail.end + gap.
    */
  def updateState(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[Session] = {
    val sorted = events.toSeq.sortBy(_.tus)
    if (sorted.isEmpty) {
      // Timeout fired: the watermark passed the open session's close.
      if (state.hasTimedOut && state.exists) {
        val s = state.get
        state.remove()
        return Iterator(Session(userId, s.startUs, s.endUs, s.n, s.sumFixed))
      }
      return Iterator.empty
    }
    val closed = Vector.newBuilder[Session]
    var cur = state.getOption.orNull
    for (e <- sorted) {
      if (cur == null) cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      else if (e.tus - cur.endUs > gapMicros) {
        closed += Session(userId, cur.startUs, cur.endUs, cur.n, cur.sumFixed)
        cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      } else cur = OpenSession(cur.startUs, math.max(cur.endUs, e.tus),
        cur.n + 1, cur.sumFixed + fixed(e.value))
    }
    state.update(cur)
    // Close when the watermark passes the session end + gap.
    state.setTimeoutTimestamp(cur.endUs / 1000L + gapMicros / 1000L)
    closed.result().iterator
  }

  /** Streaming sessionization over the events parquet (bounded input used
    * as a file-source stream). Returns the closed-sessions Dataset; callers
    * start/await the query (see StreamingSpec).
    */
  def sessions(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    // The one event-stream reader (schema-adaptive ts → micros `tus`); the
    // read confs are pinned here for direct callers (the gate row wraps the
    // whole execution in a set-and-restore).
    graft.queries.Events.pinEventReadConfs(spark)
    graft.queries.Events.eventsStream(spark, dir)
      .select(col("user_id"), col("tus"), col("value"),
        timestamp_micros(col("tus")).as("event_time"))
      .withWatermark("event_time", "0 seconds")
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateState)
  }
}
