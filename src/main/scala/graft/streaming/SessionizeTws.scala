package graft.streaming

import graft.streaming.Sessionize.{Event, OpenSession, Session, gapMicros}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** Gap sessionization on Spark 4's `transformWithState` API with
  * EVENT-TIME TIMERS — the new-API twin of [[Sessionize]]
  * (flatMapGroupsWithState + EventTimeTimeout). Same state transition,
  * same fixed-point sums, same strict close rule; what changes is the
  * state machinery: a typed `ValueState` for the open session plus an
  * explicit per-key timer registered at `end + gap`, instead of the old
  * API's single implicit timeout slot. Gate: `q_sessionize_tws` hashes
  * against the SAME oracle as `q_sessionize_stream` — the two state APIs
  * must produce identical session sets on bounded input.
  *
  * Timer discipline: every batch re-registers the (single) timer at the
  * current tail's close and deletes stale ones (the new API allows many
  * timers per key; this operator wants exactly one). A fired timer only
  * emits if the watermark STRICTLY passed `end + gap` — the same strict
  * rule the old API's timeout has and the oracle replays; a stale timer
  * (session extended since registration) fails that check and is a
  * no-op, because the re-registered later timer covers the new close.
  */
class SessionizeTws extends StatefulProcessor[Long, Event, Session] {

  @transient private var open: ValueState[OpenSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    open = getHandle.getValueState[OpenSession](
      "open", Encoders.product[OpenSession], TTLConfig.NONE)

  private def fixed(v: Double): Long = math.floor(v * 10000 + 0.5).toLong

  override def handleInputRows(
      userId: Long,
      events: Iterator[Event],
      timerValues: TimerValues): Iterator[Session] = {
    val sorted = events.toSeq.sortBy(_.tus)
    if (sorted.isEmpty) return Iterator.empty
    val closed = Vector.newBuilder[Session]
    var cur = if (open.exists()) open.get() else null
    for (e <- sorted) {
      if (cur == null) cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      else if (e.tus - cur.endUs > gapMicros) {
        closed += Session(userId, cur.startUs, cur.endUs, cur.n, cur.sumFixed)
        cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      } else cur = OpenSession(cur.startUs, math.max(cur.endUs, e.tus),
        cur.n + 1, cur.sumFixed + fixed(e.value))
    }
    open.update(cur)
    val close = cur.endUs / 1000L + gapMicros / 1000L
    val timers = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet
    timers.foreach(tv => if (tv != close) getHandle.deleteTimer(tv))
    if (!timers.contains(close)) getHandle.registerTimer(close)
    closed.result().iterator
  }

  override def handleExpiredTimer(
      userId: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[Session] = {
    if (!open.exists()) return Iterator.empty
    val s = open.get()
    // Strict close rule (matches the old API's timeout and the oracle):
    // emit only when the watermark passed end + gap. A stale timer from
    // before the session extended fails this and is ignored.
    if (timerValues.getCurrentWatermarkInMs() > s.endUs / 1000L + gapMicros / 1000L) {
      open.clear()
      Iterator.single(Session(userId, s.startUs, s.endUs, s.n, s.sumFixed))
    } else Iterator.empty
  }
}

object SessionizeTws {

  /** Streaming sessionization over the events parquet on the new API —
    * the [[Sessionize.sessions]] twin; callers start/await the query.
    * Requires the RocksDB state store provider (a transformWithState
    * constraint), which the gate row pins around execution.
    */
  def sessions(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    graft.queries.Events.pinEventReadConfs(spark)
    graft.queries.Events.eventsStream(spark, dir)
      .select(col("user_id"), col("tus"), col("value"),
        timestamp_micros(col("tus")).as("event_time"))
      .withWatermark("event_time", "0 seconds")
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new SessionizeTws, TimeMode.EventTime(), OutputMode.Append())
  }
}
