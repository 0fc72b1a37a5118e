package graft.streaming

import graft.streaming.Sessionize.{Event, OpenSession, Session}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
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

  override def handleInputRows(
      userId: Long,
      events: Iterator[Event],
      timerValues: TimerValues): Iterator[Session] = {
    if (!events.hasNext) return Iterator.empty
    val (cur, closed) =
      Sessionize.step(userId, if (open.exists()) Some(open.get()) else None, events)
    open.update(cur)
    val close = cur.closeMs
    val timers = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet
    timers.foreach(tv => if (tv != close) getHandle.deleteTimer(tv))
    if (!timers.contains(close)) getHandle.registerTimer(close)
    closed.iterator
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
    if (timerValues.getCurrentWatermarkInMs() > s.closeMs) {
      open.clear()
      Iterator.single(s.closed(userId))
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
    Sessionize.byUser(spark, dir)
      .transformWithState(new SessionizeTws, TimeMode.EventTime(), OutputMode.Append())
  }
}
