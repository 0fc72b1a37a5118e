package graft.streaming

import graft.streaming.FunnelStream.{FunnelEvent, FunnelState, StageRow}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}

/** The funnel state machine on Spark 4's `transformWithState` — the
  * new-API twin of [[FunnelStream]] (flatMapGroupsWithState), exactly as
  * [[SessionizeTws]] twins [[Sessionize]]: same three-stage transition,
  * same strict first-occurrence chaining, the state held in a typed
  * `ValueState[FunnelState]` on the RocksDB provider. No timers — stage
  * entries emit the moment they happen, so the two state APIs must append
  * the identical rows, which the gate hash-pins against the one batch
  * oracle all three funnel rows share.
  */
class FunnelTws extends StatefulProcessor[Long, FunnelEvent, StageRow] {

  @transient private var st: ValueState[FunnelState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[FunnelState](
      "funnel", Encoders.product[FunnelState], TTLConfig.NONE)

  override def handleInputRows(
      userId: Long,
      events: Iterator[FunnelEvent],
      timerValues: TimerValues): Iterator[StageRow] = {
    // the SHARED transition (FunnelStream.step): both state APIs must run
    // the identical machine, so the machine lives in exactly one place
    val s0 = if (st.exists()) st.get() else FunnelState(-1L, -1L, -1L)
    val (s, rows) = FunnelStream.step(userId, s0, events)
    st.update(s)
    rows.iterator
  }

  override def handleExpiredTimer(
      userId: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[StageRow] = Iterator.empty
}

object FunnelTws {

  /** Streaming funnel over the events parquet on the new API; callers
    * start/await the query under the RocksDB provider (a
    * transformWithState constraint, pinned by the gate row).
    */
  def stages(spark: SparkSession, dir: String): Dataset[StageRow] = {
    import spark.implicits._
    graft.queries.Events.eventsStream(spark, dir)
      .select(col("user_id"), col("event_type"), col("tus"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .transformWithState(new FunnelTws, TimeMode.None(), OutputMode.Append())
  }
}
