package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, max, round, struct}
import org.apache.spark.sql.streaming.{
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-key running totals on Spark 4's `transformWithState` API — the
  * arbitrary-state surface that supersedes `flatMapGroupsWithState`
  * (typed state handles, timers, TTL; SPARK-46815). The engine exposes
  * both generations: Sessionize keeps the classic `GroupState` path, this
  * processor is the `StatefulProcessor` path, and the q_transform_state
  * gate row pins the new API's cumulative state against the plain batch
  * aggregate oracle.
  *
  * Input rows arrive pre-quantized as (user_id, v4) with
  * v4 = floor(value * 10000 + 0.5) computed IN-PLAN (codegen), so the
  * processor is pure integer arithmetic — cumulative sums cannot depend
  * on micro-batch boundaries or row order, which is what makes the
  * final state equal to the batch GROUP BY exactly.
  *
  * After each micro-batch the processor emits the key's cumulative
  * (n, sum_v4) — Update-mode semantics: the sink holds one row per key
  * per batch the key appeared in, and the latest emission per key (the
  * one with the largest n; n strictly increases across emissions because
  * a key is only invoked on new input) is the final state.
  */
class RunningTotals extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {

  @transient private var totals: ValueState[(Long, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Long)](
      "totals", Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(
      key: Long,
      rows: Iterator[(Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var (n, s) = if (totals.exists()) totals.get() else (0L, 0L)
    rows.foreach { case (_, v4) => n += 1; s += v4 }
    totals.update((n, s))
    Iterator.single((key, n, s))
  }
}

object RunningTotals {

  private val longs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)

  /** `rows` (user_id, v4) keyed by user through the processor: the update
    * stream of each key's cumulative (user_id, n, sum_v4).
    */
  def over(rows: Dataset[(Long, Long)]): DataFrame =
    rows.groupByKey(_._1)(Encoders.scalaLong)
      .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Update())(longs)
      .toDF("user_id", "n", "sum_v4")

  /** The final state in `emitted` (rows of [[over]]): per key the emission
    * with the largest n (n strictly increases), reported as (user_id, n,
    * sum_value = sum_v4 / 1e4 rounded to 2 places). A reporting step over
    * the sink, not part of the streaming computation.
    */
  def finalTotals(emitted: DataFrame): DataFrame =
    emitted.groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("sum_v4"))).as("m"))
      .select(col("user_id"), col("m.n").as("n"),
        round(col("m.sum_v4") / 10000.0, 2).as("sum_value"))
}
