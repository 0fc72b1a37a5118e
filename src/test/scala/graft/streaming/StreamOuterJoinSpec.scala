package graft.streaming

import graft.TestSession.spark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, timestamp_millis}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the LEFT OUTER stream-stream interval join's null-emission rule at
  * millisecond resolution — the q_stream_join_outer oracle replays exactly
  * this rule, so the boundary strictness must be empirical fact, not
  * folklore.
  *
  * Setup: watermark 10 s on both sides, join window `[l_ts, l_ts + 60 s]`,
  * final event time 100 000 ms on both sides → final global watermark
  * 90 000 ms. Unmatched left rows are placed so their match-window upper
  * bounds straddle the watermark (89 998…90 002 ms).
  *
  * PINNED (this spec): an unmatched left row emits its null row iff
  * `l_ms + interval_ms < wm_ms` — STRICTLY below, no ±1 ms adjustment on
  * the emission side (Spark's state-removal predicate keys on the state
  * value watermark `wm - interval`, and removal requires value strictly
  * less). A matched left row never re-emits at eviction.
  */
class StreamOuterJoinSpec extends AnyFunSuite {

  test("left-outer interval join: null emission is strict upper-bound < watermark") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, Long, Long)]
    val rights = MemoryStream[(Long, Long, Long)]
    def side(s: MemoryStream[(Long, Long, Long)], pre: String) =
      s.toDF().toDF("id", "user", "ms")
        .select(col("id").as(s"${pre}_id"), col("user").as(s"${pre}_user"),
          timestamp_millis(col("ms")).as(s"${pre}_ts"))
        .withWatermark(s"${pre}_ts", "10 seconds")
    val joined = side(lefts, "l").join(side(rights, "r"),
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 60 SECONDS"),
      "left_outer")
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("graft_outer_join_pin").start()
    def emitted(): Set[(Long, Option[Long])] =
      spark.table("graft_outer_join_pin").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet
    try {
      // Batch 1 (watermark 0): five unmatched lefts whose match windows end
      // at 89 998…90 002 ms, one matched left, and its matching right.
      lefts.addData(
        (1L, 1L, 29998L), (2L, 2L, 29999L), (3L, 3L, 30000L),
        (4L, 4L, 30001L), (5L, 5L, 30002L), (6L, 6L, 30000L))
      rights.addData((16L, 6L, 31000L))
      q.processAllAvailable()
      assert(emitted() == Set((6L, Some(16L))),
        s"inner match should emit immediately, nulls not yet: ${emitted()}")
      // Batch 2: both sides advance to 100 000 ms (disjoint user) → final
      // watermark min(100000, 100000) - 10000 = 90000 ms on both nodes.
      lefts.addData((7L, 99L, 100000L))
      rights.addData((17L, 98L, 100000L))
      q.processAllAvailable()
      val out = emitted()
      // Upper bounds 89998 and 89999 are strictly below wm=90000 → evicted,
      // null-emitted. 90000 (== wm), 90001, 90002 stay buffered. The
      // matched left (6) and the fresh left (7) must not null-emit.
      assert(out == Set((6L, Some(16L)), (1L, None), (2L, None)),
        s"unexpected emission set: $out (watermark rule changed?)")
    } finally q.stop()
  }

  test("full-outer interval join: right-side null emission is strict r_ts < watermark") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lefts = MemoryStream[(Long, Long, Long)]
    val rights = MemoryStream[(Long, Long, Long)]
    def side(s: MemoryStream[(Long, Long, Long)], pre: String) =
      s.toDF().toDF("id", "user", "ms")
        .select(col("id").as(s"${pre}_id"), col("user").as(s"${pre}_user"),
          timestamp_millis(col("ms")).as(s"${pre}_ts"))
        .withWatermark(s"${pre}_ts", "10 seconds")
    val joined = side(lefts, "l").join(side(rights, "r"),
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 60 SECONDS"),
      "full_outer")
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("graft_full_outer_join_pin").start()
    def emitted(): Set[(Option[Long], Option[Long])] =
      spark.table("graft_full_outer_join_pin").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet
    try {
      // Batch 1 (watermark 0): five unmatched RIGHTS with event times
      // 89 998…90 002 ms (a right can match any future left whose window
      // covers it, so its eviction keys on its OWN event time vs the
      // watermark), one matched pair on user 6.
      rights.addData(
        (11L, 1L, 89998L), (12L, 2L, 89999L), (13L, 3L, 90000L),
        (14L, 4L, 90001L), (15L, 5L, 90002L), (16L, 6L, 31000L))
      lefts.addData((6L, 6L, 30000L))
      q.processAllAvailable()
      assert(emitted() == Set((Some(6L), Some(16L))),
        s"inner match should emit immediately, nulls not yet: ${emitted()}")
      // Batch 2: both sides advance to 100 000 ms (disjoint users) → final
      // watermark 90 000 ms on both nodes.
      lefts.addData((7L, 99L, 100000L))
      rights.addData((17L, 98L, 100000L))
      q.processAllAvailable()
      val out = emitted()
      // PINNED: rights at 89 998/89 999 (strictly below wm=90000) evict and
      // null-emit; 90 000 (== wm) and above stay buffered. The matched
      // right (16), the matched left (6), and the fresh rows must not
      // null-emit. The matched LEFT row's state (l=6, window ends 90 000)
      // is NOT strictly below wm, so no left-side nulls yet either.
      assert(out == Set((Some(6L), Some(16L)), (None, Some(11L)), (None, Some(12L))),
        s"unexpected emission set: $out (right-side watermark rule changed?)")
    } finally q.stop()
  }
}
