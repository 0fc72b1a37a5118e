package graft.streaming

import graft.TestSession.spark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the exact `dropDuplicatesWithinWatermark` semantics the
  * q_stream_dedup_wm oracle encodes (Spark upstream:
  * StreamingDeduplicateWithinWatermarkExec):
  *   - a key's FIRST arrival is emitted and stored with
  *     `expiresAt = eventTime + delay`;
  *   - a suppressed duplicate does NOT refresh the stored expiry;
  *   - state is evicted when the eviction watermark passes expiresAt
  *     (strictly: expiresAt < wm), after which the key re-emits on its
  *     next arrival — this is what bounds the state store;
  *   - no-data micro-batches (on by default) run eviction as soon as the
  *     watermark advances, so a key whose expiry the watermark passed in
  *     batch k re-emits already in batch k+1.
  */
class StreamDedupWmSpec extends AnyFunSuite {

  test("watermark eviction re-emits and bounds state (delay 10s)") {
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(String, Long)]
    val deduped = in.toDF().toDF("k", "secs")
      .select(col("k"), timestamp_seconds(col("secs")).as("ts"))
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
    val q = deduped
      .select(col("k"), col("ts").cast("long").as("secs"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_wm_discovery").start()
    def emitted(): Seq[(String, Long)] =
      spark.table("graft_wm_discovery").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    try {
      // Batch 1: first arrivals emit; expiries A->1010, B->1015.
      in.addData(("A", 1000L), ("B", 1005L)); q.processAllAvailable()
      assert(emitted() == Seq(("A", 1000L), ("B", 1005L)))
      // Batch 2: wm still 0 (first batch), nothing evicted; X emits
      // (expiry 110). Afterwards the watermark advances to 1100-10=1090 and
      // the no-data batch evicts A (1010<1090) and B (1015<1090) but not X (1110).
      in.addData(("X", 1100L)); q.processAllAvailable()
      assert(emitted() == Seq(("A", 1000L), ("B", 1005L), ("X", 1100L)))
      // Batch 3: A was evicted -> re-emits at 1095 (new expiry 1105); X's
      // state (1110 >= 1090) is live -> 1099 suppressed.
      in.addData(("A", 1095L), ("X", 1099L)); q.processAllAvailable()
      assert(emitted() == Seq(("A", 1000L), ("A", 1095L), ("B", 1005L), ("X", 1100L)))
      // Eviction BOUNDS the store: 3 distinct keys were seen, but B's
      // state (expiry 1015 < wm 1090) is gone — only A (refreshed, 1105)
      // and X (1110) remain. Unbounded dropDuplicates would hold all 3.
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(stateRows.contains(2L),
        s"state store should hold exactly {A, X} after eviction, got $stateRows")
      // Batch 4: wm advanced only to max(1090, 1099-10)=1090; A's refreshed
      // expiry 1105 >= 1090 is live -> 1200 suppressed (suppression at batch 3
      // did NOT come from a refreshed old expiry; emission did).
      in.addData(("A", 1200L)); q.processAllAvailable()
      assert(emitted() == Seq(("A", 1000L), ("A", 1095L), ("B", 1005L), ("X", 1100L)))
      // After batch 4 the watermark reaches 1200-10=1190 and the trailing
      // no-data batch evicts even A (1105) and X (1110): the store drains
      // to zero once keys fall out of the delay window.
      val drained = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(drained.contains(0L),
        s"state store should fully drain past the delay window, got $drained")
    } finally q.stop()
  }

  /** Independent in-repo replay of the q_stream_dedup_wm gate: fold the
    * same per-(key, chunk) rep dataset through the pinned semantics in
    * plain Scala and require the streaming result to match exactly — the
    * DuckDB oracle in graft.queries.Events encodes the identical fold as a
    * recursive CTE, so this test catches a drift in either direction
    * without needing the driver.
    */
  test("q_stream_dedup_wm matches a Scala replay of the eviction semantics (sf0.001)") {
    import graft.queries.Events
    val sf = "/root/testdata/sf0.001"
    spark.sparkContext.setLogLevel("WARN")
    val got = Events.streamDedupWm.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    // reps straight from the prepared chunk files, in file (= batch) order
    val out = Events.prepareWmChunks(spark, sf)
    val chunkFiles = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(chunkFiles.length >= 2)
    val chunks: Seq[Array[(Long, String, Long)]] = chunkFiles.toSeq.map { f =>
      spark.read.parquet(f.getPath).collect()
        .map(r => (r.getLong(0), r.getString(1),
          r.getTimestamp(2).getTime * 1000 + r.getTimestamp(2).getNanos / 1000 % 1000))
    }
    // eviction watermark applied before batch k: chunks <= k-2 (see the
    // streamDedupWm scaladoc); floor-to-ms then scale to micros
    val cmax = chunks.map(_.map(_._3).max)
    def wmBefore(k: Int): Option[Long] =
      if (k < 2) None
      else Some((cmax.take(k - 1).max / 1000 - Events.WmDelayMs) * 1000)
    val state = scala.collection.mutable.HashMap.empty[(Long, String), Long]
    val expected = scala.collection.mutable.Set.empty[(Long, String, Long)]
    for ((rows, k) <- chunks.zipWithIndex; (uid, etype, r) <- rows) {
      val key = (uid, etype)
      val evicted = state.get(key).exists(exp => wmBefore(k).exists(exp < _))
      if (!state.contains(key) || evicted) {
        expected += ((uid, etype, r))
        state(key) = r + Events.WmDelayUs
      }
    }
    assert(got.size == expected.size, s"rows: stream ${got.size} vs replay ${expected.size}")
    assert(got == expected)
    // the eviction edge is actually exercised on this data: some key
    // re-emitted (duplicate emission) and some duplicate was suppressed
    val emitsPerKey = expected.toSeq.groupBy(t => (t._1, t._2)).values.map(_.size)
    assert(emitsPerKey.exists(_ > 1), "no key ever re-emitted — eviction edge untested")
    val arrivals = chunks.flatten.groupBy(t => (t._1, t._2)).values.map(_.size)
    assert(arrivals.sum > expected.size, "every arrival emitted — dedup edge untested")
  }
}
