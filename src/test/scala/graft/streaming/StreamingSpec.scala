package graft.streaming

import graft.TempDirs.withTempDir
import graft.TestSession.spark
import graft.SparkEntry
import graft.queries.Confs
import org.scalatest.funsuite.AnyFunSuite

/** Stateful streaming sessionization vs its batch twin: every session the
  * streaming job closed (watermark passed) must appear identically in the
  * window-function batch result.
  */
class StreamingSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"
  private val RocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  test("flatMapGroupsWithState sessions match the batch window sessions") {
    spark.sparkContext.setLogLevel("WARN")
    val q = Sessionize.sessions(spark, sf).writeStream
      .outputMode("append")
      .format("memory")
      .queryName("graft_sessions_stream")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // Same Spark round() on the streamed fixed-point sum as the batch
    // query applies, so the doubles compare exactly.
    import org.apache.spark.sql.functions.{col, round}
    val streamed = spark.table("graft_sessions_stream")
      .select(col("user_id"), col("start_us"), col("end_us"), col("n"),
        round(col("sum_fixed") / 10000.0, 2).as("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
      .toSet

    val batch = SparkEntry.queries("q_sessionize")(spark, sf)
      .collect()
      .map(r => (r.getLong(r.fieldIndex("user_id")),
        r.getLong(r.fieldIndex("start_us")),
        r.getLong(r.fieldIndex("end_us")),
        r.getLong(r.fieldIndex("n")),
        r.getDouble(r.fieldIndex("sum_value"))))
      .toSet

    assert(streamed.nonEmpty, "streaming closed no sessions — watermark never advanced")
    val missing = streamed -- batch
    assert(missing.isEmpty,
      s"${missing.size} streamed sessions absent from batch result; e.g. ${missing.take(3)}")
    // The open tail (at most one session per user) may be unclosed at stream
    // end; everything the watermark passed must have been emitted.
    assert(streamed.size >= batch.size / 2,
      s"suspiciously few closed sessions: ${streamed.size} of ${batch.size}")
  }

  test("stream-stream interval join equals the batch interval join") {
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions.{col, expr}
    // an INNER interval join on bounded input must emit exactly the batch
    // join's pairs, independent of micro-batch arrival order
    val streamed = graft.queries.Events.streamJoin.fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val ev = graft.queries.Events.readEvents(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("tus").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("tus").as("pts"))
    val batch = c.join(p, "user_id")
      .filter(col("pts") >= col("cts") && col("pts") <= col("cts") + 3600000000L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        expr("(pts - cts) div 1000000").as("lag_s"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch,
      s"stream-batch mismatch: only-stream=${(streamed -- batch).take(3)}, " +
        s"only-batch=${(batch -- streamed).take(3)}")
  }

  test("q_stream_join_agg runs join -> agg -> agg: TWO stateful aggregates, no collect_set") {
    spark.sparkContext.setLogLevel("WARN")
    // The state-shape pin for VERDICT r12 #1: the distinct-user count must
    // be the two-stage streaming aggregate (state spread across
    // (window, user) keys, fixed-width values), NOT a per-window
    // collect_set whose single state value grows with the window's
    // distinct-user set. Pinned via the progress event's stateOperators:
    // one symmetric hash join + exactly two stateStoreSave aggregates.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.name == "graft_stream_join_agg") captured.add(e.progress): Unit
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = graft.queries.Events.streamJoinAgg.fn(spark, sf)
      assert(out.collect().nonEmpty, "no finalized windows emitted")
      // listener delivery is async; poll for a progress with state operators
      val deadline = System.nanoTime() + 30e9.toLong
      def ops(): Option[Array[org.apache.spark.sql.streaming.StateOperatorProgress]] = {
        import scala.jdk.CollectionConverters._
        captured.asScala.map(_.stateOperators).find(_.nonEmpty)
      }
      while (ops().isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val names = ops().getOrElse(fail("no stateOperators progress captured"))
        .map(_.operatorName).sorted.toSeq
      assert(names == Seq("stateStoreSave", "stateStoreSave", "symmetricHashJoin"),
        s"state shape changed: $names")
    } finally spark.streams.removeListener(listener)
  }

  test("streaming session_window emits exactly when the watermark REACHES window end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, session_window, timestamp_seconds}
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // Boundary pin for q_session_window_stream's oracle: eviction is
    // NON-STRICT (end <= watermark emits, verified at exact equality),
    // unlike flatMapGroupsWithState's strict EventTimeTimeout that
    // q_sessionize_stream replays. u1@1000s closes at 1000+1800=2800s.
    val ev = MemoryStream[(Long, Long)]
    val q = ev.toDF().toDF("user", "secs")
      .select(col("user"), timestamp_seconds(col("secs")).as("tts"))
      .withWatermark("tts", "0 seconds")
      .groupBy(session_window(col("tts"), "30 minutes").as("sw"), col("user"))
      .agg(count(col("user")).as("n"))
      .select(col("user"), col("sw.end").cast("long").as("end_s"), col("n"))
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_sw_boundary").start()
    def emitted(): Set[(Long, Long, Long)] =
      spark.table("graft_sw_boundary").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      ev.addData((1L, 1000L))
      q.processAllAvailable()
      assert(emitted().isEmpty, "nothing may emit while wm < window end")
      ev.addData((3L, 2800L)) // wm -> exactly u1's window end
      q.processAllAvailable()
      assert(emitted() == Set((1L, 2800L, 1L)),
        s"session must emit at wm == window end, got ${emitted()}")
    } finally q.stop()
  }

  test("streaming dedup is state-backend-agnostic: RocksDB store matches batch") {
    import org.apache.spark.sql.functions.col
    spark.sparkContext.setLogLevel("WARN")
    // The HDFS-backed in-memory store is the test default; production
    // state that outgrows the heap runs on RocksDB. The gate semantics
    // must be backend-invariant — run the exact streaming-dedup row under
    // RocksDB and compare to the batch DISTINCT.
    Confs.withConfs(spark, RocksDb) {
      val stream = graft.queries.Events.streamDedup.fn(spark, sf)
      val batch = graft.queries.Events.readEvents(spark, sf)
        .select(col("user_id"), col("event_type")).distinct()
      assert(stream.count() == batch.count())
      assert(stream.exceptAll(batch).count() == 0L &&
        batch.exceptAll(stream).count() == 0L)
    }
  }

  test("checkpointed file sink resumes exactly-once across a mid-stream restart") {
    spark.sparkContext.setLogLevel("WARN")
    // The 4-chunk prepared dataset streams one file per micro-batch into a
    // checkpointed parquet sink; the query is STOPPED after the first
    // committed batch and restarted from the same checkpoint. The final
    // sink content must equal the full input exactly — the checkpoint
    // offset log prevents replay (no duplicates) and the _spark_metadata
    // commit log prevents loss (no torn batches).
    val src = graft.queries.Events.prepareWmChunks(spark, sf)
    withTempDir("graft-restart") { out =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id LONG, event_type STRING, ts TIMESTAMP")
      def start() = spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream
        .format("parquet")
        .option("path", s"$out/data")
        .option("checkpointLocation", s"$out/chk")
        .start()
      val q1 = start()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (q1.recentProgress.map(_.numInputRows).sum == 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      q1.stop()
      assert(q1.recentProgress.nonEmpty, "first run never committed a batch in 30s")
      val q2 = start()
      try q2.processAllAvailable()
      finally q2.stop()
      val got = spark.read.parquet(s"$out/data").count()
      val expect = spark.read.parquet(src).count()
      assert(got == expect, s"sink has $got rows, input has $expect — lost or duplicated")
    }
  }

  test("interval-join watermarks evict both sides' buffered state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, expr, timestamp_seconds}
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Long)]
    val purchases = MemoryStream[(Long, Long, Long)]
    def side(s: MemoryStream[(Long, Long, Long)], pre: String) =
      s.toDF().toDF("id", "user", "secs")
        .select(col("id").as(s"${pre}_id"), col("user").as(s"${pre}_user"),
          timestamp_seconds(col("secs")).as(s"${pre}_ts"))
        .withWatermark(s"${pre}_ts", "10 seconds")
    val joined = side(clicks, "c").join(side(purchases, "p"),
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 60 SECONDS"))
      .select(col("c_id"), col("p_id"),
        (col("p_ts").cast("long") - col("c_ts").cast("long")).as("lag_s"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("graft_join_state").start()
    def pairs(): Set[(Long, Long, Long)] =
      spark.table("graft_join_state").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      // in-window pair joins; out-of-window purchase (t=2000) does not
      clicks.addData((1L, 7L, 1000L)); purchases.addData((11L, 7L, 1030L), (12L, 7L, 2000L))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 11L, 30L)))
      // both sides jump to t~5000: watermark (min of sides, -10s) passes
      // every pre-jump row's match window, evicting it from join state
      clicks.addData((2L, 7L, 5000L)); purchases.addData((13L, 7L, 5010L))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 11L, 30L), (2L, 13L, 10L)))
      // a final advancing batch (disjoint users -> no new pairs) lets the
      // no-data batch evict the t=5000 generation too
      clicks.addData((3L, 8L, 9000L)); purchases.addData((14L, 9L, 9001L))
      q.processAllAvailable()
      assert(pairs() == Set((1L, 11L, 30L), (2L, 13L, 10L)))
      // 7 rows entered; an un-watermarked join would buffer all 7 forever.
      // Only the newest generation (<= 2 rows, expiries beyond the
      // watermark) may remain.
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(stateRows.exists(_ <= 2L),
        s"join state not evicted: $stateRows rows buffered of 7 fed")
    } finally q.stop()
  }

  test("transformWithState event-time timers close sessions across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // Three hand-fed micro-batches pin the timer machinery: (batch 1) an
    // open session registers a timer at end + gap; (batch 2) a same-user
    // event WITHIN the gap extends the session — the stale timer is
    // replaced, nothing emits; (batch 3) another user's far-future event
    // advances the watermark past the close and the timer fires, emitting
    // the session with the batch-2 extension included. A per-batch
    // (instead of cross-batch) implementation would emit two sessions.
    Confs.withConfs(spark, RocksDb) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, Long)] // (user_id, tus)
      val q = mem.toDS()
        .select(col("_1").as("user_id"), col("_2").as("tus"),
          lit(1.0).as("value"), timestamp_micros(col("_2")).as("event_time"))
        .withWatermark("event_time", "0 seconds")
        .as[Sessionize.Event]
        .groupByKey(_.user_id)
        .transformWithState(new SessionizeTws, TimeMode.EventTime(), OutputMode.Append())
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_tws_sessions").start()
      def rows() = spark.table("graft_tws_sessions")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      try {
        // Timestamps sit one day above epoch: an event_time equal to the
        // initial watermark (0) would be dropped as late by design.
        val d = 86400000000L
        mem.addData((1L, d), (1L, d + 10000000L)) // +0s, +10s
        q.processAllAvailable()
        assert(rows().isEmpty, s"no close yet, got ${rows()}")
        mem.addData((1L, d + 1200000000L)) // +20min: within the 30min gap
        q.processAllAvailable()
        assert(rows().isEmpty, s"extension must not emit, got ${rows()}")
        mem.addData((2L, d + 7200000000L)) // user 2 at +2h: wm passes close
        q.processAllAvailable()
        assert(rows() == Set((1L, d, d + 1200000000L, 3L, 30000L)),
          s"timer must close the extended session exactly once: ${rows()}")
      } finally q.stop()
    }
  }

  test("transformWithState stale timer is a no-op when the session extended past it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // VERDICT r10 #5: pin the stale-fire path directly. A timer registers
    // at the original close (start + gap); the session then EXTENDS, moving
    // the true close later; the watermark is driven BETWEEN the stale
    // registration time and the new close. At that point the original
    // timer's time has expired — whether it was deleted on re-registration
    // (handleInputRows) or fires and fails the strict
    // `wm > end + gap` check (handleExpiredTimer), the required behavior
    // is THE SAME: no emission. Any premature session row here means a
    // stale timer leaked an emission. Only when the watermark finally
    // passes the EXTENDED close may the one merged session appear.
    Confs.withConfs(spark, RocksDb) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, Long)] // (user_id, tus)
      val q = mem.toDS()
        .select(col("_1").as("user_id"), col("_2").as("tus"),
          lit(1.0).as("value"), timestamp_micros(col("_2")).as("event_time"))
        .withWatermark("event_time", "0 seconds")
        .as[Sessionize.Event]
        .groupByKey(_.user_id)
        .transformWithState(new SessionizeTws, TimeMode.EventTime(), OutputMode.Append())
        .writeStream.outputMode("append").format("memory")
        .queryName("graft_tws_stale").start()
      def rows() = spark.table("graft_tws_stale")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      try {
        val d = 86400000000L
        val min = 60000000L
        mem.addData((1L, d)) // timer registers at d + 30min
        q.processAllAvailable()
        mem.addData((1L, d + 20 * min)) // extends: true close now d + 50min
        q.processAllAvailable()
        // drive the watermark to d + 40min: PAST the stale d+30min timer,
        // BEFORE the extended d+50min close (two batches — the wm computed
        // from this event gates the NEXT batch's timer sweep)
        mem.addData((2L, d + 40 * min))
        q.processAllAvailable()
        mem.addData((2L, d + 40 * min + 1000000L))
        q.processAllAvailable()
        assert(rows().isEmpty,
          s"stale timer past its registration time must not emit: ${rows()}")
        // watermark past the extended close: exactly one merged session for
        // user 1 (user 2's own watermark-driver session closes too)
        mem.addData((2L, d + 3L * 3600 * 1000000L))
        q.processAllAvailable()
        assert(rows().filter(_._1 == 1L) == Set((1L, d, d + 20 * min, 2L, 20000L)),
          s"extended session must emit exactly once at its true close: ${rows()}")
      } finally q.stop()
    }
  }

  test("transformWithState accumulates integer state across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    // The StatefulProcessor API requires the RocksDB provider; three
    // hand-fed micro-batches pin that (a) state persists across batches
    // (cumulative n/sum, not per-batch), (b) only keys with input emit,
    // and (c) earlier emissions stay in the update-mode sink unchanged —
    // the exact semantics the q_transform_state gate's max(struct)
    // final-state selection relies on.
    Confs.withConfs(spark, RocksDb) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, Long)]
      val q = mem.toDS().groupByKey(_._1)
        .transformWithState(new RunningTotals, TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n", "sum_v4")
        .writeStream.outputMode("update").format("memory")
        .queryName("graft_tws_unit").start()
      def rows() = spark.table("graft_tws_unit")
        .as[(Long, Long, Long)].collect().toSet
      try {
        mem.addData((1L, 10L), (1L, 5L), (2L, 7L))
        q.processAllAvailable()
        assert(rows() == Set((1L, 2L, 15L), (2L, 1L, 7L)))
        mem.addData((1L, 1L))
        q.processAllAvailable()
        assert(rows() == Set((1L, 2L, 15L), (2L, 1L, 7L), (1L, 3L, 16L)),
          "key 2 had no input in batch 2 and must not re-emit")
        mem.addData((3L, -4L), (2L, 2L))
        q.processAllAvailable()
        assert(rows().contains((2L, 2L, 9L)) && rows().contains((3L, 1L, -4L)))
      } finally q.stop()
    }
  }

  test("file-sink stream resumes exactly-once from its checkpoint after a restart") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    import java.nio.file.{Files, Paths, StandardCopyOption}
    spark.sparkContext.setLogLevel("WARN")
    // 4 deterministic single-file micro-batch chunks of the event log
    val chunks = graft.queries.Events.prepareCdcChunks(spark, sf)
    val chunkFiles = new java.io.File(chunks).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(chunkFiles.length == 4)
    val schema = spark.read.parquet(chunks).schema
    withTempDir("graft_restart") { root =>
      val (src, data, chk) = (s"$root/src", s"$root/data", s"$root/chk")
      Files.createDirectories(Paths.get(src))
      def runOnce(): Unit = {
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .select(col("user_id"), col("event_id"))
          .writeStream.format("parquet")
          .option("path", data).option("checkpointLocation", chk)
          .outputMode("append").start()
        try q.processAllAvailable()
        finally q.stop()
      }
      // phase 1: only the first two chunks exist; the query commits them,
      // then the process "dies" (q.stop)
      chunkFiles.take(2).foreach(f => Files.copy(f.toPath,
        Paths.get(src, f.getName), StandardCopyOption.REPLACE_EXISTING))
      runOnce()
      // phase 2: the remaining chunks arrive and a NEW query (fresh
      // instance, same checkpoint) resumes — the commit log must make the
      // union exactly-once: no chunk replayed, none skipped
      chunkFiles.drop(2).foreach(f => Files.copy(f.toPath,
        Paths.get(src, f.getName), StandardCopyOption.REPLACE_EXISTING))
      runOnce()
      val got = spark.read.parquet(data)
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s")).collect()(0)
      val want = spark.read.parquet(chunks)
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s")).collect()(0)
      assert(got.getLong(0) == want.getLong(0), "row count drifted across restart")
      assert(got.getLong(1) == want.getLong(1), "content drifted across restart")
    }
  }
}
