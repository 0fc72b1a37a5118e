package graft

import graft.TempDirs.withTempDir
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions descriptor plumbing: every (identifier, info, builder)
  * entry of the one table the installer injects is registered into a fresh
  * session's function registry — the same call `injectFunction` performs
  * at session build — and then exercised through PURE SQL, no Scala
  * Column API. (The builder-side `withExtensions` wiring itself is Spark's
  * code and cannot be re-tested here: `getOrCreate()` returns the
  * suite-shared session, ignoring new extensions by design.)
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-extensions-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("injected function descriptors evaluate through pure SQL") {
    spark.sparkContext.setLogLevel("WARN")
    assert(GraftExtensions.functions.map(_._1.funcName).toSet ==
      Set("poly_hash", "dot_product", "sorted_intersect_size", "simhash64", "nfc_normalize"))
    val session = spark.newSession()
    val reg = session.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
    val r = session.sql(
      """SELECT poly_hash('abc') AS h,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       simhash64(array('a', 'b')) AS s,
        |       sorted_intersect_size(array(1, 3, 5, 8), array(3, 4, 5, 9)) AS k,
        |""".stripMargin + "       nfc_normalize('cafe\u0301') AS n").collect()(0)
    assert(r.getLong(0) == graft.functions.PolyHash.hash(UTF8String.fromString("abc")))
    assert(r.getDouble(1) == 11.0)
    assert(r.getSeq[Long](2).length == 2)
    assert(r.getInt(3) == 2)
    assert(r.getString(4) == "caf\u00e9")
  }

  test("StencilSource: unbounded table refuses to plan without a pushed limit") {
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.format("graft.sources.StencilSource")
      .option("dims", 2).option("maxHalvings", 7).load()
    // an innocent full-table action must fail LOUDLY at planning, not
    // generate forever (the stream is infinite by design)
    val e = intercept[Exception](df.count())
    assert(e.getMessage != null && e.getMessage.contains("UNBOUNDED"),
      s"expected the unbounded-table refusal, got: ${e.getMessage}")
  }

  test("StencilSource: maxPoints beyond the Int-indexed cache fails at PLANNING") {
    // ADVICE r12 #4: a too-large maxPoints used to abort only when the
    // offset finally crossed 2^31 — hours into the stream, after the
    // quadratic-replay slowdown. It must refuse in newScanBuilder.
    spark.sparkContext.setLogLevel("ERROR")
    val e = intercept[Exception] {
      spark.read.format("graft.sources.StencilSource")
        .option("dims", 2).option("maxHalvings", 7)
        .option("maxPoints", Int.MaxValue.toLong + 1)
        .load().limit(1).collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    assert(msgs.contains("maxPoints must be <="),
      s"expected the plan-time maxPoints refusal, got: ${msgs.take(300)}")
  }

  test("StencilSource streaming: an uncapped stream is refused at planning") {
    // ADVICE r13 #2: the r12 guard exempted the unset-maxPoints sentinel,
    // so an unbounded STREAM still failed only at the mid-stream
    // `end <= Int.MaxValue` check after ~2^31 points. Streaming now
    // requires an explicit cap, refused when the query starts.
    spark.sparkContext.setLogLevel("ERROR")
    withTempDir("stencil_uncapped") { chk =>
      val e = intercept[Exception] {
        val q = spark.readStream.format("graft.sources.StencilSource")
          .option("dims", 2).option("maxHalvings", 7)
          .option("pointsPerBatch", 100) // maxPoints deliberately unset
          .load()
          .writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", s"$chk/chk")
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
      assert(msgs.contains("require an explicit maxPoints"),
        s"expected the uncapped-stream refusal, got: ${msgs.take(300)}")
    }
  }

  test("StencilSource: the limit is pushed into the V2 scan and rows match the generator") {
    spark.sparkContext.setLogLevel("ERROR")
    val df = spark.read.format("graft.sources.StencilSource")
      .option("dims", 3).option("maxHalvings", 5).load()
      .limit(40)
    // pushed limit is visible in the scan description...
    assert(df.queryExecution.executedPlan.toString.contains("limit=40"),
      df.queryExecution.executedPlan.toString)
    // ...and the rows are the generator's, in order, with the array intact
    val got = df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toVector))
    val want = new graft.stencil.RightHandedSimplexStencil(3, 5)
      .stencilPoints.take(40).zipWithIndex
      .map { case (s, i) => (i + 1, s.halvings, s.offset.toVector) }.toArray
    assert(got.length == 40 && got.sameElements(want))
  }

  test("StencilSource streaming: deterministic offset ranges resume exactly-once across restart") {
    spark.sparkContext.setLogLevel("ERROR")
    withTempDir("stencil_stream") { root =>
      def run(maxPts: Int): Unit = {
        val q = spark.readStream.format("graft.sources.StencilSource")
          .option("dims", 2).option("maxHalvings", 7)
          .option("pointsPerBatch", 100).option("maxPoints", maxPts)
          .load()
          .selectExpr("idx", "halvings", "offset[0] AS x", "offset[1] AS y")
          .writeStream.outputMode("append").format("parquet")
          .option("path", s"$root/data").option("checkpointLocation", s"$root/chk")
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      // first run consumes [0, 300); the restarted query must resume at
      // offset 300 from the checkpoint and append ONLY [300, 500) — the
      // deterministic generator + offset log IS the exactly-once story
      run(300)
      run(500)
      val got = spark.read.parquet(s"$root/data")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
        .sortBy(_._1)
      val want = new graft.stencil.RightHandedSimplexStencil(2, 7)
        .stencilPoints.take(500).zipWithIndex
        .map { case (st, i) => (i + 1, st.halvings, st.offset(0), st.offset(1)) }.toArray
      assert(got.length == 500, s"expected exactly-once 500 rows, got ${got.length}")
      assert(got.sameElements(want))
    }
  }

  test("StencilSource streaming: Trigger.AvailableNow consumes to maxPoints, not one batch") {
    spark.sparkContext.setLogLevel("ERROR")
    // The AvailableNow wrapper calls latestOffset(start, ReadLimit.allAvailable())
    // ONCE and treats the answer as the terminal offset — a source that
    // answers with one pointsPerBatch there silently truncates the run
    // (code-review r12). All 250 points must arrive, in order.
    val q = spark.readStream.format("graft.sources.StencilSource")
      .option("dims", 2).option("maxHalvings", 7)
      .option("pointsPerBatch", 100).option("maxPoints", 250)
      .load().selectExpr("idx")
      .writeStream.outputMode("append").format("memory")
      .queryName("stencil_avail_now")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination()
    finally q.stop()
    val idx = spark.table("stencil_avail_now").collect().map(_.getInt(0)).sorted
    assert(idx.length == 250 && idx.head == 1 && idx.last == 250,
      s"expected the full 250-point prefix, got ${idx.length} rows")
  }

  test("StencilSource streaming: alternating configs thrash the single-slot cache, never the rows") {
    spark.sparkContext.setLogLevel("ERROR")
    // The prefix cache holds ONE (dims, maxHalvings) config; running two
    // configs alternately evicts it every time — the documented contract
    // is correct-but-quadratic replay, so the rows must stay bit-exact.
    def run(dims: Int, mh: Int, name: String): Array[(Int, Int, Vector[Double])] = {
      val q = spark.readStream.format("graft.sources.StencilSource")
        .option("dims", dims).option("maxHalvings", mh)
        .option("pointsPerBatch", 40).option("maxPoints", 120)
        .load()
        .writeStream.outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toVector))
        .sortBy(_._1)
    }
    val a1 = run(2, 7, "thrash_a1")
    val b1 = run(3, 5, "thrash_b1")
    val a2 = run(2, 7, "thrash_a2")
    assert(a1.sameElements(a2), "config A must replay identically after eviction by config B")
    val want = new graft.stencil.RightHandedSimplexStencil(3, 5)
      .stencilPoints.take(120).zipWithIndex
      .map { case (st, i) => (i + 1, st.halvings, st.offset.toVector) }.toArray
    assert(b1.sameElements(want), "config B rows must match the generator")
  }

  test("IntMoments merge law: every split of the input folds to the same state") {
    import graft.functions.IntMoments
    // The q_typed_agg gate only exercises whatever split Spark's partial
    // aggregation happens to pick; this pins the monoid law for ALL splits
    // (the associativity a broken UDAF merge violates first).
    val xs = Seq(3L, 7L, 0L, -2L, 11L, 5L)
    val whole = xs.foldLeft(IntMoments.zero)(IntMoments.reduce)
    for (i <- 0 to xs.size) {
      val (l, rr) = xs.splitAt(i)
      val merged = IntMoments.merge(
        l.foldLeft(IntMoments.zero)(IntMoments.reduce),
        rr.foldLeft(IntMoments.zero)(IntMoments.reduce))
      assert(merged == whole, s"split at $i diverged")
    }
    assert(IntMoments.finish(whole) == ((6L, 24L, 208L)))
  }
}
