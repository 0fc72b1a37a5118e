package graft.queries

import graft.TempDirs.withTempDir
import graft.TestSession.spark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary for the events read path (VERDICT r9 #2): the
  * driver's generator has shipped `ts` as parquet TIMESTAMP(NANOS) and as
  * TIMESTAMP(MICROS) across rounds, and the physical unit must stay a
  * generator detail. This spec writes the same logical instants under every
  * encoding Spark can produce — TIMESTAMP_MICROS (instant), TIMESTAMP_NTZ
  * (isAdjustedToUTC=false, the round-9 regeneration's shape),
  * TIMESTAMP_MILLIS — plus the nanos-as-long frame shape, and asserts
  * `Events.readEvents`/`normalizeTs` yields the identical canonical `tus`
  * for all of them. When the testdata regenerates with a new unit, THIS
  * test is the one that goes red, not 11 gate rows.
  */
class EventsReadSpec extends AnyFunSuite {

  // Milli-aligned instants so the MILLIS encoding is lossless too; one sits
  // inside a US DST transition day to catch any zone-shift bug.
  private val instantsUs: Seq[Long] = Seq(
    1704067200000000L, // 2024-01-01T00:00:00Z
    1710054000123000L, // 2024-03-10T07:00:00.123Z (US DST spring-forward day)
    1735689599999000L) // 2024-12-31T23:59:59.999Z

  private def writeFixture(dir: String)(build: DataFrame => DataFrame): String = {
    import spark.implicits._
    val base = instantsUs.zipWithIndex.toDF("us", "event_id")
    build(base).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def tusVia(dir: String): Seq[Long] =
    Events.readEvents(spark, dir).select("tus").collect().map(_.getLong(0)).toSeq.sorted

  test("readEvents yields identical micros tus for MICROS, NTZ, and MILLIS ts") {
    spark.sparkContext.setLogLevel("WARN")
    withTempDir("graft-evread") { root =>
      val outKey = "spark.sql.parquet.outputTimestampType"
      val (microsDir, ntzDir) = Confs.withConfs(spark, outKey -> "TIMESTAMP_MICROS") {
        // TIMESTAMP_NTZ columns write as INT64 micros with isAdjustedToUTC
        // = false — byte-compatible with the round-9 regenerated testdata.
        // (Written under the UTC session zone the test session pins, so
        // the stored wall clock is the UTC rendering of each instant.)
        (writeFixture(s"$root/micros") { df =>
          df.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        }, writeFixture(s"$root/ntz") { df =>
          df.select(col("event_id"),
            timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
        })
      }
      val millisDir = Confs.withConfs(spark, outKey -> "TIMESTAMP_MILLIS") {
        writeFixture(s"$root/millis") { df =>
          df.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        }
      }
      assert(tusVia(microsDir) == instantsUs.sorted, "MICROS path")
      assert(tusVia(ntzDir) == instantsUs.sorted, "NTZ-encoded path")
      assert(tusVia(millisDir) == instantsUs.sorted, "MILLIS path")
    }
  }

  test("normalizeTs handles the nanos-as-long frame shape") {
    import spark.implicits._
    val nanos = instantsUs.map(_ * 1000L).zipWithIndex.toDF("ts", "event_id")
    val tus = Events.normalizeTs(nanos).select("tus").collect().map(_.getLong(0)).toSeq.sorted
    assert(tus == instantsUs.sorted, s"nanos-long path: $tus")
  }

  test("normalizeTs NTZ branch is independent of the session timezone") {
    withTempDir("graft-evread-ntz-tz") { dir =>
      val ntzDir = writeFixture(dir) { df =>
        df.select(col("event_id"),
          timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
      }
      for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata"))
        Confs.withConfs(spark, "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
            "spark.sql.session.timeZone" -> tz) {
          val df = spark.read.parquet(s"$ntzDir/events.parquet")
          assert(df.schema("ts").dataType == TimestampNTZType, s"fixture not NTZ under $tz")
          val tus = Events.normalizeTs(df).select("tus").collect().map(_.getLong(0)).toSeq.sorted
          assert(tus == instantsUs.sorted, s"NTZ branch under session tz $tz: $tus")
        }
    }
  }

  test("normalizeTs rejects an unsupported ts type loudly") {
    import spark.implicits._
    val bad = Seq(("x", 1)).toDF("ts", "event_id")
    val e = intercept[IllegalStateException](Events.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported"))
  }

  // The event-read confs are pinned only where a session is built. A
  // session that leaves them unset (NTZ inference on, no nanosAsLong) reads
  // the MICROS testdata as TIMESTAMP_NTZ, which normalizeTs maps to the same
  // `tus`; the rows must agree and no row may set either key. None of the
  // four rows is served from an on-disk cache.
  test("event rows in a session without the event-read pins match the pinned session") {
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.parquet.inferTimestampNTZ.enabled")
    val bare = spark.newSession()
    keys.foreach(bare.conf.unset)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    for (name <- Seq("q_window_sessions", "q_stream_windows", "q_sessionize_stream",
        "q_funnel_tws")) {
      val row = graft.SparkEntry.queries(name)
      val pinned = rows(row(spark, dir))
      assert(pinned.nonEmpty, name)
      assert(rows(row(bare, dir)) == pinned, s"$name differs without the pins")
      assert(keys.forall(k => !bare.conf.getAll.contains(k)), s"$name set an event-read conf")
    }
  }

  // ADVICE r11: the day/hour bucketing rows use `tus div N` (truncating)
  // against a DuckDB `//` (flooring) oracle — identical iff tus ≥ 0. The
  // precondition is documented at normalizeTs; this canary makes a
  // generator change that emits pre-1970 timestamps fail HERE by name
  // instead of flapping the hash gate on six bucketing rows.
  test("testdata events carry no pre-1970 timestamps (non-negative tus)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").exists())
    val minTus = Events.readEvents(spark, dir)
      .agg(min(col("tus"))).collect()(0).getLong(0)
    assert(minTus >= 0L,
      s"events.tus min is $minTus < 0: the truncating-vs-flooring day " +
        "bucket divergence documented at Events.normalizeTs is now live")
  }
}
