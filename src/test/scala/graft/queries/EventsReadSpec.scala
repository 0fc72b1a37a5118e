package graft.queries

import graft.TempDirs.withTempDir
import org.apache.spark.sql.{DataFrame, SparkSession}
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

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-events-read-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
      val prevOut = spark.conf.get(outKey)
      try {
        spark.conf.set(outKey, "TIMESTAMP_MICROS")
        val microsDir = writeFixture(s"$root/micros") { df =>
          df.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        }
        // TIMESTAMP_NTZ columns write as INT64 micros with isAdjustedToUTC
        // = false — byte-compatible with the round-9 regenerated testdata.
        // (Written under the UTC session zone pinned by this spec's builder,
        // so the stored wall clock is the UTC rendering of each instant.)
        val ntzDir = writeFixture(s"$root/ntz") { df =>
          df.select(col("event_id"),
            timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
        }
        spark.conf.set(outKey, "TIMESTAMP_MILLIS")
        val millisDir = writeFixture(s"$root/millis") { df =>
          df.select(col("event_id"), timestamp_micros(col("us")).as("ts"))
        }
        assert(tusVia(microsDir) == instantsUs.sorted, "MICROS path")
        assert(tusVia(ntzDir) == instantsUs.sorted, "NTZ-encoded path")
        assert(tusVia(millisDir) == instantsUs.sorted, "MILLIS path")
      } finally spark.conf.set(outKey, prevOut)
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
      val tzKey = "spark.sql.session.timeZone"
      val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val prevTz = spark.conf.get(tzKey)
      try {
        spark.conf.set(ntzKey, "true")
        for (tz <- Seq("UTC", "America/New_York", "Asia/Kolkata")) {
          spark.conf.set(tzKey, tz)
          val df = spark.read.parquet(s"$ntzDir/events.parquet")
          assert(df.schema("ts").dataType == TimestampNTZType, s"fixture not NTZ under $tz")
          val tus = Events.normalizeTs(df).select("tus").collect().map(_.getLong(0)).toSeq.sorted
          assert(tus == instantsUs.sorted, s"NTZ branch under session tz $tz: $tus")
        }
      } finally {
        spark.conf.set(tzKey, prevTz)
        spark.conf.set(ntzKey, "false")
      }
    }
  }

  test("normalizeTs rejects an unsupported ts type loudly") {
    import spark.implicits._
    val bad = Seq(("x", 1)).toDF("ts", "event_id")
    val e = intercept[IllegalStateException](Events.normalizeTs(bad))
    assert(e.getMessage.contains("unsupported"))
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
