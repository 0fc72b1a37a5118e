package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, posexplode}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** The shared run protocol ([[Bench.execute]]) and the one profiling main:
  * caches are dropped even after a failed execution, every run's record
  * holds only that run's listener events, a failing row is recorded rather
  * than ending the profile, and `--gen` refuses a K whose key shift would
  * overflow the 2³² key packing.
  */
class ProfileSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-profile-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def profileLines(
      rows: Seq[(String, (SparkSession, String) => DataFrame)], runs: Int): Seq[String] = {
    val lines = Seq.newBuilder[String]
    Profile.profile(spark, rows, runs, Seq(sf))(lines += _)
    lines.result()
  }

  /** (query, run index, run record) for every run of every line. */
  private def runsOf(lines: Seq[String]): Seq[(String, Int, Row)] =
    spark.read.json(spark.createDataset(lines)(Encoders.STRING))
      .select(col("query"), posexplode(col("runs")))
      .collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getStruct(2)))

  test("a failing execution still drops every cache") {
    val fn: (SparkSession, String) => DataFrame = (s, _) => {
      s.range(100).toDF("id").persist().count()
      s.sparkContext.parallelize(1 to 100).persist().count()
      throw new IllegalStateException("row failed after persisting")
    }
    val e = Bench.execute(spark, sf, fn)
    assert(!e.ok)
    assert(e.failure.exists(_.isInstanceOf[IllegalStateException]))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("each run records only its own jobs, stages, tasks and micro-batches") {
    val lines = profileLines(
      Seq("q_triangles", "q_sessionize_stream").map(q => q -> SparkEntry.queries(q)), runs = 2)
    assert(lines.size == 2)
    val runs = runsOf(lines)
    assert(runs.map(r => (r._1, r._2)).toSet ==
      Set(("q_triangles", 0), ("q_triangles", 1), ("q_sessionize_stream", 0), ("q_sessionize_stream", 1)))
    for ((q, i, run) <- runs) {
      val tasks = run.getAs[Long]("tasks")
      val table = run.getAs[scala.collection.Seq[Row]]("stage_table")
      assert(run.getAs[Boolean]("ok"), s"$q run $i")
      assert(tasks > 0, s"$q run $i")
      assert(tasks == table.map(_.getAs[Long]("tasks")).sum, s"$q run $i")
      assert(run.getAs[Long]("stages") == table.size, s"$q run $i")
    }
    // No warm-up event leaks into run 0: both runs see the same plan work.
    for ((q, rs) <- runs.groupBy(_._1)) {
      val counts = rs.map { case (_, _, r) => (r.getAs[Long]("stages"), r.getAs[Long]("tasks")) }
      assert(counts.distinct.size == 1, s"$q: $counts")
    }
    for ((_, i, run) <- runs.filter(_._1 == "q_sessionize_stream")) {
      assert(run.getAs[Long]("batches") > 0, s"run $i")
      val sums = run.getAs[Row]("duration_ms")
      val present = (0 until sums.length).filterNot(sums.isNullAt)
      assert(present.nonEmpty, s"run $i")
      assert(sums.getAs[Long]("triggerExecution") > 0, s"run $i")
    }
  }

  test("a failing row is recorded as ok:false and the profile goes on") {
    val lines = profileLines(Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "tiny" -> ((s, _) => s.range(5).toDF())), runs = 1)
    assert(lines.size == 2)
    val byQuery = runsOf(lines).map { case (q, _, r) => q -> r }.toMap
    assert(!byQuery("boom").getAs[Boolean]("ok"))
    assert(byQuery("tiny").getAs[Boolean]("ok"))
    assert(lines.head.contains("\"times\":[]"))
  }

  test("--gen refuses K = 43 before writing anything") {
    val out = Files.createTempDirectory("graft-profile-gen").resolve("out")
    for (k <- Seq("43", "0"))
      intercept[IllegalArgumentException](Profile.main(Array("--gen", sf, out.toString, k)))
    assert(!Files.exists(out))
  }
}
