package graft.queries

import graft.TempDirs.withTempDir
import graft.TestSession.spark
import org.scalatest.funsuite.AnyFunSuite

/** Restart-recovery pin for q_search_stream (VERDICT r12 #6): the streaming
  * search program's only state is the committed offset cursor, and the
  * stencil generator replays any range bit-for-bit — so a run stopped after
  * N points and RESTARTED against the same checkpoint with a larger
  * maxPoints must resume at N+1, never re-emit, never skip, and agree with
  * the golden stencil prefix on every evaluation.
  */
class SearchStreamSpec extends AnyFunSuite {

  private def readEvals(out: String): Map[Int, (Double, Double, Double)] =
    spark.read.parquet(s"$out/data")
      .select("idx", "x", "y", "cost")
      .collect()
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap

  test("stop after 200 points, restart to 500: exactly-once, golden-prefix-exact") {
    spark.sparkContext.setLogLevel("WARN")
    withTempDir("graft-search-stream") { out =>

      ReferenceOps.runSearchStream(spark, out, 200)
      val first = readEvals(out)
      assert(first.keySet == (1 to 200).toSet,
        s"first run must emit idx 1..200 exactly once, got ${first.size} keys")

      ReferenceOps.runSearchStream(spark, out, 500)
      val all = readEvals(out)
      // the parquet map would have collapsed a re-emitted duplicate silently;
      // a RAW row count catches it
      val rawCount = spark.read.parquet(s"$out/data").count()
      assert(rawCount == 500L, s"sink must hold exactly 500 rows, got $rawCount")
      assert(all.keySet == (1 to 500).toSet, "restart must resume at 201, not replay or skip")
      first.foreach { case (i, v) =>
        assert(all(i) == v, s"restart mutated already-committed idx $i")
      }

      // every evaluation equals the golden stencil prefix shifted to the
      // (10, 15) start, with the sphere cost — exact IEEE equality
      val prefix = graft.SparkEntry.queries("q_stencil_prefix")(spark, "")
        .collect()
        .map(r => r.getInt(r.fieldIndex("idx")) ->
          ((10.0 + r.getDouble(r.fieldIndex("x")), 15.0 + r.getDouble(r.fieldIndex("y")))))
        .toMap
      all.foreach { case (i, (x, y, cost)) =>
        assert(prefix(i) == ((x, y)), s"idx $i point drifted from the golden prefix")
        assert(cost == Array(x, y).map(v => v * v).sum, s"idx $i cost is not the sphere objective")
      }
    }
  }

  test("every stream wave is evaluated executor-side, in one task") {
    // A stencil stream at a raised pointsPerBatch feeds SparkClient waves
    // whose objective RETURNS its task's partition id; the distinct ids that
    // come back are the evaluation partitions that actually EXECUTED
    // executor-side (a TaskContext only exists inside a running task). A
    // wave is one RDD element, so every wave, 64 points or fewer, comes back
    // from partition 0 alone: occupancy comes from waves in flight, not
    // from fan-out inside a wave.
    spark.sparkContext.setLogLevel("WARN")
    val client = new graft.spark.SparkClient(spark)
    val waves = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Int], Int)]
    withTempDir("graft-occupancy-chk") { chk =>
      try {
        val objective = graft.search.Objective { _ =>
          org.apache.spark.TaskContext.get() match {
            case null => -1.0 // would mean driver-side evaluation — the failure this spec exists to catch
            case tc   => tc.partitionId().toDouble
          }
        }
        val q = spark.readStream.format("graft.sources.StencilSource")
          .option("dims", 2).option("maxHalvings", 7)
          .option("pointsPerBatch", 64).option("maxPoints", 128)
          .load()
          .selectExpr("idx", "offset[0] AS ox", "offset[1] AS oy")
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            val rows = batch.collect()
            if (rows.nonEmpty) {
              val pts: IndexedSeq[Array[Double]] = rows.toIndexedSeq
                .map(r => Array(r.getDouble(1), r.getDouble(2)))
              val id = client.submit(objective, pts)
              var costs: Array[Double] = null
              while (costs == null)
                client.nextBatch(block = true).foreach {
                  case (rid, cs) => if (rid == id) costs = cs
                }
              waves.synchronized {
                waves += ((batchId, costs.map(_.toInt).toSet, pts.length)): Unit
              }
            }
            ()
          }
          .option("checkpointLocation", chk)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      } finally client.shutdown()
    }
    assert(waves.exists(_._3 == 64), s"no full 64-point wave ran (waves: $waves)")
    waves.foreach { case (bid, parts, n) =>
      assert(!parts.contains(-1), s"wave $bid evaluated driver-side, not in tasks")
      assert(parts == Set(0), s"wave $bid ($n points) executed partitions $parts, expected only 0")
    }
  }
}
