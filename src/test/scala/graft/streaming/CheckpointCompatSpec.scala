package graft.streaming

import graft.TempDirs.withTempDir
import graft.TestSession.spark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint compatibility across a query-shape-preserving code change
  * (the q_checkpoint_restart contract), pinned on a synthetic corpus small
  * enough to reason about by hand — WITH the negative control the gated
  * row cannot afford: a restart that LOSES its checkpoint must visibly
  * under-count, proving the positive assertion actually detects state
  * loss rather than passing vacuously.
  */
class CheckpointCompatSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("user_id", LongType), StructField("cents", LongType)))

  private def stage(in: java.io.File, name: String, position: Int,
      rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    graft.sources.FileSources.stageFiles(rows.toDF("user_id", "cents"),
      in.getParent, in.getPath, name, position)
  }

  private def runPhase(in: java.io.File, chk: String, name: String)(
      spelling: DataFrame => DataFrame): Map[Long, (Long, Long)] = {
    val src = spark.readStream.schema(schema).parquet(in.toString)
    val q = spelling(src).writeStream
      .outputMode("complete").format("memory").queryName(name)
      .option("checkpointLocation", chk).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
  }

  test("re-spelled restart carries state; a fresh checkpoint visibly loses it") {
    spark.sparkContext.setLogLevel("WARN")
    withTempDir("graft-ckpt-compat") { work =>
      val in = new java.io.File(work, "in")
      val chk = s"$work/chk"

      stage(in, "half_a", 0, Seq((1L, 10L), (1L, 20L), (2L, 5L)))
      val a = runPhase(in, chk, "ckpt_compat_a") { src =>
        src.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      }
      assert(a == Map(1L -> ((2L, 30L)), 2L -> ((1L, 5L))))

      stage(in, "half_b", 1, Seq((1L, 100L), (3L, 7L)))
      // the query-shape-preserving re-spelling: pruned projection + expr route
      val b = runPhase(in, chk, "ckpt_compat_b") { src =>
        src.select(col("user_id"), col("cents"))
          .groupBy("user_id")
          .agg(expr("count(1)").as("n"), expr("sum(cents)").as("cents"))
      }
      assert(b == Map(1L -> ((3L, 130L)), 2L -> ((1L, 5L)), 3L -> ((1L, 7L))),
        "restart from the checkpoint must resume from restored state")

      // negative control: same re-spelled query, FRESH checkpoint — the file
      // source re-reads everything, so counts match only because the input
      // is still on disk; delete half_a first to model real state loss.
      assert(new java.io.File(in, "half_a.parquet").delete())
      val lost = runPhase(in, s"$work/chk_fresh", "ckpt_compat_lost") { src =>
        src.select(col("user_id"), col("cents"))
          .groupBy("user_id")
          .agg(expr("count(1)").as("n"), expr("sum(cents)").as("cents"))
      }
      assert(lost == Map(1L -> ((1L, 100L)), 3L -> ((1L, 7L))),
        "a lost checkpoint must visibly under-count — otherwise the positive " +
          "assertion above proves nothing")
    }
  }

  /** The q_tws_restart contract's negative control: same dance over the
    * transformWithState ValueState processor (RocksDB store), with the
    * emissions landing via batchId-idempotent foreachBatch parquet (the
    * memory sink refuses to recover a non-complete query). A fresh
    * checkpoint after real input loss must visibly under-count the
    * both-halves key.
    */
  private def runTwsPhase(in: java.io.File, chk: String, emit: String): Map[Long, (Long, Long)] = {
    import spark.implicits._
    graft.queries.Confs.withConfs(spark, "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val src = spark.readStream.schema(schema).parquet(in.toString)
        .select(col("user_id"), col("cents")).as[(Long, Long)]
      val q = src.groupByKey(_._1)
        .transformWithState(new graft.streaming.RunningTotals,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("user_id", "n", "cents")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          batch.withColumn("batch", lit(batchId))
            .write.partitionBy("batch")
            .mode(org.apache.spark.sql.SaveMode.Overwrite)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(emit)
          ()
        }
        .outputMode("update")
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // per-key max(n): n strictly increases across a key's emissions
    spark.read.parquet(emit).groupBy(col("user_id"))
      .agg(max(struct(col("n"), col("cents"))).as("m"))
      .collect().map(r => r.getLong(0) ->
        ((r.getStruct(1).getLong(0), r.getStruct(1).getLong(1)))).toMap
  }

  test("transformWithState restart carries ValueState; a fresh checkpoint visibly loses it") {
    spark.sparkContext.setLogLevel("WARN")
    withTempDir("graft-tws-compat") { work =>
      val in = new java.io.File(work, "in")

      stage(in, "half_a", 0, Seq((1L, 10L), (1L, 20L), (2L, 5L)))
      val a = runTwsPhase(in, s"$work/chk", s"$work/emit")
      assert(a == Map(1L -> ((2L, 30L)), 2L -> ((1L, 5L))))

      stage(in, "half_b", 1, Seq((1L, 100L), (3L, 7L)))
      val b = runTwsPhase(in, s"$work/chk", s"$work/emit")
      assert(b == Map(1L -> ((3L, 130L)), 2L -> ((1L, 5L)), 3L -> ((1L, 7L))),
        "restart from the checkpoint must resume from restored RocksDB ValueState")

      // negative control: fresh checkpoint + real input loss
      assert(new java.io.File(in, "half_a.parquet").delete())
      val lost = runTwsPhase(in, s"$work/chk_fresh", s"$work/emit_fresh")
      assert(lost == Map(1L -> ((1L, 100L)), 3L -> ((1L, 7L))),
        "a lost checkpoint must visibly under-count — otherwise the positive " +
          "assertion above proves nothing")
    }
  }
}
