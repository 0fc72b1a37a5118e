package graft.queries

import graft.TempDirs.withTempDir
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** StreamRun teardown: a run whose `foreachBatch` body throws on batch 1
  * surfaces that failure to the caller, leaves no active streaming query,
  * and restores every conf it scoped — prior values back, unset keys unset
  * — under both wait modes (the trigger decides which one runs).
  */
class StreamRunSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streamrun-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Width = "spark.sql.shuffle.partitions"
  private val Provider = "spark.sql.streaming.stateStore.providerClass"
  private val NoData = "spark.sql.streaming.noDataMicroBatches.enabled"
  // every key a run with all scopes on pins
  private val scoped = Seq(Width, Provider, NoData)

  private def explicitConfs: Map[String, Option[String]] = {
    val all = spark.conf.getAll
    scoped.map(k => k -> all.get(k)).toMap
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  for ((wait, trigger) <- Seq(
      "processAllAvailable" -> Trigger.ProcessingTime(0L),
      "awaitTermination" -> Trigger.AvailableNow()))
    test(s"a foreachBatch failure on batch 1 propagates, stops the query and " +
        s"restores every scoped conf ($wait)") {
      spark.sparkContext.setLogLevel("WARN")
      val saved = explicitConfs
      withTempDir("graft-stream-run") { work =>
        try {
          // two single-file inputs: maxFilesPerTrigger=1 makes them batches 0 and 1
          import spark.implicits._
          val in = s"$work/in"
          graft.sources.FileSources.stageFiles(Seq(1L, 2L).toDF("x"), work, in, "b0",
            1600000000000L)
          graft.sources.FileSources.stageFiles(Seq(3L).toDF("x"), work, in, "b1", 1600000060000L)
          // prior state: one key set to a non-run value, two keys unset
          spark.conf.set(Width, "3")
          Seq(Provider, NoData).foreach(spark.conf.unset)
          val before = explicitConfs
          var batch0Width: String = null
          val err = intercept[Exception] {
            StreamRun(width = Some(2), rocksDb = true, noDataBatches = false,
                trigger = trigger).run(spark) {
              spark.readStream.schema("x LONG").option("maxFilesPerTrigger", "1")
                .parquet(in)
            }(_.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
              if (batchId == 1) throw new IllegalStateException("boom on batch 1")
              batch0Width = batch.sparkSession.conf.get(Width)
            }.option("checkpointLocation", s"$work/chk"))
          }
          assert(batch0Width == "2", "batch 0 must run under the run's state width")
          assert(causes(err).exists(c => Option(c.getMessage).exists(_.contains("boom on batch 1"))),
            s"the batch-1 failure must reach the caller, got $err")
          assert(spark.streams.active.isEmpty, "the failed run left a streaming query active")
          assert(explicitConfs == before, s"scoped confs not restored: $before -> $explicitConfs")
          assert(before(Width).contains("3") && before(Provider).isEmpty)
        } finally saved.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
      }
    }
}
