package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** One bounded streaming run — the shape every streaming row shares: build
  * the frame, start it, wait for it to drain, stop it, all under ONE
  * [[Confs.withConfs]] scope, so nothing the run pins outlives it.
  *
  * The wait follows from the trigger: `AvailableNow` snapshots the input
  * at start, runs exactly that plan and self-terminates, so the run awaits
  * termination; any other trigger polls with `processAllAvailable`. The
  * query is stopped in a `finally`, and a failed query's exception
  * reaches the caller. Every field is fixed at its call site.
  *
  * @param mode output mode
  * @param width state width (`spark.sql.shuffle.partitions`): a stateful
  *   micro-batch commits one state store per partition, so the streaming
  *   rows pin a small constant instead of the session's batch width (the
  *   gate results are partition-independent by construction — fixed-point
  *   sums, per-key state — so it only moves cost). `None` keeps the
  *   session's width.
  * @param rocksDb run on the RocksDB state-store provider, which
  *   `transformWithState` requires; every other run keeps the default store
  * @param eventReads pin the events.parquet read confs
  *   ([[Events.eventReadConfs]]) while the frame is built and run
  * @param noDataBatches `false` skips the trailing no-data micro-batch —
  *   only for queries that emit nothing at watermark eviction
  * @param trigger the trigger; its kind decides the wait
  */
private[graft] final case class StreamRun(
    mode: String = "append",
    width: Option[Int] = Some(4),
    rocksDb: Boolean = false,
    eventReads: Boolean = false,
    noDataBatches: Boolean = true,
    trigger: Trigger = Trigger.ProcessingTime(0L)) {

  private def confs: Seq[(String, String)] =
    (if (eventReads) Events.eventReadConfs else Nil) ++
      width.map(n => "spark.sql.shuffle.partitions" -> n.toString) ++
      (if (rocksDb) Seq("spark.sql.streaming.stateStore.providerClass" -> StreamRun.RocksDb)
       else Nil) ++
      (if (noDataBatches) Nil
       else Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))

  /** Run `frame` to completion into the sink that `sink` configures. */
  def run(spark: SparkSession)(frame: => Dataset[_])(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    Confs.withConfs(spark, confs: _*) {
      val q = sink(frame.toDF().writeStream.outputMode(mode).trigger(trigger)).start()
      try if (trigger == Trigger.AvailableNow()) q.awaitTermination() else q.processAllAvailable()
      finally q.stop()
    }

  /** Run `frame` into the memory sink `name` and return the sink table. */
  def memory(spark: SparkSession, name: String)(frame: => Dataset[_]): DataFrame = {
    run(spark)(frame)(_.format("memory").queryName(name))
    spark.table(name)
  }
}

private[graft] object StreamRun {

  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The batchId-idempotent `foreachBatch` write — the production sink
    * idiom for targets without a streaming connector: `batch` lands in its
    * own `batch=<id>` directory under `path`, and Overwrite + dynamic
    * partition overwrite replaces ONLY that directory. A replayed batchId
    * overwrites itself instead of appending a duplicate (Append would),
    * and never erases earlier batches (static Overwrite would).
    */
  def writeBatch(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("batch", lit(batchId))
      .write
      .partitionBy("batch")
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
}
