package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `rows_heavy`: analytics rows executed through `SparkEntry.queries`, one at
  * a time, with caches dropped between executions. The inputs are the fixed
  * testdata tables shipped with the benchmark; the seed only permutes the
  * row order.
  */
final class RowsWorkload(spark: SparkSession, dataDir: String, outDir: String) {
  private val queries = SparkEntry.queries
  /** First successful result of each row, kept for the oracle comparison. */
  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** Executes one row; timings cover the `QueryDef` call (build), forcing
    * the physical plan (plan) and collecting the result (exec).
    */
  def run(name: String, traced: Boolean): Map[String, Any] = {
    val ((df, rows, tm), probe) = Trace.around(spark, traced) {
      val t0 = System.nanoTime()
      val df: DataFrame = queries(name)(spark, dataDir)
      val t1 = System.nanoTime()
      df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val rows = df.collect()
      val t3 = System.nanoTime()
      (df, rows, Array(t0, t1, t2, t3))
    }
    dropAllCaches()
    firstResult.getOrElseUpdate(name, (df.schema, rows))
    Map(
      "traced" -> traced, "ok" -> true, "row" -> name,
      "wall_s" -> (tm(3) - tm(0)) / 1e9,
      "build_ms" -> (tm(1) - tm(0)) / 1e6,
      "plan_ms" -> (tm(2) - tm(1)) / 1e6,
      "exec_ms" -> (tm(3) - tm(2)) / 1e6,
      "digest" -> digest(rows)) ++ probe
  }

  private def dropAllCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Order-insensitive digest, so repeated executions can be compared. */
  private def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Writes each row's first result as parquet plus its oracle SQL, for the
    * DuckDB comparison `run.py` makes after the timed region.
    */
  def writeResults(): Unit = {
    firstResult.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/results/$name")
    }
    val all = SparkEntry.oracleSql
    val oracles = firstResult.keys.flatMap(n => all.get(n).map(n -> _)).toMap
    Files.writeString(Paths.get(s"$outDir/results/oracle_sql.json"), Json(oracles))
  }
}
