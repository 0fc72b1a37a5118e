package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-ordered (Morton-clustered) parquet layout as a reusable SOURCE
  * (VERDICT r10 #7): the OPTIMIZE-ZORDER-BY → zone-map → pruned-scan loop
  * that `q_zorder_prune` used to inline, extracted so every layout-aware
  * consumer (the prune row, the layout-aware join, future range scans)
  * shares one clustered copy and one planning path.
  *
  * The pieces, in the order a lakehouse planner runs them:
  *
  *  1. [[cluster]] — quantize two columns to 8 bits each against corpus
  *     min/max, interleave into a 16-bit Morton code, and physically
  *     rewrite the table partitioned by the 256-value top byte
  *     (write-once, fingerprint-cached via [[FileSources.cacheDir]]). At
  *     100 TB this is the `OPTIMIZE ZORDER BY` maintenance job; here it is
  *     that job's exact layout at test scale.
  *  2. [[zoneMap]] — per-bucket min/max of a column: a 256-row driver
  *     collect, which IS the planning step (an Iceberg/Delta planner
  *     consults manifests the same way — zone metadata is planner-sized
  *     by construction, never data-sized).
  *  3. [[prunedScan]] — the data path: scan ONLY the buckets whose zone
  *     interval intersects the predicate, visible as `PartitionFilters`
  *     in the physical plan. Because the Morton curve preserves locality
  *     in BOTH columns, a predicate on either one prunes most buckets —
  *     the property a single-column sort only gives one column.
  *
  * Correctness of the skipping (not just its speed) stays oracle-gated:
  * consumers answer the same predicate the flat table answers, so a
  * pruning bug that drops rows goes red in the gate.
  */
object ZonedParquet {

  /** A clustered table handle: the bucket-partitioned scan plus the
    * quantization bounds the layout was built with (the planning state a
    * table format keeps in its metadata).
    */
  final case class Clustered(
      df: DataFrame,
      path: String,
      xCol: String,
      yCol: String,
      xMin: Long,
      xMax: Long,
      yMin: Long,
      yMax: Long)

  /** The 16-bit Morton interleave of two 8-bit quantiles, spelled with
    * `div`/`%`/`*` only — integer-exact, engine-portable (the DuckDB
    * oracles replay it with `//`), and compiled into one whole-stage
    * projection.
    */
  def mortonExpr(xq: String, yq: String, idiv: String = "div"): String =
    (0 until 8).map { k =>
      val p = 1L << k
      s"(($xq $idiv $p) % 2) * ${1L << (2 * k)} + (($yq $idiv $p) % 2) * ${1L << (2 * k + 1)}"
    }.mkString(" + ")

  /** Build (once per testdata fingerprint) the Morton-bucket-partitioned
    * copy of `table` clustered on (`xCol`, `yCol`), and return its handle.
    * The bounds collect is one row — planning state, not data movement.
    */
  def cluster(
      spark: SparkSession,
      dir: String,
      table: String,
      xCol: String,
      yCol: String): Clustered = {
    val src = spark.read.parquet(s"$dir/$table.parquet").select(col(xCol), col(yCol))
    val Array(b) = src.agg(
      min(col(xCol)).as("xmin"), max(col(xCol)).as("xmax"),
      min(col(yCol)).as("ymin"), max(col(yCol)).as("ymax")).collect()
    val (xmin, xmax, ymin, ymax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val out = FileSources.cacheDir("zorder", dir, s"$table.parquet")
    FileSources.writeOnce(out) { (o, _) =>
      src
        .withColumn("xq", expr(s"($xCol - $xmin) * 256 div ${xmax - xmin + 1}"))
        .withColumn("yq", expr(s"($yCol - $ymin) * 256 div ${ymax - ymin + 1}"))
        .withColumn("zbucket", expr(s"(${mortonExpr("xq", "yq")}) div 256"))
        .drop("xq", "yq")
        .repartition(col("zbucket"))
        .write.partitionBy("zbucket")
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(o)
    }
    Clustered(spark.read.option("basePath", out).parquet(out), out,
      xCol, yCol, xmin, xmax, ymin, ymax)
  }

  /** The planner consult: per-bucket (min, max) of `column` — at most 256
    * rows to the driver, the zone-map read every layout-aware query starts
    * with.
    */
  def zoneMap(z: Clustered, column: String): Array[(Int, Long, Long)] =
    z.df.groupBy(col("zbucket"))
      .agg(min(col(column)).as("mn"), max(col(column)).as("mx"))
      .collect()
      .map(r => (r.getAs[Int]("zbucket"), r.getAs[Long]("mn"), r.getAs[Long]("mx")))

  /** Data path for `column <= hi`: consult the zone map, keep only buckets
    * whose minimum clears the bound, and scan those partitions — static
    * partition pruning (`PartitionFilters` in the plan), with the residual
    * row predicate applied on top so the result is exact, not just
    * bucket-granular.
    */
  def prunedScan(z: Clustered, column: String, hi: Long): DataFrame = {
    val qualifying = zoneMap(z, column)
      .filter { case (_, mn, _) => mn <= hi }
      .map(_._1).toSeq
    z.df.filter(col("zbucket").isin(qualifying: _*) && col(column) <= hi)
  }
}
