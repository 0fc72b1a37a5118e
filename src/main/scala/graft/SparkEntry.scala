package graft

import graft.queries.ReferenceOps
import graft.search.{Objective, Search, SearchOptions}
import graft.spark.{Provenance, SparkClient}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * `queries`/`oracleSql` are aggregated from the per-module registries in
  * graft.queries; every SQL-expressible operator analog carries a DuckDB
  * oracle with matching column names and deterministic values.
  */
object SparkEntry {

  /** Flagship: a full asynchronous pattern-search minimize running its
    * evaluation waves as Spark jobs (SparkClient), seeded for determinism,
    * with the starting point derived from the sf0.001 testdata. Returns the
    * evaluations/provenance table (driver smoke-checks rows > 0).
    */
  def entry(spark: SparkSession): DataFrame = {
    // The driver contract fixes the signature to (SparkSession) only, so the
    // scale factor arrives via the same env var Bench uses (default: the
    // contract's sf0.001) instead of a hard-coded path.
    entryAt(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
  }

  /** [[entry]] with an explicit scale-factor directory — the form Bench
    * times (`q_search_e2e`), so end-to-end minimize waves on SparkClient
    * have a tracked wall-clock number round over round.
    */
  def entryAt(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val Array(q, d) = li
      .agg(avg(col("l_quantity")), avg(col("l_discount")) * 100.0)
      .collect()(0) match {
      case r => Array(r.getDouble(0), r.getDouble(1))
    }
    val client = new SparkClient(spark)
    try {
      val res = Search.minimize(
        Objective(x => x.map(v => v * v).sum),
        x0 = Array(q, d),
        stepsize = Array(1.0, 1.0),
        client = client,
        SearchOptions(stopratio = 1e-2, batchsize = Some(6), seed = Some(42)))
      Provenance.toDF(spark, res)
    } finally client.shutdown()
  }

  private def registry: Map[String, graft.queries.QueryDef] =
    ReferenceOps.defs ++ graft.queries.Dedup.defs ++ graft.queries.TextOps.defs ++
      graft.queries.Similarity.defs ++ graft.queries.Events.defs ++
      graft.queries.Multimodal.defs ++ graft.queries.AnnIvf.defs ++
      graft.queries.AnnIngest.defs ++
      graft.queries.Sources.defs ++ graft.queries.Relational.defs ++
      graft.queries.Pipeline.defs ++ graft.queries.Graph.defs ++
      graft.queries.SqlSurface.defs

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (k, q) => k -> q.fn }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map { case (k, q) => k -> q.oracle }
}
