package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a DataFrame program plus (when SQL-expressible) an
  * equivalent ANSI SQL string the driver runs in DuckDB over the same
  * parquet tables. Column names/types must line up exactly — the driver
  * sorts columns by name and hashes values (see the builder contract).
  *
  * The oracle is evaluated LAZILY: several oracles are VALUES literals
  * computed from deterministic in-process runs (stencil prefix, seeded
  * search), and a strict field would force that work at registry
  * construction — every Bench child JVM would pay for a full driver-side
  * search just to look up an unrelated query's function.
  *
  * `fn` registers graft's SQL functions ([[graft.GraftExtensions.register]])
  * before it runs the row body, so a body may call them by name in any
  * session and never sets the session up itself.
  */
final class QueryDef(
    body: (SparkSession, String) => DataFrame,
    oracleThunk: Option[() => String]) {
  val fn: (SparkSession, String) => DataFrame = { (spark, dir) =>
    graft.GraftExtensions.register(spark)
    body(spark, dir)
  }
  lazy val oracle: Option[String] = oracleThunk.map(_())
}

object QueryDef {
  def apply(oracle: => String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(fn, Some(() => oracle))
  def rowsOnly(fn: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(fn, None)
}

/** The in-row ordered-pair expansion shared by every bucket/basket family
  * (MinHash bands, SimHash bands, n-gram postings, LSH cells, co-purchase
  * and co-occurrence baskets): each row's sorted array column fans out to
  * its element pairs (i < j) WITHOUT a self-join — the expansion is
  * bounded by the bucket/basket size, never quadratic in the table.
  * Centralized (code-review r12: six hand-maintained copies) so the one
  * footgun lives in one place: `sequence(0, -1)` DESCENDS rather than
  * returning empty, so the size ≥ 2 guard here is load-bearing — an
  * unguarded transform indexes out of range on singleton rows.
  */
private[queries] object Pairs {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** The raw ordered-pair (i < j) expansion over a sorted array column,
    * with the pair combiner pluggable — callers must still guard
    * `size(arr) >= 2` before exploding (`sequence(0, -1)` DESCENDS).
    * [[ordered]] combines into a two-field struct.
    */
  def orderedExpr(arr: Column, combine: (Column, Column) => Column): Column =
    flatten(transform(sequence(lit(0), size(arr) - 2), i =>
      transform(sequence(i + 1, size(arr) - 1), j =>
        combine(element_at(arr, i + 1), element_at(arr, j + 1)))))

  /** Rows of (aName, bName) pairs, one per ordered element pair of `arr`;
    * other columns are dropped (every call site keeps only the pair).
    */
  def ordered(df: DataFrame, arr: String, aName: String, bName: String): DataFrame = {
    val a = org.apache.spark.sql.functions.col(arr)
    val pairsExpr = orderedExpr(a, (x, y) => struct(x.as(aName), y.as(bName)))
    df.filter(size(a) >= 2)
      .select(explode(pairsExpr).as("p"))
      .select(col(s"p.$aName").as(aName), col(s"p.$bName").as(bName))
  }
}

/** Occupancy guards for row-amplifying operators (optimization r16;
  * guide §2.2/§2.5/§6). Two measured failure shapes at the bench SFs:
  *
  *   1. Every test table is ONE parquet row group, so a scan is one task
  *      regardless of split math (splits are byte ranges; only the range
  *      containing the row group does work). A shingle/gram expansion
  *      sitting directly on such a scan runs single-threaded — the
  *      stage table of graft.tools.Profile shows q_dup_ngrams holding
  *      0.66 s one-task stages while 31 cores idled. [[Widen.scan]] round-robins the scan
  *      output across the default parallelism ONLY when the scan PLANS
  *      fewer partitions than the session has cores (code-review r16:
  *      planned splits, not file count — 8 big multi-row-group files
  *      already scan wide and must not be reshuffled; 40 tiny files
  *      bin-pack into few splits and must be): at warehouse scale a
  *      corpus scan plans thousands of splits and the guard is the
  *      identity, so no corpus-wide shuffle is ever added where the scan
  *      already parallelizes (the guide's §2.5 unsplittable-input rule).
  *
  *   2. AQE's byte-based partition coalescing packs the exchange feeding
  *      an expansion into a few partitions (the adjacency lists and
  *      baskets are small BYTES but explode 35x in ROWS — Profile's stage
  *      table measured q_triangles' former wedge stage as 12 skewed tasks holding
  *      20.3 s of work, effective parallelism ~8 of 32). [[Widen.byKey]]
  *      spells that exchange as an explicit repartition at the CONFIGURED
  *      shuffle width — the width the groupBy exchange would have had
  *      anyway, so no extra shuffle is added; it only pins the width
  *      against coalescing, which is exactly wrong before a
  *      row-amplifying operator whose cost AQE cannot see.
  */
private[queries] object Widen {
  import org.apache.spark.sql.Column

  /** Round-robin a scan across the cores iff it PLANS under-split. The
    * `rdd.getNumPartitions` probe costs one driver-side physical
    * planning of the scan (no job runs); splits still overstate
    * effective parallelism for single-row-group files (only the split
    * containing the row group does work), which errs toward widening —
    * the direction this guard exists for.
    *
    * SCAN-ONLY CONTRACT, enforced (ADVICE r16 #3): under AQE, `.rdd` on a
    * plan containing exchanges eagerly materializes shuffle stages — a
    * derived frame passed here would silently run its jobs twice. The
    * require rejects any frame whose analyzed plan carries a shuffle-
    * introducing operator, so the probe stays a pure planning pass.
    */
  def scan(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    require(!df.queryExecution.analyzed.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort |
          _: RepartitionOperation | _: Distinct | _: Deduplicate => true
      case _ => false
    }, "Widen.scan requires a bare scan frame (projections/filters over " +
      "a file relation); a derived frame would execute its exchanges " +
      "inside the .rdd planning probe")
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** The session's configured exchange width (pre-AQE-coalesce). */
  def width(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Hash-repartition by the coming groupBy's key at the configured
    * width: replaces (not adds to) the aggregate's exchange, pinned
    * against AQE coalescing.
    */
  def byKey(df: DataFrame, key: Column): DataFrame =
    df.repartition(width(df.sparkSession), key)
}
