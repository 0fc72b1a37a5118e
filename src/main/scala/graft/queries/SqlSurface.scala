package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spark-4 SQL-surface rows: engine capabilities a reference user gets for
  * free by running their SQL on this engine — recursive CTEs (UnionLoop),
  * correlated LATERAL subqueries, collated comparison, DECIMAL(38,0)
  * exact wide arithmetic, and the `_metadata` hidden file columns. Each
  * row exercises the feature against data it cannot fake: the DuckDB
  * oracle states the same semantics in portable SQL (or, for the
  * same-string rows, runs the identical statement).
  */
object SqlSurface {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Run `stmt` against temp views for `names`, dropping the views after
    * the eager analysis so the shared session's catalog never serves a
    * stale dir (the q_sql_api discipline, Relational.scala).
    */
  private def viaSql(spark: SparkSession, dir: String, names: Seq[String],
      stmt: String, args: Map[String, Any] = Map.empty,
      setup: Seq[String] = Nil, dropFunctions: Seq[String] = Nil,
      dropVariables: Seq[String] = Nil): DataFrame = {
    names.foreach { n =>
      spark.read.parquet(t(dir, n)).createOrReplaceTempView(n)
    }
    setup.foreach(spark.sql(_))
    val df = if (args.isEmpty) spark.sql(stmt) else spark.sql(stmt, args)
    // eager analysis has resolved every reference — drop functions first
    // (their bodies reference the views), then session variables (their
    // VALUES are already bound into the analyzed plan), then the
    // dir-bound views
    dropFunctions.foreach(f => spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS $f"))
    dropVariables.foreach(v => spark.sql(s"DROP TEMPORARY VARIABLE IF EXISTS $v"))
    names.foreach(spark.catalog.dropTempView)
    df
  }

  /** Recursive CTE (`WITH RECURSIVE`, Spark 4's UnionLoop operator): a
    * monthly calendar spine generated by linear recursion from
    * min(o_orderdate) to max(o_orderdate), left-joined to per-month order
    * rollups so silent months surface as explicit zero rows — the
    * gap-filling spine `q_gap_fill` builds with `sequence()`, here built
    * by the engine's recursion machinery instead (the form that also
    * covers recursions `sequence()` cannot express: graph closures,
    * bill-of-materials walks). Same-string oracle: DuckDB runs the
    * identical statement, including the scalar-subquery recursion bound.
    *
    * Scale shape: the recursive member is a one-row-per-step linear loop —
    * ~80 iterations of driver-side planning over a single-row frame, i.e.
    * planner cost, not data cost (depth is bounded by
    * `spark.sql.cteRecursionLevelLimit`, default 100 ≥ the ~80-month TPC-H
    * date span at every SF — the spine depth is DATE-RANGE-bound, not
    * row-count-bound, so a 100 TB orders table recurses exactly as deep).
    * The data-sized work is the per-month rollup: one map-side-combinable
    * aggregate over orders into a ~80-key space, then a broadcast-sized
    * join of spine to rollup. The recursion BOUNDS are computed ONCE as a
    * two-value driver aggregate and inlined as literals (the pagerank
    * graph-size pattern): the first cut bounded the loop with a scalar
    * subquery over orders, and UnionLoop re-evaluated it EVERY iteration —
    * ~80 full orders scans, 10.3 s at sf0.1 against ~1 s with literals.
    * The DuckDB oracle keeps the self-contained subquery form (its
    * materialized scalar costs one evaluation there).
    */
  val recursiveCte: QueryDef = QueryDef(
    """WITH RECURSIVE months(m) AS (
      |  SELECT CAST(date_trunc('MONTH', min(o_orderdate)) AS TIMESTAMP) FROM orders
      |  UNION ALL
      |  SELECT m + INTERVAL '1' MONTH FROM months
      |  WHERE m < (SELECT CAST(date_trunc('MONTH', max(o_orderdate)) AS TIMESTAMP)
      |             FROM orders))
      |SELECT CAST(year(m) * 100 + month(m) AS BIGINT) AS ym,
      |       CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders,
      |       CAST(coalesce(o.rev_c, 0) AS BIGINT) AS revenue_c
      |FROM months
      |LEFT JOIN (SELECT date_trunc('MONTH', o_orderdate) AS mo, count(*) AS n,
      |                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
      |           FROM orders GROUP BY 1) o ON o.mo = months.m""".stripMargin) {
    (spark, dir) =>
    val bounds = spark.read.parquet(t(dir, "orders"))
      .selectExpr("date_format(date_trunc('MONTH', min(o_orderdate)), 'yyyy-MM-dd HH:mm:ss') AS lo",
        "date_format(date_trunc('MONTH', max(o_orderdate)), 'yyyy-MM-dd HH:mm:ss') AS hi")
      .collect()(0)
    val (lo, hi) = (bounds.getString(0), bounds.getString(1))
    viaSql(spark, dir, Seq("orders"),
      s"""WITH RECURSIVE months(m) AS (
         |  SELECT TIMESTAMP '$lo'
         |  UNION ALL
         |  SELECT m + INTERVAL '1' MONTH FROM months WHERE m < TIMESTAMP '$hi')
         |SELECT CAST(year(m) * 100 + month(m) AS BIGINT) AS ym,
         |       CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders,
         |       CAST(coalesce(o.rev_c, 0) AS BIGINT) AS revenue_c
         |FROM months
         |LEFT JOIN (SELECT date_trunc('MONTH', o_orderdate) AS mo, count(*) AS n,
         |                  sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_c
         |           FROM orders GROUP BY 1) o ON o.mo = months.m""".stripMargin)
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT — the SQL-standard
    * spelling of per-key top-k (every customer in the probe set joined to
    * its 2 highest-value orders). The DataFrame twin is
    * `q_hash_sample_per_key`'s WindowGroupLimit shape; this row proves the
    * LATERAL spelling resolves and returns identical semantics, because a
    * reference user migrating SQL should not have to rewrite correlated
    * subqueries into window functions by hand. Same-string oracle (DuckDB
    * executes the identical LATERAL join).
    *
    * Scale shape: Catalyst decorrelates the lateral relation into a join +
    * per-key limit rather than re-executing the subquery per outer row —
    * the probe-set filter (1-in-100 keys) pushes into the customer scan,
    * and the per-key top-2 is rank-truncated before the final join output.
    * Prices gate as exact cents.
    */
  val lateralTopk: QueryDef = {
    val stmt =
      """SELECT c_custkey, o.o_orderkey,
        |       CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS total_c
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |WHERE c_custkey % 100 = 0""".stripMargin
    QueryDef(stmt) { (spark, dir) =>
      viaSql(spark, dir, Seq("customer", "orders"), stmt)
    }
  }

  /** Collated string comparison (Spark 4 collations): a case-insensitive
    * probe-term join via `UTF8_LCASE` — the corpus keeps its original
    * case, the probe terms are deterministically UPPER-cased, and the join
    * hits exactly where binary equality would miss. This is the collation
    * use that matters in a curation pipeline (blocklists, decontamination
    * probes, and language terms all arrive in arbitrary case); the scrub
    * rows solve it by normalizing both sides with `lower()` — this row
    * proves the engine-level spelling where the data stays unnormalized.
    * Probe terms are ASCII-only words of length ≥ 8, so `UTF8_LCASE`
    * equality coincides with `lower()` equality and the DuckDB oracle can
    * state the semantics portably (ICU full case folding — ß/İ — diverges
    * from ASCII lower(); restricting the probe alphabet pins the gate to
    * the part both engines define identically).
    *
    * Scale shape: the probe set is a distinct aggregate over corpus words
    * (vocabulary-bounded); the collated join hashes the collation key, so
    * it shuffles/broadcasts exactly like a binary-string join — AQE
    * broadcasts the term side at any realistic probe-list size.
    */
  val collation: QueryDef = QueryDef(
    """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |aw AS (SELECT lang, w FROM w WHERE regexp_matches(w, '^[A-Za-z]{8,}$')),
      |probe AS (SELECT DISTINCT upper(w) AS term FROM aw),
      |hits AS (SELECT a.lang, a.w
      |         FROM aw a JOIN probe p ON lower(a.w) = lower(p.term))
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_hits,
      |       CAST(count(DISTINCT w) AS BIGINT) AS n_terms
      |FROM hits GROUP BY lang""".stripMargin) { (spark, dir) =>
    val words = spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[A-Za-z]{8,}$"))
    val probe = words.select(upper(col("w")).as("term")).distinct()
    // The collated equality is the point: neither side is case-normalized
    // in the join condition — `collate()` changes the comparison, and the
    // UPPER-cased probe terms only match because of it.
    words
      .join(probe, expr("collate(w, 'UTF8_LCASE') = collate(term, 'UTF8_LCASE')"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_hits"), countDistinct(col("w")).as("n_terms"))
  }

  /** Per-group OLS regression from mergeable sufficient statistics — the
    * 100 TB regression shape: ONE pass over lineitem accumulating
    * (n, Σx, Σy, Σx², Σxy) per group (all map-side combinable BIGINTs on a
    * fixed-point cent basis), then the slope as exact 128-bit integer
    * arithmetic — Spark DECIMAL(38,0) multiply/`div` against DuckDB
    * HUGEINT, bit-for-bit (`slope_ppm = (n·Σxy − ΣxΣy)·10⁶ div
    * (n·Σx² − (Σx)²)`). The raw statistics are emitted alongside the slope
    * because they are the mergeable object (partitions/days/shards combine
    * by addition — the typed-agg lesson: gate the sums, derive the ratio).
    *
    * Scale bound, stated honestly: n·Σxy at cents basis reaches ~4·10¹⁸ at
    * sf0.1 (int64 edge) — which is exactly why the derived terms compute in
    * decimal128, where the same product is 19 of 38 digits; the basis
    * drops to whole currency units long before 10¹⁹-row groups.
    *
    * Division sign discipline (ADVICE r12 #1): the covariance numerator
    * n·Σxy − ΣxΣy is legitimately negative (it IS negative for A and N at
    * every SF — returnflag groups anti-correlate quantity with the cents
    * sum), so the gate must not depend on either engine's negative
    * integer-division convention. Measured: DuckDB 1.0 HUGEINT `//`
    * truncates toward zero (−7//2 = −3), same as Spark `div` — but that
    * is a convention pairing, not a contract (DuckDB floors float `/`,
    * and other oracles floor integer division). Both sides therefore
    * divide |numerator| by the always-≥0 variance denominator and
    * reapply the sign — truncation-toward-zero by construction,
    * engine-agnostic for any oracle swap.
    */
  val regression: QueryDef = QueryDef(
    """WITH b AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS x,
      |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |           FROM lineitem),
      |s AS (SELECT g, CAST(count(*) AS HUGEINT) AS n,
      |             CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
      |             CAST(sum(x*x) AS HUGEINT) AS sxx, CAST(sum(x*y) AS HUGEINT) AS sxy
      |      FROM b GROUP BY g),
      |d AS (SELECT g, n, sx, sy, sxx, sxy,
      |             (n*sxy - sx*sy) * 1000000 AS num, n*sxx - sx*sx AS den
      |      FROM s)
      |SELECT g, CAST(n AS BIGINT) AS n, CAST(sx AS BIGINT) AS sx,
      |       CAST(sy AS BIGINT) AS sy, CAST(sxx AS BIGINT) AS sxx,
      |       CAST(sxy AS BIGINT) AS sxy,
      |       CAST(CASE WHEN num < 0 THEN -((-num) // den) ELSE num // den END
      |            AS BIGINT) AS slope_ppm
      |FROM d""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_returnflag").as("g"),
        col("l_quantity").cast("long").as("x"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("y"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .withColumn("num",
        expr("(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000"))
      .withColumn("den",
        expr("CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .select(col("g"), col("n"), col("sx"), col("sy"), col("sxx"), col("sxy"),
        expr("""CAST(CASE WHEN num < 0 THEN -((-num) div den)
               |          ELSE num div den END AS BIGINT)""".stripMargin)
          .as("slope_ppm"))
  }

  /** SQL-defined functions (Spark 4) + parameterized SQL in one row —
    * the pure-SQL extensibility tier BELOW the Catalyst expressions
    * GraftExtensions injects: a scalar SQL UDF (`cents`, the engine's
    * fixed-point idiom as a reusable declaration), a table-valued SQL
    * function (`top_status`, a parameterized top-k), and a named
    * parameter marker (`:st`) binding the probe value injection-safe.
    * SQL UDFs are INLINED into the calling plan (no black-box function
    * call at runtime — `cents` lands inside the same codegen stage a
    * hand-written expression would), which is why this tier costs
    * nothing at 100 TB; the TVF's ORDER BY/LIMIT body plans as the same
    * TakeOrderedAndProject a hand-written top-k gets. Functions and
    * views are dropped after eager analysis (the q_sql_api catalog
    * discipline — a temp function whose body references a dir-bound
    * view must not outlive it).
    */
  val sqlUdf: QueryDef = QueryDef(
    """SELECT o_orderkey, rev_c FROM (
      |  SELECT o_orderkey, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS rev_c
      |  FROM orders WHERE o_orderstatus = 'F'
      |  ORDER BY rev_c DESC, o_orderkey LIMIT 5) t""".stripMargin) { (spark, dir) =>
    viaSql(spark, dir, Seq("orders"),
      "SELECT o_orderkey, rev_c FROM top_status(:st)",
      args = Map("st" -> "F"),
      setup = Seq(
        """CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE) RETURNS BIGINT
          |RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)""".stripMargin,
        """CREATE OR REPLACE TEMPORARY FUNCTION top_status(s STRING)
          |RETURNS TABLE(o_orderkey BIGINT, rev_c BIGINT)
          |RETURN SELECT o_orderkey, cents(o_totalprice)
          |       FROM orders WHERE o_orderstatus = s
          |       ORDER BY 2 DESC, 1 LIMIT 5""".stripMargin),
      dropFunctions = Seq("top_status", "cents"))
  }

  /** MapType as a first-class pipeline value: per-document token-count
    * MAPS built in-engine (`map_from_entries`), pruned (`map_filter`),
    * rescaled (`transform_values`), and exploded back to rows for the
    * gate — the shape feature stores and per-entity accumulators take
    * when the key set is ragged (a map column instead of 10⁴ sparse
    * columns). The oracle states the same semantics relationally
    * (DuckDB's map surface differs, and the gate hashes plain columns
    * anyway — the MAP is the Spark-side representation under test, the
    * exploded entries are its observable value).
    *
    * Scale shape: one (doc, tok) count (map-side combinable), one
    * doc-keyed map assembly whose size is the DOC's vocabulary (in-row,
    * bounded), and in-row map surgery at scan speed — no shuffle touches
    * a map value. The deterministic 1-in-97 doc sample bounds output,
    * not work.
    */
  val mapOps: QueryDef = QueryDef(
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |           FROM documents WHERE doc_id % 97 = 0),
      |c AS (SELECT doc_id, tok, count(*) AS n FROM w WHERE tok <> '' GROUP BY 1, 2)
      |SELECT doc_id, tok, CAST(n * 2 AS BIGINT) AS n2
      |FROM c WHERE n >= 3""".stripMargin) { (spark, dir) =>
    val m = spark.read.parquet(t(dir, "documents"))
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("tok"), col("n")))).as("m"))
      .select(col("doc_id"),
        transform_values(
          map_filter(col("m"), (_, v) => v >= 3),
          (_, v) => v * 2).as("m"))
    m.select(col("doc_id"), explode(col("m")).as(Seq("tok", "n2")))
  }

  /** Nested-field surgery — `Column.withField` / `dropFields` on a deep
    * struct WITHOUT rebuilding it: the schema-evolution idiom for nested
    * parquet (add a derived field three levels down, retire a raw one,
    * leave every sibling untouched). A rebuilt struct silently drops the
    * fields you forgot to re-list; targeted surgery cannot. The gate
    * flattens the surgered struct back to scalars, so a misplaced or
    * clobbered field flips the hash.
    *
    * Scale shape: pure projection — nested writers/readers in codegen,
    * zero shuffle; at 100 TB this is exactly why you evolve structs in
    * place instead of exploding to columns and back.
    */
  val nestedFields: QueryDef = QueryDef(
    """SELECT c_custkey, c_name AS name,
      |       CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c,
      |       c_nationkey AS nation
      |FROM customer WHERE c_custkey % 50 = 0""".stripMargin) { (spark, dir) =>
    val nested = spark.read.parquet(t(dir, "customer"))
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey"),
        struct(col("c_name"),
          struct(col("c_acctbal"), col("c_nationkey")).as("fin")).as("s"))
    val surgered = nested.select(col("c_custkey"),
      col("s")
        .withField("fin.bal_c",
          expr("CAST(floor(s.fin.c_acctbal * 100 + 0.5) AS BIGINT)"))
        .dropFields("fin.c_acctbal").as("s"))
    surgered.select(col("c_custkey"), col("s.c_name").as("name"),
      col("s.fin.bal_c").as("bal_c"), col("s.fin.c_nationkey").as("nation"))
  }

  /** ANSI-mode error-safe arithmetic — the `try_*` family that makes a
    * 100 TB job survive the one poisoned row: this engine runs ANSI SQL
    * (Spark 4 default), where overflow and division-by-zero are ERRORS
    * that kill the job, and `try_multiply`/`try_divide` are the per-row
    * escape hatch that converts them to NULLs you can count and quarantine
    * (the csv_malformed philosophy applied to arithmetic). The gate works
    * entirely in exact integers, with BOTH populations structurally
    * non-empty at every SF (code-review r12: a fixed 10¹⁵ multiplier
    * overflowed every real price, leaving the non-NULL path untested and
    * a latent sum overflow): the multiplicand models a corrupted scale
    * factor — int64-max on the qty>25 half (ANY price ≥ 2 cents
    * overflows there, so that branch is overflow-by-construction with no
    * data-dependent boundary) and 10³ on the rest (never overflows, and
    * the surviving products sum well inside int64 at any SF). The /0 branch
    * gates try_divide's NULLness only — its DOUBLE value never crosses
    * the gate.
    *
    * Scale shape: pure scan-speed projection + one grouped rollup; the
    * point is semantic, not physical — the error-or-null decision is
    * per-row and costs nothing.
    */
  val tryArith: QueryDef = QueryDef(
    """WITH b AS (SELECT l_returnflag AS g,
      |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
      |                  CAST(l_quantity AS BIGINT) - 25 AS denom
      |           FROM lineitem)
      |SELECT g, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(CASE WHEN denom > 0 THEN 1 END) AS BIGINT) AS n_overflow,
      |       CAST(sum(CASE WHEN denom <= 0 THEN price_c * 1000 END) AS BIGINT) AS sum_ok,
      |       CAST(count(CASE WHEN denom = 0 THEN 1 END) AS BIGINT) AS n_div0
      |FROM b GROUP BY g""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_returnflag").as("g"),
        expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)").as("price_c"),
        (col("l_quantity").cast("long") - 25).as("denom"))
      .select(col("g"),
        expr("""try_multiply(price_c,
               |  CASE WHEN denom > 0 THEN 9223372036854775807L ELSE 1000L END)""".stripMargin)
          .as("prod"),
        expr("try_divide(1L, denom)").as("q"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        count(when(col("prod").isNull, 1)).as("n_overflow"),
        sum(col("prod")).as("sum_ok"),
        count(when(col("q").isNull, 1)).as("n_div0"))
  }

  /** Nested-schema pruning at the SOURCE — the read-side payoff of
    * keeping data nested ([[nestedFields]] is the write-side surgery): a
    * nested parquet copy (struct two levels deep) is written once, then a
    * query touching ONE leaf reads ONLY that leaf — PlanSpec pins the
    * scan's ReadSchema to the pruned `struct<fin:struct<bal_c>>`, not the
    * full struct. On a 100 TB nested lake (events with 400-field payload
    * structs) this is the difference between scanning 2% and 100% of
    * every row group — column pruning's nested generalization, and the
    * reason "just flatten everything" is not the answer.
    *
    * Scale shape: scan + one 25-key rollup; the claim under test is the
    * BYTES THE SCAN TOUCHES, which the plan pin makes visible.
    */
  val nestedPrune: QueryDef = QueryDef(
    """SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS bal_c
      |FROM customer GROUP BY c_nationkey""".stripMargin) { (spark, dir) =>
    import graft.sources.FileSources
    val out = FileSources.cacheDir("nested", dir, "customer.parquet")
    FileSources.writeOnce(out) { (o, _) =>
      spark.read.parquet(t(dir, "customer"))
        .select(col("c_custkey"),
          struct(col("c_name"), col("c_mktsegment"),
            struct(expr("CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)").as("bal_c"),
              col("c_nationkey").as("nation")).as("fin")).as("s"))
        .coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(o)
    }
    spark.read.parquet(out)
      .groupBy(col("s.fin.nation").as("nation"))
      .agg(count(lit(1)).as("n"), sum(col("s.fin.bal_c")).as("bal_c"))
  }

  /** SQL pipe syntax (Spark 4's `|>` operators): the TPC-H Q1 pricing
    * rollup written as a linear pipeline — FROM → WHERE → EXTEND (computed
    * column) → AGGREGATE ... GROUP BY — instead of the inside-out nested
    * form. Pipe syntax is pure surface: the parser lowers each stage onto
    * the same logical operators the nested query produces, so the plan is
    * the ordinary scan → partial agg → exchange → final agg with the
    * shipdate filter and the 4-column projection pushed to the parquet
    * scan; at 100 TB the pipeline spelling costs nothing and keeps long
    * curation flows (filter → derive → aggregate → filter...) readable in
    * the order they execute. The DuckDB oracle states the identical
    * semantics in classic ANSI form, cents-fixed-point like every pricing
    * row (floor(x*100+0.5) — IEEE-exact under 2^53).
    */
  val sqlPipe: QueryDef = QueryDef(
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(l_quantity) AS BIGINT) AS qty,
      |       CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS disc_rev_c
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin) { (spark, dir) =>
    viaSql(spark, dir, Seq("lineitem"),
      """FROM lineitem
        ||> WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        ||> EXTEND CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS disc_c
        ||> AGGREGATE CAST(count(*) AS BIGINT) AS n, CAST(sum(l_quantity) AS BIGINT) AS qty,
        |             CAST(sum(disc_c) AS BIGINT) AS disc_rev_c
        |   GROUP BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** [[listAgg]]'s conditional-concat cutoff: only orders with
    * `o_totalprice > ListAggBigTotal` (499000.00) enter the big_keys
    * list. Hoisted so program, oracle, and docs state one value (the
    * r13 cache-key rule; ADVICE r15 — the docstring previously said
    * "4990.00", a 100× understatement of the real threshold).
    */
  private val ListAggBigTotal = 499000

  /** `listagg(...) WITHIN GROUP (ORDER BY ...)` (SQL:2016, Spark 4.0): the
    * ordered string-concatenation aggregate — DISTINCT de-dup plus a
    * conditional listagg whose CASE keeps only the outlier orderkeys (NULLs
    * are skipped by definition, so sparse groups yield NULL, not "").
    * Scale guard worth stating: listagg materializes each group's list in
    * the aggregation buffer, so the conditional form's FILTER-like CASE is
    * the real-world discipline — bound what you concatenate (here the
    * >[[ListAggBigTotal]].00-total outliers, a few hundred keys at
    * sf0.1), never a raw high-cardinality column. DuckDB spells the same
    * aggregate `string_agg(... ORDER BY ...)`; both engines order by the
    * sort key and join with the same delimiter, so the strings hash-match
    * exactly.
    */
  val listAgg: QueryDef = QueryDef(
    s"""SELECT o_orderpriority,
      |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
      |       string_agg(CASE WHEN o_totalprice > $ListAggBigTotal THEN CAST(o_orderkey AS VARCHAR) END,
      |                  ',' ORDER BY o_orderkey) AS big_keys,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM orders GROUP BY o_orderpriority""".stripMargin) { (spark, dir) =>
    viaSql(spark, dir, Seq("orders"),
      s"""SELECT o_orderpriority,
        |       listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
        |       listagg(CASE WHEN o_totalprice > $ListAggBigTotal THEN CAST(o_orderkey AS STRING) END, ',')
        |         WITHIN GROUP (ORDER BY o_orderkey) AS big_keys,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority""".stripMargin)
  }

  /** Session variables + `EXECUTE IMMEDIATE ... USING` (Spark 4): the
    * parameterized-statement surface a multi-tenant SQL service runs on —
    * the statement text is fixed, `?` markers bind typed session variables
    * (one set from a scalar subquery over the data itself), so plans are
    * cache-keyed by TEXT while values vary per session, and injection is
    * structurally impossible. Analysis is eager, so the variables are
    * dropped right after submission (the temp-view discipline of
    * [[viaSql]]) — the returned frame owes nothing to session state.
    * The oracle inlines the same cutoff via a CTE.
    */
  val execImmediate: QueryDef = QueryDef(
    """WITH v AS (SELECT CAST(floor(avg(o_totalprice) * 100 + 0.5) AS BIGINT) AS cutoff_c FROM orders)
      |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
      |FROM orders, v WHERE o_orderpriority = '1-URGENT'
      |  AND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > cutoff_c
      |GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
    viaSql(spark, dir, Seq("orders"),
      """EXECUTE IMMEDIATE
        |  'SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
        |   FROM orders WHERE o_orderpriority = ? AND CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > ?
        |   GROUP BY o_orderstatus' USING pr, cutoff_c""".stripMargin,
      setup = Seq(
        "DECLARE OR REPLACE VARIABLE pr STRING",
        "SET VARIABLE pr = '1-URGENT'",
        "DECLARE OR REPLACE VARIABLE cutoff_c BIGINT",
        "SET VARIABLE cutoff_c = (SELECT CAST(floor(avg(o_totalprice) * 100 + 0.5) AS BIGINT) FROM orders)"),
      dropVariables = Seq("pr", "cutoff_c"))
  }

  /** SQL scripting (BEGIN/DECLARE/WHILE, Spark 4.0): the iterative
    * budget-fill every curation run performs — admit priority classes in
    * order until the admitted share crosses 60% — written as a procedural
    * script with script-local variables (no session state to clean up).
    * Control flow is DRIVER-side by nature: each loop iteration plans one
    * map-side-combinable aggregate over orders (≤5 iterations, bounded by
    * the class count, never by data size), which is exactly how the
    * `WHILE`-loop rows (BPE, pagerank) already run — scripting just moves
    * the loop from Scala into the engine's SQL dialect, where a
    * reference user's stored-procedure habits land. The oracle replays the
    * loop's fixpoint as a cumulative-window query: the first class whose
    * running total crosses the budget is the loop's exit state.
    */
  val sqlScript: QueryDef = QueryDef(
    """WITH per AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS INT) AS k, count(*) AS n
      |             FROM orders GROUP BY 1),
      |cum AS (SELECT k, CAST(sum(n) OVER (ORDER BY k) AS BIGINT) AS acc FROM per),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders),
      |hit AS (SELECT min(k) AS k FROM cum, tot WHERE acc * 10 >= total * 6)
      |SELECT CAST(hit.k AS INT) AS classes_used, cum.acc AS n_orders, tot.total AS n_total
      |FROM hit JOIN cum ON cum.k = hit.k, tot""".stripMargin) { (spark, dir) =>
    viaSql(spark, dir, Seq("orders"),
      """BEGIN
        |  DECLARE total BIGINT;
        |  DECLARE acc BIGINT DEFAULT 0;
        |  DECLARE k INT DEFAULT 0;
        |  SET total = (SELECT count(*) FROM orders);
        |  WHILE acc * 10 < total * 6 AND k < 5 DO
        |    SET k = k + 1;
        |    SET acc = acc + (SELECT count(*) FROM orders
        |                     WHERE CAST(substr(o_orderpriority, 1, 1) AS INT) = k);
        |  END WHILE;
        |  SELECT CAST(k AS INT) AS classes_used, acc AS n_orders, total AS n_total;
        |END""".stripMargin)
  }

  /** ANSI interval arithmetic — both interval families over the
    * order-to-ship lifecycle: DAY-TIME (`+ INTERVAL '45' DAY`, exact
    * microsecond shift) and YEAR-MONTH (`+ INTERVAL '3' MONTH`, calendar
    * arithmetic with end-of-month clamping — Jan 31 + 1 month = Feb 28/29,
    * which both engines implement identically and the 3-month lateness
    * count exercises on real boundaries), plus day-granularity
    * `datediff`/`date_diff` (both date-cast first) and quarter bucketing.
    * All outputs are integers, so the gate is exact — no epoch/timezone
    * exposure (session pinned UTC on both sides).
    *
    * Scale shape: the orderkey equi-join shuffles both sides once (AQE
    * broadcasts orders at test SFs); interval comparisons are row-local
    * codegen'd timestamp arithmetic riding the join projection; the
    * quarter rollup is map-side combinable into ~28 groups.
    */
  val intervalArith: QueryDef = QueryDef(
    """SELECT CAST(year(q) * 10 + quarter(q) AS BIGINT) AS yq,
      |       CAST(count(*) AS BIGINT) AS n_li,
      |       CAST(count(*) FILTER (l_shipdate > o_orderdate + INTERVAL 45 DAY) AS BIGINT) AS n_late_45d,
      |       CAST(count(*) FILTER (l_shipdate > o_orderdate + INTERVAL 3 MONTH) AS BIGINT) AS n_late_3mo,
      |       CAST(sum(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS gap_days,
      |       CAST(max(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS BIGINT) AS max_gap
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |CROSS JOIN LATERAL (SELECT date_trunc('quarter', o_orderdate) AS q) t
      |GROUP BY 1""".stripMargin) { (spark, dir) =>
    viaSql(spark, dir, Seq("orders", "lineitem"),
      """SELECT CAST(year(date_trunc('quarter', o_orderdate)) * 10
        |            + quarter(o_orderdate) AS BIGINT) AS yq,
        |       CAST(count(*) AS BIGINT) AS n_li,
        |       CAST(count(IF(l_shipdate > o_orderdate + INTERVAL '45' DAY, 1, NULL)) AS BIGINT) AS n_late_45d,
        |       CAST(count(IF(l_shipdate > o_orderdate + INTERVAL '3' MONTH, 1, NULL)) AS BIGINT) AS n_late_3mo,
        |       CAST(sum(datediff(l_shipdate, o_orderdate)) AS BIGINT) AS gap_days,
        |       CAST(max(datediff(l_shipdate, o_orderdate)) AS BIGINT) AS max_gap
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin)
  }

  val defs: Map[String, QueryDef] = Map(
    "q_interval_arith" -> intervalArith,
    "q_sql_pipe" -> sqlPipe,
    "q_listagg" -> listAgg,
    "q_exec_immediate" -> execImmediate,
    "q_sql_script" -> sqlScript,
    "q_nested_prune" -> nestedPrune,
    "q_try_arith" -> tryArith,
    "q_map_ops" -> mapOps,
    "q_nested_fields" -> nestedFields,
    "q_sql_udf" -> sqlUdf,
    "q_recursive_cte" -> recursiveCte,
    "q_lateral_topk" -> lateralTopk,
    "q_collation" -> collation,
    "q_regression" -> regression)
}
