package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional aggregation, window frames, range joins, set
  * operations, and pivot — the relational surface a training-data warehouse
  * layers on top of the search engine's provenance tables (SURVEY §2.5 lists
  * these as capabilities beyond the reference).
  *
  * Money sums use exact integer cents (`CAST(floor(x*100+0.5) AS BIGINT)`)
  * so every aggregate is order-independent: a parallel double `sum()` is
  * legal IEEE reassociation, so its last bits vary with partitioning; at
  * 100 TB the oracle would flap. Integer sums cannot.
  */
object Relational {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  private def cents(c: Column): Column =
    floor(c * 100 + 0.5).cast("long")
  private def centsSql(c: String): String =
    s"CAST(floor($c * 100 + 0.5) AS BIGINT)"

  /** ROLLUP over (status, priority) with grouping_id: hierarchical
    * subtotals in one pass — Spark expands grouping sets before the hash
    * aggregate, so it's still a single shuffle at scale.
    */
  val rollup: QueryDef = QueryDef(
    s"""SELECT o_orderstatus, o_orderpriority,
       |       GROUPING(o_orderstatus, o_orderpriority) AS gid,
       |       count(*) AS n,
       |       round(sum(${centsSql("o_totalprice")}) / 100.0, 2) AS revenue
       |FROM orders
       |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "orders"))
      .select(col("o_orderstatus"), col("o_orderpriority"),
        cents(col("o_totalprice")).as("price_cents"))
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("price_cents")) / 100.0, 2).as("revenue"))
  }

  /** CUBE over (event_type, cohort): all 2^d marginal aggregates of the
    * event stream. `value` is fixed-pointed at 1e-4 before summing for the
    * same order-independence reason as cents.
    */
  val cube_ : QueryDef = QueryDef(
    """SELECT event_type, cohort, GROUPING(event_type, cohort) AS gid,
      |       count(*) AS n,
      |       round(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) / 10000.0, 4) AS sum_value
      |FROM (SELECT event_type, user_id % 4 AS cohort, value FROM events) e
      |GROUP BY CUBE(event_type, cohort)""".stripMargin) { (spark, dir) =>
    // Events.readEvents handles every physical ts encoding (ts itself
    // isn't referenced here, but a NANOS schema is rejected unread
    // without the conf pins it applies).
    Events.readEvents(spark, dir)
      .select(col("event_type"), (col("user_id") % 4).as("cohort"),
        floor(col("value") * 10000 + 0.5).cast("long").as("v"))
      .cube(col("event_type"), col("cohort"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("v")) / 10000.0, 4).as("sum_value"))
  }

  /** Window frames: running total (UNBOUNDED PRECEDING) and a 3-row moving
    * sum per customer, ordered by order date. One shuffle on the partition
    * key; frames are streamed within each partition — no materialized
    * self-join at scale.
    */
  val windowFrame: QueryDef = QueryDef(
    // Window sums/row_number CAST to BIGINT/INT: DuckDB widens sum(BIGINT)
    // to HUGEINT and row_number() to BIGINT; Spark emits BIGINT/INT.
    s"""SELECT o_custkey, o_orderkey,
       |       CAST(sum(price_cents) OVER w AS BIGINT) AS running_cents,
       |       CAST(sum(price_cents) OVER (PARTITION BY o_custkey
       |                              ORDER BY o_orderdate, o_orderkey
       |                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving3_cents,
       |       CAST(row_number() OVER w AS INT) AS seq
       |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
       |             ${centsSql("o_totalprice")} AS price_cents FROM orders) o
       |WINDOW w AS (PARTITION BY o_custkey
       |             ORDER BY o_orderdate, o_orderkey
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val base = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cum = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mov3 = base.rowsBetween(-2, Window.currentRow)
    spark.read.parquet(t(dir, "orders"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        cents(col("o_totalprice")).as("price_cents"))
      .select(col("o_custkey"), col("o_orderkey"),
        sum(col("price_cents")).over(cum).as("running_cents"),
        sum(col("price_cents")).over(mov3).as("moving3_cents"),
        row_number().over(base).as("seq"))
  }

  /** Range (band) join, bucketized: overlapping [lo, hi) quantity bands
    * joined to lineitem. The naive plan is a nested-loop over every
    * (row, band) pair; instead each band is exploded to the fixed-width
    * buckets it overlaps and the join becomes an equi-join on bucket + a
    * residual range filter. With a big probe side AND a big band side this
    * stays a shuffled hash join at 100 TB (here the band side is tiny, so
    * Catalyst broadcasts it — same plan family either way).
    */
  private val bands = Seq((1, 5.0, 20.0), (2, 15.0, 35.0), (3, 30.0, 50.0))
  private val bucketW = 5.0

  val rangeJoin: QueryDef = QueryDef(
    s"""SELECT band_id, count(*) AS n,
       |       round(sum(${centsSql("l_extendedprice")}) / 100.0, 2) AS revenue
       |FROM lineitem
       |JOIN (VALUES ${bands.map { case (b, lo, hi) => s"($b, $lo, $hi)" }.mkString(", ")})
       |     b(band_id, lo, hi)
       |  ON l_quantity >= lo AND l_quantity < hi
       |GROUP BY band_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val bandBuckets = bands.toDF("band_id", "lo", "hi")
      .withColumn("bucket",
        explode(sequence(floor(col("lo") / bucketW).cast("int"),
          floor(col("hi") / bucketW).cast("int"))))
    val li = spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_quantity"), cents(col("l_extendedprice")).as("price_cents"))
      .withColumn("bucket", floor(col("l_quantity") / bucketW).cast("int"))
    li.join(broadcast(bandBuckets), Seq("bucket"))
      .filter(col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("price_cents")) / 100.0, 2).as("revenue"))
  }

  /** Set operations: customers active in both F and O order states, minus
    * anyone with a pending order. The oracle states it as INTERSECT/EXCEPT;
    * the Spark plan is the scale-correct equivalent — ONE scan and ONE
    * shuffle: a conditional aggregation per customer (map-side combinable
    * booleans), then a residual filter. The literal set-operator plan would
    * scan orders three times and shuffle twice.
    */
  val setOps: QueryDef = QueryDef(
    """(SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      | INTERSECT
      | SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
      |EXCEPT
      |SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin) {
    (spark, dir) =>
      spark.read.parquet(t(dir, "orders"))
        .filter(col("o_orderstatus").isin("F", "O", "P")) // pushed to the scan
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(col("o_orderstatus") === "F").as("has_f"),
          max(col("o_orderstatus") === "O").as("has_o"),
          max(col("o_orderstatus") === "P").as("has_p"))
        .filter(col("has_f") && col("has_o") && !col("has_p"))
        .select(col("custkey"))
  }

  /** Pivot: per-cohort event-type counts as columns. The value list is
    * declared up front, so Spark skips the extra distinct-values job — at
    * scale an unbounded pivot is a full extra scan plus an unpredictable
    * schema; a declared one is a single hash aggregate.
    */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val pivot: QueryDef = QueryDef(
    s"""SELECT user_id % 10 AS cohort,
       |${eventTypes.map(e => s"       count(*) FILTER (event_type = '$e') AS $e,").mkString("\n")}
       |       count(*) AS total
       |FROM events GROUP BY user_id % 10""".stripMargin) { (spark, dir) =>
    // Manual pivot as a two-level aggregate in ONE scan: (cohort, type)
    // counts, then conditional sums per declared type PLUS an all-rows
    // total — so `total` counts every event even if a new event_type
    // appears outside the declared value list (a .pivot()-derived total
    // would silently drop it).
    val counts = Events.readEvents(spark, dir)
      .select((col("user_id") % 10).as("cohort"), col("event_type"))
      .groupBy(col("cohort"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val perType = eventTypes.map(e =>
      coalesce(sum(when(col("event_type") === e, col("n"))), lit(0L)).as(e))
    counts.groupBy(col("cohort"))
      .agg(perType.head, perType.tail :+ sum(col("n")).as("total"): _*)
  }

  /** GROUPING SETS — the general form ROLLUP/CUBE specialize: exactly the
    * requested marginals ((lang, source), (lang), ()) in one pass, none of
    * CUBE's unwanted (source)-only set. Spark's native `groupingSets`
    * expands to a single expand+aggregate — one scan, one shuffle — not a
    * UNION of per-set scans (which at 100 TB would read the corpus once
    * per set).
    */
  val groupingSets: QueryDef = QueryDef(
    """SELECT lang, source, GROUPING(lang, source) AS gid,
      |       count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM documents
      |GROUP BY GROUPING SETS ((lang, source), (lang), ())""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), col("source"), col("n_chars"))
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq()),
        col("lang"), col("source"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("chars"))
  }

  /** UNPIVOT (melt): the per-language dataset-card metrics rotated from
    * one wide row per language to (lang, metric, value) long form — the
    * reporting/export shape. The unpivot is a zero-shuffle in-row expand
    * over the already-aggregated frame (3 rows out per input row); the
    * only exchange is the upstream groupBy(lang).
    */
  val unpivot: QueryDef = QueryDef(
    """WITH wide AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
      |  FROM documents GROUP BY lang)
      |SELECT lang, 'n_docs' AS metric, n_docs AS value FROM wide
      |UNION ALL SELECT lang, 'sum_chars', sum_chars FROM wide
      |UNION ALL SELECT lang, 'sum_tokens', sum_tokens FROM wide""".stripMargin) {
    (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("n_tok")).as("sum_tokens"))
      .unpivot(Array(col("lang")),
        Array(col("n_docs"), col("sum_chars"), col("sum_tokens")),
        "metric", "value")
  }

  /** Per-file [min, max] spans of `key` under `path` are pairwise STRICTLY
    * disjoint — the layout property [[rangeLayout]] and [[liquidLayout]]
    * both prove once at write time (a files-count-sized driver frame:
    * planner metadata, the zone-map rule). One implementation so a future
    * span-logic fix (null keys, empty file sets) lands everywhere.
    */
  private def spansDisjoint(spark: SparkSession, path: String, key: String): Boolean = {
    val spans = spark.read.parquet(path)
      .groupBy(col("_metadata.file_name"))
      .agg(min(col(key)).as("lo"), max(col(key)).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    spans.sliding(2).forall {
      case Array((_, hi1), (lo2, _)) => hi1 < lo2
      case _                         => true
    }
  }

  /** Range-partitioned sorted layout — the 1-D sibling of the Z-order
    * pass and the way sorted tables are actually PRODUCED at scale:
    * `repartitionByRange` (sampled range boundaries, one exchange) +
    * `sortWithinPartitions` + write, yielding files whose key ranges are
    * pairwise DISJOINT — the property that turns a key predicate into
    * file skipping and a merge join into a zip. The gate proves the
    * layout, not just the data: per-file [min, max] spans are read back
    * (a files-count-sized driver frame — planner metadata, the zone-map
    * rule) and the emitted `disjoint` flag asserts no two files overlap;
    * the rollup re-reads the laid-out copy so lost/duplicated rows flip
    * the hash.
    *
    * Scale shape: ONE range exchange (with AQE-sampled boundaries) + an
    * in-partition sort — the minimum physical work a global sort can
    * cost; everything after is scan metadata.
    */
  val rangeLayout: QueryDef = QueryDef(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_c,
       |       TRUE AS disjoint
       |FROM orders GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
    import graft.sources.FileSources
    val out = FileSources.cacheDir("rangelayout", dir, "orders.parquet")
    val marker = java.nio.file.Paths.get(out, "_DISJOINT")
    // Disjointness is a property of the WRITTEN layout and the dir is
    // immutable once cached, so prove it once (a files-count-sized driver
    // frame) and persist the verdict as an underscore-prefixed marker
    // beside the data (non-underscore siblings would be read as parquet)
    // — re-verifying on every timed invocation would re-scan the copy for
    // an invariant that cannot change. The verdict is part of the body,
    // so a cache that writeOnce marks complete always carries it.
    FileSources.writeOnce(out) { (o, _) =>
      spark.read.parquet(t(dir, "orders"))
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(o)
      java.nio.file.Files.writeString(marker, spansDisjoint(spark, o, "o_orderkey").toString): Unit
    }
    val disjoint = java.nio.file.Files.readString(marker).trim.toBoolean
    spark.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("rev_c"))
      .withColumn("disjoint", lit(disjoint))
  }

  /** Liquid-clustering-style INCREMENTAL re-layout — what OPTIMIZE does
    * the second time, composing [[rangeLayout]]'s clustered write with the
    * compaction discipline on a generation-partitioned table:
    *
    *   1. gen=0 — the stable clustered base (range-partitioned, sorted,
    *      disjoint file spans), 90% of orders;
    *   2. gen=1 — a small unsorted DELTA ingested beside it (the
    *      append-only reality every clustered table lives with: its spans
    *      overlap everything);
    *   3. the incremental OPTIMIZE — re-cluster ONLY the delta (the read
    *      is path-scoped to gen=1, so the maintenance job's cost is
    *      delta-sized, never table-sized — the entire liquid-clustering
    *      pitch) into sorted gen=2 files and retire gen=1.
    *
    * The gate proves the three invariants a table service must hold:
    * the rollup over the final table equals the canonical orders rollup
    * (no row lost or duplicated across the generation swap), `stable_ok`
    * asserts gen=0's files are BYTE-UNTOUCHED after the optimize (name,
    * length, SHA-256 content hash captured before, compared after —
    * rewriting the stable base is the failure mode that makes naive
    * OPTIMIZE O(table)), and
    * `gens_ok` asserts every surviving generation is internally
    * span-disjoint (each generation prunes like [[rangeLayout]]; cross-gen
    * overlap is the accepted liquid trade until the next full rewrite).
    * Proven once at write time and persisted in a `_LIQUID` marker inside
    * the write-once body, so a complete cache always carries its verdict.
    *
    * Scale shape: the base write is one range exchange; the optimize is
    * one delta-sized range exchange plus driver-side fs metadata; the
    * final read is a plain clustered scan. Nothing rescans the base.
    */
  val liquidLayout: QueryDef = QueryDef(
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(${centsSql("o_totalprice")}) AS BIGINT) AS rev_c,
       |       TRUE AS stable_ok, TRUE AS gens_ok
       |FROM orders GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
    import graft.sources.FileSources
    val out = FileSources.cacheDir("liquidlayout", dir, "orders.parquet")
    val marker = java.nio.file.Paths.get(out, "_LIQUID")
    // Per-file CONTENT hash, not (length, mtime) (ADVICE r13 #4): mtime has
    // filesystem granularity (1 s on some FSs), so a same-size rewrite
    // landing inside the granularity window would falsely pass the
    // byte-untouched assertion. The base is written immediately before the
    // optimize here, exactly the window where coarse mtimes collide. Cost:
    // one extra sequential read of the (deliberately small) stable base at
    // write time only — the assertion is proven once and persisted.
    def fileState(gen: Int): Map[String, (Long, String)] = {
      val d = new java.io.File(s"$out/data/gen=$gen")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".parquet"))
        .map { f =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          md.update(java.nio.file.Files.readAllBytes(f.toPath))
          f.getName -> ((f.length(), md.digest().map(b => f"$b%02x").mkString))
        }.toMap
    }
    def genDisjoint(gen: Int): Boolean =
      spansDisjoint(spark, s"$out/data/gen=$gen", "o_orderkey")
    FileSources.writeOnce(out) { (_, _) =>
      val orders = spark.read.parquet(t(dir, "orders"))
      def writeGen(df: DataFrame, gen: Int, nParts: Int, sorted: Boolean): Unit = {
        val ranged =
          if (sorted) df.repartitionByRange(nParts, col("o_orderkey"))
            .sortWithinPartitions(col("o_orderkey"))
          else df.repartition(nParts)
        ranged.withColumn("gen", lit(gen))
          .write.partitionBy("gen")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .parquet(s"$out/data")
      }
      // 1. stable clustered base + 2. unsorted delta beside it
      writeGen(orders.filter(col("o_orderkey") % 10 =!= 0), gen = 0, nParts = 8, sorted = true)
      writeGen(orders.filter(col("o_orderkey") % 10 === 0), gen = 1, nParts = 2, sorted = false)
      val stableBefore = fileState(0)
      // 3. incremental OPTIMIZE: path-scoped to the delta generation —
      // the base is never opened, so the job is delta-sized by construction
      writeGen(spark.read.parquet(s"$out/data/gen=1").drop("gen"),
        gen = 2, nParts = 2, sorted = true)
      FileSources.deleteRecursively(new java.io.File(s"$out/data/gen=1"))
      // The retirement MUST be verified (code-review r13 #3):
      // deleteRecursively ignores per-file failures, and a surviving gen=1
      // file would double-count the delta in every future read — with the
      // cache marked complete, permanently. Fail inside the body instead.
      require(!new java.io.File(s"$out/data/gen=1").exists(),
        s"could not retire $out/data/gen=1; clear the dir by hand and re-run")
      val stableOk = fileState(0) == stableBefore && stableBefore.nonEmpty
      val gensOk = genDisjoint(0) && genDisjoint(2)
      java.nio.file.Files.writeString(marker, s"$stableOk,$gensOk"): Unit
    }
    val Array(stableOk, gensOk) =
      java.nio.file.Files.readString(marker).trim.split(",").map(_.toBoolean)
    spark.read.parquet(s"$out/data")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("rev_c"))
      .withColumn("stable_ok", lit(stableOk))
      .withColumn("gens_ok", lit(gensOk))
  }

  /** Z-order (Morton-curve) clustering assignment + the zone maps it buys
    * — the data-layout pass behind Delta/Iceberg `OPTIMIZE ZORDER BY`:
    * quantize two columns to 8 bits each against their corpus min/max,
    * interleave the bits into a 16-bit Morton code, and roll up each
    * 256-code bucket's row count and PER-COLUMN min/max. The output IS the
    * zone map: because the curve preserves 2-D locality, every bucket
    * covers a narrow range of BOTH columns, so a predicate on EITHER
    * column prunes most buckets — which a single-column sort gives you for
    * one column only.
    *
    * Scale shape: the code assignment is pure in-row arithmetic at scan
    * speed (the min/max bounds are a broadcast 1-row frame); the rollup is
    * a map-side-combinable aggregate on a 256-value key. At 100 TB the
    * real OPTIMIZE would range-partition by the full z-code to write
    * files; everything measured here is that job minus the write.
    *
    * Bit arithmetic is expressed as `(x div 2^k) % 2` and `* 2^m` —
    * integer-exact and identical in both engines, no reliance on shift
    * operators — and compiles into one whole-stage-codegen projection.
    */
  val zorderLayout: QueryDef = {
    def zExpr(xq: String, yq: String, idiv: String): String =
      (0 until 8).map { k =>
        val p = 1L << k
        s"(($xq $idiv $p) % 2) * ${1L << (2 * k)} + (($yq $idiv $p) % 2) * ${1L << (2 * k + 1)}"
      }.mkString(" + ")
    QueryDef(
      s"""WITH bounds AS (SELECT min(l_partkey) AS xmin, max(l_partkey) AS xmax,
         |                       min(l_suppkey) AS ymin, max(l_suppkey) AS ymax
         |                FROM lineitem),
         |q AS (SELECT l_partkey, l_suppkey,
         |             (l_partkey - xmin) * 256 // (xmax - xmin + 1) AS xq,
         |             (l_suppkey - ymin) * 256 // (ymax - ymin + 1) AS yq
         |      FROM lineitem, bounds)
         |SELECT (${zExpr("xq", "yq", "//")}) // 256 AS zbucket,
         |       CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(l_partkey) AS BIGINT) AS min_pk,
         |       CAST(max(l_partkey) AS BIGINT) AS max_pk,
         |       CAST(min(l_suppkey) AS BIGINT) AS min_sk,
         |       CAST(max(l_suppkey) AS BIGINT) AS max_sk
         |FROM q GROUP BY zbucket""".stripMargin) { (spark, dir) =>
      val li = spark.read.parquet(t(dir, "lineitem"))
        .select(col("l_partkey"), col("l_suppkey"))
      val bounds = li.agg(
        min(col("l_partkey")).as("xmin"), max(col("l_partkey")).as("xmax"),
        min(col("l_suppkey")).as("ymin"), max(col("l_suppkey")).as("ymax"))
      li.crossJoin(broadcast(bounds))
        .withColumn("xq", expr("(l_partkey - xmin) * 256 div (xmax - xmin + 1)"))
        .withColumn("yq", expr("(l_suppkey - ymin) * 256 div (ymax - ymin + 1)"))
        .withColumn("zbucket", expr(s"(${zExpr("xq", "yq", "div")}) div 256"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"),
          min(col("l_suppkey")).as("min_sk"), max(col("l_suppkey")).as("max_sk"))
    }
  }

  /** The data-skipping READ path that [[zorderLayout]]'s layout buys —
    * the full OPTIMIZE → stats → prune loop, end to end: lineitem is
    * physically rewritten partitioned by its Morton bucket (write-once,
    * fingerprint-cached), the per-bucket zone map (min/max l_partkey) is
    * consulted on the driver exactly as an Iceberg/Delta planner consults
    * manifests (a 256-row collect — that IS the planning step), and the
    * query scans ONLY the qualifying buckets: static partition pruning,
    * visible as `PartitionFilters` in the plan (PlanSpec-pinned). The
    * oracle answers the same predicate from the flat table, so a pruning
    * bug that drops rows goes red — correctness of skipping, not just
    * speed, is what the gate checks.
    *
    * The predicate targets the bottom 1/16th of the l_partkey range;
    * because the curve interleaves 8 bits of each key, only buckets whose
    * x-quantile prefix matches survive — a single-column predicate
    * pruning a two-column layout, which is the property a plain sort
    * cannot give both columns.
    */
  val zorderPrune: QueryDef = QueryDef(
    """SELECT CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(l_suppkey) AS BIGINT) AS sum_sk
      |FROM lineitem
      |WHERE l_partkey <= (SELECT min(l_partkey) +
      |                           (max(l_partkey) - min(l_partkey)) // 16
      |                    FROM lineitem)""".stripMargin) { (spark, dir) =>
    import graft.sources.ZonedParquet
    val z = ZonedParquet.cluster(spark, dir, "lineitem", "l_partkey", "l_suppkey")
    val hi = z.xMin + (z.xMax - z.xMin) / 16 // the planning predicate bound
    ZonedParquet.prunedScan(z, "l_partkey", hi)
      .agg(count(lit(1)).as("n"), sum(col("l_suppkey")).as("sum_sk"))
  }

  /** The LAYOUT-AWARE JOIN the reusable [[graft.sources.ZonedParquet]]
    * helper exists for (VERDICT r10 #7): the dimension-side predicate
    * (`p_partkey` in the bottom 1/16th of the key range) prunes the FACT
    * side's Morton buckets through the zone map BEFORE the join — the
    * star-join companion to [[zorderPrune]]'s plain scan. The shape at
    * 100 TB: consult planner-sized zone metadata, scan only qualifying
    * fact buckets (static `PartitionFilters`), broadcast the filtered
    * dimension, aggregate by brand. The oracle answers the identical join
    * from the flat tables, so zone-map pruning that dropped a matching
    * fact row would go red — skip-correctness under a JOIN, which the
    * prune row alone cannot witness.
    */
  val zorderJoin: QueryDef = QueryDef(
    """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(l_suppkey) AS BIGINT) AS sum_sk
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_partkey <= (SELECT min(l_partkey) +
      |                           (max(l_partkey) - min(l_partkey)) // 16
      |                    FROM lineitem)
      |GROUP BY p_brand""".stripMargin) { (spark, dir) =>
    import graft.sources.ZonedParquet
    val z = ZonedParquet.cluster(spark, dir, "lineitem", "l_partkey", "l_suppkey")
    val hi = z.xMin + (z.xMax - z.xMin) / 16
    val dim = spark.read.parquet(t(dir, "part"))
      .filter(col("p_partkey") <= hi)
      .select(col("p_partkey"), col("p_brand"))
    ZonedParquet.prunedScan(z, "l_partkey", hi)
      .join(broadcast(dim), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), sum(col("l_suppkey")).as("sum_sk"))
  }

  /** Exchange reuse — each language's share of the hottest language's
    * doc count, in which the per-language aggregate feeds BOTH the output
    * rows and the global max: Catalyst plans the heavy exchange ONCE and
    * wires a ReusedExchange into the second consumer (PlanSpec-pinned).
    * At 100 TB this is the difference between one corpus aggregation and
    * two — the optimizer feature that makes "compare each group to the
    * global extreme" affordable without manual caching.
    */
  val reusedExchange: QueryDef = QueryDef(
    """WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang)
      |SELECT lang, CAST(n AS BIGINT) AS n,
      |       CAST(n * 1000000 // (SELECT max(n) FROM counts) AS BIGINT)
      |         AS share_ppm_of_max
      |FROM counts""".stripMargin) { (spark, dir) =>
    val counts = spark.read.parquet(t(dir, "documents"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val mx = counts.agg(max(col("n")).as("mx"))
    counts.crossJoin(broadcast(mx))
      .select(col("lang"), col("n"),
        expr("n * 1000000 div mx").as("share_ppm_of_max"))
  }

  /** Join-strategy hint — forcing a shuffled HASH join where Catalyst's
    * default for two large sides is sort-merge: orders⋈lineitem with
    * `SHUFFLE_HASH` on the orders side builds a hash map per partition
    * instead of sorting BOTH sides — the right call whenever one side
    * comfortably fits a partition's memory, because it deletes two
    * O(n log n) sorts from the hot path (and is exactly the knob a 100 TB
    * job reaches for when the build side is mid-sized: big enough that
    * broadcast would OOM the driver, small enough to hash per-partition).
    * PlanSpec pins ShuffledHashJoin in the plan — without the hint this
    * exact query plans a SortMergeJoin — and the oracle answers the plain
    * join, so the strategy swap is proven result-identical.
    */
  val joinHints: QueryDef = QueryDef(
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority""".stripMargin) { (spark, dir) =>
    val orders = spark.read.parquet(t(dir, "orders"))
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .hint("SHUFFLE_HASH")
    val li = spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_orderkey"), col("l_quantity"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
  }

  /** The denormalized star-schema rollup (TPC-H Q5's join topology):
    * region → nation → customer → orders → lineitem, revenue-ish rollup
    * per (region, nation). The snowflake dimension chain
    * (region⋈nation⋈customer) narrows to (c_custkey, n_name, r_name);
    * nation and region are explicitly broadcast (bounded at 25/5 rows
    * at every scale), but the customer-sized frame carries NO hint
    * (ADVICE r11): at 100 TB customer is itself tens of GBs, so the
    * planner must keep the option of co-shuffling orders⋈customer —
    * AQE broadcasts it anyway when its runtime size clears the
    * threshold (it does at test SFs), and falls back to a shuffle join
    * when it does not. The only unavoidable wide exchange is the
    * orders⋈lineitem key join, exactly the one that carries data
    * volume; the rollup is map-side combinable on a 25-nation key
    * space.
    */
  val starWide: QueryDef = QueryDef(
    """SELECT r_name, n_name, CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM region
      |JOIN nation ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY r_name, n_name""".stripMargin) { (spark, dir) =>
    val dims = spark.read.parquet(t(dir, "customer"))
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(spark.read.parquet(t(dir, "nation"))
        .join(broadcast(spark.read.parquet(t(dir, "region"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"), col("r_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    val orders = spark.read.parquet(t(dir, "orders"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("n_name"), col("r_name"))
    spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_orderkey"), col("l_quantity"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).cast("long").as("sum_qty"))
  }

  /** Order-independent table checksum — the migration-validation primitive
    * for exactly this project's job (did the new engine load the same
    * table the old one had?): each row serializes canonically
    * (`|`-joined key/flag columns, quantity as integer), fingerprints
    * through the codegen'd poly_hash, and the table folds to (count,
    * XOR of fingerprints, min, max). XOR is the scale-correct combiner:
    * commutative/associative (partition-order free), never overflows at
    * ANY row count (a SUM of 2^31-bounded fingerprints would overflow
    * int64 near 4·10^9 rows), and map-side combinable — the whole check
    * is one scan plus a 1-row aggregate. Two tables agree on all four
    * values ⇒ overwhelmingly likely the same multiset of rows; the gate
    * literally runs the cross-engine case (Spark vs DuckDB over the same
    * parquet).
    */
  val tableChecksum: QueryDef = QueryDef(
    s"""SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |       CAST(bit_xor(fp) AS BIGINT) AS xor_fp,
       |       CAST(min(fp) AS BIGINT) AS min_fp,
       |       CAST(max(fp) AS BIGINT) AS max_fp
       |FROM (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
       |               list_transform(string_split(s, ''),
       |                              c -> CAST(ascii(c) AS BIGINT))),
       |             (a, b) -> (a * 31 + b) % ${graft.functions.PolyHash.P}) AS fp
       |      FROM (SELECT CAST(l_orderkey AS VARCHAR) || '|' ||
       |                   CAST(l_partkey AS VARCHAR) || '|' ||
       |                   CAST(l_suppkey AS VARCHAR) || '|' ||
       |                   CAST(l_linenumber AS VARCHAR) || '|' ||
       |                   l_returnflag || '|' || l_linestatus || '|' ||
       |                   CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS s
       |            FROM lineitem) r) f""".stripMargin) { (spark, dir) =>
    import graft.functions.PolyHash
    val rows = spark.read.parquet(t(dir, "lineitem"))
      .select(concat_ws("|",
        col("l_orderkey").cast("string"), col("l_partkey").cast("string"),
        col("l_suppkey").cast("string"), col("l_linenumber").cast("string"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").cast("string")).as("s"))
    rows.select(PolyHash.polyHash(spark, "s").as("fp"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(fp)").as("xor_fp"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"))
  }

  /** Market-basket co-occurrence: top 20 supplier pairs by the number of
    * orders both appear in — the recommendation/affinity primitive. The
    * scale-critical choice is HOW pairs materialize: not a self-join
    * (which shuffles the fact table twice and rejoins it on the hot key)
    * but the LSH-bucket technique — one groupBy(order) collecting the
    * distinct sorted supplier set, then IN-ROW pair expansion
    * (`flatten(transform(...))`) and one pair-keyed count. Per-order
    * fan-out is bounded by the basket size (k items → k(k-1)/2 pairs, a
    * few dozen), so the expansion never goes quadratic in the table; the
    * oracle states the same relation as a plain self-join, proving the
    * in-row expansion equivalent.
    */
  val copurchase: QueryDef = QueryDef(
    """WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      |SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
      |       CAST(count(*) AS BIGINT) AS n_orders
      |FROM os a JOIN os b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |GROUP BY 1, 2 ORDER BY n_orders DESC, supp_a, supp_b LIMIT 20""".stripMargin) {
    (spark, dir) =>
    // Widen.byKey (optimization r16, guide §2.2/§2.5): the basket
    // exchange at full width so the in-row pair expansion reading it is
    // not packed into a few tasks by AQE's byte-based coalescing (the
    // expansion amplifies rows ~C(k,2)-fold, which AQE cannot see).
    val baskets = Widen.byKey(
        spark.read.parquet(t(dir, "lineitem"))
          .select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_suppkey"))).as("ss"))
    Pairs.ordered(baskets, "ss", "supp_a", "supp_b")
      .groupBy(col("supp_a"), col("supp_b"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("supp_a"), col("supp_b"))
      .limit(20)
  }

  /** Runtime bloom-filter join pruning — the THIRD runtime optimizer
    * surface beside DPP (`q_join_dpp`) and exchange reuse
    * (`q_reused_exchange`): when a selective dimension filter feeds a
    * SHUFFLE join (the dimension too large or the planner unwilling to
    * broadcast), Spark builds a bloom filter over the dimension's join
    * keys at runtime and pushes `might_contain` onto the fact side —
    * fact rows that cannot match are dropped BEFORE the shuffle, which at
    * 100 TB is the difference between shuffling the whole fact table and
    * shuffling the ~2% that survives. The injection thresholds are sized
    * for real clusters (application side > 10 GB), so this row pins the
    * conf surface at toy scale by executing under
    * `applicationSideScanSizeThreshold = 0` with broadcast disabled;
    * the run happens INSIDE the conf scope (the observeMetrics pattern —
    * runtime-filter planning reads the conf at execution, so a lazily
    * returned frame would escape it) and the gate row is the collected
    * 1-row aggregate. PlanSpec pins `might_contain` in the executed plan;
    * the oracle answers the plain join, so the filter is proven
    * result-neutral.
    */
  val runtimeFilter: QueryDef = QueryDef(
    """SELECT CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size <= 5""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val row = withRuntimeFilterConfs(spark) {
      runtimeFilterFrame(spark, dir).collect()(0)
    }
    Seq((row.getLong(0), row.getLong(1))).toDF("n_items", "sum_qty")
  }

  /** Conf scope for [[runtimeFilter]]: bloom injection thresholds sized to
    * fire at toy scale, broadcast disabled so the join actually shuffles
    * (a broadcast join needs no runtime filter). All confs restore on
    * exit — safe because every consumer executes INSIDE the scope.
    */
  private[queries] def withRuntimeFilterConfs[T](spark: SparkSession)(body: => T): T =
    Confs.withConfs(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  /** The joined aggregate behind [[runtimeFilter]], shared with the
    * PlanSpec pin (which asserts `might_contain` on the EXECUTED plan —
    * AQE materializes the bloom subquery at runtime).
    */
  private[queries] def runtimeFilterFrame(spark: SparkSession, dir: String): DataFrame = {
    val dim = spark.read.parquet(t(dir, "part"))
      .filter(col("p_size") <= 5)
      .select(col("p_partkey"))
    spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_partkey"), col("l_quantity"))
      .join(dim, col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("sum_qty"))
  }

  /** Exact per-group median without an approximate sketch — the integer
    * form every SLA/percentile report wants when the group is small enough
    * to sort: the LOWER median (k-th smallest, k = (n+1) div 2) of
    * document length per language, spelled as a rank filter so both
    * engines pick the identical element (no interpolation, no doubles).
    * Complements `q_approx_quantiles` (the sketch path for groups too
    * large to sort): per-group sort IS the honest cost here, and the
    * lang-partitioned window is key-bounded — L sorts of n_l rows, never
    * a global sort.
    */
  val groupMedian: QueryDef = QueryDef(
    """SELECT lang, CAST(n AS BIGINT) AS n_docs,
      |       CAST(n_chars AS BIGINT) AS median_chars
      |FROM (SELECT lang, n_chars,
      |             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |             count(*) OVER (PARTITION BY lang) AS n
      |      FROM documents) r
      |WHERE rn = (n + 1) // 2""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byLen = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    val all = Window.partitionBy(col("lang"))
    spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(byLen))
      .withColumn("n", count(lit(1)).over(all))
      .filter(expr("rn = (n + 1) div 2"))
      .select(col("lang"), col("n").as("n_docs"), col("n_chars").as("median_chars"))
  }

  /** 2-D skyline (Pareto frontier): the parts no other part dominates on
    * (size, price) — q dominates p when q is ≤ on both coordinates and
    * strictly < on at least one (identical points therefore co-survive).
    * Price in exact integer cents (the file's money rule). The oracle
    * states dominance directly (NOT EXISTS — quadratic, fine for an
    * oracle); the engine runs the O(n + |sizes| log |sizes|) sweep:
    * per-size minimum price (one 50-key aggregate), a running strict
    * minimum over the sorted SIZE DOMAIN (a window over ≤ |distinct
    * sizes| rows — domain-sized, never data-sized; the one place a
    * single-partition window is justified), then one broadcast join back.
    * A point survives iff it carries its size's min price AND that price
    * strictly undercuts every smaller size's minimum.
    */
  val skyline: QueryDef = QueryDef(
    """WITH pts AS (
      |  SELECT p_partkey, p_size,
      |         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM part)
      |SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size, cents
      |FROM pts p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts q
      |  WHERE q.p_size <= p.p_size AND q.cents <= p.cents
      |    AND (q.p_size < p.p_size OR q.cents < p.cents))""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val pts = spark.read.parquet(t(dir, "part"))
      .select(col("p_partkey"), col("p_size"),
        expr("CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val bySize = Window.orderBy(col("p_size"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sizeStats = pts.groupBy(col("p_size")).agg(min(col("cents")).as("minc"))
      .withColumn("prev_min", min(col("minc")).over(bySize))
    pts.join(broadcast(sizeStats), Seq("p_size"))
      .filter(col("cents") === col("minc") &&
        (col("prev_min").isNull || col("cents") < col("prev_min")))
      .select(col("p_partkey"), col("p_size").cast("long").as("p_size"), col("cents"))
  }

  /** ANALYZE TABLE — the statistics pass a cost-based optimizer consumes:
    * per-column distinct counts, null counts, and min/max over one scan,
    * emitted as (column, stat...) rows via an UNPIVOT of a single
    * multi-aggregate row. The multi-distinct aggregate plans through
    * Spark's Expand operator (one scan fanned to one stream per distinct
    * column — the standard multi-count-distinct strategy); at 100 TB each
    * exact NDV swaps for `approx_count_distinct`'s HLL with this same
    * query shape, which is precisely what `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS` runs underneath.
    */
  val analyzeStats: QueryDef = QueryDef(
    """WITH s AS (
      |  SELECT count(*) AS n_rows,
      |         count(DISTINCT l_orderkey) AS ndv_orderkey,
      |         count(DISTINCT l_partkey) AS ndv_partkey,
      |         count(DISTINCT l_suppkey) AS ndv_suppkey,
      |         count(DISTINCT l_returnflag) AS ndv_returnflag,
      |         min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey
      |  FROM lineitem)
      |SELECT col,
      |       CAST(CASE col WHEN 'l_orderkey' THEN ndv_orderkey
      |                     WHEN 'l_partkey' THEN ndv_partkey
      |                     WHEN 'l_suppkey' THEN ndv_suppkey
      |                     ELSE ndv_returnflag END AS BIGINT) AS ndv,
      |       CAST(n_rows AS BIGINT) AS n_rows,
      |       CAST(min_partkey AS BIGINT) AS min_partkey,
      |       CAST(max_partkey AS BIGINT) AS max_partkey
      |FROM s, (VALUES ('l_orderkey'), ('l_partkey'), ('l_suppkey'),
      |                ('l_returnflag')) c(col)""".stripMargin) {
    (spark, dir) =>
    val s = spark.read.parquet(t(dir, "lineitem"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("ndv_orderkey"),
        countDistinct(col("l_partkey")).as("ndv_partkey"),
        countDistinct(col("l_suppkey")).as("ndv_suppkey"),
        countDistinct(col("l_returnflag")).as("ndv_returnflag"),
        min(col("l_partkey")).as("min_partkey"),
        max(col("l_partkey")).as("max_partkey"))
    s.select(expr(
      """stack(4,
        |  'l_orderkey', ndv_orderkey,
        |  'l_partkey', ndv_partkey,
        |  'l_suppkey', ndv_suppkey,
        |  'l_returnflag', ndv_returnflag) AS (col, ndv)""".stripMargin),
      col("n_rows"), col("min_partkey"), col("max_partkey"))
      .select(col("col"), col("ndv"), col("n_rows"),
        col("min_partkey"), col("max_partkey"))
  }


  /** The CATALOG statistics surface — `CREATE TABLE` + `ANALYZE TABLE
    * ... COMPUTE STATISTICS FOR COLUMNS` + reading the stats back from
    * `DESCRIBE EXTENDED`: the persistence layer that turns
    * [[analyzeStats]]' ad-hoc profile into what the cost-based optimizer
    * actually consumes (join reorder, broadcast selection, cardinality
    * estimates — PlanSpec pins that a CBO filter estimate derived from
    * these stats lands near truth). Gate discipline: min/max/null-count
    * and the row count are EXACT in the catalog and hash directly;
    * `distinct_count` is HyperLogLog-approximate by design, so it gates
    * as a within-5%-of-truth boolean (the approxDistinct technique).
    *
    * Scale shape: ANALYZE is one scan + one combinable aggregate per
    * table — the same pass a 100 TB warehouse schedules nightly; the
    * DESCRIBE read-back is pure catalog metadata (driver-side strings,
    * no data motion), which is the point: the optimizer prices a join
    * without touching the data. Tables are dropped and re-created per
    * call so a testdata regeneration can never serve stale stats.
    */
  val catalogStats: QueryDef = QueryDef(
    """WITH s AS (SELECT count(*) AS n,
      |                  min(o_orderkey) AS mino, max(o_orderkey) AS maxo,
      |                  min(o_custkey) AS minc, max(o_custkey) AS maxc
      |           FROM orders)
      |SELECT col,
      |       CAST(CASE col WHEN 'o_orderkey' THEN mino ELSE minc END AS BIGINT) AS min_v,
      |       CAST(CASE col WHEN 'o_orderkey' THEN maxo ELSE maxc END AS BIGINT) AS max_v,
      |       CAST(0 AS BIGINT) AS n_nulls,
      |       CAST(n AS BIGINT) AS n_rows,
      |       TRUE AS ndv_ok
      |FROM s, (VALUES ('o_custkey'), ('o_orderkey')) c(col)""".stripMargin) {
    (spark, dir) =>
    import spark.implicits._
    val db = "graft_cbo"
    // Table identity follows the DIR (ADVICE r12 #5): a fixed name +
    // DROP-then-CREATE races against another session (or a concurrent run
    // of this row) sharing the metastore — one side reads stats ANALYZEd
    // over the other side's dir. The cacheDir fingerprint (sanitized path
    // + file length·31 + mtime hex) keys the table to the exact input, so
    // concurrent dirs use disjoint names and a regenerated testdata file
    // gets a fresh table instead of stale stats. The session-level
    // ndv.maxError flip below remains single-session-scoped by nature —
    // it only distorts a CONCURRENT ANALYZE in this same session, which
    // the per-dir naming already serializes per input.
    def mkTbl() = {
      val fp = graft.sources.FileSources.fingerprint(new java.io.File(t(dir, "orders")))
      s"$db.orders_${dir.replaceAll("[^A-Za-z0-9]", "_")}_$fp"
    }
    val tbl = mkTbl()
    val cols = Seq("o_orderkey", "o_custkey")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // Best-effort reclaim of ORPHANED siblings: the finally below only
    // cleans up in-process — a JVM killed between CREATE and the finally
    // leaves its fingerprinted table behind, and since fingerprinted names
    // never collide, no future DROP-then-CREATE would ever reclaim it.
    // writeOnce's stale-sibling rule decides (same dir prefix, DIFFERENT
    // hex suffix → stale by construction: an orphan, or a concurrent run
    // over a REGENERATED input). Same-name tables are left to the
    // DROP-then-CREATE below. Catalog identifiers come back LOWERCASED
    // from SHOW TABLES, so the live name is lowercased to match.
    locally {
      val live = tbl.stripPrefix(s"$db.").toLowerCase(java.util.Locale.ROOT)
      scala.util.Try {
        spark.sql(s"SHOW TABLES IN $db").collect().foreach { r =>
          val name = r.getAs[String]("tableName")
          if (graft.sources.FileSources.isStaleSibling(name, live))
            scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS $db.$name")): Unit
        }
      }: Unit
    }
    // One attempt = DROP-then-CREATE, ANALYZE, read back, finally DROP.
    // DROP rides a finally (code-review r13): the fixed-name scheme
    // self-healed leaks via next run's DROP-then-CREATE; fingerprinted
    // names never collide again, so any failure between CREATE and the
    // read-back (ANALYZE error, missing Statistics line) must clean up
    // here or the orphan accumulates in the shared metastore forever.
    def analyzeOnce(tbl: String) = {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl USING parquet LOCATION '${t(dir, "orders")}'")
      try {
        // ANALYZE's NDV sketch obeys spark.sql.statistics.ndv.maxError as a
        // RELATIVE STANDARD DEVIATION (default 0.05) — a 1σ parameter, not a
        // bound, so a 5% gate band over a 5% σ flaps (observed: the unique
        // o_orderkey column missed by >5% at sf0.001). Pin σ to 1% for the
        // duration of the ANALYZE so the 5% band is a ≥5σ envelope.
        Confs.withConfs(spark, "spark.sql.statistics.ndv.maxError" -> "0.01") {
          spark.sql(
            s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS ${cols.mkString(", ")}"): Unit
        }
        // exact truths for the approximate-NDV band (one aggregate, the same
        // anchor pattern as approxDistinct)
        val truth = spark.table(s"$tbl")
          .agg(count(lit(1)), countDistinct(col("o_orderkey")), countDistinct(col("o_custkey")))
          .collect()(0)
        val exactNdv = Map("o_orderkey" -> truth.getLong(1), "o_custkey" -> truth.getLong(2))
        // n_rows is read back from the CATALOG's Statistics line ("N bytes,
        // M rows"), not re-counted — the value the CBO consumes is the value
        // under test (code-review r12: the first cut hashed a fresh count and
        // never read the stored statistic)
        val statLine = spark.sql(s"DESCRIBE EXTENDED $tbl")
          .collect().collectFirst {
            case r if r.getString(0) == "Statistics" => r.getString(1)
          }.getOrElse(sys.error("ANALYZE left no Statistics entry in the catalog"))
        val nRows = "(\\d+) rows".r.findFirstMatchIn(statLine)
          .map(_.group(1).toLong)
          .getOrElse(sys.error(s"no row count in catalog statistics: $statLine"))
        cols.map { c =>
          val kv = spark.sql(s"DESCRIBE EXTENDED $tbl $c")
            .collect().map(r => r.getString(0) -> r.getString(1)).toMap
          val ndv = kv("distinct_count").toLong
          (c, kv("min").toLong, kv("max").toLong, kv("num_nulls").toLong, nRows,
            math.abs(ndv - exactNdv(c)) <= exactNdv(c) * 0.05)
        }
      } finally {
        // Try-wrapped (code-review r13 #2): if the metastore broke mid-ANALYZE,
        // the DROP fails for the same reason — propagating ITS exception would
        // mask the root-cause diagnostic the finally exists to clean up after.
        scala.util.Try(spark.sql(s"DROP TABLE IF EXISTS $tbl")): Unit
      }
    }
    // One retry on a FRESH fingerprint (ADVICE r15): a concurrent run over
    // a regenerated input legitimately reclaims this run's table mid-ANALYZE
    // — our name carries the old file's fingerprint, which the sibling rule
    // marks stale by construction. The retry fires ONLY when recomputing
    // the fingerprint yields a DIFFERENT name (the input really was
    // regenerated — the race's signature); an unchanged fingerprint means
    // the failure is deterministic (broken metastore, missing Statistics
    // line) and re-running the identical attempt would just duplicate it
    // (code-review r15). If the retry fails too, the first failure rides
    // along as a suppressed exception so the root cause survives.
    val rows = try analyzeOnce(tbl) catch {
      case scala.util.control.NonFatal(e1) =>
        val fresh = mkTbl()
        if (fresh == tbl) throw e1
        try analyzeOnce(fresh) catch {
          case scala.util.control.NonFatal(e2) => e2.addSuppressed(e1); throw e2
        }
    }
    rows.toDF("col", "min_v", "max_v", "n_nulls", "n_rows", "ndv_ok")
  }

  /** The SQL front door — the same engine surface every BI tool and ad-hoc
    * analyst uses: temp views registered over the parquet tables, then the
    * query submitted as TEXT through `spark.sql`, not the DataFrame DSL.
    * The statement is TPC-H Q3's shape (segment-filtered customers ⋈
    * orders ⋈ lineitem, unshipped-revenue rollup, top 10) made
    * integer-exact (price cents × (100 − discount bp) — the engines'
    * float sums never meet the hash gate). The SAME string is the oracle,
    * so the row proves Spark's SQL parser/analyzer path and DuckDB agree
    * on an ANSI join-agg-topk statement verbatim.
    *
    * Scale shape: identical to the DataFrame rows — Catalyst plans text
    * and DSL into the same logical algebra (filters pushed to the scans,
    * AQE free to broadcast the filtered customer side, map-side partial
    * aggregation, TakeOrderedAndProject for the top-k). Nothing about
    * using SQL text costs anything at 100 TB.
    */
  val sqlApi: QueryDef = {
    val stmt =
      """SELECT o_orderkey,
        |       CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
        |                * (100 - CAST(floor(l_discount*100 + 0.5) AS BIGINT))) AS BIGINT) AS revenue_i,
        |       o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1996-06-30'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue_i DESC, o_orderkey LIMIT 10""".stripMargin
    QueryDef(stmt) { (spark, dir) =>
      val names = Seq("customer", "orders", "lineitem")
      names.foreach { name =>
        spark.read.parquet(t(dir, name)).createOrReplaceTempView(name)
      }
      val df = spark.sql(stmt)
      // Dataset creation analyzes eagerly, so the view references are
      // already resolved to this dir's relations — drop the views before
      // returning (code-review r12): leaving dir-bound names like
      // `lineitem` registered in the shared session would silently serve
      // a STALE dir to any later ad-hoc SQL after a dir switch (the
      // SessionMemo eviction discipline, applied to the catalog).
      names.foreach(spark.catalog.dropTempView)
      df
    }
  }

  /** Incremental aggregate maintenance — the materialized-view refresh
    * primitive: the per-type (count, cents) rollup is computed as two
    * independent PARTIAL aggregates (events up to a cutoff = the
    * "materialized" state, events after it = the delta batch) and then
    * MERGED by summing the partials, never rescanning the base. The gate
    * hashes the merged state against the oracle's one-shot full
    * aggregate — the algebraic identity (count and sum are commutative
    * monoids) that makes incremental refresh sound is what is being
    * verified. The cutoff is the events' midpoint timestamp, a 1-row
    * driver aggregate (planning state, like the zone-map consult).
    *
    * Scale shape: THE pattern for 100 TB rollups — the base state is
    * key-sized (|event types|), only the delta is data-sized, and each
    * refresh costs one scan of the new partition plus a key-sized merge.
    * Both partial aggregates here map-side combine to 5 rows before any
    * exchange.
    */
  val incrAgg: QueryDef = QueryDef(
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
    val ev = Events.readEvents(spark, dir)
      .select(col("event_type"), col("tus"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val Array(mid) = ev.agg(
      expr("(min(tus) + max(tus)) div 2")).collect().map(_.getLong(0))
    def partial(f: org.apache.spark.sql.Column) = ev.filter(f)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    partial(col("tus") <= mid).unionAll(partial(col("tus") > mid))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
  }

  /** Custom typed Aggregator through the `udaf` registration path — the
    * per-type second-moment sufficient statistics from
    * [[graft.functions.IntMoments]]'s (n, Σx, Σx²) monoid buffer. The row
    * pins BOTH halves of the extension surface: the Aggregator's merge
    * must be associative (the gate compares against DuckDB's one-shot
    * expressions, so a broken partial-merge — the classic UDAF bug —
    * shows up as a wrong value, not a green compile), and the plan must
    * still map-side combine (PlanSpec pins the partial/final
    * ObjectHashAggregate pair).
    *
    * The gate values are the RAW statistics, not the derived variance
    * numerator n·Σx² − (Σx)² (code-review r12): that product wraps int64
    * near n ≈ 4·10⁵ per group at this data's cents magnitude — right
    * where a larger SF would land — while Σx² itself stays in range to
    * ~2.5·10⁹ rows per group. The consumer derives the numerator in
    * whatever width it needs (DECIMAL(38) in SQL, i128 downstream);
    * shipping sufficient statistics and deferring the wide arithmetic is
    * exactly how the 100 TB rollup avoids silent wraparound.
    */
  val typedAgg: QueryDef = QueryDef(
    """WITH c AS (SELECT event_type,
      |             CAST(floor(value*100 + 0.5) AS BIGINT) AS cents FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(cents) AS BIGINT) AS sum_cents,
      |       CAST(sum(cents*cents) AS BIGINT) AS sumsq_cents
      |FROM c GROUP BY 1""".stripMargin) { (spark, dir) =>
    val moments = udaf(graft.functions.IntMoments)
    // Events.readEvents, not a raw parquet read: ts itself is unused, but
    // a NANOS-encoded schema is rejected unread without the conf pins it
    // applies (the cube_ rule above).
    Events.readEvents(spark, dir)
      .select(col("event_type"),
        expr("CAST(floor(value*100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("event_type"))
      .agg(moments(col("cents")).as("m"))
      .select(col("event_type"), col("m._1").as("n"), col("m._2").as("sum_cents"),
        col("m._3").as("sumsq_cents"))
  }

  /** Null-safe equality join (`<=>` vs the oracle's IS NOT DISTINCT FROM)
    * — the semantics pin for the one join predicate where engines
    * genuinely disagree by default: under plain `=` the NULL-keyed group
    * silently vanishes from the join (NULL = NULL is NULL), which in a
    * curation pipeline is a dropped "unknown source" bucket that no row
    * count ever flags. Both sides aggregate the events table under a
    * NULLable key (the 'error' type mapped to NULL, standing in for the
    * unparseable-key case); the gate proves the NULL row survives with
    * identical counts in both engines.
    *
    * Scale shape: identical to any key join — `<=>` hashes NULL as an
    * ordinary key value, so the null bucket routes to one partition like
    * any other key (a hot null bucket is the salted-join case, already
    * in the repertoire).
    */
  val nullSafeJoin: QueryDef = QueryDef(
    """WITH a AS (SELECT nullif(event_type,'error') AS k,
      |             CAST(count(*) AS BIGINT) AS n_all FROM events GROUP BY 1),
      |b AS (SELECT nullif(event_type,'error') AS k,
      |        CAST(count(*) AS BIGINT) AS n_hi FROM events WHERE value > 50 GROUP BY 1)
      |SELECT a.k, n_all, n_hi FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k""".stripMargin) {
    (spark, dir) =>
    val ev = Events.readEvents(spark, dir) // conf-pin rule, ts unused
      .select(expr("nullif(event_type, 'error')").as("k"), col("value"))
    val a = ev.groupBy(col("k")).agg(count(lit(1)).as("n_all")).as("a")
    val b = ev.filter(col("value") > 50)
      .groupBy(col("k")).agg(count(lit(1)).as("n_hi")).as("b")
    a.join(b, col("a.k") <=> col("b.k"))
      .select(col("a.k").as("k"), col("n_all"), col("n_hi"))
  }

  /** Deterministic per-key uniform sampling by hash-argmin — the
    * distributed reservoir-sample analog: each user's representative
    * event is the one minimizing the codegen'd poly_hash of its id (a
    * fixed pseudo-random permutation), picked by a row_number window.
    * The production reason is DETERMINISM UNDER RETRY: `rand()`-based
    * per-key sampling resamples when a task re-executes, so a 100 TB job
    * with stragglers emits different rows on every attempt — a
    * lineage-breaking nondeterminism Spark explicitly warns about.
    * Hashing makes the sample a pure function of the data; the DuckDB
    * oracle replays the same hash fold and must land on the same rows.
    *
    * Scale shape: one user exchange, O(1) window state (rank-1 cuts at
    * the first row per key); swap row_number for min_by(struct) when the
    * key space dwarfs memory — same semantics, pure hash aggregate.
    */
  val hashSamplePerKey: QueryDef = QueryDef(
    s"""WITH f AS (
       |  SELECT user_id, event_id, event_type,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(string_split(CAST(event_id AS VARCHAR), ''),
       |                          c -> CAST(ascii(c) AS BIGINT))),
       |           (x, y) -> (x * 31 + y) % ${graft.functions.PolyHash.P}) AS fp
       |  FROM events),
       |r AS (SELECT user_id, event_id, event_type,
       |             row_number() OVER (PARTITION BY user_id ORDER BY fp, event_id) AS rn
       |      FROM f)
       |SELECT user_id, event_id, event_type FROM r WHERE rn = 1""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.functions.PolyHash
    val w = Window.partitionBy(col("user_id")).orderBy(col("fp"), col("event_id"))
    Events.readEvents(spark, dir) // conf-pin rule, ts unused
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("event_id").cast("string").as("s"))
      .withColumn("fp", PolyHash.polyHash(spark, "s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
  }

  /** The ranking-window catalog in one gated row: row_number / rank /
    * dense_rank / ntile(2) over the same 5-row ordered frame (per-type
    * revenue totals), under a total order so ties cannot flap the hash.
    * ntile's uneven-split rule (front buckets get the remainder) is the
    * subtle cross-engine semantic being pinned; the rest guard the
    * catalog against regressions in one place instead of one row each.
    *
    * Scale shape: the window runs over a KEY-SIZED frame (the rollup
    * output, |types| rows) — ranking over raw events would be the
    * global-sort anti-pattern; ranking over the aggregate is free.
    */
  val rankFunctions: QueryDef = QueryDef(
    """WITH s AS (SELECT event_type,
      |             CAST(sum(CAST(floor(value*100+0.5) AS BIGINT)) AS BIGINT) AS cents
      |           FROM events GROUP BY 1)
      |SELECT event_type, cents,
      |       CAST(row_number() OVER o AS BIGINT) AS rn,
      |       CAST(rank() OVER o AS BIGINT) AS rk,
      |       CAST(dense_rank() OVER o AS BIGINT) AS drk,
      |       CAST(ntile(2) OVER o AS BIGINT) AS half
      |FROM s WINDOW o AS (ORDER BY cents DESC, event_type)""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val o = Window.orderBy(col("cents").desc, col("event_type"))
    Events.readEvents(spark, dir) // conf-pin rule, ts unused
      .groupBy(col("event_type"))
      .agg(expr("sum(CAST(floor(value*100+0.5) AS BIGINT))").as("cents"))
      .select(col("event_type"), col("cents"),
        row_number().over(o).cast("long").as("rn"),
        rank().over(o).cast("long").as("rk"),
        dense_rank().over(o).cast("long").as("drk"),
        ntile(2).over(o).cast("long").as("half"))
  }

  /** Item-item collaborative filtering — the classic co-occurrence
    * recommender: for each of the first 50 parts, the top-3 parts by
    * LIFT (co·10⁶ div (deg_u · deg_v), integer ppm — raw co-counts just
    * recommend whatever is popular; normalizing by both degrees is the
    * co-occurrence form of cosine/lift every production recommender
    * applies), ties broken (lift desc, co desc, v) for a total order.
    * The u < 50 cut keeps the gate output fixed-size; Catalyst pushes
    * it through the aggregate into the probe scan — the full-catalog
    * run is the same plan without the filter.
    *
    * Scale shape: the co-matrix builds from the order-keyed equi-join
    * (bounded per-order fan-out, the copurchase rule), degrees are
    * key-sized, the per-item top-k is the Partial WindowGroupLimit
    * shape (one candidate set per item pre-shuffle). Nothing
    * all-pairs: items never co-occurring never materialize.
    */
  val itemRecs: QueryDef = QueryDef(
    """WITH os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS MATERIALIZED (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v, CAST(count(*) AS BIGINT) AS co
      |  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      |  GROUP BY 1, 2),
      |deg AS (SELECT l_partkey AS x, CAST(count(*) AS BIGINT) AS d FROM os GROUP BY 1),
      |scored AS (
      |  SELECT co.u, co.v, co.co,
      |         CAST(co.co * 1000000 // (du.d * dv.d) AS BIGINT) AS lift_ppm
      |  FROM co JOIN deg du ON du.x = co.u JOIN deg dv ON dv.x = co.v),
      |r AS (SELECT u, v, co, lift_ppm,
      |             row_number() OVER (PARTITION BY u
      |                                ORDER BY lift_ppm DESC, co DESC, v) AS rn
      |      FROM scored)
      |SELECT u, v, co, lift_ppm FROM r WHERE rn <= 3 AND u < 50""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val os = spark.read.parquet(t(dir, "lineitem"))
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val co = os.select(col("l_orderkey"), col("l_partkey").as("u"))
      .join(os.select(col("l_orderkey"), col("l_partkey").as("v")), "l_orderkey")
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("co"))
    val deg = os.groupBy(col("l_partkey").as("x")).agg(count(lit(1)).as("d"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("lift_ppm").desc, col("co").desc, col("v"))
    co.join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(col("u"), col("v"), col("co"),
        expr("co * 1000000 div (du * dv)").as("lift_ppm"))
      .filter(col("u") < 50)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("u"), col("v"), col("co"), col("lift_ppm"))
  }

  /** k-anonymity audit (k = 5) over the (lang, source) quasi-identifier —
    * the privacy gate a release pipeline runs beside the PII scrub:
    * documents whose quasi-identifier combination matches fewer than k
    * rows are re-identification risks, and the release decision needs the
    * group count, the risky-group count, the affected row count, and the
    * worst group size in one row. FILTER-ed aggregates keep it one pass
    * over the key-sized group table.
    *
    * Scale shape: one data-sized rollup onto the quasi-identifier key
    * space, then a 1-row fold of that key-sized frame — at any corpus
    * size the audit costs one scan plus a |lang|·|source| aggregate.
    */
  val kAnonymity: QueryDef = QueryDef(
    """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |           FROM documents GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_groups,
      |       CAST(count(*) FILTER (WHERE n < 5) AS BIGINT) AS n_risky_groups,
      |       CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT) AS n_risky_docs,
      |       CAST(min(n) AS BIGINT) AS min_group
      |FROM g""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_groups"),
        count(when(col("n") < 5, 1)).as("n_risky_groups"),
        coalesce(sum(when(col("n") < 5, col("n"))), lit(0L)).as("n_risky_docs"),
        min(col("n")).as("min_group"))
  }

  /** Referential-integrity audit across the star schema's three FK edges
    * (lineitem→orders, orders→customer, customer⇢orders activity) — the
    * load-validation row every warehouse runs after ingest, stated as
    * NOT EXISTS in the oracle and planned as LEFT ANTI joins here (the
    * decontaminate rule: anti-join IS NOT EXISTS' null semantics). The
    * totals ride along so the zero orphan counts are visibly zero
    * against non-zero denominators, not a vacuous empty-input zero.
    *
    * Scale shape: three key joins, each broadcast or co-shuffled by AQE
    * on table size; counts are 1-row aggregates crossed via broadcast.
    */
  val fkIntegrity: QueryDef = QueryDef(
    """SELECT
      |  CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
      |        (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      |    AS orphan_lineitems,
      |  CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
      |        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
      |    AS orphan_orders,
      |  CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
      |        (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)) AS BIGINT)
      |    AS inactive_customers,
      |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitems,
      |  CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_orders,
      |  CAST((SELECT count(*) FROM customer) AS BIGINT) AS n_customers""".stripMargin) {
    (spark, dir) =>
    val li = spark.read.parquet(t(dir, "lineitem")).select(col("l_orderkey"))
    val o = spark.read.parquet(t(dir, "orders")).select(col("o_orderkey"), col("o_custkey"))
    val c = spark.read.parquet(t(dir, "customer")).select(col("c_custkey"))
    def one(df: org.apache.spark.sql.DataFrame, name: String) =
      broadcast(df.agg(count(lit(1)).as(name)))
    one(li.join(o.select(col("o_orderkey")),
        li("l_orderkey") === o("o_orderkey"), "left_anti"), "orphan_lineitems")
      .crossJoin(one(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti"),
        "orphan_orders"))
      .crossJoin(one(c.join(o.select(col("o_custkey")),
        c("c_custkey") === o("o_custkey"), "left_anti"), "inactive_customers"))
      .crossJoin(one(li, "n_lineitems"))
      .crossJoin(one(o, "n_orders"))
      .crossJoin(one(c, "n_customers"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_k_anonymity" -> kAnonymity,
    "q_fk_integrity" -> fkIntegrity,
    "q_item_recs" -> itemRecs,
    "q_rank_functions" -> rankFunctions,
    "q_typed_agg" -> typedAgg,
    "q_null_safe_join" -> nullSafeJoin,
    "q_hash_sample_per_key" -> hashSamplePerKey,
    "q_sql_api" -> sqlApi,
    "q_incr_agg" -> incrAgg,
    "q_skyline" -> skyline,
    "q_analyze_stats" -> analyzeStats,
    "q_catalog_stats" -> catalogStats,
    "q_star_wide" -> starWide,
    "q_table_checksum" -> tableChecksum,
    "q_copurchase" -> copurchase,
    "q_runtime_filter" -> runtimeFilter,
    "q_group_median" -> groupMedian,
    "q_join_hints" -> joinHints,
    "q_reused_exchange" -> reusedExchange,
    "q_zorder_prune" -> zorderPrune,
    "q_zorder_join" -> zorderJoin,
    "q_zorder_layout" -> zorderLayout,
    "q_range_layout" -> rangeLayout,
    "q_liquid_layout" -> liquidLayout,
    "q_rollup" -> rollup,
    "q_cube" -> cube_,
    "q_window_frame" -> windowFrame,
    "q_range_join" -> rangeJoin,
    "q_set_ops" -> setOps,
    "q_pivot" -> pivot,
    "q_grouping_sets" -> groupingSets,
    "q_unpivot" -> unpivot)
}
