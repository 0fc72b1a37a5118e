package graft.queries

import graft.sources.FileSources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink round-trip queries: the aggregate over CSV- or JSON-round
  * -tripped documents must hash-match the oracle computed directly from the
  * parquet table — any loss in the write/read path (quoting, schema
  * inference, encoding) breaks the gate.
  */
object Sources {

  // Sums are CAST to BIGINT: DuckDB's sum(BIGINT) widens to HUGEINT while
  // Spark stays at BIGINT, and the gate hashes dtypes along with values.
  private val oracle =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(length(text)) AS BIGINT) AS total_len
      |FROM documents GROUP BY lang""".stripMargin

  /** A round-trip row: the `lang` aggregate [[oracle]] spells, over the
    * documents `read` returns after their trip through a file format.
    */
  private def langRow(read: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(oracle) { (spark, dir) =>
      read(spark, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
          sum(length(col("text"))).as("total_len"))
    }

  val csvRoundtrip: QueryDef = langRow(FileSources.documentsViaCsv)

  val jsonRoundtrip: QueryDef = langRow(FileSources.documentsViaJson)

  val orcRoundtrip: QueryDef = langRow(FileSources.documentsViaOrc)

  val xmlRoundtrip: QueryDef = langRow(FileSources.documentsViaXml)

  /** BINARY columns at rest — the storage leg of the multimodal contract:
    * payloads written as a parquet `binary` column, read back, and
    * verified byte-exact (length + byte sum per row). The media family
    * decodes payloads in flight; THIS row pins that an opaque blob
    * survives the writer/reader round trip untouched — the property a
    * 100 TB image/audio lake rests on. Write-once, fingerprint-cached
    * like every sibling format; the oracle replays the byte arithmetic
    * from the text (pure-ASCII precondition, as all media oracles).
    */
  val binaryStore: QueryDef = QueryDef(
    """SELECT doc_id,
      |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |       CAST(coalesce(list_aggregate(list_transform(string_split(text, ''),
      |                       c -> CAST(ascii(c) AS BIGINT)), 'sum'), 0)
      |            AS BIGINT) AS sum_bytes
      |FROM documents""".stripMargin) { (spark, dir) =>
    val out = FileSources.cacheDir("binstore", dir, "documents.parquet")
    FileSources.writeOnce(out) { (o, _) =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        .coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(o)
    }
    spark.read.parquet(out)
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        coalesce(aggregate(transform(expr("split(decode(payload, 'UTF-8'), '')"),
            c => ascii(c).cast("long")),
          lit(0L), (acc, x) => acc + x), lit(0L)).as("sum_bytes"))
  }

  val textRoundtrip: QueryDef = langRow(FileSources.documentsViaText)

  /** Small-file compaction round-trip: the same loss-free aggregate over
    * the compacted copy (see FileSources.compactedDocuments); QueriesSpec
    * asserts the file count actually dropped 16 -> 2.
    */
  val compactRoundtrip: QueryDef = langRow(FileSources.compactedDocuments)

  /** Partition-pruned scan: only the lang=en directory is read (the plan's
    * PartitionFilters prove it — see PlanSpec); oracle filters the flat
    * parquet the ordinary way.
    */
  val partitionedScan: QueryDef = QueryDef(
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE lang = 'en' GROUP BY source""".stripMargin) { (spark, dir) =>
    FileSources.partitionedDocuments(spark, dir)
      .filter(col("lang") === "en")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
  }


  /** The `_metadata` hidden file columns — per-record physical provenance
    * (file name, 0-based in-file row index) surfaced as ordinary columns,
    * the mechanism behind record-level lineage and incremental reprocessing
    * ("which file did this bad row come from") with NO extra scan cost:
    * the constant file fields attach at read time and `row_index` is the
    * scan's own record counter. The gate pins real semantics: documents
    * rows were written in doc_id order, so Σ row_index per lang must equal
    * the rank-by-doc_id sums the oracle computes from data alone, and the
    * distinct-file count must be exactly the canonical table's single
    * file — a fabricated row_index or leaked extra file flips the hash.
    *
    * Scale shape: zero added shuffle (metadata columns are scan-local);
    * the rollup is a lang-keyed aggregate. On a 100 TB multi-file table
    * the same query keys on `_metadata.file_path` to audit per-file row
    * coverage against the ingestion manifest.
    */
  val fileMetadata: QueryDef = QueryDef(
    """WITH d AS (SELECT lang, row_number() OVER (ORDER BY doc_id) - 1 AS ri
      |           FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(ri) AS BIGINT) AS sum_row_index,
      |       CAST(1 AS BIGINT) AS n_files
      |FROM d GROUP BY lang""".stripMargin) { (spark, dir) =>
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("_metadata.row_index").as("ri"),
        col("_metadata.file_name").as("fn"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ri")).as("sum_row_index"),
        countDistinct(col("fn")).as("n_files"))
  }

  /** Malformed-record tolerance — the PERMISSIVE/`_corrupt_record`
    * contract every 100 TB ingestion leans on (real feeds carry broken
    * lines; a pipeline that FAILFASTs on row one ingests nothing, one
    * that silently drops can't audit what it lost): a CSV derived from
    * documents with every `doc_id % 7 == 0` line deliberately corrupted
    * (non-numeric id field), read back under PERMISSIVE with a corrupt-
    * record column. Parse failures surface as NULL-typed-fields +
    * captured raw line, so the gate can count and checksum BOTH
    * populations — the oracle recomputes them from the corruption rule.
    * QueriesSpec pins the sibling modes on the same file: DROPMALFORMED
    * keeps exactly the good rows, FAILFAST refuses the file loudly.
    *
    * Scale shape: scan-speed parse with per-row error capture — no
    * shuffle before the 1-row rollup; the corrupt population rides the
    * same scan as the good one (the observe() principle: auditing costs
    * zero extra passes).
    */
  val csvMalformed: QueryDef = QueryDef(
    """SELECT CAST(count(CASE WHEN doc_id % 7 <> 0 THEN 1 END) AS BIGINT) AS n_good,
      |       CAST(count(CASE WHEN doc_id % 7 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
      |       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN doc_id END) AS BIGINT) AS sum_ids_good,
      |       CAST(sum(CASE WHEN doc_id % 7 <> 0 THEN n_chars END) AS BIGINT) AS sum_chars_good
      |FROM documents""".stripMargin) { (spark, dir) =>
    val out = FileSources.cacheDir("csvbad", dir, "documents.parquet")
    FileSources.writeOnce(out) { (o, _) =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(concat(
          when(col("doc_id") % 7 === 0, concat(lit("x"), col("doc_id").cast("string")))
            .otherwise(col("doc_id").cast("string")),
          lit(","), col("n_chars").cast("string")).as("value"))
        .coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(o)
    }
    spark.read
      .schema("doc_id LONG, n_chars LONG, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(out)
      // the id sum is not decoration: CSV corruption is detected only for
      // COLUMNS THE QUERY PARSES (column pruning reaches the parser), so a
      // gate that never read doc_id saw zero corrupt records — the broken
      // field was simply never parsed. Aggregating doc_id forces the full
      // parse and makes the corrupt population real.
      .agg(
        count(when(col("_corrupt_record").isNull, 1)).as("n_good"),
        count(when(col("_corrupt_record").isNotNull, 1)).as("n_corrupt"),
        sum(when(col("_corrupt_record").isNull, col("doc_id"))).as("sum_ids_good"),
        sum(when(col("_corrupt_record").isNull, col("n_chars"))).as("sum_chars_good"))
  }

  /** Co-located bucketed join (zero Exchange); oracle joins the flat
    * parquet tables.
    */
  val bucketedJoin: QueryDef = QueryDef(
    """SELECT o_orderstatus, count(*) AS n_lines,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus""".stripMargin) { (spark, dir) =>
    graft.sources.Bucketed.bucketedJoinAgg(spark, dir)
  }

  /** Schema-evolution union — the multi-drop ingestion reality: two batches
    * of the "same" table whose column sets drifted (one carries `n_chars`,
    * the other `source`) union by NAME with missing columns null-filled
    * (`unionByName(allowMissingColumns = true)`; positional UNION would
    * silently mis-align). The aggregate counts non-null presence per side,
    * so a mis-filled column breaks the hash. DuckDB's `UNION ALL BY NAME`
    * replays the semantics exactly.
    *
    * Scale shape: a union is plan-level concatenation — zero shuffle added;
    * the null-fill is a projection. Only the final rollup shuffles.
    */
  val unionEvolved: QueryDef = QueryDef(
    """SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(count(source) AS BIGINT) AS n_source
      |FROM (
      |  SELECT doc_id, lang, n_chars FROM documents
      |  UNION ALL BY NAME
      |  SELECT doc_id, lang, source FROM documents) u
      |GROUP BY lang""".stripMargin) { (spark, dir) =>
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batchA = docs.select(col("doc_id"), col("lang"), col("n_chars"))
    val batchB = docs.select(col("doc_id"), col("lang"), col("source"))
    batchA.unionByName(batchB, allowMissingColumns = true)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"),
        count(col("source")).as("n_source"))
  }

  /** In-flight pipeline observability via `Dataset.observe` — Spark's
    * CollectMetrics operator: a filtered export pass writes parquet while
    * the observe() aggregates (row count, char totals, length bounds)
    * accumulate DURING THE SAME SCAN — zero extra passes, which is the
    * whole point at 100 TB: the write job IS the metrics job (the batch
    * analog of the streaming progress listener). The gate row returns the
    * observed metrics; the oracle recomputes them the ordinary way, so a
    * metric that drifted from the data it rode along with goes red.
    */
  val observeMetrics: QueryDef = QueryDef(
    """SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(min(n_chars) AS BIGINT) AS min_chars,
      |       CAST(max(n_chars) AS BIGINT) AS max_chars
      |FROM documents WHERE n_chars >= 100""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // Observation registers a QueryExecutionListener and blocks in get()
    // until the action that executed THIS plan reports its metrics — the
    // supported batch retrieval path (reading queryExecution.observedMetrics
    // off the unexecuted frame yields the empty default row).
    val obs = new org.apache.spark.sql.Observation("graft_export_metrics")
    val pass = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("n_chars") >= 100)
      .observe(obs,
        count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
    // rewritten on every run (the write IS the metrics job), so no cache key
    val out = FileSources.datasetPath("observe", dir)
    pass.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    val m = obs.get
    // When the filter passes zero rows, sum/min/max observe as SQL NULL;
    // `null.asInstanceOf[Long]` would silently unbox to 0L and diverge from
    // the oracle's NULLs, so carry the aggregates as Option[Long] and let the
    // encoder emit nullable BIGINT columns that match the oracle exactly.
    def optLong(key: String): Option[Long] =
      Option(m(key)).map(_.asInstanceOf[Long])
    Seq((m("n_rows").asInstanceOf[Long], optLong("sum_chars"),
      optLong("min_chars"), optLong("max_chars")))
      .toDF("n_rows", "sum_chars", "min_chars", "max_chars")
  }

  /** Dynamic Partition Pruning — the OTHER partition-pruning lever beside
    * the static filter of `q_partitioned_scan`: when the pruning predicate
    * only materializes at RUN time (here, the top-2 languages by corpus
    * count — a data-dependent dimension), Catalyst injects a dynamic
    * subquery filter on the fact side's partition column, so the
    * lang-partitioned fact scan reads only the qualifying directories
    * even though no literal predicate exists at plan time. At 100 TB this
    * is THE mechanism that keeps star-schema joins from scanning every
    * partition (PlanSpec pins `dynamicpruning` in the fact scan).
    */
  val joinDpp: QueryDef = QueryDef(
    """WITH dim AS (
      |  SELECT lang FROM (
      |    SELECT lang, row_number() OVER (ORDER BY count(*) DESC, lang) AS rk
      |    FROM documents GROUP BY lang) r
      |  WHERE rk <= 2)
      |SELECT d.lang AS lang, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents d JOIN dim ON d.lang = dim.lang
      |GROUP BY d.lang""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val fact = FileSources.partitionedDocuments(spark, dir)
    val dim = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("lang"))))
      .filter(col("rk") <= 2)
      .select(col("lang").as("dlang"))
    fact.join(dim, col("lang") === col("dlang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** STORAGE-level schema evolution — the lake counterpart of
    * [[unionEvolved]] (which merges in memory via unionByName): two
    * parquet batches with DIFFERENT physical schemas land in one dataset
    * dir (an early-ingest batch carrying n_chars, a later batch that
    * dropped it and added source — the shape every long-lived ingest dir
    * grows into), and the reader reconciles the footers with
    * `mergeSchema=true`: absent columns surface as NULLs per batch, and
    * the rollup counts them so the gate proves WHICH batch carried which
    * column, not just that the read survived.
    *
    * Scale shape: schema merging is a FOOTER-metadata operation — the
    * reconciliation cost is per-file, not per-row, and the scan stays
    * columnar with pushdown intact. The per-batch write is write-once
    * under the source fingerprint like every derived dataset. At 100 TB
    * the merge lives in the driver's file-index build; steady-state
    * tables pin the merged schema in a metastore instead of re-merging
    * (the documented production follow-up), which is why the default is
    * off and the option is explicit here.
    */
  val schemaMerge: QueryDef = QueryDef(
    """WITH m AS (
      |  SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source FROM documents
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars, source FROM documents)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(n_chars) AS BIGINT) AS n_with_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(count(source) AS BIGINT) AS n_with_source
      |FROM m GROUP BY lang""".stripMargin) { (spark, dir) =>
    import graft.sources.FileSources
    val out = FileSources.cacheDir("schemamerge", dir, "documents.parquet")
    FileSources.writeOnce(out) { (o, _) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"), col("lang"), col("n_chars"))
        .coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$o/batch=1")
      docs.select(col("doc_id"), col("lang"), col("source"))
        .coalesce(2)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$o/batch=2")
    }
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        count(col("n_chars")).as("n_with_chars"),
        sum(col("n_chars")).as("sum_chars"),
        count(col("source")).as("n_with_source"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_schema_merge" -> schemaMerge,
    "q_join_dpp" -> joinDpp,
    "q_file_metadata" -> fileMetadata,
    "q_observe_metrics" -> observeMetrics,
    "q_union_evolved" -> unionEvolved,
    "q_source_csv" -> csvRoundtrip,
    "q_csv_malformed" -> csvMalformed,
    "q_source_json" -> jsonRoundtrip,
    "q_source_orc" -> orcRoundtrip,
    "q_source_text" -> textRoundtrip,
    "q_source_xml" -> xmlRoundtrip,
    "q_binary_store" -> binaryStore,
    "q_compact_files" -> compactRoundtrip,
    "q_partitioned_scan" -> partitionedScan,
    "q_bucketed_join" -> bucketedJoin)
}
