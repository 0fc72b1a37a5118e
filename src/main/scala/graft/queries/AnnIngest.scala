package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming ANN ingest — the production RAG-freshness story the IVF
  * family supports (VERDICT r15 #6b): a live vector store does not refit
  * its coarse quantizer per arrival; it assigns new embeddings to cells
  * with the FROZEN quantizer as they stream in, appends them to the
  * inverted file, and expects probes over the grown index to be
  * indistinguishable from a batch rebuild against the same quantizer.
  * That convergence claim is gated here as exact equality, not a recall
  * band, because cell assignment is a deterministic per-row map given
  * fixed centroids — batching cannot change it, and any drift in the
  * incremental path (stale centroids, a lost or doubled micro-batch)
  * breaks the equality.
  *
  * The dance (once per (embeddings fingerprint, build) — the
  * checkpointRestart discipline): fit the seeded KMeans on the BASE
  * three-quarters of the corpus (vec_id % 4 ≠ 3); persist the base
  * assignments, the centroid table, and the batch twin (the SAME frozen
  * model assigning the FULL corpus in one pass) as parquet artifacts;
  * then stream the arrival quarter in three single-file micro-batches
  * through a foreachBatch assigner that cell-tags each batch with the
  * frozen model and appends it batchId-idempotently to the ingest dir.
  * An in-dance check requires all three arrival batches to have landed
  * separately — one mega-batch would make "incremental" vacuous.
  *
  * The live gate (re-evaluated every run): probe the streamed index
  * (base ∪ ingested) and the batch twin with the SAME probe plan
  * ([[AnnIvf.probeCells]] / [[AnnIvf.candidatesOf]] — shared code, not a
  * re-spelling) and require the full (query, neighbor, cosine, rank)
  * result sets to match exactly, the per-query shape to hold, and the
  * ingested count to equal the DuckDB-counted arrival quarter. A query
  * id that itself arrived via the stream (vec_id 3) is queryable
  * immediately — the freshness property, exercised, not narrated.
  *
  * Scale shape: the quantizer is fit once on a bounded sample; per-batch
  * assignment is an embarrassingly parallel map over the batch (no
  * shuffle, no refit — the centroid table rides the closure exactly as a
  * broadcast); the index grows append-only, partitioned by arrival
  * batch; probes stay bounded by probed-cell size. At warehouse scale
  * the only addition is periodic per-cell compaction of the arrival
  * files — the liquid-layout story, gated elsewhere.
  */
object AnnIngest {

  // vec_id % 4 == 3 is the arrival quarter; three single-file chunks make
  // three micro-batches. Both are data-derived in the oracle (the arrival
  // count) or pinned in-dance (the batch count).
  private val ArrivalChunks = 3

  // Params hoisted so the oracle interpolates the SAME nQueries the
  // driver side filters on (code-review r16: a hardcoded 5 would diverge
  // silently if the IvfParams default moved).
  private val P = AnnIvf.IvfParams()

  val annStreamIngest: QueryDef = QueryDef(
    s"""SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 4 = 3) AS BIGINT)
       |         AS n_ingested,
       |       CAST(${P.nQueries} AS BIGINT) AS n_queries, true AS per_query_k_ok,
       |       true AS matches_batch_index""".stripMargin) { (spark, dir) =>
    import graft.sources.FileSources
    val p = P
    val out = FileSources.cacheDir("annstream", dir, "embeddings.parquet")
    FileSources.writeOnce(out) { (o, scratch) =>
      val in = s"$scratch/in"
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          org.apache.spark.ml.functions.array_to_vector(col("embedding")).as("features"),
          expr("dot_product(embedding, embedding)").as("norm2"))
      val arrivalPred = pmod(col("vec_id"), lit(4)) === 3
      val model = AnnIvf.fitModel(emb.filter(!arrivalPred), p.nCells)
      def assign(df: DataFrame): DataFrame = model.transform(df)
        .select(col("vec_id"), col("embedding"), col("norm2"),
          col("prediction").as("cell"))
      assign(emb.filter(!arrivalPred)).write.parquet(s"$o/base")
      assign(emb).write.parquet(s"$o/batch") // batch twin, same frozen model
      AnnIvf.centroidsOf(spark, model).write.parquet(s"$o/centroids")
      (0 until ArrivalChunks).foreach { c =>
        FileSources.stageFiles(
          emb.filter(arrivalPred && pmod(col("vec_id"), lit(ArrivalChunks)) === c)
            .select(col("vec_id"), col("embedding")),
          scratch, in, s"arrivals_$c", c)
      }
      StreamRun(width = None, trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .run(spark)(FileSources.replay(spark, in))(_.foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
            StreamRun.writeBatch(assign(batch
              .withColumn("features",
                org.apache.spark.ml.functions.array_to_vector(col("embedding")))
              .withColumn("norm2", expr("dot_product(embedding, embedding)"))),
              batchId, s"$o/ingest")
        }.option("checkpointLocation", s"$scratch/chk"))
      // "incremental" must be real: each staged file became its own batch
      val batchDirs = Option(new java.io.File(o, "ingest").listFiles())
        .getOrElse(Array.empty).count(f => f.isDirectory && f.getName.startsWith("batch="))
      require(batchDirs == ArrivalChunks,
        s"expected $ArrivalChunks arrival micro-batches, saw $batchDirs — " +
          "the ingest collapsed into a single batch and exercises nothing incremental")
    }
    val centDF = spark.read.parquet(s"$out/centroids")
    val ingested = spark.read.parquet(s"$out/ingest").drop("batch")
    val streamed = spark.read.parquet(s"$out/base").unionByName(ingested)
    val batchTwin = spark.read.parquet(s"$out/batch")
    def topOf(index: DataFrame): DataFrame = {
      val queries = index.filter(col("vec_id") < p.nQueries)
      val probe = AnnIvf.probeCells(
        queries.select(col("vec_id").as("query_id"), col("embedding"), col("norm2")),
        centDF, p.nProbe)
      AnnIvf.topKOf(AnnIvf.candidatesOf(index, queries, probe), p.topK)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }
    val sTop = topOf(streamed)
    val bTop = topOf(batchTwin)
    val nIngested = ingested.agg(count(lit(1)).as("n_ingested"))
    val shape = sTop.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("n_queries"),
        (min(col("k")) === p.topK && max(col("k")) === p.topK).as("per_query_k_ok"))
    val d1 = sTop.exceptAll(bTop).agg(count(lit(1)).as("d1"))
    val d2 = bTop.exceptAll(sTop).agg(count(lit(1)).as("d2"))
    nIngested.crossJoin(shape).crossJoin(d1.crossJoin(d2))
      .select(col("n_ingested"), col("n_queries"), col("per_query_k_ok"),
        (col("d1") === 0 && col("d2") === 0).as("matches_batch_index"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_ann_stream_ingest" -> annStreamIngest)
}
