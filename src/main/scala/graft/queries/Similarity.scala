package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors).
  *
  * Two paths: exact brute-force cosine top-k (the correctness baseline —
  * broadcast the query set, one scan of the corpus), and a random-hyperplane
  * LSH variant (16-bit signatures, byte-banded buckets) that prunes
  * candidates before scoring — the shape that scales: at 100 TB the bucket
  * join replaces the full cross product, queries stay broadcast, and the
  * corpus is scanned once to build signatures.
  *
  * Hyperplane weights are integer-arithmetic pseudo-randoms (exact in both
  * engines); all dot products run in doubles in array order, so the DuckDB
  * oracle matches exactly.
  */
object Similarity {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  private val dims = 64
  private val nQueries = 5
  private val topK = 10

  /** Deterministic integer weight for (plane, dim) in [-1000, 1000]. */
  private def weight(p: Int, d: Int): Long =
    ((1103515245L * (p * dims + d) + 12345L) % 2001L) - 1000L

  /** Codegen'd in-order dot product (graft.functions.DotProduct) over the
    * named columns; same element order as DuckDB's list_dot_product.
    */
  private def dot(a: String, b: String): Column = expr(s"dot_product($a, $b)")

  private def cosineCol(ea: String, eb: String): Column =
    round(dot(ea, eb) / sqrt(dot(ea, ea) * dot(eb, eb)), 4)

  /** Exact brute-force cosine top-k: queries (vec_id < nQueries) broadcast
    * against the full corpus, ranked per query with explicit tie-break.
    */
  val annTopk: QueryDef = QueryDef(
    // Corpus/query norms computed once per vector; the pair step does one
    // dot product. Queries broadcast; corpus scanned exactly once.
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         list_dot_product(embedding, embedding) AS norm2
       |  FROM embeddings)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |         row_number() OVER (
       |           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           round(list_dot_product(q.embedding, c.embedding)
       |                 / sqrt(q.norm2 * c.norm2), 4) AS cosine
       |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $nQueries) s) r
       |WHERE rank <= $topK""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val emb = spark.read.parquet(t(dir, "embeddings"))
    val e = emb.select(col("vec_id"), col("embedding"),
      dot("embedding", "embedding").as("norm2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("norm2").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ec"),
      col("norm2").as("nc"))
    val scored = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot("eq", "ec") / sqrt(col("nq") * col("nc")), 4).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** LSH-bucketed ANN, parameterized over the banding: `planes` random
    * hyperplanes -> `planes`-bit signature, split into `bands` bands of
    * `planes/bands` bits; candidates share at least one band with the
    * query, then exact cosine + top-k within candidates.
    *
    * The (planes, bands) pair is THE scale knob: expected candidates per
    * query ~ bands * N / 2^(planes/bands) for near-random vectors, so a
    * bigger corpus wants wider bands (more selective buckets) and more
    * bands (recall back up). 16/2 (byte bands) fits the test SFs; a 10^9
    * -vector corpus wants something like 64/4 (16-bit bands ~ N/65536 per
    * bucket). Both engines derive every weight from the same integer
    * recurrence, so ANY banding is deterministic and hash-exact — the gate
    * carries two rows (q_ann_lsh 16/2, q_ann_lsh_wide 24/3) to pin the
    * parameterization itself.
    *
    * Recall honesty: a pair at angle theta collides in one b-bit band with
    * probability (1 - theta/pi)^b. The synthetic test embeddings are
    * near-uniform (best cosines ~0.3, theta ~1.2 rad), so 8-bit bands give
    * only ~2-7% recall@10 — measured ~0/50 here; that is the DATA, not a
    * defect: hyperplane LSH needs angular cluster structure to shine, and
    * the data-adaptive IVF path (AnnIvf, recall-gated at >=20%) is the one
    * that concentrates neighbors on this corpus. The LSH gates therefore
    * pin exact candidate-set semantics rather than a recall floor.
    */
  def lshDef(planes: Int, bands: Int): QueryDef = {
    require(planes % bands == 0 && planes <= 62, s"bad banding $planes/$bands")
    val bandWidth = planes / bands
    val mask = (1L << bandWidth) - 1
    // SQL: per-plane projection as an in-order double sum with literal weights
    def projSql(p: Int): String = {
      val ws = (0 until dims).map(weight(p, _)).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, ${dims + 1}), d -> CAST(embedding[d] AS DOUBLE) * ($ws)[d]))"
    }
    val sigSql = (0 until planes)
      .map(p => s"CASE WHEN ${projSql(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    val bandValuesSql = (0 until bands).map(j => s"($j)").mkString(", ")
    QueryDef(
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding, CAST($sigSql AS BIGINT) AS sig
         |  FROM embeddings),
         |bands AS (
         |  SELECT vec_id, embedding, j, (sig >> ($bandWidth*j)) & $mask AS band
         |  FROM sigs, (VALUES $bandValuesSql) bj(j)),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qe,
         |                  c.vec_id AS neighbor_id, c.embedding AS ce
         |  FROM bands q JOIN bands c
         |    ON q.j = c.j AND q.band = c.band AND c.vec_id <> q.vec_id
         |  WHERE q.vec_id < $nQueries)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
         |  SELECT query_id, neighbor_id,
         |         round(list_dot_product(qe, ce)
         |               / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)), 4) AS cosine,
         |         row_number() OVER (
         |           PARTITION BY query_id
         |           ORDER BY round(list_dot_product(qe, ce)
         |               / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)), 4) DESC,
         |             neighbor_id) AS rank
         |  FROM cand) r
         |WHERE rank <= $topK""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = spark.read.parquet(t(dir, "embeddings"))
      val sig = (0 until planes).map { p =>
        val ws = (0 until dims).map(w => s"${weight(p, w)}D").mkString("array(", ", ", ")")
        when(dot("embedding", ws) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val sigs = emb.select(col("vec_id"), col("embedding"), sig.cast("long").as("sig"))
      val bandStructs = (0 until bands).map(j =>
        struct(lit(j).as("j"),
          shiftright(col("sig"), bandWidth * j).bitwiseAND(lit(mask)).as("band")))
      val bandsDF = sigs
        .select(col("vec_id"), col("embedding"), explode(array(bandStructs: _*)).as("bv"))
        .select(col("vec_id"), col("embedding"), col("bv.j").as("j"), col("bv.band").as("band"))
      val q = bandsDF.filter(col("vec_id") < nQueries)
        .select(col("j"), col("band"), col("vec_id").as("query_id"), col("embedding").as("qe"))
      val c = bandsDF
        .select(col("j"), col("band"), col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      val cand = broadcast(q).join(c, Seq("j", "band"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("qe"), col("neighbor_id"), col("ce"))
        .distinct()
      val scored = cand.select(col("query_id"), col("neighbor_id"),
        cosineCol("qe", "ce").as("cosine"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
    }
  }

  /** Default banding for the test scale factors. */
  val annLsh: QueryDef = lshDef(planes = 16, bands = 2)

  /** k-NN GRAPH construction — the edge-building step of graph-ANN
    * (HNSW/NSG) and of graph-based dedup/clustering pipelines: top-3
    * outgoing neighbors for EVERY node (not just a query set), candidates
    * from the same hyperplane-LSH buckets as [[annLsh]], with the
    * production bucket cap (first 50 members by vec_id — inactive at test
    * scale, but the rule is exercised and oracle-replayed, the
    * MinHash-family discipline). All nodes participate, so there is no
    * broadcast side: buckets group-collect, pairs expand IN-ROW both
    * directions, embeddings join back by id for scoring, and the per-node
    * top-3 is a WindowGroupLimit. Expected bucket size is N/2^bandWidth —
    * the (planes, bands) knob from [[lshDef]] is what keeps the expansion
    * linear at any corpus size.
    */
  val knnGraph: QueryDef = {
    val planes = 16
    val bands = 2
    val bandWidth = planes / bands
    val mask = (1L << bandWidth) - 1
    val graphK = 3
    val cap = 50
    def projSql(p: Int): String = {
      val ws = (0 until dims).map(weight(p, _)).mkString("[", ", ", "]")
      s"list_sum(list_transform(range(1, ${dims + 1}), d -> CAST(embedding[d] AS DOUBLE) * ($ws)[d]))"
    }
    val sigSql = (0 until planes)
      .map(p => s"CASE WHEN ${projSql(p)} > 0 THEN ${1L << p} ELSE 0 END")
      .mkString(" + ")
    val bandValuesSql = (0 until bands).map(j => s"($j)").mkString(", ")
    QueryDef(
      s"""WITH sigs AS (
         |  SELECT vec_id, CAST($sigSql AS BIGINT) AS sig FROM embeddings),
         |bands AS (
         |  SELECT vec_id, j, (sig >> ($bandWidth*j)) & $mask AS band
         |  FROM sigs, (VALUES $bandValuesSql) bj(j)),
         |bl AS (SELECT j, band, list_sort(list(vec_id))[1:$cap] AS ds
         |       FROM bands GROUP BY 1, 2),
         |mem AS (SELECT j, band, unnest(ds) AS vec_id FROM bl WHERE len(ds) >= 2),
         |cand AS (SELECT DISTINCT a.vec_id AS node, b.vec_id AS nbr
         |         FROM mem a JOIN mem b
         |           ON a.j = b.j AND a.band = b.band AND a.vec_id <> b.vec_id),
         |e AS (SELECT vec_id, embedding,
         |             list_sum(list_transform(range(1, ${dims + 1}),
         |               d -> CAST(embedding[d] AS DOUBLE) * CAST(embedding[d] AS DOUBLE)))
         |               AS norm2
         |      FROM embeddings),
         |sc AS (SELECT node, nbr,
         |              list_sum(list_transform(range(1, ${dims + 1}),
         |                d -> CAST(q.embedding[d] AS DOUBLE) * CAST(c.embedding[d] AS DOUBLE)))
         |                / sqrt(q.norm2 * c.norm2) AS cosine
         |       FROM cand JOIN e q ON q.vec_id = cand.node
         |                 JOIN e c ON c.vec_id = cand.nbr)
         |SELECT node, nbr, CAST(rank AS INT) AS rank, cosine FROM (
         |  SELECT node, nbr, cosine,
         |         row_number() OVER (
         |           PARTITION BY node ORDER BY cosine DESC, nbr) AS rank
         |  FROM sc) r
         |WHERE rank <= $graphK""".stripMargin) { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = spark.read.parquet(t(dir, "embeddings"))
      val sig = (0 until planes).map { p =>
        val ws = (0 until dims).map(w => s"${weight(p, w)}D").mkString("array(", ", ", ")")
        when(dot("embedding", ws) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      val bandStructs = (0 until bands).map(j =>
        struct(lit(j).as("j"),
          shiftright(col("sig"), bandWidth * j).bitwiseAND(lit(mask)).as("band")))
      val bandsDF = emb
        .select(col("vec_id"), sig.cast("long").as("sig"))
        .select(col("vec_id"), explode(array(bandStructs: _*)).as("bv"))
        .select(col("vec_id"), col("bv.j").as("j"), col("bv.band").as("band"))
      val buckets = bandsDF.groupBy(col("j"), col("band"))
        .agg(slice(array_sort(collect_list(col("vec_id"))), 1, cap).as("ds"))
        .filter(size(col("ds")) >= 2)
      val half = Pairs.ordered(buckets, "ds", "a", "b")
        .select(col("a").as("node"), col("b").as("nbr"))
      val cand = half.unionAll(half.select(col("nbr").as("node"), col("node").as("nbr")))
        .distinct()
      val e = emb.select(col("vec_id"), col("embedding"),
        dot("embedding", "embedding").as("norm2"))
      // RAW IEEE quotient, not round(·, 4): identical doubles divide
      // bit-identically in both engines, while decimal rounding diverges
      // on exact .5 boundaries (the q_embed_centroids rule — this row's
      // 1370-pair set actually hit one such boundary at sf0.01). The
      // oracle must then replay the dot product EXACTLY: DuckDB's
      // list_dot_product accumulates FLOAT lists in float, so the SQL
      // spells the same in-order double fold VectorOps.dot runs
      // (CAST each element to DOUBLE, multiply, left-to-right sum).
      val scored = cand
        .join(e.select(col("vec_id").as("node"), col("embedding").as("qe"),
          col("norm2").as("nq")), "node")
        .join(e.select(col("vec_id").as("nbr"), col("embedding").as("ce"),
          col("norm2").as("nc")), "nbr")
        .select(col("node"), col("nbr"),
          (dot("qe", "ce") / sqrt(col("nq") * col("nc"))).as("cosine"))
      val w = Window.partitionBy(col("node")).orderBy(col("cosine").desc, col("nbr"))
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= graphK)
    }
  }

  /** A second, wider banding through the SAME parameterized builder — pins
    * that the (planes, bands) knob actually works end-to-end on both
    * engines (more selective 8-bit buckets from a 24-bit signature, recall
    * recovered by the third band).
    */
  val annLshWide: QueryDef = lshDef(planes = 24, bands = 3)

  /** Per-label embedding centroids — mean pooling per cell, the aggregation
    * behind IVF coarse quantizers, cluster summaries, and class prototypes.
    * One row per (label, dim); sums run in 1e-4 fixed point (parallel float
    * summation is order-dependent in the last bits — integer sums are
    * partition-order-proof, the q_window_sessions rule). The fixed-point
    * encode casts the float element to DOUBLE explicitly in BOTH engines
    * before `* 10000 + 0.5`: left implicit, Spark and DuckDB promote
    * float-times-int differently (float vs double intermediates), and the
    * widening order shifts `floor` by 1 on boundary values. The emitted mean is
    * the RAW IEEE quotient sum_fixed / (10000.0 * n): division of identical
    * BIGINTs is bit-identical across engines, whereas a final
    * round(double, 4) is not (Spark HALF_UP on the shortest decimal repr vs
    * DuckDB rounding the binary double diverge on exact ...5 boundaries —
    * 4/640 cells at sf0.01).
    *
    * Scale shape: the posexplode shuffles N×D (label, dim, v) rows into ONE
    * map-side-combinable aggregation — no collect_list, no per-label state
    * proportional to cell size. An aggregateByKey of dense long arrays (one
    * D-array per partition per label, MLlib Summarizer's shape) shuffles
    * `labels × D` longs instead; at D=64 and sf0.1 the explode form
    * measured 1.35× it (0.265 s vs 0.197 s medians — SCALE.md "Similarity
    * search"), a gap that widens with D.
    */
  val embedCentroids: QueryDef = QueryDef(
    """SELECT label, dim,
      |       sum_fixed / (10000.0 * n) AS centroid
      |FROM (
      |  SELECT label, u.i AS dim,
      |         sum(CAST(floor(CAST(u.v AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS sum_fixed,
      |         count(*) AS n
      |  FROM (SELECT label,
      |               unnest([{'i': i - 1, 'v': embedding[i]}
      |                       for i in range(1, len(embedding) + 1)]) AS u
      |        FROM embeddings) e
      |  GROUP BY label, u.i) g""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "embeddings"))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * 10000 + 0.5).cast("long")).as("sum_fixed"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("sum_fixed") / (lit(10000.0) * col("n"))).as("centroid"))
  }

  /** Nearest-centroid classification — the prototype-assignment operator
    * (auto-tagging / cluster assignment / label propagation to unlabeled
    * drops): every vector is assigned the label of its closest per-label
    * mean embedding, and the row emits the (label, predicted) confusion
    * matrix. The centroids are the exact fixed-point means the
    * [[embedCentroids]] row gates; distances are an IN-ROW left fold in
    * dimension order, so every double on both engines goes through the
    * identical IEEE expression tree — comparisons, and therefore the
    * argmin, agree exactly (ties break on label).
    *
    * Scale shape: the model is L x D doubles — legitimately driver-side
    * state, like a fitted KMeansModel's centers — built by one
    * map-side-combinable aggregation, then BROADCAST; classification is
    * one corpus scan with an in-row fold per label; the only other
    * shuffle is the L² confusion rollup. No per-vector join, no
    * explode-by-dimension exchange.
    */
  val nnClassify: QueryDef = QueryDef(
    """WITH cent AS (
      |  SELECT label AS clabel, u.i AS dim,
      |         sum(CAST(floor(CAST(u.v AS DOUBLE) * 10000 + 0.5) AS BIGINT))
      |           / (10000.0 * count(*)) AS c
      |  FROM (SELECT label,
      |               unnest([{'i': i, 'v': embedding[i]}
      |                       for i in range(1, len(embedding) + 1)]) AS u
      |        FROM embeddings) e
      |  GROUP BY label, u.i),
      |cl AS (SELECT clabel, list(c ORDER BY dim) AS cvec FROM cent GROUP BY clabel),
      |scored AS (
      |  SELECT v.vec_id, v.label, cl.clabel,
      |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |           list_transform(range(1, len(v.embedding) + 1),
      |             i -> (CAST(v.embedding[i] AS DOUBLE) - cl.cvec[i])
      |                  * (CAST(v.embedding[i] AS DOUBLE) - cl.cvec[i]))),
      |           (a, b) -> a + b) AS dist
      |  FROM embeddings v, cl),
      |best AS (
      |  SELECT vec_id, label, clabel AS predicted,
      |         row_number() OVER (PARTITION BY vec_id ORDER BY dist, clabel) AS rn
      |  FROM scored)
      |SELECT label, predicted, count(*) AS n
      |FROM best WHERE rn = 1 GROUP BY label, predicted""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val cent = spark.read.parquet(t(dir, "embeddings"))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(sum(floor(col("v").cast("double") * 10000 + 0.5).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim"),
        (col("s") / (lit(10000.0) * col("n"))).as("c"))
    // L x D model state to the driver (like KMeansModel.clusterCenters),
    // re-assembled into dimension-ordered arrays and broadcast back.
    val centArrays = cent.collect()
      .groupBy(_.getInt(0))
      .map { case (l, rows) =>
        (l, rows.sortBy(_.getInt(1)).map(_.getDouble(2)))
      }
      .toSeq.sortBy(_._1)
    val centDF = centArrays.toDF("clabel", "cvec")
    val dist = aggregate(
      zip_with(col("embedding"), col("cvec"), (x, c) => {
        val d = x.cast("double") - c
        d * d
      }),
      lit(0.0), (a, b) => a + b)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("clabel"))
    spark.read.parquet(t(dir, "embeddings"))
      .select(col("vec_id"), col("label"), col("embedding"))
      .crossJoin(broadcast(centDF))
      .select(col("vec_id"), col("label"), col("clabel"), dist.as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("clabel").as("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  /** Int8 scalar quantization of the embedding table — the compression step
    * every large-scale vector store runs before indexing (4× smaller than
    * float32, and the working set an IVF/HNSW index actually scans). Codes
    * use the per-dimension global min/max affine map
    * `code = floor((v - mn) / (mx - mn) * 255 + 0.5)`; the row emits
    * per-(label, dim) integer summaries — value count, code sum, and the
    * reconstruction-error sum in 1e-7 fixed point — i.e. the quantizer's
    * quality report, gated exactly.
    *
    * Cross-engine exactness (the [[embedCentroids]] lessons, applied from
    * the start): every float is cast to DOUBLE explicitly before
    * arithmetic; both engines evaluate the SAME IEEE expression tree
    * `((v - mn) / (mx - mn)) * 255.0 + 0.5` (min/max are order-independent
    * so the stats are bit-identical, and identical double inputs through
    * identical ops give bit-identical codes); every emitted aggregate is an
    * integer — the error fold encodes to 1e-7 fixed point per row BEFORE
    * summing, so partition order cannot move a bit. Constant dimensions
    * (mx = mn) quantize to code 0 in both engines rather than dividing by
    * zero.
    *
    * Scale shape: global min/max quantization is inherently two-pass — pass
    * 1 reduces the corpus to D (dim, mn, mx) rows via a map-side-combinable
    * aggregation (the shuffle carries one row per dim per partition), pass
    * 2 re-scans with the D-row stats BROADCAST and folds straight into the
    * per-(label, dim) aggregation — one wide map-side-combinable shuffle,
    * no row ever carries more than its own cell. Nothing is collected to
    * the driver and no state grows with corpus size.
    */
  val embedQuantize: QueryDef = QueryDef(
    """WITH c AS (
      |  SELECT label, u.i - 1 AS dim, CAST(u.v AS DOUBLE) AS v
      |  FROM (SELECT label,
      |               unnest([{'i': i, 'v': embedding[i]}
      |                       for i in range(1, len(embedding) + 1)]) AS u
      |        FROM embeddings) e),
      |s AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM c GROUP BY dim),
      |q AS (SELECT label, c.dim AS dim, v, mn, mx,
      |             CASE WHEN mx = mn THEN 0
      |                  ELSE floor((v - mn) / (mx - mn) * 255.0 + 0.5) END AS code
      |      FROM c JOIN s USING (dim))
      |SELECT label, dim,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(code AS BIGINT)) AS BIGINT) AS sum_code,
      |       CAST(sum(CAST(floor(
      |              abs(v - (mn + code / 255.0 * (mx - mn))) * 10000000.0 + 0.5)
      |            AS BIGINT)) AS BIGINT) AS sum_err_fp7
      |FROM q GROUP BY label, dim""".stripMargin) { (spark, dir) =>
    val cells = spark.read.parquet(t(dir, "embeddings"))
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "raw")))
      .select(col("label"), col("dim"), col("raw").cast("double").as("v"))
    val stats = cells.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val code = when(col("mx") === col("mn"), lit(0L))
      .otherwise(floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255.0 + 0.5))
    val recon = col("mn") + col("code") / 255.0 * (col("mx") - col("mn"))
    cells.join(broadcast(stats), Seq("dim"))
      .withColumn("code", code)
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("code")).as("sum_code"),
        sum(floor(abs(col("v") - recon) * 10000000.0 + 0.5).cast("long"))
          .as("sum_err_fp7"))
  }

  /** Top-k cosine search IN QUANTIZED SPACE — [[annTopk]]'s brute-force
    * ranking run over [[embedQuantize]]'s int8 codes instead of the float32
    * embeddings: the memory-bandwidth configuration a production scan
    * actually uses (4× less data per vector moved and compared; recall loss
    * vs float is the quantizer's error, which q_embed_quantize gates
    * exactly). Queries are the same first-[[nQueries]] vectors, ranked per
    * query with the same (cosine desc, neighbor_id) tie-break.
    *
    * Exactness: codes are small integers, so every dot product is a sum of
    * at most 64 products bounded by 255² — integer-exact in doubles
    * REGARDLESS of summation order (no fixed-point fold needed); the
    * emitted cosine is the raw IEEE quotient (the [[embedCentroids]] rule —
    * no decimal round anywhere). All-minimum vectors quantize to the zero
    * vector, whose cosine is undefined — both engines filter norm2 = 0
    * pairs rather than dividing by zero.
    *
    * Scale shape: pass 1 is [[embedQuantize]]'s D-row stats reduction; the
    * code arrays rebuild IN-ROW per vector (array_sort over collected
    * (dim, code) structs — per-group state is one vector); then exactly
    * [[annTopk]]'s shape: queries broadcast, corpus scanned once, per-query
    * top-k via window rank. The LSH/IVF rows remain the candidate-pruning
    * scale path; this row pins the quantized-scoring semantics they would
    * rerank with.
    */
  val annQuantized: QueryDef = QueryDef(
    s"""WITH cel AS (
       |  SELECT vec_id, u.i - 1 AS dim, CAST(u.v AS DOUBLE) AS v
       |  FROM (SELECT vec_id,
       |               unnest([{'i': i, 'v': embedding[i]}
       |                       for i in range(1, len(embedding) + 1)]) AS u
       |        FROM embeddings) e),
       |s AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM cel GROUP BY dim),
       |qc AS (SELECT vec_id, dim,
       |              CAST(CASE WHEN mx = mn THEN 0
       |                   ELSE floor((v - mn) / (mx - mn) * 255.0 + 0.5) END
       |                 AS DOUBLE) AS code
       |       FROM cel JOIN s USING (dim)),
       |v AS (SELECT vec_id, list(code ORDER BY dim) AS codes FROM qc GROUP BY vec_id),
       |e AS (SELECT vec_id, codes, list_dot_product(codes, codes) AS norm2 FROM v)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |         row_number() OVER (
       |           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |           list_dot_product(q.codes, c.codes) / sqrt(q.norm2 * c.norm2)
       |             AS cosine
       |    FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < $nQueries AND q.norm2 > 0 AND c.norm2 > 0) s0) r
       |WHERE rank <= $topK""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = quantizedVecs(spark, dir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"), col("norm2").as("nq"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("codes").as("cc"),
      col("norm2").as("nc"))
    val scored = broadcast(q).join(c, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot("qc", "cc") / sqrt(col("nq") * col("nc"))).as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
  }

  /** Coarse-to-fine ANN rerank — the truncated-embedding two-stage search
    * (the Matryoshka/MRL deployment pattern: score EVERY candidate cheaply
    * on a prefix of the embedding, keep a shortlist, re-score only the
    * shortlist at full dimension). Stage 1 ranks all pairs by cosine over
    * the first [[RerankDims]] dims (4× less data per candidate at 16/64,
    * the same bandwidth argument as int8 codes but along the DIMENSION
    * axis); stage 2 joins the per-query top-[[RerankShortlist]] back to
    * the full vectors and emits the exact-cosine top-k of the shortlist.
    *
    * Unlike the LSH/IVF rows this composition is FULLY deterministic —
    * slices, in-order dot products, IEEE division/sqrt are bit-identical
    * in both engines — so the whole two-stage pipeline is hash-gated by a
    * literal SQL oracle, no property gate needed. (Recall vs the full
    * brute force is the truncation's loss, a data property, not gated.)
    *
    * Scale shape: stage 1 is [[annTopk]]'s broadcast-queries single scan
    * reading 1/4 of each vector, with the per-query shortlist compiling to
    * the same WindowGroupLimit pushdown; stage 2 touches only
    * queries × shortlist rows — the broadcast-sized candidate set joins
    * back to the corpus by id (semi-join-shaped; no second full-corpus
    * scoring pass).
    */
  private val RerankDims = 16
  private val RerankShortlist = 50

  val annRerank: QueryDef = QueryDef(
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         list_dot_product(embedding, embedding) AS norm2,
       |         embedding[1:$RerankDims] AS e16,
       |         list_dot_product(embedding[1:$RerankDims],
       |                          embedding[1:$RerankDims]) AS norm16
       |  FROM embeddings),
       |s1 AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(q.e16, c.e16) / sqrt(q.norm16 * c.norm16) AS cos16
       |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $nQueries AND q.norm16 > 0 AND c.norm16 > 0),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (
       |             PARTITION BY query_id ORDER BY cos16 DESC, neighbor_id) AS r16
       |    FROM s1) r WHERE r16 <= $RerankShortlist),
       |s2 AS (
       |  SELECT s.query_id AS query_id, s.neighbor_id AS neighbor_id,
       |         round(list_dot_product(q.embedding, c.embedding)
       |               / sqrt(q.norm2 * c.norm2), 4) AS cosine
       |  FROM short s
       |  JOIN e q ON q.vec_id = s.query_id
       |  JOIN e c ON c.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cosine FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |         row_number() OVER (
       |           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM s2) r WHERE rank <= $topK""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(t(dir, "embeddings"))
      .select(col("vec_id"), col("embedding"),
        expr("dot_product(embedding, embedding)").as("norm2"),
        slice(col("embedding"), 1, RerankDims).as("e16"))
      .withColumn("norm16", expr("dot_product(e16, e16)"))
      .filter(col("norm16") > 0)
    val q16 = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("e16").as("qe16"), col("norm16").as("nq16"))
    val w16 = Window.partitionBy(col("query_id")).orderBy(col("cos16").desc, col("neighbor_id"))
    val shortlist = broadcast(q16)
      .join(e.select(col("vec_id").as("neighbor_id"), col("e16").as("ce16"),
        col("norm16").as("nc16")), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("dot_product(qe16, ce16)") / sqrt(col("nq16") * col("nc16"))).as("cos16"))
      .withColumn("r16", row_number().over(w16))
      .filter(col("r16") <= RerankShortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qf = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("norm2").as("nq"))
    val wf = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(shortlist)
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("norm2").as("nc")), Seq("neighbor_id"))
      .join(broadcast(qf), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(expr("dot_product(qe, ce)") / sqrt(col("nq") * col("nc")), 4).as("cosine"))
      .withColumn("rank", row_number().over(wf))
      .filter(col("rank") <= topK)
  }

  /** The int8-quantized vector table (vec_id, codes, norm2) —
    * [[annQuantized]]'s build phase factored out so IVF pruning can compose
    * with quantized scoring (AnnIvf.annIvfQuantized, the production
    * IVF+scalar-quantizer layout). Codes are [[embedQuantize]]'s global
    * per-dimension affine map rebuilt in-row (array_sort over collected
    * (dim, code) structs — per-group state is one vector); zero-norm
    * vectors are filtered here (cosine undefined) so every consumer shares
    * the rule.
    */
  private[queries] def quantizedVecs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val cells = spark.read.parquet(t(dir, "embeddings"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "raw")))
      .select(col("vec_id"), col("dim"), col("raw").cast("double").as("v"))
    val stats = cells.groupBy(col("dim"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val codeExpr = when(col("mx") === col("mn"), lit(0L))
      .otherwise(floor((col("v") - col("mn")) / (col("mx") - col("mn")) * 255.0 + 0.5))
    val codesArr = transform(
      array_sort(collect_list(struct(col("dim"), col("code")))),
      x => x.getField("code").cast("double"))
    cells.join(broadcast(stats), Seq("dim"))
      .withColumn("code", codeExpr)
      .groupBy(col("vec_id"))
      .agg(codesArr.as("codes"))
      .select(col("vec_id"), col("codes"), dot("codes", "codes").as("norm2"))
      .filter(col("norm2") > 0)
  }

  /** Higher-order array functions over the embedding column — the in-row
    * vector-feature toolkit (`transform`/`filter`/`aggregate`, all
    * whole-stage-codegen'd): per vector its dimensionality, positive-
    * component count, large-component count (|x| > 0.5 — the clip-rate
    * monitor), and the 1e-6-quantized L1 norm. These are the embedding
    * health-check statistics a pipeline computes alongside ANN ingest
    * (zero vectors, saturated dimensions, norm drift).
    *
    * Scale shape: ZERO shuffles — every statistic folds inside the row
    * (PlanSpec-pinnable scan-speed class); float→double widening is exact
    * and the L1 fold is floor-quantized per ELEMENT before the integer
    * sum, so the result is associativity-independent and both engines
    * fold identically.
    */
  val arrayOps: QueryDef = QueryDef(
    """SELECT vec_id,
      |       CAST(len(embedding) AS INT) AS dim,
      |       CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0)) AS BIGINT) AS n_pos,
      |       CAST(len(list_filter(embedding, x -> abs(CAST(x AS DOUBLE)) > 0.5)) AS BIGINT) AS n_big,
      |       CAST(list_aggregate(list_transform(embedding,
      |              x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1000000) AS BIGINT)),
      |            'sum') AS BIGINT) AS l1_q6
      |FROM embeddings""".stripMargin) { (spark, dir) =>
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"),
        size(col("embedding")).as("dim"),
        size(filter(col("embedding"), x => x.cast("double") > 0)).cast("long").as("n_pos"),
        size(filter(col("embedding"), x => abs(x.cast("double")) > 0.5)).cast("long").as("n_big"),
        aggregate(col("embedding"), lit(0L),
          (acc, x) => acc + floor(abs(x.cast("double")) * 1000000).cast("long")).as("l1_q6"))
  }

  /** Per-DIMENSION corpus statistics over the embedding column — the
    * normalization pass (mean-centering / whitening / PCA prep) computed
    * before indexing: for each of the 64 dimensions, the count and the
    * 1e-6-quantized sum/min/max across every vector. Complements
    * [[arrayOps]] (per-VECTOR stats): this one reduces ACROSS the corpus
    * per component.
    *
    * Scale shape: `posexplode` multiplies rows by the dimensionality, but
    * the partial aggregate collapses each map partition to at most
    * 64 counter rows before the one shuffle — the exchange moves
    * (dims × partitions) counters, never (rows × dims) elements. The
    * same plan at 100 TB is one scan plus a 64-row result.
    */
  val dimStats: QueryDef = QueryDef(
    """SELECT dim, count(*) AS n,
      |       CAST(sum(q6) AS BIGINT) AS sum_q6,
      |       CAST(min(q6) AS BIGINT) AS min_q6,
      |       CAST(max(q6) AS BIGINT) AS max_q6
      |FROM (
      |  SELECT unnest(range(1, len(embedding) + 1)) AS dim,
      |         unnest(list_transform(embedding,
      |                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS q6
      |  FROM embeddings) e
      |GROUP BY dim""".stripMargin) { (spark, dir) =>
    spark.read.parquet(s"$dir/embeddings.parquet")
      .select(posexplode(col("embedding")).as(Seq("p0", "x")))
      .select((col("p0") + 1).cast("long").as("dim"),
        floor(col("x").cast("double") * 1000000).cast("long").as("q6"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q6")).as("sum_q6"),
        min(col("q6")).as("min_q6"), max(col("q6")).as("max_q6"))
  }

  /** Covariance moments of the leading embedding dimensions — the
    * whitening/PCA preparation pass before indexing (mean-centering uses
    * [[dimStats]]; covariance needs the cross-moments): for each dimension
    * pair (i, j), i <= j <= 8, the exact fixed-point sums n, s_i, s_j,
    * s_ij from which cov(i,j) = s_ij/n - (s_i/n)(s_j/n) follows. Products
    * run in 1e-4 fixed point (q_i * q_j stays far inside Int64 for unit-
    * scale embeddings), so the gate is hash-exact under any partitioning.
    *
    * Scale shape: the outer product is an IN-ROW fold — the 36 pair
    * products are computed inside one whole-stage-codegen'd projection,
    * never via a posexplode self-join (which would be n·d² rows through a
    * shuffle) — and the only aggregation is a scalar fold of 36 columns
    * (map-side partial, single-row result). At d=64 full-matrix scale the
    * same plan carries d(d+1)/2 = 2080 packed columns or one array column
    * folded with zip_with; the leading-8 block keeps the gate readable.
    */
  val embedCovariance: QueryDef = {
    val pairs = for { i <- 1 to 8; j <- i to 8 } yield (i, j)
    QueryDef(
      """WITH e AS (SELECT list_transform(embedding[1:8],
        |                    x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS q
        |           FROM embeddings),
        |p AS (SELECT i, j, q[i] AS qi, q[j] AS qj
        |      FROM e, range(1, 9) r1(i), range(1, 9) r2(j)
        |      WHERE j >= i)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(qi) AS BIGINT) AS s_i,
        |       CAST(sum(qj) AS BIGINT) AS s_j,
        |       CAST(sum(qi * qj) AS BIGINT) AS s_ij
        |FROM p GROUP BY i, j""".stripMargin) { (spark, dir) =>
      val q = (1 to 8).map(i =>
        floor(element_at(col("embedding"), i).cast("double") * 10000 + 0.5)
          .cast("long").as(s"q$i"))
      val moments = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(q: _*)
        .agg(count(lit(1)).as("n"),
          (1 to 8).map(i => sum(col(s"q$i")).as(s"s$i")) ++
            pairs.map { case (i, j) =>
              sum(col(s"q$i") * col(s"q$j")).as(s"p${i}_$j")
            }: _*)
      // unpivot the single moment row to the (i, j) grid via a tiny
      // literal frame — broadcast, no extra pass over the data
      import spark.implicits._
      val grid = pairs.toDF("i", "j")
      moments.crossJoin(broadcast(grid))
        .select(col("i").cast("long"), col("j").cast("long"), col("n"),
          (1 to 8).map(i => when(col("i") === i, col(s"s$i")))
            .reduceRight((w, e) => w.otherwise(e)).as("s_i"),
          (1 to 8).map(j => when(col("j") === j, col(s"s$j")))
            .reduceRight((w, e) => w.otherwise(e)).as("s_j"),
          pairs.map { case (i, j) =>
            when(col("i") === i && col("j") === j, col(s"p${i}_$j"))
          }.reduceRight((w, e) => w.otherwise(e)).as("s_ij"))
    }
  }

  /** [[ragRetrieve]] knobs, hoisted so program + oracle + docs state one
    * value each: query stride (every 97th vector is a query), the raw
    * retrieval depth, and the context token budget.
    */
  private[queries] val RagStride = 97
  private[queries] val RagTopK = 8
  private[queries] val RagBudget = 512

  /** RAG context assembly — the retrieval pipeline in front of every
    * retrieval-augmented generation call, composed end-to-end from the
    * engine's own stages: (1) RETRIEVE the raw top-[[RagTopK]] corpus
    * neighbors per query vector by exact cosine (queries = every
    * [[RagStride]]th vector, broadcast against the corpus — the
    * brute-force baseline; the warehouse-scale swap is DELIVERED as
    * [[ragRetrieveIvf]] (r15): stage 1 becomes the [[AnnIvf]] probe over
    * the same stride, same contract (query_id, doc_id, cosine), stages
    * 2-3 shared verbatim via [[ragStages]]); (2) DEDUP the retrieved set
    * per query by exact content
    * fingerprint (`poly_hash(text)` via the doc_id = vec_id alignment),
    * keeping each duplicate group's best-scored doc — retrieved context
    * that repeats itself wastes the downstream model's window; (3) BUDGET:
    * admit survivors in score order while the running whitespace-token
    * total stays within [[RagBudget]], then re-rank the admitted context.
    * Every ordering ties-breaks on neighbor id over the ROUNDED cosine, so
    * both engines cut identically even where raw doubles differ in the
    * last ulp (the annTopk discipline).
    *
    * Scale shape: queries broadcast (stride keeps them a sliver of the
    * corpus); one corpus scan for stage 1; stages 2-3 are windows
    * PARTITIONED BY query_id over ≤ [[RagTopK]] rows each — never a
    * global window; the documents join brings fingerprint + token count
    * for only the retrieved ids (a semi-join-sized probe, not a corpus
    * scan, at 1000-executor scale a broadcast of the retrieved id set).
    */
  val ragRetrieve: QueryDef = QueryDef(
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |         list_dot_product(embedding, embedding) AS norm2
       |  FROM embeddings),
       |hits AS (
       |  SELECT query_id, doc_id, cosine FROM (
       |    SELECT query_id, doc_id, cosine,
       |           row_number() OVER (
       |             PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS rr
       |    FROM (
       |      SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |             round(list_dot_product(q.embedding, c.embedding)
       |                   / sqrt(q.norm2 * c.norm2), 4) AS cosine
       |      FROM e q JOIN e c ON c.vec_id <> q.vec_id
       |      WHERE q.vec_id % $RagStride = 0) s) r
       |  WHERE rr <= $RagTopK),
       |enriched AS (
       |  SELECT h.query_id, h.doc_id, h.cosine,
       |         ${Pipeline.ghashSql("d.text")} AS fp,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS tok
       |  FROM hits h JOIN documents d ON d.doc_id = h.doc_id),
       |deduped AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY query_id, fp ORDER BY cosine DESC, doc_id) AS dd
       |    FROM enriched) x WHERE dd = 1),
       |budgeted AS (
       |  SELECT query_id, doc_id, cosine, tok,
       |         CAST(sum(tok) OVER (
       |           PARTITION BY query_id ORDER BY cosine DESC, doc_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
       |  FROM deduped)
       |SELECT query_id, CAST(row_number() OVER (
       |         PARTITION BY query_id ORDER BY cosine DESC, doc_id) AS INT) AS rank,
       |       doc_id, cosine, tok, cum_tok
       |FROM budgeted WHERE cum_tok <= $RagBudget""".stripMargin) { (spark, dir) =>
    ragStages(spark, dir, ragExactHits(spark, dir))
  }

  /** [[ragRetrieve]] stage 1 — the exact-cosine top-[[RagTopK]] per strided
    * query, shared with the IVF variant as its recall baseline. Returns
    * (query_id, doc_id, cosine).
    */
  private def ragExactHits(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = spark.read.parquet(t(dir, "embeddings"))
      .select(col("vec_id"), col("embedding"), dot("embedding", "embedding").as("norm2"))
    val q = e.filter(col("vec_id") % RagStride === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("eq"), col("norm2").as("nq"))
    val c = e.select(col("vec_id").as("doc_id"), col("embedding").as("ec"),
      col("norm2").as("nc"))
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    broadcast(q).join(c, col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id"),
        round(dot("eq", "ec") / sqrt(col("nq") * col("nc")), 4).as("cosine"))
      .withColumn("rr", row_number().over(byScore)).filter(col("rr") <= RagTopK)
      .drop("rr")
  }

  /** [[ragRetrieve]] stages 2-3 (fingerprint dedup + token-budget
    * admission + re-rank) over ANY stage-1 hit frame of
    * (query_id, doc_id, cosine) — extracted in r15 so the IVF variant
    * runs the IDENTICAL context-assembly plan, not a re-spelling of it.
    */
  private def ragStages(spark: SparkSession, dir: String, hits: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byScore = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    val docs = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), expr("poly_hash(text)").as("fp"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val deduped = hits.join(docs, Seq("doc_id"))
      .withColumn("dd", row_number().over(
        Window.partitionBy(col("query_id"), col("fp"))
          .orderBy(col("cosine").desc, col("doc_id"))))
      .filter(col("dd") === 1).drop("dd", "fp")
    deduped
      .withColumn("cum_tok",
        sum(col("tok")).over(byScore.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cum_tok") <= RagBudget)
      .withColumn("rank", row_number().over(byScore).cast("int"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("cosine"),
        col("tok"), col("cum_tok"))
  }

  /** The assembled IVF context frame itself (query_id, rank, doc_id,
    * cosine, tok, cum_tok) — the gate row [[ragRetrieveIvf]] reduces it
    * to properties; AnnIvfSpec reads it directly to measure context recall
    * and check the budget/dedup invariants row-by-row.
    */
  private[queries] def ragIvfContextForTest(spark: SparkSession, dir: String): DataFrame = {
    val p = AnnIvf.IvfParams(topK = RagTopK)
    val ivfHits = AnnIvf.topKOf(
      AnnIvf.ivfCandidates(spark, dir, p, p.nProbe, col("vec_id") % RagStride === 0),
      RagTopK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("cosine"))
    ragStages(spark, dir, ivfHits)
  }

  /** The warehouse-scale form of [[ragRetrieve]], delivered as its own
    * gated row (VERDICT r14 #3 — the exact row documented this swap; now
    * it is measured): stage 1 is the [[AnnIvf]] coarse-quantizer probe
    * over the SAME strided query set (the probe machinery is
    * query-set-agnostic — it takes the stride predicate directly), and
    * stages 2-3 are literally [[ragStages]] — the same dedup + budget
    * plan object the exact row executes, not a re-spelling.
    *
    * KMeans centroids are float-order-sensitive, so like every IVF row
    * the literal context is not oracle-expressible; the gate states the
    * derived properties (the [[AnnIvf.ivfDef]] technique):
    *   - `n_queries`: every strided query retrieved candidates — the
    *     count is data-derived on BOTH engines (DuckDB counts the stride
    *     ids in the parquet; a query stranded in an empty probe set
    *     breaks the equality).
    *   - `per_query_k_ok`: exactly [[RagTopK]] stage-1 hits per query.
    *   - `recall_ge_30pct`: stage-1 IVF hits ∩ exact stage-1 hits ≥ 30%
    *     of the exact hit count. The floor sits at the measured band
    *     (VERDICT r15 #2 — the generic 20% IVF floor would pass a badly
    *     regressed probe path): measured stage-1 recall is 0.417 /
    *     0.521 / 0.363 at sf0.001/0.01/0.1, so 30% keeps ≥5 hits of
    *     margin at every SF, where 35% would leave TWO hits at sf0.1
    *     (61 observed vs 59 required — inside single-code-change
    *     k-means float-order perturbation). A regressed path probing
    *     effectively random cells lands at 2/16 = 12.5%, less than
    *     half the floor.
    *   - `ctx_admission_ok`: the assembled context's per-query row
    *     counts equal an INDEPENDENT re-derivation of the admission
    *     rule — dedup via `min_by` over (−cosine, doc_id) and the
    *     budget prefix via an O(k²) per-query self-join running sum,
    *     a different plan from [[ragStages]]' window spelling on both
    *     stages (code-review r15: the first cut asserted
    *     `max(cum_tok) <= budget` over rows ragStages had already
    *     filtered by exactly that predicate — tautologically true).
    *
    * Scale shape: replaces the exact row's one corpus scan per query
    * sliver with the IVF probe's cell-bounded candidate generation —
    * the 10^9-vector path; stages 2-3 stay per-query-windowed exactly
    * as the exact row (≤ [[RagTopK]] rows per window).
    */
  val ragRetrieveIvf: QueryDef = QueryDef(
    s"""SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % $RagStride = 0)
       |         AS BIGINT) AS n_queries,
       |       true AS per_query_k_ok, true AS recall_ge_30pct,
       |       true AS ctx_admission_ok""".stripMargin) { (spark, dir) =>
    val p = AnnIvf.IvfParams(topK = RagTopK)
    val ivfHits = AnnIvf.topKOf(
      AnnIvf.ivfCandidates(spark, dir, p, p.nProbe, col("vec_id") % RagStride === 0),
      RagTopK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("cosine"))
    // one ivfHits subtree feeds both the context and the gate (code-review
    // r15: the first cut rebuilt the probe join + top-k window a second
    // time through the test accessor)
    val context = ragStages(spark, dir, ivfHits)
    val exact = ragExactHits(spark, dir).select(col("query_id"), col("doc_id"))
    val nHits = ivfHits.select(col("query_id"), col("doc_id"))
      .join(exact, Seq("query_id", "doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val shape = ivfHits.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("n_queries"),
        (min(col("k")) === RagTopK && max(col("k")) === RagTopK).as("per_query_k_ok"))
    // Independent admission re-derivation (see docstring): min_by dedup +
    // O(k²) self-join prefix sums over ≤ RagTopK rows per query — bounded
    // by the retrieval depth, never data-sized.
    val docs = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), expr("poly_hash(text)").as("fp"),
        size(split(col("text"), " ")).cast("long").as("tok"))
    val dedup2 = ivfHits.join(docs, Seq("doc_id"))
      .groupBy(col("query_id"), col("fp"))
      .agg(min_by(struct(col("doc_id"), col("tok"), col("cosine")),
        struct(negate(col("cosine")), col("doc_id"))).as("best"))
      .select(col("query_id"), col("best.doc_id").as("doc_id"),
        col("best.tok").as("tok"), col("best.cosine").as("cosine"))
    val other = dedup2.select(col("query_id").as("q2"), col("doc_id").as("d2"),
      col("tok").as("t2"), col("cosine").as("c2"))
    val n2 = dedup2.join(other, col("query_id") === col("q2") &&
        (col("c2") > col("cosine") ||
          (col("c2") === col("cosine") && col("d2") <= col("doc_id"))))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("t2")).as("cum2"))
      .filter(col("cum2") <= RagBudget)
      .groupBy(col("query_id")).agg(count(lit(1)).as("n2"))
    val n1 = context.groupBy(col("query_id")).agg(count(lit(1)).as("n1"))
    val admission = n1.join(n2, Seq("query_id"), "full_outer")
      .agg(coalesce(
        bool_and(coalesce(col("n1"), lit(-1L)) === coalesce(col("n2"), lit(-2L))),
        lit(true)).as("ctx_admission_ok"))
    shape.crossJoin(nHits).crossJoin(nExact).crossJoin(admission)
      .select(col("n_queries"), col("per_query_k_ok"),
        (col("n_hits") * 100 >= col("n_exact") * 30).as("recall_ge_30pct"),
        col("ctx_admission_ok"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_rag_retrieve" -> ragRetrieve,
    "q_rag_retrieve_ivf" -> ragRetrieveIvf,
    "q_embed_covariance" -> embedCovariance,
    "q_array_ops" -> arrayOps,
    "q_dim_stats" -> dimStats,
    "q_nn_classify" -> nnClassify,
    "q_ann_topk" -> annTopk,
    "q_ann_lsh" -> annLsh,
    "q_knn_graph" -> knnGraph,
    "q_ann_lsh_wide" -> annLshWide,
    "q_embed_centroids" -> embedCentroids,
    "q_embed_quantize" -> embedQuantize,
    "q_ann_quantized" -> annQuantized,
    "q_ann_rerank" -> annRerank)
}
