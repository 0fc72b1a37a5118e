package graft.queries

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: MLlib KMeans learns
  * data-adaptive coarse cells over the embedding corpus; a query probes only
  * its `nProbe` nearest cells and scores exact cosine within them.
  *
  * This is the scale path beyond hyperplane LSH (Similarity.annLsh): cells
  * adapt to the data distribution, the corpus is scanned once to train +
  * once to assign, and query cost is bounded by probed-cell size, not
  * corpus size. Centroids (16 x 64 doubles — the fitted model's own
  * driver-side state) are broadcast into the plan; probe selection is a
  * query-table x centroid cross-join, so it scales to a query TABLE, not
  * just a handful of query ids.
  *
  * KMeans convergence is seeded but float-order-sensitive across runs, so
  * the raw top-k is not oracle-expressible; the driver gate instead checks
  * the result's invariant properties (shape + recall vs the exact
  * baseline) — see [[annIvf]]. AnnIvfSpec asserts recall as well.
  */
object AnnIvf {

  /** The knobs a real IVF user turns (VERDICT r3 #7), with the round-3
    * defaults. `minRecallPct` is the property-gate floor: the expected
    * recall@k grows with nProbe/nCells (probing more cells can only add
    * candidates), so each parameterization pins its own floor.
    */
  final case class IvfParams(
      nCells: Int = 16,
      nProbe: Int = 2,
      nQueries: Int = 5,
      topK: Int = 10,
      minRecallPct: Int = 20) {
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe $nProbe out of [1, $nCells]")
  }

  // Centroid training is bounded: at warehouse scale (10^9+ vectors) the
  // standard IVF recipe trains k-means on a uniform sample of ~100k vectors
  // (centroid quality saturates far below that for k=16..65536), then
  // assigns the full corpus in one distributed pass.
  private val trainCap = 100000L

  /** Memoized coarse quantizer — one KMeans fit + one full-corpus cell
    * assignment per (session, dir, nCells), shared by all three IVF rows
    * (`q_ann_ivf`, `q_ann_ivf_probe4`, `q_ann_ivf_quantized`). Before this
    * cache each row refit the same seeded model and re-assigned the corpus
    * (~3 × 2.2 s at sf0.1) for byte-identical state; in production the
    * fitted coarse quantizer is likewise built once and reused by every
    * query — refitting per query would be the bug, not the baseline.
    * Keyed by nCells. Re-armed like Pipeline's gram frame: after a cache
    * sweep (Bench drops all caches between timed runs) the assigned frame
    * is re-persisted on next use, because the three rows are separate
    * actions; a timed row still pays the full fit exactly once (the fit is
    * seeded and layout-free, so a re-fit reproduces the same cells). The
    * release unpersists the assigned frame only — the centroid table is a
    * literal.
    */
  private[queries] val fitCache =
    new SessionMemo[(DataFrame, DataFrame)](_._1.unpersist(false))

  /** One KMeans fit + full-corpus cell assignment + per-query probe-cell
    * selection — the coarse-quantizer machinery shared by the float scoring
    * path ([[ivfCandidates]]) and the int8 scoring path
    * ([[ivfQuantizedTopK]]). Returns
    * (assigned: vec_id, embedding, norm2, cell;
    *  probeDF: query_id, cell, rn) with rn <= maxProbe.
    */
  private def fitAssignProbe(
      spark: SparkSession,
      dir: String,
      p: IvfParams,
      maxProbe: Int,
      queryPred: org.apache.spark.sql.Column): (DataFrame, DataFrame) = {
    import p._
    val (assigned, centDF) = fitAssign(spark, dir, nCells)
    if (assigned.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // In-plan probe-cell selection: the centroid table (nCells x dims — the
    // only state that legitimately lives on the driver, inside the fitted
    // KMeansModel) is broadcast and cross-joined against the query VECTORS
    // as a DataFrame, so a query *table* of any size works — no .collect()
    // of query vectors (round-2 verdict item #5). dist^2 expands to
    // |q|^2 - 2 q.c + |c|^2 with the codegen'd dot_product; ties break on
    // cell id; nProbe survivors per query via a rank filter (WindowGroupLimit
    // pushes the limit below the shuffle).
    val qv = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"), col("norm2"))
    (assigned, probeCells(qv, centDF, maxProbe))
  }

  /** Probe-cell selection over an arbitrary (query vectors, centroid
    * table) pair — extracted so [[AnnIngest]]'s streamed index probes
    * with the same plan the batch rows use. `qv` must carry
    * (query_id, embedding, norm2).
    */
  private[queries] def probeCells(qv: DataFrame, centDF: DataFrame, maxProbe: Int): DataFrame = {
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dist"), col("cell"))
    qv.crossJoin(broadcast(centDF))
      .select(col("query_id"), col("cell"),
        (col("norm2") - lit(2.0) * expr("dot_product(embedding, cvec)") + col("cnorm2"))
          .as("dist"))
      .withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= maxProbe)
      .select(col("query_id"), col("cell"), col("rn"))
  }

  /** The expensive half of [[fitAssignProbe]]: fit the seeded KMeans on the
    * layout-free hash sample, assign every corpus vector to its cell, and
    * materialize the centroid table. Cached per (session, dir, nCells).
    */
  private def fitAssign(
      spark: SparkSession,
      dir: String,
      nCells: Int): (DataFrame, DataFrame) =
    fitCache.getOrElseUpdate(spark, dir, Seq("embeddings.parquet"), nCells.toString) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"),
          array_to_vector(col("embedding")).as("features"),
          expr("dot_product(embedding, embedding)").as("norm2"))

      val model = fitModel(emb, nCells)
      val assigned = model.transform(emb)
        .select(col("vec_id"), col("embedding"), col("norm2"), col("prediction").as("cell"))
      (assigned, centroidsOf(spark, model))
    }

  /** The seeded, layout-free KMeans fit shared by [[fitAssign]] and
    * [[AnnIngest]]'s frozen base-corpus quantizer. `emb` must carry
    * (vec_id, features).
    */
  private[queries] def fitModel(
      emb: DataFrame, nCells: Int): org.apache.spark.ml.clustering.KMeansModel = {
    val corpusSize = emb.count()
    val trainFraction = math.min(1.0, trainCap.toDouble / math.max(1L, corpusSize))
    // Deterministic sample: filter on a hash of vec_id, not sample() — a
    // seeded Bernoulli sample() is partition-layout dependent (same seed,
    // different partitioning => different rows), so centroids would change
    // under a different cluster size. A value-hash filter is layout-free.
    // The tiny sample is coalesced to a couple of partitions so each Lloyd
    // iteration is a few tasks, not a cluster-wide wave of near-empty ones.
    val trainPartitions = math.max(1, (trainCap / 50000L).toInt)
    val train = emb
      .filter(pmod(xxhash64(col("vec_id")), lit(1000000L)) < lit((trainFraction * 1000000L).toLong))
      .select(col("features"))
      .coalesce(trainPartitions)
      .persist()
    val model = new KMeans()
      .setK(nCells).setSeed(42L).setMaxIter(5).setFeaturesCol("features")
      .fit(train)
    train.unpersist()
    model
  }

  /** The centroid table (cell, cvec, cnorm2) a fitted model broadcasts
    * into probe plans — the only state that legitimately lives driver-side.
    */
  private[queries] def centroidsOf(
      spark: SparkSession, model: org.apache.spark.ml.clustering.KMeansModel): DataFrame = {
    import spark.implicits._
    model.clusterCenters.map(_.toArray).toSeq.zipWithIndex
      .map { case (c, i) => (i, c) }
      .toDF("cell", "cvec")
      .withColumn("cnorm2", expr("dot_product(cvec, cvec)"))
  }

  /** Candidate pool at probe width `maxProbe`, each neighbor tagged with the
    * best (lowest) probe rank of a cell it was found in. Narrower probe
    * widths are in-plan subsets: `filter(probe_rn <= p)` followed by the
    * same top-k window reproduces an nProbe = p run exactly, because the
    * model is shared — one KMeans fit, one assignment pass — instead of
    * refitting per width. That is what makes the probe4-vs-probe2
    * monotonicity property gateable in a single plan (ADVICE r4 #4).
    *
    * The query set defaults to the IvfParams contract (`vec_id <
    * nQueries`); [[Similarity.ragRetrieveIvf]] passes its own stride
    * predicate — the probe machinery is query-set-agnostic by
    * construction (any frame of (query vectors) works; r15).
    */
  private[queries] def ivfCandidates(
      spark: SparkSession,
      dir: String,
      p: IvfParams,
      maxProbe: Int,
      queryPred: org.apache.spark.sql.Column = null): DataFrame = {
    import p._
    val pred = Option(queryPred).getOrElse(col("vec_id") < nQueries)
    val (assigned, probeDF) = fitAssignProbe(spark, dir, p, maxProbe, pred)
    candidatesOf(assigned, assigned.filter(pred), probeDF)
  }

  /** Probed-cell candidate scoring over an arbitrary (index, queries,
    * probe) triple — extracted for [[AnnIngest]] like [[probeCells]].
    * `queries` carries (vec_id, embedding, norm2) rows; `assigned` is the
    * cell-tagged index the candidates come from.
    */
  private[queries] def candidatesOf(
      assigned: DataFrame, queries: DataFrame, probeDF: DataFrame): DataFrame = {
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("norm2").as("nq"))
      .join(probeDF, "query_id")
    // No broadcast hint on the query×probe side (ADVICE r3 #2): a forced
    // broadcast caps the query table at driver memory, contradicting the
    // any-size-query-table claim. AQE picks broadcast when the side is
    // actually small and a shuffled hash join when it isn't.
    q.join(assigned, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(expr("dot_product(qe, embedding)") / sqrt(col("nq") * col("norm2")), 4)
          .as("cosine"),
        col("rn"))
      // a neighbor can appear via several probed cells: keep its best rank
      // (this is the old `.distinct()` plus the rank tag)
      .groupBy(col("query_id"), col("neighbor_id"), col("cosine"))
      .agg(min(col("rn")).as("probe_rn"))
  }

  /** Top-k under the shared (cosine desc, neighbor_id) total order — the
    * same tie-break the exact baseline uses, which is what makes hit counts
    * monotone in the candidate set (see [[annIvfProbe4]]).
    */
  private[queries] def topKOf(cands: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  def ivfTopK(spark: SparkSession, dir: String, p: IvfParams = IvfParams()): DataFrame =
    topKOf(ivfCandidates(spark, dir, p, p.nProbe), p.topK)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))

  /** IVF pruning composed with int8 scoring — the layout a production
    * vector store actually scans at 10^9+ vectors (IVF + scalar quantizer):
    * the coarse quantizer works in float (KMeans cells, centroid probe
    * selection — [[fitAssignProbe]], tiny state), while the per-candidate
    * work inside the probed cells runs over [[Similarity.quantizedVecs]]'
    * int8 codes — 4× less data moved and compared per candidate than the
    * float path, on top of the cell pruning's candidate reduction. Replaces
    * nothing: `q_ann_quantized` stays as the full-scan pin of the scoring
    * semantics; this row adds the pruned execution of the SAME scoring.
    *
    * Scale shape: codes join to cell assignments by vec_id (both corpus
    * scans, co-partitionable), queries fan out by probed cell exactly as
    * the float path; per-query cost is bounded by probed-cell size. The
    * cosine is the same integer-exact double quotient as the brute-force
    * row, so a candidate found by both paths scores identically — which is
    * what makes the recall property below well-defined.
    */
  def ivfQuantizedTopK(
      spark: SparkSession,
      dir: String,
      p: IvfParams = IvfParams()): DataFrame = {
    import p._
    val (assigned, probeDF) = fitAssignProbe(spark, dir, p, nProbe, col("vec_id") < nQueries)
    val corpus = Similarity.quantizedVecs(spark, dir)
      .join(assigned.select(col("vec_id"), col("cell")), "vec_id")
    val q = corpus.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"), col("norm2").as("nq"))
      .join(probeDF.drop("rn"), "query_id")
    val scored = q.join(corpus, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("dot_product(qc, codes)") / sqrt(col("nq") * col("norm2"))).as("cosine"))
      // a neighbor can appear via several probed cells — dedup before rank
      .distinct()
    topKOf(scored, topK)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Gate row for [[ivfQuantizedTopK]], same derived-property technique as
    * [[annIvf]] (KMeans float-order sensitivity forbids a literal oracle):
    * (a) exactly topK neighbors per query, (b) recall@k against the
    * QUANTIZED brute-force ranking (`q_ann_quantized`, itself
    * hash-verified) clears the same floor the float IVF row pins against
    * its float baseline — isolating the cost of PRUNING from the cost of
    * QUANTIZING, which q_embed_quantize/q_ann_quantized already gate.
    */
  val annIvfQuantized: QueryDef = {
    val p = IvfParams()
    QueryDef(
      s"SELECT CAST(${p.nQueries} AS BIGINT) AS n_queries, true AS per_query_ok, " +
        s"true AS recall_ge_${p.minRecallPct}pct") { (spark, dir) =>
      val ivfq = ivfQuantizedTopK(spark, dir, p).select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.annQuantized.fn(spark, dir).select(col("query_id"), col("neighbor_id"))
      val hits = ivfq.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val ex = exact.agg(count(lit(1)).as("n_exact"))
      val shape = ivfq.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_queries"),
          (min(col("k")) === p.topK && max(col("k")) === p.topK).as("per_query_ok"))
      shape.crossJoin(hits).crossJoin(ex)
        .select(col("n_queries"), col("per_query_ok"),
          (col("n_hits") * 100 >= col("n_exact") * p.minRecallPct)
            .as(s"recall_ge_${p.minRecallPct}pct"))
    }
  }

  /** Driver-gate form: KMeans centroids are float-order-sensitive, so the
    * raw top-k is not oracle-expressible — but its *properties* are. The
    * gate query verifies in-plan that (a) every query returns exactly topK
    * neighbors and (b) recall@k against the exact brute-force ranking
    * (Similarity.annTopk, itself hash-verified) clears the parameterized
    * floor. The oracle states the expected property row; if IVF recall or
    * result shape ever degrades, the hash mismatches.
    */
  def ivfDef(p: IvfParams): QueryDef = QueryDef(
    s"SELECT CAST(${p.nQueries} AS BIGINT) AS n_queries, true AS per_query_ok, " +
      s"true AS recall_ge_${p.minRecallPct}pct") { (spark, dir) =>
    val ivf = ivfTopK(spark, dir, p).select(col("query_id"), col("neighbor_id"))
    val exact = Similarity.annTopk.fn(spark, dir).select(col("query_id"), col("neighbor_id"))
    val hits = ivf.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val ex = exact.agg(count(lit(1)).as("n_exact"))
    val shape = ivf.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
      .agg(count(lit(1)).as("n_queries"),
        (min(col("k")) === p.topK && max(col("k")) === p.topK).as("per_query_ok"))
    shape.crossJoin(hits).crossJoin(ex)
      .select(col("n_queries"), col("per_query_ok"),
        (col("n_hits") * 100 >= col("n_exact") * p.minRecallPct)
          .as(s"recall_ge_${p.minRecallPct}pct"))
  }

  val annIvf: QueryDef = ivfDef(IvfParams())

  /** Second gate row pinning the parameterization itself, as a DERIVED
    * property instead of the round-4 empirical 40% floor (ADVICE r4 #4 —
    * a KMeans seeding change could flap a hard floor while the code is
    * still correct). What IS derivable, and is gated here in-plan:
    *
    *   - `probe4_ge_probe2`: probe-4 exact-baseline hits >= probe-2 hits.
    *     Proof: both top-k lists use the same total order (cosine desc,
    *     neighbor_id) as the exact baseline, and the probe-4 candidate set
    *     is a superset of probe-2's (same fit, same assignment — one
    *     ivfCandidates call feeds both via the probe_rn filter). If
    *     enlarging the candidate set displaces a hit x from the top-k, the
    *     displacer y precedes x in the total order, so x in exact-top-k
    *     implies y in exact-top-k: every displaced hit is replaced by a
    *     hit. Hit count is monotone.
    *   - `recall_ge_20pct`: probe4 recall >= probe2 recall (above) and
    *     probe2's own gate row pins recall(probe2) >= 20%.
    *
    * Together these replace "40%" with floor(probe2) + monotonicity — both
    * survive any reseeding that keeps the probe2 row green.
    */
  val annIvfProbe4: QueryDef = {
    val p = IvfParams(nProbe = 4)
    QueryDef(
      s"SELECT CAST(${p.nQueries} AS BIGINT) AS n_queries, true AS per_query_ok, " +
        "true AS recall_ge_20pct, true AS probe4_ge_probe2") { (spark, dir) =>
      val cands = ivfCandidates(spark, dir, p, 4)
      val top4 = topKOf(cands, p.topK).select(col("query_id"), col("neighbor_id"))
      val top2 = topKOf(cands.filter(col("probe_rn") <= 2), p.topK)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Similarity.annTopk.fn(spark, dir).select(col("query_id"), col("neighbor_id"))
      val hits4 = top4.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits4"))
      val hits2 = top2.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits2"))
      val ex = exact.agg(count(lit(1)).as("n_exact"))
      val shape = top4.groupBy(col("query_id")).agg(count(lit(1)).as("k"))
        .agg(count(lit(1)).as("n_queries"),
          (min(col("k")) === p.topK && max(col("k")) === p.topK).as("per_query_ok"))
      shape.crossJoin(hits4).crossJoin(hits2).crossJoin(ex)
        .select(col("n_queries"), col("per_query_ok"),
          (col("n_hits4") * 100 >= col("n_exact") * 20).as("recall_ge_20pct"),
          (col("n_hits4") >= col("n_hits2")).as("probe4_ge_probe2"))
    }
  }

  val defs: Map[String, QueryDef] = Map(
    "q_ann_ivf" -> annIvf,
    "q_ann_ivf_probe4" -> annIvfProbe4,
    "q_ann_ivf_quantized" -> annIvfQuantized)
}
