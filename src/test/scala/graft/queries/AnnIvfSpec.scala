package graft.queries

import graft.TestSession.spark
import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** IVF ANN quality: recall@10 against the exact brute-force ranking, and
  * the pruning property (probed candidates are a strict subset of the
  * corpus).
  */
class AnnIvfSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  test("IVF recall@10 vs brute force is substantial; candidates are pruned") {
    spark.sparkContext.setLogLevel("WARN")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SparkEntry.queries("q_ann_topk")(spark, sf))
    val ivf = pairs(AnnIvf.ivfTopK(spark, sf))
    assert(exact.size == 50) // 5 queries x top-10
    assert(ivf.nonEmpty)
    val recall = (exact intersect ivf).size.toDouble / exact.size
    // 2 of 16 data-adaptive cells probed on near-random vectors: recall is
    // necessarily partial; it must still beat the 2/16 random-cell floor.
    assert(recall >= 0.2, s"recall@10 = $recall")
    info(f"IVF recall@10 = $recall%.2f")

    // Parameterized probe width (VERDICT r3 #7): probing 4 cells evaluates a
    // superset of the 2-cell candidates, so recall is monotone in nProbe.
    val ivf4 = pairs(AnnIvf.ivfTopK(spark, sf, AnnIvf.IvfParams(nProbe = 4)))
    val recall4 = (exact intersect ivf4).size.toDouble / exact.size
    // The derivable floor is monotonicity + probe2's own floor, not 2x
    // (ADVICE r4 #4) — the hard 0.4 here could flap on a KMeans reseed.
    // Measured margin for the record: 0.60 at sf0.001 as of round 6.
    assert(recall4 >= recall, s"recall@10 probe4 = $recall4 < probe2 = $recall")
    assert(recall4 >= 0.2, s"recall@10 probe4 = $recall4")
    info(f"IVF probe4 recall@10 = $recall4%.2f")
  }

  test("IVF+int8: quantized-space recall clears the floor vs the quantized brute force") {
    spark.sparkContext.setLogLevel("WARN")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The baseline for the PRUNED quantized path is the FULL-SCAN quantized
    // path (same scoring, superset candidates) — not the float ranking,
    // whose delta is the quantizer's error and is gated elsewhere
    // (q_embed_quantize / q_ann_quantized).
    val exactQ = pairs(SparkEntry.queries("q_ann_quantized")(spark, sf))
    val ivfQ = pairs(AnnIvf.ivfQuantizedTopK(spark, sf))
    assert(exactQ.size == 50) // 5 queries x top-10
    assert(ivfQ.nonEmpty)
    val recall = (exactQ intersect ivfQ).size.toDouble / exactQ.size
    // same 2-of-16-cells floor argument as the float IVF row
    assert(recall >= 0.2, s"quantized IVF recall@10 = $recall")
    info(f"IVF+int8 recall@10 = $recall%.2f")
    val gate = SparkEntry.queries("q_ann_ivf_quantized")(spark, sf).collect()
    assert(gate.length == 1)
    assert(gate(0).getAs[Long]("n_queries") == 5L)
    assert(gate(0).getAs[Boolean]("per_query_ok"))
    assert(gate(0).getAs[Boolean]("recall_ge_20pct"))
  }

  test("q_ann_ivf gate query asserts the shape + recall properties in-plan") {
    spark.sparkContext.setLogLevel("WARN")
    val row = SparkEntry.queries("q_ann_ivf")(spark, sf).collect()
    assert(row.length == 1)
    val r = row(0)
    assert(r.getAs[Long]("n_queries") == 5L)
    assert(r.getAs[Boolean]("per_query_ok"))
    assert(r.getAs[Boolean]("recall_ge_20pct"))
    val row4 = SparkEntry.queries("q_ann_ivf_probe4")(spark, sf).collect()
    assert(row4.length == 1)
    val r4 = row4(0)
    assert(r4.getAs[Long]("n_queries") == 5L)
    assert(r4.getAs[Boolean]("per_query_ok"))
    // derived gates (ADVICE r4 #4): monotonicity + the probe2-inherited floor
    assert(r4.getAs[Boolean]("recall_ge_20pct"))
    assert(r4.getAs[Boolean]("probe4_ge_probe2"))
  }

  test("streamed IVF ingest converges to the batch index (q_ann_stream_ingest)") {
    spark.sparkContext.setLogLevel("WARN")
    val row = SparkEntry.queries("q_ann_stream_ingest")(spark, sf).collect()
    assert(row.length == 1)
    val r = row(0)
    // 500 vectors at sf0.001 → 125 arrivals (vec_id % 4 == 3)
    assert(r.getAs[Long]("n_ingested") == 125L)
    // all 5 query ids present — including vec_id 3, which itself ARRIVED
    // via the stream: a freshly ingested vector is immediately queryable
    assert(r.getAs[Long]("n_queries") == 5L)
    assert(r.getAs[Boolean]("per_query_k_ok"))
    assert(r.getAs[Boolean]("matches_batch_index"),
      "probe over the streamed index must equal the frozen-model batch rebuild exactly")
  }

  test("RAG-over-IVF: measured context recall vs the exact row, budget/dedup intact") {
    // VERDICT r14 #3: the IVF swap the exact RAG row documented, measured.
    spark.sparkContext.setLogLevel("WARN")
    val gate = SparkEntry.queries("q_rag_retrieve_ivf")(spark, sf).collect()
    assert(gate.length == 1)
    val g = gate(0)
    assert(g.getAs[Long]("n_queries") == 6L) // 500 vectors, stride 97 -> ids 0,97,...,485
    assert(g.getAs[Boolean]("per_query_k_ok"))
    assert(g.getAs[Boolean]("recall_ge_30pct"))
    assert(g.getAs[Boolean]("ctx_admission_ok"))
    // Measured recall of the ASSEMBLED CONTEXT (not just stage-1 hits):
    // what fraction of the exact row's admitted (query, doc) context the
    // IVF-built context reproduces. Floor matches the stage-1 nProbe=2
    // argument — context can only lose docs the probe never saw. One
    // collect serves recall and the row-by-row invariants (code-review
    // r15: the first cut ran the KMeans-probe pipeline twice).
    val exactCtx = SparkEntry.queries("q_rag_retrieve")(spark, sf)
      .select("query_id", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactCtx.nonEmpty)
    val ivfRows = Similarity.ragIvfContextForTest(spark, sf)
      .select("query_id", "doc_id", "rank", "cum_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val ivfCtx = ivfRows.map(r => (r._1, r._2)).toSet
    val recall = (exactCtx intersect ivfCtx).size.toDouble / exactCtx.size
    // Floor at the measured band, like the gate row's stage-1 floor
    // (VERDICT r15 #2): measured context recall is 0.42 at sf0.001;
    // 0.3 keeps real margin while a regressed probe path (random cells,
    // ~0.125) fails by more than half.
    assert(recall >= 0.3, s"RAG context recall = $recall")
    info(f"RAG-over-IVF context recall = $recall%.2f")
    // dedup + budget invariants hold on the IVF context (per query:
    // ranks contiguous from 1, cum_tok non-decreasing and <= budget —
    // the budget bound via the hoisted constant, not a copied literal)
    ivfRows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to rs.length).toSeq, s"query $q ranks not contiguous")
      assert(sorted.last._4 <= Similarity.RagBudget.toLong, s"query $q context over budget")
      assert(sorted.map(_._4).toSeq == sorted.map(_._4).sorted.toSeq, s"query $q cum_tok not monotone")
    }
  }
}
