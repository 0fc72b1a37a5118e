package graft.queries

import graft.TestSession.spark
import graft.SparkEntry
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions.{count, lit, sum, when}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards: the scale properties claimed in SCALE.md are
  * asserted against the actual plans so a refactor cannot silently
  * reintroduce a sort-aggregate, lose a pushed filter, or drop a broadcast.
  */
class PlanSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(SimpleMode)
  }

  test("q_topk plans as TakeOrderedAndProject (no global sort)") {
    assert(plan("q_topk").contains("TakeOrderedAndProject"))
  }

  test("q_argmin uses hash aggregation only (no SortAggregate)") {
    val p = plan("q_argmin")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"), s"sort agg crept back in:\n$p")
  }

  test("q_dedup_anti pushes the status filter into the parquet scan and broadcasts") {
    val p = plan("q_dedup_anti")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("q_fingerprint keeps poly_hash inside whole-stage codegen") {
    val p = plan("q_fingerprint")
    assert(p.contains("poly_hash"), p)
    // The Project carrying poly_hash is codegen'd (starred stage)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("poly_hash")), p)
  }

  test("q_batch_eval reads only the two needed columns") {
    val p = plan("q_batch_eval")
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("q_partitioned_scan prunes to the lang=en partition") {
    val p = plan("q_partitioned_scan")
    assert(p.contains("PartitionFilters: [isnotnull(lang"), p)
    assert(p.contains("(lang"), p)
  }

  test("q_bucketed_join joins shuffle-free once broadcast is off the table") {
    // At test scale Catalyst correctly auto-broadcasts the small side; turn
    // that off to expose the plan a warehouse-scale join would get — the
    // bucketed layout must make it a zero-Exchange SortMergeJoin.
    Confs.withConfs(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan("q_bucketed_join")
      assert(p.contains("SortMergeJoin"), p)
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!joinSection.contains("Exchange hashpartitioning(o_orderkey"), p)
      assert(p.contains("Bucketed: true"), p)
      assert(p.contains("SelectedBucketsCount: 8 out of 8"), p)
    }
  }

  test("q_embed_neardup never hints a broadcast of the corpus side") {
    // At 100 TB a forced broadcast(corpus) is fatal; cell-size stats must
    // drive the join strategy. Assert no hint survives in the plan.
    val df = SparkEntry.queries("q_embed_neardup")(spark, sf)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty, s"broadcast hint crept back in: $hints")
  }

  test("q_dedup_simhash generates candidates from capped buckets, not a band self-join") {
    val p = plan("q_dedup_simhash")
    // signature built by the native one-pass expression (map-side, no
    // token explode + 64-wide aggregate — the round-2 cost outlier)
    assert(p.contains("simhash64"), p)
    // in-row pair expansion from collected bucket lists...
    assert(p.contains("collect_list"), p)
    // ...bounded by the bucket-size cap (quadratic-blowup guard)
    assert(p.contains("size(ds"), p)
    // and never a nested-loop/cartesian pair generation
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ann_lsh_wide keeps the banded-bucket shape: broadcast query side, no cartesian") {
    val p = plan("q_ann_lsh_wide")
    // query bands broadcast into the bucket equi-join; corpus side streams
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_set_ops is one scan + one shuffle (conditional agg, no set operators)") {
    val p = plan("q_set_ops")
    // a single parquet scan of orders
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Intersect") && !p.contains("Except"), p)
  }

  test("q_ann_topk broadcasts the query side and pushes the rank limit down") {
    val p = plan("q_ann_topk")
    // non-equi (neighbor != query) join -> nested-loop with the 5-row query
    // side as the broadcast build; corpus side streams
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"), p)
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,5)]"), p)
    // rank<=10 evaluated as a partial per-partition top-k before the shuffle
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("q_decontaminate broadcasts the eval grams over one filtered corpus scan") {
    val p = plan("q_decontaminate")
    // tiny eval side is the broadcast build; the corpus side never shuffles
    // its grams (the only Exchange is the final doc_id aggregation)
    assert(p.contains("BroadcastHashJoin"), p)
    // the batch/eval split reaches the scan as a data filter, and grams are
    // generated in-row (a Generate directly over the projected scan)
    assert(p.contains("% 37"), p)
    assert(p.contains("Generate explode(array_distinct"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sample_stratified plans the quota as a partial-final WindowGroupLimit") {
    val p = plan("q_sample_stratified")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
    assert(p.contains("poly_hash"), p) // content-addressed ordering
  }

  test("q_repetition is a single scan with zero exchanges") {
    val p = plan("q_repetition")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange"), p)
  }

  test("q_dedup_incremental prunes the corpus side to the text column and anti-joins") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("LeftAnti"), p)
    // corpus side reads only what the hash needs
    assert(p.contains("ReadSchema: struct<text:string,source:string>") ||
      p.contains("ReadSchema: struct<text:string>"), p)
  }

  test("q_blocklist_filter is a single scan with zero exchanges") {
    val p = plan("q_blocklist_filter")
    assert(!p.contains("Exchange"), s"blocklist filter must run at scan speed:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q_sample_token_budget is one lang shuffle + one window sort") {
    val p = plan("q_sample_token_budget")
    // the exact budget cut is honestly sort-based: one exchange on lang,
    // one in-partition sort feeding the running-sum window — and nothing
    // else (no extra shuffle, no global sort)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("Window"), p)
    assert(p.contains("RunningWindowFunction") || p.contains("Sort "), p)
  }

  test("q_pii_scrub is a single scan with zero exchanges, poly_hash codegen'd") {
    val p = plan("q_pii_scrub")
    assert(!p.contains("Exchange"), s"PII scrub must run at scan speed:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("poly_hash")), p)
  }

  test("q_pack_sequences is one lang shuffle + one window sort") {
    val p = plan("q_pack_sequences")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q_dsir_weight joins the vocabulary without a forced broadcast hint") {
    val p = plan("q_dsir_weight")
    // The vocab join is deliberately UNHINTED (VERDICT r7 #2): statically
    // it plans as an equi-join on the token (AQE converts it to broadcast
    // at runtime when the counts table is actually small, and keeps the
    // shuffle fallback when a web-scale vocab would exceed broadcast
    // limits). The pin is the join SHAPE, not the strategy: an equi-join,
    // hash aggregation, no cartesian anywhere.
    assert(p.contains("Join") || p.contains("HashJoin"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dup_spans semi-joins marked positions and island-merges in one window") {
    val p = plan("q_dup_spans")
    // marked positions come back through a LEFT SEMI join (no gram payload
    // kept past the mark), and the island merge is a single doc_id window —
    // never a position self-join or interval logic
    assert(p.contains("Semi"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_dup_ngrams pre-aggregates in two hash levels and takes an ordered head") {
    val p = plan("q_dup_ngrams")
    // grams generated in-row, never a corpus-wide countDistinct; since r9
    // the gram expansion lives in the memoized shared frame, so a warm
    // session reads it back as an InMemoryTableScan instead of showing the
    // Generate inline
    assert(p.contains("Generate explode") || p.contains("InMemoryTableScan"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    // the top-k is per-partition heads + merge, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_dedup_edit_verify broadcasts the capped pair set into the text joins") {
    val p = plan("q_dedup_edit_verify")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_json_extract evaluates the JSON path in-scan with one hash aggregation") {
    val p = plan("q_json_extract")
    assert(p.contains("get_json_object"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"), p)
  }

  test("stream-dedup-wm chunk prep is one hash-aggregate over a 3-column scan") {
    spark.sparkContext.setLogLevel("ERROR")
    val p = Events.wmChunkPrepFrame(spark, sf)
      .queryExecution.explainString(SimpleMode)
    // partial + final hash agg around exactly one exchange: the prep stays
    // map-side-combinable at any corpus size
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    // column pruning reaches the scan: only the key pair + timestamp read
    // (ts's physical type is a generator detail — bigint for nanos-as-long,
    // timestamp for micros/millis — so match the column set, not the type)
    assert("ReadSchema: struct<ts:[a-z_]+,user_id:bigint,event_type:string>".r
      .findFirstIn(p).isDefined, p)
  }

  test("q_global_index moves the corpus once: range exchange, ids in-place") {
    val p = plan("q_global_index")
    // the corpus moves exactly once — the range exchange behind the cached
    // frame; local ranks come from the monotonic id, NOT a row_number
    // window (which would re-shuffle everything a second time on pid)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("row_number()"), p)
    // the only hash exchange is the tiny per-pid counts aggregation
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    // the offsets come back as a broadcast, never a data-sized shuffle join
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_topk_terms_per_lang prunes to per-partition heads before the lang exchange") {
    val p = plan("q_topk_terms_per_lang")
    // the rank filter must push down as partial+final WindowGroupLimit so
    // a skewed language never ships more than 5 rows per partition
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    // counts collapse map-side first: hash aggregation, never sort-based
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), p)
  }

  test("q_union_evolved adds no shuffle beyond the final rollup") {
    val p = plan("q_union_evolved")
    // a by-name union is plan-level concatenation + a null-fill projection;
    // the only exchange is the grouped rollup
    assert(p.contains("Union"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
  }

  test("q_cogroup_funnel co-partitions both sides and never goes cartesian") {
    val p = plan("q_cogroup_funnel")
    assert(p.contains("CoGroup"), p)
    // one exchange per side on the key, nothing corpus-squared
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_salted_join stays a shuffled hash join with in-plan dim replication") {
    val p = plan("q_salted_join")
    // the row demonstrates the NO-broadcast regime: the salted join must
    // plan as a shuffled hash join, and the dim replication is an in-plan
    // explode, not a driver-side loop
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("q_vocab_build cuts the budget with per-partition heads, ids after the cut") {
    val p = plan("q_vocab_build")
    // the budget cut is TakeOrderedAndProject (per-partition heads +
    // merge), never a global sort of the full vocabulary; counts stay
    // hash-aggregated
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q_lm_score keeps the model hash-aggregated and never goes cartesian") {
    val p = plan("q_lm_score")
    // bigrams generate in-row (no self-join), both model aggregations are
    // partial/final hash aggregates, and the scoring join is a keyed join
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_gram_novelty reuses the shared gram frame and combines map-side") {
    val p = plan("q_gram_novelty")
    // the memoized positional-gram frame backs this row (same cache as
    // q_dup_ngrams/q_dup_spans — one scan+explode per session, not three)
    assert(p.contains("InMemoryTableScan") || p.contains("InMemoryRelation"), p)
    // all three aggregations stay hash-based (partial/final combinable)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q_array_ops is a single scan with zero exchanges") {
    val p = plan("q_array_ops")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange"), s"array stats must fold in-row:\n$p")
  }

  test("q_bpe_pairs aggregates two-level and heads with TakeOrderedAndProject") {
    val p = plan("q_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    // map-side partial collapse to the pair vocabulary before the shuffle
    assert(p.contains("partial_count") || p.contains("Partial"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
  }

  test("q_snapshot_diff joins fingerprints, not text") {
    val p = plan("q_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(p.contains("poly_hash"), p)
    // both sides hash to (id, fp) before the join: the exchanges carry
    // 16-byte rows, never the document text
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findAllIn(p).hasNext,
      s"document text must not enter a shuffle:\n$p")
  }

  test("q_grouping_sets is one Expand + hash aggregate, not a union of scans") {
    val p = plan("q_grouping_sets")
    assert(p.contains("Expand"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"grouping sets must not rescan per set:\n$p")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q_unpivot expands in-row after one aggregation exchange") {
    val p = plan("q_unpivot")
    assert(p.contains("Expand"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
  }

  test("q_quality_audit folds every CASE count in one scan") {
    val p = plan("q_quality_audit")
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
    // the id-uniqueness check rides the standard two-level distinct
    // rewrite; the CASE counts merge through the same aggregates
    assert("Exchange".r.findAllIn(p).size == 2, s"expected the distinct rewrite only:\n$p")
    assert(!p.contains("SortAggregate"), p)
  }

  test("q_nn_classify broadcasts the prototype model and pushes the top-1 down") {
    val p = plan("q_nn_classify")
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("WindowGroupLimit"), s"argmin must prune below the shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // scoring side: one corpus scan feeding the broadcast cross join
    assert("Scan parquet".r.findAllIn(p).size == 1, p)
  }

  test("q_dim_stats collapses to dimension counters before its one exchange") {
    val p = plan("q_dim_stats")
    assert(p.contains("Generate posexplode"), p)
    assert(p.contains("partial_sum") || p.contains("Partial"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
  }

  test("q_curriculum_bins shares one shuffle+sort across both windows") {
    val p = plan("q_curriculum_bins")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert("Sort \\[".r.findAllIn(p).size == 1,
      s"the two windows must share one prefix-compatible sort:\n$p")
  }

  test("q_cdc_apply combines map-side before one key-cardinality exchange") {
    val p = plan("q_cdc_apply")
    // the struct-valued max_by buffer makes Catalyst pick the sort-based
    // aggregate (local, spillable sorts); what must hold at scale is that
    // the PARTIAL max_by runs below the single exchange — key cardinality,
    // not log cardinality, crosses the wire — and no Window sorts the log
    assert(p.contains("partial_max_by"), p)
    assert(p.indexOf("partial_max_by") > p.indexOf("Exchange"),
      s"partial agg must sit below the exchange:\n$p")
    assert(!p.contains("Window"), s"LWW must be max_by, not row_number:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
  }

  test("q_domain_caps prunes the cap below the shuffle as WindowGroupLimit") {
    val p = plan("q_domain_caps")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"cap must run partial+final so mega-domains never fully sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_zorder_layout: in-row code assignment, broadcast bounds, one rollup exchange") {
    val p = plan("q_zorder_layout")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortAggregate"), p)
    // exchanges: the 1-row bounds broadcast side's scalar agg + the bucket
    // rollup — the z-assignment itself must add none (scan-speed projection)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly 1 hash exchange (the 256-bucket rollup):\n$p")
  }

  test("q_skew_metrics is two hash aggregates, one key-cardinality exchange") {
    val p = plan("q_skew_metrics")
    assert(!p.contains("SortAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  test("q_sample_pps: two-phase prefix sum — range exchange + pid-local window") {
    val p = plan("q_sample_pps")
    assert(p.contains("rangepartitioning"), s"order must come from a range exchange:\n$p")
    // the data-sized running sum must be partitioned by pid (local), never
    // a single-partition window over the documents
    assert(p.contains("windowspecdefinition(pid"), s"local cumsum missing:\n$p")
  }

  test("q_join_hints: SHUFFLE_HASH hint replaces the default sort-merge join") {
    val p = plan("q_join_hints")
    assert(p.contains("ShuffledHashJoin"), s"hint must force SHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)"), p)
  }

  test("q_join_dpp injects a dynamic partition-pruning subquery on the fact scan") {
    val p = plan("q_join_dpp")
    assert(p.contains("dynamicpruning"),
      s"runtime dim filter must prune fact partitions:\n$p")
  }

  test("q_reused_exchange computes the heavy aggregate exchange once") {
    // AQE materializes exchange reuse at RUNTIME (the pre-execution plan
    // legitimately shows two exchanges) — execute, then pin the final plan
    val df = SparkEntry.queries("q_reused_exchange")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"),
      s"the counts exchange must be shared by both consumers:\n$p")
  }

  test("q_variant_extract parses props once into VARIANT, no string re-parse") {
    val p = plan("q_variant_extract")
    assert(p.contains("variant_get"), p)
    assert(p.contains("parseJson"), p) // parse_json prints as its static invoke
  }

  test("q_variant_shred's read path consumes the SHREDDED typed column, not binary variant") {
    // The footer check proves the WRITE half; this pins the READ half
    // (code-review r13): under allowReadingShredded + pushVariantIntoScan
    // the variant_get must be REWRITTEN INTO THE SCAN — the physical plan
    // carries no variant_get at all and the ReadSchema requests only the
    // pushed path as a plain typed struct field (observed:
    // `ReadSchema: struct<v:struct<0:string>>`, projection `cast(v.0 as
    // bigint)`), never the opaque binary variant column. A silent
    // fallback to per-row binary decode keeps the hash green while
    // voiding the columnar-access claim — this pin catches it.
    SparkEntry.queries("q_variant_shred")(spark, sf).collect(): Unit // materialize cache
    val out = graft.sources.FileSources.cacheDir("variantshred", sf, "events.parquet")
    Confs.withConfs(spark,
      "spark.sql.variant.allowReadingShredded" -> "true",
      "spark.sql.variant.pushVariantIntoScan" -> "true") {
      val df = spark.read.parquet(out)
        .select(org.apache.spark.sql.functions
          .expr("cast(variant_get(v, '$.k', 'string') as bigint)").as("k"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("variant_get"),
        s"variant_get must be rewritten into the scan, not evaluated per row:\n$p")
      assert(p.contains("ReadSchema: struct<v:struct<"),
        s"scan must request only the pushed typed path:\n$p")
      assert(!p.toLowerCase.contains("readschema: struct<v:variant"),
        s"scan must not read the opaque binary variant:\n$p")
    }
  }

  test("q_zorder_prune scans only qualifying buckets (static partition pruning)") {
    val p = plan("q_zorder_prune")
    assert(p.contains("PartitionFilters") && p.contains("zbucket"),
      s"zone-map consult must become partition pruning:\n$p")
    assert(p.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"), p)
  }

  test("q_zorder_join prunes fact buckets through the zone map and broadcasts the dim") {
    val p = plan("q_zorder_join")
    assert(p.contains("PartitionFilters") && p.contains("zbucket"),
      s"zone-map consult must become partition pruning under the join:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("PushedFilters: [IsNotNull(p_partkey), LessThanOrEqual(p_partkey"),
      s"dim predicate must reach the part scan:\n$p")
  }

  test("q_star_wide folds the dimension chain into broadcasts; one key exchange carries data") {
    val p = plan("q_star_wide")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"region/nation/customer must ride broadcast joins:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only hash exchanges are the orders-lineitem key join + the rollup
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"fact-side shuffles crept in:\n$p")
  }

  test("q_copurchase expands pairs in-row: one lineitem scan, top-k without global sort") {
    val p = plan("q_copurchase")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert("Scan parquet".r.findAllIn(p).size == 1,
      s"a self-join would scan lineitem twice:\n$p")
  }

  test("q_oov_rate broadcasts the vocabulary onto the token stream") {
    val p = plan("q_oov_rate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"),
      s"vocab lookup must be a broadcast left join:\n$p")
  }

  test("q_table_checksum fingerprints at scan speed and combines map-side") {
    val p = plan("q_table_checksum")
    // poly_hash rides the Project directly over the scan (the AQE-wrapped
    // pre-execution plan hides codegen stars, so pin the operator shape)
    assert(p.contains("poly_hash(concat_ws"),
      s"row fingerprinting must be a scan-side projection:\n$p")
    assert(p.contains("partial_bit_xor"),
      s"the XOR fold must combine map-side below the exchange:\n$p")
    assert(!p.contains("SortAggregate"), p)
    assert("Exchange".r.findAllIn(p).size == 1, // the 1-row final fold only
      s"checksum must be one scan + one fold:\n$p")
  }

  test("q_runtime_filter injects a bloom might_contain on the fact side") {
    spark.sparkContext.setLogLevel("ERROR")
    Relational.withRuntimeFilterConfs(spark) {
      val df = Relational.runtimeFilterFrame(spark, sf)
      df.collect() // AQE materializes the runtime filter during execution
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter must prune the fact scan:\n$p")
      assert(p.contains("bloom_filter_agg"),
        s"the filter must be built from the dimension keys at runtime:\n$p")
    }
  }

  test("q_retention: key-bounded shuffles only, no window over events") {
    val p = plan("q_retention")
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"retention must stay within three key-bounded exchanges:\n$p")
  }

  test("q_embed_covariance: in-row outer product, no explode, no wide exchange") {
    val p = plan("q_embed_covariance")
    assert(!p.contains("Generate"), s"covariance must not posexplode:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"scalar moment fold must not shuffle by key:\n$p")
    assert(p.contains("HashAggregate"), p)
  }

  test("q_sql_api: text route pushes both date filters to the scans, top-k without global sort") {
    val p = plan("q_sql_api")
    // The SQL-text front door must get the same Catalyst treatment as the
    // DSL: segment + date predicates reach the parquet scans, the LIMIT 10
    // plans as TakeOrderedAndProject.
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
    assert(p.contains("LessThan(o_orderdate"), p)
    assert(p.contains("GreaterThan(l_shipdate"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_curate_e2e: lang and quality gates are scan-pushed predicates") {
    val p = plan("q_curate_e2e")
    assert(p.contains("EqualTo(lang,en)"), p)
    assert(p.contains("GreaterThanOrEqual(n_chars,100)"), p)
    // the explainString elides the tail of a long PushedFilters list, so
    // the upper bound is pinned via the un-truncated DataFilters echo —
    // anchored on the FULL literal (a bare "<= 200" prefix would also
    // match a regressed 200/2000 bound; code-review r12)
    assert(p.contains("(n_chars#") && " <= 20000\\)".r.findFirstIn(p).isDefined, p)
  }

  test("q_attribution: one user exchange feeding the carry window, hash rollup") {
    val p = plan("q_attribution")
    assert(p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"attribution is one window exchange + one 5-key rollup:\n$p")
  }

  test("q_user_journey: single user exchange, object-hash collect (no sort agg)") {
    val p = plan("q_user_journey")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(!p.contains("SortAggregate"), p)
  }

  test("q_chunk_pairs: in-row chunk fan-out, one doc exchange for the pair window") {
    val p = plan("q_chunk_pairs")
    assert(p.contains("Generate"), s"chunk expansion must be in-row explode:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q_triangles: wedge joins are equi-joins, never cartesian") {
    // "Wedge joins" are the joins that close triangles: the orientation
    // joins and the two adjacency probes.
    val p = plan("q_triangles")
    assert(!p.contains("CartesianProduct"), s"triangle join must stay keyed:\n$p")
    assert(p.contains("Generate"), s"edges must build via in-row pair expansion:\n$p")
  }

  test("q_triangles builds its adjacency, degree table and final aggregate once each") {
    // Forward counting: the oriented edges probe ONE broadcast adjacency
    // twice (out-list of the source, out-list of the target), and one
    // final aggregate yields both the merge sum and the edge count.
    // Pinned by WALKING the final AQE plan, not by scanning the flat
    // printout: a reused exchange is a leaf of the walk, so each operator
    // found is one that actually executes. The plan pinned is the one
    // Bench and perfbench time: their cache sweep leaves the memoized edge
    // frame unpersisted, and in-plan exchange reuse shares the subtrees
    // (over a cached scan it does not: each reference of the frame is its
    // own relation copy).
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Final}
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
    val df = SparkEntry.queries("q_triangles")(spark, sf)
    Graph.edgeCache.getOrElseUpdate(spark, sf, Seq("lineitem.parquet"), "edges")(
      fail("no memoized edge frame")).unpersist(true)
    df.collect() // AQE: pin the FINAL plan, not the pre-execution sketch
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def walk(p: SparkPlan): Vector[SparkPlan] = p +: kids(p).flatMap(walk).toVector
    def finalAgg(p: SparkPlan): Option[BaseAggregateExec] = p match {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(_.mode == Final) => Some(a)
      case _ => None
    }
    def isAdjacency(p: SparkPlan): Boolean = finalAgg(p).exists(
      _.aggregateExpressions.exists(_.aggregateFunction.prettyName == "collect_list"))
    def isDegree(p: SparkPlan): Boolean = finalAgg(p).exists(a => a.groupingExpressions.nonEmpty &&
      a.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Count]))
    val plan = walk(root)
    assert(!plan.exists(_.getClass.getSimpleName.contains("CartesianProduct")),
      s"the triangle joins must stay keyed:\n$root")
    assert(plan.count(isAdjacency) == 1, s"expected one adjacency aggregate:\n$root")
    assert(plan.count(isDegree) == 1, s"expected one degree aggregate:\n$root")
    val merges = plan.flatMap(finalAgg).filter(_.aggregateExpressions.exists(
      _.aggregateFunction.toString.contains("sorted_intersect_size")))
    assert(merges.size == 1 &&
      merges.head.aggregateExpressions.exists(_.aggregateFunction.isInstanceOf[Count]),
      s"expected one final aggregate holding the merge sum and the edge count:\n$root")
    assert(!plan.exists { case g: GenerateExec => walk(g).exists(isAdjacency); case _ => false },
      s"a Generate sits above the adjacency:\n$root")
    val adjBroadcast = plan.collect {
      case b: BroadcastExchangeLike if walk(b).exists(isAdjacency) => b
    }
    assert(adjBroadcast.size == 1, s"the adjacency does not arrive through one broadcast:\n$root")
    assert(plan.exists {
      case r: ReusedExchangeExec => r.child eq adjBroadcast.head
      case _ => false
    }, s"the second probe does not reuse the adjacency broadcast:\n$root")
  }

  test("q_typed_agg: the custom Aggregator still partial-merges map-side") {
    val p = plan("q_typed_agg")
    // A typed Aggregator plans as ObjectHashAggregate; the partial/final
    // pair is what makes a custom aggregate scale like a built-in sum.
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_intmoments") ||
      "ObjectHashAggregate".r.findAllIn(p).size >= 2, p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 key exchange:\n$p")
  }

  test("q_hash_sample_per_key: native hash expr, one user exchange, rank-1 pruned pre-shuffle") {
    val p = plan("q_hash_sample_per_key")
    // poly_hash evaluates in the scan-side Project (the AQE explain elides
    // codegen stars pre-execution; the expression's codegen is pinned by
    // the q_fingerprint/q_pii_scrub star assertions)
    assert(p.contains("poly_hash(cast(event_id"), p)
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
    // the rank-1 cut happens BEFORE the exchange too: Partial
    // WindowGroupLimit ships one row per (map partition, user), not the
    // user's whole history
    assert(p.contains("WindowGroupLimit") &&
      p.contains("Partial") && p.contains("Final"), p)
  }

  test("q_null_safe_join: <=> plans as an equi-join on the null-safe key, never cartesian") {
    val p = plan("q_null_safe_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"null-safe equality must stay a hash-joinable key:\n$p")
    assert(p.contains("knullsafeeq") || p.contains("<=>") || p.contains("coalesce"), p)
  }

  test("q_item_recs: per-item top-k prunes pre-shuffle, co-matrix never cartesian") {
    val p = plan("q_item_recs")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_lag_features: one scan, one exchange, both lags as range frames (no joins)") {
    // The review-pass pin exposed the first-cut join formulation scanning
    // events three times (shifted-key projections defeat exchange reuse);
    // the range-frame form is pinned instead: a single parquet scan, a
    // single user-day exchange, and NO join operator anywhere.
    val p = plan("q_lag_features")
    assert("Scan parquet".r.findAllIn(p).size == 1, s"events must scan once:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected 1 exchange:\n$p")
    assert(!p.contains("Join"), s"lag horizons must be window frames, not joins:\n$p")
    assert(p.contains("Window"), p)
  }

  test("q_recursive_cte: the spine is a UnionLoop, the rollup join broadcasts") {
    val p = plan("q_recursive_cte")
    assert(p.contains("UnionLoop"), s"recursion must plan as UnionLoop:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the ~80-row spine joins the month rollup broadcast-side:\n$p")
  }

  test("q_lateral_topk: the correlated LATERAL decorrelates to a pre-shuffle WindowGroupLimit") {
    val p = plan("q_lateral_topk")
    // The engine must NOT execute the subquery per outer row: the lateral
    // rewrites into the same rank-truncated join shape as
    // q_hash_sample_per_key — a Partial WindowGroupLimit prunes each key
    // to 2 rows BEFORE the exchange, and the probe set joins broadcast.
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_collation: the join keys are collated expressions, not a post-join filter") {
    val p = plan("q_collation")
    assert(p.contains("collate(w") && p.contains("UTF8_LCASE"),
      s"collated equality must be the hash/sort join key itself:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_regression: one lineitem scan, map-side partial sufficient statistics") {
    val p = plan("q_regression")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1,
      s"sufficient statistics must come from ONE pass:\n$p")
    assert(p.contains("partial_sum"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("q_file_metadata: metadata columns ride the scan — no extra source or join") {
    val p = plan("q_file_metadata")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(p.contains("row_index"), p)
    assert(!p.contains("Join"), p)
  }

  test("q_approx_topk: sketch is a map-side partial ObjectHashAggregate, exact side top-k prunes") {
    val p = plan("q_approx_topk")
    assert(p.contains("partial_approx_top_k"),
      s"the sketch must combine map-side before the single-partition merge:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_term_drift: slice filter pushes to the scan; the shared counts exchange reuses at runtime") {
    val df = SparkEntry.queries("q_term_drift")(spark, sf)
    assert(df.queryExecution.explainString(SimpleMode).contains("In(source, [src0,src1])"))
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"the (source, tok) counts subtree must be computed once:\n$executed")
  }

  test("q_catalog_stats feeds CBO: the filter cardinality estimate lands near truth") {
    spark.sparkContext.setLogLevel("ERROR")
    // Assert the optimizer consumes ANALYZE stats: with CBO on, the
    // estimated row count of a selective filter must be defined and
    // within 2x of the actual count — the property join reorder and
    // broadcast selection price joins with at 100 TB. (Independent of
    // the q_catalog_stats row: only the database is shared.)
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cbo")
    spark.sql("DROP TABLE IF EXISTS graft_cbo.orders_pin")
    spark.sql(s"CREATE TABLE graft_cbo.orders_pin USING parquet LOCATION '$sf/orders.parquet'")
    spark.sql("ANALYZE TABLE graft_cbo.orders_pin COMPUTE STATISTICS FOR COLUMNS o_orderstatus")
    try Confs.withConfs(spark, "spark.sql.cbo.enabled" -> "true") {
      val df = spark.sql("SELECT * FROM graft_cbo.orders_pin WHERE o_orderstatus = 'F'")
      val est = df.queryExecution.optimizedPlan.stats.rowCount
      val actual = df.count()
      assert(est.isDefined, "CBO must propagate a row-count estimate from the analyzed stats")
      val e = est.get.toLong
      assert(e >= actual / 2 && e <= actual * 2,
        s"estimate $e vs actual $actual — stats not consumed or badly off")
    } finally spark.sql("DROP TABLE IF EXISTS graft_cbo.orders_pin")
  }

  test("q_nested_fields: struct surgery is pure projection — one scan, zero exchanges") {
    val p = plan("q_nested_fields")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(!p.contains("Exchange"), s"withField/dropFields must stay in the projection:\n$p")
  }

  test("q_map_ops: one data scan; the map layer is in-row (analyzed plan) and may fuse away") {
    val df = SparkEntry.queries("q_map_ops")(spark, sf)
    val physical = df.queryExecution.explainString(SimpleMode)
    assert(physical.linesIterator.count(_.contains("FileScan parquet")) == 1, physical)
    // Catalyst is free to rewrite map_filter/transform_values over
    // map_from_entries into array ops before the explode — the API
    // surface under test is the ANALYZED plan; the physical fusion is a
    // feature, not a regression.
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.contains("map_from_entries") && analyzed.contains("map_filter")
      && analyzed.contains("transform_values"), analyzed)
  }

  test("q_sql_udf: the SQL functions inline — no ScalaUDF, top-k without a global sort") {
    val p = plan("q_sql_udf")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      s"SQL UDFs must inline into the plan:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_nested_prune: the scan reads ONLY the touched nested leaves") {
    val p = plan("q_nested_prune")
    assert(p.contains("ReadSchema: struct<s:struct<fin:struct<bal_c:bigint,nation:"),
      s"nested pruning must narrow the scan to the two touched leaves:\n$p")
    assert(!p.contains("c_name") && !p.contains("c_mktsegment"),
      s"untouched struct fields must not survive into the plan:\n$p")
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true in the executed plan)") {
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // 95% of the left rows share key 0, so one shuffle partition dwarfs
    // the median; with the detection thresholds scaled to toy bytes (the
    // runtimeFilter conf-scope pattern — production defaults are sized
    // for real clusters), AQE must replan the join with the hot partition
    // split. This is the engine-level answer to join skew that the salted
    // join handles by hand — both live in the repertoire, this pin keeps
    // the automatic one honest.
    Confs.withConfs(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val left = spark.range(0, 200000)
        .select(when($"id" % 20 === 0, $"id" % 100).otherwise(lit(0L)).as("k"),
          $"id".as("v"))
      val right = spark.range(0, 100).select($"id".as("k"), ($"id" * 2).as("w"))
      val df = left.join(right, "k").agg(count(lit(1)).as("n"), sum($"w").as("s"))
      df.collect() // the skew split only exists in the AQE final plan
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"expected AQE to mark the hot partition skew=true:\n$p")
    }
  }

  test("q_user_journey's cap window rides the aggregate's exchange (exactly 1 shuffle)") {
    // The r13 history cap added a row_number window BEFORE the per-user
    // aggregate; both partition on user_id, so the window's sort must
    // reuse the aggregate's hash exchange — a second Exchange would mean
    // the cap doubled the query's shuffle cost.
    val p = plan("q_user_journey")
    assert("Exchange".r.findAllIn(p).size == 1, s"expected exactly 1 exchange:\n$p")
    assert(p.contains("Window"), s"cap window missing:\n$p")
  }

  test("q_shard_balance ranks via the range exchange, never a global window") {
    val p = plan("q_shard_balance")
    // inherits the globalRank shape: rangepartitioning moves the corpus
    // once; ranks come from the monotonic id, not a row_number window
    // (an empty-frame window would collapse the corpus to one task)
    assert(p.contains("rangepartitioning"), p)
    assert(!p.contains("row_number()"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_rag_retrieve broadcasts the query sliver; corpus scanned in place") {
    val p = plan("q_rag_retrieve")
    // the non-equi (doc_id <> query_id) scoring join must be a broadcast
    // nested-loop with the STRIDED QUERY SET as the broadcast side — the
    // corpus side never shuffles for scoring
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // per-query windows only — a global (unpartitioned) window would
    // plan an Exchange SinglePartition and collapse scoring to one task
    assert(!p.contains("Exchange SinglePartition"), p)
  }
}
