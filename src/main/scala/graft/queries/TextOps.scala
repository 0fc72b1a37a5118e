package graft.queries

import graft.functions.PolyHash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: n-gram-heuristic
  * language ID, quality scoring, token counting (whitespace + a BPE-ish
  * subword proxy), and document fingerprinting via the codegen'd
  * [[graft.functions.PolyHash]] rolling hash.
  *
  * All scoring is integer/rational arithmetic with explicit rounding so the
  * DuckDB oracle matches bit-for-bit. Every query is a single scan +
  * map-side work + one small aggregation — the shape that survives 100 TB.
  */
object TextOps {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Stopword lists per language for the n-gram/stopword heuristic. The
    * priority order (en, de, es, fr, zh) breaks score ties deterministically.
    */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "mit", "von", "zu"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "en", "un", "una", "por"),
    "fr" -> Seq("le", "les", "et", "est", "un", "une", "du", "des", "dans"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "ni", "ta"))

  private def countIn(words: Column, list: Seq[String]): Column =
    size(filter(words, w => w.isInCollection(list)))
  private def countInSql(list: Seq[String]): String = {
    val lits = list.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(words, w -> list_contains($lits, w)))"
  }

  /** Language ID: per-language stopword hit counts, argmax with fixed
    * priority order; output is the (actual, predicted) confusion matrix.
    *
    * Single-pass plan (round-3 verdict #1): the round-3 shape — five
    * `size(filter(words, isInCollection(~10 strings)))` columns feeding a
    * 4-level nested CASE — generated one enormous projection that JIT
    * compiled late (6.1 s bench median, 5× run-to-run spread on 584 KB of
    * parquet). Here each word is looked up ONCE in a literal
    * `map<word, bitmask>` (bit i = member of language i's list — the lists
    * overlap: "un" is es+fr, "le" is fr+zh, so a mask, not a single lang),
    * and one `aggregate` fold accumulates the five counts in a struct of
    * longs. Per-word mask digits are 0/1 and counts accumulate in separate
    * longs, so no document length can overflow — unlike packed base-B
    * counter tricks. Map-side only; the sole shuffle is the tiny final
    * confusion-matrix groupBy.
    */
  val langId: QueryDef = {
    val scoreSqls = stopwords.map { case (l, ws) => s"${countInSql(ws)} AS s_$l" }.mkString(", ")
    // predicted = first language in priority order whose score >= all others
    val langs = stopwords.map(_._1)
    val caseSql = langs.init.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
    // word -> 5-bit language-membership mask as a literal map column.
    // Bitwise OR, not arithmetic sum: a word duplicated inside one
    // language's list must not carry into the next language's bit.
    val maskEntries: Seq[(String, Long)] = stopwords.zipWithIndex
      .flatMap { case ((_, ws), i) => ws.map(w => (w, 1L << i)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).reduce(_ | _)).toSeq.sortBy(_._1)
    QueryDef(
      s"""SELECT lang, predicted, count(*) AS n FROM (
         |  SELECT lang, $caseSql AS predicted FROM (
         |    SELECT lang, $scoreSqls
         |    FROM (SELECT lang, string_split(text, ' ') AS words FROM documents) w) s) p
         |GROUP BY lang, predicted""".stripMargin) { (spark, dir) =>
      // typedlit => a MapType Literal (constant), not a per-row CreateMap
      val maskMap = typedlit(maskEntries.toMap)
      val masks = transform(split(col("text"), " "), w => coalesce(element_at(maskMap, w), lit(0L)))
      val zero = struct(langs.map(l => lit(0L).as(s"s_$l")): _*)
      val counts = aggregate(masks, zero, (acc, m) =>
        struct(langs.zipWithIndex.map { case (l, i) =>
          (acc.getField(s"s_$l") + shiftright(m, i).bitwiseAND(lit(1L))).as(s"s_$l")
        }: _*))
      val scored = spark.read.parquet(t(dir, "documents"))
        .select(col("lang"), counts.as("sc"))
        .select(col("lang") +: langs.map(l => col(s"sc.s_$l").as(s"s_$l")): _*)
      val predicted = langs.init.foldRight(lit(langs.last): Column) { (l, els) =>
        val cond = langs.filter(_ != l)
          .map(o => col(s"s_$l") >= col(s"s_$o"))
          .reduce(_ && _)
        when(cond, lit(l)).otherwise(els)
      }
      scored.select(col("lang"), predicted.as("predicted"))
        .groupBy(col("lang"), col("predicted"))
        .agg(count(lit(1)).as("n"))
    }
  }

  /** Quality scoring per document: token count, mean token length, stopword
    * ratio, and a bounded composite score — length/stopword features as in
    * standard pretraining-data quality filters.
    */
  val quality: QueryDef = QueryDef(
    // The composite score runs in integer fixed-point (1e-4 units): a
    // floating formula rounded at 4dp lands on exact .5 ULP boundaries where
    // Spark (exact BigDecimal round) and DuckDB (float-multiply round)
    // disagree. Integer quotients of bounded ints are exact in both.
    s"""SELECT doc_id, n_tokens,
       |       round(CAST(char_total AS DOUBLE) / n_tokens, 4) AS avg_token_len,
       |       round(CAST(n_stop AS DOUBLE) / n_tokens, 4) AS stop_ratio,
       |       least(n_tokens * 50, 5000)
       |         + CAST(floor(n_stop * 3000.0 / n_tokens) AS BIGINT)
       |         + greatest(0, 2000 - CAST(floor(abs(CAST(floor(char_total * 10000.0 / n_tokens) AS BIGINT) - 50000) / 25.0) AS BIGINT))
       |         AS quality_scaled
       |FROM (
       |  SELECT doc_id, len(words) AS n_tokens,
       |         list_sum(list_transform(words, w -> len(w))) AS char_total,
       |         ${countInSql(stopwords.head._2)} AS n_stop
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w) f""".stripMargin) {
    (spark, dir) =>
      val f = spark.read.parquet(t(dir, "documents"))
        .select(col("doc_id"), split(col("text"), " ").as("words"))
        .select(col("doc_id"), size(col("words")).cast("long").as("n_tokens"),
          aggregate(transform(col("words"), w => length(w)), lit(0), (acc, x) => acc + x)
            .cast("long").as("char_total"),
          countIn(col("words"), stopwords.head._2).cast("long").as("n_stop"))
      f.select(col("doc_id"), col("n_tokens"),
        round(col("char_total").cast("double") / col("n_tokens"), 4).as("avg_token_len"),
        round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
        (least(col("n_tokens") * 50, lit(5000L))
          + floor(col("n_stop") * 3000.0 / col("n_tokens")).cast("long")
          + greatest(lit(0L), lit(2000L) -
            floor(abs(floor(col("char_total") * 10000.0 / col("n_tokens")).cast("long") - 50000) / 25.0).cast("long")))
          .as("quality_scaled"))
  }

  /** Token counting per source: whitespace tokens plus a BPE-ish subword
    * proxy (ceil(len/4) units per word — the standard chars/4 token
    * estimate, computed exactly).
    */
  val tokenCount: QueryDef = QueryDef(
    """SELECT source, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
      |       CAST(sum(n_subwords) AS BIGINT) AS total_subwords,
      |       round(avg(CAST(n_tokens AS DOUBLE)), 2) AS avg_tokens
      |FROM (
      |  SELECT source, len(words) AS n_tokens,
      |         list_sum(list_transform(words, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS n_subwords
      |  FROM (SELECT source, string_split(text, ' ') AS words FROM documents) w) f
      |GROUP BY source""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("source"), split(col("text"), " ").as("words"))
      .select(col("source"), size(col("words")).as("n_tokens"),
        aggregate(transform(col("words"), w => ceil(length(w) / 4.0).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_subwords"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_subwords")).as("total_subwords"),
        round(avg(col("n_tokens").cast("double")), 2).as("avg_tokens"))
  }

  /** Token-length histogram: documents bucketed by whitespace-token count
    * (fixed width 16), one row per (source, bucket) with the doc count and
    * the bucket's observed min/max — the data-profiling pass a curation run
    * does before choosing packing lengths and length filters (the
    * [[graft.queries.Pipeline]] operators consume exactly this signal).
    *
    * Scale shape: the token count and bucket id are computed in the scan
    * projection (codegen'd split/size, no UDF), so the only exchange is the
    * final map-side-combinable aggregation on a key space bounded by
    * sources × (max_len/16) — a few hundred cells regardless of corpus
    * size. Integer-exact end to end; a 100 TB profile is one scan.
    */
  val tokenHist: QueryDef = QueryDef(
    """SELECT source, bucket,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(min(n_tokens) AS BIGINT) AS min_tokens,
      |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
      |FROM (
      |  SELECT source, len(string_split(text, ' ')) AS n_tokens,
      |         len(string_split(text, ' ')) // 16 AS bucket
      |  FROM documents) f
      |GROUP BY source, bucket""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("source"), size(split(col("text"), " ")).as("n_tokens"))
      .select(col("source"), col("n_tokens"),
        floor(col("n_tokens") / 16).cast("long").as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).cast("long").as("min_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"))
  }

  /** Document fingerprinting: rolling polynomial hash over code points via
    * the native codegen'd PolyHash expression (whole-stage codegen, no UDF).
    */
  val fingerprint: QueryDef = QueryDef(
    s"""SELECT doc_id,
       |       list_reduce(list_prepend(CAST(0 AS BIGINT),
       |                     list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
       |                   (a, b) -> (a * 31 + b) % ${PolyHash.P}) AS fp
       |FROM documents""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), expr("poly_hash(text)").as("fp"))
  }

  /** TF-IDF top-3 terms per document. IDF is log2-quantized in pure integer
    * arithmetic — `idf_q = floor(log2(N div df)) = length(bin(N div df))-1`
    * — because `ln()` is a transcendental whose last ULP differs across
    * libm implementations, and a rank cutoff must not flap between engines
    * (or between cluster runs). Two shuffles: (doc, term) then (term);
    * doc-count is a scalar aggregate; top-3 is a per-doc window.
    */
  val tfidf: QueryDef = QueryDef(
    """SELECT doc_id, term, tf, idf_q, score FROM (
      |  SELECT tf.doc_id AS doc_id, tf.w AS term, tf.tf AS tf,
      |         length(printf('%b', (SELECT count(*) FROM documents) // df.df)) - 1 AS idf_q,
      |         tf.tf * (length(printf('%b', (SELECT count(*) FROM documents) // df.df)) - 1) AS score,
      |         row_number() OVER (
      |           PARTITION BY tf.doc_id
      |           ORDER BY tf.tf * (length(printf('%b', (SELECT count(*) FROM documents) // df.df)) - 1) DESC, tf.w
      |         ) AS rn
      |  FROM (SELECT doc_id, w, count(*) AS tf FROM (
      |          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) x
      |        WHERE w <> '' GROUP BY doc_id, w) tf
      |  JOIN (SELECT w, count(*) AS df FROM (
      |          SELECT DISTINCT doc_id, w FROM (
      |            SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) y
      |          WHERE w <> '') d GROUP BY w) df
      |    ON tf.w = df.w) t
      |WHERE rn <= 3""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    val tf = docs.select(col("doc_id"), explode(col("words")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("tf"))
    // tf already holds one row per (doc, term): df is a plain count.
    val df = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // N stays inside the plan as a broadcast scalar aggregate — a driver
    // -side docs.count() here would be a second full scan per execution.
    val nDocs = docs.agg(count(lit(1)).as("n_docs_total"))
    val idfQ = (length(bin(expr("n_docs_total div df"))) - 1).cast("long")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "w")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("w").as("term"), col("tf"),
        idfQ.as("idf_q"), (col("tf") * idfQ).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
  }

  /** Word-bigram frequency, top 20: adjacent-token pairs via zip_with over
    * shifted slices (codegen'd, no explode-and-self-join), then a global
    * ordered limit — TakeOrderedAndProject, a per-partition top-k plus a
    * driver merge, never a full sort at scale.
    */
  val bigram: QueryDef = QueryDef(
    """SELECT bigram, n FROM (
      |  SELECT bigram, count(*) AS n FROM (
      |    SELECT unnest(list_transform(list_zip(words[1:-2], words[2:-1]),
      |                                 x -> x[1] || ' ' || x[2])) AS bigram
      |    FROM (SELECT string_split(text, ' ') AS words FROM documents) w) b
      |  GROUP BY bigram) t
      |ORDER BY n DESC, bigram LIMIT 20""".stripMargin) { (spark, dir) =>
    val words = split(col("text"), " ")
    val bigrams = zip_with(
      slice(words, lit(1), size(words) - 1),
      slice(words, lit(2), size(words) - 1),
      (a, b) => concat(a, lit(" "), b))
    spark.read.parquet(t(dir, "documents"))
      .select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)
  }

  /** BPE pair statistics — the inner loop of byte-pair-encoding tokenizer
    * TRAINING (Sennrich et al., arXiv:1508.07909): the corpus-wide
    * frequency of every adjacent symbol pair inside words, at the initial
    * character vocabulary (i.e. the counts that decide the first merge).
    * Emitted: the top-20 pairs under the (count desc, pair) total order.
    * Iterating merges re-runs this count on the re-segmented corpus; the
    * count step is the distributed work, the argmax/merge-table update is
    * driver-side by construction (one row).
    *
    * Scale shape: pair generation is IN-ROW (nested `transform` over the
    * word array — no per-character explode of documents); the exploded
    * pair stream hits a two-level hash aggregate whose map side collapses
    * to the PAIR VOCABULARY (bounded by alphabet², ~1k rows here — never
    * corpus-sized), so the one shuffle moves a few hundred counters per
    * partition; the top-20 is TakeOrderedAndProject (per-partition heads,
    * no global sort).
    */
  val bpePairs: QueryDef = QueryDef(
    """SELECT pair, n FROM (
      |  SELECT pair, count(*) AS n FROM (
      |    SELECT unnest(flatten(list_transform(
      |             list_filter(string_split(text, ' '), w -> length(w) >= 2),
      |             w -> list_transform(range(1, length(w)), i -> w[i:i+1])))) AS pair
      |    FROM documents) p
      |  GROUP BY pair) t
      |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (spark, dir) =>
    val words2 = filter(split(col("text"), " "), w => length(w) >= 2)
    val pairs = flatten(transform(words2, w =>
      transform(sequence(lit(1), length(w) - 1), i => w.substr(i, lit(2)))))
    spark.read.parquet(t(dir, "documents"))
      .select(explode(pairs).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** Iterative BPE merge training — [[bpePairs]] closed into the full
    * tokenizer-training loop (Sennrich et al., arXiv:1508.07909): starting
    * from the character vocabulary over the DISTINCT-WORD table, run
    * [[BpeRounds]] rounds of (count adjacent symbol pairs weighted by word
    * frequency) → (argmax under the (count desc, left, right) total order)
    * → (apply the merge greedily left-to-right). The gate emits the merge
    * table — (round, a, b, cnt) — which pins every pair count and every
    * argmax across all rounds, i.e. the whole iterative computation.
    *
    * Greedy semantics are made relational: merge positions are the
    * (word, pos) where (sym, next sym) = (a, b); within a RUN of
    * consecutive match positions (only possible when a = b, e.g. "aaa")
    * keep even offsets — the island-parity rule — then drop each kept
    * position's successor, concatenate, and renumber. The DuckDB oracle
    * replays the identical algebra round by round (materialized CTEs;
    * without materialization the per-round self-references inline
    * exponentially).
    *
    * Scale shape: the ONLY corpus-sized work is the initial word count;
    * every round operates on the distinct-word symbol table (vocabulary-
    * sized — the reason real tokenizer trainers are feasible at all), with
    * the pair count collapsing map-side to the pair vocabulary and the
    * argmax a 1-row driver collect per round (k=1 driver aggregate —
    * justified, it IS the merge-table entry). Each round's symbol table is
    * an eager localCheckpoint; once round r+1 materializes, round r's
    * blocks are explicitly released (see [[releaseCheckpoint]] — Dataset
    * .unpersist cannot do it, the blocks never went through the cache
    * manager), so at any moment at most two vocabulary-sized frames are
    * resident and repeated bench iterations accumulate nothing. The train
    * path also releases the FINAL frame (its merge table is a literal);
    * the apply path must keep it until the returned plan executes — its
    * lineage is truncated, so an early release would be unrecoverable.
    */
  private val BpeRounds = 5

  /** The shared WITH-clause body of the BPE oracles: word counts, the
    * character-level symbol table, and [[BpeRounds]] rounds of
    * count/argmax/merge CTEs (all MATERIALIZED — the per-round
    * self-references would inline exponentially otherwise). [[bpeTrain]]
    * appends the merge-table union; [[bpeApply]] appends the corpus-wide
    * tokenization rollup.
    */
  private lazy val bpeOracleCtes: String = {
      val head =
        """w AS MATERIALIZED (
          |  SELECT token AS word, CAST(count(*) AS BIGINT) AS freq
          |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
          |  WHERE token <> '' GROUP BY 1),
          |syms0 AS MATERIALIZED (
          |  SELECT word, freq, i AS pos, word[i] AS sym
          |  FROM (SELECT word, freq, unnest(range(1, len(word) + 1)) AS i FROM w) t(word, freq, i))""".stripMargin
      val rounds = (1 to BpeRounds).map { r =>
        s"""pairs$r AS MATERIALIZED (
           |  SELECT s1.sym AS a, s2.sym AS b, sum(s1.freq) AS cnt
           |  FROM syms${r - 1} s1 JOIN syms${r - 1} s2 ON s1.word = s2.word AND s2.pos = s1.pos + 1
           |  GROUP BY 1, 2),
           |best$r AS MATERIALIZED (SELECT a, b, cnt FROM pairs$r ORDER BY cnt DESC, a, b LIMIT 1),
           |m$r AS MATERIALIZED (
           |  SELECT s1.word, s1.pos, row_number() OVER (PARTITION BY s1.word ORDER BY s1.pos) AS rn
           |  FROM syms${r - 1} s1 JOIN syms${r - 1} s2 ON s1.word = s2.word AND s2.pos = s1.pos + 1
           |  CROSS JOIN best$r WHERE s1.sym = best$r.a AND s2.sym = best$r.b),
           |keep$r AS MATERIALIZED (
           |  SELECT word, pos FROM (
           |    SELECT word, pos, row_number() OVER (PARTITION BY word, pos - rn ORDER BY pos) - 1 AS off
           |    FROM m$r) i
           |  WHERE off % 2 = 0),
           |syms$r AS MATERIALIZED (
           |  SELECT word, freq, row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym FROM (
           |    SELECT s.word, s.freq, s.pos,
           |           CASE WHEN k.pos IS NOT NULL THEN s.sym || best$r.b ELSE s.sym END AS sym
           |    FROM syms${r - 1} s
           |    CROSS JOIN best$r
           |    LEFT JOIN keep$r k ON s.word = k.word AND s.pos = k.pos
           |    LEFT JOIN keep$r k2 ON s.word = k2.word AND s.pos = k2.pos + 1
           |    WHERE k2.pos IS NULL) z)""".stripMargin
      }
      "WITH " + (head +: rounds).mkString(",\n")
  }

  /** Run the distributed BPE training loop: returns the merge table and
    * the FINAL symbol table (localCheckpointed). The whole loop executes
    * inside this call (one collect per round), so a set-and-restore of
    * the shuffle width is safe — and necessary: every post-wordcount
    * frame is VOCABULARY-sized (a few hundred rows), where 32-partition
    * shuffles are pure scheduling overhead. Deliberately NOT memoized
    * across calls: the final syms frame is lineage-truncated, so it could
    * not survive a Bench cache sweep, and a timed q_bpe_apply run must
    * pay the full train cost honestly (the shared-gram-frame rule).
    */
  /** See [[Checkpoints.release]] — shared with the PageRank loop. */
  private def releaseCheckpoint(df: DataFrame): Unit = Checkpoints.release(df)

  /** Returns (merge table, final symbol frame). Optimization r16 note
    * (guide §1.2): the row's wall cost is driver-side per-round Catalyst
    * work, not compute — Profile's stage table shows <1 s of task time
    * under ~2.4 s of wall. A lazy-checkpoint respelling (one blocking
    * action per round instead of two) was tried and REVERTED: each
    * round's adjacency reads `syms` twice, and a lazy checkpoint
    * referenced twice in one job can compute partitions twice before its
    * cache fills — bench measured q_bpe_train 1.92 -> 2.37 s under the
    * lazy spelling. The eager two-actions-per-round loop stands as the
    * measured optimum; the remaining wall is the honest Catalyst cost of
    * an iterative DataFrame loop at toy scale.
    */
  private def bpeTrainRun(
      spark: SparkSession,
      dir: String): (Seq[(Long, String, String, Long)], DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      Confs.withConfs(spark, "spark.sql.shuffle.partitions" -> "4") {
      val words = spark.read.parquet(t(dir, "documents"))
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // localCheckpoint (eager), not persist: each round's plan references
      // the previous round's twice through joins and three window specs,
      // so the LOGICAL plan grows multiplicatively with rounds and
      // Catalyst re-analysis dominates wall time by round 4-5 (the CC
      // pointer-jumping lesson — iterative loops must truncate lineage,
      // not just cache data). Checkpointing makes every round's plan
      // shallow and constant-size.
      var syms = words
        .select(col("word"), col("freq"),
          explode(expr("sequence(1, length(word))")).as("pos"))
        .withColumn("sym", expr("substring(word, pos, 1)"))
        .localCheckpoint(true)
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      // One window pass per round (optimization r17, VERDICT r16 #4; guide
      // §2.4 "remove shuffles outright"): the r16 spelling built the
      // adjacency as a (word, pos)-keyed SELF-JOIN of syms and re-derived
      // the kept merge positions through TWO more (word, pos)-keyed joins
      // of syms against the filtered match set — five plans per round for
      // Catalyst to analyze and three join exchanges per round at scale.
      // `lead(sym)` over (word, pos) IS the adjacency (positions are dense
      // by construction — renumbered via row_number each round), and the
      // island-parity keep rule is gaps-and-islands algebra over the same
      // window: rnm = running match count, grp = pos - rnm (constant
      // exactly along a run of consecutive match positions, strictly
      // increasing across a gap — the original's pos - rn group key), keep
      // = odd cumulative match count within (word, grp), drop = previous
      // position kept (positions dense ⇒ lag(keep) is the pos-1 probe).
      // Everything after the pair count shares ONE exchange by word; the
      // windows chain as in-partition sorts (hashpartitioning(word)
      // satisfies the (word, grp) clustering by the subset rule).
      // Measured (sf0.1, local[32], bench-child median of 3): q_bpe_train
      // 2.13 → 1.63 s, q_bpe_apply 3.00 → 1.50/1.65 s; merge table and
      // final syms byte-identical (oracle green at both SFs).
      val w = Window.partitionBy(col("word")).orderBy(col("pos"))
      for (r <- 1 to BpeRounds) {
        val withNext = syms.withColumn("b", lead(col("sym"), 1).over(w))
        val bestRows = withNext.filter(col("b").isNotNull)
          .groupBy(col("sym"), col("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(col("cnt").desc, col("sym"), col("b"))
          .limit(1).collect() // 1-row driver aggregate: the merge-table entry
        if (bestRows.nonEmpty) {
          val best = bestRows(0)
          val (a, b, cnt) =
            (best.getString(0), best.getString(1), best.getLong(2))
          merges += ((r.toLong, a, b, cnt))
          val isM = col("sym") === a && col("b") === b
          val marked = withNext
            .withColumn("m", isM)
            .withColumn("grp",
              col("pos") - sum(when(col("m"), 1L).otherwise(0L)).over(w))
          val next = marked
            .withColumn("keep", col("m") &&
              sum(when(col("m"), 1L).otherwise(0L)).over(
                Window.partitionBy(col("word"), col("grp"))
                  .orderBy(col("pos"))) % 2 === 1)
            .withColumn("dropme", lag(col("keep"), 1, false).over(w))
            .filter(!col("dropme"))
            .withColumn("sym",
              when(col("keep"), concat(col("sym"), lit(b)))
                .otherwise(col("sym")))
            .withColumn("pos", row_number().over(w))
            .select(col("word"), col("freq"), col("pos"), col("sym"))
            .localCheckpoint(true)
          // next is eagerly materialized above; the previous round's
          // checkpoint blocks are now unreachable — free them instead of
          // waiting for the context cleaner.
          releaseCheckpoint(syms)
          syms = next
        }
      }
      (merges.toSeq, syms)
      }
  }

  val bpeTrain: QueryDef = QueryDef({
    val union = (1 to BpeRounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, a, b, CAST(cnt AS BIGINT) AS cnt FROM best$r")
      .mkString("\nUNION ALL\n")
    bpeOracleCtes + "\n" + union
  }) { (spark, dir) =>
    import spark.implicits._
    // the returned merge table is a literal frame with no lineage into
    // the checkpointed scaffolding — so the final symbol frame can be
    // released immediately (the apply path, which does need it, keeps it)
    val (merges, finalSyms) = bpeTrainRun(spark, dir)
    releaseCheckpoint(finalSyms)
    merges.toDF("round", "a", "b", "cnt")
  }

  /** BPE tokenizer APPLY at corpus scale — the other half of
    * [[bpeTrain]]: segment every document with the trained merges and
    * report per-document token counts before (words stay whole; n_words)
    * and after subword segmentation (n_tokens). Because BPE merges are
    * word-internal, the corpus apply is a BROADCAST JOIN of the
    * vocabulary-sized word → token-count map onto the exploded corpus —
    * the corpus is scanned once and never shuffled (the per-doc rollup is
    * the only exchange, map-side combinable); this is exactly how a
    * production pipeline tokenizes 100 TB with a trained tokenizer. The
    * oracle replays training AND apply in one statement.
    */
  val bpeApply: QueryDef = QueryDef(
    bpeOracleCtes +
      s""",
         |wtok AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS n_tok FROM syms$BpeRounds GROUP BY word),
         |dw AS (
         |  SELECT doc_id, token
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) t
         |  WHERE token <> '')
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(w.n_tok) AS BIGINT) AS n_tokens
         |FROM dw JOIN wtok w ON dw.token = w.word
         |GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    val (_, syms) = bpeTrainRun(spark, dir)
    val wtok = syms.groupBy(col("word")).agg(count(lit(1)).as("n_tok"))
    spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .join(broadcast(wtok), col("token") === col("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Mergeable HLL sketch rollup (Spark's native DataSketches surface):
    * per-language token-vocabulary sketches built with `hll_sketch_agg`,
    * then re-aggregated to the corpus estimate with `hll_union_agg` —
    * WITHOUT rescanning the corpus. This is the cube-of-sketches pattern
    * every OLAP serving layer runs at 100 TB: materialize small mergeable
    * sketches per cell once, answer any rollup by merging cells. The gate
    * pins the derived properties (same technique as the HLL/KLL/CMS/Bloom
    * rows): the merged estimate brackets between the largest single-cell
    * estimate and the sum of cells, and lands within 5% of the exact
    * distinct count (the synthetic vocabulary is far below lgK=12 sparse
    * capacity, so the estimate is in fact exact); `n_exact` anchors the
    * row to the DuckDB oracle.
    *
    * Scale shape: sketches build map-side and merge associatively through
    * the shuffle (bytes per group = sketch size, fixed by lgK — never
    * keyspace); the union re-aggregation touches L sketch rows. The exact
    * anchor is the standard two-level distinct — at 100 TB the anchor is
    * dropped and the sketch IS the answer, which is the point.
    */
  val hllUnion: QueryDef = QueryDef(
    """SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_exact,
      |       true AS within_5pct, true AS merged_bounded
      |FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t""".stripMargin) {
    (spark, dir) =>
    val toks = spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
    val perLang = toks.groupBy(col("lang")).agg(hll_sketch_agg(col("w")).as("sk"))
    val merged = perLang.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
      max(hll_sketch_estimate(col("sk"))).as("max_cell"),
      sum(hll_sketch_estimate(col("sk"))).as("sum_cells"))
    val exact = toks.agg(count_distinct(col("w")).as("n_exact"))
    exact.crossJoin(merged)
      .select(col("n_exact"),
        (abs(col("est") - col("n_exact")) * 20 <= col("n_exact")).as("within_5pct"),
        (col("est") >= col("max_cell") && col("est") <= col("sum_cells"))
          .as("merged_bounded"))
  }

  /** Count-min-sketch heavy hitters — completes the sketch-gate family
    * (HLL `q_approx_distinct`, KLL-style `q_approx_quantiles`, Bloom
    * `q_bloom_prefilter`/`q_bloom_partitioned`): the exact top-5 corpus
    * tokens, each annotated with the CMS guarantees as derived booleans
    * (the technique every probabilistic row here uses — the sketch has no
    * bit-exact SQL oracle, so the gate pins the PROPERTIES):
    * `cms_ge_exact` (a count-min estimate NEVER undercounts — the
    * one-sided-error guarantee the sketch family is chosen for) and
    * `cms_within_eps` (estimate <= exact + eps x total tokens with the
    * configured eps=0.001/confidence=0.99 and a fixed seed, so the run is
    * deterministic). Exact anchors `token`/`exact_count` keep the row
    * pinned to the DuckDB oracle's counts.
    *
    * Scale shape: the sketch builds in ONE distributed pass (treeAggregate
    * of mergeable CMS tables — counters, not keys, so size is fixed by
    * (eps, confidence) regardless of corpus size: ~7x2000 longs here);
    * the exact top-5 is the standard two-level aggregate +
    * TakeOrderedAndProject. Probing k heavy hitters is driver-side by
    * construction (k=5 strings — the 1-row-aggregate exception, like the
    * bloom gate's sketch transit). In production the exact side is the
    * expensive one and exists here only to gate the sketch; the pipeline
    * ships just the sketch.
    */
  val cmsHeavyHitters: QueryDef = QueryDef(
    """SELECT token, exact_count, TRUE AS cms_ge_exact, TRUE AS cms_within_eps
      |FROM (
      |  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |  GROUP BY token ORDER BY exact_count DESC, token LIMIT 5) h""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val words = spark.read.parquet(t(dir, "documents"))
        .select(explode(split(col("text"), " ")).as("token"))
      val cms = words.stat.countMinSketch(col("token"), 0.001, 0.99, 42)
      val band = math.ceil(0.001 * cms.totalCount()).toLong
      val top = words.groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("token")).limit(5)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      top.toSeq.map { case (tok, exact) =>
        val est = cms.estimateCount(tok)
        (tok, exact, est >= exact, est <= exact + band)
      }.toDF("token", "exact_count", "cms_ge_exact", "cms_within_eps")
  }

  /** Per-language top-5 tokens — the group-wise top-k pattern (per-domain /
    * per-source / per-language "what dominates this slice" reporting, and
    * the vocabulary-head view a per-language stopword or blocklist curator
    * reads). Deterministic: integer counts, ties broken by token.
    *
    * Scale shape — why the window comes AFTER the aggregation: ranking raw
    * tokens directly would sort corpus-sized data per language (and one
    * giant language is a straggler). Here the token counts collapse
    * map-side first (the shuffle is vocabulary-bounded, not corpus-bounded),
    * the window ranks the REDUCED (lang, token, cnt) set, and the
    * `rank <= k` filter compiles to Spark's partial+final WindowGroupLimit
    * — every partition keeps only its own top-5 per language BEFORE the
    * lang exchange, so the window's input is <= 5 x partitions rows per
    * language no matter how skewed the corpus (PlanSpec pins the
    * WindowGroupLimit, the same guard as q_sample_stratified).
    */
  val topkTermsPerLang: QueryDef = QueryDef(
    """WITH tc AS (
      |  SELECT lang, token, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
      |        FROM documents) t
      |  WHERE token <> ''
      |  GROUP BY lang, token)
      |SELECT lang, token, cnt, rank FROM (
      |  SELECT lang, token, cnt,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY cnt DESC, token) AS rank
      |  FROM tc) r
      |WHERE rank <= 5""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("token"))
    spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
  }

  /** Bigram-LM surprise scoring — the corpus-trained language-model quality
    * filter (the CCNet recipe: score each document under an n-gram LM of
    * the corpus, route high-perplexity documents to review/drop; Wenzek et
    * al., arXiv:1911.00359). The LM is the corpus's own bigram MLE
    * `P(w2|w1) = c(w1,w2) / c(w1,·)`, and per-document surprise is the sum
    * of per-bigram `-log2 P` — log2-quantized in pure integer arithmetic
    * (`bits = floor(log2(cp div cb)) = length(bin(cp div cb)) - 1`, the
    * [[tfidf]] rule) so the gate is hash-exact across engines and cluster
    * runs; `sum_bits / n_bigrams` is the perplexity proxy a filter
    * thresholds on.
    *
    * Scale shape: bigrams generate IN-ROW (transform over an index
    * sequence, no self-join); the model is two map-side-combinable
    * aggregations — (w1,w2) counts, then prefix counts ON THE SAME
    * SHUFFLED KEY PREFIX (the second agg re-shuffles only the already-
    * reduced bigram table); scoring re-joins documents' bigrams to the
    * model on (w1,w2) — the honest data-sized shuffle, exactly the DSIR
    * row's topology one key wider; the final rollup shuffles reduced
    * per-doc rows. Nothing collects to the driver; the model table is
    * vocabulary², bounded far below corpus size.
    */
  val lmScore: QueryDef = QueryDef(
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |b AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
       |  SELECT doc_id,
       |         unnest([{'w1': words[i], 'w2': words[i + 1]}
       |                 for i in range(1, len(words))]) AS u
       |  FROM w WHERE len(words) >= 2) x),
       |cb AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY w1, w2),
       |cp AS (SELECT w1, sum(cb) AS cp FROM cb GROUP BY w1),
       |s AS (SELECT w1, w2, len(bin(cp // cb)) - 1 AS bits
       |      FROM cb JOIN cp USING (w1))
       |SELECT doc_id,
       |       CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(bits) AS BIGINT) AS sum_bits
       |FROM b JOIN s USING (w1, w2)
       |GROUP BY doc_id""".stripMargin) { (spark, dir) =>
    val words = split(col("text"), " ")
    val pairs = transform(
      sequence(lit(1), size(col("words")) - 1),
      i => struct(element_at(col("words"), i).as("w1"),
        element_at(col("words"), i + 1).as("w2")))
    val b = spark.read.parquet(t(dir, "documents"))
      .select(col("doc_id"), words.as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val cb = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cp = cb.groupBy(col("w1")).agg(sum(col("cb")).as("cp"))
    val bits = (length(bin(expr("cp div cb"))) - 1).cast("long")
    val model = cb.join(cp, "w1").select(col("w1"), col("w2"), bits.as("bits"))
    b.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
  }

  /** Vocabulary construction — the "train the tokenizer / embedding table"
    * prerequisite: the top-[[VocabSize]] corpus tokens by frequency, each
    * assigned a contiguous id in (count desc, token) order — the
    * deterministic tie-break that makes the id assignment reproducible
    * across runs and partitionings (a vocab whose ids drift invalidates
    * every downstream checkpoint).
    *
    * Scale shape: one map-side-combinable shuffle for token counts, then
    * the budget cut compiles to TakeOrderedAndProject (per-partition
    * heads + merge, never a global sort of the vocabulary); the id window
    * runs AFTER the cut, over exactly VocabSize rows — the one place a
    * single-partition window is the right plan, not a bottleneck.
    */
  private val VocabSize = 1024

  val vocabBuild: QueryDef = QueryDef(
    s"""SELECT CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id,
       |       token, n FROM (
       |  SELECT token, CAST(count(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |  WHERE token <> ''
       |  GROUP BY token
       |  ORDER BY n DESC, token
       |  LIMIT $VocabSize) c""".stripMargin) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val byFreq = Window.orderBy(col("n").desc, col("token"))
    spark.read.parquet(t(dir, "documents"))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(VocabSize)
      .select((row_number().over(byFreq) - 1).cast("long").as("token_id"),
        col("token"), col("n"))
  }

  /** Out-of-vocabulary rate per language against the top-[[VocabSize]]
    * GLOBAL vocabulary — the coverage metric every tokenizer/corpus pairing
    * ships with: a vocabulary fit on the majority language undercovers the
    * others, and this row quantifies exactly that skew (in exact ppm, so
    * the gate hashes it). Shares [[vocabBuild]]'s cut rule (count desc,
    * token) so the two rows describe the same artifact.
    *
    * Scale shape: the vocabulary is VocabSize rows — broadcast onto the
    * token stream for a map-side LEFT join (a token stream at 100 TB
    * never shuffles for a lookup table); the rollup is lang-keyed and
    * map-side combinable. One corpus scan total.
    */
  val oovRate: QueryDef = QueryDef(
    s"""WITH vocab AS MATERIALIZED (
       |  SELECT token FROM (
       |    SELECT token, count(*) AS n
       |    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
       |    WHERE token <> '' GROUP BY token
       |    ORDER BY n DESC, token LIMIT $VocabSize) c),
       |tok AS (
       |  SELECT lang, token
       |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
       |        FROM documents) t
       |  WHERE token <> '')
       |SELECT lang,
       |       CAST(count(*) AS BIGINT) AS n_tokens,
       |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |       CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) * 1000000
       |            // count(*) AS BIGINT) AS oov_ppm
       |FROM tok LEFT JOIN vocab v USING (token)
       |GROUP BY lang""".stripMargin) { (spark, dir) =>
    val toks = spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(VocabSize)
      .select(col("token"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("n_oov * 1000000 div n_tokens"))
  }

  /** Token–language association by LIFT (PMI without the log): the
    * feature-selection / domain-signature primitive — which tokens are
    * over-represented in which language, scored as
    * `P(t,l) / (P(t)·P(l))` spelled entirely in integer counts:
    * `lift_ppm = (n_tl · N · 10^6) div (n_t · n_l)` (the log is monotone,
    * so the RANKING equals PMI's, and integers make the gate exact where
    * a floating log never could be). Support floor `n_t >= max(N/2000, 5)`
    * scales with the corpus, so small and large SFs rank the same
    * vocabulary; top 20 under (lift desc, token, lang).
    *
    * Scale shape: one token scan; the (token, lang) and token/lang
    * marginals are vocabulary-keyed aggregates; the corpus total N is a
    * broadcast 1-row frame; the lang marginal (L rows) broadcasts; final
    * top-k is TakeOrderedAndProject. No data-sized shuffle after the
    * first count.
    */
  val tokenLift: QueryDef = QueryDef(
    """WITH tok AS (SELECT lang, token
      |             FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
      |                   FROM documents) t
      |             WHERE token <> ''),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM tok),
      |tl AS (SELECT token, lang, CAST(count(*) AS BIGINT) AS n_tl
      |       FROM tok GROUP BY 1, 2),
      |t AS (SELECT token, CAST(sum(n_tl) AS BIGINT) AS n_t FROM tl GROUP BY 1),
      |l AS (SELECT lang, CAST(sum(n_tl) AS BIGINT) AS n_l FROM tl GROUP BY 1)
      |SELECT token, lang, n_tl,
      |       CAST((CAST(n_tl AS HUGEINT) * nn * 1000000)
      |            // (CAST(n_t AS HUGEINT) * n_l) AS BIGINT) AS lift_ppm
      |FROM tl JOIN t USING (token) JOIN l USING (lang) CROSS JOIN n
      |WHERE n_t >= greatest(nn // 2000, 5)
      |ORDER BY lift_ppm DESC, token, lang LIMIT 20""".stripMargin) { (spark, dir) =>
    val tok = spark.read.parquet(t(dir, "documents"))
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
    val tl = tok.groupBy(col("token"), col("lang")).agg(count(lit(1)).as("n_tl"))
    val tTot = tl.groupBy(col("token")).agg(sum(col("n_tl")).as("n_t"))
    val lTot = tl.groupBy(col("lang")).agg(sum(col("n_tl")).as("n_l"))
    val n = tl.agg(sum(col("n_tl")).as("nn"))
    tl.join(tTot, "token")
      .join(broadcast(lTot), "lang")
      .crossJoin(broadcast(n))
      .filter(expr("n_t >= greatest(nn div 2000, 5)"))
      // 128-bit numerators (DECIMAL(38,0) / the oracle's HUGEINT): the
      // int64 form n_tl*nn*1e6 overflows near nn ~ 2*10^7 corpus tokens —
      // Spark would wrap silently while DuckDB errors, diverging exactly
      // at the scale the row exists for. The quotient itself is bounded
      // by 10^6 * nn/n_l (language share), safely BIGINT.
      .select(col("token"), col("lang"), col("n_tl"),
        expr("""CAST((CAST(n_tl AS DECIMAL(38, 0)) * nn * 1000000)
                div (CAST(n_t AS DECIMAL(38, 0)) * n_l) AS BIGINT)""").as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("token"), col("lang"))
      .limit(20)
  }

  /** Dataset-card rollup — the per-(lang, source) manifest every released
    * corpus ships: document counts, character and token totals, and the
    * exact-unique document count (via md5 — `n_docs - n_unique` is the
    * exact-dup rate the dedup family then drills into). One scan; the
    * distinct-count is the only second shuffle, and at 100 TB it swaps for
    * the HLL sketch (`q_approx_distinct`'s shape) when ±1% is acceptable.
    */
  val corpusStats: QueryDef = QueryDef(
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
      |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique
      |FROM documents GROUP BY lang, source""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(size(split(col("text"), " "))).as("sum_tokens"),
        countDistinct(md5(col("text"))).as("n_unique"))
  }

  /** The engine-native frequent-items sketch (`approx_top_k`, Spark 4.1) —
    * the built-in sibling of the hand-rolled CMS row: one pass, a fixed
    * tracked-item budget, mergeable map-side. Gate technique as in
    * [[cmsHeavyHitters]]/approxDistinct (no oracle can replay sketch
    * internals): the EXACT top 10 tokens anchor the row, and the boolean
    * asserts each appears in the sketch's top-100 WITH its exact count.
    * k = 100 (not 10) because sketch order among EQUAL counts is
    * arbitrary — membership of a true top-10 item can only flip if 90+
    * tokens tie at the boundary count (code-review r12 downgraded the
    * first cut's k=20, whose tie margin was only 10 deep). The count
    * equality is deliberate load-bearing: the tracked budget (100k)
    * dwarfs this corpus's vocabulary so the sketch is EXACT here, and if
    * a regenerated corpus ever overflows the budget the row goes red
    * instead of silently gating an undercount. At a 100 TB vocabulary
    * the budget stays FIXED and the membership claim (not equality) is
    * the one the sketch guarantees for true heavy hitters — the
    * production profile drops the equality conjunct, disclosed here.
    *
    * Scale shape: the sketch side is ONE typed-imperative aggregate
    * (fixed memory per partition, merged once) broadcast as a single row
    * into the membership probe. The exact side (vocabulary-keyed count +
    * TakeOrderedAndProject) is this row's gate anchor, not the production
    * shape — a 100 TB profile runs the sketch pass ALONE, which is the
    * entire reason it exists.
    */
  val approxTopk: QueryDef = QueryDef(
    """SELECT token, n, TRUE AS sketch_agrees
      |FROM (
      |  SELECT token, CAST(count(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) t
      |  WHERE regexp_matches(token, '^[a-z]{4,}$')
      |  GROUP BY token ORDER BY n DESC, token LIMIT 10) h""".stripMargin) {
    (spark, dir) =>
    val toks = spark.read.parquet(t(dir, "documents"))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token").rlike("^[a-z]{4,}$"))
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token")).limit(10)
    val sketch = toks.agg(expr("approx_top_k(token, 100, 100000)").as("sk"))
    exact.crossJoin(broadcast(sketch))
      .select(col("token"), col("n"),
        expr("exists(sk, s -> s.item = token AND s.count = n)").as("sketch_agrees"))
  }

  /** Token-distribution drift between two corpus slices — the
    * data-quality diagnostic a training pipeline runs between ingestion
    * snapshots or source mixes ("did the token mix shift?"): per-token
    * rates in each slice on an integer ppm basis, ranked by absolute
    * drift. Rates are `count·10⁶ div slice_total` — exact integer
    * division on both engines, so the gate is partitioning- and
    * engine-stable (a double ratio would flap in the last ulp).
    *
    * Scale shape: one token-keyed count per slice (map-side combinable),
    * a two-row totals frame joined broadcast, and a
    * TakeOrderedAndProject over the vocabulary-sized drift frame. At
    * 100 TB the slices are partitions of one scan (`source` is a
    * partition column), not two passes.
    */
  val termDrift: QueryDef = QueryDef(
    """WITH f AS (SELECT source, unnest(string_split(text, ' ')) AS tok
      |           FROM documents WHERE source IN ('src0', 'src1')),
      |c AS (SELECT source, tok, count(*) AS n FROM f
      |      WHERE regexp_matches(tok, '^[a-z]{4,}$') GROUP BY 1, 2),
      |tot AS (SELECT source, sum(n) AS t FROM c GROUP BY 1),
      |p AS (SELECT c.tok,
      |             CAST(sum(CASE WHEN c.source = 'src0' THEN c.n * 1000000 // t ELSE 0 END) AS BIGINT) AS ppm0,
      |             CAST(sum(CASE WHEN c.source = 'src1' THEN c.n * 1000000 // t ELSE 0 END) AS BIGINT) AS ppm1
      |      FROM c JOIN tot ON c.source = tot.source GROUP BY c.tok)
      |SELECT tok, ppm0, ppm1, CAST(abs(ppm0 - ppm1) AS BIGINT) AS drift_ppm
      |FROM p ORDER BY drift_ppm DESC, tok LIMIT 15""".stripMargin) {
    (spark, dir) =>
    val counts = spark.read.parquet(t(dir, "documents"))
      .filter(col("source").isin("src0", "src1"))
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{4,}$"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("source")).agg(sum(col("n")).as("t"))
    counts.join(broadcast(totals), "source")
      .groupBy(col("tok"))
      .agg(
        sum(when(col("source") === "src0", expr("n * 1000000 div t")).otherwise(0L)).as("ppm0"),
        sum(when(col("source") === "src1", expr("n * 1000000 div t")).otherwise(0L)).as("ppm1"))
      .select(col("tok"), col("ppm0"), col("ppm1"),
        abs(col("ppm0") - col("ppm1")).as("drift_ppm"))
      .orderBy(col("drift_ppm").desc, col("tok")).limit(15)
  }

  /** The hashing trick — tokens featurized into a FIXED 256-dimension
    * count vector per language via `poly_hash(token) mod 256`, collisions
    * and all: the classic vocabulary-free featurization (feature count
    * independent of vocabulary size, no dictionary to build, ship, or
    * keep consistent across reruns — the property that matters when the
    * vocabulary is 10⁹ and growing). The full zero-filled lang × bucket
    * grid is emitted (the type_corr rule: absent buckets are REAL zeros —
    * a sparse inner join would silently drop exactly the dimensions a
    * downstream model reads as features), and the oracle replays the
    * identical code-point fold, so both engines land every token in the
    * same bucket, collisions included.
    *
    * Scale shape: one scan + in-row hashing (codegen'd `poly_hash`), a
    * map-side-combinable count onto a FIXED |langs|·256 key space, and a
    * broadcast spine join for the zero-fill — the shuffle is
    * dimensionality-bounded, not vocabulary-bounded, which is the entire
    * point of the trick.
    */
  val featureHash: QueryDef = {
    val hSql = s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
                  |  list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
                  |  (a, b) -> (a * 31 + b) % ${graft.functions.PolyHash.P})""".stripMargin
    QueryDef(
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT lang, $hSql % 256 AS bucket, count(*) AS n
         |      FROM toks WHERE tok <> '' GROUP BY 1, 2),
         |spine AS (SELECT l.lang, r.range AS bucket
         |          FROM (SELECT DISTINCT lang FROM documents) l, range(0, 256) r)
         |SELECT spine.lang, CAST(spine.bucket AS BIGINT) AS bucket,
         |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
         |FROM spine LEFT JOIN c ON c.lang = spine.lang AND c.bucket = spine.bucket""".stripMargin) {
      (spark, dir) =>
      val counts = spark.read.parquet(t(dir, "documents"))
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .select(col("lang"), expr("poly_hash(tok) % 256").as("bucket"))
        .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("cn"))
      val spine = spark.read.parquet(t(dir, "documents"))
        .select(col("lang")).distinct()
        .crossJoin(spark.range(0, 256).select(col("id").as("bucket")))
      spine.join(broadcast(counts), Seq("lang", "bucket"), "left")
        .select(col("lang"), col("bucket"), coalesce(col("cn"), lit(0L)).as("n"))
    }
  }

  /** Unicode canonicalization as a curation gate — the pass that keeps
    * exact-dedup honest when the same text arrives in different canonical
    * forms (macOS-origin drops are NFD, most web text NFC; visually
    * identical, byte-different). The corpus text itself is ASCII (already
    * NFC), so the row synthesizes the provenance split IN-PLAN: every doc
    * gets a " caf" + e-acute suffix, ODD doc_ids in decomposed form
    * (`e` + U+0301), even ones precomposed (U+00E9). Before
    * [[graft.functions.NfcNormalize]], the two forms fracture every
    * duplicate-text group across the parity line (`distinct_raw`); after,
    * they collapse (`distinct_norm` = distinct texts) — the gate counts
    * exactly how many rows changed, how many code points canonicalization
    * saved, and how many spurious distincts it healed. DuckDB replays
    * with its built-in `nfc_normalize`; all gated outputs are integers.
    *
    * Scale shape: one scan; the expression is codegen'd with an
    * `isNormalized` fast path (already-NFC rows — the real-corpus
    * majority — pay one allocation-free check), and the rollup is
    * map-side combinable per source. The distinct counts shuffle the
    * normalized strings once — the same cost class as the dedup family's
    * fingerprint pass (and in production one hashes AFTER normalizing,
    * exactly what [[fingerprintDocs]] composes with).
    */
  val textNormalize: QueryDef = QueryDef(
    """WITH m AS (SELECT source,
      |                  text || ' caf' || CASE WHEN doc_id % 2 = 1
      |                                         THEN 'e' || chr(769)
      |                                         ELSE chr(233) END AS w
      |           FROM documents),
      |n AS (SELECT source, w, nfc_normalize(w) AS nw FROM m)
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(CASE WHEN nw <> w THEN 1 END) AS BIGINT) AS n_changed,
      |       CAST(sum(length(w) - length(nw)) AS BIGINT) AS cp_saved,
      |       CAST(count(DISTINCT w) AS BIGINT) AS distinct_raw,
      |       CAST(count(DISTINCT nw) AS BIGINT) AS distinct_norm
      |FROM n GROUP BY source""".stripMargin) { (spark, dir) =>
    spark.read.parquet(t(dir, "documents"))
      .select(col("source"),
        // Explicit escapes, NOT literal glyphs: the decomposed arm is
        // 'e' + COMBINING ACUTE (U+0301), the precomposed arm U+00E9 --
        // visually identical in most editors, which is the entire point
        // and exactly why a raw glyph would be unreviewable here.
        concat(col("text"), lit(" caf"),
          when(col("doc_id") % 2 === 1, lit("e\u0301"))
            .otherwise(lit("\u00e9"))).as("w"))
      .withColumn("nw", expr("nfc_normalize(w)"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("nw") =!= col("w"), 1)).as("n_changed"),
        sum(length(col("w")) - length(col("nw"))).as("cp_saved"),
        countDistinct(col("w")).as("distinct_raw"),
        countDistinct(col("nw")).as("distinct_norm"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_text_normalize" -> textNormalize,
    "q_feature_hash" -> featureHash,
    "q_approx_topk" -> approxTopk,
    "q_term_drift" -> termDrift,
    "q_corpus_stats" -> corpusStats,
    "q_vocab_build" -> vocabBuild,
    "q_oov_rate" -> oovRate,
    "q_token_lift" -> tokenLift,
    "q_lm_score" -> lmScore,
    "q_cms_heavy_hitters" -> cmsHeavyHitters,
    "q_topk_terms_per_lang" -> topkTermsPerLang,
    "q_lang_id" -> langId,
    "q_quality_score" -> quality,
    "q_token_count" -> tokenCount,
    "q_token_hist" -> tokenHist,
    "q_fingerprint" -> fingerprint,
    "q_tfidf" -> tfidf,
    "q_bigram" -> bigram,
    "q_bpe_pairs" -> bpePairs,
    "q_bpe_train" -> bpeTrain,
    "q_bpe_apply" -> bpeApply,
    "q_hll_union" -> hllUnion)
}
