package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph analytics over the relational testdata — the Pregel-class
  * workload beside [[Dedup]]'s connected components: PageRank on the
  * bipartite customer↔supplier interaction graph mined from
  * orders⋈lineitem. Spark-first shape: the graph is two DataFrames (edges,
  * degrees), every superstep is a key-bounded join + aggregate, and the
  * rank frame is lineage-truncated per round (the CC/BPE iterative-loop
  * lesson — localCheckpoint or Catalyst re-analysis grows multiplicatively).
  */
object Graph {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** Fixed-point basis: ranks in 1e-12 units so three damped iterations of
    * integer division stay exact and engine-portable (the DuckDB oracle
    * replays every `div` bit-for-bit — doubles would drift in the last
    * ulp across engines and flap the hash gate).
    */
  private val RankOne = 1000000000000L // 1.0 in 1e-12 fixed point
  private val PrIters = 3

  /** PageRank (damping 0.85, [[PrIters]] supersteps) on the bidirectional
    * customer↔supplier graph: nodes are `2*custkey` / `2*suppkey + 1`
    * (integer namespacing keeps the frame fixed-width), one edge per
    * DISTINCT (customer, supplier) pair in each direction — symmetric, so
    * no sink-mass correction is needed and every node has out-degree ≥ 1.
    * Per superstep: contribution = `rank div degree` flows along edges
    * (join on the source key), sums per target (map-side combinable), and
    * the damped update `(0.15·R0) div N + (85 · Σcontrib) div 100` is pure
    * integer arithmetic. Gate: top 20 nodes under the (rank desc, node)
    * total order; the oracle replays all three supersteps in materialized
    * CTEs.
    *
    * Scale shape: edges build from one orderkey-join + a distinct on the
    * pair (both key-bounded); each superstep is one shuffle on the edge
    * source and one on the target — the textbook Pregel message pass as
    * two exchanges, nothing node-quadratic. The rank frame is node-sized
    * and localCheckpointed eagerly per round, so the plan stays shallow
    * and the loop's wall cost is the supersteps themselves (at 10^9 nodes
    * the same loop runs with reliable checkpointing, exactly as
    * [[Dedup]]'s pointer-jumping documents). The graph-size scalar N is
    * a 1-value driver aggregate — planning state, like the IVF cell count.
    */
  val pagerank: QueryDef = {
    def rounds: String = (1 to PrIters).map { r =>
      s"""r$r AS MATERIALIZED (
         |  SELECT d.u AS node, d.d AS d,
         |         CAST((150000000000 // nn) + (85 * coalesce(s.c, 0)) // 100
         |              AS BIGINT) AS rank
         |  FROM deg d CROSS JOIN n
         |  LEFT JOIN (SELECT e.v AS v, sum(r.rank // r.d) AS c
         |             FROM edges e JOIN r${r - 1} r ON e.u = r.node
         |             GROUP BY e.v) s ON s.v = d.u)""".stripMargin
    }.mkString(",\n")
    QueryDef(
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |edges AS MATERIALIZED (
         |  SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
         |deg AS MATERIALIZED (SELECT u, count(*) AS d FROM edges GROUP BY u),
         |n AS (SELECT count(*) AS nn FROM deg),
         |r0 AS MATERIALIZED (
         |  SELECT u AS node, d, CAST($RankOne // nn AS BIGINT) AS rank
         |  FROM deg, n),
         |$rounds
         |SELECT CAST(node AS BIGINT) AS node, rank
         |FROM r$PrIters ORDER BY rank DESC, node LIMIT 20""".stripMargin) {
      (spark, dir) =>
      // Set-and-restore a narrow shuffle width for the loop (the BPE
      // vocabulary-loop rule): every post-edges frame is node- or
      // edge-sized, where 32-partition shuffles are pure scheduling
      // overhead; the whole loop executes inside this call (eager
      // checkpoints), so the restore cannot strand a lazy consumer. On a
      // real cluster this constant is sized to |E| / executor memory.
      Confs.withConfs(spark, "spark.sql.shuffle.partitions" -> "8") {
      val e0 = spark.read.parquet(t(dir, "orders"))
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("u"))
        .join(spark.read.parquet(t(dir, "lineitem"))
          .select(col("l_orderkey"), (col("l_suppkey") * 2 + 1).as("v")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("u"), col("v")).distinct()
      // in-row doubling (optimization r17): one pass over the distinct
      // pair stream emits both edge directions; the r16 two-arm union
      // re-ran the distinct-final aggregate once per arm when the persist
      // below materializes.
      val edges = e0.select(explode(array(
          struct(col("u"), col("v")),
          struct(col("v").as("u"), col("u").as("v")))).as("e"))
        .select(col("e.u").as("u"), col("e.v").as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nNodes = deg.count() // 1-value planner scalar: the graph size
      val base = 150000000000L / nNodes
      var ranks = deg
        .select(col("u").as("node"), col("d"), lit(RankOne / nNodes).as("rank"))
        .localCheckpoint(true)
      for (_ <- 1 to PrIters) {
        val contrib = ranks
          .join(edges, ranks("node") === edges("u"))
          .groupBy(col("v")).agg(sum(expr("rank div d")).as("c"))
        val next = deg
          .join(contrib, deg("u") === contrib("v"), "left")
          .select(col("u").as("node"), col("d"),
            (lit(base) + expr("(85 * coalesce(c, 0L)) div 100")).as("rank"))
          .localCheckpoint(true)
        // next is materialized; the superseded round's checkpoint blocks
        // are unreachable — free them now (the BPE-loop rule). The FINAL
        // frame stays: the returned top-20 plan reads it lazily.
        Checkpoints.release(ranks)
        ranks = next
      }
      // the loop has executed; the shared frames release now (the final
      // top-20 reads only the checkpointed last round)
      edges.unpersist(false)
      deg.unpersist(false)
      ranks.select(col("node"), col("rank"))
        .orderBy(col("rank").desc, col("node")).limit(20)
      }
    }
  }

  /** Triangle counting on the part co-occurrence graph (parts that share
    * an order are adjacent) — the clustering-coefficient/community
    * primitive, and the classic test of whether a join engine survives a
    * wedge explosion. The scale-critical choice is the ORIENTATION: each
    * undirected edge is directed from its lower-(degree, id) endpoint to
    * the higher, so every triangle a ≺ b ≺ c is counted exactly once, at
    * its edge a→b, as the common out-neighbor c of a and b; the degree
    * ordering caps every out-list at O(√|E|), so the hub that dominates
    * an id-ordered orientation contributes a short list as a source. The
    * count is orientation-invariant, so the oracle states the same
    * quantity with the plain id ordering — the equality IS the proof the
    * orientation trick is sound. Edges materialize via the copurchase
    * in-row expansion (one groupBy(order), per-basket pair fan-out
    * bounded by basket size), never an order-keyed self-join.
    *
    * Scale shape: one exchange to build edges, one key-sized degree
    * aggregate broadcast to both orientation joins, one groupBy(source)
    * exchange for the sorted out-lists, then the |E| oriented edges, which
    * never shuffle again: each probes the ONE broadcast adjacency twice,
    * for the out-list of its source and of its target, and adds one
    * sorted-list merge (`sorted_intersect_size`) to the single final
    * aggregate that also counts the edges. Work is Σ over edges of
    * |out(s)| + |out(t)| primitive compares; no wedge is ever
    * materialized. The (deg, id) composite packs into one long
    * ([[IdPack]], deg · 2³² + id) so the ordering and the merge are single
    * integer compares in codegen; ids are checked as they enter the graph
    * and degrees as they are packed (a 100 TB graph re-packs into the
    * 128-bit struct compare instead).
    */
  val triangles: QueryDef = QueryDef(
    """WITH os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
      |SELECT CAST(count(*) AS BIGINT) AS n_triangles,
      |       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges
      |FROM e e1 JOIN e e2 ON e2.u = e1.v
      |          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""".stripMargin) {
    (spark, dir) =>
    val edges = coEdges(spark, dir)
    // The rank side (IdPack.rank: deg·2³² + id) is vertex-sized and HINTED
    // broadcast, so both orientation joins read ONE degree aggregate
    // through one reused broadcast (left to AQE, each join got its own
    // final aggregate); it is smaller than the adjacency broadcast below,
    // so it adds no size limit of its own.
    val ranks = broadcast(degrees(edges)
      .select(col("x"), IdPack.rank(col("deg"), col("x")).as("rank")))
    // Re-orient each edge low-rank → high-rank; u≠v so ranks never tie.
    // A vertex is named by its rank from here on: rank = deg·2³² + id is
    // unique per vertex, so the adjacency keys, the list elements and the
    // merge all stay on primitive longs, and nothing unpacks the id.
    val directed = edges
      .join(ranks.select(col("x").as("u"), col("rank").as("ru")), "u")
      .join(ranks.select(col("x").as("v"), col("rank").as("rv")), "v")
      .select(least(col("ru"), col("rv")).as("s"), greatest(col("ru"), col("rv")).as("t"))
    // Forward counting (Schank & Wagner, WEA 2005): a triangle a ≺ b ≺ c
    // is counted once, at its edge a→b, as c ∈ out(a) ∩ out(b). One
    // groupBy(s) builds each source's sorted out-list; each oriented edge
    // s→t then looks up out(s) and out(t) in that one adjacency, so the
    // count is one merge of two sorted lists per edge
    // (sorted_intersect_size, a codegen'd while loop over the unsafe
    // arrays). directedW is the ONE repartition-by-source exchange; the
    // adjacency aggregate and the edge probes read the same columns of it,
    // so the exchange is reused. Widen.byKey pins it at the full
    // configured width: the merge work per edge grows with its list
    // lengths, a cost AQE's byte-based coalescing cannot see.
    val directedW = Widen.byKey(directed, col("s"))
    // The adjacency is HINTED broadcast: |V| rows holding |E| longs in
    // total, bounded by construction. On a graph whose adjacency outgrows
    // executor memory, drop the hint for the shuffle-join fallback exactly
    // as the bfs frontier note documents.
    val adj = broadcast(directedW.groupBy(col("s"))
      .agg(array_sort(collect_list(col("t"))).as("out")))
    // Both probes rename the key and the list, so their build sides are
    // one plan up to names and the second reuses the first's broadcast.
    // Every source has an out-list, so the s-probe is inner. A sink t has
    // none: the t-probe is left outer, its merge is null, and sum skips it
    // while count(*) still counts the edge.
    directedW
      .join(adj.select(col("s").as("src"), col("out").as("ts")), col("s") === col("src"))
      .join(adj.select(col("s").as("t"), col("out").as("tt")), Seq("t"), "left_outer")
      .agg(
        coalesce(sum(expr("sorted_intersect_size(ts, tt)")), lit(0L))
          .as("n_triangles"),
        count(lit(1)).as("n_edges"))
  }

  /** Vertex degrees `(x, deg)` of an undirected half-edge list `(u, v)`:
    * one edge pass, each edge doubled in-row (a two-arm union re-ran the
    * edge build once per arm).
    */
  private def degrees(edges: DataFrame): DataFrame =
    edges.select(explode(array(col("u"), col("v"))).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("deg"))

  /** Memoized co-occurrence edge set, shared by the consumers inside
    * [[triangles]] (degree build and orientation join) — without
    * it each consumer replays the basket groupBy + pair fan-out +
    * distinct. Same single-key SessionMemo policy as AnnIvf's quantizer:
    * one dir per session, unpersist on dir switch, and a cold Bench run
    * still pays the build exactly once. Production keeps the
    * materialized edge list beside the graph for the same reason.
    */
  private[queries] val edgeCache =
    new SessionMemo[String, DataFrame](_.unpersist(false))

  // DELIBERATELY no re-arm of the storage level after Bench's cache sweep
  // (unlike AnnIvf's quantizer and Pipeline's gram frame, whose consumers
  // are separate ACTIONS that cannot share work any other way): every
  // graph row is a single-action plan, so when the sweep drops the
  // persisted blocks the identical edge-build exchange subtrees dedup via
  // ReusedExchange inside each execution anyway — measured 6.9/5.1 s
  // (triangles/bfs with a re-arm forcing cache re-materialization +
  // InMemory scans) vs 6.1/2.9 s (unpersisted + exchange reuse). Where
  // nothing sweeps (Verify, user sessions) the persist pays off even though
  // no exchange above the cached frame is reused: sf0.1, local[4], bench
  // confs, 4 alternating rounds, the three graph rows totalled 2.11-2.96 s
  // warm (q_triangles first, building the cache) against 2.99-4.03 s with
  // the cache swept before each row. Per row, warm vs swept: q_triangles
  // 1.22-1.65 vs 0.94-1.39 s, q_bfs_reach 0.74-1.12 vs 1.40-1.90 s,
  // q_degree_hist 0.10-0.19 vs 0.52-0.75 s; only q_triangles gains from
  // the swept plan.
  private def coEdges(spark: SparkSession, dir: String): DataFrame =
    edgeCache.getOrElseUpdate(spark, dir) {
      // Widen.byKey (optimization r16, guide §2.2/§2.5): the basket
      // aggregate's exchange is spelled as an explicit full-width
      // repartition — same single shuffle, but pinned against AQE's
      // byte-based coalescing, which packed the C(basket,2) pair
      // expansion reading it into 4 tasks (2.4 s of work in the stage table
      // of graft.tools.Profile).
      // The partkeys become vertex ids here, so they are checked here, in
      // the codegen'd scan projection, for the pair packing below.
      val baskets = Widen.byKey(
          spark.read.parquet(t(dir, "lineitem"))
            .select(col("l_orderkey"), IdPack.checkedId(col("l_partkey")).as("l_partkey")),
          col("l_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
      // The pair fan-out packs (u, v) into ONE long (IdPack, u·2³² + v), so
      // the distinct dedups an 8-byte key instead of a two-field struct
      // row: narrower exchange bytes and a cheaper hash (guide §2.3
      // "narrower types"). Unpacked right after the distinct; consumers
      // see (u, v).
      val packed = baskets.filter(size(col("ps")) >= 2)
        .select(explode(Pairs.orderedExpr(col("ps"), IdPack.pack)).as("p"))
        .distinct()
      packed
        .select(IdPack.hi(col("p")).as("u"), IdPack.lo(col("p")).as("v"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** Bounded-frontier reachability — the BFS primitive behind blast-radius
    * and related-item queries, run to depth 2 from a deterministic seed
    * (the minimum vertex id): each hop is a broadcast of the (tiny)
    * frontier against the HALF-edge list, probed in both directions —
    * the Pregel message pass without iteration machinery. The oracle
    * replays both hops in materialized CTEs over the doubled edge list;
    * the two spellings agree because looking a frontier up on either
    * side of u<v half-edges IS the doubled list's one-sided lookup.
    *
    * Plan shape (r15 rework — the r14 bench suspect profiled to the plan,
    * not box load: on an idle box, the doubled-list spelling cost a clean
    * 4.4-4.7 s median vs its 2.92 s pin): the old plan materialized
    * e = half ∪ swap(half) and dragged 2|E| rows through the seed agg and
    * both hop joins, plus a distinct on the raw 2-hop output that the
    * final union-distinct immediately repeated. Now the seed min runs on
    * the half list (u < v in every pair — Pairs.ordered emits sorted-array
    * pairs — so the global minimum vertex always sits in u), each hop
    * reads half once per direction with the frontier BROADCAST (h1 is
    * 1-hop-bounded; blast-radius frontiers are small by use-case — at
    * depths where the frontier outgrows a broadcast, swap in the shuffle
    * join + per-hop localCheckpoint of the pagerank rule), and the 2-hop
    * output flows RAW into the single union-distinct. Measured before →
    * after on the same idle box: 4.47/4.37/3.64 → 2.83/2.37/2.51 s.
    *
    * Scale shape: one data-sized basket groupBy + pair fan-out + distinct
    * builds the half list (shared via [[coEdges]] and in-plan exchange
    * reuse); everything downstream is frontier-bounded probes of that
    * reused exchange plus one distinct over the 2-hop candidate set.
    */
  val bfsReach: QueryDef = QueryDef(
    """WITH os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |e AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
      |seed AS (SELECT min(u) AS s FROM e),
      |h1 AS MATERIALIZED (SELECT DISTINCT e.v AS x FROM e, seed WHERE e.u = seed.s),
      |h2 AS MATERIALIZED (SELECT DISTINCT e.v AS x FROM e JOIN h1 ON e.u = h1.x)
      |SELECT (SELECT s FROM seed) AS seed,
      |       CAST((SELECT count(*) FROM h1) AS BIGINT) AS n_1hop,
      |       CAST((SELECT count(*) FROM (SELECT x FROM h2 UNION SELECT x FROM h1) q
      |             WHERE x <> (SELECT s FROM seed)) AS BIGINT) AS n_2hop""".stripMargin) {
    (spark, dir) =>
    val half = coEdges(spark, dir)
    val seed = half.agg(min(col("u")).as("s"))
    // ONE scan per hop (optimization r17, guide §2.4): the r15 spelling
    // probed the half list TWICE per hop (u-direction ∪ v-direction), and
    // under cold-cache exchange reuse each probe re-runs the distinct-final
    // aggregate over |E| — five edge passes per execution (Profile's stage
    // table before: five 32-task stages of 3-9 s task time each). The in-row
    // explode emits both directions of each half-edge inside one scan, so
    // each hop is ONE broadcast-probe pass — three edge passes total
    // (seed, hop 1, hop 2). Looking a frontier up on the exploded two-row
    // form IS the doubled list's one-sided lookup, exactly as the oracle's
    // e = e0 ∪ swap(e0) states.
    val both = half.select(explode(array(
        struct(col("u").as("a"), col("v").as("b")),
        struct(col("v").as("a"), col("u").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val h1 = both.join(broadcast(seed), col("a") === col("s"))
      .select(col("b").as("x")).distinct()
    val hop2raw = both.join(broadcast(h1), col("a") === col("x"))
      .select(col("b").as("y"))
    val reach = h1.select(col("x").as("y")).unionAll(hop2raw).distinct()
      .join(broadcast(seed), col("y") === col("s"), "left_anti")
      .agg(count(lit(1)).as("n_2hop"))
    broadcast(seed).select(col("s").as("seed"))
      .crossJoin(broadcast(h1.agg(count(lit(1)).as("n_1hop"))))
      .crossJoin(reach)
  }

  /** Degree-distribution histogram of the co-occurrence graph — the
    * first diagnostic run on any production graph (it decides salting,
    * orientation, and whether a hub needs special-casing; the
    * skew-metrics row's graph sibling). Buckets are ⌊√degree⌋ — exact
    * across engines because IEEE sqrt is correctly rounded, where a
    * log2 bucket would ride each engine's libm into boundary flaps at
    * exact powers.
    *
    * Scale shape: one vertex-keyed count (map-side combinable) + one
    * bucket-keyed rollup over a √maxdeg-sized key space.
    */
  val degreeHist: QueryDef = QueryDef(
    """WITH os AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS MATERIALIZED (
      |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      |  FROM os a JOIN os b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |d AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM (
      |        SELECT u AS x FROM e0 UNION ALL SELECT v FROM e0) q GROUP BY 1)
      |SELECT CAST(floor(sqrt(CAST(deg AS DOUBLE))) AS BIGINT) AS bucket,
      |       CAST(count(*) AS BIGINT) AS n_vertices,
      |       CAST(min(deg) AS BIGINT) AS min_deg,
      |       CAST(max(deg) AS BIGINT) AS max_deg
      |FROM d GROUP BY 1""".stripMargin) { (spark, dir) =>
    degrees(coEdges(spark, dir))
      .groupBy(floor(sqrt(col("deg").cast("double"))).as("bucket"))
      .agg(count(lit(1)).as("n_vertices"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
  }

  val defs: Map[String, QueryDef] = Map(
    "q_pagerank" -> pagerank,
    "q_triangles" -> triangles,
    "q_bfs_reach" -> bfsReach,
    "q_degree_hist" -> degreeHist)
}
