package graft.operators

import graft.Tables
import graft.functions.ParityMath.{floorRound, floorRoundSql}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 graph-analytics family (SURVEY.md §2.11): PageRank, triangle
  * counting / clustering coefficient, and connected components exposed as
  * oracled queries over a co-purchase graph derived from `lineitem`
  * (reference scope: the event stream's entity-relationship analytics —
  * the reference delivers the events, these are the graph passes a
  * product-analytics team runs on the delivered stream's batch twin;
  * reference/app/app.py:393-526 is the delivery path).
  *
  * Shared design decisions:
  *
  * - **The graph core is the capped co-purchase edge set**: parts that
  *   appear in the same order, weighted by co-occurrence count, trimmed to
  *   the top-`cap` edges under a TOTAL order (weight desc, a asc, b asc) so
  *   the cap is deterministic across engines and partitionings — the
  *   d_containment cap-64 convention. Capping to significant edges is also
  *   the production pattern: at 100 TB the raw co-occurrence graph is
  *   quadratic-ish noise; analytics run on the pruned backbone.
  * - **All iterative arithmetic is INTEGER**: PageRank ranks live in
  *   millionths (units of 1e-6), damping 0.85 is `(17 * s) div 20`, and
  *   per-edge contributions are `rank div outdeg` — sums of longs are exact
  *   in any aggregation order, so five engine-independent iterations match
  *   the oracle bit-for-bit (the g-family's version of the integer-unit
  *   discipline d_ppjoin / v_pq_adc use).
  * - **Scale shape**: the expensive stage is the pair generation — a
  *   self-join keyed on `l_orderkey` (bounded fan-out: per-order C(n,2)
  *   with n ≤ order size) followed by a map-side-partial pair count and a
  *   TakeOrderedAndProject cap. Everything downstream operates on ≤ cap
  *   rows, and the graph passes are ITERATIVE — pagerank references the
  *   edge frame ~11 times across 5 iterations, triangles 4 times — so the
  *   capped frame is materialized ONCE with an eager `localCheckpoint`
  *   (the ConnectedComponents lineage-truncation discipline for iterative
  *   algorithms). Round-9 shipped this as a shared `repartition` exchange
  *   + ReuseExchange instead; measured steady-state (QueryProbe r10)
  *   showed the deep iterative plans re-executing the pair-gen subtree
  *   anyway (g_pagerank ~5 s for ≤2000 edges), so the checkpoint of the
  *   ≤cap-row frame — trivially cheap to store and to recompute on
  *   executor loss — replaced it.
  */
object GraphQueries {

  /** Parity-critical defaults, interpolated into the oracle SQL below so a
    * default change cannot silently desynchronize engine and oracle.
    */
  private val DefaultCap = 2000
  private val PagerankIters = 5
  private val PagerankTopK = 20
  private val KcoreK = 2
  private val KcoreRounds = 8

  /** The shared pair-generation core both cap variants consume:
    * pairs-within-small-groups, not a self-join — collect each order's
    * distinct part set (orders are small — ≤7 lineitems in this schema,
    * bounded per-order in any sane one) and explode C(n, 2) canonical
    * a < b pairs per order. One ok-keyed shuffle; the per-order n²
    * expansion is bounded by order size, never corpus size. The expansion
    * is TWO stacked explodes + a codegen'd a < b filter, not a nested
    * transform×transform HOF (r21): higher-order functions evaluate as
    * interpreted per-element lambdas outside whole-stage codegen, and the
    * HOF form was the graph family's dominant exec cost (QueryProbe stages: 10 s
    * executor time in the pair stage at sf0.1; the d_simhash_pairs pair
    * join learned the same lesson in r11). Generate participates in
    * codegen, and the pair SET is identical — every consumer is
    * order-insensitive (groupBy / distinct).
    */
  private[graft] def orderPairs(lineitemDf: DataFrame): DataFrame =
    lineitemDf
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // NULL keys form a real group under groupBy but are null-rejected
      // by the oracle's equi-join — pin the engine to the join semantics
      // (review r20; unreachable on the fixtures, where l_orderkey is a
      // non-null key)
      .filter(col("ok").isNotNull)
      .groupBy(col("ok"))
      .agg(collect_set(col("pk")).as("pks"))
      .select(explode(col("pks")).as("a"), col("pks"))
      .select(col("a"), explode(col("pks")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))

  /** Capped co-purchase edge core: top-`cap` (a, b) part pairs by shared
    * order count, a < b, deterministic total order. Columns (a, b, w).
    * Materialized eagerly (≤ cap rows) so the iterative consumers never
    * re-execute the pair-generation self-join — see the object Scaladoc.
    */
  def coPurchaseEdges(lineitemDf: DataFrame, cap: Int = DefaultCap): DataFrame =
    orderPairs(lineitemDf)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("a"), col("b"))
      .limit(cap)
      .transform(Lineage.cut(_))

  /** Key-ordered variant of [[coPurchaseEdges]] for g_kcore: same pair
    * generation, capped by (a, b) order instead of weight. The top-weight
    * cap concentrates on hub parts and turns tree-like at larger scale
    * factors (the sf0.1 2-core under it is EMPTY); the key-ordered cap is a
    * deterministic slice spread across the graph, cyclic at every tested
    * SF, so the peel demonstrates a non-trivial fixpoint at bench scale.
    */
  def coPurchaseEdgesByKey(lineitemDf: DataFrame, cap: Int = DefaultCap): DataFrame =
    orderPairs(lineitemDf)
      .distinct()
      .orderBy(col("a"), col("b"))
      .limit(cap)
      .transform(Lineage.cut(_))

  /** Both-direction edge view (src, dst) over a capped (a, b) frame. */
  private def bidirectional(edges: DataFrame): DataFrame =
    edges.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst")))

  /** PageRank core (g_pagerank): `iters` exact integer-unit iterations of
    * r' = floor(0.15·1e6) + floor(0.85 · Σ floor(r_u / outdeg_u)) over the
    * undirected capped graph; top-`topK` nodes out. Every node in an edge
    * has outdeg ≥ 1 and indegree ≥ 1, so there are no dangling nodes and
    * the node set is stable across iterations. Per iteration: one
    * broadcast join of the node-sized rank frame onto the edges and one
    * dst-keyed sum — at 100 TB the edge frame is the big side and never
    * moves; only node-sized state shuffles. Sub-threshold edge frames
    * (the capped backbone always is) skip the loop for a SINGLE-TASK
    * replay of the identical integer recurrence — the
    * ConnectedComponents endgame discipline: below the threshold each
    * distributed iteration is a broadcast-exchange job of pure overhead,
    * and integer-unit sums are order-independent so both paths are
    * bit-identical (GraphSpec pins both against a reference fold).
    */
  def pagerank(edges: DataFrame, iters: Int = PagerankIters, topK: Int = PagerankTopK,
               localFinishEdges: Long = ConnectedComponents.LocalFinishEdges)
      : DataFrame =
    // exact w=1 specialization of the weighted core (review r20: the
    // recurrence used to live in FOUR places — two functions × two dual
    // paths — and every damping/threshold fix had to hit all four):
    // with w ≡ 1, wdeg = outdeg and c·w = c in both the single-task
    // replay and the distributed loop, so this is value-identical
    // bit-for-bit (integer units; GraphSpec pins both paths against a
    // reference fold)
    pagerankWeighted(edges.withColumn("w", lit(1L)), iters, topK,
      localFinishEdges)

  /** Weighted PageRank core (g_pagerank_weighted): the [[pagerank]]
    * recurrence with edge-weight-proportional mass splitting — the
    * co-purchase backbone carries co-occurrence counts (`w`) the
    * unweighted walk ignores, and importance should flow along frequent
    * pairings. Integer discipline: one truncating division per node per
    * iteration (c_u = r_u div wdeg_u, wdeg = Σ outgoing w), then exact
    * integer edge contributions c_u·w_e summed at dst —
    * r' = 150000 + (17·Σ) div 20, all order-independent. Same dual-path
    * shape as [[pagerank]]: sub-threshold frames replay in one task,
    * the distributed loop shuffles node-sized frames only.
    */
  def pagerankWeighted(edges: DataFrame, iters: Int = PagerankIters, topK: Int = PagerankTopK,
                       localFinishEdges: Long = ConnectedComponents.LocalFinishEdges)
      : DataFrame = {
    val spark = edges.sparkSession
    if (ConnectedComponents.underThreshold(edges, localFinishEdges)) {
      import spark.implicits._
      val nIters = iters
      return edges
        .select(col("a").cast("long"), col("b").cast("long"), col("w").cast("long"))
        .as[(Long, Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val und = it.flatMap { case (a, b, w) =>
            Iterator((a, b, w), (b, a, w)) }.toArray
          val wdeg = scala.collection.mutable.HashMap.empty[Long, Long]
          und.foreach { case (s, _, w) => wdeg(s) = wdeg.getOrElse(s, 0L) + w }
          var r = wdeg.keysIterator.map(_ -> 1000000L).toMap
          for (_ <- 1 to nIters) {
            val c = r.map { case (n, rv) => n -> rv / wdeg(n) }
            val s = scala.collection.mutable.HashMap.empty[Long, Long]
            und.foreach { case (src, dst, w) =>
              s(dst) = s.getOrElse(dst, 0L) + c(src) * w }
            r = s.iterator.map { case (n, acc) =>
              n -> (150000L + (17L * acc) / 20L) }.toMap
          }
          r.iterator
        }
        .toDF("node", "rank_units")
        .orderBy(col("rank_units").desc, col("node"))
        .limit(topK)
    }
    val e = edges.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(edges.select(col("b").as("src"), col("a").as("dst"), col("w")))
    val deg = e.groupBy(col("src")).agg(sum(col("w")).as("wdeg"))
    var rank: DataFrame = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val contrib = rank
        .join(deg.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("node").as("src"), expr("r div wdeg").as("c"))
      rank = e.join(broadcast(contrib), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("c") * col("w")).as("s"))
        .select(col("node"), (lit(150000L) + expr("(17 * s) div 20")).as("r"))
    }
    rank
      .select(col("node"), col("r").as("rank_units"))
      .orderBy(col("rank_units").desc, col("node"))
      .limit(topK)
  }

  /** Triangle/wedge census core (g_triangles): exact triangle count over
    * the capped canonical (a < b) edge set via the oriented two-join
    * enumeration (each triangle x<y<z counted exactly once as
    * (x,y)⋈(y,z) closed by (x,z)), wedge count Σ C(deg,2) from the
    * undirected degrees, and the global clustering coefficient 3T/W.
    * The orientation bounds the join fan-out by the out-degree of the
    * canonical DAG — the standard trick that keeps distributed triangle
    * counting sub-quadratic on skewed graphs.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b"))
    val paths = e.select(col("a").as("x"), col("b").as("y"))
      .join(e.select(col("a").as("y"), col("b").as("z")), Seq("y"))
    val tri = paths
      .join(e.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val deg = bidirectional(edges)
      .groupBy(col("src")).agg(count(lit(1)).as("d"))
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      expr("sum(d) div 2").as("n_edges"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          floorRound(lit(3) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 4))
          .otherwise(lit(0.0)).as("global_clustering"))
  }

  /** Component-size census core (g_components): min-label connected
    * components over the capped graph via the shared
    * [[ConnectedComponents]] engine (the d_dedup_cluster machinery on a
    * general edge set), collapsed to one row per component. The oracle
    * replays it as a recursive min-label propagation pruned to
    * strictly-decreasing labels — every propagated label is below the
    * receiving node id, so the closure stays near-linear on the capped
    * graph while still reaching the component minimum.
    */
  def components(edges: DataFrame): DataFrame = {
    ConnectedComponents
      .ofEdges(edges.select(col("a").as("src"), col("b").as("dst")))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("size"))
      .orderBy(col("size").desc, col("label"))
  }

  /** K-core decomposition core (g_kcore): iterative degree peeling — drop
    * every node with fewer than `k` neighbors inside the surviving set,
    * repeat up to `rounds` times or until stable (the alive set only
    * shrinks, so equal counts between rounds = identical sets = the exact
    * k-core fixpoint; further rounds are no-ops, which is why the early
    * exit stays bit-equal to the oracle's fixed unroll). The dense-core
    * extraction step graph-based curation uses to find the
    * mutually-reinforcing backbone of a similarity graph. Per round: the
    * node-sized alive frame joins onto the edges twice (broadcast — at a
    * scale where the node set outgrows broadcast, drop the hint and the
    * same plan runs as a co-partitioned shuffle join keyed like `e`) and
    * one src-keyed count; the edge frame itself never re-shuffles. Each
    * round's alive set is localCheckpoint'd — node-sized, the iterative
    * lineage-truncation discipline of [[ConnectedComponents.ofEdges]].
    * Output: surviving nodes with their within-core degree and a
    * `converged` flag (false = `rounds` exhausted while still peeling —
    * the result is then POSSIBLY a superset of the true k-core, never
    * reported silently; if the last allowed round happened to remove the
    * final violators, the output is exactly the k-core even though the
    * flag is false, because convergence is only observable one no-op
    * round later — ADVICE r11).
    */
  def kcore(edges: DataFrame, k: Int = KcoreK, rounds: Int = KcoreRounds,
            localFinishEdges: Long = ConnectedComponents.LocalFinishEdges)
      : DataFrame = {
    val spark = edges.sparkSession
    if (ConnectedComponents.underThreshold(edges, localFinishEdges)) {
      // Sub-threshold single-task endgame (the pagerank/components
      // discipline): below the threshold every distributed peel round is a
      // broadcast-exchange job of pure overhead — QueryProbe measured the
      // loop at ~3.3 s steady-state for a ≤2000-edge backbone. The replay
      // is the IDENTICAL recurrence on the same edge rows (neighbor
      // multiset per node, count ≥ k within the surviving set, early exit
      // on a no-removal round), so both paths are bit-equal — pinned by
      // GraphSpec's dual-path test.
      import spark.implicits._
      val (kk, rr) = (k, rounds)
      return edges
        .select(col("a").cast("long"), col("b").cast("long")).as[(Long, Long)]
        .repartition(1)
        .mapPartitions { it =>
          val und = it.flatMap { case (a, b) => Iterator((a, b), (b, a)) }.toArray
          val adj = und.groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
          var alive = adj.keySet
          var stable = alive.isEmpty
          var done = 0
          while (done < rr && !stable) {
            val next = alive.filter(n => adj(n).count(alive.contains) >= kk)
            stable = next.size == alive.size
            alive = next
            done += 1
          }
          val conv = stable
          // the distributed form derives output by joining edges to the
          // final alive set (a node with zero in-core neighbors yields no
          // row — possible only mid-peel); mirror that exactly
          alive.iterator
            .map(n => (n, adj(n).count(alive.contains).toLong, conv))
            .filter(_._2 > 0L)
        }
        .toDF("node", "core_deg", "converged")
        .orderBy("node")
    }
    val e = bidirectional(edges)
    var alive = Lineage.cut(e.select(col("src").as("n")).distinct())
    var prev = alive.count()
    var stable = prev == 0L
    var done = 0
    while (done < rounds && !stable) {
      val next = e
        .join(broadcast(alive.select(col("n").as("src"))), Seq("src"))
        .join(broadcast(alive.select(col("n").as("dst"))), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("src").as("n"))
        // supersede last round's alive set: its storage is freed once the
        // new cut materializes (bounded footprint across peel rounds)
        .transform(Lineage.cutSuperseding(_, alive))
      val cnt = next.count()
      stable = cnt == prev
      prev = cnt
      alive = next
      done += 1
    }
    e.join(broadcast(alive.select(col("n").as("src"))), Seq("src"))
      .join(broadcast(alive.select(col("n").as("dst"))), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"),
        lit(stable).as("converged"))
      .orderBy("node")
  }

  /** ONE builder for the li/pairs/capped/e oracle prefix every graph
    * oracle consumes — previously four near-identical inline copies, where
    * an edit to the shared pair semantics could reach some oracles but not
    * others. Parameterized by the cap ordering (weight vs key), whether
    * the edge view carries weights, the RECURSIVE keyword, and
    * MATERIALIZED hints; the cap constant interpolates from [[DefaultCap]]
    * so the Spark default and the SQL literal cannot drift.
    */
  private def pairsCte(byKey: Boolean = false, withW: Boolean = false,
                       recursive: Boolean = false,
                       materialized: Boolean = false): String = {
    val m = if (materialized) " MATERIALIZED" else ""
    val rec = if (recursive) "RECURSIVE " else ""
    val order = if (byKey) "a, b" else "w DESC, a, b"
    val cols = if (withW) "a, b, w" else "a, b"
    val eSel = if (withW)
      "SELECT a AS src, b AS dst, w FROM capped UNION ALL SELECT b, a, w FROM capped"
    else
      "SELECT a AS src, b AS dst FROM capped UNION ALL SELECT b, a FROM capped"
    s"""WITH ${rec}li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          pairs AS (SELECT x.pk AS a, y.pk AS b, count(*) AS w
                    FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk
                    GROUP BY x.pk, y.pk),
          capped AS$m (SELECT $cols FROM pairs ORDER BY $order LIMIT $DefaultCap),
          e AS$m ($eSel)"""
  }

  /** The weight-capped prefix shared by the pagerank/triangles oracles. */
  // MATERIALIZED (review r20): DuckDB inlines multiply-referenced CTEs,
  // so without the hint the lineitem self-join re-executes per reference
  // (~20x in the pagerank oracles at sf1) — the hazard the kcore oracle
  // already guarded against
  private def edgeCte = pairsCte(materialized = true)

  val queries: Seq[QueryDef] = Seq(
    // R4/R13-adjacent, graph family — PageRank over the co-purchase
    // backbone: 5 integer-unit damped iterations. The capped edge frame is
    // materialized once (eager localCheckpoint — see the object Scaladoc;
    // the r9 ReuseExchange approach re-executed the pair-gen subtree), and
    // sub-threshold frames run the single-task endgame (PlanSpec pins the
    // endgame shape: no FileScan in the final plan).
    QueryDef("g_pagerank", (s, d) => pagerank(coPurchaseEdges(Tables.lineitem(s, d))),
    {
      // r0..r(iters) unrolled: the same integer recurrence the Spark loop runs.
      val iter = (i: Int) =>
        s"""r$i AS (SELECT e.dst AS node,
                    CAST(150000 + (17 * sum(r${i - 1}.r // d.outdeg)) // 20 AS BIGINT) AS r
             FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
                    JOIN d ON d.src = e.src
             GROUP BY e.dst)"""
      s"""$edgeCte,
          d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
          r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d),
          ${(1 to PagerankIters).map(iter).mkString(",\n")}
          SELECT node, r AS rank_units FROM r$PagerankIters
          ORDER BY rank_units DESC, node LIMIT $PagerankTopK"""
    }),

    // Graph family — exact triangle census + global clustering
    // coefficient on the same capped backbone: oriented two-join
    // enumeration (sub-quadratic on skew), wedge count from degrees,
    // 3T/W on the 4-dp parity dial.
    QueryDef("g_triangles", (s, d) => triangles(coPurchaseEdges(Tables.lineitem(s, d))),
      s"""$edgeCte,
          tri AS (SELECT count(*) AS n_triangles
                  FROM capped e1
                  JOIN capped e2 ON e1.b = e2.a
                  WHERE EXISTS (SELECT 1 FROM capped e3
                                WHERE e3.a = e1.a AND e3.b = e2.b)),
          deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
          st AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
                        CAST(sum(d) // 2 AS BIGINT) AS n_edges,
                        CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
                 FROM deg)
          SELECT st.n_nodes, st.n_edges,
                 CAST(tri.n_triangles AS BIGINT) AS n_triangles, st.n_wedges,
                 CASE WHEN st.n_wedges > 0
                      THEN ${floorRoundSql("3 * tri.n_triangles / CAST(st.n_wedges AS DOUBLE)", 4)}
                      ELSE 0.0 END AS global_clustering
          FROM st, tri"""),

    // Graph family — connected-component size census via the shared
    // min-label-propagation engine (pointer jumping, O(log path) rounds);
    // ordered by (size desc, label) — a total order, labels unique.
    QueryDef("g_components", (s, d) => components(coPurchaseEdges(Tables.lineitem(s, d))),
      s"""${pairsCte(recursive = true, materialized = true)},
          n AS (SELECT DISTINCT src AS node FROM e),
          reach(node, label) AS (
            SELECT node, node FROM n
            UNION
            SELECT e.dst, reach.label
            FROM reach JOIN e ON e.src = reach.node
            WHERE reach.label < e.dst),
          m AS (SELECT node, min(label) AS root FROM reach GROUP BY node)
          SELECT root AS label, CAST(count(*) AS BIGINT) AS size
          FROM m GROUP BY root
          ORDER BY size DESC, label"""),

    // Graph family (r11) — edge-weighted PageRank: importance flows along
    // frequent co-purchase pairings instead of splitting evenly; same
    // integer recurrence, weight-proportional mass split, dual-path.
    QueryDef("g_pagerank_weighted", (s, d) =>
      pagerankWeighted(coPurchaseEdges(Tables.lineitem(s, d))),
    {
      // the weighted recurrence unrolled: one truncating div per node
      // (c = r // wdeg), exact integer edge contributions c·w summed at dst
      val iter = (i: Int) =>
        s"""r$i AS (SELECT e.dst AS node,
                    CAST(150000 + (17 * sum((r${i - 1}.r // d.wdeg) * e.w)) // 20
                         AS BIGINT) AS r
             FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
                    JOIN d ON d.src = e.src
             GROUP BY e.dst)"""
      s"""${pairsCte(withW = true, materialized = true)},
          d AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY src),
          r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM d),
          ${(1 to PagerankIters).map(iter).mkString(",\n")}
          SELECT node, r AS rank_units FROM r$PagerankIters
          ORDER BY rank_units DESC, node LIMIT $PagerankTopK"""
    }),

    // Graph family (r11) — 2-core of the co-purchase backbone: iterative
    // degree peel to the fixpoint (converges in ≤5 rounds here; the
    // `converged` column is oracled so a non-fixpoint can never pass
    // silently). The dense-backbone extraction step of graph curation.
    QueryDef("g_kcore", (s, d) => kcore(coPurchaseEdgesByKey(Tables.lineitem(s, d))),
    {
      // a0..aR unrolled peel — MATERIALIZED is required: each round
      // references the previous twice, and DuckDB's default CTE inlining
      // would re-evaluate the whole chain 2^rounds times.
      val peel = (i: Int) =>
        s"""a$i AS MATERIALIZED (
              SELECT e.src AS n FROM e
              JOIN a${i - 1} s ON e.src = s.n
              JOIN a${i - 1} t ON e.dst = t.n
              GROUP BY e.src HAVING count(*) >= $KcoreK)"""
      s"""${pairsCte(byKey = true, materialized = true)},
          a0 AS MATERIALIZED (SELECT DISTINCT src AS n FROM e),
          ${(1 to KcoreRounds).map(peel).mkString(",\n")},
          conv AS (SELECT (SELECT count(*) FROM a$KcoreRounds) =
                          (SELECT count(*) FROM a${KcoreRounds - 1})
                     AS converged)
          SELECT e.src AS node, CAST(count(*) AS BIGINT) AS core_deg,
                 conv.converged
          FROM e JOIN a$KcoreRounds s ON e.src = s.n
                 JOIN a$KcoreRounds t ON e.dst = t.n, conv
          GROUP BY e.src, conv.converged
          ORDER BY node"""
    })
  )
}
