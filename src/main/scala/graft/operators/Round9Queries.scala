package graft.operators

import graft.Tables
import graft.functions.ParityMath.floorRound
import graft.functions.TextFunctions.shingles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-9 second-session additions (SURVEY.md §2.11): the runtime
  * Bloom-filter join prefilter, content-defined-chunking dedup, and the
  * BPE merge-pair corpus pass.
  */
object Round9Queries {

  /** Containment postings cap and MMR shortlist bound — ONE definition
    * interpolated into both the Spark plans and their oracle SQL (review
    * r20: the oracles hardcoded 64/50, so a tuned caller would silently
    * desync operator from oracle).
    */
  private[graft] val ContainmentCap = 64
  private[graft] val MmrShortlist = 50

  /** CDC chunk statistics core (d_cdc_chunks) over any (doc_id, text)
    * frame — factored so specs can drive planted fixtures through the
    * exact production path.
    */
  def cdcChunkStats(docsDf: DataFrame): DataFrame = {
    // coalesce pins NULL text to the empty-doc path in BOTH engines
    // (review r20: split(NULL) used to manufacture one md5('') chunk in
    // Spark while the oracle's list_distinct dropped the NULL hash and
    // said zero chunks — unreachable on the fixtures, aligned anyway)
    val chunks = docsDf
      .select(col("doc_id"), split(coalesce(col("text"), lit("")), " ").as("t"))
      .select(col("doc_id"), col("t"),
        expr(
          """concat(
               CASE WHEN size(t) >= 5 THEN
                 filter(sequence(4, size(t) - 1),
                   j -> substring(md5(concat_ws(' ', slice(t, j - 3, 4))), 32, 1)
                          IN ('0', '8'))
               ELSE CAST(array() AS ARRAY<INT>) END,
               array(size(t)))""").as("cuts"))
      .select(col("doc_id"),
        expr(
          """array_distinct(transform(cuts, (c, k) ->
               md5(concat_ws(' ', slice(t,
                 (CASE WHEN k = 0 THEN 0 ELSE element_at(cuts, k) END) + 1,
                 c - (CASE WHEN k = 0 THEN 0 ELSE element_at(cuts, k) END))))))""")
          .as("ch"))
      // doc-count-sized (doc_id, chunk-hash array) read by TWO consumers
      // (spans + tot) that shuffle on different keys — without the cut
      // the md5-per-window chunking HOFs run over the corpus twice
      // (review r20)
      .transform(Lineage.cut(_))
    val spans = chunks.select(col("doc_id"), explode(col("ch")).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val shared = spans.groupBy(col("h"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") > 1)
    val tot = chunks.select(col("doc_id"), size(col("ch")).cast("long").as("n_chunks"))
    val dup = spans.join(shared.select(col("h")), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_dup_chunks"))
    tot.join(dup, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        floorRound(coalesce(col("n_dup_chunks"), lit(0L)).cast("double") /
          greatest(col("n_chunks"), lit(1L)), 4).as("dup_chunk_frac"))
      .orderBy("doc_id")
  }

  /** BPE merge-pair core (t_bpe_pairs) over any (text) frame. */
  def bpePairs(docsDf: DataFrame, topK: Int = 20): DataFrame = {
    val vocab = docsDf
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    vocab.filter(length(col("w")) >= 2)
      .select(col("f"), explode(expr(
        """transform(sequence(1, length(w) - 1),
             i -> concat(substring(w, i, 1), substring(w, i + 1, 1)))"""))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** Containment (asymmetric overlap) core (d_containment): for every
    * doc, the maximum fraction of ITS OWN 3-shingles found verbatim in
    * any single other document — max_B |A∩B| / |A|. Symmetric Jaccard
    * misses subset relations (a doc quoted whole inside a much longer
    * one scores |A|/|B| ≈ 0); containment is the quotation/subset
    * signal, 1.0 for a fully-contained doc regardless of the host's
    * length. Candidate pairs come from shared-gram postings: per gram a
    * SORTED doc list trimmed to `cap` (deterministic — mirrored by the
    * oracle; common-gram postings are exactly the ones worth
    * suppressing), pairs expanded per posting, shared-gram counts
    * grouped on (da, db). The per-doc max then needs no division
    * ordering tricks: n is constant per doc, so max(shared) IS
    * max(shared/n). Shuffle shape: postings group on the gram's
    * xxhash64 (8-byte keys, gram strings never move — the span-dedup
    * trade), pair counts on 16-byte id pairs; pair volume is bounded by
    * cap²/2 per gram.
    */
  /** Pre-cut builder of the per-doc gram-HASH arrays consumed by
    * [[containmentStats]] — factored so PlanSpec can pin the xxhash64
    * gram hashing on the plan that actually computes it (after the
    * Lineage.cut the downstream plan starts at `Scan ExistingRDD` and
    * the hashing is invisible there).
    */
  private[graft] def containmentGramHashes(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), shingles("text", 3).as("gs"))
      .select(col("doc_id"),
        expr("transform(gs, g -> xxhash64(g))").as("ghs"))

  def containmentStats(docsDf: DataFrame, cap: Int = ContainmentCap): DataFrame = {
    // per-doc gram-HASH arrays, computed once and cut (review r20): the
    // exploded twin fed two consumers shuffling on different keys
    // (doc_id sizes vs gram postings), re-running the text scan +
    // shingle pass per consumer. The materialized form is ~8 B/gram —
    // the slim thing to keep; n_grams falls out as size(ghs) for free.
    val arr = containmentGramHashes(docsDf).transform(Lineage.cut(_))
    val sh = arr.select(col("doc_id"), explode(col("ghs")).as("gh"))
    val sizes = arr.select(col("doc_id"),
      size(col("ghs")).cast("long").as("n_grams"))
    val post = sh.groupBy(col("gh"))
      .agg(slice(sort_array(collect_list(col("doc_id"))), 1, cap).as("ds"))
      .filter(size(col("ds")) > 1)
    val pairs = post.select(explode(expr(
      """flatten(transform(ds, (a, i) ->
           transform(slice(ds, i + 2, size(ds)), b -> struct(a AS da, b AS db))))"""))
      .as("p"))
      .select(col("p.da"), col("p.db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).cast("long").as("shared"))
    val both = pairs.select(col("da").as("doc_id"), col("shared"))
      .union(pairs.select(col("db").as("doc_id"), col("shared")))
      .groupBy(col("doc_id")).agg(max(col("shared")).as("max_shared"))
    docsDf.select(col("doc_id"))
      .join(sizes, Seq("doc_id"), "left_outer")
      .join(both, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"),
        floorRound(coalesce(col("max_shared"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 4)
          .as("containment"))
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination core (t_decontaminate_bloom) —
    * the scale variant of TextQueries.decontaminate for eval sets that
    * outgrow a string broadcast. Same output contract; factored so the
    * spec can prove bloom-twin ≡ broadcast-core on planted fixtures.
    */
  def decontaminateBloom(s: SparkSession, docsDf: DataFrame,
                         evalSource0: String = "src0"): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    // ''-escaped before interpolation (review r20): a quote-bearing
    // source value would break — or rewrite — the generated SQL (the
    // Bm25Probe discipline)
    val evalSource = evalSource0.replace("'", "''")
    docsDf.createOrReplaceTempView("graft_deconb_docs")
    s.sql(
      s"""WITH sh AS (
            SELECT doc_id, source, explode(graft_shingles(text, 5)) AS g
            FROM graft_deconb_docs),
          ev AS (SELECT DISTINCT g FROM sh WHERE source = '$evalSource'),
          pre AS (
            SELECT doc_id, g FROM sh
            WHERE source <> '$evalSource'
              AND graft_bloom_contains(
                    (SELECT graft_bloom_agg(xxhash64(g), 65536, 1048576) FROM ev),
                    xxhash64(g))),
          hits AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM pre WHERE g IN (SELECT g FROM ev)
            GROUP BY doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_grams,
                 coalesce(hits.n, 0) > 0 AS contaminated
          FROM (SELECT doc_id FROM graft_deconb_docs
                WHERE source <> '$evalSource') d
          LEFT JOIN hits USING (doc_id)
          ORDER BY d.doc_id""")
  }

  /** MMR diversified rerank core (v_mmr_rerank): greedy maximal marginal
    * relevance over an exact top-`shortlist` cosine shortlist. Integer-unit
    * scoring end-to-end: rel_u / sim_u are 4-dp-floored cosines ×10⁴ as
    * BIGINT, score = 7·rel_u − 3·sim_u (λ = 0.7 ×10) — so selection,
    * tie-breaks (score desc, vec_id asc) and the emitted rows are exact
    * integer arithmetic both engines replay bit-for-bit.
    *
    * Scale shape: the corpus-sized work is the exact shortlist
    * (TakeOrderedAndProject over per-row graft_dot — linear, shuffle-free,
    * same as v_knn_probe); the greedy loop then runs entirely INSIDE one
    * packed row (collect_list of 50 structs ≈ 25 KB), unrolled at plan
    * time — k and the shortlist bound are plan constants, so the O(k·m)
    * selection never touches the cluster again. At serving scale the
    * shortlist would come from the IVF-PQ path (v_ivfpq_search) instead
    * of the exact scan; the rerank stage is identical.
    */
  def mmrRerank(s: SparkSession, embDf: DataFrame,
                k: Int = 10, shortlist: Int = MmrShortlist): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val e = embDf.filter(size(col("embedding")) === 64)
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>").as("q"))
    val short = e.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .join(broadcast(probe))
      .select(col("vec_id"), col("emb"),
        expr("sqrt(graft_dot(emb, emb))").as("nrm"),
        expr("sqrt(graft_dot(q, q))").as("qn"),
        expr("graft_dot(emb, q)").as("dq"))
      .filter(col("nrm") > 0 && col("qn") > 0)
      .select(col("vec_id"), col("emb"), col("nrm"),
        expr("CAST(floor((dq / (nrm * qn)) * 10000 + 0.5) AS BIGINT)").as("rel_u"))
      .orderBy(col("rel_u").desc, col("vec_id"))
      .limit(shortlist)
    // the greedy loop is ONE aggregate fold over the step sequence — a
    // fixed-size expression that iterates at runtime. (The unrolled
    // per-step withColumn formulation is a trap: CollapseProject inlines
    // each step's argmax into the next, and the plan grows exponentially
    // in k.) The argmax sub-expression appears textually a few times
    // (SQL lambdas have no let-binding); each evaluation is an O(m)
    // integer scan of the packed shortlist, so the recompute is noise.
    val bestOf = (cands: String) =>
      s"""aggregate($cands,
            CAST(NULL AS STRUCT<id: BIGINT, score: BIGINT, nrm: DOUBLE,
                                emb: ARRAY<DOUBLE>>),
            (a, c) -> CASE
              WHEN a IS NULL
                   OR (7 * c.rel - 3 * c.ms) > a.score
                   OR ((7 * c.rel - 3 * c.ms) = a.score AND c.id < a.id)
                THEN named_struct('id', c.id, 'score', 7 * c.rel - 3 * c.ms,
                                  'nrm', c.nrm, 'emb', c.emb)
              ELSE a END)"""
    val b = bestOf("acc.cands")
    short
      .agg(collect_list(struct(
        col("vec_id").as("id"), col("rel_u").as("rel"), lit(0L).as("ms"),
        col("nrm"), col("emb"))).as("cl"))
      .select(expr(
        s"""aggregate(sequence(1, $k),
              named_struct(
                'cands', cl,
                'out', CAST(array() AS
                  ARRAY<STRUCT<step: INT, vec_id: BIGINT, mmr_score: BIGINT>>)),
              (acc, t) -> named_struct(
                'cands', transform(
                  filter(acc.cands, c -> c.id != ($b).id),
                  c -> named_struct('id', c.id, 'rel', c.rel,
                    'ms', greatest(c.ms,
                      CAST(floor((graft_dot(c.emb, ($b).emb)
                                  / (c.nrm * ($b).nrm)) * 10000 + 0.5)
                           AS BIGINT)),
                    'nrm', c.nrm, 'emb', c.emb)),
                'out', concat(acc.out, array(named_struct(
                  'step', CAST(t AS INT), 'vec_id', ($b).id,
                  'mmr_score', ($b).score)))),
              acc -> acc.out)""").as("out"))
      .select(explode(col("out")).as("o"))
      // with fewer than k surviving candidates the fold's NULL init pick
      // still appended a (step, NULL, NULL) row per exhausted step, where
      // the oracle's per-step LIMIT 1 CTE emits nothing (review r20) —
      // drop the padding so both engines report the candidates they have
      .filter(col("o.vec_id").isNotNull)
      .select(col("o.step").as("step"), col("o.vec_id").as("vec_id"),
        col("o.mmr_score").as("mmr_score"))
      .orderBy("step")
  }

  /** DuckDB twin of [[mmrRerank]]: the greedy selection unrolled as a
    * k-step CTE chain (argmax via ORDER BY score DESC, id LIMIT 1; the
    * candidate set shrinks by the pick and re-maxes ms each step) —
    * identical integer-unit arithmetic, so the emitted rows hash-match.
    */
  private def mmrOracle(k: Int): String = {
    def simU(c: String, s: String) =
      s"""CAST(floor((list_sum(list_transform(range(1, 65),
             i -> $c.emb[i] * $s.emb[i])) / ($c.nrm * $s.nrm)) * 10000 + 0.5)
           AS BIGINT)"""
    val steps = (1 to k).map { t =>
      val sel =
        s"""s$t AS (SELECT id, 7 * rel - 3 * ms AS score, nrm, emb
                    FROM c${t - 1} ORDER BY score DESC, id LIMIT 1)"""
      val next =
        s"""c$t AS (SELECT c.id, c.rel, greatest(c.ms, ${simU("c", "s")}) AS ms,
                           c.nrm, c.emb
                    FROM c${t - 1} c CROSS JOIN s$t s WHERE c.id <> s.id)"""
      if (t < k) s"$sel,\n$next" else sel
    }.mkString(",\n")
    val union = (1 to k)
      .map(t => s"SELECT $t AS step, id AS vec_id, score AS mmr_score FROM s$t")
      .mkString("\n UNION ALL ")
    s"""WITH ex AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings WHERE len(embedding) = 64),
        q AS (SELECT emb AS qe FROM ex WHERE vec_id = 0),
        base AS (
          SELECT e.vec_id, e.emb,
                 sqrt(list_sum(list_transform(range(1, 65),
                   i -> e.emb[i] * e.emb[i]))) AS nrm,
                 list_sum(list_transform(range(1, 65),
                   i -> e.emb[i] * q.qe[i])) AS dq,
                 sqrt(list_sum(list_transform(range(1, 65),
                   i -> q.qe[i] * q.qe[i]))) AS qn
          FROM ex e CROSS JOIN q WHERE e.vec_id <> 0),
        short AS (
          SELECT vec_id, emb, nrm,
                 CAST(floor((dq / (nrm * qn)) * 10000 + 0.5) AS BIGINT) AS rel
          FROM base WHERE nrm > 0 AND qn > 0
          ORDER BY rel DESC, vec_id LIMIT $MmrShortlist),
        c0 AS (SELECT vec_id AS id, rel, CAST(0 AS BIGINT) AS ms, nrm, emb
               FROM short),
        $steps
        $union ORDER BY step"""
  }

  val queries: Seq[QueryDef] = Seq(
    // R19/R10 — MMR diversified rerank (the retrieval-serving stage after
    // ANN shortlisting: pure top-k returns near-duplicate neighbors; MMR
    // greedily trades relevance against similarity-to-already-selected,
    // λ = 0.7). Exact top-50 cosine shortlist (TakeOrderedAndProject,
    // linear, shuffle-free), then the greedy k=10 selection unrolled at
    // plan time inside ONE packed row — integer-unit scores replayed
    // exactly by a 10-step DuckDB CTE chain.
    QueryDef("v_mmr_rerank", (s, d) => mmrRerank(s, Tables.embeddings(s, d)),
      mmrOracle(10)),

    // R17/R18 — containment (asymmetric) near-dup: per doc, the max
    // fraction of its own 3-shingles appearing verbatim in any single
    // other doc — the quotation/subset detector symmetric Jaccard
    // structurally misses (see [[containmentStats]]; spec plants a
    // doc-inside-doc pair Jaccard scores < 0.5 but containment scores
    // 1.0). Oracled exactly: the oracle replays postings (on the gram
    // string where Spark uses its xxhash64 — the span-dedup trade),
    // the sorted cap-64 trim, pair counts, and the per-doc max.
    QueryDef("d_containment", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      containmentStats(Tables.documents(s, d))
    },
      // postings keyed by the gram string where Spark keys by its xxhash64
      // — equal results absent a 64-bit collision (the d_span_dedup trade)
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS g
           FROM toks WHERE len(t) >= 3),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
                FROM sh GROUP BY doc_id),
         post AS (
           SELECT g, list_sort(list(doc_id))[1:$ContainmentCap] AS ds
           FROM sh GROUP BY g HAVING count(*) > 1),
         pa AS (SELECT g, unnest(ds) AS da FROM post),
         pb AS (SELECT g, unnest(ds) AS db FROM post),
         pairs AS (
           SELECT pa.da, pb.db, CAST(count(*) AS BIGINT) AS shared
           FROM pa JOIN pb ON pa.g = pb.g AND pb.db > pa.da
           GROUP BY 1, 2),
         bi AS (
           SELECT da AS doc_id, shared FROM pairs
           UNION ALL
           SELECT db AS doc_id, shared FROM pairs),
         mx AS (SELECT doc_id, max(shared) AS max_shared FROM bi GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(sz.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(mx.max_shared, 0) AS BIGINT) AS max_shared,
                floor((CAST(coalesce(mx.max_shared, 0) AS DOUBLE)
                       / greatest(coalesce(sz.n_grams, 0), 1)) * 10000 + 0.5) / 10000
                  AS containment
         FROM documents d
           LEFT JOIN sz ON sz.doc_id = d.doc_id
           LEFT JOIN mx ON mx.doc_id = d.doc_id
         ORDER BY d.doc_id"""),

    // R20/R18 — bloom-prefiltered benchmark decontamination: the scale
    // form of t_decontaminate. The broadcast core ships the eval gram
    // STRINGS to every task (~30 bytes/gram — fine while the eval suite
    // is small, the reason t_decontaminate broadcasts it); this variant
    // ships a ~128 KB Bloom binary (1.2 bytes/gram at fpp 1%) built as a
    // scalar subquery over the eval grams, probes every training gram
    // with graft_bloom_contains BEFORE any join, and runs the exact
    // membership check only on the prefiltered survivors — at 100 TB the
    // gram-keyed exchange carries the ~contaminated sliver of the corpus
    // instead of every training gram, and the eval set can grow 1000×
    // before the bloom outgrows a broadcast. False positives only waste
    // prefilter rows (the exact semi join keeps semantics precise), so
    // the oracle is t_decontaminate's own SQL: result invariance, the
    // q_bloom_prefilter convention.
    QueryDef("t_decontaminate_bloom", (s, d) =>
      decontaminateBloom(s, Tables.documents(s, d)),
      // t_decontaminate's own oracle verbatim: the bloom is a prefilter,
      // the exact semi join behind it keeps the result identical
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id, source,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' ')))) AS g
           FROM toks WHERE len(t) >= 5),
         ev AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
         hits AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n
           FROM sh JOIN ev USING (g)
           WHERE source <> 'src0' GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(hits.n, 0) AS BIGINT) AS n_contaminated_grams,
                coalesce(hits.n, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits USING (doc_id)
         WHERE d.source <> 'src0' ORDER BY d.doc_id"""),

    // R4/§4 — runtime Bloom-filter join prefilter: the 100 TB semi-join
    // reduction. A selective dim predicate (one brand ⇒ ~5% of parts)
    // builds a Bloom filter over the surviving join keys as a SCALAR
    // SUBQUERY (one tiny job, result inlined into the fact scan's filter);
    // the fact table is probed with graft_bloom_contains BEFORE any
    // exchange, so at scale the shuffle moves ~5% of the fact rows instead
    // of all of them. Bloom false positives make the probe a prefilter,
    // not a join: the exact semi join behind it keeps the result precise,
    // which is why the oracle is the PLAIN semi-join SQL (result
    // invariance, the q_skew_salted_join convention). The two expressions
    // are Spark's own runtime-row-level-filter machinery
    // (BloomFilterAggregate / BloomFilterMightContain), which Spark ships
    // unregistered — GraftFunctions exposes them so query code can opt in
    // where the optimizer's InjectRuntimeFilter declines (e.g. below its
    // size thresholds, or on non-equi compositions). Both key sides hash
    // through xxhash64 on the same BIGINT type, so probe hashes agree
    // with build hashes; sizing (4096 items / 256 Kibit ⇒ fpp ≈ 2e-12 at
    // 96 keys) makes a planted false positive astronomically unlikely and
    // the plan deterministic in practice.
    QueryDef("q_bloom_prefilter", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      Tables.part(s, d).filter(col("p_brand") === "Brand#4")
        .select(col("p_partkey"))
        .createOrReplaceTempView("graft_bloom_dim")
      Tables.lineitem(s, d).createOrReplaceTempView("graft_bloom_fact")
      // revenue in per-row integer cents, summed exactly (r19): the old
      // sum-then-round drifted a cent at sf1 when the float sum's order
      // dependence landed on a .xx5 boundary (row 234: 8280522.46 vs
      // .47) — per-row floor(x*100+0.5) is a single deterministic double
      // op in both engines, and the BIGINT sum is order-free.
      s.sql(
        """SELECT l_partkey AS p_partkey,
                  CAST(count(*) AS BIGINT) AS n_ship,
                  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                      * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
                    AS revenue
           FROM graft_bloom_fact
           WHERE graft_bloom_contains(
                   (SELECT graft_bloom_agg(xxhash64(p_partkey), 4096, 262144)
                    FROM graft_bloom_dim),
                   xxhash64(l_partkey))
             AND l_partkey IN (SELECT p_partkey FROM graft_bloom_dim)
           GROUP BY l_partkey
           ORDER BY p_partkey""")
    },
      // the PLAIN exact semi join — the bloom is a prefilter, never a
      // semantics change (result invariance, q_skew_salted_join convention)
      """SELECT l_partkey AS p_partkey,
                CAST(count(*) AS BIGINT) AS n_ship,
                CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                    * 100 + 0.5) AS BIGINT)) AS BIGINT)
                  / 100.0 AS revenue
         FROM lineitem
         WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_brand = 'Brand#4')
         GROUP BY l_partkey
         ORDER BY p_partkey"""),

    // R17/R18 — content-defined-chunking (CDC) dedup: the variable-length
    // sibling of d_span_dedup. Fixed-width shingles miss duplication that
    // shifts by an edit; CDC cuts chunk boundaries where the CONTENT says
    // to (a rolling window hash hitting a mask), so a shared run of text
    // re-synchronizes to identical chunks even when its surrounding offsets
    // differ — the storage-dedup trick (LBFS/rsync lineage) applied to
    // corpus text. Boundary rule: cut after token j when the md5 of the
    // trailing 4-token window ends in a hex digit with its three low bits
    // zero (p = 1/8 ⇒ ~8-token expected chunks); a final cut always lands
    // at n, so every doc has ≥ 1 chunk. Chunk identity is the md5 of the
    // chunk text — identical hex in Spark and DuckDB, so the oracle
    // replays boundaries AND identities exactly (the t_rolling_fingerprint
    // convention). Shuffle shape is d_span_dedup's: Spark groups/joins on
    // the 64-bit xxhash64 of the chunk md5 — 8-byte keys, chunk strings
    // never move (the oracle groups on the md5 itself; equal results
    // absent a 64-bit collision, the documented span-dedup trade). All
    // boundary/identity work is per-row higher-order functions: the only
    // shuffles are the hash-keyed groupBys — linear at any scale.
    QueryDef("d_cdc_chunks", (s, d) => cdcChunkStats(Tables.documents(s, d)),
      // groups by the chunk md5 where Spark groups by its xxhash64 — equal
      // results absent a 64-bit collision (the d_span_dedup trade)
      """WITH toks AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS t FROM documents),
         c AS (
           SELECT doc_id, t,
                  list_concat(
                    CASE WHEN len(t) >= 5 THEN
                      list_filter(range(4, len(t)),
                        j -> substr(md5(array_to_string(t[j-3:j], ' ')), 32, 1)
                               IN ('0', '8'))
                    ELSE CAST([] AS BIGINT[]) END,
                    [len(t)]) AS cuts
           FROM toks),
         ch AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, len(cuts) + 1), k ->
                    md5(array_to_string(
                      t[(CASE WHEN k = 1 THEN 0 ELSE cuts[k-1] END) + 1 : cuts[k]],
                      ' ')))) AS chs
           FROM c),
         sp AS (SELECT doc_id, unnest(chs) AS g FROM ch),
         shared AS (SELECT g FROM sp GROUP BY g HAVING count(*) > 1),
         tot AS (SELECT doc_id, CAST(len(chs) AS BIGINT) AS n_chunks FROM ch),
         dup AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_chunks
           FROM sp JOIN shared USING (g) GROUP BY doc_id)
         SELECT tot.doc_id, tot.n_chunks,
                CAST(coalesce(dup.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
                floor((CAST(coalesce(dup.n_dup_chunks, 0) AS DOUBLE)
                       / greatest(tot.n_chunks, 1)) * 10000 + 0.5) / 10000
                  AS dup_chunk_frac
         FROM tot LEFT JOIN dup ON dup.doc_id = tot.doc_id
         ORDER BY tot.doc_id"""),

    // R20 — BPE merge-pair mining: the corpus-statistics pass one
    // iteration of byte-pair-encoding tokenizer training runs. Production
    // BPE counts adjacent-symbol pairs over the DISTINCT-word frequency
    // table, not the raw token stream — distinct words are orders of
    // magnitude fewer than tokens, so the expensive per-word pair
    // expansion touches each spelling once and rides the word's count as
    // a weight (the scale shape: one token-keyed shuffle to build the
    // vocab, then pair rows bounded by |vocab| × avg word length). Top-20
    // pairs by weighted count, ties broken by pair text — a total order,
    // so the LIMIT is deterministic across engines and partitionings.
    // (Within-word pairs only; no end-of-word marker — documented
    // simplification of the first merge step.)
    QueryDef("t_bpe_pairs", (s, d) => bpePairs(Tables.documents(s, d)),
      """WITH w AS (
           SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents),
         f AS (
           SELECT w, CAST(count(*) AS BIGINT) AS f
           FROM w WHERE len(w) > 0 GROUP BY w),
         p AS (
           SELECT unnest(list_transform(range(1, len(w)), i ->
                    substr(w, CAST(i AS INT), 1) || substr(w, CAST(i AS INT) + 1, 1)))
                    AS pair,
                  f
           FROM f WHERE len(w) >= 2)
         SELECT pair, CAST(sum(f) AS BIGINT) AS cnt
         FROM p GROUP BY pair
         ORDER BY cnt DESC, pair
         LIMIT 20""")
  )
}
