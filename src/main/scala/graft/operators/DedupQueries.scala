package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY.md §2.3 R17-R18): exact, hash-keyed,
  * n-gram-Jaccard near-dup, MinHash+LSH, SimHash.
  *
  * Scale design: exact dedup is one hash shuffle on the dedup key (or its
  * sha256, which doubles as the content address and keeps wide text out of
  * the shuffle). Near-dup never materializes the O(n²) pair space: MinHash
  * signatures band into (band, hash) keys, candidates are generated by a
  * shuffle on those keys (each bucket is tiny), and only candidates pay the
  * exact-Jaccard verification. That is the standard shingle→minhash→band→
  * bucket-join pipeline and it scales linearly in corpus size.
  */
object DedupQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.documents(s, d)

  /** Per-bucket candidate cap for the LSH/blocking paths: one boilerplate
    * mega-bucket (every doc sharing a band hash) would otherwise generate
    * O(bucket²) pairs. Buckets are cut deterministically (array_sort before
    * slice — collect_list order is not stable) so capped runs are
    * reproducible; below the cap results are identical to uncapped
    * (DedupSpec property test). SCALE.md names this the standard production
    * guard; real pipelines log the overflow count per key.
    */
  private[graft] val MegaBucketCap = 64

  /** Cap for the simhash 8-bit band buckets, which hold ~n/256 ordinary
    * members (minhash buckets are near-singleton by contrast): must sit
    * far above the healthy-bucket size so it only ever cuts degenerate
    * boilerplate — see the d_simhash_pairs comment. NOTE the explicit
    * trade every capped blocking scheme makes: the pigeonhole recall
    * guarantee holds for pairs whose agreeing bucket stays under the cap;
    * members ranked past it are sacrificed to bound the quadratic
    * pair-gen. At this corpus's scales no TRUE pair is affected (the
    * oracles would fail loudly if one were); at larger shards the dial is
    * wider bands, not a bigger cap.
    */
  private[operators] val SimHashBucketCap = 512

  /** Length-adaptive simhash candidate cut for a pair with token counts
    * (nA, nB): τ = min(15, 7 + ⌈24/√min(nA,nB)⌉), matching the 1/√n
    * per-bit vote noise — short docs put true near-dup pairs at hamming
    * 8-12 where a flat radius either misses them or quadruples verify
    * volume. Documented boundary values (pinned by DedupSpec so the
    * formula can't drift): 10 tokens ⇒ 15, 25 ⇒ 12, 100 ⇒ 10.
    */
  private[graft] def simhashTau(nA: Column, nB: Column): Column =
    least(lit(15L), lit(7L) + ceil(lit(24.0) / sqrt(least(nA, nB))))

  /** Core of `d_prefix_dedup`, reusable over any (doc_id, text) frame
    * (spec-tested on planted fixtures): members of every shared
    * first-`k`-token prefix group, keep-lowest-doc_id convention. Both the
    * groupBy and the join key on the prefix's xxhash64 — prefix strings
    * never shuffle.
    */
  private[graft] def prefixDedup(docsDf: DataFrame, k: Int): DataFrame = {
    val pre = docsDf.select(col("doc_id"),
      xxhash64(concat_ws(" ", slice(split(col("text"), " "), 1, k))).as("h"))
    val grp = pre.groupBy(col("h"))
      .agg(count(lit(1)).as("n_group"), min(col("doc_id")).as("keeper"))
      .filter(col("n_group") > 1)
    pre.join(grp, "h")
      .select(col("doc_id"), col("n_group"),
        (col("doc_id") === col("keeper")).as("keep"))
      .orderBy("doc_id")
  }

  /** Intra-bucket candidate-pair generation over (band, h, doc_id) rows,
    * with the mega-bucket guard applied: each bucket is cut to
    * [[MegaBucketCap]] members AFTER an array_sort (collect_list order is
    * not stable), so capped runs stay deterministic and the per-bucket pair
    * count is bounded by C(cap, 2) no matter how degenerate the bucket.
    * Below the cap the output is identical to the uncapped form
    * (DedupSpec property test).
    *
    * The cut is OBSERVABLE, not silent: the `minhash_bucket_overflow`
    * observation reports how many members the cap dropped and the largest
    * raw bucket seen, so a production run learns its recall guarantee was
    * voided (and by how much) from the query's observed metrics instead of
    * from missing pairs. Zero overhead on the healthy path — observe() is
    * an aggregate piggybacked on the pass the groupBy already makes.
    */
  private[graft] def bucketedCandidatePairs(banded: DataFrame): DataFrame =
    banded
      .groupBy(col("band"), col("h"))
      .agg(collect_list(col("doc_id")).as("ids0"))
      .observe("minhash_bucket_overflow",
        sum(greatest(size(col("ids0")) - MegaBucketCap, lit(0))).as("members_cut"),
        max(size(col("ids0"))).as("max_bucket"))
      .filter(size(col("ids0")) > 1)
      .select(col("band"), col("h"),
        slice(array_sort(col("ids0")), 1, MegaBucketCap).as("ids"))
      .select(explode(expr(
        """filter(flatten(transform(ids, x -> transform(ids, y -> struct(x AS doc_a, y AS doc_b)))),
                  p -> p.doc_a < p.doc_b)""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .dropDuplicates("doc_a", "doc_b")

  /** Verify candidate pairs with the exact distinct-3-shingle Jaccard,
    * keeping only pairs at ≥ 0.5. Shingles are computed in the corpus
    * projection each join side consumes — once per document per side —
    * NOT per pair (re-shingling a hot doc once per pair it appears in was
    * the round-4 regression this replaced). The expensive candidate
    * subtree is referenced exactly once, so it executes once and its plan
    * (native banding expressions) stays visible for the PlanSpec pins; a
    * candidates-only shingle prefilter would reference `cand` from three
    * places and recompute it, costing more than the two corpus passes it
    * saves.
    */
  private def verifyPairs(s: SparkSession, d: String, cand: DataFrame): DataFrame = {
    // ONE corpus shingle pass via a shared exchange: the explicit
    // repartition(doc_id) puts a shuffle directly above the scan→shingle
    // map stage, and since both join sides below consume THAT exchange
    // (the rename projects preserve doc_id partitioning alias-aware),
    // ReuseExchange executes the shingle pass once — the same discipline
    // as d_simhash_pairs' banded rows and d_source_overlap's postings.
    // This replaced a localCheckpoint (round 8): non-reliable storage on
    // a real cluster — an executor loss killed the query instead of
    // recomputing, and it materialized a corpus-sized projection outside
    // fault-tolerant lineage. Shuffle files recompute per-stage instead.
    // SORTED HASHED shingles (r11): the candidate join used to ship each
    // doc's string shingle array per pair — ~1.2 KB x2 per candidate at
    // ~700k candidates — and graft_jaccard hash-set every string per
    // pair. Hashing shingles to xxhash64 longs once per DOC and sorting
    // shrinks the per-pair exchange ~3x, and the sorted-long
    // graft_jaccard form merge-intersects with zero per-pair allocation.
    // Set semantics are preserved (the merge dedups inline); a cross-doc
    // hash collision could only inflate one pair's intersection
    // (p ~ shingles²/2⁶⁴) and would fail the string-exact DuckDB oracle
    // loudly — the sweep at three SFs pins collision-freedom on this data.
    val sh = docs(s, d).select(col("doc_id"),
        array_sort(expr("transform(graft_shingles(text, 3), g -> xxhash64(g))")).as("sh"))
      .repartition(col("doc_id"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        floorRound(expr("graft_jaccard(sh_a, sh_b)"), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Exact token-Jaccard between each adjacent doc pair (the oracle-able
    * near-dup slice shared by d_jaccard_pairs and d_dedup_cluster).
    *
    * ONE self-join on the doc_id+1 equi key; intersection/union sizes come
    * from codegen'd array_intersect/size on the distinct-token arrays, so
    * there is no explode, no per-token shuffle, and no aggregation at all —
    * the single shuffle carries one token array per document. (Round-2
    * history: an exploded (tok, doc_id+1) self-join cost two extra
    * aggregation stages; a posting-list formulation was rejected outright —
    * with hot tokens in ~80% of docs it degenerates to Σ|posting|² work on
    * 31 skewed groups.) Pairs with zero overlap are dropped, matching the
    * exploded formulation's inner-join semantics.
    */
  private[operators] def adjacentJaccard(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d).select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    t.as("a")
      .join(t.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        size(array_intersect(col("a.toks"), col("b.toks"))).as("i"),
        (size(col("a.toks")) + size(col("b.toks"))).as("n_sum"))
      .filter(col("i") > 0)
      .select(
        col("doc_a"),
        col("doc_b"),
        floorRound(col("i").cast("double") / (col("n_sum") - col("i")), 4)
          .as("jaccard"))
  }

  /** The two-level overflow-recovery stage of `d_simhash_pairs` (r14;
    * WIDENED r20), factored for direct spec drive (Round14Spec plants
    * hand-built signature rows — band bytes fully controlled). `ranked`
    * carries (doc_id, sh, n, m, band, h, __sz).
    *
    * r20 scale fix — the banding adjustment the L1 cap comment always
    * prescribed, now implemented and measured: the r14 recovery re-keyed
    * overflow members by the single (band, h, NEXT-band byte) composite,
    * which recovers a pair only when its flooded band's cyclic successor
    * is also clean. The 500k-doc sf10 probe measured the cost of that
    * narrowness: 591 of 25,600 true pairs lost (2.3%) with every L1
    * bucket over cap (≈2,000 members vs 512 — 8-bit keys give only 256
    * buckets/band, so occupancy scales linearly with corpus size).
    * WIDENED scheme: every doc touching an overflowed L1 bucket emits its
    * 28 C(8,2) WIDE-BAND keys — the (bandLo, bandHi, byteLo, byteHi)
    * 16-bit composites — so a pair survives L1 overflow iff it has ANY
    * TWO clean bands (vs: two cyclically-ADJACENT clean bands). Wide
    * buckets have 65,536 keys per band pair: occupancy stays ≲ cap up to
    * ~33M docs/shard, two decades past the L1 cliff; past that the L2 cap
    * binds and the residual is again OBSERVED, not silent
    * (`simhash_bucket_overflow_l2`). Pairs whose every agreeing band pair
    * involves a flooded byte remain the honest residual. Cost is sized by
    * the overflow mass only (zero rows on a healthy corpus); extra
    * candidates can never add false pairs — the exact verify gates
    * everything.
    * Returns (doc_a, doc_b) candidates for the exact verify.
    */
  private[graft] def simhashOverflowCandidates(ranked: DataFrame,
                                               cap: Int,
                                               l2Cap0: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Wide buckets are 256× finer than L1, so their cap can be higher at
    // the same worst-case join cost; callers pass l2Cap (d_simhash_pairs
    // uses 4×cap — measured at sf10 to claw back L2-cap losses) or leave
    // 0 to inherit `cap` (the spec fixtures pin the residual semantics
    // at the tight cap).
    val l2Cap = if (l2Cap0 > 0) l2Cap0 else cap
    // distinct docs involved in ANY overflowed L1 bucket — membership in
    // one flooded bucket is what voids the L1 pigeonhole for this doc
    val overDocs = ranked.filter(col("__sz") > cap)
      .select(col("doc_id"), col("sh"), col("n"), col("m"))
      .dropDuplicates("doc_id")
    val wide = overDocs.select(col("doc_id"), col("sh"), col("n"), col("m"),
      explode(expr(
        """flatten(transform(sequence(0, 6), lo ->
             transform(sequence(lo + 1, 7), hi ->
               struct(lo AS blo, hi AS bhi,
                 shiftrightunsigned(sh, lo * 8) & 255L AS hlo,
                 shiftrightunsigned(sh, hi * 8) & 255L AS hhi))))""")).as("wk"))
      .select(col("doc_id"), col("sh"), col("n"), col("m"),
        col("wk.blo"), col("wk.bhi"), col("wk.hlo"), col("wk.hhi"))
    val wB2 = Window.partitionBy(col("blo"), col("bhi"), col("hlo"), col("hhi"))
      .orderBy(col("doc_id"))
    val over2 = wide
      .withColumn("__r2", row_number().over(wB2))
      .observe("simhash_bucket_overflow_l2",
        sum(when(col("__r2") > l2Cap, 1L).otherwise(0L)).as("members_cut"),
        max(col("__r2")).as("max_bucket"))
      .filter(col("__r2") <= l2Cap)
      .drop("__r2")
    val tauOver = simhashTau(col("a.n"), col("b.n"))
    over2.as("a")
      .join(over2.as("b"),
        col("a.blo") === col("b.blo") && col("a.bhi") === col("b.bhi") &&
          col("a.hlo") === col("b.hlo") && col("a.hhi") === col("b.hhi") &&
          col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= tauOver &&
          lit(2) * least(col("a.m"), col("b.m")) >= greatest(col("a.m"), col("b.m")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private val NearDupTruthSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       sh AS (
         SELECT doc_id,
                unnest(list_distinct(list_transform(
                  range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS s
         FROM toks WHERE len(t) >= 3),
       sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS i
         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 AS jaccard
       FROM inter
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
       WHERE floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.5
       ORDER BY doc_a, doc_b"""

  /** d_minhash_lsh: the verified MinHash-LSH near-duplicate pair set;
    * also the near-dup drop of the corpus-build capstones. */
  def minhashLshPairs(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val base = docs(s, d)
      .select(col("doc_id"), shingles("text", 3).as("sh"))
      .filter(size(col("sh")) > 0)
    // Candidate generation in ONE pass: shingle+sign the corpus once,
    // shuffle slim (band, h, doc_id) rows, and emit intra-bucket pairs
    // from each bucket's collected id list — no self-join, so the
    // signature scan is never recomputed. Buckets are near-singleton for
    // non-dups, so the per-bucket pair expansion stays tiny; a skewed
    // bucket (boilerplate dups) is capped by the same m² it would cost in
    // any LSH formulation.
    val banded = base
      .withColumn("sig", expr("graft_minhash(sh)")) // native: one hash pass + k multiply-adds
      .select(col("doc_id"), explode(minhashBands("sig", 8, 4)).as("band"))
      .select(col("doc_id"), col("band.band"), col("band.h"))
    val cand = bucketedCandidatePairs(banded)
    // Verification: shingle only the docs candidates touch, once each
    // (verifyPairs), never the whole corpus a second time.
    verifyPairs(s, d, cand).orderBy("doc_a", "doc_b")
  }

  val queries: Seq[QueryDef] = Seq(
    // R17 — exact dedup: canonical survivor per identical text (min doc_id,
    // deterministic). One shuffle on the dedup key.
    QueryDef("d_dedup_exact", (s, d) =>
      docs(s, d)
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"), length(col("text")).as("text_len"))
        .orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies,
                CAST(length(text) AS INT) AS text_len
         FROM documents GROUP BY text ORDER BY doc_id"""),

    // R17 at scale — dedup keyed on the sha256 content address instead of
    // the full text: the shuffle carries 32 bytes per row, not the document.
    QueryDef("d_dedup_hash", (s, d) =>
      docs(s, d)
        .groupBy(sha256Hex(col("text")).as("content_sha"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("content_sha"), col("n_copies"))
        .orderBy("doc_id"),
      """SELECT min(doc_id) AS doc_id, sha256(text) AS content_sha,
                CAST(count(*) AS BIGINT) AS n_copies
         FROM documents GROUP BY sha256(text) ORDER BY doc_id"""),

    // R18 — exact n-gram Jaccard between adjacent doc pairs: the
    // SQL-expressible (oracle-able) slice of near-dup detection. The join is
    // equi on (token, doc_id+1) — no cross product.
    QueryDef("d_jaccard_pairs", (s, d) => adjacentJaccard(s, d).orderBy("doc_a"),
      """WITH tok AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, CAST(count(*) AS BIGINT) AS i
           FROM tok a JOIN tok b ON a.tok = b.tok AND b.doc_id = a.doc_id + 1
           GROUP BY a.doc_id)
         SELECT doc_a, doc_a + 1 AS doc_b,
                floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 AS jaccard
         FROM inter
           JOIN sz sa ON sa.doc_id = doc_a
           JOIN sz sb ON sb.doc_id = doc_a + 1
         ORDER BY doc_a"""),

    // R17/R18 — dedup clustering: connected components over the near-dup
    // edge set (adjacent-pair Jaccard ≥ 0.5), each doc labeled with its
    // component's min doc_id and the component size — the "keep one
    // representative per duplicate cluster" primitive every training-data
    // dedup pass ends with.
    //
    // Scale design: distributed min-label propagation — per iteration one
    // join of the (tiny) edge list against labels and a min-aggregate, i.e.
    // a label-sized shuffle, never an n² structure. Duplicate clusters are
    // short chains, so convergence is a handful of iterations; for
    // adversarially long chains the same loop upgrades to pointer-jumping
    // (label ← label-of-label) for O(log n) rounds. The convergence check
    // is one aggregate per iteration (driver-side scalar, not collected data).
    QueryDef("d_dedup_cluster", (s, d) => {
      // Components run on the EDGE SUBGRAPH only (graft.operators.
      // ConnectedComponents: min-label propagation + pointer jumping,
      // O(log chain) rounds): a doc with no near-dup edge is its own
      // singleton cluster and never enters the loop, so iteration cost
      // tracks duplicates found, not corpus size — the property that keeps
      // this viable at 100 TB.
      val edges = adjacentJaccard(s, d).filter(col("jaccard") >= 0.5)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val labels = ConnectedComponents.ofEdges(edges)
      val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
      val clustered = labels.join(sizes, "label")
        .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
      // left-join the clustered minority back onto the corpus; everything
      // unmatched is a singleton
      docs(s, d).select(col("doc_id"))
        .join(clustered, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
        .orderBy("doc_id")
    },
      // Edges only link consecutive doc_ids, so components are maximal runs
      // of edge-connected consecutive ids: a running max over "run starts"
      // reproduces min-label propagation exactly.
      """WITH tok AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS doc_a, CAST(count(*) AS BIGINT) AS i
           FROM tok a JOIN tok b ON a.tok = b.tok AND b.doc_id = a.doc_id + 1
           GROUP BY a.doc_id),
         edge AS (
           SELECT doc_a FROM inter
             JOIN sz sa ON sa.doc_id = doc_a
             JOIN sz sb ON sb.doc_id = doc_a + 1
           WHERE floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 >= 0.5),
         marks AS (
           SELECT d.doc_id,
                  CASE WHEN e.doc_a IS NULL THEN d.doc_id END AS start_id
           FROM documents d LEFT JOIN edge e ON e.doc_a = d.doc_id - 1),
         comp AS (
           SELECT doc_id,
                  max(start_id) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cluster_id
           FROM marks)
         SELECT doc_id, cluster_id,
                CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         FROM comp ORDER BY doc_id"""),

    // R18 — MinHash + LSH near-dup pairs: shingle(3) → 32-hash signature →
    // 8 bands of 4 → explode band keys → self-join per bucket → exact
    // Jaccard verification on candidates only. Oracled against the DuckDB
    // all-pairs shingle-Jaccard ≥ 0.5 ground truth: candidates are verified
    // with the exact Jaccard, so the outputs can only differ from the truth
    // by LSH recall misses — the oracle therefore checks candidate recall
    // itself (planted near-dups sit at J ≥ 0.9 where the 8×4 banding's miss
    // probability is ~2e-4 per pair, and the data is fixed).
    // R17/R18 — exact duplicated-SPAN detection, the substring-granular
    // dedup pass (Lee et al., "Deduplicating Training Data Makes Language
    // Models Better": long verbatim spans repeated across documents are
    // memorization fuel even when the documents themselves are not
    // near-dups, so pipelines count/excise repeated spans, not just dup
    // docs). A span = an 8-token shingle; a doc's span is "duplicated"
    // when any OTHER doc carries it verbatim (shingles are per-doc
    // distinct, so a gram's row count IS its doc count). Shuffle shape is
    // the 100 TB one: every groupBy/join keys on the 64-bit xxhash64 of
    // the span — the span STRINGS never shuffle. A hash collision would
    // merge two spans (~n²/2⁶⁴ odds) and surface as an oracle mismatch,
    // the standard accepted trade for hashed-key span dedup.
    QueryDef("d_span_dedup", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val spans = docs(s, d)
        .select(col("doc_id"), explode(shingles("text", 8)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
      val shared = spans.groupBy(col("h"))
        .agg(count(lit(1)).as("nd")).filter(col("nd") > 1)
      val tot = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_spans"))
      val dup = spans.join(shared.select(col("h")), Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("long").as("n_dup_spans"))
      docs(s, d).select(col("doc_id"))
        .join(tot, Seq("doc_id"), "left_outer")
        .join(dup, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
          floorRound(coalesce(col("n_dup_spans"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_spans"), lit(0L)), lit(1L)), 4)
            .as("dup_span_frac"))
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' ')))) AS g
           FROM toks WHERE len(t) >= 8),
         tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM sh GROUP BY doc_id),
         shared AS (SELECT g FROM sh GROUP BY g HAVING count(*) > 1),
         dup AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_spans
           FROM sh JOIN shared USING (g) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(tot.n_spans, 0) AS BIGINT) AS n_spans,
                CAST(coalesce(dup.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
                floor((CAST(coalesce(dup.n_dup_spans, 0) AS DOUBLE)
                       / greatest(coalesce(tot.n_spans, 0), 1)) * 10000 + 0.5) / 10000
                  AS dup_span_frac
         FROM documents d
           LEFT JOIN tot ON tot.doc_id = d.doc_id
           LEFT JOIN dup ON dup.doc_id = d.doc_id
         ORDER BY d.doc_id"""),

    // R17 — PREFIX-FINGERPRINT dedup (the boilerplate-head blocking trick:
    // crawl corpora carry families of docs sharing an identical opening —
    // templates, mirrors, licence headers — and grouping on the first-k
    // tokens is the cheap first-pass blocker before any similarity work).
    // Emits every member of a shared-prefix group (size > 1) with the
    // keep-lowest-doc_id convention the other dedup ops use. Shuffle shape
    // is the span-dedup one: both the groupBy and the join key on the
    // 64-bit xxhash64 of the prefix, so prefix STRINGS never move — 8-byte
    // keys at any scale (hash-collision trade documented at d_span_dedup).
    QueryDef("d_prefix_dedup", (s, d) => prefixDedup(docs(s, d), k = 3),
      // groups by the raw prefix string where Spark groups by its xxhash64 —
      // equal results absent a 64-bit collision (see the def's provenance note)
      """WITH p AS (
           SELECT doc_id,
                  array_to_string(string_split(text, ' ')[1:3], ' ') AS pre
           FROM documents),
         g AS (
           SELECT pre, CAST(count(*) AS BIGINT) AS n_group,
                  min(doc_id) AS keeper
           FROM p GROUP BY pre HAVING count(*) > 1)
         SELECT p.doc_id, g.n_group, p.doc_id = g.keeper AS keep
         FROM p JOIN g USING (pre) ORDER BY p.doc_id"""),

    // ORACLE-EQUALITY PRECONDITION (this query and both corpus-build
    // capstones that compose it): the DuckDB oracle recomputes exact
    // all-pairs Jaccard ground truth, but 8-band × 4-row LSH is
    // probabilistic — P(candidate) = 1 − (1 − J⁴)⁸ is only ~0.40 at
    // J = 0.5 and ~0.72 at J = 0.6, reaching ~0.99 at J ≥ 0.8. Hash
    // equality against the exact oracle therefore relies on the corpus's
    // true pairs sitting WELL above the 0.5 report threshold (this
    // testdata's planted near-dups are J ≥ 0.9, where the miss
    // probability is < 1e-5 per pair). DedupSpec's exact-recall test
    // pins the precondition at sf0.001: a future scale factor that
    // plants a near-threshold pair in the [0.5, 0.6) S-curve foot fails
    // THERE with a recall message, not as an opaque capstone hash
    // mismatch. At 100 TB the same property is engineered, not assumed:
    // band/row counts are chosen so the S-curve midpoint sits below the
    // dedup threshold (more bands ⇒ foot moves left), and the miss rate
    // at the threshold is the published recall guarantee.
    QueryDef("d_minhash_lsh", minhashLshPairs,
      // Shared ground truth for both near-dup candidate generators
      // (d_minhash_lsh, d_simhash_pairs): ALL pairs with distinct-3-shingle
      // Jaccard ≥ 0.5, via a posting-list join on shingles (only pairs with
      // nonzero intersection materialize). Because the Spark queries verify
      // every candidate with the same exact Jaccard before emitting, any
      // divergence from this oracle is a candidate-recall miss — the oracle
      // tests the LSH banding / multi-band blocking end-to-end.
      NearDupTruthSql),

    // R18 — SimHash signatures (64-bit), oracled as a dual-implementation
    // consistency check: the native one-pass SimHashSig expression is
    // recomputed independently through Spark built-ins (a HOF that
    // re-aggregates xxhash64 bit votes per bit position) and the equality
    // is emitted as a hashable boolean alongside the DuckDB-derivable token
    // count. A regression in either implementation (vote tie-breaks, bit
    // order, hash seed) flips the boolean and fails the oracle. The raw
    // signatures and the 16-bit blocking prefix stay spec-tested in
    // DedupSpec; they are hash-valued and so not oracle-able directly.
    QueryDef("d_simhash", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          simhash("toks").as("sig_native"),
          // independent formulation: per bit b, majority vote over token
          // hashes (2·count(set) > n), assembled with shiftleft/bitwise-or
          expr(
            """aggregate(sequence(0, 63), 0L, (acc, b) -> acc |
                 IF(2 * aggregate(toks, 0, (a, t) ->
                      a + IF((shiftrightunsigned(xxhash64(t), b) & 1) = 1, 1, 0)) > size(toks),
                    shiftleft(1L, b), 0L))""").as("sig_hof"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sig_native") === col("sig_hof")).as("native_eq_hof"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                TRUE AS native_eq_hof
         FROM documents ORDER BY doc_id"""),

    // R18 — corpus-overlap between sources via group-level MinHash union
    // (graft.plans.MinHashUnionAgg): element-wise min of per-doc signatures
    // gives each source's shingle-UNION signature without materializing it;
    // signature agreement estimates cross-source Jaccard. Constant 20
    // sources ⇒ the pair table is bounded at any corpus size; per-source
    // state is one k-long sketch (map-side partial aggregation).
    //
    // Oracled as sketch-vs-exact: the exact cross-source shingle Jaccard is
    // computed alongside (DuckDB derives it independently) and the sketch
    // estimate is emitted only as a |est − exact| ≤ 0.15 bound boolean —
    // the estimate itself is hash-valued and stays out of the hashed
    // columns. The sketch is k=128 (NOT the LSH default 32): the MinHash
    // estimator's σ = √(J(1−J)/k) is ~0.077 at k=32 for the J≈0.25 pairs
    // this corpus has, and a measured 3.3σ deviation (0.255, sf0.1) broke
    // the 0.15 bound — at k=128, σ ≈ 0.038 puts the bound at ~4σ across
    // all 190 pairs at every tested SF. Width costs only the multiply-add
    // loop (one string hash per shingle either way). The exact side is a
    // per-(source, shingle)-distinct posting join: with a bounded source
    // count the per-shingle fanout is ≤ C(20,2), so it stays linear in
    // corpus size — affordable as the audit twin of the sketch path, which
    // remains the 100 TB form.
    QueryDef("d_source_overlap", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val base = docs(s, d)
        .select(col("source"), shingles("text", 3).as("sh"))
        .filter(size(col("sh")) > 0)
      // ONE corpus pass: explode to (source-bit, shingle) postings and key
      // each distinct shingle with the OR of its sources' bits. Both the
      // sketch branch and the exact branch consume THIS aggregate, and both
      // consume its full (s, mask) output, so the posting shuffle is one
      // reused exchange — the round-8 replacement for a localCheckpoint'ed
      // per-doc signature pass (non-reliable storage on a real cluster;
      // an executor loss killed the query instead of recomputing).
      val shingleMasks = base
        .select(expr("cast(regexp_replace(source, '[^0-9]', '') as int)").as("b"),
          explode(col("sh")).as("s"))
        .groupBy(col("s"))
        .agg(expr("bit_or(shiftleft(1L, b))").as("mask"))
      // Sketch side, derived from the SAME distinct postings: min over a
      // shingle's 128 permutation hashes is idempotent across duplicate
      // occurrences, so the per-source union of per-DOC signatures equals
      // the union of single-shingle signatures over the source's DISTINCT
      // shingles — bit-identical estimate, strictly fewer string hashes
      // (one per distinct shingle, not one per occurrence).
      val sigs = shingleMasks
        .select(expr("graft_minhash(array(s), 128)").as("sig1"), explode(expr(
          "filter(sequence(0, 19), i -> shiftright(mask, i) % 2 != 0)")).as("b"))
        .groupBy(col("b"))
        .agg(expr("graft_minhash_union(sig1, 128)").as("gsig"))
        .select(concat(lit("src"), col("b")).as("source"), col("gsig"))
      val est = sigs.as("a").join(sigs.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          expr(
            """aggregate(zip_with(a.gsig, b.gsig,
                 (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),
               0, (acc, v) -> acc + v) / CAST(size(a.gsig) AS DOUBLE)""").as("est_jaccard"))
      // Exact side via per-shingle source BITMASKS instead of a posting-list
      // self-join: collapse the mask table to (mask → shingle count) — a
      // tiny table — and pair intersections fall out of the set bits. The
      // shuffle carries one (shingle, mask) row per distinct shingle and
      // never self-joins the vocabulary; with k sources the pair fanout is
      // C(k,2) on a mask-count table, independent of corpus size.
      val masks = shingleMasks.groupBy(col("mask")).agg(count(lit(1)).as("c"))
      val pairCounts = masks.select(col("c"), explode(expr(
          """flatten(transform(filter(sequence(0, 19), i -> shiftright(mask, i) % 2 != 0),
               i -> transform(filter(sequence(0, 19), j -> j > i AND shiftright(mask, j) % 2 != 0),
                 j -> struct(i AS bi, j AS bj))))""")).as("p"))
        .groupBy(col("p.bi"), col("p.bj")).agg(sum(col("c")).as("i"))
        // pair orientation must match the est side's STRING comparison
        // ("src10" < "src2" lexicographically), not the numeric bit order
        .select(
          least(concat(lit("src"), col("bi")), concat(lit("src"), col("bj"))).as("source_a"),
          greatest(concat(lit("src"), col("bi")), concat(lit("src"), col("bj"))).as("source_b"),
          col("i"))
      val sz = masks.select(col("c"), explode(expr(
          "filter(sequence(0, 19), i -> shiftright(mask, i) % 2 != 0)")).as("b"))
        .groupBy(col("b")).agg(sum(col("c")).as("n"))
        .select(concat(lit("src"), col("b")).as("source"), col("n"))
      val exact = pairCounts
        .join(sz.select(col("source").as("source_a"), col("n").as("na")), "source_a")
        .join(sz.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
        .select(col("source_a"), col("source_b"),
          (col("i").cast("double") / (col("na") + col("nb") - col("i"))).as("exact_j"))
      est.join(exact, Seq("source_a", "source_b"))
        .select(col("source_a"), col("source_b"),
          floorRound(col("exact_j"), 4).as("exact_jaccard"),
          (abs(col("est_jaccard") - col("exact_j")) <= 0.15).as("est_within_015"))
        .orderBy("source_a", "source_b")
    },
      """WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents),
         sh AS (
           SELECT DISTINCT source,
                  unnest(list_distinct(list_transform(
                    range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS s
           FROM toks WHERE len(t) >= 3),
         sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
         inter AS (
           SELECT a.source AS source_a, b.source AS source_b,
                  CAST(count(*) AS BIGINT) AS i
           FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
           GROUP BY 1, 2)
         SELECT source_a, source_b,
                floor((CAST(i AS DOUBLE) / (sa.n + sb.n - i)) * 10000 + 0.5) / 10000 AS exact_jaccard,
                TRUE AS est_within_015
         FROM inter
           JOIN sz sa ON sa.source = source_a
           JOIN sz sb ON sb.source = source_b
         ORDER BY source_a, source_b"""),

    // R18 — SimHash near-dup pairs via multi-band blocking (Manku/Google
    // simhash dedup): split the 64-bit signature into 8 bands of 8 bits,
    // block on each (band, bits) key, and MULTIPROBE each band key's
    // hamming-1 neighborhood (home + all 8 one-bit flips, the annLshBest
    // pattern). Pigeonhole over probed bands: a pair is missed only when
    // EVERY band differs in ≥ 2 bits, so candidate recall is deterministic
    // out to hamming 15 — not probabilistic. (The round-3 single
    // 16-bit-prefix block missed 13 of the 25 planted pairs; plain radius-7
    // banding missed a TRUE J=0.89 pair at sf0.001 — 10-token docs make
    // the per-bit majority votes noisy, so even high-Jaccard pairs land at
    // hamming 8-12.) The candidate cut is LENGTH-ADAPTIVE, matching how
    // the noise actually scales: per-bit vote error ∝ 1/√tokens, so the
    // cut is τ = min(15, 7 + ⌈24/√min_tokens⌉) — 15 for 10-token docs,
    // 12 at 25 tokens, 10 at 100. Measured truth spread (sf0.001-0.1):
    // every J ≥ 0.5 pair sits ≥ 3 below its τ (worst: hamming 12 at 10
    // tokens vs τ=15; hamming 9 at 25 tokens vs τ=12), while a flat cut
    // either misses true pairs (7) or quadruples verification volume
    // (15: 3.2M candidates at sf0.1 vs ~0.7M adaptive). τ never exceeds
    // the blocking's guaranteed radius, so the cut — not the blocking —
    // decides recall. Candidates are verified with the exact
    // shingle-Jaccard and filtered at ≥ 0.5, which makes the output the
    // same ground truth d_minhash_lsh targets — so the DuckDB all-pairs
    // oracle checks this blocking path's recall end-to-end too.
    QueryDef("d_simhash_pairs", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      val sigs = docs(s, d)
        .select(col("doc_id"), simhash("split(text, ' ')").as("sh"),
          size(split(col("text"), " ")).as("n"), // token count drives the adaptive cut
          // distinct 3-shingle count for the size prefilter: J ≥ 0.5 forces
          // i ≥ (|Sa|+|Sb|)/3 and i ≤ min, hence 2·min(|Sa|,|Sb|) ≥
          // max(|Sa|,|Sb|) — an EXACT necessary condition on the same
          // shingle sets verifyPairs measures, so the prefilter can only
          // drop pairs the verify would drop anyway (cuts verify volume,
          // never recall)
          size(shingles("text", 3)).as("m"))
      // Banded rows are NOT materialized: both consumers below (the capped
      // member build side and the multiprobe side) shuffle on (band, h)
      // first, so ReuseExchange dedupes the scan→simhash→explode map stage
      // — one execution, no storage. A localCheckpoint here (pre-round-8)
      // was cheap on local[32] but non-reliable on a real cluster: any
      // executor loss kills the query instead of recomputing (SCALE.md
      // near-dup section).
      val banded = sigs.select(col("doc_id"), col("sh"), col("n"), col("m"), explode(expr(
          "transform(sequence(0, 7), b -> struct(b AS band, (shiftrightunsigned(sh, b * 8) & 255L) AS h))")).as("bk"))
        .select(col("doc_id"), col("sh"), col("n"), col("m"), col("bk.band"), col("bk.h"))
      // Mega-bucket guard with a HIGHER cap than the minhash path: simhash
      // bits are CORRELATED on same-distribution text (some hyperplane
      // votes are near-unanimous), so 8-bit band buckets are skewed —
      // measured at sf0.1: top bucket 1460 of 5000 docs, 141 buckets > 64.
      // A 64-cap would truncate healthy buckets and void the pigeonhole
      // recall guarantee; 512 cuts only the degenerate boilerplate mass
      // (12 buckets at sf0.1). Past ~100k docs/shard the remedy is
      // widening the bands, not raising the cap — implemented (r20) as
      // the wide-band L2 below, measured at the 500k-doc sf10 probe.
      // Membership is capped by doc_id rank per bucket — deterministic,
      // one keyed window over slim rows (partitioned by bucket, never
      // global).
      val wB = Window.partitionBy(col("band"), col("h")).orderBy(col("doc_id"))
      // overflow is observed, not silent: members ranked past the cap are
      // counted into the query's observed metrics (zero on a healthy
      // corpus), so a shard whose buckets outgrew the cap reports the
      // recall-guarantee loss instead of quietly missing pairs. Bucket
      // size rides along (same partitioning as the rank window — one
      // exchange serves both) to route overflowing buckets into the
      // two-level recovery below.
      val ranked = banded
        .withColumn("__r", row_number().over(wB))
        .withColumn("__sz",
          count(lit(1)).over(Window.partitionBy(col("band"), col("h"))))
      val members = ranked
        .observe("simhash_bucket_overflow",
          sum(when(col("__r") > SimHashBucketCap, 1L).otherwise(0L)).as("members_cut"),
          max(col("__r")).as("max_bucket"))
        .filter(col("__r") <= SimHashBucketCap)
        .drop("__r", "__sz")
      // DIRECTION-CANONICAL hamming-1 multiprobe on the 8-bit band key
      // (r11, replacing all-8-flips probing): each capped member probes
      // its home bucket plus only the flips that CLEAR a set bit — if two
      // keys differ in exactly bit f, precisely one of them has f set and
      // its downward flip reaches the other's home, so one direction
      // covers every hamming-1 pair. Probe rows drop from 9 to
      // 1 + popcount(h) ≈ 5 per member-band (the candidate-bucket
      // exchange was the suite's #1 cost for three rounds). The home key
      // rides along so home-bucket matches can keep the old a<b dedup
      // (flip matches arrive in whichever direction the set bit dictates
      // and are canonicalized below).
      val probes = members.select(col("doc_id"), col("sh"), col("n"), col("m"),
        col("band"), col("h").as("home"),
        explode(expr(
          """concat(array(h),
               transform(filter(sequence(0, 7), f -> (h & shiftleft(1L, f)) != 0),
                         f -> h ^ shiftleft(1L, f)))""")).as("ph"))
      // Pair generation as a codegen'd equi-join on (band, probed key)
      // with the adaptive hamming cut evaluated inline (bit_count on two
      // longs + the τ(min_tokens) formula) — the collect_list + nested-HOF
      // expansion allocated |bucket|² structs through interpreted lambdas
      // and was 3× slower on the skewed buckets this corpus actually has.
      val tau = simhashTau(col("a.n"), col("b.n"))
      val cand = probes.as("a")
        .join(members.as("b"),
          col("a.band") === col("b.band") && col("a.ph") === col("b.h") &&
            col("a.doc_id") =!= col("b.doc_id") &&
            // home probes pair each bucket once (a<b); flip probes run
            // one-directional already, so only self-pairing is excluded
            (col("a.doc_id") < col("b.doc_id") || col("a.ph") =!= col("a.home")) &&
            bit_count(col("a.sh").bitwiseXOR(col("b.sh"))) <= tau &&
            // exact-safe size prefilter (see sigs): J ≥ 0.5 is impossible
            // when the smaller shingle set is under half the larger
            lit(2) * least(col("a.m"), col("b.m")) >= greatest(col("a.m"), col("b.m")))
        .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
          greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      // TWO-LEVEL OVERFLOW RECOVERY (r14, WIDENED r20 — see
      // simhashOverflowCandidates' scaladoc for the measured sf10
      // motivation): docs touching an overflowed bucket re-pair under
      // the 28 C(8,2) wide-band 16-bit composites, so a pair survives
      // any L1 overflow iff it has ANY TWO clean bands; pairs whose
      // every agreeing band pair is flooded remain the observed-metric
      // residual (the honest cap semantics). Extra candidates can never
      // add false pairs — verifyPairs is exact — so gate-SF outputs are
      // unchanged; the recovery join is sized by the overflow mass only
      // (zero rows on a healthy corpus).
      verifyPairs(s, d,
          cand.unionByName(simhashOverflowCandidates(ranked, SimHashBucketCap,
              l2Cap0 = 4 * SimHashBucketCap))
            .dropDuplicates("doc_a", "doc_b"))
        .orderBy("doc_a", "doc_b")
    },
      NearDupTruthSql)
  )
}
