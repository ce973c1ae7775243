package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.ParityMath.floorRound
import org.apache.spark.sql.functions._

/** Vector similarity search over the `embeddings` table (SURVEY.md §2.3
  * R19): brute-force cosine as the verifiable baseline, sign-LSH bucketed
  * join as the scale path.
  *
  * Scale design: probe-vs-corpus is O(n) per probe — a broadcast of the
  * probe row against a full scan, embarrassingly parallel, this is the shape
  * that survives 100 TB. All-pairs is never materialized: the LSH variant
  * shuffles once on a bucket id (hamming-1 multiprobe keeps recall up) and
  * joins only within buckets, so cost is Σ bucket² ≪ n².
  *
  * INPUT CONTRACT (r20, recorded by the SimilarityQueries review): the
  * v_* family and its DuckDB twins assume uniform-dimension (64),
  * non-empty, non-degenerate (nonzero-norm) embeddings — true of every
  * fixture and derived corpus. OUTSIDE that contract the two engines'
  * degenerate-input conventions differ by construction (Spark's
  * `graft_dot` nulls a dim mismatch where DuckDB's index-join computes a
  * partial dot; `graft_pick_cell` homes an all-null-cosine vector in
  * cell -1 where the oracles' `coalesce(c,-2)` ordering homes it in the
  * lowest cell), so oracle parity there is UNSPECIFIED, not silently
  * promised. Queries whose plan would otherwise crash or distort on such
  * rows filter them explicitly (`size(v) === 64`, nonzero-norm guards —
  * see v_quantize_int8 / v_kmeans_refine / v_ann_ivf); the rest rely on
  * the contract rather than paying a per-query filter on clean corpora.
  */
object SimilarityQueries {

  private val KDim = 64

  /** Recall-audit probe BUDGET: the audit samples ~this many probe vectors
    * regardless of corpus size, via the modulus ceil(n / budget) — derived
    * IN-PLAN from the corpus count with integer arithmetic (`div`), so the
    * DuckDB oracle mirrors it verbatim and no driver-side action runs at
    * plan-construction time. The audit must NEVER be full-corpus all-pairs —
    * that is the textbook O(n²) scale-killer inside a query a user actually
    * runs. A count-derived modulus keeps the audit O(n · budget) at ANY
    * scale (a fixed modulus kept it Θ(n²/mod), which still blows up).
    */
  private[operators] val AuditProbeBudget = 64L

  /** Exact best cosine per SAMPLED probe vector (self excluded),
    * floor-rounded to 4 dp — the brute-force audit twin the ANN oracles
    * compare against. The probe side (≤ [[AuditProbeBudget]] rows by
    * construction, vec_id % ceil(n/budget) = 0) is broadcast against one
    * full corpus scan: O(n · budget) work, no full-corpus nested-loop join
    * anywhere (PlanSpec pins this). Callers must reference the result
    * exactly once per plan so no caching is needed.
    */
  /** The one-row (mod) frame: `ceil(corpus count / budget)` in the
    * integer arithmetic the oracles mirror. Built ONCE per audit query
    * and passed to both [[exactBestForProbes]] and [[onlyProbeKeys]]
    * (ADVICE r21 — each helper building its own count aggregate cost the
    * audit a second full-corpus count scan). Each consumer references
    * the frame exactly once per plan, so the no-caching discipline
    * holds; the two identical broadcast subtrees additionally dedupe via
    * broadcast-exchange reuse at runtime.
    */
  private def auditProbeMod(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"))
      .agg(expr(auditProbeModSql).as("mod"))

  private def exactBestForProbes(s: SparkSession, d: String,
                                 m: DataFrame): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val probes = e.join(broadcast(m))
      .filter(col("vec_id") % col("mod") === 0).drop("mod")
    broadcast(probes).as("x")
      .join(e.as("y"), col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"),
        floorRound(cosineFromNorms(dot(col("x.v"), col("y.v")),
          col("x.nrm"), col("y.nrm")), 4).as("c"))
      .groupBy(col("vec_id")).agg(max(col("c")).as("best"))
  }

  /** Restrict `df` (carrying vec_id, one row per vector) to the sampled
    * audit-probe keys — the same count-derived modulus predicate
    * [[exactBestForProbes]] uses. Applied to the ANN side BEFORE the
    * probe join (r21): the join's probe side is ≤ [[AuditProbeBudget]]
    * rows by construction, but joining it against the corpus-sized ANN
    * result forced a corpus-wide vec_id exchange + sort-merge join.
    * Pre-filtering drops only rows the equi-join could never match and
    * bounds the ANN side at ≤ budget+1 rows at ANY scale — hence the
    * broadcast hint is scale-safe, not a local[n] tune. Costs one extra
    * count(1) aggregate over the corpus; removes the corpus exchange +
    * two sorts.
    */
  private def onlyProbeKeys(df: DataFrame, m: DataFrame): DataFrame =
    broadcast(df.join(broadcast(m))
      .filter(col("vec_id") % col("mod") === 0).drop("mod"))

  /** Sign-LSH ANN core: best approximate neighbor per vector via nPlanes
    * deterministic hyperplanes → bucket id, hamming-1 multiprobe (home
    * bucket plus every one-bit flip), equi-join within buckets only, best
    * match per vector by floor-rounded cosine. Input needs columns
    * `vec_id: BIGINT`, `v: ARRAY<DOUBLE>`. Cost Σ bucket² ≪ n²; one
    * shuffle on the bucket id. Public so specs can run it over a planted
    * fixture (recall@1 is only meaningful on data with neighbor structure).
    */
  def annLshBest(e0: DataFrame, nPlanes: Int = 12, dim: Int = KDim): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    val e = e0.select(col("vec_id"), col("v"))
      .withColumn("bucket", lshBucket(col("v"), planes))
      .withColumn("nrm", l2Norm(col("v"))) // norm once per vector, not per pair
    // multiprobe: home bucket + hamming-1 neighbors, as probe keys
    val probes = e.select(col("vec_id"), col("v"), col("nrm"), col("bucket"),
      explode(array((lit(-1L) +: (0 until nPlanes).map(i => lit(i.toLong))): _*)).as("flip"))
      .select(col("vec_id"), col("v"), col("nrm"),
        when(col("flip") === -1L, col("bucket"))
          .otherwise(expr("bucket ^ shiftleft(1L, flip)")).as("probe_bucket"))
      .dropDuplicates("vec_id", "probe_bucket")
    val pairs = probes.as("a")
      .join(e.as("b"), col("a.probe_bucket") === col("b.bucket") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nn"),
        floorRound(cosineFromNorms(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")), 4).as("cosine"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn"))
    pairs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("nn"), col("cosine"))
  }

  /** IVF ANN core: deterministic coarse quantizer (every `centroidStride`th
    * vector is a centroid), members live in their nearest cell, probes
    * search their best `nprobe` cells. Centroids broadcast; one shuffle on
    * cell id; cost Σ cell² ≪ n². Input as in [[annLshBest]]. Public for the
    * planted-fixture recall spec.
    */
  def annIvfBest(e0: DataFrame, centroidStride: Int = 13, nprobe: Int = 2): DataFrame = {
    val e = e0.select(col("vec_id"), col("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val centroids = e.filter(col("vec_id") % centroidStride === 0)
      .select(col("vec_id").as("cell"), col("v").as("cv"))
    // rank cells per vector by cosine; keep best `nprobe`
    val wCell = Window.partitionBy(col("vec_id"))
      .orderBy(col("cell_cos").desc, col("cell"))
    val assigned = e.join(broadcast(centroids))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"),
        cosine(col("v"), col("cv")).as("cell_cos"))
      .withColumn("cell_rank", row_number().over(wCell))
      .filter(col("cell_rank") <= nprobe)
    // members live in their best cell; probes search their best `nprobe` cells
    val members = assigned.filter(col("cell_rank") === 1)
      .select(col("cell"), col("vec_id").as("m_id"), col("v").as("m_v"),
        col("nrm").as("m_nrm"))
    val wBest = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("nn"))
    assigned.as("p")
      .join(members.as("m"),
        col("p.cell") === col("m.cell") && col("p.vec_id") =!= col("m.m_id"))
      .select(col("p.vec_id").as("vec_id"), col("m.m_id").as("nn"),
        floorRound(cosineFromNorms(dot(col("p.v"), col("m.m_v")), col("p.nrm"), col("m.m_nrm")), 4).as("cosine"))
      .withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("nn"), col("cosine"))
  }

  /** The 4-dp-floored null-safe cosine as a SQL fragment for use inside
    * higher-order-function lambdas (same arithmetic as
    * floorRound(cosineFromNorms(...), 4), where the lambda-variable
    * operands rule out the Column form).
    */
  private def cosSql(v: String, n: String, cv: String, cn: String): String =
    s"""CASE WHEN $n * $cn > 0D
          THEN floor(graft_dot($v, $cv) / ($n * $cn) * 10000.0 + 0.5) / 10000.0
        END"""

  /** Exact squared-L2 distance to the broadcast probe vector `pv`,
    * rounded into integer 1e-4 units — the exact-rerank arithmetic the
    * DuckDB twins replay verbatim. One definition (r20, was copy-pasted
    * at three sites) so a unit-scale change can't silently desynchronize
    * the exact twins `v_pq_recall` / `v_ivf_train_gain` compare against.
    */
  private val exactD2uSql: String =
    """CAST(floor(aggregate(zip_with(v, pv, (x, y) -> (x - y) * (x - y)),
         CAST(0.0 AS DOUBLE), (a, b) -> a + b) * 10000 + 0.5) AS BIGINT)"""

  /** `ceil(count / AuditProbeBudget)` in the integer arithmetic the
    * oracles mirror — the probe-set modulus contract (one definition for
    * the two Spark sites + the SQL comments that quote it).
    */
  private def auditProbeModSql: String =
    s"(count(1) + ${AuditProbeBudget - 1}) div $AuditProbeBudget"

  // The E-step argmax (best cell by 4-dp-floored cosine, strict > over
  // the cell-sorted array so the LOWEST cell wins ties, -2 sentinel for
  // null cosines) is the native codegen'd `graft_pick_cell(v, nrm,
  // cells)` (plans/PickCell.scala) — the interpreted aggregate-fold
  // formulation it replaced (r10) paid lambda dispatch + a named_struct
  // alloc per centroid PER ROW and lives on as the parity reference in
  // NativeExprSpec.

  /** One Lloyd refinement step over strided seed centroids — the
    * `v_kmeans_refine` core (public for the planted-fixture spec, like
    * [[annLshBest]]/[[annIvfBest]]): E-step assignment by 4-dp-floored
    * cosine (tie-break on cell id), M-step per-dim mean centroids, then the
    * per-cell convergence readout (member count, mean cosine to the refined
    * centroid, second-E-step switch count). Input as in [[annLshBest]].
    *
    * Scale shape: both centroid tables are collapsed IN-PLAN to a single
    * array row (k structs — the standard IVF coarse-quantizer size) and
    * broadcast, so each E-step is a pure PER-ROW argmax over the array —
    * no window, no vec_id shuffle, nothing corpus-wide ever exchanges.
    * The only shuffles are the M-step's (cell, pos) / (cell) aggregates
    * and the final per-cell readout. The assignment arithmetic runs twice
    * (once feeding the M-step, once under the readout) — a deliberate
    * recompute-over-cache: it is n·k codegen-adjacent dot products over a
    * columnar scan, cheaper at any scale than persisting n vectors, and
    * the earlier window-based form double-executed the SHUFFLE too (the
    * two branches' pruned subtrees diverged, so exchange reuse never
    * fired — plan-pinned now: zero corpus-wide exchanges at all).
    */
  def kmeansRefine(e0: DataFrame, seedStride: Int = 50): DataFrame = {
    val e = e0.select(col("vec_id"), col("v")).withColumn("nrm", l2Norm(col("v")))
    // seeds as ONE sorted array row (cell asc — the argmax tie order)
    val seedArr = e.filter(col("vec_id") % seedStride === 0)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cell"),
        col("v").as("cv"), col("nrm").as("cnrm")))).as("cells"))
    val assigned = e.crossJoin(broadcast(seedArr))
      .select(col("v"), col("nrm"),
        expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
    // M-step: refined centroid = per-dim mean of members, re-assembled and
    // collapsed to one broadcastable array row like the seeds
    val refined = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), expr("transform(pm, p -> p.m)").as("rc"))
      .withColumn("rnrm", l2Norm(col("rc")))
      .agg(array_sort(collect_list(struct(col("cell"), col("rc"),
        col("rnrm")))).as("rcells"))
    assigned.crossJoin(broadcast(refined))
      .select(col("cell"),
        // own-cell cosine: the member's cohesion to its refined centroid
        expr(s"""element_at(transform(
            filter(rcells, r -> r.cell = cell),
            r -> ${cosSql("v", "nrm", "r.rc", "r.rnrm")}), 1)""").as("own_c"),
        expr("graft_pick_cell(v, nrm, rcells).cell").as("best_cell"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        floorRound(avg(col("own_c")), 4).as("avg_cohesion"),
        sum(when(col("best_cell") =!= col("cell"), 1L).otherwise(0L))
          .as("n_switch"))
      .orderBy("cell")
  }

  /** Core of `v_ivfpq_search` (public for the planted cell-probe spec,
    * like [[annIvfBest]]): coarse quantizer from strided centroids, probe
    * (vec_id 0) keeps its best `nprobe` cells, coarse-before-fine pruning,
    * within-cell ADC over the stored codes, top-10. Input as in
    * [[annLshBest]], 64-dim vectors; callers must have run
    * GraftFunctions.register.
    */
  def ivfpqSearch(e0: DataFrame, centroidStride: Int = 13,
                  nprobe: Int = 2): DataFrame = {
    val e = e0.select(col("vec_id"), col("v"))
      .withColumn("nrm", l2Norm(col("v")))
    val (centArr, cb) = pqIndexBuild(e, centroidStride)
    ivfpqServe(e, centArr, cb, nprobe)
  }

  /** The IVF-PQ serve body shared by `v_ivfpq_search` (seed coarse
    * quantizer) and `v_ivfpq_trained` (Lloyd-refined coarse quantizer):
    * coarse BEFORE fine — the IVF discipline: assign every vector its
    * home cell (per-row argmax), filter to the probed cells, and only
    * THEN do the fine work (encode fold + ADC) on the survivors. The
    * cell filter prunes the encode from |corpus| to |probed cells| —
    * in production the codes are precomputed ([[pqIndexAnnotate]] /
    * [[pqCodes]]) and this stage is a pure partition-pruned scan of
    * them ([[pqIndexServe]] is that form, over genuinely stored codes).
    * `e` must carry (vec_id, v, nrm); the probe is vec_id 0.
    */
  private def ivfpqServe(e: DataFrame, centArr: DataFrame, cb: DataFrame,
                         nprobe: Int): DataFrame = {
    val assigned = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"),
        expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
    val probe = e.filter(col("vec_id") === 0)
    assigned.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probeCellsOf(probe, centArr, nprobe)))
      .filter(array_contains(col("probe_cells"), col("cell")))
      .crossJoin(broadcast(cbFlatOf(cb)))
      .select(col("vec_id"), col("cell"),
        element_at(expr("graft_pq_encode(v, cbflat)"), 1).as("pq_code"))
      .crossJoin(broadcast(probeLutOf(probe, cb)))
      .select(col("vec_id"), col("cell"), expr("graft_pq_adc(pq_code, lut)").as("adc_units"))
      .orderBy(col("adc_units"), col("vec_id"))
      .limit(10)
  }

  /** One Lloyd-refined coarse quantizer as a broadcastable one-row
    * `cells` array — the TRAINED twin of [[pqIndexBuild]]'s strided seed
    * centroids, closing the loop `v_kmeans_refine` opened (it trained but
    * nothing consumed the refined centroids): E-step assigns every vector
    * to its argmax seed cell (4-dp-floored cosine, the shared argmax
    * discipline), M-step rebuilds each cell's centroid as the per-dim
    * member mean, and the result is re-packed into the exact (cell, cv,
    * cnrm) struct shape every IVF consumer ([[ivfpqServe]],
    * [[probeCellsOf]]) already reads. ONE refinement step, so the DuckDB
    * oracle replays the training deterministically (floating iteration
    * counts would make the oracle a moving target). Scale shape identical
    * to [[kmeansRefine]]: the E-step is per-row argmax over a broadcast
    * array (zero corpus-wide exchange), the M-step shuffles (cell, pos)
    * partial sums — k·dim rows — never vectors.
    */
  /** Iterated Lloyd trainer for the coarse quantizer — the OFF-GATE
    * counterpart of [[refinedCentArr]] (VERDICT r10 §next-5): k full E/M
    * steps instead of one, returning the converged centroid array in the
    * same (cell, cv, cnrm) shape every IVF consumer reads PLUS the
    * per-step cohesion trace (avg best member→centroid cosine, the
    * v_ivf_train_gain audit re-run after every M-step; index 0 is the
    * SEED cohesion). The oracled queries keep the 1-step
    * [[refinedCentArr]] form — a floating iteration count would make the
    * DuckDB replay a moving target — while SimilaritySpec pins this
    * trainer's cohesion trace non-decreasing over ≥3 steps on the real
    * fixtures. (Monotonicity note: plain-mean M-steps maximize the L2
    * objective, not the cosine one, so non-decrease of cosine cohesion is
    * pinned on these corpora rather than guaranteed analytically —
    * 4-dp-floored, deterministic per fixture.)
    *
    * Scale shape per step: one per-row argmax pass over a broadcast
    * array + the (cell, pos) M-step aggregate + one scalar cohesion
    * aggregate; the one-row centroid frame is localCheckpoint'd each step
    * so the plan stays constant-size across iterations (the
    * ConnectedComponents discipline), and nothing corpus-sized ever
    * exchanges.
    */
  /** One Lloyd E/M step: assign every vector to its argmax cell over the
    * broadcast `cells` array (4-dp-floored cosine, cell-asc tie-break),
    * rebuild each surviving cell's centroid as the per-dim member mean,
    * and re-pack into the one-row (cell, cv, cnrm) array shape every IVF
    * consumer reads. A cell that loses all members disappears (both the
    * oracle's join-based replay and this groupBy drop it identically).
    */
  private def lloydStep(e: DataFrame, cells: DataFrame): DataFrame =
    e.crossJoin(broadcast(cells))
      .select(col("v"), expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cell"), col("pos")).agg(avg(col("x")).as("m"))
      // ONE global agg over the k·dim (cell, pos, m) rows; the per-cell
      // regroup happens IN-ARRAY (r21 — the old groupBy(cell) paid a
      // separate k-row exchange + stage per Lloyd step for a regroup a
      // sorted-array reshape does for free). Parity is positional:
      // array_sort orders cpm by (cell, pos) — both unique per row, m
      // never decides — so per-cell slices are pos-ascending and cells
      // ascend, exactly the old collect/sort semantics; cnrm applies the
      // same l2Norm expression per element.
      .agg(array_sort(collect_list(struct(col("cell"), col("pos"),
        col("m")))).as("cpm"))
      // Linear regroup (r22, ADVICE r21): the first pass finds each cell's
      // START index (cpm is (cell, pos)-sorted, so cells are contiguous
      // runs), the second slices the runs — O(k·dim) total. The previous
      // `filter(cpm, r -> r.cell = c)` per distinct cell re-scanned the
      // full k·dim array per cell: O(k²·dim) interpreted work, quadratic
      // in corpus size under the corpus-proportional stride seed. Lazy IF
      // guards keep every element_at index valid under ANSI; an empty cpm
      // (empty corpus, unreachable on any fixture) yields [] exactly as
      // the old array_distinct form did.
      .select(col("cpm"), expr(
        """filter(sequence(1, greatest(size(cpm), 1)),
             i -> IF(size(cpm) = 0, false,
                  IF(i = 1, true,
                     element_at(cpm, i).cell != element_at(cpm, i - 1).cell)))""")
        .as("starts"))
      .select(expr(
        """transform(starts, (s, j) ->
             struct(element_at(cpm, s).cell AS cell,
               transform(slice(cpm, s,
                   IF(j + 2 > size(starts), size(cpm) + 1,
                      element_at(starts, j + 2)) - s),
                 r -> r.m) AS cv))""")
        .as("cs"))
      .select(transform(col("cs"), s =>
        struct(s.getField("cell").as("cell"), s.getField("cv").as("cv"),
          l2Norm(s.getField("cv")).as("cnrm"))).as("cells"))

  private[graft] def trainCoarse(e: DataFrame, seedStride: Int = 13,
      steps: Int = 3): (DataFrame, Seq[Double]) = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    def cohesionOf(cells: DataFrame): Double =
      e.crossJoin(broadcast(cells))
        .select(expr("graft_pick_cell(v, nrm, cells).best").as("best"))
        .agg(floorRound(avg(col("best")), 4)).head().getDouble(0)
    var cells = Lineage.cut(e.filter(col("vec_id") % seedStride === 0)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cell"),
        col("v").as("cv"), col("nrm").as("cnrm")))).as("cells")))
    val trace = scala.collection.mutable.ArrayBuffer(cohesionOf(cells))
    var step = 0
    while (step < steps) {
      cells = Lineage.cutSuperseding(lloydStep(e, cells), cells)
      trace += cohesionOf(cells)
      step += 1
    }
    (cells, trace.toSeq)
  }

  /** K-step Lloyd-refined coarse quantizer for the ORACLED queries
    * (VERDICT r11 #4): a FIXED unroll count — K is part of the query
    * definition, so the DuckDB oracle replays exactly K E/M steps as a
    * materialized CTE chain (the v_pca_power fixed-unroll discipline; a
    * data-dependent stopping rule would make the oracle a moving
    * target). K=1 reproduces [[refinedCentArr]] exactly. Each step's
    * one-row centroid frame is localCheckpoint'd so the plan stays
    * constant-size across steps and the corpus-scan count is K per
    * train (the trainCoarse/ConnectedComponents lineage discipline).
    */
  /** The strided seed coarse quantizer as ONE (uncut) one-row `cells`
    * array — the single definition behind [[pqIndexBuild]],
    * [[refinedCentArrK]], and the v_ivf_train_gain audit chain (r21:
    * three inline copies meant three seed-agg corpus passes in queries
    * that audit seed and trained quantizers side by side).
    */
  private[graft] def seedCellArr(e: DataFrame, seedStride: Int): DataFrame =
    e.filter(col("vec_id") % seedStride === 0)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cell"),
        col("v").as("cv"), col("nrm").as("cnrm")))).as("cells"))

  private[graft] def refinedCentArrK(e: DataFrame, seedStride: Int = 13,
      steps: Int = 3): DataFrame =
    refinedCentArrKFrom(e, Lineage.cut(seedCellArr(e, seedStride)), steps)

  /** [[refinedCentArrK]] from a PRE-BUILT (already cut) seed-cells row —
    * shared-pass form (r21): ivfRetrainAudit needs the seed quantizer
    * both as the census baseline and as the trainer's starting point,
    * and building it twice cost an extra corpus pass + checkpoint in a
    * query that is all bounded passes. The CALLER keeps ownership of
    * `seedCells`: the first step cuts WITHOUT superseding it (freeing it
    * here would violate the cutSuperseding contract for a caller that
    * still reads it — and the one-row cells frame is ~tens of KB, so
    * holding one extra generation costs nothing); later steps supersede
    * trainer-owned generations as before.
    */
  private[graft] def refinedCentArrKFrom(e: DataFrame, seedCells: DataFrame,
      steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    var cells = Lineage.cut(lloydStep(e, seedCells))
    var step = 1
    while (step < steps) {
      cells = Lineage.cutSuperseding(lloydStep(e, cells), cells)
      step += 1
    }
    cells
  }

  private[graft] def refinedCentArr(e: DataFrame, seedStride: Int = 13): DataFrame =
    lloydStep(e, e.filter(col("vec_id") % seedStride === 0)
      .agg(array_sort(collect_list(struct(col("vec_id").as("cell"),
        col("v").as("cv"), col("nrm").as("cnrm")))).as("cells")))

  /** The flat `[subspace][code][dim]` 1024-entry codebook row derived
    * in-plan from the struct codebook (filter preserves the (code, ss)
    * sort, so codes stay ascending within each subspace) — the
    * positional input shape of the native `graft_pq_encode`.
    */
  private def cbFlatOf(cb: DataFrame): DataFrame =
    cb.select(expr(
      """flatten(transform(sequence(0, 7), j ->
           flatten(transform(filter(cb, c -> c.ss = j), c -> c.sv))))""")
      .as("cbflat"))

  /** IVF-PQ index artifacts from a seed corpus: the strided-centroid
    * coarse quantizer and the PQ codebook, each as ONE broadcastable
    * array row. The build inputs are a SEED frame so a streaming index
    * ([[graft.streaming.StreamingAggs.startIncrementalVectorIndex]]) can
    * pin its artifacts to a fixed reference corpus while annotating an
    * unbounded arrival stream — ivfpqSearch builds from the full corpus,
    * which is the same thing when the corpus IS the seed. Input as in
    * [[annLshBest]] plus an `nrm` column.
    */
  private[graft] def pqIndexBuild(seed: DataFrame, centroidStride: Int = 13)
      : (DataFrame, DataFrame) =
    (seedCellArr(seed, centroidStride), pqCodebook(seed))

  /** Cell-size census over an IVF index's per-cell counts — the index
    * HEALTH audit (VERDICT r12 #8): [[pqIndexBuild]] + the streaming
    * maintainer append stored codes forever, and at scale cell-size skew
    * silently degrades nprobe recall (a bloated cell makes its probes
    * scan a corpus-sized bucket; starved cells waste probe budget). One
    * pass over the k-row counts: per-cell share plus the global figures a
    * monitor alerts on — max count, exact median, max-to-median ratio,
    * and the rebalance flag (ratio ≥ `threshold` ⇒ retrain the coarse
    * quantizer — the q_psi_drift serve→monitor→retrain discipline applied
    * to the index itself).
    *
    * Integer discipline: the median is carried as `med2` = the SUM of the
    * two middle order statistics (equal when k is odd) — an exact BIGINT
    * in both engines, no float interpolation to drift — so `skew_ratio` =
    * 2·max/med2 = max/median, floorRound-4'd only at the edge, and the
    * flag is the pure integer predicate 2·max ≥ threshold·med2. Scale
    * shape: `counts` is k-sized (the quantizer's cell count, NOT
    * corpus-sized), so the single-partition rank window and the
    * broadcast one-row audit are bounded by the index width at any
    * corpus size.
    */
  private[graft] def cellSkewCensus(counts: DataFrame,
                                    threshold: Int = 4): DataFrame = {
    val ranked = counts
      .select(col("cell"), col("n_vecs").cast("long").as("n_vecs"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("n_vecs"), col("cell")))
          .cast("long"))
    val k1 = counts.agg(count(lit(1)).as("n_cells"),
      max(col("n_vecs")).cast("long").as("max_n"))
    val audit = ranked.crossJoin(broadcast(k1))
      .agg(max(col("n_cells")).as("n_cells"), max(col("max_n")).as("max_n"),
        sum(
          when(col("rn") === expr("(n_cells + 1) div 2") &&
               col("rn") === expr("(n_cells + 2) div 2"), col("n_vecs") * 2)
          .when(col("rn") === expr("(n_cells + 1) div 2") ||
                col("rn") === expr("(n_cells + 2) div 2"), col("n_vecs"))
          .otherwise(lit(0L))).as("med2"))
    ranked.crossJoin(broadcast(audit))
      .select(col("cell"), col("n_vecs"),
        col("n_cells"), col("max_n"), col("med2"),
        floorRound(col("max_n") * lit(2.0) / col("med2"), 4).as("skew_ratio"),
        (col("max_n") * 2 >= col("med2") * threshold).as("rebalance"))
      .orderBy(col("cell"))
  }

  /** A probe row's best `nprobe` cells — cosine DESC, cell ASC, the
    * shared argmax discipline — as a SQL fragment over row columns `v`,
    * `nrm` and the broadcast `cells` array.
    */
  private def probeCellsSql(nprobe: Int): String =
    s"""transform(slice(array_sort(transform(cells, s ->
           named_struct(
             'negc', -coalesce(${cosSql("v", "nrm", "s.cv", "s.cnrm")}, -2D),
             'cell', s.cell))), 1, $nprobe),
         x -> x.cell)"""

  /** The probe's best `nprobe` cells as one broadcastable array row.
    * `probe` must be a single (vec_id, v, nrm) row.
    */
  private def probeCellsOf(probe: DataFrame, centArr: DataFrame,
                           nprobe: Int): DataFrame =
    probe
      .crossJoin(broadcast(centArr))
      .select(expr(probeCellsSql(nprobe)).as("probe_cells"))

  /** The probe's positional LUT row (see [[pqLutSql]]); `probe` must be
    * a single (vec_id, v) row.
    */
  private def probeLutOf(probe: DataFrame, cb: DataFrame): DataFrame =
    probe.crossJoin(broadcast(cb))
      .select(expr(pqLutSql).as("lut"))

  /** Annotate arriving (vec_id, v) rows with their home cell and packed
    * PQ code against broadcast index artifacts — the per-batch body of
    * the streaming index maintainer. Pure per-row work: argmax over the
    * centroid array, encode fold over the codebook; no shuffle.
    */
  private[graft] def pqIndexAnnotate(batch: DataFrame, centArr: DataFrame,
                                     cb: DataFrame): DataFrame =
    batch.select(col("vec_id"), col("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"),
        expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
      .crossJoin(broadcast(cbFlatOf(cb)))
      .select(col("vec_id"), col("cell"),
        element_at(expr("graft_pq_encode(v, cbflat)"), 1).as("pq_code"))

  /** Serve an ADC top-k from STORED (vec_id, cell, pq_code) rows — the
    * materialized-index form of [[ivfpqSearch]]'s serving stage: the
    * probe row ranks its `nprobe` cells and precomputes the positional
    * LUT, the stored codes are filtered to the probed cells (at scale: a
    * cell-partitioned table ⇒ partition pruning) and each survivor costs
    * 8 positional lookups. No vector arithmetic over the corpus at all —
    * the stored 8-byte codes are the only corpus-sized input.
    */
  private[graft] def pqIndexServe(codes: DataFrame, probeRow: DataFrame,
                                  centArr: DataFrame, cb: DataFrame,
                                  nprobe: Int = 2, k: Int = 10,
                                  probeId: Long = 0L): DataFrame = {
    val p = probeRow.select(col("vec_id"), col("v"))
      .withColumn("nrm", l2Norm(col("v")))
    codes
      .filter(col("vec_id") =!= probeId)
      .crossJoin(broadcast(probeCellsOf(p, centArr, nprobe)))
      .filter(array_contains(col("probe_cells"), col("cell")))
      .crossJoin(broadcast(probeLutOf(p, cb)))
      .select(col("vec_id"), col("cell"), expr("graft_pq_adc(pq_code, lut)").as("adc_units"))
      .orderBy(col("adc_units"), col("vec_id"))
      .limit(k)
  }

  /** Batched twin of [[pqIndexServe]] (r22, VERDICT r21 #4): answer a
    * probe SET per corpus pass over the SAME stored codes — the
    * v_ivfpq_batch throughput shape parameterized by an explicit probe
    * frame. Each probe ranks its `nprobe` cells and precomputes its LUT
    * in one pass over the probe rows; ONE broadcast join fans each
    * stored code out to exactly the probes probing its cell; top-k per
    * probe with the identical (adc_units, vec_id) tie-break, so the
    * per-probe result set equals [[pqIndexServe]]'s. The probe table
    * must be serving-batch-sized (it broadcasts with its cells + LUT).
    */
  private[graft] def pqIndexServeBatch(codes: DataFrame, probes: DataFrame,
                                       centArr: DataFrame, cb: DataFrame,
                                       nprobe: Int = 2, k: Int = 10): DataFrame = {
    val probeTab = probes.select(col("vec_id"), col("v"))
      .withColumn("nrm", l2Norm(col("v")))
      .crossJoin(broadcast(centArr)).crossJoin(broadcast(cb))
      .select(col("vec_id").as("probe_id"),
        expr(probeCellsSql(nprobe)).as("probe_cells"),
        expr(pqLutSql).as("lut"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_units"), col("vec_id"))
    codes.join(broadcast(probeTab),
        array_contains(col("probe_cells"), col("cell")) &&
          col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        expr("graft_pq_adc(pq_code, lut)").as("adc_units"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col("vec_id"), col("adc_units"))
  }

  /** The `v_pq_adc` query body (shared with `v_pq_recall`, whose audit
    * must rank with the identical ADC arithmetic): probe LUT as one
    * positional broadcast array, serving scan over [[pqCodesCore]]'s
    * stored codes, top-10 by integer ADC units.
    */
  private def pqAdcTop(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(size(col("v")) === 64)
    val cb = pqCodebook(e)
    // probe LUT as ONE POSITIONAL array: the 128 integer-unit squared
    // distances sorted by (ss, code), so entry (ss, code) lives at
    // index ss*16+code+1 — a flat BIGINT array, no struct matching
    val lut = e.filter(col("vec_id") === 0).crossJoin(broadcast(cb))
      .select(expr(pqLutSql).as("lut"))
    // serving scan: stored codes only — the probe is excluded AFTER
    // encoding so the codebook (vec_id < 16) matches v_pq_codes exactly
    pqCodesCore(e)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("pq_code"))
      .crossJoin(broadcast(lut))
      .select(col("vec_id"), expr("graft_pq_adc(pq_code, lut)").as("adc_units"))
      .orderBy(col("adc_units"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("adc_units"))
  }

  /** PQ codebook as ONE sorted array row — (code, subspace, 8-dim
    * subvector) structs drawn from the first 16 vectors' subspace slices
    * (shared by the encode, ADC, and IVF-PQ paths; input as in
    * [[pqCodes]]).
    */
  private def pqCodebook(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 16)
      .select(explode(expr(
        """transform(sequence(0, 7), j ->
             struct(CAST(vec_id AS INT) AS code, j AS ss,
                    slice(v, j * 8 + 1, 8) AS sv))""")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cb"))

  /** Integer-unit squared distance between a vector's subspace `c.ss`
    * slice and the codebook entry's subvector, as a SQL fragment (shared
    * by the PQ encode and ADC search paths; `c` is the codebook lambda
    * variable in scope).
    */
  private def pqD2u(v: String, c: String): String =
    s"""CAST(floor(aggregate(
          zip_with(slice($v, $c.ss * 8 + 1, 8), $c.sv,
            (x, y) -> (x - y) * (x - y)),
          CAST(0.0 AS DOUBLE), (a, b) -> a + b) * 10000 + 0.5) AS BIGINT)"""

  /** Core of `v_pq_codes` (public for the planted-fixture spec): PQ-encode
    * 64-dim vectors with 8 subspaces × 16 codebook entries drawn from the
    * first 16 vectors. Input as in [[annLshBest]]; vectors that are not
    * exactly 64-dim are excluded (codebook geometry).
    */
  def pqCodes(e0: DataFrame): DataFrame =
    pqCodesCore(e0).orderBy("vec_id")

  /** Unordered [[pqCodes]] — the composition form `v_pq_adc` and
    * `v_ivfpq_search` consume (their own ordering comes from the ADC
    * top-k, so an index-build sort would be pure waste). Encoding runs
    * through the native `graft_pq_encode` (plans/PqEncode.scala) against
    * the FLAT broadcast codebook — three primitive loops in whole-stage
    * codegen instead of ~128 interpreted-lambda dispatches per row; the
    * HOF-fold twin lives in NativeExprSpec as the parity reference.
    */
  private[operators] def pqCodesCore(e0: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(e0.sparkSession)
    val e = e0.select(col("vec_id"), col("v")).filter(size(col("v")) === 64)
    e.crossJoin(broadcast(pqCodebookFlat(e)))
      .select(col("vec_id"), expr("graft_pq_encode(v, cbflat)").as("r"))
      .select(col("vec_id"), element_at(col("r"), 1).as("pq_code"),
        element_at(col("r"), 2).as("mse_units"))
  }

  /** The PQ codebook as ONE flat 1024-entry double array row laid out
    * `[subspace][code][dim]` (8 × 16 × 8) — the input shape
    * `graft_pq_encode` indexes positionally. Codes are the first 16
    * vectors in vec_id order (array_sort on (vec_id, v) structs), the
    * same codebook [[pqCodebook]] builds in struct form for the LUT
    * paths.
    */
  private def pqCodebookFlat(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 16)
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v")))).as("vecs"))
      .select(expr(
        """flatten(transform(sequence(0, 7), ss ->
             flatten(transform(vecs, x -> slice(x.v, ss * 8 + 1, 8)))))""")
        .as("cbflat"))


  /** The probe's positional LUT as a SQL fragment over row columns `v`
    * (the probe vector) and `cb`: the 128 integer-unit squared distances
    * sorted by (ss, code), flattened to a BIGINT array so entry
    * (ss, code) lives at index ss·16+code+1.
    */
  private def pqLutSql: String =
    s"""transform(array_sort(transform(cb, c ->
           struct(c.ss AS ss, c.code AS code, ${pqD2u("v", "c")} AS d2u))),
         x -> x.d2u)"""

  // exact best cosine per SAMPLED probe vector — the probe modulus is
  // ceil(corpus_count / AuditProbeBudget) in the same integer arithmetic
  // the Spark side computes in-plan ((n + budget-1) div budget), so the
  // two engines pick the identical probe set at any scale factor
  private val ExactBestCte =
    s"""md AS (
         SELECT (count(*) + ${AuditProbeBudget - 1}) // $AuditProbeBudget AS m
         FROM embeddings),
       ex AS (
         SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                generate_subscripts(embedding, 1) AS i
         FROM embeddings),
       nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
       dots AS (
         SELECT a.vec_id AS va, b.vec_id AS vb, sum(a.e * b.e) AS dp
         FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id <> b.vec_id
         WHERE a.vec_id % (SELECT m FROM md) = 0
         GROUP BY 1, 2),
       best AS (
         SELECT va AS vec_id,
                max(floor((dp / (x.n * y.n)) * 10000 + 0.5) / 10000) AS best
         FROM dots JOIN nrm x ON x.vec_id = va JOIN nrm y ON y.vec_id = vb
         GROUP BY 1)"""

  val queries: Seq[QueryDef] = Seq(
    // R19 baseline — cosine of every vector against the vec_id=0 probe.
    // Broadcast the single probe row; the big side streams through a scalar
    // expression (no shuffle at all).
    QueryDef("v_cosine_probe", (s, d) => {
      val e = Tables.embeddings(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(asDouble(col("embedding")).as("q"))
      e.join(broadcast(probe))
        .select(col("vec_id"),
          floorRound(cosine(asDouble(col("embedding")), col("q")), 4).as("cosine"))
        .orderBy("vec_id")
    },
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         qx AS (SELECT e, i FROM ex WHERE vec_id = 0),
         dots AS (
           SELECT ex.vec_id, sum(ex.e * qx.e) AS dot, sum(ex.e * ex.e) AS na
           FROM ex JOIN qx ON ex.i = qx.i GROUP BY ex.vec_id),
         qn AS (SELECT sum(e * e) AS nb FROM qx)
         SELECT vec_id, floor((dot / (sqrt(na) * sqrt(nb))) * 10000 + 0.5) / 10000 AS cosine
         FROM dots, qn ORDER BY vec_id"""),

    // R19 — top-k nearest neighbors of the probe (k=20), ordered on the
    // rounded score so Spark and the oracle agree on ties deterministically.
    // TakeOrderedAndProject: per-partition top-k, single-reduce merge.
    QueryDef("v_knn_probe", (s, d) => {
      val e = Tables.embeddings(s, d)
      val probe = e.filter(col("vec_id") === 0)
        .select(asDouble(col("embedding")).as("q"))
      e.join(broadcast(probe))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"),
          floorRound(cosine(asDouble(col("embedding")), col("q")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_id"))
        .limit(20)
    },
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         qx AS (SELECT e, i FROM ex WHERE vec_id = 0),
         dots AS (
           SELECT ex.vec_id, sum(ex.e * qx.e) AS dot, sum(ex.e * ex.e) AS na
           FROM ex JOIN qx ON ex.i = qx.i GROUP BY ex.vec_id),
         qn AS (SELECT sum(e * e) AS nb FROM qx)
         SELECT d.vec_id, emb.label, floor((d.dot / (sqrt(d.na) * sqrt(qn.nb))) * 10000 + 0.5) / 10000 AS cosine
         FROM dots d JOIN embeddings emb ON emb.vec_id = d.vec_id CROSS JOIN qn
         WHERE d.vec_id <> 0
         ORDER BY cosine DESC, d.vec_id LIMIT 20"""),

    // R19 scale path — approximate nearest neighbor per vector via sign-LSH
    // (12 deterministic hyperplanes, hamming-1 multiprobe, bucketed join —
    // see [[annLshBest]]).
    //
    // Oracled as a one-row recall audit over the SAMPLED probe set
    // (vec_id % ceil(n/budget) = 0, mirrored verbatim in the oracle): which
    // vectors get a candidate (and which candidate) is bucket-specific, so
    // the hashed columns are the DuckDB-mirrorable corpus facts — sampled
    // probe count and the integer-unit sum of each probe's EXACT best
    // cosine (integer sum ⇒ no float summation-order wobble) — plus two
    // invariant booleans: ANN coverage ≥ half the probe set and every ANN
    // result bounded by the exact best. The ANN side stays full-corpus;
    // only the audit twin samples. ONE left join + ONE aggregation pass:
    // the audit subtree is referenced exactly once, so nothing persists
    // (the old two-consumer shape pinned a session-lifetime cache entry as
    // a side effect of merely constructing this DataFrame). Per-vector
    // recall on THIS synthetic table is inherently noise (near-random
    // vectors, see SCALE.md "ANN recall, honestly measured") — the
    // planted-fixture recall@1 spec lives in SimilaritySpec.
    QueryDef("v_ann_lsh", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val ann = annLshBest(e)
      val m = auditProbeMod(s, d)
      exactBestForProbes(s, d, m)
        .join(onlyProbeKeys(ann.select(col("vec_id"), col("cosine")), m),
          Seq("vec_id"), "left")
        .agg(
          count(lit(1)).as("n_probes"),
          sum(expr("CAST(floor(best * 10000 + 0.5) AS BIGINT)")).as("sum_best_1e4"),
          count(col("cosine")).as("n_found"),
          max(col("cosine") - col("best")).as("max_gap"))
        .select(col("n_probes"), col("sum_best_1e4"),
          (col("n_found") * 2 >= col("n_probes")).as("coverage_ge_half"),
          // no ANN match anywhere ⇒ vacuously bounded
          coalesce(col("max_gap") <= 1e-9, lit(true)).as("bounded_by_exact"))
    },
      s"""WITH $ExactBestCte
         SELECT CAST(count(*) AS BIGINT) AS n_probes,
                CAST(sum(CAST(floor(best * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_best_1e4,
                TRUE AS coverage_ge_half, TRUE AS bounded_by_exact
         FROM best"""),

    // R19/R18 bridge — embedding-cosine near-duplicate candidates via
    // metadata blocking: pairs are generated within a `label` block only
    // (the provenance/cluster key a real corpus carries), ranked by exact
    // cosine, top-10 kept. Blocking on a stored key instead of a hash makes
    // the pair set deterministic and DuckDB-mirrorable — this query is the
    // fully-oracled member of the near-dup family, complementing the
    // hash-blocked v_ann_lsh/v_ann_ivf. Σ block² ≪ n² still holds; at
    // 100 TB a hot label would be sub-blocked (salt or secondary key), the
    // same guard as the LSH mega-bucket cap. In production the top-k cut
    // becomes `cosine >= threshold`; the synthetic embeddings are
    // near-orthogonal (max pairwise cos ≈ 0.5), so the query surfaces the
    // candidate ranking instead of an empty set.
    QueryDef("v_neardup_cosine", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", l2Norm(col("v")))
      e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          floorRound(cosineFromNorms(dot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")), 4).as("cosine"))
        .orderBy(col("cosine").desc, col("vec_a"), col("vec_b"))
        .limit(10)
    },
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         pairs AS (
           SELECT a.vec_id AS va, b.vec_id AS vb
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id),
         dots AS (
           SELECT p.va, p.vb, sum(x.e * y.e) AS dp
           FROM pairs p
             JOIN ex x ON x.vec_id = p.va
             JOIN ex y ON y.vec_id = p.vb AND y.i = x.i
           GROUP BY 1, 2)
         SELECT va AS vec_a, vb AS vec_b,
                floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000 AS cosine
         FROM dots
           JOIN nrm nx ON nx.vec_id = va
           JOIN nrm ny ON ny.vec_id = vb
         ORDER BY cosine DESC, vec_a, vec_b LIMIT 10"""),

    // R19 scale path #2 — IVF (inverted-file) ANN: deterministic coarse
    // quantizer, nprobe=2 cell search — see [[annIvfBest]]. Complements
    // v_ann_lsh — IVF adapts to the data distribution where LSH is
    // data-oblivious.
    //
    // Oracled per SAMPLED probe vector (vec_id % ceil(n/budget) = 0,
    // mirrored in the oracle) against the exact brute-force best (audit
    // twin): the probe set drives a LEFT join into the ANN results, so the
    // row set is exactly the sampled probes regardless of ANN coverage —
    // a probe the ANN somehow missed (degenerate zero vector ⇒ null
    // cosine) surfaces as a clean ann_le_exact=false against the oracle's
    // TRUE, not as a confusing row-count mismatch. (Coverage is still
    // structurally total on real data — every probed cell contains its own
    // centroid as a member — so false never fires on the healthy corpus.)
    // The ANN side stays full-corpus; only the audit samples. Top-1
    // agreement on this near-random table is noise (SCALE.md); the
    // planted-fixture recall@1 spec lives in SimilaritySpec.
    QueryDef("v_ann_ivf", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val m = auditProbeMod(s, d)
      exactBestForProbes(s, d, m)
        .join(onlyProbeKeys(annIvfBest(e).select(col("vec_id"), col("cosine")), m),
          Seq("vec_id"), "left")
        .select(col("vec_id"), col("best").as("exact_best"),
          coalesce(col("cosine") <= col("best") + 1e-9, lit(false)).as("ann_le_exact"))
        .orderBy("vec_id")
    },
      s"""WITH $ExactBestCte
         SELECT vec_id, best AS exact_best, TRUE AS ann_le_exact
         FROM best ORDER BY vec_id"""),

    // R19/R18 — SEMANTIC DEDUP (SemDeDup-style): drop every vector that
    // has a more-canonical (lower vec_id) same-block neighbor above the
    // cosine threshold — the embedding-space analog of near-dup text
    // removal, used to prune semantically redundant training examples.
    // Blocking is the stored `label` key (deterministic and
    // DuckDB-mirrorable, like v_neardup_cosine; production swaps in IVF
    // cells — same Σ block² ≪ n² shape). The θ compare runs on the
    // 4-dp-floored cosine so both engines sit on the same side of the
    // boundary. Every vector appears in the output with its kept flag, so
    // the result doubles as the keep manifest.
    QueryDef("v_semdedup", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", l2Norm(col("v")))
      val dropped = e.as("a").join(e.as("b"),
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id") &&
            floorRound(cosineFromNorms(dot(col("a.v"), col("b.v")),
              col("a.nrm"), col("b.nrm")), 4) >= 0.40)
        .select(col("b.vec_id").as("vec_id")).distinct()
        .withColumn("__d", lit(true))
      e.select(col("vec_id"), col("label"))
        .join(dropped, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("label"),
          coalesce(!col("__d"), lit(true)).as("kept"))
        .orderBy("vec_id")
    },
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         pairs AS (
           SELECT a.vec_id AS va, b.vec_id AS vb
           FROM embeddings a JOIN embeddings b
             ON a.label = b.label AND a.vec_id < b.vec_id),
         dots AS (
           SELECT p.va, p.vb, sum(x.e * y.e) AS dp
           FROM pairs p
             JOIN ex x ON x.vec_id = p.va
             JOIN ex y ON y.vec_id = p.vb AND y.i = x.i
           GROUP BY 1, 2),
         dropped AS (
           SELECT DISTINCT vb AS vec_id FROM dots
             JOIN nrm nx ON nx.vec_id = va
             JOIN nrm ny ON ny.vec_id = vb
           WHERE nx.n * ny.n > 0
             AND floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000 >= 0.40)
         SELECT e.vec_id, e.label,
                e.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
         FROM embeddings e ORDER BY e.vec_id"""),

    // R19 — int8 vector quantization with a VERIFIED reconstruction bound:
    // the standard 4× compression step before ANN serving at scale
    // (100 TB of float32 embeddings → 25 TB of int8 + per-vector scale).
    // Per vector: affine min/max quantization to 0..255 via the
    // floor(x+0.5) parity trick (no engine-dependent rounding), then the
    // dequantization error is checked against the half-step bound. Hashed
    // columns are all integer/boolean: the quantized-code checksum, dims,
    // and the bound boolean — DuckDB replays the identical arithmetic, so
    // the oracle verifies the actual codes, not a summary. Pure per-row
    // expressions: embarrassingly parallel, no shuffle at all.
    QueryDef("v_quantize_int8", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        // empty vectors have no codes: the oracle's unnest emits no rows
        // for them, so the Spark side must drop them too (a null-boolean
        // row here would be a row-count mismatch)
        .filter(size(col("v")) > 0)
        .withColumn("mn", array_min(col("v")))
        .withColumn("mx", array_max(col("v")))
      e.select(col("vec_id"),
          size(col("v")).as("n_dims"),
          // degenerate (constant) vectors quantize to all-zeros
          expr("""CASE WHEN mx = mn THEN 0L ELSE
                    aggregate(transform(v, x ->
                      CAST(floor((x - mn) * 255 / (mx - mn) + 0.5) AS BIGINT)),
                      0L, (acc, q) -> acc + q) END""").as("q_checksum"),
          expr("""mx = mn OR aggregate(transform(v, x ->
                    abs(x - (mn + CAST(floor((x - mn) * 255 / (mx - mn) + 0.5) AS BIGINT)
                                  * (mx - mn) / 255))), CAST(0.0 AS DOUBLE),
                    (acc, e2) -> greatest(acc, e2))
                  <= (mx - mn) / 255 / 2 * (1 + 1e-9)""").as("within_half_step"))
        .orderBy("vec_id")
    },
      // identical affine-quantization arithmetic over the unnested floats;
      // q codes are exact integers in both engines (floor(x+0.5) parity)
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         mm AS (SELECT vec_id, min(x) AS mn, max(x) AS mx,
                       CAST(count(*) AS INT) AS n_dims
                FROM ex GROUP BY vec_id),
         q AS (
           SELECT ex.vec_id,
                  CASE WHEN mm.mx = mm.mn THEN 0
                       ELSE CAST(floor((ex.x - mm.mn) * 255 / (mm.mx - mm.mn) + 0.5) AS BIGINT)
                  END AS qc,
                  CASE WHEN mm.mx = mm.mn THEN 0.0
                       ELSE abs(ex.x - (mm.mn + CAST(floor((ex.x - mm.mn) * 255 / (mm.mx - mm.mn) + 0.5) AS BIGINT)
                                        * (mm.mx - mm.mn) / 255))
                  END AS err,
                  (mm.mx - mm.mn) / 255 / 2 * (1 + 1e-9) AS bound
           FROM ex JOIN mm ON ex.vec_id = mm.vec_id)
         SELECT q.vec_id, CAST(max(mm.n_dims) AS INT) AS n_dims,
                CAST(sum(q.qc) AS BIGINT) AS q_checksum,
                (max(mm.mx) = max(mm.mn) OR max(q.err) <= max(q.bound)) AS within_half_step
         FROM q JOIN mm ON q.vec_id = mm.vec_id
         GROUP BY q.vec_id ORDER BY q.vec_id"""),

    // R19 aggregate view — label centroids + intra-label cohesion: mean
    // vector per label (element-wise), then each member's cosine to its
    // centroid, averaged. Exercises array aggregation at scale (posexplode →
    // groupBy(label, pos) partial aggs — linear, shuffle on (label, pos)).
    QueryDef("v_label_cohesion", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      val centroids = e
        .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("label"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("label"), expr("transform(pm, p -> p.m)").as("centroid"))
        .withColumn("cnrm", l2Norm(col("centroid")))
      e.join(broadcast(centroids), "label")
        .select(col("label"),
          cosineFromNorms(dot(col("v"), col("centroid")), l2Norm(col("v")), col("cnrm")).as("c"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), floorRound(avg(col("c")), 4).as("avg_cohesion"))
        .orderBy("label")
    },
      """WITH ex AS (
           SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings),
         cent AS (SELECT label, i, avg(e) AS m FROM ex GROUP BY label, i),
         dots AS (
           SELECT ex.vec_id, ex.label,
                  sum(ex.e * cent.m) AS dot, sum(ex.e * ex.e) AS na
           FROM ex JOIN cent ON ex.label = cent.label AND ex.i = cent.i
           GROUP BY ex.vec_id, ex.label),
         cn AS (SELECT label, sum(m * m) AS nb FROM cent GROUP BY label)
         SELECT d.label, CAST(count(*) AS BIGINT) AS n,
                floor((avg(d.dot / (sqrt(d.na) * sqrt(cn.nb)))) * 10000 + 0.5) / 10000 AS avg_cohesion
         FROM dots d JOIN cn ON d.label = cn.label
         GROUP BY d.label ORDER BY d.label"""),

    // R19 — K-MEANS REFINEMENT step, the centroid-training path an IVF
    // index build runs before `v_ann_ivf` can search it: E-step (assign
    // every vector to its nearest strided seed by 4-dp-floored cosine,
    // tie-break on cell id — the deterministic-argmax discipline all the
    // ANN ops use), M-step (refined centroid = per-dim mean of members,
    // the posexplode → groupBy(cell, pos) shape from v_label_cohesion),
    // then the convergence readout: per cell, member count, mean cosine
    // to the REFINED centroid, and how many members a second E-step would
    // move (`n_switch` — the integer that goes to zero as Lloyd
    // converges). The assignment is a per-row `graft_pick_cell` argmax
    // against the broadcast centroid array — recomputed by each consumer
    // deliberately (cheaper than any exchange; kmeansRefine's scaladoc
    // pins ZERO corpus-wide exchanges — the pre-r10 window formulation
    // this comment used to describe is gone). Scale:
    // centroids broadcast (k·dim doubles — the standard IVF coarse-quantizer
    // table; production picks k ~ √n, the stride here is the test-scale
    // stand-in) and everything else is linear with shuffles on vec_id /
    // (cell, pos) only.
    // (dimension guard like pqCodes': graft_dot over mixed-dim vectors
    // returns NULL — the -2 argmax sentinel — while an index-join oracle
    // computes a partial dot product, so the uniform-dim filter keeps the
    // two engines on the same assignment; mirrored in the oracle's ex CTE)
    QueryDef("v_kmeans_refine", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      kmeansRefine(Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === KDim))
    },
      // replays the E-step/M-step/E-step with the identical 4-dp-floored
      // cosine and (c DESC, cell ASC) argmax discipline
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         dots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 50 = 0
           GROUP BY 1, 2),
         a AS (
           SELECT vid, cell,
                  floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000 AS c
           FROM dots JOIN nrm nx ON nx.vec_id = vid
                     JOIN nrm ny ON ny.vec_id = cell),
         assign AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid ORDER BY c DESC, cell) AS rk
             FROM a) WHERE rk = 1),
         cent AS (
           SELECT ass.cell, x.i, avg(x.e) AS m
           FROM assign ass JOIN ex x ON x.vec_id = ass.vid
           GROUP BY 1, 2),
         cnrm AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent GROUP BY cell),
         d2 AS (
           SELECT x.vec_id AS vid, c2.cell AS cell2, sum(x.e * c2.m) AS dp
           FROM ex x JOIN cent c2 ON c2.i = x.i
           GROUP BY 1, 2),
         s2 AS (
           SELECT d2.vid, a0.cell, d2.cell2,
                  floor((d2.dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000 AS c2
           FROM d2 JOIN assign a0 ON a0.vid = d2.vid
                   JOIN nrm nx ON nx.vec_id = d2.vid
                   JOIN cnrm cn ON cn.cell = d2.cell2),
         per AS (
           SELECT vid, cell,
                  max(CASE WHEN cell2 = cell THEN c2 END) AS own_c,
                  (list(cell2 ORDER BY c2 DESC, cell2 ASC))[1] AS best_cell
           FROM s2 GROUP BY vid, cell)
         SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
                floor(avg(own_c) * 10000 + 0.5) / 10000 AS avg_cohesion,
                CAST(sum(CASE WHEN best_cell <> cell THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_switch
         FROM per GROUP BY cell ORDER BY cell"""),

    // R19 — PRODUCT QUANTIZATION codes, the compression step after the
    // coarse quantizer in an IVF-PQ index build (the standard way 100 TB
    // of float32 embeddings serve ANN from RAM: 64 dims × 4 bytes → 8
    // one-byte codes + a shared codebook). Deterministic codebook (the
    // first 16 vectors' subvectors per 8-dim subspace — the test-scale
    // stand-in for a per-subspace k-means, exactly like v_ann_ivf's
    // strided coarse quantizer), assignment by integer-unit squared
    // distance with lowest-code tie-break, and the 8 codes packed into
    // ONE base-17 integer (codes < 16 ⇒ injective), so the oracle hashes
    // the ACTUAL codes, not a summary; `mse_units` is the integer-exact
    // reconstruction-error sum. Same scale shape as v_kmeans_refine: the
    // codebook collapses in-plan to a single broadcast array row and
    // encoding is a pure per-row fold — no shuffle at all.
    QueryDef("v_pq_codes", (s, d) => pqCodes(Tables.embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))),
      // replays the subspace split, integer-unit distances, lowest-code
      // argmin, and the base-17 packing — the actual codes are hashed
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         sel AS (
           SELECT vec_id, ss, code, d2u FROM (
             SELECT vec_id, ss, code, d2u,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1)
         SELECT vec_id,
                CAST(sum(code * CAST(power(17, ss) AS BIGINT)) AS BIGINT) AS pq_code,
                CAST(sum(d2u) AS BIGINT) AS mse_units
         FROM sel GROUP BY vec_id ORDER BY vec_id"""),

    // R19 — ADC SEARCH over the STORED PQ codes, the serving side of the
    // IVF-PQ story: the probe (vec_id 0, as in v_knn_probe) precomputes
    // one 8×16-entry distance LOOKUP TABLE against the codebook, and the
    // corpus side then consumes ONLY the compressed codes [[pqCodesCore]]
    // produces — each base-17 digit is peeled with a running integer
    // divide and spent on ONE positional `element_at` into the
    // (ss, code)-sorted flat LUT (index ss·16+code+1). That is the actual
    // RAM-resident billion-vector trick: 8 table lookups per stored
    // vector, zero distance arithmetic at serve time (the pre-round-9
    // form re-ran the 8×16 argmin encode per scan and then FILTERED the
    // LUT — encode-work plus a 128-entry scan per lookup). The encode
    // fold appears exactly once in the plan, as the index-build stage
    // feeding the codes. Every quantity is integer units from the same
    // deterministic codebook as v_pq_codes, so the oracle replays the
    // LUT, the per-vector ADC sums, and the top-10 exactly — hashed
    // values, not bounds. Scale shape: LUT and codebook are broadcast
    // one-row arrays, the corpus side is a per-row unpack + 8 lookups +
    // TakeOrderedAndProject — no shuffle, no join against the corpus.
    QueryDef("v_pq_adc", (s, d) => pqAdcTop(s, d),
      // replays the code assignment, the probe's lookup table, the 8-lookup
      // ADC sums, and the deterministic top-10 — all integer units
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         lut AS (SELECT ss, code, d2u FROM dist WHERE vec_id = 0),
         sel AS (
           SELECT vec_id, ss, code FROM (
             SELECT vec_id, ss, code,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         adc AS (
           SELECT sel.vec_id, CAST(sum(lut.d2u) AS BIGINT) AS adc_units
           FROM sel JOIN lut ON lut.ss = sel.ss AND lut.code = sel.code
           WHERE sel.vec_id <> 0
           GROUP BY sel.vec_id)
         SELECT vec_id, adc_units
         FROM adc ORDER BY adc_units, vec_id LIMIT 10"""),

    // R19 — IVF-PQ SERVE-WITH-RERANK, the production answer path
    // v_pq_recall's shortlist audit prices: the compressed index answers
    // cheaply but approximately (8-byte codes), so serving takes the ADC
    // top-50 SHORTLIST from the stored codes and re-ranks just those 50
    // against their EXACT vectors, returning the exact-L2 top-10. The
    // corpus-sized work is unchanged from v_pq_adc (per-row unpack + 8
    // lookups + TakeOrderedAndProject, no corpus join); the re-rank then
    // joins the 50-row shortlist BROADCAST against the vector table —
    // one broadcast hash join probing 50 ids, never a corpus shuffle —
    // and a second 50-row TakeOrdered picks the 10. At 100 TB this is
    // the RAM-resident-index + fetch-50-vectors pattern: full-precision
    // vectors are only ever read for shortlisted ids. Integer units
    // end-to-end (same d2u fold as v_pq_recall's exact twin) ⇒ the
    // oracle replays codes, LUT, shortlist, and the re-ranked top-10
    // exactly.
    QueryDef("v_ivfpq_rerank", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
      e.join(broadcast(pqAdcTop(s, d, 50)), Seq("vec_id"))
        .crossJoin(broadcast(probe))
        .select(col("vec_id"), col("adc_units"), expr(exactD2uSql).as("d2u"))
        .orderBy(col("d2u"), col("vec_id"))
        .limit(10)
    },
      // v_pq_adc's replay extended by the serve path: ADC top-50 shortlist,
      // then the exact integer-unit L2 re-rank of just those 50
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         lut AS (SELECT ss, code, d2u FROM dist WHERE vec_id = 0),
         sel AS (
           SELECT vec_id, ss, code FROM (
             SELECT vec_id, ss, code,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         adc50 AS (
           SELECT sel.vec_id, CAST(sum(lut.d2u) AS BIGINT) AS adc_units
           FROM sel JOIN lut ON lut.ss = sel.ss AND lut.code = sel.code
           WHERE sel.vec_id <> 0
           GROUP BY sel.vec_id
           ORDER BY adc_units, sel.vec_id LIMIT 50),
         qx AS (SELECT e, i FROM ex WHERE vec_id = 0),
         exact AS (
           SELECT ex.vec_id,
                  CAST(floor(sum((ex.e - qx.e) * (ex.e - qx.e)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM ex JOIN qx ON ex.i = qx.i GROUP BY ex.vec_id)
         SELECT a.vec_id, a.adc_units, x.d2u
         FROM adc50 a JOIN exact x ON x.vec_id = a.vec_id
         ORDER BY x.d2u, a.vec_id LIMIT 10"""),

    // R19 — PQ RECALL AUDIT: how much does 8-byte quantization distort
    // the top-10? ADC approximates squared L2, so the truth twin is the
    // exact integer-unit squared-L2 top-10 against the same probe (NOT
    // cosine — that would conflate metric mismatch with PQ distortion;
    // the cosine twins audit the ANN paths). Two observations, both
    // deterministic integer arithmetic with vec_id tie-breaks so the
    // oracle replays the COUNTS exactly — observed distortion, not an
    // assumed bound (the `d_minhash_lsh` discipline applied to PQ):
    // `n_overlap_top10` is the naive ADC@10 ∩ exact@10, and
    // `n_shortlist_hits` is how many of the exact top-10 the ADC top-50
    // SHORTLIST captures — the production serving shape (ADC shortlists,
    // exact re-rank picks; recall is controlled by the 5× shortlist, and
    // the deterministic first-16-vectors codebook — the test-scale
    // stand-in for the per-subspace k-means v_kmeans_refine trains —
    // is exactly what the gap between the two counts prices). Scale
    // shape: both top-ks are TakeOrderedAndProject over per-row folds
    // (probe vector broadcast); the overlap joins ≤50-row sets.
    QueryDef("v_pq_recall", (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
      val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
      val exact10 = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .select(col("vec_id"), expr(exactD2uSql).as("d2u"))
        .orderBy(col("d2u"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"))
      // ONE corpus pass: the ADC@10 set is the shortlist's first 10, so
      // rank the 50-row TakeOrdered output (trivial single-partition
      // window over 50 rows) and derive both counts from one join — a
      // second reference to adc50 re-executed the whole corpus encode
      // (distinct subtrees, no exchange to reuse; measured 2× cost)
      val wRank = Window.orderBy(col("adc_units"), col("vec_id"))
      pqAdcTop(s, d, 50)
        .withColumn("rk", row_number().over(wRank))
        .join(exact10, "vec_id")
        .agg(
          coalesce(sum(when(col("rk") <= 10, 1L).otherwise(0L)), lit(0L))
            .as("n_overlap_top10"),
          count(lit(1)).as("n_shortlist_hits"))
    },
      // replays BOTH top-10s (ADC over codes+LUT, exact integer-unit
      // squared L2) and the overlap count — observed PQ distortion
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         lut AS (SELECT ss, code, d2u FROM dist WHERE vec_id = 0),
         sel AS (
           SELECT vec_id, ss, code FROM (
             SELECT vec_id, ss, code,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         adc50 AS (
           SELECT sel.vec_id, CAST(sum(lut.d2u) AS BIGINT) AS adc_units
           FROM sel JOIN lut ON lut.ss = sel.ss AND lut.code = sel.code
           WHERE sel.vec_id <> 0
           GROUP BY sel.vec_id
           ORDER BY CAST(sum(lut.d2u) AS BIGINT), sel.vec_id LIMIT 50),
         adc10 AS (
           SELECT vec_id FROM adc50 ORDER BY adc_units, vec_id LIMIT 10),
         qx AS (SELECT e, i FROM ex WHERE vec_id = 0),
         exact10 AS (
           SELECT ex.vec_id
           FROM ex JOIN qx ON ex.i = qx.i
           WHERE ex.vec_id <> 0
           GROUP BY ex.vec_id
           ORDER BY CAST(floor(sum((ex.e - qx.e) * (ex.e - qx.e)) * 10000 + 0.5)
                         AS BIGINT), ex.vec_id LIMIT 10)
         SELECT
           (SELECT CAST(count(*) AS BIGINT)
            FROM adc10 JOIN exact10 USING (vec_id)) AS n_overlap_top10,
           (SELECT CAST(count(*) AS BIGINT)
            FROM adc50 JOIN exact10 USING (vec_id)) AS n_shortlist_hits"""),

    // R19 — IVF-PQ SEARCH, the composed end-to-end index query the pieces
    // above build toward (and the batch capstone of the vector path, the
    // way d_corpus_build is the corpus path's): coarse quantizer from
    // `v_ann_ivf` (every 13th vector a centroid), probe ranks all cells
    // by the 4-dp-floored cosine and keeps its best nprobe=2; the
    // index-build pass assigns every vector its home cell (per-row argmax
    // over the broadcast centroid array — the zero-exchange E-step shape
    // from v_kmeans_refine) AND its packed PQ code in the SAME per-row
    // select; serving then touches ONLY vectors homed in the probed
    // cells: unpack the stored code, 8 positional LUT lookups
    // (native `graft_pq_adc`), top-10 via TakeOrderedAndProject. Everything small
    // is broadcast (centroids, codebook, LUT, the 2-cell probe list); the
    // corpus side is one scan with per-row work and NO join, NO shuffle —
    // at 100 TB the cell filter is the point: ADC cost is |probed cells|,
    // not |corpus| (the in-plan assignment/encode is the index BUILD; a
    // production deployment materializes `pqCodes`+cells once and pays
    // only the probed-cell scan per query). Integer-unit ADC + the same
    // argmax disciplines everywhere ⇒ the oracle replays cell choice,
    // codes, LUT, sums, and the top-10 exactly.
    QueryDef("v_ivfpq_search", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      ivfpqSearch(Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64))
    },
      // replays the coarse quantizer (stride-13 centroids, 4-dp-floored
      // cosine, c DESC / cell ASC argmax), the probe's nprobe=2 cell pick,
      // the code assignment, the LUT, and the within-cell ADC top-10 — all
      // integer units, hashed values
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         lut AS (SELECT ss, code, d2u FROM dist WHERE vec_id = 0),
         sel AS (
           SELECT vec_id, ss, code FROM (
             SELECT vec_id, ss, code,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         cdots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 13 = 0
           GROUP BY 1, 2),
         cc AS (
           SELECT vid, cell,
                  CASE WHEN nx.n * ny.n > 0
                    THEN floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM cdots JOIN nrm nx ON nx.vec_id = vid
                      JOIN nrm ny ON ny.vec_id = cell),
         probe_cells AS (
           SELECT cell FROM (
             SELECT cell,
                    row_number() OVER (ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM cc WHERE vid = 0) WHERE rk <= 2),
         home AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM cc) WHERE rk = 1),
         adc AS (
           SELECT sel.vec_id, CAST(sum(lut.d2u) AS BIGINT) AS adc_units
           FROM sel JOIN lut ON lut.ss = sel.ss AND lut.code = sel.code
           WHERE sel.vec_id <> 0
           GROUP BY sel.vec_id)
         SELECT a.vec_id, h.cell, a.adc_units
         FROM adc a JOIN home h ON h.vid = a.vec_id
         WHERE h.cell IN (SELECT cell FROM probe_cells)
         ORDER BY a.adc_units, a.vec_id LIMIT 10"""),

    // R19/R10 — BATCHED IVF-PQ serving, the throughput shape a real ANN
    // service runs (answer a probe SET per scan, not one probe per scan):
    // ~64 probes (the count-derived in-plan modulus — the ANN-audit
    // discipline, so probe cost is bounded at ANY scale) each rank their
    // nprobe=2 cells and precompute their LUT in ONE pass over the probe
    // rows; the corpus is encoded ONCE (home cell + stored code, the
    // index-build pass); then ONE broadcast join fans each stored code
    // out to exactly the probes probing its cell, each (probe, code)
    // pair costs 8 positional lookups against that probe's own LUT, and
    // the native TopKPerKey heap keeps 3 per probe (≤ k rows per
    // partition enter the shuffle — the only corpus-sized exchange in
    // the plan, already top-k-pruned). The probe table is
    // budget-bounded (64 rows × ~1.2 KB of cells+LUT), so its broadcast
    // is scale-correct. All-integer ADC + the shared argmax disciplines
    // ⇒ the oracle replays every probe's cells, every code, every sum,
    // and the per-probe top-3 exactly.
    QueryDef("v_ivfpq_batch", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
        .withColumn("nrm", l2Norm(col("v")))
      val (centArr, cb) = pqIndexBuild(e)
      val m = e.agg(expr(
        auditProbeModSql).as("mod"))
      val probeTab = e.join(broadcast(m))
        .filter(col("vec_id") % col("mod") === 0)
        .crossJoin(broadcast(centArr)).crossJoin(broadcast(cb))
        .select(col("vec_id").as("probe_id"),
          expr(probeCellsSql(2)).as("probe_cells"),
          expr(pqLutSql).as("lut"))
      val codes = e.crossJoin(broadcast(centArr))
        .select(col("vec_id"), col("v"),
          expr("graft_pick_cell(v, nrm, cells).cell").as("cell"))
        .crossJoin(broadcast(cbFlatOf(cb)))
        .select(col("vec_id"), col("cell"),
          element_at(expr("graft_pq_encode(v, cbflat)"), 1).as("pq_code"))
      val w = Window.partitionBy(col("probe_id"))
        .orderBy(col("adc_units"), col("vec_id"))
      codes.join(broadcast(probeTab),
          array_contains(col("probe_cells"), col("cell")) &&
            col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"), col("cell"),
          expr("graft_pq_adc(pq_code, lut)").as("adc_units"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("probe_id"), col("vec_id"), col("cell"), col("adc_units"))
        .orderBy(col("probe_id"), col("adc_units"), col("vec_id"))
    },
      // replays the probe-set modulus, every probe's nprobe=2 cells + LUT,
      // the home-cell assignment, the codes, the per-(probe, member) ADC
      // sums, and the per-probe top-3 — all integer units
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         md AS (
           SELECT (count(*) + 63) // 64 AS m
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         sel AS (
           SELECT vec_id, ss, code FROM (
             SELECT vec_id, ss, code,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         cdots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 13 = 0
           GROUP BY 1, 2),
         cc AS (
           SELECT vid, cell,
                  CASE WHEN nx.n * ny.n > 0
                    THEN floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM cdots JOIN nrm nx ON nx.vec_id = vid
                      JOIN nrm ny ON ny.vec_id = cell),
         home AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM cc) WHERE rk = 1),
         pcells AS (
           SELECT vid AS probe_id, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM cc WHERE vid % (SELECT m FROM md) = 0) WHERE rk <= 2),
         lutp AS (
           SELECT vec_id AS probe_id, ss, code, d2u FROM dist
           WHERE vec_id % (SELECT m FROM md) = 0),
         adc AS (
           SELECT pc.probe_id, h.vid AS vec_id, h.cell,
                  CAST(sum(l.d2u) AS BIGINT) AS adc_units
           FROM home h
           JOIN pcells pc ON pc.cell = h.cell AND h.vid <> pc.probe_id
           JOIN sel s ON s.vec_id = h.vid
           JOIN lutp l ON l.probe_id = pc.probe_id AND l.ss = s.ss
                      AND l.code = s.code
           GROUP BY 1, 2, 3)
         SELECT probe_id, vec_id, cell, adc_units FROM (
           SELECT probe_id, vec_id, cell, adc_units,
                  row_number() OVER (PARTITION BY probe_id
                                     ORDER BY adc_units, vec_id) AS rk
           FROM adc) WHERE rk <= 3
         ORDER BY probe_id, adc_units, vec_id"""),

    // R19/R10 — IVF-PQ SEARCH OVER THE TRAINED COARSE QUANTIZER: the same
    // end-to-end serve as v_ivfpq_search, but the coarse cells are the
    // Lloyd-TRAINED centroids [[refinedCentArrK]] produces (THREE
    // deterministic E/M steps from the stride-13 seeds — r12, was one)
    // instead of the raw seed vectors — v_kmeans_refine's training
    // finally feeding the index it was priced for. Everything downstream
    // is byte-identical machinery: per-row argmax assignment, probed-cell
    // pruning, native PQ encode, LUT ADC, top-10. The oracle replays the
    // training as a materialized CTE chain (assignment + per-dim means,
    // ×3 — the v_pca_power fixed-unroll discipline), the trained-cell
    // probe pick, and the within-cell ADC exactly — a FIXED step count,
    // so the replay is closed form, no iteration count to drift.
    QueryDef("v_ivfpq_trained", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
        .withColumn("nrm", l2Norm(col("v")))
      ivfpqServe(e, refinedCentArrK(e, 13, 3), pqCodebook(e), 2)
    },
      // replays the THREE Lloyd steps (seed assignment, per-dim member
      // means, re-assignment ×2 — a materialized CTE chain, r12), the
      // trained-cell probe pick, the home assignment against the final
      // centroids, and the within-cell ADC top-10 — integer units, hashed
      // values
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         lut AS (SELECT ss, code, d2u FROM dist WHERE vec_id = 0),
         sel AS (
           SELECT vec_id, ss, code FROM (
             SELECT vec_id, ss, code,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         sdots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 13 = 0
           GROUP BY 1, 2),
         sc AS (
           SELECT vid, cell,
                  CASE WHEN nx.n * ny.n > 0
                    THEN floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM sdots JOIN nrm nx ON nx.vec_id = vid
                      JOIN nrm ny ON ny.vec_id = cell),
         shome AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM sc) WHERE rk = 1),
         cent AS (
           SELECT sh.cell, x.i, avg(x.e) AS m
           FROM shome sh JOIN ex x ON x.vec_id = sh.vid
           GROUP BY 1, 2),
         cnrm AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent GROUP BY cell),
         rdots AS (
           SELECT x.vec_id AS vid, c2.cell AS cell, sum(x.e * c2.m) AS dp
           FROM ex x JOIN cent c2 ON c2.i = x.i
           GROUP BY 1, 2),
         rc AS (
           SELECT rdots.vid, rdots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM rdots JOIN nrm nx ON nx.vec_id = rdots.vid
                      JOIN cnrm cn ON cn.cell = rdots.cell),
         home1 AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM rc) WHERE rk = 1),
         cent2 AS (
           SELECT h.cell, x.i, avg(x.e) AS m
           FROM home1 h JOIN ex x ON x.vec_id = h.vid
           GROUP BY 1, 2),
         cnrm2 AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent2 GROUP BY cell),
         r2dots AS (
           SELECT x.vec_id AS vid, c2.cell AS cell, sum(x.e * c2.m) AS dp
           FROM ex x JOIN cent2 c2 ON c2.i = x.i
           GROUP BY 1, 2),
         r2c AS (
           SELECT r2dots.vid, r2dots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM r2dots JOIN nrm nx ON nx.vec_id = r2dots.vid
                       JOIN cnrm2 cn ON cn.cell = r2dots.cell),
         home2 AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r2c) WHERE rk = 1),
         cent3 AS (
           SELECT h.cell, x.i, avg(x.e) AS m
           FROM home2 h JOIN ex x ON x.vec_id = h.vid
           GROUP BY 1, 2),
         cnrm3 AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent3 GROUP BY cell),
         r3dots AS (
           SELECT x.vec_id AS vid, c3.cell AS cell, sum(x.e * c3.m) AS dp
           FROM ex x JOIN cent3 c3 ON c3.i = x.i
           GROUP BY 1, 2),
         r3c AS (
           SELECT r3dots.vid, r3dots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM r3dots JOIN nrm nx ON nx.vec_id = r3dots.vid
                       JOIN cnrm3 cn ON cn.cell = r3dots.cell),
         probe_cells AS (
           SELECT cell FROM (
             SELECT cell,
                    row_number() OVER (ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r3c WHERE vid = 0) WHERE rk <= 2),
         home AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r3c) WHERE rk = 1),
         adc AS (
           SELECT sel.vec_id, CAST(sum(lut.d2u) AS BIGINT) AS adc_units
           FROM sel JOIN lut ON lut.ss = sel.ss AND lut.code = sel.code
           WHERE sel.vec_id <> 0
           GROUP BY sel.vec_id)
         SELECT a.vec_id, h.cell, a.adc_units
         FROM adc a JOIN home h ON h.vid = a.vec_id
         WHERE h.cell IN (SELECT cell FROM probe_cells)
         ORDER BY a.adc_units, a.vec_id LIMIT 10"""),

    // R19/R10 — WHAT DID TRAINING BUY? One-row audit pricing the refined
    // coarse quantizer against the strided seeds on the SAME two axes the
    // IVF path cares about: (a) cohesion — the corpus-mean member→home-
    // centroid cosine (the Lloyd objective; must not get worse), and
    // (b) probed-cell recall — how many of the probe's exact integer-unit
    // L2 top-10 live in the 2 cells that quantizer's probe pick actually
    // searches (the quantity v_pq_recall prices for PQ distortion, here
    // priced for COARSE-quantizer placement). Observed numbers, not
    // assumed bounds — the d_minhash_lsh audit discipline applied to
    // training. Scale shape: one per-row argmax pass per quantizer (a
    // broadcast array each), the shared 10-row exact top-10, and two
    // scalar aggregates; nothing corpus-sized shuffles.
    QueryDef("v_ivf_train_gain", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
        .withColumn("nrm", l2Norm(col("v")))
      val probe = e.filter(col("vec_id") === 0)
      val exact10 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe.select(col("v").as("pv"))))
        .select(col("vec_id"), expr(exactD2uSql).as("d2u"))
        .orderBy(col("d2u"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"), lit(1L).as("hit"))
      def audit(centArr: DataFrame, tag: String): DataFrame =
        e.crossJoin(broadcast(centArr))
          .select(col("vec_id"),
            expr("graft_pick_cell(v, nrm, cells)").as("a"))
          .join(broadcast(exact10), Seq("vec_id"), "left")
          .crossJoin(broadcast(probeCellsOf(probe, centArr, 2)))
          .agg(
            floorRound(avg(col("a.best")), 4).as(s"avg_cohesion_$tag"),
            coalesce(sum(when(col("hit").isNotNull &&
                array_contains(col("probe_cells"), col("a.cell")), 1L)
              .otherwise(0L)), lit(0L)).as(s"n_top10_in_probed_$tag"))
      // Shared quantizer chain (r21, the v_ivf_retrain shared-seed fix):
      // the three audited quantizers are a PREFIX CHAIN — seed, 1 Lloyd
      // step from it, 3 steps from it — but building each independently
      // re-ran the seed agg three times and Lloyd step 1 twice. One cut
      // seed + one cut step-1 frame now feed all three audits (this query
      // owns both frames, so nothing supersedes them); values are
      // bit-identical — the cut only changes where the bytes live.
      val seedCells = Lineage.cut(seedCellArr(e, 13))
      val t1 = Lineage.cut(lloydStep(e, seedCells))
      audit(seedCells, "seed")
        .crossJoin(audit(t1, "trained"))
        // r12: the 3-step quantizer v_ivfpq_trained now serves from,
        // priced on the same two axes — the "what did MORE training buy"
        // column pair (strict cohesion improvement over the 1-step figure
        // is asserted in SimilaritySpec, not hash-compared: it is a
        // property of Lloyd on this corpus, not an analytic guarantee
        // for the cosine objective)
        .crossJoin(audit(refinedCentArrKFrom(e, t1, 2), "trained3"))
    },
      // replays all three quantizers' home assignments + cohesions (seed,
      // 1-step, 3-step — the extra Lloyd steps as a materialized CTE chain,
      // r12), the three probe picks, the exact top-10, and the three
      // reachability counts
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         nrm AS (SELECT vec_id, sqrt(sum(e * e)) AS n FROM ex GROUP BY vec_id),
         sdots AS (
           SELECT x.vec_id AS vid, y.vec_id AS cell, sum(x.e * y.e) AS dp
           FROM ex x JOIN ex y ON y.i = x.i AND y.vec_id % 13 = 0
           GROUP BY 1, 2),
         sc AS (
           SELECT vid, cell,
                  CASE WHEN nx.n * ny.n > 0
                    THEN floor((dp / (nx.n * ny.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM sdots JOIN nrm nx ON nx.vec_id = vid
                      JOIN nrm ny ON ny.vec_id = cell),
         shome AS (
           SELECT vid, cell, coalesce(c, -2) AS c FROM (
             SELECT vid, cell, c,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM sc) WHERE rk = 1),
         cent AS (
           SELECT sh.cell, x.i, avg(x.e) AS m
           FROM shome sh JOIN ex x ON x.vec_id = sh.vid
           GROUP BY 1, 2),
         cnrm AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent GROUP BY cell),
         rdots AS (
           SELECT x.vec_id AS vid, c2.cell AS cell, sum(x.e * c2.m) AS dp
           FROM ex x JOIN cent c2 ON c2.i = x.i
           GROUP BY 1, 2),
         rc AS (
           SELECT rdots.vid, rdots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM rdots JOIN nrm nx ON nx.vec_id = rdots.vid
                      JOIN cnrm cn ON cn.cell = rdots.cell),
         rhome AS (
           SELECT vid, cell, coalesce(c, -2) AS c FROM (
             SELECT vid, cell, c,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM rc) WHERE rk = 1),
         cent2 AS (
           SELECT h.cell, x.i, avg(x.e) AS m
           FROM rhome h JOIN ex x ON x.vec_id = h.vid
           GROUP BY 1, 2),
         cnrm2 AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent2 GROUP BY cell),
         r2dots AS (
           SELECT x.vec_id AS vid, c2.cell AS cell, sum(x.e * c2.m) AS dp
           FROM ex x JOIN cent2 c2 ON c2.i = x.i
           GROUP BY 1, 2),
         r2c AS (
           SELECT r2dots.vid, r2dots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM r2dots JOIN nrm nx ON nx.vec_id = r2dots.vid
                       JOIN cnrm2 cn ON cn.cell = r2dots.cell),
         home2 AS (
           SELECT vid, cell FROM (
             SELECT vid, cell,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r2c) WHERE rk = 1),
         cent3 AS (
           SELECT h.cell, x.i, avg(x.e) AS m
           FROM home2 h JOIN ex x ON x.vec_id = h.vid
           GROUP BY 1, 2),
         cnrm3 AS (SELECT cell, sqrt(sum(m * m)) AS n FROM cent3 GROUP BY cell),
         r3dots AS (
           SELECT x.vec_id AS vid, c3.cell AS cell, sum(x.e * c3.m) AS dp
           FROM ex x JOIN cent3 c3 ON c3.i = x.i
           GROUP BY 1, 2),
         r3c AS (
           SELECT r3dots.vid, r3dots.cell,
                  CASE WHEN nx.n * cn.n > 0
                    THEN floor((dp / (nx.n * cn.n)) * 10000 + 0.5) / 10000
                  END AS c
           FROM r3dots JOIN nrm nx ON nx.vec_id = r3dots.vid
                       JOIN cnrm3 cn ON cn.cell = r3dots.cell),
         rhome3 AS (
           SELECT vid, cell, coalesce(c, -2) AS c FROM (
             SELECT vid, cell, c,
                    row_number() OVER (PARTITION BY vid
                                       ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r3c) WHERE rk = 1),
         rpc3 AS (
           SELECT cell FROM (
             SELECT cell,
                    row_number() OVER (ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM r3c WHERE vid = 0) WHERE rk <= 2),
         spc AS (
           SELECT cell FROM (
             SELECT cell,
                    row_number() OVER (ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM sc WHERE vid = 0) WHERE rk <= 2),
         rpc AS (
           SELECT cell FROM (
             SELECT cell,
                    row_number() OVER (ORDER BY coalesce(c, -2) DESC, cell) AS rk
             FROM rc WHERE vid = 0) WHERE rk <= 2),
         qx AS (SELECT e, i FROM ex WHERE vec_id = 0),
         exact10 AS (
           SELECT ex.vec_id
           FROM ex JOIN qx ON ex.i = qx.i
           WHERE ex.vec_id <> 0
           GROUP BY ex.vec_id
           ORDER BY CAST(floor(sum((ex.e - qx.e) * (ex.e - qx.e)) * 10000 + 0.5)
                         AS BIGINT), ex.vec_id LIMIT 10)
         SELECT
           (SELECT floor(avg(c) * 10000 + 0.5) / 10000 FROM shome)
             AS avg_cohesion_seed,
           (SELECT CAST(count(*) AS BIGINT) FROM shome
            JOIN exact10 ON exact10.vec_id = shome.vid
            WHERE shome.cell IN (SELECT cell FROM spc))
             AS n_top10_in_probed_seed,
           (SELECT floor(avg(c) * 10000 + 0.5) / 10000 FROM rhome)
             AS avg_cohesion_trained,
           (SELECT CAST(count(*) AS BIGINT) FROM rhome
            JOIN exact10 ON exact10.vec_id = rhome.vid
            WHERE rhome.cell IN (SELECT cell FROM rpc))
             AS n_top10_in_probed_trained,
           (SELECT floor(avg(c) * 10000 + 0.5) / 10000 FROM rhome3)
             AS avg_cohesion_trained3,
           (SELECT CAST(count(*) AS BIGINT) FROM rhome3
            JOIN exact10 ON exact10.vec_id = rhome3.vid
            WHERE rhome3.cell IN (SELECT cell FROM rpc3))
             AS n_top10_in_probed_trained3"""),

    // R19/R10 — PQ CODEBOOK TRAINING GAIN: the fine quantizer's twin of
    // v_ivf_train_gain. The deterministic first-16-vectors codebook is a
    // stand-in (v_pq_recall prices it); here ONE per-subspace Lloyd step
    // trains it — E-step: the stored code assignment pqCodesCore already
    // computes (integer-exact argmin); M-step: per-(subspace, code, dim)
    // member means, empty codes keeping their seed entry — and the corpus
    // is re-encoded against the refined codebook. Output: the total
    // integer-unit quantization error under each codebook plus the
    // improved flag. Lloyd guarantees the TRUE (unrounded) MSE is
    // non-increasing; `improved` compares per-(vector,subspace) distances
    // rounded to integer units, so when the true improvement is smaller
    // than the accumulated rounding noise the flag can legitimately come
    // out false — it reports the direction at integer precision (the
    // precision the oracle can reproduce exactly), it does not assert the
    // analytic guarantee. Scale shape:
    // both encode passes are per-row native folds against broadcast flat
    // codebooks; the M-step shuffles (ss, code, pos) partial sums — ≤1024
    // groups — never vectors; the codebook rebuild joins two ≤128-row
    // frames.
    QueryDef("v_pq_train_gain", (s, d) => {
      graft.plans.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .filter(size(col("v")) === 64)
      // seed assignment + seed error in ONE per-row encode against the
      // broadcast seed codebook. The encode subtree is referenced twice
      // (M-step feed + seed-error sum) and recomputes — the kmeansRefine
      // recompute-over-cache discipline: two per-row fold passes beat a
      // corpus-sized vec_id join (the join formulation shuffled the whole
      // corpus to pair vectors with their own codes)
      val enc = e.crossJoin(broadcast(pqCodebookFlat(e)))
        .select(col("vec_id"), col("v"),
          expr("graft_pq_encode(v, cbflat)").as("r")) // fold once per row
        .select(col("vec_id"), col("v"),
          element_at(col("r"), 1).as("pq_code"),
          element_at(col("r"), 2).as("mse_units"))
      // M-step: peel each base-17 digit, average members per (ss, code, dim)
      val refined = enc
        .select(col("v"), explode(expr(
          """transform(sequence(0, 7), j -> struct(j AS ss,
               CAST((pq_code div CAST(power(17, j) AS BIGINT)) % 17 AS INT) AS code,
               slice(v, j * 8 + 1, 8) AS sv))""")).as("a"))
        .select(col("a.ss"), col("a.code"), posexplode(col("a.sv")).as(Seq("pos", "x")))
        .groupBy(col("ss"), col("code"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("ss"), col("code"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("ss"), col("code"), expr("transform(pm, p -> p.m)").as("rsv"))
      // refined codebook with seed fallback for memberless codes, rebuilt
      // into the flat [ss][code][dim] layout graft_pq_encode consumes
      val cbRefFlat = pqCodebook(e)
        .select(explode(col("cb")).as("c"))
        .select(col("c.ss"), col("c.code"), col("c.sv"))
        .join(refined, Seq("ss", "code"), "left")
        .select(col("ss"), col("code"), coalesce(col("rsv"), col("sv")).as("sv"))
        .agg(array_sort(collect_list(struct(col("ss"), col("code"), col("sv")))).as("es"))
        .select(expr(
          """flatten(transform(es, c -> c.sv))""").as("cbflat"))
      val seedErr = enc.agg(sum(col("mse_units")).as("mse_units_seed"))
      val trainedErr = e.crossJoin(broadcast(cbRefFlat))
        .select(element_at(expr("graft_pq_encode(v, cbflat)"), 2).as("m2"))
        .agg(sum(col("m2")).as("mse_units_trained"))
      seedErr.crossJoin(trainedErr)
        .select(col("mse_units_seed"), col("mse_units_trained"),
          (col("mse_units_trained") <= col("mse_units_seed")).as("improved"))
    },
      // replays the seed encode, the per-(subspace, code, dim) M-step with
      // seed fallback, the re-encode, and both integer error totals
      """WITH ex AS (
           SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
                  generate_subscripts(embedding, 1) AS i
           FROM embeddings WHERE len(embedding) = 64),
         sub AS (
           SELECT vec_id, CAST((i - 1) // 8 AS INT) AS ss, (i - 1) % 8 AS d, e
           FROM ex),
         cb AS (
           SELECT CAST(vec_id AS INT) AS code, ss, d, e AS c
           FROM sub WHERE vec_id < 16),
         dist AS (
           SELECT s.vec_id, s.ss, cb.code,
                  CAST(floor(sum((s.e - cb.c) * (s.e - cb.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb ON cb.ss = s.ss AND cb.d = s.d
           GROUP BY 1, 2, 3),
         sel AS (
           SELECT vec_id, ss, code, d2u FROM (
             SELECT vec_id, ss, code, d2u,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist) WHERE rk = 1),
         seed_err AS (
           SELECT CAST(sum(d2u) AS BIGINT) AS mse_units_seed FROM sel),
         cent AS (
           SELECT sel.ss, sel.code, s.d, avg(s.e) AS m
           FROM sel JOIN sub s ON s.vec_id = sel.vec_id AND s.ss = sel.ss
           GROUP BY 1, 2, 3),
         cb2 AS (
           SELECT cb.ss, cb.code, cb.d, coalesce(cent.m, cb.c) AS c
           FROM cb LEFT JOIN cent ON cent.ss = cb.ss AND cent.code = cb.code
                                 AND cent.d = cb.d),
         dist2 AS (
           SELECT s.vec_id, s.ss, cb2.code,
                  CAST(floor(sum((s.e - cb2.c) * (s.e - cb2.c)) * 10000 + 0.5)
                       AS BIGINT) AS d2u
           FROM sub s JOIN cb2 ON cb2.ss = s.ss AND cb2.d = s.d
           GROUP BY 1, 2, 3),
         sel2 AS (
           SELECT vec_id, ss, code, d2u FROM (
             SELECT vec_id, ss, code, d2u,
                    row_number() OVER (PARTITION BY vec_id, ss
                                       ORDER BY d2u, code) AS rk
             FROM dist2) WHERE rk = 1),
         tr_err AS (
           SELECT CAST(sum(d2u) AS BIGINT) AS mse_units_trained FROM sel2)
         SELECT mse_units_seed, mse_units_trained,
                (mse_units_trained <= mse_units_seed) AS improved
         FROM seed_err, tr_err""")
  )
}
