package graft

/** Physical-plan regression guards: the properties that make these queries
  * scale (broadcasts, pushdown, pruning, top-k) must survive refactors.
  */
class PlanSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  /** Runs `body` with the window top-k rewrite installed, as Bench and
    * Verify run, then restores the shared session's optimizer rules and
    * strategies so later suites keep their un-rewritten plans.
    */
  private def withTopKRewrite[T](body: => T): T = {
    val (rules, strategies) =
      (spark.experimental.extraOptimizations, spark.experimental.extraStrategies)
    graft.plans.TopKRewrite.enable(spark)
    try body
    finally {
      spark.experimental.extraOptimizations = rules
      spark.experimental.extraStrategies = strategies
    }
  }

  test("q_star_join: dimensions broadcast, no cartesian product") {
    val p = plan("q_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("s_seek_ordinal: seek predicate pushed into the parquet scan") {
    val p = plan("s_seek_ordinal")
    assert(p.contains("GreaterThanOrEqual(event_id,100)"), p.take(800))
  }

  test("p_enrich_json: unused columns pruned from the scan") {
    val p = plan("p_enrich_json")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("user_id") && !readSchema.contains("value"), readSchema)
  }

  test("q_topk_orders: top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("d_minhash_lsh: native expressions in play, no cartesian product") {
    val p = plan("d_minhash_lsh")
    assert(p.contains("graft_minhash"), "native minhash missing")
    assert(p.contains("graft_shingles"), "native shingles missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("v_cosine_probe: single-row probe broadcast; native dot product") {
    val p = plan("v_cosine_probe")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("graft_dot"), "native dot product missing")
  }

  test("p_forward_filter: envelope path runs inside whole-stage codegen") {
    // AQE only finalizes (and shows codegen stages, rendered "*(n) Op")
    // after execution — run the query, then inspect the final plan.
    val df = SparkEntry.queries("p_forward_filter")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(600))
  }

  test("GraftExtensions wires the native functions into SparkSessionExtensions") {
    // full application needs a fresh session (extensions bind at build
    // time); here we verify the injection itself is well-formed
    new graft.plans.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("q7_nation_trade: all four dimensions broadcast; facts never do") {
    val p = plan("q7_nation_trade")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("q10_returned: return-flag filter pushed to the lineitem scan, top-k not a sort") {
    val p = plan("q10_returned")
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q14_promo: part is the broadcast side of the fact join") {
    val p = plan("q14_promo")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("q_exists_subquery: no per-row subquery — one semi join, scalar broadcast") {
    val p = plan("q_exists_subquery")
    assert(p.contains("LeftSemi"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("r_gap_detect: NO window operator anywhere — join-based runs/span algebra") {
    for (q <- Seq("r_gap_detect", "r_gap_detect_per_stream")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q plans a window:\n${p.take(800)}")
      assert(p.contains("LeftAnti"), s"$q missing the run-start anti join:\n${p.take(800)}")
    }
  }

  test("q_skew_hotkey_join: hot-key set is broadcast on every split join") {
    val p = plan("q_skew_hotkey_join")
    // 4 splits (big/small × hot/cold) each join against the broadcast hot set
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(1200))
    assert(p.contains("LeftAnti"), p.take(1200)) // the cold-path split
    assert(!p.contains("CartesianProduct"))
  }

  test("m_phash_neardup: blocked equi-join on the hash, no cartesian") {
    val p = plan("m_phash_neardup")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("v_ann_lsh / v_ann_ivf: no full-corpus nested-loop join — audit side is sampled") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    def physical(name: String): SparkPlan =
      SparkEntry.queries(name)(spark, d).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.inputPlan
        case p => p
      }
    // BNLJs hidden inside cached subtrees count too — an InMemoryRelation
    // would otherwise make this check pass vacuously for the plan it hides
    def collectBnljs(p: SparkPlan): Seq[BroadcastNestedLoopJoinExec] =
      p.collect {
        case j: BroadcastNestedLoopJoinExec => Seq(j)
        case s: InMemoryTableScanExec => collectBnljs(s.relation.cachedPlan)
      }.flatten
    var audits = 0
    for (q <- Seq("v_ann_lsh", "v_ann_ivf")) {
      val exec = physical(q)
      val bnljs = collectBnljs(exec)
      // a nested-loop join is only allowed when one side is provably small:
      // the budget-bounded audit probe sample (vec_id % mod = 0, mod from
      // the corpus count), the 1-in-13 centroid pick, or a single-row
      // scalar aggregate (the broadcast `mod` value itself). Two unfiltered
      // corpus scans meeting in a BNLJ is the O(n²) scale-killer this pin
      // exists to prevent.
      bnljs.foreach { j =>
        val smallSide = j.children.exists { c =>
          val s = c.toString
          s.contains("% mod") || s.contains("% 13") || s.contains("count(1)") ||
            !s.contains("Scan parquet")
        }
        assert(smallSide,
          s"$q: full-corpus BroadcastNestedLoopJoin:\n${j.toString.take(1500)}")
        if (j.toString.contains("% mod")) audits += 1
      }
      assert(!exec.toString.contains("CartesianProduct"))
    }
    // the sampled exact-audit join must be visible in BOTH plans — neither
    // query caches the audit subtree any more, so nothing can hide it
    assert(audits >= 2, s"sampled exact-audit nested-loop join found in $audits of 2 plans")
  }

  test("t_decontaminate: eval gram set broadcasts; training side never shuffles on grams") {
    val p = plan("t_decontaminate")
    // the semi-probe against the eval set must be a broadcast join — a
    // shuffled semi join would move the full training gram stream
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("d_span_dedup: native shingles feed hashed-span shuffles, no cartesian") {
    val p = plan("d_span_dedup")
    assert(p.contains("graft_shingles"), "native shingles missing")
    assert(p.contains("xxhash64"), "span-hash shuffle key missing — span strings would shuffle")
    assert(!p.contains("CartesianProduct"))
  }

  test("v_ivfpq_search: no shuffle join against the corpus; native top-k") {
    // the composed index query's scale shape: centroids/codebook/LUT/
    // probe-cell list all broadcast, the corpus side one scan with
    // per-row work — any SortMergeJoin/ShuffledHashJoin here means a
    // corpus-sized exchange snuck back in
    val p = plan("v_ivfpq_search")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(800))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(p.contains("graft_dot"), "native dot product missing")
  }

  test("v_ivfpq_batch: probe table broadcast, per-probe top-3 through the native heap") {
    // the only corpus-sized exchange allowed is TopKPerKey's own
    // (already pruned to ≤ k rows per partition); the probe fan-out is a
    // broadcast join, never a shuffle join
    val p = withTopKRewrite(plan("v_ivfpq_batch"))
    assert(p.contains("TopKPerKey"), p.take(1000))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(1000))
  }

  test("v_pq_adc: serving side consumes stored codes — no argmin encode on the LUT path") {
    // the ADC fold must be 8 positional element_at lookups over the
    // broadcast LUT; exactly ONE encode fold (the index-build stage
    // feeding pq_code) may appear in the plan
    val p = plan("v_pq_adc")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("d_simhash_pairs: banded AND verify-shingle map stages each execute once (reused exchanges)") {
    // the two deliberately-shared subtrees — the scan→simhash→explode
    // banding pass (both (band,h) consumers) and the round-9 explicit
    // repartition(doc_id) above the verify shingle pass (both join
    // sides) — must each materialize ONE exchange and reuse it; losing
    // either reuse silently doubles a corpus-sized map stage
    val df = SparkEntry.queries("d_simhash_pairs")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("ReusedExchange".r.findAllIn(p).size >= 2,
      s"expected both shared exchanges reused:\n${p.take(1200)}")
    assert("hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty,
      "the explicit verify-path repartition(doc_id) exchange is gone")
  }

  test("t_perplexity_proxy: vocab-sized unigram table is never hint-forced to broadcast") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, ResolvedHint}
    val qe = SparkEntry.queries("t_perplexity_proxy")(spark, d).queryExecution
    // exactly ONE broadcast hint may exist: the 1-row corpus-total aggregate.
    // The unigram table has one row per distinct corpus token — vocabulary
    // grows with corpus size, so a forced broadcast OOMs at 100 TB. The token
    // join must be left to the planner (AQE may still broadcast when it fits).
    val hints = qe.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1,
      s"expected exactly one broadcast hint (the 1-row total), got ${hints.size}")
    assert(hints.head.toString.contains("total"),
      s"the single hint must wrap the scalar total, not the vocab:\n${hints.head.toString.take(600)}")
    // and the optimized token-key join itself carries no broadcast hint
    val tokenJoins = qe.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.toString.contains("t#")) => j
    }
    assert(tokenJoins.nonEmpty, "token join not found in optimized plan")
    tokenJoins.foreach { j =>
      assert(j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty,
        s"token join is hint-forced:\n${j.toString.take(600)}")
    }
  }

  test("d_dedup_incremental: one shuffle join keyed on the content sha") {
    val p = plan("d_dedup_incremental")
    assert(p.contains("content_sha"), p.take(800))
    assert(!p.contains("CartesianProduct"))
  }

  test("t_char_entropy: a per-document function never shuffles — zero exchanges") {
    // entropy is computed entirely per-row with higher-order functions; the
    // only legal exchange would come from the output orderBy's range
    // partitioning — anything keyed (hash partitioning) means a groupBy
    // crept back in and the operator stopped being embarrassingly parallel
    val p = plan("t_char_entropy")
    assert(!p.contains("hashpartitioning"),
      s"per-doc entropy must not hash-shuffle:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("d_prefix_dedup: every exchange keys on the prefix hash, strings never move") {
    val p = plan("d_prefix_dedup")
    assert(p.contains("xxhash64"), "prefix-hash shuffle key missing")
    // no exchange may carry the text column: the 8-byte hash is the only
    // wide-moving key (the d_span_dedup discipline)
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the group/join exchanges")
    exchanges.foreach(e => assert(!e.contains("text"),
      s"prefix strings shuffle:\n$e"))
  }

  test("r_cdc_merge: one user_id exchange feeds both window cuts and the final fold") {
    // the MERGE fold's scale claim: tombstone cut, live-insert cut, and the
    // snapshot groupBy all reuse ONE user_id hash partitioning — a second
    // keyed exchange means a window or aggregate stopped aligning with it
    val p = plan("r_cdc_merge")
    val keyed = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(keyed.size === 1, s"expected exactly one keyed exchange:\n${keyed.mkString("\n")}")
    assert(keyed.head.contains("user_id"), keyed.head)
    assert(!p.contains("CartesianProduct"))
  }

  test("sketch aggregates combine map-side: partial CMS / GK before the exchange") {
    // the scale claim for every sketch is that the shuffle carries
    // fixed-size summaries, not rows — which requires the PARTIAL
    // aggregate to run below the exchange; a final-only plan would move
    // the whole token/row stream
    val cms = plan("t_cms_heavy_hitters")
    assert(cms.contains("partial_count_min_sketch"),
      s"CMS not map-side combined:\n${cms.take(1200)}")
    val gk = plan("q_approx_quantile")
    assert(gk.contains("partial_approx_percentile"),
      s"GK summary not map-side combined:\n${gk.take(1200)}")
  }

  test("v_kmeans_refine: per-row E-step — no window, nothing corpus-wide exchanges") {
    val p = plan("v_kmeans_refine")
    // assignment is a per-row argmax over the broadcast centroid array: a
    // Window (or any vec_id exchange) means the corpus-wide shuffle crept
    // back — the shape whose two pruned branches could never exchange-reuse
    assert(!p.contains("Window"), s"corpus-wide window returned:\n${p.take(1200)}")
    assert(!p.linesIterator.exists(l =>
      l.contains("hashpartitioning") && l.contains("vec_id")),
      s"corpus shuffles on vec_id:\n${p.take(1200)}")
    // both centroid tables reach the row side as single-row broadcasts
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bloom_prefilter: bloom probe filters the fact scan below the join") {
    val p = plan("q_bloom_prefilter")
    val lines = p.linesIterator.toSeq
    val probe = lines.indexWhere(l => l.contains("might_contain"))
    assert(probe >= 0, s"bloom probe missing:\n${p.take(1200)}")
    val join = lines.indexWhere(l => l.contains("Join"))
    // tree printing is parent-first: the probe Filter must sit BELOW the
    // join (scan side), i.e. the fact rows are culled before any join or
    // exchange sees them — the runtime-filter shape
    assert(join >= 0 && probe > join,
      s"probe not under the join (join@$join probe@$probe):\n${p.take(1500)}")
    val factScan = lines.indexWhere(l => l.contains("Scan") && l.contains("lineitem"), probe)
    assert(factScan > probe, "probe does not guard the lineitem scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("d_cdc_chunks: exchanges key on chunk hashes, chunk strings never move") {
    val p = plan("d_cdc_chunks")
    assert(p.contains("xxhash64"), "chunk-hash shuffle key missing")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the group/join exchanges")
    // the d_span_dedup discipline: no exchange carries the md5 string
    // column g or the raw text — the 8-byte hash h and doc_id are the
    // only shuffle keys
    exchanges.foreach(e => assert(!e.contains("g#") && !e.contains("text"),
      s"chunk strings shuffle:\n$e"))
  }

  test("t_bpe_pairs: deterministic top-20 is TakeOrderedAndProject") {
    val p = plan("t_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("v_mmr_rerank: corpus-sized work is the top-k heap; greedy loop is one row") {
    val p = plan("v_mmr_rerank")
    // the exact shortlist must be TakeOrderedAndProject (per-partition
    // heaps), never a global sort; the fold itself plans as a projection
    // over the single packed row
    assert(p.contains("TakeOrderedAndProject"), p.take(1000))
    assert(!p.contains("CartesianProduct"))
  }

  test("d_containment: postings shuffle on gram hashes, gram strings never move") {
    // the gram xxhash64 lives in the PRE-cut array builder (r20 moved it
    // behind Lineage.cut, so the downstream plan starts at Scan
    // ExistingRDD and never shows the hashing) — pin it on the factored
    // builder, whose plan is the one that computes it
    val pre = graft.operators.Round9Queries
      .containmentGramHashes(graft.Tables.documents(spark, d))
    assert(pre.queryExecution.executedPlan.toString.contains("xxhash64"),
      "gram-hash builder lost its xxhash64")
    // and the cut hands downstream only 8-byte hashes: doc_id + ghs
    assert(pre.schema.fieldNames.toSeq == Seq("doc_id", "ghs"))
    assert(pre.schema("ghs").dataType.simpleString == "array<bigint>",
      "cut frame must carry gram HASHES, not strings")
    val p = plan("d_containment")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the posting/pair exchanges")
    // post-cut invariant: every exchange keys on gh / (da, db) / doc_id —
    // no gram string column g#, no raw text
    exchanges.foreach(e => assert(!e.contains("g#") && !e.contains("text"),
      s"gram strings shuffle:\n$e"))
    assert(exchanges.exists(_.contains("gh#")),
      s"posting exchange should key on the gram hash gh:\n${exchanges.mkString("\n")}")
  }

  test("v_ivfpq_rerank: shortlist broadcasts; corpus side never shuffles for the join") {
    val p = plan("v_ivfpq_rerank")
    assert(p.contains("BroadcastHashJoin"), p.take(1000))
    assert(!p.contains("SortMergeJoin"), "corpus-sized exchange crept into the re-rank join")
    // two heap top-ks: the ADC shortlist and the exact re-rank
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2, p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("t_decontaminate_bloom: bloom probe gates the training grams below the join") {
    val p = plan("t_decontaminate_bloom")
    val lines = p.linesIterator.toSeq
    val probe = lines.indexWhere(_.contains("might_contain"))
    assert(probe >= 0, s"bloom probe missing:\n${p.take(1200)}")
    // the probe must sit under the membership join: training grams are
    // culled by the ~128 KB binary before any gram-keyed join or exchange
    val join = lines.indexWhere(_.contains("Join"))
    assert(join >= 0 && probe > join,
      s"probe not under the join (join@$join probe@$probe):\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_funnel: one user-keyed shuffle, conditional mins combine map-side") {
    val p = plan("r_funnel")
    // every keyed exchange is the per-user first-touch agg; the funnel
    // counts ride a SinglePartition scalar agg, never another hash shuffle
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("user_id")),
      s"non-user exchange in the funnel:\n${p.take(1200)}")
    assert(p.contains("partial_min"),
      s"first-touch mins not map-side combined:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_cohort_retention: exchanges key on user or cohort grid only") {
    val p = plan("r_cohort_retention")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty, "expected the first-day/join/grid exchanges")
    keyed.foreach(k => assert(
      k.contains("user_id") || (k.contains("cohort_day") && k.contains("offset_day")),
      s"stray exchange key:\n$k"))
    assert(!p.contains("CartesianProduct"))
  }

  test("v_dim_stats: explode×64 collapses map-side — the shuffle carries dims, not elements") {
    val p = plan("v_dim_stats")
    assert(p.contains("partial_min") && p.contains("partial_avg"),
      s"moments not map-side combined:\n${p.take(1200)}")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("dim")),
      s"exchange not keyed on the dimension:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("t_zipf_slope: only the vocab builds a keyed exchange; OLS combines map-side") {
    // the corpus-sized stage is the token groupBy (map-side partial
    // count); the rank window and regression run on the vocab, which
    // Heaps' law keeps negligible relative to tokens
    val p = plan("t_zipf_slope")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("w#")),
      s"non-vocab exchange:\n${p.take(1200)}")
    assert(p.contains("partial_count"),
      s"token counts not map-side combined:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("t_redact_lexicon: per-document scrub never shuffles — zero keyed exchanges") {
    val p = plan("t_redact_lexicon")
    assert(!p.contains("hashpartitioning"),
      s"per-doc redaction must not hash-shuffle:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_zscore_outliers: 5-row stats broadcast back; exchanges key on event_type only") {
    val p = plan("r_zscore_outliers")
    assert(p.contains("BroadcastHashJoin"), s"stats frame not broadcast:\n${p.take(1200)}")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("event_type")),
      s"stray exchange key:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_weighted_sample: per-partition heap + merge, never a full sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 not heap-based:\n${p.take(1200)}")
    assert(!p.contains("hashpartitioning"),
      s"weighted sampling is per-row + heap — no keyed exchange:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("d_ppjoin: every exchange keys on the 8-byte shingle hash or doc ids — strings never move") {
    val p = plan("d_ppjoin")
    assert(p.contains("xxhash64"), "shingle-hash key missing")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the posting/verify exchanges")
    exchanges.foreach(e => assert(!e.contains("text") && !e.contains("g#"),
      s"shingle strings shuffle:\n$e"))
    assert(!p.contains("CartesianProduct"))
  }

  test("t_ngram_novelty: exchanges carry gram hashes or doc ids, never strings") {
    val p = plan("t_ngram_novelty")
    assert(p.contains("xxhash64"), "gram-hash key missing")
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, "expected the first-occurrence/doc exchanges")
    exchanges.foreach(e => assert(!e.contains("text") && !e.contains("g#"),
      s"gram strings shuffle:\n$e"))
    assert(p.contains("partial_min"),
      s"first-occurrence min not map-side combined:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_rfm_segments: cutpoints broadcast — the user frame never re-shuffles for scoring") {
    val p = plan("r_rfm_segments")
    // anchor + cutpoint frames arrive as broadcasts (1-row each); keyed
    // exchanges may only be the per-user agg and the segment-grid count
    assert("BroadcastNestedLoopJoin|BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"scalar frames not broadcast:\n${p.take(1500)}")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    keyed.foreach(k => assert(k.contains("user_id") || k.contains("segment"),
      s"stray exchange key:\n$k"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_markov_transitions: one user window, totals broadcast back") {
    val p = plan("q_markov_transitions")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(k =>
      k.contains("user_id") || k.contains("src") || k.contains("dst")),
      s"stray exchange key:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"src totals not broadcast:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_ewma: one user-keyed window carries all 8 lags") {
    val p = plan("r_ewma")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("user_id")),
      s"non-user exchange in the EWMA window:\n${p.take(1200)}")
    // all lags must ride ONE window operator — 8 separate windows would
    // re-sort the partition 8 times
    assert("Window".r.findAllIn(p).size <= 2, s"window not fused:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("g_pagerank: sub-threshold backbone takes the single-task endgame, heap top-k") {
    val df = SparkEntry.queries("g_pagerank")(spark, d)
    df.collect() // AQE finalizes the plan only at execution
    val p = df.queryExecution.executedPlan.toString
    // the capped backbone is ALWAYS sub-threshold, so the query plan is
    // the endgame: one mapPartitions replay of the integer recurrence
    // over the checkpointed frame (never a raw-table re-read) and a
    // TakeOrderedAndProject heap for the top-20. The distributed loop's
    // own shape is pinned by GraphSpec's localFinishEdges=0 twin.
    assert(!p.contains("FileScan") && !p.contains("parquet"),
      s"endgame re-read the raw table instead of the checkpointed backbone:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not heap-based:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_anomaly_mad: stats frame broadcast; exchanges key on event_type only") {
    val p = plan("r_anomaly_mad")
    assert(p.contains("BroadcastHashJoin"), s"stats not broadcast:\n${p.take(1200)}")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("event_type")),
      s"stray exchange key:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("r_changepoint_cusum: windows partition by event_type — never a global sort") {
    val p = plan("r_changepoint_cusum")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("event_type")),
      s"stray exchange key:\n${p.take(1200)}")
    assert(!p.contains("rangepartitioning(aggOrder"),
      "CUSUM window must not globally sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_scd2_orders: both windows and the run aggregate stay custkey-partitioned") {
    val p = plan("q_scd2_orders")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("custkey")),
      s"non-custkey exchange:\n${p.take(1500)}")
    // lag + running sum share one (custkey, od, orderkey) window spec
    assert("Window".r.findAllIn(p).size <= 3, s"windows not fused:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_zorder_cluster: extent frame broadcasts; one bucket-keyed aggregate") {
    val p = plan("q_zorder_cluster")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"extents not broadcast:\n${p.take(1200)}")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && keyed.forall(_.contains("bucket")),
      s"stray exchange key:\n${p.take(1200)}")
  }

  test("v_ivfpq_trained: training + serve never shuffle the corpus by row") {
    val p = plan("v_ivfpq_trained")
    // r12: the 3-step trainer localCheckpoints each centroid frame, so
    // the M-step's (cell, pos)/(cell) exchanges execute during training
    // and the SERVE plan contains no keyed exchange at all — pure
    // broadcast joins + per-row folds + the top-10 heap. A vec_id-keyed
    // exchange (or any hashpartitioning) would mean the corpus shuffled.
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.isEmpty,
      s"corpus-sized exchange in the trained IVF-PQ serve path:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), s"corpus join crept in:\n${p.take(1500)}")
    assert(p.contains("graft_pq_encode"), "native encode missing")
    assert(p.contains("TakeOrderedAndProject"), "top-10 not heap-based")
  }

  test("r_correlate_attrib: every exchange keys on user_id, no cartesian") {
    val p = plan("r_correlate_attrib")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.forall(_.contains("user_id")),
      s"stray exchange key in the correlation join:\n${p.take(1200)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("v_ivf_train_gain: audit passes are per-row argmax, exact10 is heap-based") {
    val p = plan("v_ivf_train_gain")
    // r21: the trainer chain (seed + Lloyd steps) is built once in cut
    // jobs, so the FINAL plan is pure per-row audit passes — typically no
    // exchange at all; whatever remains must never key on vec_id
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(!keyed.exists(_.contains("vec_id")),
      s"corpus-sized exchange in the training audit:\n${p.take(1500)}")
    // positive invariant alongside the negative ones (ADVICE r21): the
    // final plan must read the CUT trainer frame — if the cut ever stops
    // happening, hashpartitioning lines could vanish from detection and
    // the no-vec_id assertion above would pass vacuously
    assert(p.contains("Scan ExistingRDD"),
      s"trainer chain no longer cut (no ExistingRDD scan):\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), s"corpus join crept in:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), "exact top-10 not heap-based")
    // the M-step shuffles now live in the PRE-cut trainer plan: pin the
    // invariant there — exchanges key on the k·dim (cell, pos) groups,
    // never on vec_id (the corpus-sized key)
    import org.apache.spark.sql.functions.{col, size}
    import graft.functions.VectorFunctions.{asDouble, l2Norm}
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .filter(size(col("v")) === 64)
      .withColumn("nrm", l2Norm(col("v")))
    val trainer = operators.SimilarityQueries.refinedCentArr(e)
      .queryExecution.executedPlan.toString
    val tKeyed = trainer.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(tKeyed.nonEmpty && tKeyed.forall(l =>
        l.contains("cell") && !l.contains("vec_id")),
      s"trainer M-step exchange must key on (cell, pos):\n${trainer.take(1500)}")
  }

  test("v_pq_train_gain: two per-row encode passes, no corpus join or vec_id shuffle") {
    val p = plan("v_pq_train_gain")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(keyed.nonEmpty && !keyed.exists(_.contains("vec_id")),
      s"corpus-sized exchange in the PQ training path:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), s"corpus join crept in:\n${p.take(1500)}")
    assert("graft_pq_encode".r.findAllIn(p).size >= 2,
      "both encode passes must be the native fold")
  }

  test("q_hash_split: leakage audit joins on the 16-byte hash, never on text") {
    val p = plan("q_hash_split")
    // the train-hash set is distinct-hash-sized: the semi-join must build/
    // probe on h (md5), and no exchange may carry the text column
    assert(!p.contains("CartesianProduct"))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(!exchanges.exists(_.contains("text#")),
      s"corpus text crossed an exchange:\n${p.take(1500)}")
    assert(p.contains("LeftSemi"), s"leak audit not a semi-join:\n${p.take(1200)}")
  }

  test("t_chunk_windows: chunk explode runs before any exchange — counts flow, not text") {
    val p = plan("t_chunk_windows")
    // chunk rows are generated per-row from token counts; the only
    // exchange allowed is the output ordering's range partition
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"non-sort exchange in the chunker:\n${p.take(1200)}")
    assert(!exchanges.exists(_.contains("text#")),
      s"corpus text crossed an exchange:\n${p.take(1200)}")
  }

  test("v_matryoshka_probe: three fold passes, broadcast probe, no corpus shuffle") {
    val p = plan("v_matryoshka_probe")
    val keyed = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(!keyed.exists(_.contains("vec_id")),
      s"corpus-sized exchange in the matryoshka audit:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"), s"corpus join crept in:\n${p.take(1500)}")
    assert(p.contains("TakeOrderedAndProject"), "top-10 not heap-based")
  }

  test("v_maxsim_probe: pure per-row fold + heap top-10, zero corpus shuffle") {
    val p = plan("v_maxsim_probe")
    assert(!p.contains("hashpartitioning"),
      s"the maxsim fold must not shuffle the corpus:\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"), "top-10 not heap-based")
  }

}
