package graft

import graft.operators.Round11Queries
import org.apache.spark.sql.functions._

/** Round-11 third-session operators: hashed-feature classifier scoring,
  * sampled GROUP BY with confidence half-widths, blocked entity resolution,
  * calendar resample + LOCF gap fill.
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---- t_classifier_score --------------------------------------------

  test("classifier: planted token bag sums to the cross-engine value") {
    // 'key agg row' = 289 units, independently computed in DuckDB from the
    // md5-prefix bucket + LCG weight — pins the Spark expression (conv/md5/
    // aggregate) to the oracle's strpos arithmetic.
    val df = Seq((1L, "key agg row")).toDF("doc_id", "text")
    df.createOrReplaceTempView("r11_planted")
    val units = spark.sql(
      """SELECT aggregate(split(text, ' '), 0L, (acc, t) -> acc +
           ((CAST(conv(substring(md5(t), 1, 4), 16, 10) AS BIGINT)
             * 1103515245 + 12345) % 2048 - 1024)) AS u
         FROM r11_planted""").head().getLong(0)
    assert(units === 289L)
  }

  test("t_classifier_score: kept iff positive units; score bounded in [-1,1]") {
    val out = SparkEntry.queries("t_classifier_score")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val units = r.getAs[Long]("score_units")
      val score = r.getAs[Double]("score")
      assert(r.getAs[Boolean]("kept") === (units > 0))
      assert(score >= -1.0 && score <= 1.0)
    }
  }

  // ---- q_approx_groupby_ci -------------------------------------------

  test("q_approx_groupby_ci: deterministic sample, ~10% rate, sane CI") {
    val a = SparkEntry.queries("q_approx_groupby_ci")(spark, sf).collect()
    val b = SparkEntry.queries("q_approx_groupby_ci")(spark, sf).collect()
    assert(a.toSeq === b.toSeq) // reproducible across runs — the HT refresh property
    val nSampled = a.map(_.getAs[Long]("n_sampled")).sum.toDouble
    val total = Tables.lineitem(spark, sf).count().toDouble
    assert(math.abs(nSampled / total - 0.1) < 0.02) // Bernoulli 10% +- noise
    a.foreach { r =>
      assert(r.getAs[Double]("ci_half") > 0.0)
      // estimate is within ~5 half-widths of truth even when not covered —
      // a gross-error guard (an estimator bug lands orders away)
      val err = math.abs(r.getAs[Long]("est_sum_qty") - r.getAs[Long]("exact_sum_qty"))
      assert(err.toDouble <= 5.0 * r.getAs[Double]("ci_half"))
    }
  }

  // ---- q_hll_intersect -----------------------------------------------

  test("hllIntersectAudit: sketch bounds hold (probabilistic; see message)") {
    // These flags are PROBABILISTIC accuracy statements about HLL++
    // rsd=0.01 sketches vs a heuristic 5% bound (≈5σ) — asserted here, not
    // in the DuckDB oracle, so a failure reads as "sketch wandered outside
    // its expected bound at this scale" (re-examine the bound), never as a
    // correctness parity break (ADVICE r11).
    val r = Round11Queries.hllIntersectAudit(spark, sf).head()
    assert(r.getAs[Boolean]("sides_within_5pct"),
      "HLL side estimate outside 5% of exact — probabilistic bound violated; " +
        "check sketch rsd vs bound sigma before treating as a bug")
    assert(r.getAs[Boolean]("inter_within_bound"),
      "inclusion-exclusion estimate outside 5%-of-(|A|+|B|) — probabilistic " +
        "bound violated; check bound width before treating as a bug")
    // the oracled projection stays exact-only
    val cols = SparkEntry.queries("q_hll_intersect")(spark, sf).columns.toSeq
    assert(cols === Seq("exact_a", "exact_b", "exact_inter"))
  }

  // ---- q_entity_resolution -------------------------------------------

  test("q_entity_resolution: pairs stay within blocks and cover C(n,2)") {
    val out = SparkEntry.queries("q_entity_resolution")(spark, sf)
    val pairs = out.collect()
    assert(pairs.nonEmpty)
    // block key is the trailing noun of both names
    pairs.foreach { r =>
      val blk = r.getAs[String]("block")
      assert(r.getAs[String]("name_a").endsWith(blk))
      assert(r.getAs[String]("name_b").endsWith(blk))
      assert(r.getAs[String]("name_a") < r.getAs[String]("name_b"))
    }
    // pair count = sum over blocks of C(names-in-block, 2)
    val perBlock = Tables.part(spark, sf)
      .select(regexp_extract(col("p_name"), "[^ ]+$", 0).as("block"), col("p_name"))
      .distinct().groupBy("block").count().collect()
      .map(r => r.getAs[Long]("count")).map(n => n * (n - 1) / 2).sum
    assert(pairs.length.toLong === perBlock)
  }

  test("q_entity_resolution: planted typo pair matches, distant pair does not") {
    val fixture = Seq(
      (1L, "red widget"), (2L, "rose widget"), (3L, "industrial widget"))
      .toDF("p_partkey", "p_name")
    // replay the production shape over the fixture
    val ents = fixture.groupBy(col("p_name"))
      .agg(count(lit(1)).as("support"), min(col("p_partkey")).as("canon_key"))
      .withColumn("block", regexp_extract(col("p_name"), "[^ ]+$", 0))
    val m = ents.as("a").join(ents.as("b"),
        col("a.block") === col("b.block") && col("a.p_name") < col("b.p_name"))
      .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
        (lit(1.0) - levenshtein(col("a.p_name"), col("b.p_name")).cast("double") /
          greatest(length(col("a.p_name")), length(col("b.p_name"))).cast("double"))
          .as("sim"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("red widget", "rose widget")) >= 0.55)       // 2 edits over 11
    assert(m(("industrial widget", "red widget")) < 0.55)  // far adjective
  }

  // ---- q_hll_intersect / r_rollup_delta ------------------------------

  test("q_hll_intersect: the exact triple is consistent") {
    // the oracled query projects only the exact columns; the sketch bound
    // flags live in hllIntersectAudit (asserted above) — ADVICE r11
    val r = SparkEntry.queries("q_hll_intersect")(spark, sf).head()
    val (a, b, i) = (r.getAs[Long]("exact_a"), r.getAs[Long]("exact_b"),
      r.getAs[Long]("exact_inter"))
    assert(i <= math.min(a, b) && i >= 0)
  }

  test("r_rollup_delta: merged partials are lossless and cover every event") {
    val rows = SparkEntry.queries("r_rollup_delta")(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("matches_full")))
    val total = rows.map(_.getAs[Long]("cnt")).sum
    assert(total === Tables.events(spark, sf).count())
  }

  // ---- t_bpe_apply ---------------------------------------------------

  test("bpe apply: greedy leftmost non-overlapping merge, reversible") {
    // the exact rewrite chain the query runs, on a planted overlap case:
    // merging 'a b' in 'a b a b b' must produce [a§b, a§b, b] — greedy
    // left-to-right, no overlap, later b untouched
    val out = spark.sql(
      """SELECT trim(replace(
           replace(concat(' ', replace('a b a b b', ' ', '  '), ' '),
                   concat(' ', replace('a b', ' ', '  '), ' '),
                   concat(' ', replace('a b', ' ', '§'), ' ')),
           '  ', ' ')) AS m""").head().getString(0)
    assert(out === "a§b a§b b")
    assert(out.replace("§", " ") === "a b a b b")
  }

  test("t_bpe_apply: merges only shrink and always reverse on the corpus") {
    val rows = SparkEntry.queries("t_bpe_apply")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("reversible"))
      assert(r.getAs[Long]("n_after") <= r.getAs[Long]("n_before"))
    }
    assert(rows.exists(r => r.getAs[Long]("n_after") < r.getAs[Long]("n_before")),
      "top-3 corpus bigrams must actually merge somewhere")
  }

  // ---- d_dedup_keep_best ---------------------------------------------

  test("d_dedup_keep_best: kept member maximizes score within its cluster") {
    val rows = SparkEntry.queries("d_dedup_keep_best")(spark, sf).collect()
    assert(rows.nonEmpty)
    // memberships from the registered cluster census; scores from the
    // registered classifier — two independent oracled queries
    val members = SparkEntry.queries("d_dedup_cluster")(spark, sf)
      .filter(col("cluster_size") > 1)
      .collect().map(r => (r.getAs[Long]("cluster_id"), r.getAs[Long]("doc_id")))
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toSeq }
    val scores = SparkEntry.queries("t_classifier_score")(spark, sf)
      .select(col("doc_id"), col("score_units")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.map(_.getAs[Long]("cluster_id")).toSet === members.keySet)
    rows.foreach { r =>
      val cid = r.getAs[Long]("cluster_id")
      val kept = r.getAs[Long]("kept_doc_id")
      val ms = members(cid)
      assert(ms.contains(kept), s"kept $kept must be in cluster $cid")
      assert(ms.forall(m => scores(m) < scores(kept) ||
        (scores(m) == scores(kept) && m >= kept)),
        s"cluster $cid: kept $kept is not the argmax")
      assert(r.getAs[Long]("kept_score_units") === scores(kept))
      assert(r.getAs[Long]("naive_doc_id") === ms.min)
      assert(r.getAs[Long]("n_members") === ms.length.toLong)
    }
    // the policy must actually differ from naive somewhere on real data
    assert(rows.exists(!_.getAs[Boolean]("same_as_naive")))
  }

  // ---- d_corpus_build_v3 ---------------------------------------------

  test("d_corpus_build_v3: survivors match an independent Scala fold") {
    val out = SparkEntry.queries("d_corpus_build_v3")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // independent replay: gate by classifier score, cluster gated adjacents
    // at jaccard >= 0.5 (rounded as the engine rounds), keep the argmax
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val scores = SparkEntry.queries("t_classifier_score")(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_units"))
      .toMap
    val gated = docs.filter(d => scores(d._1) > 0)
    val gatedIds = gated.map(_._1).toSet
    def toks(t: String) = t.split(" ").toSet
    def jacc(a: Set[String], b: Set[String]) = {
      val i = (a & b).size.toDouble
      math.floor(i / (a.size + b.size - i) * 10000 + 0.5) / 10000
    }
    val byId = docs.map(d => d._1 -> d._3).toMap
    val edge = gated.map(_._1).filter(id => gatedIds.contains(id + 1) &&
      byId.contains(id) && jacc(toks(byId(id)), toks(byId(id + 1))) >= 0.5).toSet
    // runs over gated ids: a run starts where no edge arrives from id-1
    var kept = List.empty[Long]
    var cluster = List.empty[Long]
    def flush(): Unit = if (cluster.nonEmpty) {
      kept ::= cluster.maxBy(id => (scores(id), -id))
      cluster = Nil
    }
    gated.map(_._1).foreach { id =>
      if (!edge.contains(id - 1)) flush()
      cluster ::= id
    }
    flush()
    val keptSet = kept.toSet
    val bySource = gated.filter(d => keptSet.contains(d._1))
      .groupBy(_._2).map { case (s, ds) =>
        s -> (ds.length.toLong, ds.map(d => d._3.split(" ").length.toLong).sum)
      }
    assert(out === bySource)
  }

  // ---- q_impute_group_median -----------------------------------------

  test("q_impute_group_median: fills only nulls, from the user's own median") {
    val rows = SparkEntry.queries("q_impute_group_median")(spark, sf).collect()
    assert(rows.length.toLong === Tables.events(spark, sf).count())
    assert(rows.exists(_.getAs[Boolean]("was_imputed")), "errors must exist")
    rows.foreach { r =>
      val v = Option(r.getAs[java.lang.Double]("v"))
      val imputed = Option(r.getAs[java.lang.Double]("imputed"))
      assert(r.getAs[Boolean]("was_imputed") === v.isEmpty)
      if (v.isDefined) assert(imputed === v, "non-null values pass through")
      else assert(imputed ===
        Option(r.getAs[java.lang.Double]("user_median")),
        "nulls fill from the user's median (or stay null for all-error users)")
    }
  }

  // ---- t_eval_prf ----------------------------------------------------

  test("t_eval_prf: metrics recompute from the registered confusion matrix") {
    val rows = SparkEntry.queries("t_eval_prf")(spark, sf).collect()
      .map(r => r.getAs[String]("cls") -> r).toMap
    val cm = SparkEntry.queries("t_lang_id")(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("lang_pred"),
        r.getAs[Long]("n")))
    val classes = (cm.map(_._1) ++ cm.map(_._2)).toSet
    assert(rows.keySet === classes)
    classes.foreach { c =>
      val r = rows(c)
      val tp = cm.filter(x => x._1 == c && x._2 == c).map(_._3).sum
      val predN = cm.filter(_._2 == c).map(_._3).sum
      val actN = cm.filter(_._1 == c).map(_._3).sum
      assert(r.getAs[Long]("tp") === tp)
      assert(r.getAs[Long]("pred_n") === predN)
      assert(r.getAs[Long]("actual_n") === actN)
      val p = Option(r.getAs[java.lang.Long]("precision_bp")).map(_.longValue)
      val rc = Option(r.getAs[java.lang.Long]("recall_bp")).map(_.longValue)
      assert(p.isDefined === (predN > 0), s"$c: precision defined iff predicted")
      assert(rc.isDefined === (actN > 0), s"$c: recall defined iff present")
      p.foreach(v => assert(v === tp * 10000 / predN))
      rc.foreach(v => assert(v === tp * 10000 / actN))
      val f1 = Option(r.getAs[java.lang.Long]("f1_bp")).map(_.longValue)
      (p, rc) match {
        case (Some(pv), Some(rv)) if pv + rv > 0 =>
          assert(f1.contains(2 * pv * rv / (pv + rv)))
        case (Some(_), Some(_)) => assert(f1.contains(0L))
        case _ => assert(f1.isEmpty)
      }
    }
  }

  // ---- d_epoch_shuffle -----------------------------------------------

  test("d_epoch_shuffle: per-epoch permutation, distinct orders, resumable") {
    val rows = SparkEntry.queries("d_epoch_shuffle")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    val byEpoch = rows.groupBy(_.getAs[Int]("epoch"))
    assert(byEpoch.keySet === Set(0, 1, 2))
    val orders = byEpoch.map { case (e, rs) =>
      // every doc exactly once per epoch
      assert(rs.map(_.getAs[Long]("doc_id")).distinct.length.toLong === nDocs)
      // positions are dense 1..k within each shard
      rs.groupBy(_.getAs[Int]("shard")).foreach { case (_, srs) =>
        assert(srs.map(_.getAs[Int]("pos")).sorted.toSeq ===
          (1 to srs.length).toSeq)
      }
      e -> rs.sortBy(r => (r.getAs[Int]("shard"), r.getAs[Int]("pos")))
        .map(_.getAs[Long]("doc_id")).toSeq
    }
    // epochs must actually reorder the corpus
    assert(orders(0) != orders(1) && orders(1) != orders(2))
    // ...and not merely ROTATE it (review r20: the affine-in-epoch r11
    // hash made every epoch a cyclic rotation of epoch 0 — technically a
    // different permutation, useless as a training shuffle). Pin the
    // real property: almost no epoch-0-adjacent pair stays adjacent in
    // epoch 1 (a rotation preserves all but one).
    def adjacentPairs(o: Seq[Long]): Set[(Long, Long)] =
      o.zip(o.drop(1)).toSet
    val a1 = adjacentPairs(orders(1))
    val preserved = adjacentPairs(orders(0)).count { case (x, y) =>
      a1.contains((x, y)) || a1.contains((y, x))
    }
    assert(preserved < orders(0).length / 20,
      s"epoch 1 preserves $preserved of ${orders(0).length - 1} epoch-0 adjacencies — rotation-like")
    // determinism: a second run yields the identical schedule
    val again = SparkEntry.queries("d_epoch_shuffle")(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  // ---- q_benford -----------------------------------------------------

  test("benford: integer leading-digit extraction avoids the log10 ulp trap") {
    val out = spark.sql(
      """SELECT CAST(n div CASE length(CAST(n AS STRING))
           WHEN 1 THEN 1L WHEN 2 THEN 10L WHEN 3 THEN 100L WHEN 4 THEN 1000L
           WHEN 5 THEN 10000L WHEN 6 THEN 100000L WHEN 7 THEN 1000000L
           END AS INT) AS d
         FROM VALUES (101370L), (9999999L), (1000000L), (5L) t(n)""")
      .collect().map(_.getInt(0)).toSeq
    assert(out === Seq(1, 9, 1, 5))
  }

  test("q_benford: full digit coverage, share accounting, honest verdict") {
    val rows = SparkEntry.queries("q_benford")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq === (1 to 9))
    assert(rows.map(_.getAs[Long]("cnt")).sum ===
      Tables.orders(spark, sf).count())
    val bpSum = rows.map(_.getAs[Long]("obs_bp")).sum
    assert(bpSum > 9990L && bpSum <= 10000L, "floor losses only")
    val l1 = rows.map(_.getAs[Long]("dev_bp")).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("total_dev_bp") === l1)
      assert(r.getAs[Boolean]("benford_like") === (l1 <= 1500L))
    }
  }

  // ---- q_trending_rank_delta -----------------------------------------

  test("q_trending_rank_delta: boards are exact top-5, movement is consistent") {
    val rows = SparkEntry.queries("q_trending_rank_delta")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byMonth = rows.groupBy(_.getAs[java.sql.Date]("month").toString)
    byMonth.values.foreach { board =>
      assert(board.length <= 5)
      assert(board.map(_.getAs[Int]("rk")).sorted.toSeq ===
        (1 to board.length).toSeq, "dense ranks 1..k")
      // qty non-increasing with rank (the Ord contract)
      val sorted = board.sortBy(_.getAs[Int]("rk"))
      sorted.sliding(2).foreach {
        case Array(hi, lo) =>
          assert(hi.getAs[Long]("qty") >= lo.getAs[Long]("qty"))
        case _ =>
      }
    }
    rows.foreach { r =>
      val mv = r.getAs[String]("movement")
      Option(r.getAs[Integer]("prev_rk")) match {
        case None => assert(mv === "new")
        case Some(p) =>
          val d = p - r.getAs[Int]("rk")
          assert(mv === (if (d > 0) "up" else if (d < 0) "down" else "flat"))
      }
    }
  }

  // ---- r_drift_seasonal ----------------------------------------------

  test("r_drift_seasonal: weekday baseline absorbs rhythm the daily diff flags") {
    val seasonal = SparkEntry.queries("r_drift_seasonal")(spark, sf).collect()
    val daily = SparkEntry.queries("r_drift_detect")(spark, sf).collect()
    // first full week has no same-weekday prior: 7 fewer rows than days
    val nDays = Tables.events(spark, sf)
      .select(to_date(col("ts"))).distinct().count()
    assert(seasonal.length.toLong === nDays - 7)
    seasonal.foreach { r =>
      val wd = r.getAs[Int]("weekday")
      assert(wd >= 1 && wd <= 7)
      assert(r.getAs[Boolean]("drifted") === (r.getAs[Long]("l1_bp") > 1000L))
    }
    // the seasonal baseline should flag no MORE days than the naive
    // adjacent-day comparison on this deterministic corpus
    val flaggedSeasonal = seasonal.count(_.getAs[Boolean]("drifted"))
    val flaggedDaily = daily.count(_.getAs[Boolean]("drifted"))
    assert(flaggedSeasonal <= flaggedDaily)
  }

  // ---- r_concurrency_curve -------------------------------------------

  test("r_concurrency_curve: sweep-line conservation and peak flag") {
    val rows = SparkEntry.queries("r_concurrency_curve")(spark, sf).collect()
    assert(rows.nonEmpty)
    val starts = rows.map(_.getAs[Long]("n_start")).sum
    val ends = rows.map(_.getAs[Long]("n_end")).sum
    assert(starts === ends, "every session that starts must end")
    // active is the running fold of starts minus PRIOR-hour ends
    var run = 0L; var prevEnd = 0L
    rows.foreach { r =>
      run += r.getAs[Long]("n_start") - prevEnd
      assert(r.getAs[Long]("active") === run)
      assert(run >= 0L)
      prevEnd = r.getAs[Long]("n_end")
    }
    val peak = rows.map(_.getAs[Long]("active")).max
    rows.foreach(r =>
      assert(r.getAs[Boolean]("is_peak") === (r.getAs[Long]("active") == peak)))
  }

  // ---- r_drift_detect ------------------------------------------------

  test("r_drift_detect: covers every day but the first; flag tracks the metric") {
    val rows = SparkEntry.queries("r_drift_detect")(spark, sf).collect()
    val nDays = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day")).distinct().count()
    assert(rows.length.toLong === nDays - 1, "one row per day after the first")
    rows.foreach { r =>
      val l1 = r.getAs[Long]("l1_bp")
      assert(l1 >= 0L && l1 <= 20000L, "L1 of two share vectors is <= 2e4 bp")
      assert(r.getAs[Boolean]("drifted") === (l1 > 1000L))
    }
  }

  // ---- r_drift_detect streaming twin ---------------------------------

  test("drift streaming twin: finalized windowed counts replay the batch path") {
    import graft.streaming.StreamingAggs
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import WatermarkSpec.Ev
    def t(minute: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")
    // three 10-minute windows with a deliberate mix shift in the middle one
    val evs = Seq(
      Ev("click", 1, t(1)), Ev("click", 2, t(2)), Ev("view", 3, t(4)),
      Ev("view", 4, t(11)), Ev("view", 5, t(13)), Ev("view", 6, t(14)),
      Ev("click", 7, t(21)), Ev("click", 8, t(22)), Ev("view", 9, t(24)))
    val stream = MemoryStream[Ev](spark)
    val out = StreamingAggs.windowedCounts(
      stream.toDF(), "ts", "10 minutes", watermark = "5 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("drift_twin").start()
    try {
      stream.addData(evs: _*)
      q.processAllAvailable()
      stream.addData(Ev("view", 99, t(59))) // close all three windows
      q.processAllAvailable()
      val streamed = spark.table("drift_twin")
        .select(col("window.start").as("bucket"),
          col("routing_key").as("event_type"), col("n").as("cnt"))
      val batch = evs.toDF("event_type", "ordinal", "ts")
        .groupBy(window(col("ts"), "10 minutes")("start").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val succ = (b: org.apache.spark.sql.Column) => b + expr("INTERVAL 10 MINUTES")
      val a = Round11Queries.driftCore(streamed, "bucket", succ)
        .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq
      val b = Round11Queries.driftCore(batch, "bucket", succ)
        .collect().map(r => (r.get(0).toString, r.getLong(1), r.getLong(2),
          r.getBoolean(3))).toSeq
      assert(a === b, "finalized stream counts must replay the batch drift")
      assert(a.length === 2 && a.forall(_._4), "the planted mix shifts must flag")
    } finally q.stop()
  }

  // ---- v_pca_power ---------------------------------------------------

  test("v_pca_power: renorm keeps unit scale; iteration contracts the delta") {
    val rows = SparkEntry.queries("v_pca_power")(spark, sf).collect()
    assert(rows.length === 64)
    val maxAbs = rows.map(r => math.abs(r.getAs[Long]("v_unit"))).max
    // after renorm by d = max|w| div 1e6 the peak sits in [1e6, ~2e6)
    assert(maxAbs >= 1000000L && maxAbs < 2100000L)
    val delta = rows.head.getAs[Long]("max_abs_delta")
    assert(rows.forall(_.getAs[Long]("max_abs_delta") === delta), "global column")
    // step-1 delta from v0 is ~7e5 on this corpus; 6 steps must have
    // contracted well below it (loose: the eigengap is small, so this is
    // a direction-estimate bound, not a tight-convergence claim)
    assert(delta < 400000L)
  }

  // ---- v_whiten_project ----------------------------------------------

  test("v_whiten_project: the learned axis beats every coordinate axis") {
    // the top principal direction maximizes the uncentered second moment
    // over unit vectors, so the projection's energy (normalized by |v|^2)
    // must be >= the energy along each raw coordinate axis — a semantic
    // pin that the iteration actually learned the dominant direction
    val axis = Round11Queries.pcaAxis(spark, sf).collect()
      .sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("v_unit"))
    val q = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .selectExpr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q")
      .collect().map(_.getSeq[Long](0).toArray)
    val coords = SparkEntry.queries("v_whiten_project")(spark, sf)
      .collect().map(_.getAs[Long]("coord_units"))
    val vNorm2 = axis.map(v => v.toDouble * v).sum
    val projEnergy = coords.map(c => c.toDouble * c).sum / vNorm2
    (0 until 64).foreach { j =>
      val axisEnergy = q.map(r => r(j).toDouble * r(j)).sum
      assert(projEnergy >= axisEnergy,
        s"axis $j energy $axisEnergy exceeds projection energy $projEnergy")
    }
    // and the projection is the exact dot product of the published axis
    val recomputed = q.map(r => r.zip(axis).map { case (a, b) => a * b }.sum)
    assert(recomputed.sorted.toSeq === coords.sorted.toSeq)
  }

  // ---- v_quantile_norm -----------------------------------------------

  test("v_quantile_norm: each dim is a 0..10000 permutation preserving order") {
    val rows = SparkEntry.queries("v_quantile_norm")(spark, sf).collect()
    val byDim = rows.groupBy(_.getAs[Int]("dim"))
    assert(byDim.size === 64)
    val raw = Tables.embeddings(spark, sf)
      .filter(size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    byDim.foreach { case (dim, rs) =>
      val qs = rs.map(_.getAs[Long]("quantile_bp"))
      assert(qs.min === 0L && qs.max === 10000L)
      assert(qs.distinct.length === qs.length, s"dim $dim: ranks must be unique")
      // monotone: higher raw value => higher quantile (vec_id tie-break)
      val sorted = rs.sortBy(_.getAs[Long]("quantile_bp"))
      sorted.sliding(2).foreach {
        case Array(lo, hi) =>
          val (lv, hv) = (raw(lo.getAs[Long]("vec_id"))(dim - 1),
            raw(hi.getAs[Long]("vec_id"))(dim - 1))
          assert(lv < hv || (lv == hv &&
            lo.getAs[Long]("vec_id") < hi.getAs[Long]("vec_id")))
        case _ =>
      }
    }
  }

  // ---- r_resample_gapfill --------------------------------------------

  test("r_resample_gapfill: complete grid, LOCF semantics, gap flags") {
    val out = SparkEntry.queries("r_resample_gapfill")(spark, sf).collect()
    val ev = Tables.events(spark, sf)
    val users = ev.select("user_id").distinct().count()
    val days = ev.agg(
      (datediff(to_date(max(col("ts"))), to_date(min(col("ts")))) + 1).as("n"))
      .head().getAs[Int]("n").toLong
    assert(out.length.toLong === users * days) // no missing grid cells
    // LOCF: walk each user's days in order; filled must equal the running
    // last non-null day_avg; was_gap iff no events that day
    out.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rows) =>
      var lastSeen: Option[Double] = None
      rows.sortBy(_.getAs[java.sql.Date]("day").toString).foreach { r =>
        val avg = Option(r.getAs[java.lang.Double]("day_avg")).map(_.doubleValue)
        avg.foreach(v => lastSeen = Some(v))
        val filled = Option(r.getAs[java.lang.Double]("filled")).map(_.doubleValue)
        assert(filled === lastSeen)
        assert(r.getAs[Boolean]("was_gap") === avg.isEmpty)
        assert((r.getAs[Long]("n_events") == 0L) === avg.isEmpty)
      }
    }
  }
}
