package graft

import graft.operators.Round12Queries
import org.apache.spark.sql.functions._

/** Round-12 operators: hash split + leakage audit, temperature mixing,
  * context-window chunking, matryoshka retrieval audit.
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---- q_hash_split ---------------------------------------------------

  test("q_hash_split: deterministic, covers the corpus, ~80/10/10") {
    val rows = SparkEntry.queries("q_hash_split")(spark, sf).collect()
    val bySplit = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    val total = Tables.documents(spark, sf).count()
    assert(bySplit.values.sum === total, "splits must partition the corpus")
    // deterministic: a second run lands identically (pure function of id)
    val again = SparkEntry.queries("q_hash_split")(spark, sf).collect()
    assert(rows.toSeq === again.toSeq)
    // proportions near the 80/10/10 design (small corpus ⇒ loose bounds)
    val trainPct = bySplit.getOrElse("train", 0L).toDouble / total
    assert(trainPct > 0.6 && trainPct < 0.95, s"train share $trainPct")
  }

  test("q_hash_split: a planted exact duplicate across splits is counted as leakage") {
    // replay the production expressions over a fixture where doc 83
    // (train by the LCG: bucket 64) and doc 1 (test: bucket 90) share
    // identical text — the audit must count exactly one leak in 'test'
    // and none in 'val' (doc 2, bucket 87, is val with unique text)
    def bucket(id: Long): Long =
      ((id % 2147483648L) * 1103515245L + 12345L) % 2147483648L % 100
    assert(bucket(83L) < 80, "fixture assumes doc 83 is train")
    assert(bucket(1L) >= 90, "fixture assumes doc 1 is test")
    assert(bucket(2L) >= 80 && bucket(2L) < 90, "fixture assumes doc 2 is val")
    val fx = Seq(
      (83L, "alpha beta gamma"),  // train
      (1L, "alpha beta gamma"),   // test, exact dup of train -> leak
      (2L, "delta epsilon")       // val, unique
    ).toDF("doc_id", "text")
    val b = ((col("doc_id") % lit(2147483648L)) * lit(1103515245L) +
      lit(12345L)) % lit(2147483648L) % 100
    val assigned = fx.select(col("doc_id"),
      when(b < 80, "train").when(b < 90, "val").otherwise("test").as("split"),
      md5(col("text")).as("h"))
    val trainH = assigned.filter($"split" === "train").select("h").distinct()
    val leaks = assigned.filter($"split" =!= "train")
      .join(trainH, Seq("h"), "left_semi")
      .groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(leaks === Map("test" -> 1L))
  }

  // ---- t_mix_weights --------------------------------------------------

  test("t_mix_weights: weights normalize; α<1 upsamples the tail") {
    val rows = SparkEntry.queries("t_mix_weights")(spark, sf).collect()
    assert(rows.nonEmpty)
    val wSum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 0.01, s"weights sum to $wSum")
    val totalTok = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    // temperature α = 0.7 < 1: the SMALLEST source's sampling weight must
    // exceed its raw token share; the LARGEST source's must not exceed it
    val smallest = rows.minBy(_.getAs[Long]("n_tokens"))
    val largest = rows.maxBy(_.getAs[Long]("n_tokens"))
    assert(smallest.getAs[Double]("weight") >
      smallest.getAs[Long]("n_tokens") / totalTok - 1e-9)
    assert(largest.getAs[Double]("weight") <
      largest.getAs[Long]("n_tokens") / totalTok + 1e-9)
    // epochs = exp_tokens / n_tokens (held to rounding)
    rows.foreach { r =>
      val expect = r.getAs[Long]("exp_tokens_1m").toDouble / r.getAs[Long]("n_tokens")
      assert(math.abs(r.getAs[Double]("epochs") - expect) < 1e-3)
    }
  }

  // ---- t_chunk_windows ------------------------------------------------

  test("t_chunk_windows: chunks tile every document exactly") {
    val rows = SparkEntry.queries("t_chunk_windows")(spark, sf).collect()
    val w = Round12Queries.ChunkWindow
    val st = Round12Queries.ChunkStride
    val nTok = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.map(_.getLong(0)).toSet === nTok.keySet, "every doc chunked")
    rows.groupBy(_.getLong(0)).foreach { case (docId, chunks) =>
      val sorted = chunks.sortBy(_.getInt(1))
      // strides advance uniformly; first chunk starts at 0
      sorted.zipWithIndex.foreach { case (c, i) =>
        assert(c.getInt(1) === i)
        assert(c.getInt(2) === i * st, "start = idx * stride")
        assert(c.getInt(4) === c.getInt(3) - c.getInt(2))
        assert(c.getInt(4) > 0 && c.getInt(4) <= w)
      }
      // the last chunk ends exactly at n_tokens; the one before (if any)
      // could not have covered the doc alone
      assert(sorted.last.getInt(3) === nTok(docId), "tail covered")
      if (sorted.length > 1)
        assert((sorted.length - 2) * st + w < nTok(docId),
          s"doc $docId has a redundant trailing chunk")
    }
  }

  // ---- t_oov_rate -----------------------------------------------------

  test("t_oov_rate: rates consistent and bounded; rounding is the house floorRound") {
    val rows = SparkEntry.queries("t_oov_rate")(spark, sf).collect()
    assert(rows.length === Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val n = r.getAs[Int]("n_tokens")
      val oov = r.getAs[Long]("n_oov")
      val rate = r.getAs[Double]("oov_rate")
      assert(oov >= 0 && oov <= n)
      assert(math.abs(rate - math.floor(oov.toDouble / n * 10000 + 0.5) / 10000) < 1e-12)
    }
    // the top-100 vocab of a Zipfian corpus must cover a solid majority
    // of token mass: corpus-level OOV stays below 50%
    val totTok = rows.map(_.getAs[Int]("n_tokens").toLong).sum
    val totOov = rows.map(_.getAs[Long]("n_oov")).sum
    assert(totOov.toDouble / totTok < 0.5,
      s"top-100 vocab covers only ${1 - totOov.toDouble / totTok} of the corpus")
  }

  test("t_oov_rate: a NULL-text doc keeps its row — n_tokens/oov_rate NULL, n_oov 0 (ADVICE r20)") {
    // the DuckDB oracle's base CTE emits a row per DOCUMENT with
    // n_tokens = len(string_split(NULL)) = NULL; the engine must not
    // drop the doc (explode of split(NULL) yields no rows)
    val planted = Seq(
      (0L, "alpha beta alpha"), (1L, "beta gamma"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val rows = Round12Queries.oovRate(planted).collect()
    assert(rows.length === 3, s"NULL-text doc dropped: ${rows.mkString(",")}")
    val r2 = rows.find(_.getLong(0) == 2L).get
    assert(r2.isNullAt(r2.fieldIndex("n_tokens")))
    assert(r2.getAs[Long]("n_oov") === 0L)
    assert(r2.isNullAt(r2.fieldIndex("oov_rate")))
    // non-NULL docs unchanged: every token of this tiny corpus is in the
    // top-100 vocab, so zero OOV everywhere
    rows.filter(_.getLong(0) != 2L).foreach { r =>
      assert(r.getAs[Int]("n_tokens") > 0 && r.getAs[Long]("n_oov") === 0L)
    }
  }

  // ---- q_k_anonymity --------------------------------------------------

  test("q_k_anonymity: census matches a direct group-size recompute") {
    val r = SparkEntry.queries("q_k_anonymity")(spark, sf).head()
    val sizes = Tables.events(spark, sf)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")).collect().map(_.getAs[Long]("n"))
    val k = Round12Queries.AnonK
    assert(r.getAs[Long]("n_groups") === sizes.length.toLong)
    assert(r.getAs[Long]("n_violating") === sizes.count(_ < k).toLong)
    assert(r.getAs[Long]("n_records_at_risk") === sizes.filter(_ < k).sum)
    assert(r.getAs[Boolean]("k_anonymous") === !sizes.exists(_ < k))
    // at-risk records are bounded by (k-1) per violating group
    assert(r.getAs[Long]("n_records_at_risk") <=
      (k - 1).toLong * r.getAs[Long]("n_violating"))
  }

  // ---- v_maxsim_probe -------------------------------------------------

  test("v_maxsim_probe: top-10 scores match a direct Scala maxsim recompute") {
    val out = SparkEntry.queries("v_maxsim_probe")(spark, sf).collect()
    assert(out.length === 10)
    // descending, vec_id tie-break
    out.sliding(2).foreach { case Array(a, b) =>
      val (sa, sb) = (a.getAs[Long]("maxsim_units"), b.getAs[Long]("maxsim_units"))
      assert(sa > sb || (sa == sb && a.getLong(0) < b.getLong(0)))
    }
    // independent fold over the raw vectors
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val pv = vecs(0L)
    def maxsim(v: Array[Double]): Long =
      (0 until 8).map { qi =>
        (0 until 8).map { dj =>
          val dot = (0 until 8).map(k => pv(qi * 8 + k) * v(dj * 8 + k)).sum
          math.floor(dot * 10000 + 0.5).toLong
        }.max
      }.sum
    out.foreach { r =>
      assert(r.getAs[Long]("maxsim_units") === maxsim(vecs(r.getLong(0))),
        s"vec ${r.getLong(0)} maxsim mismatch")
    }
  }

  // ---- q_psi_drift ----------------------------------------------------

  test("q_psi_drift: PSI non-negative; stationary halves read as no-drift") {
    val psi = SparkEntry.queries("q_psi_drift")(spark, sf).head().getAs[Double]("psi")
    assert(psi >= 0.0, s"PSI is a KL-symmetrization, always >= 0: $psi")
    // both halves draw from the same generator: well under the 0.25
    // industry alarm threshold
    assert(psi < 0.25, s"stationary fixture should not alarm: $psi")
  }

  test("q_psi_drift: degenerate all-equal values fold to bucket 0, PSI 0 — no ANSI throw") {
    // replay the production bucketing over a fixture where hi == lo:
    // the guard must route every row to bucket 0 instead of dividing by
    // the zero bucket width (ANSI double division throws)
    val fx = Seq((1L, 5.0), (2L, 5.0), (3L, 5.0), (4L, 5.0))
      .toDF("event_id", "value")
    val bounds = fx.agg(
      floor((min(col("event_id")) + max(col("event_id"))) / 2).as("mid"),
      min(col("value")).as("lo"), max(col("value")).as("hi"))
    val buckets = fx.crossJoin(broadcast(bounds))
      .select(when(col("hi") > col("lo"),
          least(floor((col("value") - col("lo")) /
            ((col("hi") - col("lo")) / 10)), lit(9L)))
        .otherwise(lit(0L)).cast("int").as("bucket"))
      .collect().map(_.getInt(0))
    assert(buckets.forall(_ === 0), buckets.mkString(","))
  }

  // ---- q_ab_ztest -----------------------------------------------------

  test("q_ab_ztest: rates bounded, z matches a direct recompute, parity split sane") {
    val r = SparkEntry.queries("q_ab_ztest")(spark, sf).head()
    val (na, ca, nb, cb) = (r.getAs[Long]("n_a"), r.getAs[Long]("c_a"),
      r.getAs[Long]("n_b"), r.getAs[Long]("c_b"))
    assert(na > 0 && nb > 0 && ca <= na && cb <= nb)
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val p = (ca + cb).toDouble / (na + nb)
    val varz = p * (1 - p) * (1.0 / na + 1.0 / nb)
    val z = if (varz > 0) (pa - pb) / math.sqrt(varz) else 0.0
    assert(math.abs(r.getAs[Double]("z") - math.floor(z * 10000 + 0.5) / 10000) < 1e-12)
    // both arms draw from one generator: no real effect, |z| modest
    assert(math.abs(r.getAs[Double]("z")) < 5.0)
    // the >=15-purchase metric must discriminate (not saturate at 0 or 1)
    assert(ca + cb > 0 && ca + cb < na + nb,
      "conversion metric saturated — pooled variance would degenerate")
  }

  // ---- t_curriculum_bins ----------------------------------------------

  test("t_curriculum_bins: four quartile stages partition the corpus; quality is monotone") {
    val rows = SparkEntry.queries("t_curriculum_bins")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("stage")).toSeq.sorted === rows.map(_.getAs[Int]("stage")).toSeq)
    assert(rows.map(_.getAs[Int]("stage")).forall(s => s >= 1 && s <= 4))
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count(), "stages must partition the corpus")
    // quartile cuts: stage mean quality strictly increases stage over stage
    rows.map(r => r.getAs[Double]("avg_quality")).sliding(2).foreach {
      case Array(a, b) => assert(b > a, s"stage means not increasing: $a -> $b")
      case _ => ()
    }
  }

  // ---- v_matryoshka_probe ---------------------------------------------

  test("v_matryoshka_probe: overlaps bounded; full ranking matches a direct top-10") {
    val r = SparkEntry.queries("v_matryoshka_probe")(spark, sf).head()
    val o32 = r.getAs[Long]("n_overlap_32")
    val o16 = r.getAs[Long]("n_overlap_16")
    assert(o32 >= 0 && o32 <= 10 && o16 >= 0 && o16 <= 10)
    // direct full-dim top-10 recomputation pins full_top10_idsum
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .filter(size(col("v")) === 64)
    val probe = e.filter(col("vec_id") === 0).select(col("v").as("pv"))
    val idSum = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
      .select(col("vec_id"), expr(
        """CAST(floor(aggregate(zip_with(v, pv, (x, y) -> (x - y) * (x - y)),
             CAST(0.0 AS DOUBLE), (a, b) -> a + b) * 10000 + 0.5) AS BIGINT)""")
        .as("d2u"))
      .orderBy(col("d2u"), col("vec_id")).limit(10)
      .agg(sum(col("vec_id"))).head().getLong(0)
    assert(r.getAs[Long]("full_top10_idsum") === idSum)
  }
}
