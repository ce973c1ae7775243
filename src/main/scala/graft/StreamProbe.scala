package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (QueryProbe's streaming twin): run the bench's two streaming
  * measurements N times in one JVM to separate cold-start from steady-state
  * and to A/B the state-store backend — single bench figures for the stream
  * metrics carry the same 2-3× first-run multiplier the batch queries do.
  * Usage: runMain graft.StreamProbe <sfDir> <pipeline|join> [runs] [backend]
  *   backend: default | rocksdb
  *
  * `state` mode (VERDICT r14 #4 — observe the heap→RocksDB crossover
  * instead of extrapolating it): drive a per-key stateful aggregation
  * with BATCHES of entirely fresh synthetic keys, so total state grows by
  * `keysPerBatch` per micro-batch while per-batch input work stays
  * constant — any per-batch time growth is the state store's marginal
  * cost at that state size (snapshot/maintenance on heap, compaction on
  * RocksDB), not query work. Prints one line per batch; run once per
  * backend and read the divergence point.
  * Usage: runMain graft.StreamProbe <sfDir> state [nBatches] [backend] [keysPerBatch]
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = if (args.length > 1) args(1) else "join"
    val runs = if (args.length > 2) args(2).toInt else 3
    val backend = if (args.length > 3) args(3) else "default"
    val spark = GraftSession()
    if (backend == "rocksdb") graft.streaming.StateBackend.useRocksDB(spark)
    if (which == "state") {
      stateGrowth(spark, nBatches = runs, backend = backend,
        keysPerBatch = if (args.length > 4) args(4).toInt else 500000)
      spark.stop()
      return
    }
    if (which == "corpus") {
      corpusBench(spark, d, runs)
      spark.stop()
      return
    }
    if (which == "corpuseq") {
      corpusEq(spark, d, nBatches = if (args.length > 2) args(2).toInt else 5)
      spark.stop()
      return
    }
    if (which == "vecindexeq") {
      vecIndexEq(spark, d, nBatches = if (args.length > 2) args(2).toInt else 5)
      spark.stop()
      return
    }
    if (which == "vecindexcrash") {
      vecIndexCrash(spark, d, nBatches = if (args.length > 2) args(2).toInt else 5)
      spark.stop()
      return
    }
    if (which == "annserve") {
      annServe(spark, d, nProbes = if (args.length > 2) args(2).toInt else 200,
        nprobe = if (args.length > 3) args(3).toInt else 2)
      spark.stop()
      return
    }
    if (which == "soak") {
      soak(spark, d, nConsumers = if (args.length > 2) args(2).toInt else 32)
      spark.stop()
      return
    }
    try Tables.events(spark, d).count() catch { case _: Throwable => () }
    for (i <- 1 to runs) {
      val (rows, secs) =
        if (which == "pipeline") Bench.streamPipelineBench(spark, d)
        else Bench.streamJoinBench(spark, d)
      println(f"$which[$backend] run $i: $rows rows in $secs%.2f s = ${rows / secs}%.0f rows/s")
    }
    spark.stop()
  }

  /** `corpus` mode (r17): price the composed streaming corpus pipeline —
    * the sf documents table through [[graft.streaming.StreamingAggs
    * .startCorpusPipeline]] in ~5 micro-batches, once with the
    * boilerplate line scrub OFF and once ON, so the scrub's marginal
    * per-doc cost is a measured figure (BASELINE.md), not a guess.
    * Usage: runMain graft.StreamProbe <sfDir> corpus [runs]
    */
  private def corpusBench(spark: SparkSession, d: String, runs: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val evalDocs = Seq("benchmark holdout grams live only here").toDF("text")
    val slice = math.max(docs.length / 5, 1)
    for (scrub <- Seq(false, true); i <- 1 to runs) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-corpusprobe").toString
      val ms = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAggs.startCorpusPipeline(
        ms.toDF().toDF("doc_id", "text"), evalDocs,
        s"$dir/state", s"$dir/ckpt", _ => (), lineScrub = scrub)
      val t0 = System.nanoTime()
      try docs.grouped(slice).foreach { g =>
        ms.addData(g.toSeq: _*); q.processAllAvailable()
      } finally q.stop()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"corpus[lineScrub=$scrub] run $i: ${docs.length} docs " +
        f"in $s%.2f s = ${docs.length / s}%.0f docs/s")
    }
  }

  /** `corpuseq` mode (VERDICT r17 #2): drive [[graft.streaming
    * .StreamingAggs.startCorpusPipeline]] over the FULL documents table of
    * `d` (the derived sf1 corpus: 50k docs — 10× every spec fixture) and
    * pin the streaming verdicts against the BATCH core,
    * verdict-for-verdict:
    *
    *   1. order-independent dials (has_text, quality, repetitive,
    *      contaminated, content_sha) must be IDENTICAL between the
    *      multi-batch run and a fresh single-batch run — any difference
    *      is cross-batch state pollution;
    *   2. `is_new` / `is_neardup` / `accepted` must equal a driver-side
    *      greedy REPLAY of the documented stream semantics — first-
    *      occurrence-per-sha against accepted-only sha state; near-dup =
    *      lower-id partner eligible in the same batch (the batch
    *      operator's drop-doc_b policy) or accepted in a prior batch —
    *      where the partner pair set comes from the ORACLED batch
    *      operator `d_minhash_lsh` (same shingles(3) → graft_minhash →
    *      8×4 bands → verify J ≥ 0.5 primitives). Valid as long as no
    *      LSH bucket overflows [[graft.operators.DedupQueries
    *      .MegaBucketCap]] over the full corpus (restriction ≡ filtering
    *      below the cap), which the probe audits and prints.
    *
    * Batches are doc_id-ordered slices, so every pair's lower id lands in
    * an earlier-or-equal batch and the greedy replay is deterministic.
    * Also prints docs/s for the multi-batch run (production batch size =
    * corpus/nBatches) and for an all-stages-on run (pii + lineScrub +
    * sourceMix + packSequences) that exercises the mix/pack/lines state
    * families at the same scale.
    * Usage: runMain graft.StreamProbe <sfDir> corpuseq [nBatches]
    */
  private def corpusEq(spark: SparkSession, d: String, nBatches: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, explode, size => fsize}
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = graft.Tables.documents(spark, d)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    val evalDocs = Seq("benchmark holdout grams live only here").toDF("text")
    // per-doc stream verdicts: (has_text, quality, repetitive,
    // contaminated, content_sha, is_new, is_neardup, accepted)
    type V = (Boolean, Double, Boolean, Boolean, String, Boolean, Boolean, Boolean)
    def run(slices: Seq[Seq[(Long, String)]]): (Map[Long, V], Double) = {
      val dir = java.nio.file.Files.createTempDirectory("graft-corpuseq").toString
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, V)]()
      val ms = MemoryStream[(Long, String)]
      val q = graft.streaming.StreamingAggs.startCorpusPipeline(
        ms.toDF().toDF("doc_id", "text"), evalDocs, s"$dir/state", s"$dir/ckpt",
        batch => batch.select("doc_id", "has_text", "quality", "repetitive",
            "contaminated", "content_sha", "is_new", "is_neardup", "accepted")
          .collect().foreach(r => got.add((r.getLong(0), (r.getBoolean(1),
            r.getDouble(2), r.getBoolean(3), r.getBoolean(4), r.getString(5),
            r.getBoolean(6), r.getBoolean(7), r.getBoolean(8))))))
      val t0 = System.nanoTime()
      try slices.foreach { g => ms.addData(g: _*); q.processAllAvailable() }
      finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      (got.toArray(new Array[(Long, V)](0)).toMap, secs)
    }
    val pairs2 = docs.map { case (id, t, _) => (id, t) }.toSeq
    val slice = math.max((docs.length + nBatches - 1) / nBatches, 1)
    val slices = pairs2.grouped(slice).toSeq
    val (multi, tMulti) = run(slices)
    val (single, tSingle) = run(Seq(pairs2))
    println(f"corpuseq multi:  ${docs.length} docs / ${slices.length} batches " +
      f"in $tMulti%.1f s = ${docs.length / tMulti}%.0f docs/s")
    println(f"corpuseq single: in $tSingle%.1f s = ${docs.length / tSingle}%.0f docs/s")
    // 1. order-independent dials: multi ≡ single
    val dialDiffs = docs.map(_._1).filter { id =>
      val m = multi(id); val s = single(id)
      (m._1, m._2, m._3, m._4, m._5) != ((s._1, s._2, s._3, s._4, s._5))
    }
    println(s"corpuseq dials multi≡single: ${dialDiffs.length} diffs" +
      (if (dialDiffs.nonEmpty) s" e.g. ${dialDiffs.take(5).toSeq}" else ""))
    // 2. batch pair set (the oracled operator) + bucket-cap audit
    graft.plans.GraftFunctions.register(spark)
    val banded = graft.Tables.documents(spark, d)
      .select(col("doc_id"),
        graft.functions.TextFunctions.shingles("text", 3).as("sh"))
      .filter(fsize(col("sh")) > 0)
      .withColumn("sig", org.apache.spark.sql.functions.expr("graft_minhash(sh)"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.minhashBands("sig", 8, 4)).as("b"))
    val maxBucket = banded.groupBy(col("b.band"), col("b.h"))
      .count().agg(org.apache.spark.sql.functions.max(col("count")))
      .as[Long].head()
    println(s"corpuseq max LSH bucket: $maxBucket " +
      s"(cap ${graft.operators.DedupQueries.MegaBucketCap}; replay valid iff <= cap)")
    val pairSet = graft.operators.DedupQueries.minhashLshPairs(spark, d)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect()
    println(s"corpuseq batch pair set: ${pairSet.length} verified pairs")
    val partnersLower: Map[Long, Array[Long]] =
      pairSet.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1) }
    // 3. greedy replay of the documented semantics, from batch artifacts
    def replay(assign: Seq[Seq[Long]], dials: Map[Long, V])
        : Map[Long, (Boolean, Boolean, Boolean)] = {
      val res = scala.collection.mutable.Map.empty[Long, (Boolean, Boolean, Boolean)]
      val seenShas = scala.collection.mutable.Set.empty[String]
      val acceptedIds = scala.collection.mutable.Set.empty[Long]
      assign.foreach { ids =>
        val firstOfSha = ids.groupBy(id => dials(id)._5).map { case (sh, g) => sh -> g.min }
        val isNewB = ids.map { id =>
          val sh = dials(id)._5
          id -> (!seenShas.contains(sh) && firstOfSha(sh) == id)
        }.toMap
        val eligible = ids.filter { id =>
          val v = dials(id)
          v._1 && v._2 >= 0.52 && !v._3 && !v._4 && isNewB(id)
        }
        val eligibleSet = eligible.toSet
        val ndSet = eligible.filter(id => partnersLower.getOrElse(id, Array.empty)
          .exists(a => eligibleSet.contains(a) || acceptedIds.contains(a))).toSet
        val acceptedB = eligible.filterNot(ndSet)
        acceptedIds ++= acceptedB
        seenShas ++= acceptedB.map(id => dials(id)._5)
        ids.foreach { id =>
          res(id) = (isNewB(id), ndSet.contains(id),
            eligibleSet.contains(id) && !ndSet.contains(id))
        }
      }
      res.toMap
    }
    def cmp(name: String, got: Map[Long, V],
            exp: Map[Long, (Boolean, Boolean, Boolean)]): Unit = {
      val diffs = docs.map(_._1).filter { id =>
        val g = got(id); (g._6, g._7, g._8) != exp(id)
      }
      println(s"corpuseq $name stream≡replay: ${diffs.length} diffs" +
        (if (diffs.nonEmpty) " e.g. " + diffs.take(5).map(id =>
          s"$id got=${(got(id)._6, got(id)._7, got(id)._8)} exp=${exp(id)}").mkString("; ")
         else ""))
    }
    cmp("multi ", multi, replay(slices.map(_.map(_._1)), multi))
    cmp("single", single, replay(Seq(pairs2.map(_._1)), single))
    // 4. all-stages-on drive: pii + lineScrub + sourceMix + packSequences
    // (mix/pack/lines state at full scale; timing only — mix folds an
    // order-dependent sampling draw into `accepted` by design)
    val dirF = java.nio.file.Files.createTempDirectory("graft-corpuseq-full").toString
    val msF = MemoryStream[(Long, String, String)]
    val qF = graft.streaming.StreamingAggs.startCorpusPipeline(
      msF.toDF().toDF("doc_id", "text", "source"), evalDocs,
      s"$dirF/state", s"$dirF/ckpt", _ => (),
      sourceMix = true, packSequences = true, piiScrub = true, lineScrub = true)
    val tF0 = System.nanoTime()
    try docs.grouped(slice).foreach { g => msF.addData(g.toSeq: _*); qF.processAllAvailable() }
    finally qF.stop()
    val tF = (System.nanoTime() - tF0) / 1e9
    println(f"corpuseq all-stages: ${docs.length} docs / ${slices.length} batches " +
      f"in $tF%.1f s = ${docs.length / tF}%.0f docs/s")
  }

  /** Grow keyed-aggregation state by `keysPerBatch` FRESH keys per batch
    * for `nBatches` batches (default 3 from the shared [runs] arg — pass
    * 16+ for the crossover study: 16 × 500k = 8M keys ≈ 1M/partition at
    * 8 shuffle partitions) and print the per-batch wall time trajectory.
    */
  private def stateGrowth(spark: SparkSession, nBatches: Int,
                          backend: String, keysPerBatch: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, count, lit}
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft-stateprobe-$backend").toString
    val ms = MemoryStream[Long]
    val q = ms.toDF().toDF("k")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      var next = 0L
      for (b <- 1 to nBatches) {
        val t0 = System.nanoTime()
        ms.addData(next until (next + keysPerBatch): _*)
        next += keysPerBatch
        q.processAllAvailable()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"state[$backend] batch $b%2d: totalKeys=$next%,d " +
          f"$s%6.2f s  ${keysPerBatch / s}%,.0f keys/s")
      }
    } finally q.stop()
  }

  /** `vecindexeq` mode (VERDICT r18 #6): drive [[graft.streaming
    * .StreamingAggs.startIncrementalVectorIndex]] over the FULL
    * embeddings table of `d` (the derived sf1 corpus: 20k vectors — 10×
    * the spec fixture's scale class) in N micro-batches, with the same
    * full corpus as the fixed seed (so the coarse quantizer + codebook
    * match the in-plan `v_ivfpq_search` build exactly), and pin:
    *
    *   1. the streaming-stored (vec_id, cell, pq_code) rows must be
    *      IDENTICAL to a single-pass batch [[graft.operators
    *      .SimilarityQueries.pqIndexAnnotate]] over the same corpus —
    *      any diff is cross-batch index-state pollution;
    *   2. `pqIndexServe` from the stored codes must return the SAME
    *      top-10 as the fully-composed oracled `v_ivfpq_search` plan
    *      (seed quantizer, nprobe=2, probe vec_id 0).
    *
    * Also prints arrivals/s for the multi-batch ingest.
    * Usage: runMain graft.StreamProbe <sfDir> vecindexeq [nBatches]
    */
  private def vecIndexEq(spark: SparkSession, d: String, nBatches: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, size => fsize}
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.plans.GraftFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .filter(fsize(col("v")) === 64)
    val vecs = e.as[(Long, Seq[Double])].collect().sortBy(_._1)
    val dir = java.nio.file.Files.createTempDirectory("graft-vecindexeq").toString
    val ms = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.StreamingAggs.startIncrementalVectorIndex(
      ms.toDF().toDF("vec_id", "v"), e, s"$dir/codes", s"$dir/ckpt", _ => ())
    val slice = math.max((vecs.length + nBatches - 1) / nBatches, 1)
    val slices = vecs.toSeq.grouped(slice).toSeq
    val t0 = System.nanoTime()
    try slices.foreach { g => ms.addData(g: _*); q.processAllAvailable() }
    finally q.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"vecindexeq ingest: ${vecs.length} vectors / ${slices.length} " +
      f"batches in $secs%.1f s = ${vecs.length / secs}%.0f arrivals/s")
    pinIndexEquality(spark, e, s"$dir/codes", "vecindexeq")
  }

  /** The two vecindexeq pins, shared with `vecindexcrash` (r20): stored
    * (vec_id, cell, pq_code) rows ≡ a single-pass batch annotate over the
    * same corpus, and `pqIndexServe` from the stored codes ≡ the composed
    * oracled `v_ivfpq_search` plan. `require`s on both so a recipe run
    * fails loudly (nonzero exit) on any divergence.
    */
  private def pinIndexEquality(spark: SparkSession, e: org.apache.spark.sql.DataFrame,
                               codesDir: String, tag: String): Unit = {
    import org.apache.spark.sql.functions.col
    // 1. stored codes ≡ single-pass batch annotate over the same corpus
    val (centArr, cb) = graft.operators.SimilarityQueries.pqIndexBuild(
      e.withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v"))))
    val stored = spark.read.parquet(codesDir)
      .select(col("vec_id"), col("cell"), col("pq_code"))
    val batchCodes = graft.operators.SimilarityQueries
      .pqIndexAnnotate(e, centArr, cb)
    val codeDiffs = stored.exceptAll(batchCodes)
      .unionAll(batchCodes.exceptAll(stored)).count()
    println(s"$tag stored codes ≡ batch annotate: $codeDiffs diffs " +
      s"(stored ${stored.count()}, batch ${batchCodes.count()})")
    require(codeDiffs == 0,
      s"$tag: $codeDiffs stored-vs-batch code diffs — cross-batch " +
        "index-state pollution (nonzero exit so the recipe run fails loudly)")
    // 2. serve-from-stored-codes ≡ the composed oracled plan
    val served = graft.operators.SimilarityQueries.pqIndexServe(
      stored, e.filter(col("vec_id") === 0), centArr, cb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val composed = graft.operators.SimilarityQueries.ivfpqSearch(e)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    println(s"$tag serve ≡ v_ivfpq_search: " +
      (if (served == composed) s"IDENTICAL top-10 (${served.map(_._1)})"
       else s"DIVERGED\n  served=$served\n  composed=$composed"))
    require(served == composed,
      s"$tag: serve-from-stored-codes diverged from the composed plan")
  }

  /** `vecindexcrash` mode (VERDICT r19 #6): the vecindexeq pins composed
    * with the StreamingSpec crash discipline — drive the streaming vector
    * index over the sf embeddings through a REAL restart: a file source
    * delivers the corpus in N batches, the onBatch callback throws on the
    * middle batch AFTER the annotate materialized but BEFORE the codes
    * write (the exact mid-commit kill shape), the query is restarted from
    * the SAME checkpoint, the failed batch replays under its original
    * batchId, and ingest continues. Then the full vecindexeq pins must
    * hold on the recovered index: stored codes ≡ batch annotate over all
    * vectors (0 diffs) and serve ≡ the composed plan.
    * Usage: runMain graft.StreamProbe <sfDir> vecindexcrash [nBatches]
    */
  private def vecIndexCrash(spark: SparkSession, d: String, nBatches: Int): Unit = {
    import org.apache.spark.sql.functions.{col, size => fsize}
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    import spark.implicits._
    graft.plans.GraftFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .filter(fsize(col("v")) === 64)
    val vecs = e.as[(Long, Seq[Double])].collect().sortBy(_._1)
    val root = java.nio.file.Files.createTempDirectory("graft-veccrash").toString
    val srcDir = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))
    val slice = math.max((vecs.length + nBatches - 1) / nBatches, 1)
    val slices = vecs.toSeq.grouped(slice).toSeq
    // JSON round-trips doubles exactly (shortest-roundtrip toString), so
    // the replayed annotate sees bit-identical vectors
    def writeSlice(i: Int): Unit =
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$srcDir/slice_$i.json"),
        slices(i).map { case (id, v) =>
          s"""{"vec_id":$id,"v":[${v.mkString(",")}]}"""
        }.mkString("\n"))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    @volatile var failNext = false
    def start() = graft.streaming.StreamingAggs.startIncrementalVectorIndex(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .json(srcDir),
      e, s"$root/codes", s"$root/ckpt",
      b => {
        b.count() // consume like a real downstream
        if (failNext)
          throw new RuntimeException("injected crash before the codes write")
      })
    val crashAt = slices.length / 2
    // phase 1: batches 0..crashAt-1 commit cleanly
    (0 until crashAt).foreach(writeSlice)
    val q0 = start()
    val t0 = System.nanoTime()
    var crashed = false
    try {
      q0.processAllAvailable()
      failNext = true
      writeSlice(crashAt)
      try q0.processAllAvailable() catch {
        case ex: org.apache.spark.sql.streaming.StreamingQueryException =>
          require(ex.getMessage.contains("injected crash"), ex.getMessage)
          crashed = true
      }
    } finally { try q0.stop() catch { case _: Exception => () } }
    require(crashed, "vecindexcrash: the injected crash did not fire")
    require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$root/codes/batch=$crashAt")),
      s"vecindexcrash: batch=$crashAt committed despite the mid-commit kill")
    println(s"vecindexcrash: killed mid-commit at batch $crashAt " +
      s"(${slices(crashAt).length} vectors in flight, slice UNWRITTEN)")
    // phase 2: restart from the SAME checkpoint; the failed batch replays
    // under its original id, then ingest continues through the tail
    failNext = false
    (crashAt + 1 until slices.length).foreach(writeSlice)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val secs = (System.nanoTime() - t0) / 1e9
    val batchDirs = new java.io.File(s"$root/codes").listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("batch="))
    require(batchDirs == slices.length,
      s"vecindexcrash: expected ${slices.length} committed batch slices, got $batchDirs")
    println(f"vecindexcrash ingest: ${vecs.length} vectors / ${slices.length} " +
      f"batches (1 replayed) in $secs%.1f s = ${vecs.length / secs}%.0f arrivals/s")
    pinIndexEquality(spark, e, s"$root/codes", "vecindexcrash")
  }

  /** `annserve` mode (VERDICT r19 #7): query-side latency + recall for the
    * materialized IVF-PQ index — the serve path `pqIndexServe` (stored
    * codes, broadcast probe LUT, ADC top-10, nprobe=2 as oracled) driven
    * by N probe vectors drawn at a deterministic stride over the corpus.
    * Reports sequential p50/p95/p99 per-probe latency, aggregate probes/s
    * at 8 concurrent issuers (local[32] has the headroom; Spark's FIFO
    * scheduler interleaves the per-probe jobs), and mean/min recall@10
    * against the exact cosine top-10 (computed in ONE broadcast-join job
    * for all probes, not per-probe). The latency here is Spark-JOB-bound
    * (scheduler + codegen'd scan of the codes table), the honest figure
    * for this engine: the index makes each probe scan ~nprobe/cells of
    * the corpus, it does not make a probe sub-millisecond. The optional
    * nprobe argument sweeps the recall/latency dial (default 2, the
    * oracled serve configuration; 1 = cheapest, 4 = widest).
    * Usage: runMain graft.StreamProbe <sfDir> annserve [nProbes] [nprobe]
    */
  private def annServe(spark: SparkSession, d: String, nProbes: Int,
                       nprobe: Int = 2): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col, expr, row_number, size => fsize}
    import org.apache.spark.sql.expressions.Window
    graft.plans.GraftFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, d)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
      .filter(fsize(col("v")) === 64)
    val eN = e.withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("v")))
    val (centArr, cb) = graft.operators.SimilarityQueries.pqIndexBuild(eN)
    centArr.persist(); cb.persist()
    // the materialized index: stored codes, resident like a serving node's
    val codes = graft.operators.SimilarityQueries
      .pqIndexAnnotate(e, centArr, cb).persist()
    val total = codes.count()
    val ids: Seq[Long] = {
      val all = e.select(col("vec_id")).orderBy("vec_id")
        .collect().map(_.getLong(0))
      val stride = math.max(all.length / nProbes, 1)
      (0 until math.min(nProbes, all.length)).map(i => all(i * stride))
    }
    // exact ground truth for every probe in ONE job: broadcast the probe
    // rows against the corpus, rank by exact cosine
    val probes = e.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("pid"), col("v").as("q"))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("pid"))
      .select(col("pid"), col("vec_id"),
        (expr("graft_dot(v, q)") /
          (graft.functions.VectorFunctions.l2Norm(col("v")) *
           graft.functions.VectorFunctions.l2Norm(col("q")))).as("cos"))
      .withColumn("rk", row_number.over(w)).filter(col("rk") <= 10)
      .select("pid", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    def serveOne(pid: Long): (Double, Set[Long]) = {
      val t = System.nanoTime()
      val got = graft.operators.SimilarityQueries.pqIndexServe(
          codes, e.filter(col("vec_id") === pid), centArr, cb,
          nprobe = nprobe, probeId = pid)
        .collect().map(_.getLong(0)).toSet
      ((System.nanoTime() - t) / 1e6, got)
    }
    serveOne(ids.head) // warm the per-probe path (JIT + broadcast machinery)
    // sequential leg: per-probe latency distribution + recall
    val seq = ids.map(pid => (pid, serveOne(pid)))
    val lats = seq.map(_._2._1).sorted
    def pct(p: Double) = lats((p * (lats.length - 1)).round.toInt)
    val recalls = seq.map { case (pid, (_, got)) =>
      (got intersect exact(pid)).size / 10.0 }
    println(f"annserve sequential: ${ids.length} probes over $total%,d stored codes — " +
      f"p50 ${pct(0.50)}%.0f ms  p95 ${pct(0.95)}%.0f ms  p99 ${pct(0.99)}%.0f ms  " +
      f"(${1000.0 / (lats.sum / lats.length)}%.1f probes/s)")
    println(f"annserve recall@10 vs exact cosine: mean ${recalls.sum / recalls.length}%.3f  " +
      f"min ${recalls.min}%.2f (nprobe=$nprobe, ADC top-10)")
    // concurrent leg: 8 issuers, round-robin over the probe set
    val nThreads = 8
    val t0 = System.nanoTime()
    val threads = (0 until nThreads).map { t =>
      val th = new Thread(() =>
        ids.zipWithIndex.filter(_._2 % nThreads == t)
          .foreach { case (pid, _) => serveOne(pid) })
      th.start(); th
    }
    threads.foreach(_.join())
    val csecs = (System.nanoTime() - t0) / 1e9
    println(f"annserve concurrent: $nThreads issuers x ${ids.length} probes in " +
      f"$csecs%.1f s = ${ids.length / csecs}%.0f probes/s aggregate")
    // batched leg (r22, VERDICT r21 #4): ALL probes answered in ONE job
    // over the same persisted codes — the v_ivfpq_batch throughput shape,
    // published alongside the interactive p50/p99 so the
    // interactive-vs-batch trade is reported honestly from the same
    // index, probe set, and ground truth.
    val probesDf = e.filter(col("vec_id").isin(ids: _*))
    val tb = System.nanoTime()
    val got = graft.operators.SimilarityQueries
      .pqIndexServeBatch(codes, probesDf, centArr, cb, nprobe = nprobe)
      .collect()
    val bsecs = (System.nanoTime() - tb) / 1e9
    val byProbe = got.groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val brecalls = ids.map(pid =>
      (byProbe.getOrElse(pid, Set.empty[Long]) intersect exact(pid)).size / 10.0)
    println(f"annserve batched: ${ids.length} probes in ONE job — " +
      f"$bsecs%.2f s = ${ids.length / bsecs}%.0f probes/s  " +
      f"recall@10 mean ${brecalls.sum / brecalls.length}%.3f  " +
      f"min ${brecalls.min}%.2f (nprobe=$nprobe, ADC top-10)")
    codes.unpersist(); centArr.unpersist(); cb.unpersist()
  }

  /** `soak` mode (VERDICT r18 #5): N (default 32) concurrent WS consumers
    * through the REAL `ServiceShell` — raw HTTP create, raw WS connects,
    * event bodies drawn from the sf events table — under the full churn
    * menu the reference's single-active-consumer contract must survive at
    * plurality (app/app.py:320-344): a displacement storm (8 keys
    * reconnected mid-traffic), DELETE-while-streaming (8 keys), and a
    * preStop fired mid-wave. Asserts ZERO leaks at the end: no socket-map
    * entries, no active query on any key, no active streaming query in
    * the whole session. Prints a consumers × msgs/s steady-state figure.
    * Usage: runMain graft.StreamProbe <sfDir> soak [nConsumers]
    */
  private def soak(spark: SparkSession, d: String, nConsumers: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse, WebSocket}
    import java.util.concurrent.atomic.LongAdder
    import java.util.concurrent.{CompletableFuture, TimeUnit}
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val registry = new graft.streaming.EventStreamRegistry
    val coord = new graft.streaming.StreamCoordinator
    val keys = (0 until nConsumers).map(i => s"rk-soak-$i")
    val streams = keys.map(k => k -> MemoryStream[(String, Long, Long)]).toMap
    val shell = new graft.streaming.ServiceShell(spark, registry, coord,
      k => streams(k).toDF().toDF("body", "ordinal", "ts_ms"))
    shell.start()
    val http = HttpClient.newHttpClient()
    def base = s"http://127.0.0.1:${shell.httpPort}"
    // real event ids off the sf table as payload material
    val eventIds = graft.Tables.events(spark, d)
      .select(col("event_id")).limit(4096).as[Long].collect()
    val ordinals = scala.collection.mutable.Map(keys.map(_ -> 0L): _*)
    def pump(key: String, n: Int): Unit = {
      val from = ordinals(key)
      streams(key).addData((0 until n).map { j =>
        val eid = eventIds(((from + j) % eventIds.length).toInt)
        (s"""{"message_type":"soak","event_id":$eid}""", from + j, 1000L + from + j)
      }: _*)
      ordinals(key) = from + n
    }
    def drain(liveKeys: Seq[String]): Unit =
      liveKeys.foreach(k => coord.activeQuery(k).foreach(_.processAllAvailable()))
    final case class Consumer(ws: WebSocket, got: LongAdder,
                              closed: CompletableFuture[Integer])
    def connect(loc: String): Consumer = {
      val got = new LongAdder
      val closed = new CompletableFuture[Integer]()
      val ws = http.newWebSocketBuilder().buildAsync(URI.create(loc),
        new WebSocket.Listener {
          override def onText(w: WebSocket, data: CharSequence, last: Boolean)
              : java.util.concurrent.CompletionStage[_] = {
            if (last) got.increment(); w.request(1); null
          }
          override def onClose(w: WebSocket, code: Int, reason: String)
              : java.util.concurrent.CompletionStage[_] = {
            closed.complete(code); null
          }
          override def onError(w: WebSocket, error: Throwable): Unit = {
            closed.complete(-1); ()
          }
        }).join()
      Consumer(ws, got, closed)
    }
    def await(cond: () => Boolean, what: String, secs: Int = 60): Unit = {
      val deadline = System.nanoTime() + secs * 1e9.toLong
      while (!cond() && System.nanoTime() < deadline) Thread.sleep(25)
      require(cond(), s"soak: timed out waiting for $what")
    }
    try {
      // create all streams over HTTP; remember (id, location) per key
      val recs: Map[String, (Long, String)] = keys.map { k =>
        val resp = http.send(HttpRequest.newBuilder(URI.create(s"$base/event-stream/"))
          .POST(HttpRequest.BodyPublishers.ofString(s"""{"routing_key": "$k"}"""))
          .build(), HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 201, s"create $k: ${resp.statusCode()}")
        val id = """"id":(\d+)""".r.findFirstMatchIn(resp.body).get.group(1).toLong
        val loc = """"location":"([^"]+)"""".r.findFirstMatchIn(resp.body).get.group(1)
        k -> (id, loc)
      }.toMap
      val first = keys.map(k => k -> connect(recs(k)._2)).toMap
      await(() => keys.forall(k => coord.activeQuery(k).isDefined),
        s"all $nConsumers consumers admitted")
      // ---- phase A: steady state — 2 waves, exact delivery, timed ----
      val wave = 100
      val t0 = System.nanoTime()
      for (_ <- 1 to 2) { keys.foreach(pump(_, wave)); drain(keys) }
      await(() => keys.forall(k => first(k).got.sum() == 2L * wave),
        "steady-state delivery of 2 waves to all consumers")
      val steadySecs = (System.nanoTime() - t0) / 1e9
      val steadyMsgs = 2L * wave * nConsumers
      println(f"soak steady: $nConsumers consumers x ${2 * wave} msgs = " +
        f"$steadyMsgs msgs in $steadySecs%.1f s = ${steadyMsgs / steadySecs}%.0f msgs/s aggregate")
      // ---- phase B: displacement storm on keys 0-7 mid-traffic ----
      val stormKeys = keys.take(8)
      val preStormQ = stormKeys.map(k => k -> coord.activeQuery(k)).toMap
      val winners = stormKeys.map(k => k -> connect(recs(k)._2)).toMap
      await(() => stormKeys.forall(k => first(k).closed.isDone),
        "displaced consumers observe their close")
      stormKeys.foreach { k =>
        val c = first(k).closed.get(); require(c == 1000,
          s"displaced $k: expected close 1000, got $c")
      }
      // displacement tears the old query down before the winner's is
      // admitted — wait until each storm key's active query is a NEW one
      // (reference-distinct from pre-storm), else the drain below misses
      // the key and the wave rides the trigger cadence, making the 60 s
      // delivery await timing-dependent under load (ADVICE r19)
      await(() => stormKeys.forall(k => coord.activeQuery(k)
          .exists(q => !preStormQ(k).exists(_ eq q))),
        "winners' queries admitted after displacement")
      keys.foreach(pump(_, wave)); drain(keys)
      // NEXT over a MemoryStream is a no-op filter on a replayed source,
      // so a winner sees the backlog too — assert it got AT LEAST the wave
      await(() => stormKeys.forall(k => winners(k).got.sum() >= wave) &&
          keys.drop(8).forall(k => first(k).got.sum() == 3L * wave),
        "post-storm wave delivered to winners and undisturbed consumers")
      // ---- phase C: DELETE-while-streaming on keys 8-15 ----
      val delKeys = keys.slice(8, 16)
      delKeys.foreach(pump(_, wave)) // in-flight rows when the DELETE lands
      delKeys.foreach { k =>
        val resp = http.send(HttpRequest.newBuilder(
            URI.create(s"$base/event-stream/${recs(k)._1}"))
          .DELETE().build(), HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 204, s"DELETE $k: ${resp.statusCode()}")
      }
      await(() => delKeys.forall(k => first(k).closed.isDone),
        "deleted streams' consumers observe their close")
      delKeys.foreach { k =>
        val c = first(k).closed.get(); require(c == 1000,
          s"deleted $k: expected close 1000, got $c")
        require(coord.activeQuery(k).isEmpty, s"deleted $k: query still active")
      }
      val liveKeys = stormKeys ++ keys.drop(16)
      keys.foreach(pump(_, wave)) // includes deleted keys: rows go nowhere
      drain(liveKeys)
      await(() => keys.drop(16).forall(k => first(k).got.sum() == 4L * wave),
        "post-DELETE wave delivered to surviving consumers")
      // ---- phase D: preStop mid-wave drains everyone with 1001 ----
      liveKeys.foreach(pump(_, wave)) // traffic in flight when preStop lands
      val pre = http.send(HttpRequest.newBuilder(URI.create(s"$base/admin/prestop"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofString())
      require(pre.statusCode() == 204, s"prestop: ${pre.statusCode()}")
      val remaining = stormKeys.map(winners) ++ keys.drop(16).map(first)
      await(() => remaining.forall(_.closed.isDone),
        "preStop drains every surviving consumer")
      remaining.foreach { c =>
        val code = c.closed.get()
        require(code == 1001, s"preStop drain: expected 1001, got $code")
      }
      // ---- leak audit: maps, per-key queries, session-wide queries ----
      await(() => spark.streams.active.isEmpty, "all streaming queries stopped")
      require(shell.liveConnEntries == 0,
        s"socket maps leaked ${shell.liveConnEntries} entries")
      keys.foreach(k => require(coord.activeQuery(k).isEmpty,
        s"leaked active query on $k"))
      val total = first.values.map(_.got.sum()).sum + winners.values.map(_.got.sum()).sum
      println(s"soak churn: 8 displaced (1000) + 8 deleted (1000) + " +
        s"${remaining.size} preStop-drained (1001); $total msgs delivered total")
      println(s"soak leaks: connEntries=${shell.liveConnEntries} " +
        s"activeKeys=${keys.count(coord.activeQuery(_).isDefined)} " +
        s"sessionQueries=${spark.streams.active.length} — ALL ZERO")
    } finally shell.stop()
  }
}
