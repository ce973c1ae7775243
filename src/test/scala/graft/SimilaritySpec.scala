package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("R19: dot and cosine match hand-computed values") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(0.5, 0.1, 0.9))).toDF("a", "b")
    val r = df.select(
      dot($"a", $"b").as("d"),
      cosine($"a", $"b").as("c")).head()
    assert(math.abs(r.getDouble(0) - 3.4) < 1e-12)
    val expected = 3.4 / (math.sqrt(14.0) * math.sqrt(0.25 + 0.01 + 0.81))
    assert(math.abs(r.getDouble(1) - expected) < 1e-12)
  }

  test("R19: cosine of zero vector is null, identical vectors is 1") {
    val df = Seq(
      (Seq(0.0, 0.0), Seq(1.0, 1.0)),
      (Seq(2.0, 1.0), Seq(2.0, 1.0))).toDF("a", "b")
    val rows = df.select(cosine($"a", $"b").as("c")).collect()
    assert(rows(0).isNullAt(0))
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("R19: identical vectors land in the same LSH bucket; planted near pair found") {
    val planes = hyperplanes(8, 4)
    val v = Seq(0.3, -0.2, 0.9, 0.1)
    val nearV = Seq(0.31, -0.19, 0.91, 0.1) // tiny perturbation
    val farV = Seq(-0.5, 0.8, -0.3, -0.9)
    val df = Seq((0L, v), (1L, nearV), (2L, farV)).toDF("vec_id", "v")
      .withColumn("bucket", lshBucket($"v", planes))
    val buckets = df.orderBy("vec_id").select("bucket").as[Long].collect()
    assert(buckets(0) === buckets(1)) // near-identical agree on all planes
    assert(buckets(0) !== buckets(2)) // opposite vector flips every plane
  }

  test("R19: hyperplanes are deterministic across calls") {
    val a = hyperplanes(4, 8)
    val b = hyperplanes(4, 8)
    assert(a.flatten === b.flatten)
  }

  test("R19: LSH buckets recover clustered near-dups with high recall") {
    // Planted structure: 20 clusters x 8 members, members at cos≈0.99 to
    // their center. On such data (the near-dup regime the operator exists
    // for) same-cluster members collide in LSH buckets with high
    // probability; the testdata embeddings are near-random (max pairwise
    // cos 0.48), where top-1-NN recall is inherently noise — see SCALE.md.
    val rnd = new scala.util.Random(7)
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val data = (0 until 20).flatMap { c =>
      val center = normalize(Array.fill(16)(rnd.nextGaussian()))
      (0 until 8).map { m =>
        val v = normalize(center.map(_ + 0.05 * rnd.nextGaussian()))
        (c.toLong * 8 + m, c, v.toSeq)
      }
    }
    val df = data.toDF("vec_id", "cluster", "v")
    val planes = hyperplanes(10, 16)
    val e = df.withColumn("bucket", lshBucket($"v", planes))
    // pairs sharing a bucket, checked against cluster labels
    val pairs = e.as("a").join(e.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.cluster".as("ca"), $"b.cluster".as("cb"))
    val total = pairs.count()
    val sameCluster = pairs.filter($"ca" === $"cb").count()
    // precision: colliding pairs are overwhelmingly true near-dups (the
    // few false positives are removed by downstream exact verification)
    assert(total > 100, s"too few candidate pairs: $total")
    assert(sameCluster.toDouble / total > 0.9,
      s"precision ${sameCluster.toDouble / total} on $total pairs")
    // recall: most true same-cluster pairs (20 * 28 = 560) collide
    assert(sameCluster.toDouble / 560 > 0.5,
      s"recall ${sameCluster.toDouble / 560}")
  }

  test("R19: ANN recall@1 >= 0.9 on planted neighbors — both LSH and IVF") {
    // The testdata embeddings are near-random (max pairwise cos ≈ 0.5), so
    // top-1 agreement there is noise. THIS fixture has real neighbor
    // structure — 20 clusters × 8 members at cos ≈ 0.99 to their center,
    // the regime ANN exists for — so recall@1 is a meaningful, assertable
    // number for the exact operator cores the registered queries run.
    val rnd = new scala.util.Random(11)
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val data = (0 until 20).flatMap { c =>
      val center = normalize(Array.fill(16)(rnd.nextGaussian()))
      (0 until 8).map { m =>
        val v = normalize(center.map(_ + 0.05 * rnd.nextGaussian()))
        (c.toLong * 8 + m, c.toLong, v.toSeq)
      }
    }
    val e = data.toDF("vec_id", "cluster", "v")
    val clusters = e.select($"vec_id", $"cluster")
    def recallAt1(ann: org.apache.spark.sql.DataFrame): Double = {
      // ground truth: every vector's true nearest neighbor is in-cluster
      val hits = ann
        .join(clusters, "vec_id")
        .join(clusters.select($"vec_id".as("nn"), $"cluster".as("nn_cluster")), "nn")
        .select(($"cluster" === $"nn_cluster").cast("int").as("hit"))
        .agg(avg($"hit")).head().getDouble(0)
      hits
    }
    val lsh = recallAt1(graft.operators.SimilarityQueries.annLshBest(e, nPlanes = 10, dim = 16))
    assert(lsh >= 0.9, s"LSH recall@1 on planted clusters: $lsh")
    val ivf = recallAt1(graft.operators.SimilarityQueries.annIvfBest(e, centroidStride = 13, nprobe = 2))
    assert(ivf >= 0.9, s"IVF recall@1 on planted clusters: $ivf")
  }

  test("R19: kmeans refinement converges on planted clusters — tight cells, no churn") {
    // 20 clusters × 8 members at cos ≈ 0.99 to their center; vec_ids are
    // c*8+m so seedStride=8 makes each cluster's first member its seed —
    // the E/M/E readout must then report 20 intact cells, near-perfect
    // cohesion, and ZERO second-step reassignment (Lloyd has converged).
    val rnd = new scala.util.Random(13)
    def normalize(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val data = (0 until 20).flatMap { c =>
      val center = normalize(Array.fill(16)(rnd.nextGaussian()))
      (0 until 8).map { m =>
        val v = normalize(center.map(_ + 0.05 * rnd.nextGaussian()))
        (c.toLong * 8 + m, v.toSeq)
      }
    }
    val e = data.toDF("vec_id", "v")
    val out = graft.operators.SimilarityQueries.kmeansRefine(e, seedStride = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length === 20, s"expected 20 cells, got ${out.length}")
    assert(out.map(_._2).sum === 160L, "every vector must land in exactly one cell")
    assert(out.map(_._1).toSeq === (0 until 20).map(_.toLong * 8),
      "cells must be the strided seeds")
    out.foreach { case (cell, n, coh, switched) =>
      assert(n === 8L, s"cell $cell: $n members — a cluster broke apart")
      assert(coh > 0.95, s"cell $cell: cohesion $coh")
      assert(switched === 0L, s"cell $cell: $switched members would switch")
    }
  }

  test("R19: iterated Lloyd trainer — cohesion trace non-decreasing over 3 steps on real embeddings") {
    // The data-dependent-stopping trainer (VERDICT r10 §next-5): the
    // oracled queries use FIXED unroll counts (refinedCentArr at K=1,
    // refinedCentArrK at K=3 since r12) so the DuckDB replay stays
    // closed-form; this pins the k-step trainer's convergence on the real
    // sf0.01 fixture — the v_ivf_train_gain audit re-run per step. The
    // trace is 4-dp-floored and the fixture is fixed, so the assertion is
    // deterministic, not statistical.
    import graft.functions.VectorFunctions.{asDouble, l2Norm}
    val e = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .filter(size($"v") === 64)
      .withColumn("nrm", l2Norm($"v"))
    graft.plans.GraftFunctions.register(spark)
    val (cells, trace) = graft.operators.SimilarityQueries.trainCoarse(e, 13, 3)
    assert(trace.length === 4, s"trace = seed + 3 steps, got $trace")
    trace.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"cohesion decreased along the trace: $trace")
    }
    assert(trace.last > trace.head,
      s"3 Lloyd steps bought no cohesion at all: $trace")
    // step 1 of the trainer IS refinedCentArr's one step — the oracled
    // form and the trainer must agree at k=1 (same E/M arithmetic)
    val oneStep = graft.operators.SimilarityQueries.refinedCentArr(e, 13)
    val coh1 = e.crossJoin(broadcast(oneStep))
      .select(expr("graft_pick_cell(v, nrm, cells).best").as("best"))
      .agg(graft.functions.ParityMath.floorRound(avg($"best"), 4))
      .head().getDouble(0)
    assert(coh1 === trace(1),
      s"trainer step-1 cohesion ${trace(1)} != refinedCentArr's $coh1")
    // the trained cells remain a valid serve-shape artifact: one row, k cells
    val arr = cells.head().getSeq[org.apache.spark.sql.Row](0)
    assert(arr.nonEmpty && arr.length === e.filter($"vec_id" % 13 === 0).count().toInt)
  }

  test("R19: v_ivf_train_gain — 3-step cohesion strictly improves on the 1-step figure") {
    // VERDICT r11 #4 done-criterion: the oracled audit's trained3 column
    // (the quantizer v_ivfpq_trained serves from) must STRICTLY beat the
    // 1-step figure on the real fixture. Asserted here rather than as an
    // oracle column because strictness is a property of Lloyd on this
    // corpus (plain-mean M-steps maximize the L2 objective, not cosine),
    // not an analytic guarantee.
    val r = SparkEntry.queries("v_ivf_train_gain")(spark, "/root/testdata/sf0.01").head()
    val seed = r.getAs[Double]("avg_cohesion_seed")
    val t1 = r.getAs[Double]("avg_cohesion_trained")
    val t3 = r.getAs[Double]("avg_cohesion_trained3")
    assert(t1 > seed, s"1-step cohesion $t1 did not improve on seed $seed")
    assert(t3 > t1, s"3-step cohesion $t3 did not strictly improve on 1-step $t1")
  }

  test("R19: refinedCentArrK — K=1 reproduces refinedCentArr exactly") {
    import graft.functions.VectorFunctions.{asDouble, l2Norm}
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id", asDouble($"embedding").as("v"))
      .filter(size($"v") === 64)
      .withColumn("nrm", l2Norm($"v"))
    graft.plans.GraftFunctions.register(spark)
    val a = graft.operators.SimilarityQueries.refinedCentArr(e, 13).head()
    val b = graft.operators.SimilarityQueries.refinedCentArrK(e, 13, 1).head()
    assert(a === b, "K=1 unrolled trainer diverged from the 1-step form")
  }

  test("R19: PQ codes — codebook members encode to themselves with zero error") {
    // 16 codebook vectors (vec_id 0-15) + planted probes: a vector EQUAL
    // to codebook entry 3 must pick code 3 in every subspace (pq_code =
    // 3 * (17^8 - 1) / 16) with mse_units = 0; a mixed vector picks the
    // per-subspace nearest independently
    val rnd = new scala.util.Random(17)
    val book = (0 until 16).map(c => (c.toLong, Seq.fill(64)(rnd.nextGaussian())))
    val data = book ++ Seq(
      (100L, book(3)._2),                                 // exact copy of entry 3
      (101L, book(7)._2.take(8) ++ book(2)._2.drop(8)))   // subspace 0 from 7, rest from 2
    val out = graft.operators.SimilarityQueries
      .pqCodes(data.toDF("vec_id", "v"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val rep = (0 until 8).map(j => math.pow(17, j).toLong)
    assert(out(100L) === ((rep.map(_ * 3).sum, 0L)), out(100L).toString)
    assert(out(101L) === ((7L + rep.drop(1).map(_ * 2).sum, 0L)), out(101L).toString)
    // every codebook member encodes to itself, zero error
    (0 until 16).foreach { c =>
      assert(out(c.toLong) === ((rep.map(_ * c).sum, 0L)), s"code $c: ${out(c.toLong)}")
    }
  }

  test("R19: IVF-PQ search probes cells, not the corpus — an L2-closer vector in an unprobed cell is excluded") {
    // 16 vectors (codebook + corpus), stride 4 ⇒ centroids {0, 4, 8, 12}
    // on orthogonal axes. The probe (0 = e1) ranks cells by cosine: own
    // cell 1.0, the rest tie at 0 ⇒ nprobe=2 picks {0, 4} (lowest-cell
    // tie-break). Planted semantics pin:
    //   id 1 (0.9·e1 + 0.1·e2)  → home cell 0, probed  ⇒ in results
    //   id 2 (0.1·e1 + 0.8·e2)  → home cell 4, probed  ⇒ in results
    //   id 3 (0.1·e3)           → home cell 8, UNPROBED ⇒ excluded, even
    //     though its exact L2 distance to the probe (1.01) beats id 2's
    //     (1.45) — a full-corpus ADC scan would rank it above id 2; only
    //     the cell filter can exclude it. That asymmetry IS the index.
    graft.plans.GraftFunctions.register(spark)
    def axis(i: Int, s: Double): Seq[Double] =
      Seq.tabulate(64)(j => if (j == i) s else 0.0)
    def mix(pairs: (Int, Double)*): Seq[Double] =
      Seq.tabulate(64)(j => pairs.collectFirst { case (i, s) if i == j => s }.getOrElse(0.0))
    val data: Seq[(Long, Seq[Double])] = Seq(
      0L -> axis(0, 1.0), 4L -> axis(1, 1.0),
      8L -> axis(2, 1.0), 12L -> axis(3, 1.0),          // centroids
      1L -> mix(0 -> 0.9, 1 -> 0.1),                    // cell 0
      2L -> mix(0 -> 0.1, 1 -> 0.8),                    // cell 4
      3L -> axis(2, 0.1),                               // cell 8: the trap
      5L -> axis(2, 2.0), 6L -> axis(2, 3.0),           // cell 8 filler
      7L -> axis(3, 2.0), 9L -> axis(3, 3.0),           // cell 12 filler
      10L -> axis(2, 4.0), 11L -> axis(3, 4.0),
      13L -> axis(2, 5.0), 14L -> axis(3, 5.0), 15L -> axis(2, 6.0))
    val out = graft.operators.SimilarityQueries
      .ivfpqSearch(data.toDF("vec_id", "v"), centroidStride = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(Set(0L, 4L).intersect(out.values.toSet) === out.values.toSet,
      s"every result must come from a probed cell: $out")
    assert(out.contains(1L) && out(1L) === 0L, out.toString)
    assert(out.contains(2L) && out(2L) === 4L, out.toString)
    assert(out.contains(4L) && out(4L) === 4L,
      s"centroid 4 is itself a corpus member of a probed cell: $out")
    assert(!out.contains(3L),
      s"the trap (closer to the probe than id 2, homed in unprobed cell 8) leaked in: $out")
    assert(!out.contains(8L) && !out.contains(12L) && !out.contains(5L),
      s"unprobed-cell members leaked in: $out")
  }

  test("R19 regression: dot product of mismatched-length arrays is null, not a partial sum") {
    val df = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
    val r = df.select(dot($"a", $"b").as("d")).collect()
    assert(r(0).isNullAt(0))
  }
}
