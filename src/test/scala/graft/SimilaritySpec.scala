package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("marginMutualKnn: mutual, canonical, neighborhood-relative, deterministic") {
    val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val mined = Similarity.marginMutualKnn(em, col("vec_id"), col("embedding"),
        threshold = 0.3, k = 3)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(mined.nonEmpty, "fixture embeddings should yield mined pairs")
    // canonical and unique
    assert(mined.forall { case (a, b, _, _, _) => a < b })
    assert(mined.map(p => (p._1, p._2)).distinct.size == mined.size)
    // margins are the edge's cosine RELATIVE to its own source's
    // top-k mean — recompute the top-k sets independently and verify
    // both mutuality and the integer-units margin formula
    val pairs = Similarity.annLshPairs(em, col("vec_id"), col("embedding"), 0.3)
      .as[(Long, Long, Double)].collect()
    val adj = (pairs.map(p => (p._1, (p._2, p._3))) ++
      pairs.map(p => (p._2, (p._1, p._3))))
      .groupBy(_._1).map { case (s, xs) =>
        s -> xs.map(_._2).sortBy { case (n, c) => (-c, n) }.take(3)
      }
    def margin(src: Long, nbr: Long): Long = {
      val top = adj(src)
      val cu = top.map { case (_, c) => math.round(c * 10000) }
      val su = cu.sum
      val edge = math.round(top.find(_._1 == nbr).get._2 * 10000)
      // the operator (and oracle) floor a DOUBLE division — mirror it
      math.floor((2.0 * edge * top.size * 10000 + su) / (2.0 * su)).toLong
    }
    mined.foreach { case (a, b, _, mab, mba) =>
      assert(adj(a).exists(_._1 == b) && adj(b).exists(_._1 == a),
        s"pair ($a,$b) not mutually top-k")
      assert(mab == margin(a, b) && mba == margin(b, a),
        s"margin mismatch for ($a,$b)")
    }
    // and every (src-side) top-1 edge carries margin >= 1e4 when mined
    // (best cosine is never below its own top-k mean)
    val rerun = Similarity.marginMutualKnn(em.repartition(7), col("vec_id"),
        col("embedding"), threshold = 0.3, k = 3)
      .as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(rerun.toSet == mined.toSet, "partitioning changed the mined set")
  }

  test("marginMutualKnnAuto ≡ fixed form at fixture scale (derived params floor)") {
    val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val fixed = Similarity.marginMutualKnn(em, col("vec_id"), col("embedding"),
      threshold = 0.3, k = 3)
    val auto = Similarity.marginMutualKnnAuto(em, col("vec_id"), col("embedding"),
      threshold = 0.3, k = 3)
    assert(auto.except(fixed).isEmpty && fixed.except(auto).isEmpty)
  }

  test("jlProject: deterministic, row-local, distance-preserving in expectation") {
    val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val y = Similarity.jlProject(em, col("vec_id"), col("embedding"),
        outDim = 16, dim = 64)
      .as[(Long, Seq[Double])].collect().toMap
    assert(y.head._2.length == 16)
    // determinism + partitioning invariance (pure projection)
    val y2 = Similarity.jlProject(em.repartition(7), col("vec_id"),
        col("embedding"), outDim = 16, dim = 64)
      .as[(Long, Seq[Double])].collect().toMap
    assert(y == y2, "projection must be partitioning-invariant")
    // distance preservation: mean distortion over adjacent pairs ≈ 1
    // (E||ya-yb||² = ||a-b||²; spread ~ √(2/16) per pair, so the mean
    // over 100+ pairs concentrates well inside [0.8, 1.2])
    val v = em.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val pairs = v.keys.filter(k => k % 2 == 0 && v.contains(k + 1)).toSeq.sorted
    assert(pairs.size >= 100)
    val distortions = pairs.map { k =>
      val dv = v(k).zip(v(k + 1)).map { case (p, q) => p - q }
      val dTrue = dv.map(x => x * x).sum
      val dProj = y(k).zip(y(k + 1)).map { case (p, q) =>
        (p - q) * (p - q) }.sum
      dProj / dTrue
    }
    val mean = distortions.sum / distortions.size
    assert(mean > 0.8 && mean < 1.2, s"mean distortion $mean drifted from 1")
    // no pathological pair (chi²₁₆/16 tails: P(<0.05 or >4) ≈ 0)
    assert(distortions.forall(r => r > 0.05 && r < 4.0),
      s"pair distortion out of plausible band: ${distortions.min}, ${distortions.max}")
    // the q251 identity: projecting the difference ≡ differencing the
    // projections (linearity), which is what the anchor publishes
    val k0 = pairs.head
    val dv = v(k0).zip(v(k0 + 1)).map { case (p, q) => p - q }
    val dirProj = (0 until 16).map { t =>
      val pt = (0 until 64).map(d => Similarity.jlPlaneComp(t, d))
      val dp = dv.zip(pt).map { case (x, c) => x * c }.sum
      dp * dp
    }.sum / 16.0
    val viaY = y(k0).zip(y(k0 + 1)).map { case (p, q) => (p - q) * (p - q) }.sum
    assert(math.abs(dirProj - viaY) < 1e-9)
  }

  test("jl distortion SCHEDULE (q251/q254): halving t keeps the estimate " +
      "unbiased but widens the per-pair spread") {
    // the two-operating-point contract: per-pair variance ∝ 1/t, so
    // t=8 must show a strictly larger spread than t=16 over the same
    // pairs while both means stay near 1 (measured at sf0.01:
    // stddev 0.506 vs 0.324, variance ratio 2.44 vs the theoretical
    // 2.0). Deterministic given the fixture — a measurement, not a
    // flaky statistical assertion.
    val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val v = em.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val pairs = v.keys.filter(k => k % 2 == 0 && v.contains(k + 1)).toSeq.sorted
    def distortions(t: Int): Seq[Double] = {
      val y = Similarity.jlProject(em, col("vec_id"), col("embedding"),
          outDim = t, dim = 64)
        .as[(Long, Seq[Double])].collect().toMap
      pairs.map { k =>
        val dTrue = v(k).zip(v(k + 1)).map { case (p, q) => (p - q) * (p - q) }.sum
        val dProj = y(k).zip(y(k + 1)).map { case (p, q) => (p - q) * (p - q) }.sum
        dProj / dTrue
      }
    }
    def stats(xs: Seq[Double]): (Double, Double) = {
      val m = xs.sum / xs.size
      (m, math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)))
    }
    val (m16, s16) = stats(distortions(16))
    val (m8, s8) = stats(distortions(8))
    assert(m8 > 0.8 && m8 < 1.2, s"t=8 mean distortion $m8 drifted from 1")
    assert(s8 > s16, s"t=8 spread ($s8) must exceed t=16 ($s16)")
    // and the widening is the 1/t schedule, not noise: variance ratio
    // lands in a loose band around the theoretical 2
    val ratio = (s8 * s8) / (s16 * s16)
    assert(ratio > 1.3 && ratio < 3.5, s"variance ratio $ratio off the 1/t schedule")
  }

  test("dot/norm/cosine basics") {
    val df = Seq((Seq(1.0, 0.0), Seq(0.0, 1.0)), (Seq(2.0, 0.0), Seq(4.0, 0.0)))
      .toDF("a", "b")
      .select(
        Similarity.dot(col("a"), col("b")).as("d"),
        round(Similarity.cosine(col("a"), col("b")), 6).as("c"))
    val got = df.as[(Double, Double)].collect().toSeq
    assert(got == Seq((0.0, 0.0), (8.0, 1.0)))
  }

  test("normalize yields unit vectors; zero vector -> null") {
    val df = Seq(Seq(3.0f, 4.0f), Seq(0.0f, 0.0f)).toDF("v")
      .select(Similarity.normalize(Similarity.vecD(col("v"))).as("nv"))
    val rows = df.collect()
    val nv = rows(0).getSeq[Double](0)
    assert(math.abs(math.hypot(nv(0), nv(1)) - 1.0) < 1e-12)
    assert(rows(1).isNullAt(0))
  }

  test("bruteForceKnn returns k neighbors per query, self excluded") {
    val em = sources.Tables.embeddings(spark, sfDir)
    val knn = Similarity.bruteForceKnn(em, col("vec_id"), col("embedding"), Seq(0L, 1L), 5)
      .as[(Long, Long, Double)].collect()
    val byQ = knn.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L))
    assert(byQ.values.forall(_.length == 5))
    assert(knn.forall { case (q, n, _) => q != n })
  }

  test("IVF: assignments cover all vectors; search recall vs brute force") {
    val em = sources.Tables.embeddings(spark, sfDir)
    val model = Similarity.ivfFit(em, col("vec_id"), col("embedding"), k = 8, iters = 2)
    val cents = model.centroids
    assert(cents.length == 8 && cents.forall(_.length == 64))
    // centroids are normalized
    cents.foreach { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      assert(math.abs(n - 1.0) < 1e-9)
    }
    // every vector got a cluster in [0, k)
    val nVec = em.count()
    assert(model.assigned.filter(col("cluster").between(0, 7)).count() == nVec)
    val exact = Similarity.bruteForceKnn(em, col("vec_id"), col("embedding"), Seq(0L, 1L), 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfSearch(model, Seq(0L, 1L), nprobe = 6, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(ivf.subsetOf(
      Similarity.bruteForceKnn(em, col("vec_id"), col("embedding"), Seq(0L, 1L), 500)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet))
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall $recall (probing 6/8 clusters)")
    // the DataFrame-query form on the raw vectors must land on the
    // exact same probes and scores as the id-list form (delegation)
    val viaDf = Similarity.ivfSearchDf(model, em.filter(col("vec_id").isin(0L, 1L)),
        col("vec_id"), col("embedding"), nprobe = 6, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val viaSeq = Similarity.ivfSearch(model, Seq(0L, 1L), nprobe = 6, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaDf == viaSeq)
    model.unpersist()
  }

  test("cosinePairs refuses oversized inputs (O(n^2) guard)") {
    val em = sources.Tables.embeddings(spark, sfDir)
    val e = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(em, col("vec_id"), col("embedding"), 0.42, maxRows = 10)
    }
    assert(e.getMessage.contains("O(n^2)"))
  }

  test("annLshPairs results are a subset of exact pairs with decent recall") {
    val em = sources.Tables.embeddings(spark, sfDir)
    val exact = Similarity.cosinePairs(em, col("vec_id"), col("embedding"), 0.42)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val ann = Similarity.annLshPairs(em, col("vec_id"), col("embedding"), 0.42)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ann.subsetOf(exact), s"ANN produced non-exact pairs: ${ann -- exact}")
    if (exact.nonEmpty) {
      val recall = ann.size.toDouble / exact.size
      // Random-ish fixture embeddings at sim≈0.42 (≈65°): expected
      // recall 1-(1-p^6)^16 ≈ 0.67 with p≈0.64. Assert a loose floor.
      assert(recall >= 0.3, s"recall $recall (${ann.size}/${exact.size})")
    }
  }

  test("centroidScores: aligned vectors near 1, opposed vector negative") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, 0, Seq(1.0f, 0.0f)),
      (2L, 0, Seq(0.9f, 0.1f)),
      (3L, 0, Seq(-1.0f, 0.0f)),   // opposes the group direction
      (4L, 1, Seq(0.0f, 2.0f)),
      (5L, 1, Seq(0.0f, 0.5f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.centroidScores(df, "vec_id", "label", "embedding")
      .select(col("vec_id"), col("cos_centroid"))
      .as[(Long, Double)].collect().toMap
    // group 0 centroid ≈ (0.3, 0.033): aligned vectors score high,
    // the opposed one is strongly negative
    assert(got(1L) > 0.9 && got(2L) > 0.9)
    assert(got(3L) < -0.9)
    // group 1: both vectors are exactly the centroid direction
    assert(math.abs(got(4L) - 1.0) < 1e-6 && math.abs(got(5L) - 1.0) < 1e-6)
  }

  test("centroidScores plan: centroid side broadcasts; vectors shuffle only for the dim agg") {
    import org.apache.spark.sql.functions._
    val df = Seq((1L, 0, Seq(1.0f, 0.0f)), (2L, 1, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "label", "embedding")
    val plan = Similarity.centroidScores(df, "vec_id", "label", "embedding")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"centroid join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"vectors must not sort-merge:\n$plan")
  }

  test("bitsForCorpus holds occupancy constant; auto pairs == fixed-bit pairs at fixture scale") {
    import org.apache.spark.sql.functions._
    // width tracks log2(n/target): +1 decade of rows = +log2(10) bits
    assert(Similarity.bitsForCorpus(1000) == 6)          // floor
    assert(Similarity.bitsForCorpus(200000) == 10)
    assert(Similarity.bitsForCorpus(2000000) == 14)      // next decade: +4 bits (ceil)
    assert(Similarity.bitsForCorpus(200000, targetBucket = 50) == 12)
    // at fixture size the derived width IS the default 6 (and the
    // derived partition count the floor), so the auto form must return
    // byte-identical pairs to the oracled fixed form
    val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val fixed = Similarity.annLshPairs(em, col("vec_id"), col("embedding"), 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Similarity.annLshPairsAuto(em, col("vec_id"), col("embedding"), 0.42)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fixed.nonEmpty && auto == fixed)
  }

  test("numPartitions sizes the bucket exchange; no second exchange before the aggregate") {
    import org.apache.spark.sql.functions._
    val em = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = Similarity.annLshPairs(em, col("vec_id"), col("embedding"), 0.42,
        numPartitions = Some(7))
      .queryExecution.executedPlan.toString
    // the repartition carries the derived width on the grouping keys...
    assert(plan.contains("hashpartitioning(table_idx") && plan.contains(", 7)"),
      s"expected a 7-way exchange on (table_idx, bucket):\n$plan")
    // ...and the bucket aggregation reuses it: exactly one exchange
    // upstream of the first collect_list aggregate
    val firstAgg = plan.indexOf("collect_list")
    val exchangesAbove = "Exchange hashpartitioning\\(table_idx".r
      .findAllIn(plan).size
    assert(firstAgg >= 0 && exchangesAbove == 1,
      s"bucket aggregate must reuse the sized exchange:\n$plan")
  }

  test("quantizeInt8: per-component error <= scale/2; zero vector safe; int cosine tracks exact") {
    val em = sources.Tables.embeddings(spark, sfDir)
    val qz = Similarity.quantizeInt8(col("embedding"))
    val rows = em.select(
        qz.getField("scale").as("sc"), qz.getField("q").as("q"),
        Similarity.vecD(col("embedding")).as("v"))
      .limit(50).collect()
    rows.foreach { r =>
      val sc = r.getDouble(0)
      val q = r.getSeq[Int](1); val v = r.getSeq[Double](2)
      assert(q.forall(x => x >= -127 && x <= 127))
      q.zip(v).foreach { case (qi, xi) =>
        assert(math.abs(qi * sc - xi) <= sc / 2 + 1e-12,
          s"reconstruction error above scale/2: q=$qi x=$xi sc=$sc")
      }
      // scale cancels: integer cosine approximates exact cosine
      val dotQ = q.zip(q).map { case (a, b) => a.toLong * b }.sum.toDouble
      val dotV = v.zip(v).map { case (a, b) => a * b }.sum
      val cosSelfQ = dotQ / (math.sqrt(dotQ) * math.sqrt(dotQ))
      val cosSelfV = dotV / (math.sqrt(dotV) * math.sqrt(dotV))
      assert(math.abs(cosSelfQ - cosSelfV) < 1e-9)
    }
    import spark.implicits._
    val z = Seq(Seq(0.0f, 0.0f, 0.0f)).toDF("embedding")
      .select(Similarity.quantizeInt8(col("embedding")).as("qz"))
      .select(col("qz.scale"), col("qz.q")).head()
    assert(z.getDouble(0) == 0.0 && z.getSeq[Int](1).forall(_ == 0))
  }

  test("clustersForCorpus schedule; auto semDedup == fixed form at fixture scale") {
    // floor pins the oracle-scale k; past the floor, k tracks n/target
    assert(Similarity.clustersForCorpus(500) == 16)
    assert(Similarity.clustersForCorpus(2000) == 16)
    assert(Similarity.clustersForCorpus(20000) == 100)
    assert(Similarity.clustersForCorpus(200000) == 1000)
    assert(Similarity.clustersForCorpus(20000, targetCluster = 500) == 40)
    val em = sources.Tables.embeddings(spark, sfDir)
    val fixed = Similarity.semDedup(em, col("vec_id"), col("embedding"),
        k = 16, iters = 2, tau = 0.42, quantize = Some(9))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val auto = Similarity.semDedupAuto(em, col("vec_id"), col("embedding"),
        iters = 2, tau = 0.42, quantize = Some(9))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(fixed.nonEmpty && auto == fixed)
  }

  test("standardizeDims: whitened dims have mean~0 std~1; zero-variance dim centers") {
    import spark.implicits._
    val vecs = Seq(
      Seq(1.0f, 10.0f, 5.0f),
      Seq(2.0f, 20.0f, 5.0f),
      Seq(3.0f, 30.0f, 5.0f),
      Seq(4.0f, 40.0f, 5.0f)).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val z = Similarity.standardizeDims(vecs, col("vec_id"), col("embedding"))
      .orderBy("id").collect().map(_.getSeq[Double](1))
    (0 until 2).foreach { d =>
      val col_ = z.map(_(d))
      assert(math.abs(col_.sum / col_.length) < 1e-9, s"dim $d mean off")
      val sd = math.sqrt(col_.map(x => x * x).sum / col_.length)
      assert(math.abs(sd - 1.0) < 1e-6, s"dim $d std $sd")
    }
    // constant third dimension: sigma = 0 -> centered, not divided
    assert(z.forall(v => math.abs(v(2)) < 1e-9))
  }

  test("semDedup: min-id survives its ε-ball; distant vectors untouched; cap disables pairs") {
    // two tight bundles (ids 0,1,2 ~ e1; ids 10,11 ~ e2) + one loner.
    // k=1 => a single cluster, so survival is decided by cosine alone.
    val vecs = Seq(
      0L  -> Seq(1.0f, 0.001f, 0.0f),
      1L  -> Seq(1.0f, 0.002f, 0.0f),
      2L  -> Seq(1.0f, 0.0f, 0.003f),
      10L -> Seq(0.0f, 1.0f, 0.001f),
      11L -> Seq(0.001f, 1.0f, 0.0f),
      20L -> Seq(0.577f, 0.577f, 0.578f)).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vecs, col("vec_id"), col("embedding"),
        k = 1, iters = 1, tau = 0.99)
      .select("id").as[Long].collect().toSet
    // 20 is ~35° from both bundles -> cosine ~.8 < .99, survives
    assert(kept === Set(0L, 10L, 20L))
    // with the cluster cap below the cluster size, pair generation is
    // skipped and everything survives (the documented backstop)
    val all = Similarity.semDedup(vecs, col("vec_id"), col("embedding"),
        k = 1, iters = 1, tau = 0.99, maxCluster = 2)
      .select("id").as[Long].collect().toSet
    assert(all === Set(0L, 1L, 2L, 10L, 11L, 20L))
  }

  test("rankingMetrics: graded nDCG + MRR hand case; lost query at zero; rows past k ignored") {
    // exact top-3 per query encoded by cos_sim order (1.0 > 0.9 > 0.8)
    val exact = Seq(
      (1L, 100L, 1.0), (1L, 101L, 0.9), (1L, 102L, 0.8),
      (2L, 200L, 1.0), (2L, 201L, 0.9), (2L, 202L, 0.8),
      (3L, 300L, 1.0), (3L, 301L, 0.9), (3L, 302L, 0.8)
    ).toDF("query_id", "neighbor_id", "cos_sim")
    // q1: approx = (101, 100, 999) → hits at rank 1 (rel 2) and rank 2
    // (rel 3); a 4th-ranked true hit (102) must NOT count at k=3.
    // q2: no overlap. q3: absent from approx entirely.
    val approx = Seq(
      (1L, 101L, 1.0), (1L, 100L, 0.9), (1L, 999L, 0.8), (1L, 102L, 0.7),
      (2L, 900L, 1.0), (2L, 901L, 0.9), (2L, 902L, 0.8)
    ).toDF("query_id", "neighbor_id", "cos_sim")
    val got = Similarity.rankingMetrics(approx, exact, k = 3)
      .orderBy("query_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    def lg2(x: Double) = math.log(x) / math.log(2.0)
    val idcg = 3 / lg2(2) + 2 / lg2(3) + 1 / lg2(4)
    val dcg1 = 2 / lg2(2) + 3 / lg2(3) // rel-2 hit at rank 1, rel-3 hit at rank 2
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(got === Seq(
      (1L, 2L, 1.0, r4(dcg1 / idcg)),
      (2L, 0L, 0.0, 0.0),
      (3L, 0L, 0.0, 0.0)))
  }
}
