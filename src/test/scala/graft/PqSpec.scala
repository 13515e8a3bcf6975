package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity
import graft.sources.Tables

/** [[graft.ext.Similarity.pqFit]] / [[graft.ext.Similarity.ivfPqSearch]]
  * — product quantization + ADC. */
class PqSpec extends SparkSuite {
  import spark.implicits._

  private lazy val em = Tables.embeddings(spark, sfDir)
  private lazy val pq = Similarity.pqFit(em, col("vec_id"), col("embedding"),
    m = 4, k = 16, iters = 1, quantize = Some(9))

  test("PqAssign codegen expression ≡ the composable HOF form, bit-for-bit") {
    // the round-12 hot-path swap: assignment used to be m·k interpreted
    // aggregate(zip_with(...)) folds per row; the expression must
    // reproduce that arithmetic exactly (same ascending fold, same
    // first-position-of-max tie-break) or every byte-shared PQ oracle
    // would drift
    val cb = pq.codebooks
    val m = cb.length
    val sub = cb(0)(0).length
    val nv = em.select(col("vec_id").as("id"),
        Similarity.normalize(Similarity.vecD(col("embedding"))).as("nv"))
      .filter(col("nv").isNotNull)
    val hof = array((0 until m).map { j =>
      val s = slice(col("nv"), j * sub + 1, sub)
      val negd = array(cb(j).map { c =>
        -aggregate(zip_with(s, array(c.map(lit(_)): _*), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x)
      }: _*)
      (array_position(negd, array_max(negd)) - 1).cast("int")
    }: _*)
    val both = nv.select(col("id"),
      hof.as("hof_codes"),
      graft.functions.PqAssign.pq_assign_all(col("nv"), cb).as("expr_codes"))
    assert(both.filter(col("hof_codes") =!= col("expr_codes")).isEmpty,
      "codegen assignment drifted from the HOF form")
    // and the exploded (j, s) shape used inside the fit
    val subs = nv.select(col("id"), posexplode(array((0 until m).map(j =>
      slice(col("nv"), j * sub + 1, sub)): _*)).as(Seq("j", "s")))
    val subBoth = subs.select(col("id"), col("j"),
      graft.functions.PqAssign.pq_assign_sub(col("s"), col("j"), cb).as("e"))
      .join(nv.select(col("id"),
        hof.as("h")), Seq("id"))
      .filter(col("e") =!= element_at(col("h"), col("j") + 1))
    assert(subBoth.isEmpty, "per-subspace expression drifted from the HOF form")
  }

  test("CodeSum codegen folds ≡ the composable HOF folds, bit-for-bit") {
    val cb = pq.codebooks
    val m = cb.length
    // SDC: pair the code table with itself on cluster-free random-ish
    // pairs (id vs id+1) and compare both fold forms
    val sdcTable = Array.tabulate(m) { j =>
      Array.tabulate(cb(j).length) { a =>
        Array.tabulate(cb(j).length) { b =>
          val d = cb(j)(a).zip(cb(j)(b)).map { case (x, y) => x * y }.sum
          math.rint(d * 1e9) / 1e9
        }
      }
    }
    val sdcLit = array((0 until m).map { j =>
      array(sdcTable(j).indices.map { a =>
        array(sdcTable(j)(a).indices.map(b => lit(sdcTable(j)(a)(b))): _*)
      }: _*)
    }: _*)
    val c1 = pq.codes.select(col("id"), col("codes").as("ca"))
    val c2 = pq.codes.select((col("id") - 1).as("id"), col("codes").as("cb"))
    val pairs = c1.join(c2, Seq("id"))
    val hofSdc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, jj) =>
      acc + element_at(element_at(element_at(sdcLit, jj + 1),
        element_at(col("ca"), jj + 1) + 1),
        element_at(col("cb"), jj + 1) + 1))
    assert(pairs.filter(
      graft.functions.CodeSum.sdc_sum(col("ca"), col("cb"), sdcTable) =!= hofSdc).isEmpty,
      "SDC codegen fold drifted from the HOF form")
    // ADC: a lut COLUMN derived per row from the vector, codes from the fit
    val sub = cb(0)(0).length
    val lut = array((0 until m).map { j =>
      array(cb(j).indices.map { c =>
        round(Similarity.dot(slice(col("nv"), j * sub + 1, sub),
          array(cb(j)(c).map(lit(_)): _*)), 9)
      }: _*)
    }: _*)
    val hofAdc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, jj) =>
      acc + element_at(element_at(col("lut"), jj + 1),
        element_at(col("codes"), jj + 1) + 1))
    val withLut = pq.codes.withColumn("lut", lut)
    assert(withLut.filter(
      graft.functions.CodeSum.adc_sum(col("lut"), col("codes")) =!= hofAdc).isEmpty,
      "ADC codegen fold drifted from the HOF form")
  }

  test("codebook state bound: m×k×(d/m) — k·d doubles total, corpus-independent") {
    assert(pq.codebooks.length == 4)
    assert(pq.codebooks.forall(_.length == 16))
    assert(pq.codebooks.forall(_.forall(_.length == 16))) // 64/4
  }

  test("codes: one m-array per vector, every code in [0, k)") {
    val codes = pq.codes.select($"codes").as[Seq[Int]].collect()
    assert(codes.nonEmpty)
    assert(codes.forall(_.length == 4))
    assert(codes.forall(_.forall(c => c >= 0 && c < 16)))
  }

  test("fit is deterministic: an independent refit lands on identical codebooks and codes") {
    val pq2 = Similarity.pqFit(em, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    assert(pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq2.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val a = pq.codes.select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
    val b = pq2.codes.select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(a.toSeq == b.toSeq)
    pq2.unpersist()
  }

  test("codes minimize subspace distance: assigned codeword beats every other codeword") {
    val rows = pq.codes.select($"nv", $"codes").as[(Seq[Double], Seq[Int])]
      .collect().take(50)
    for ((nv, codes) <- rows; j <- 0 until 4) {
      val s = nv.slice(j * 16, (j + 1) * 16).toArray
      def d2(c: Array[Double]) = s.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
      val assigned = d2(pq.codebooks(j)(codes(j)))
      val best = pq.codebooks(j).map(d2).min
      assert(assigned <= best + 1e-12,
        s"subspace $j: code ${codes(j)} at $assigned but best is $best")
    }
  }

  test("one Lloyd round does not worsen total quantization error vs raw seeds") {
    val pq0 = Similarity.pqFit(em, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 0, quantize = Some(9))
    def sqErr(m: Similarity.PqModel): Double =
      m.codes.select($"nv", $"codes").as[(Seq[Double], Seq[Int])].collect().map {
        case (nv, codes) =>
          (0 until 4).map { j =>
            val s = nv.slice(j * 16, (j + 1) * 16)
            s.zip(m.codebooks(j)(codes(j))).map { case (a, b) => (a - b) * (a - b) }.sum
          }.sum
      }.sum
    assert(sqErr(pq) <= sqErr(pq0) + 1e-6)
    pq0.unpersist()
  }

  test("ivfPqSearch: ADC score equals dot(query, reconstruction) — the LUT/fold plumbing") {
    val ivf = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val got = Similarity.ivfPqSearch(ivf, pq, Seq(0L, 1L, 2L), nprobe = 4, k = 10)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 30)
    assert(got.forall { case (q, n, _) => q != n })
    val nvById = pq.codes.select($"id", $"nv").as[(Long, Seq[Double])].collect().toMap
    val codesById = pq.codes.select($"id", $"codes").as[(Long, Seq[Int])].collect().toMap
    for ((q, n, adc) <- got.take(10)) {
      // reconstruction = concat of the neighbor's codewords; expected ADC
      // = Σ_j round(dot(q_sub_j, cw_j), 9), then round 4 — mirror exactly
      val qv = nvById(q)
      val expected = (0 until 4).map { j =>
        val part = qv.slice(j * 16, (j + 1) * 16)
          .zip(pq.codebooks(j)(codesById(n)(j))).map { case (a, b) => a * b }.sum
        math.rint(part * 1e9) / 1e9
      }.sum
      assert(math.abs(adc - math.rint(expected * 1e4) / 1e4) <= 1e-9,
        s"query $q neighbor $n: adc=$adc expected=$expected")
    }
    ivf.unpersist()
  }

  test("ivfPqSearchDf on a raw-vector query table ≡ the id-list form (delegation contract)") {
    val ivf = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val ids = Seq(0L, 5L, 11L)
    val viaSeq = Similarity.ivfPqSearch(ivf, pq, ids, nprobe = 4, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    val viaDf = Similarity.ivfPqSearchDf(ivf, pq,
        em.filter($"vec_id".isin(ids: _*)), $"vec_id", $"embedding",
        nprobe = 4, k = 10)
      .as[(Long, Long, Double)].collect().toSeq
    // the Df form normalizes the raw embedding itself; must land on
    // the exact same probes, LUTs and ADC scores
    assert(viaDf == viaSeq)
    ivf.unpersist()
  }

  test("pqEncode with an existing codebook reproduces pqFit's own codes exactly") {
    val enc = Similarity.pqEncode(pq, em, col("vec_id"), col("embedding"))
      .select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
    val fit = pq.codes.select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(enc.toSeq == fit.toSeq)
  }

  test("ivfFitSized ≡ fixed-k fit at fixture scale (derived k floors to 16)") {
    val sized = Similarity.ivfFitSized(em, col("vec_id"), col("embedding"),
      iters = 2, quantize = Some(9))
    val fixed = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    assert(sized.centroids.length == 16)
    assert(sized.centroids.map(_.toSeq).toSeq == fixed.centroids.map(_.toSeq).toSeq)
    sized.unpersist(); fixed.unpersist()
  }

  test("ivfExtend/pqExtend: extending with an increment equals assigning/encoding the full corpus") {
    val existing = em.filter($"vec_id" % 97 =!= 0)
    val increment = em.filter($"vec_id" % 97 === 0)
    val ivf0 = Similarity.ivfFit(existing, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val pq0 = Similarity.pqFit(existing, col("vec_id"), col("embedding"),
      m = 4, k = 16, iters = 1, quantize = Some(9))
    // extend ≡ assign-all under fixed centroids (the q156 oracle claim)
    val extended = Similarity.ivfExtend(ivf0, increment, col("vec_id"), col("embedding"))
      .assigned.select($"id", $"cluster").as[(Long, Int)].collect().sortBy(_._1)
    val assignAll = Similarity.ivfExtend(
        Similarity.IvfModel(ivf0.centroids, ivf0.assigned.limit(0)),
        em, col("vec_id"), col("embedding"))
      .assigned.select($"id", $"cluster").as[(Long, Int)].collect().sortBy(_._1)
    assert(extended.toSeq == assignAll.toSeq)
    assert(extended.length == em.count())
    val pqExt = Similarity.pqExtend(pq0, increment, col("vec_id"), col("embedding"))
      .codes.select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
    val encodeAll = Similarity.pqEncode(pq0, em, col("vec_id"), col("embedding"))
      .select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
    assert(pqExt.toSeq == encodeAll.toSeq)
    ivf0.unpersist(); pq0.unpersist()
  }

  test("pqEncode is a pure projection: no shuffle, usable on increments/streams") {
    val plan = Similarity.pqEncode(pq, em, col("vec_id"), col("embedding"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"pqEncode must not shuffle:\n$plan")
  }

  test("pqEncode runs on an actual stream and matches the batch encoding") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val sample = em.select($"vec_id", $"embedding".cast("array<float>"))
      .as[(Long, Seq[Float])].collect().take(20)
    val mem = MemoryStream[(Long, Seq[Float])]
    val enc = Similarity.pqEncode(pq,
      mem.toDF().toDF("vec_id", "embedding"), col("vec_id"), col("embedding"))
    val q = enc.writeStream.outputMode("append")
      .format("memory").queryName("pq_enc_out").start()
    try {
      mem.addData(sample.take(10): _*)
      q.processAllAvailable()
      mem.addData(sample.drop(10): _*)
      q.processAllAvailable()
      val got = spark.table("pq_enc_out").select($"id", $"codes")
        .as[(Long, Seq[Int])].collect().sortBy(_._1)
      val want = pq.codes.filter($"id".isin(sample.map(_._1): _*))
        .select($"id", $"codes").as[(Long, Seq[Int])].collect().sortBy(_._1)
      assert(got.toSeq == want.toSeq)
    } finally q.stop()
  }

  test("semDedupPq boundary taus: +∞-like keeps all; -∞-like keeps exactly per-cluster min ids") {
    val ivf = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val n = ivf.assigned.count()
    // no SDC similarity can reach 2.0 → nothing drops
    assert(Similarity.semDedupPq(ivf, pq, tau = 2.0).count() == n)
    // every pair qualifies at −10 → survivors are each cluster's min id
    // (fixture clusters are all under the cap)
    val got = Similarity.semDedupPq(ivf, pq, tau = -10.0)
      .select($"id").as[Long].collect().sorted
    val want = ivf.assigned.groupBy($"cluster").agg(min($"id").as("id"))
      .select($"id").as[Long].collect().sorted
    assert(got.toSeq == want.toSeq)
    ivf.unpersist()
  }

  test("semDedupPq at the q145 operating point drops a real subset") {
    val ivf = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val n = ivf.assigned.count()
    val kept = Similarity.semDedupPq(ivf, pq, tau = 0.25).count()
    assert(kept < n && kept > n / 2, s"kept $kept of $n")
    ivf.unpersist()
  }

  test("semDedupPqAuto ≡ semDedupPq at the pinned q145 configuration (derived k floors to 16)") {
    val ivf = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val want = Similarity.semDedupPq(ivf, pq, tau = 0.25)
      .select($"id", $"cluster").as[(Long, Int)].collect().toSet
    ivf.unpersist()
    val got = Similarity.semDedupPqAuto(em, col("vec_id"), col("embedding"), tau = 0.25)
      .select($"id", $"cluster").as[(Long, Int)].collect().toSet
    assert(want.nonEmpty && got == want)
  }

  test("semDedupPqAuto and semDedupAuto leave no persisted RDDs behind") {
    // each call gets an input plan no other call has cached: a model
    // cache leaked by an earlier identical fit would otherwise be
    // reused and hide a new leak
    def fresh(tag: Long) = em.filter(col("vec_id") =!= -tag)
    val pqLeft = persistedBy(Similarity.semDedupPqAuto(fresh(1),
      col("vec_id"), col("embedding"), tau = 0.25).collect())
    assert(pqLeft.isEmpty, s"semDedupPqAuto left $pqLeft")
    val left = persistedBy(Similarity.semDedupAuto(fresh(2),
      col("vec_id"), col("embedding"), iters = 2, tau = 0.42, quantize = Some(9)).collect())
    assert(left.isEmpty, s"semDedupAuto left $left")
  }

  test("ADC ranking correlates with exact cosine: top-10 ADC ∩ top-30 exact is non-trivial") {
    val ivf = Similarity.ivfFit(em, col("vec_id"), col("embedding"),
      k = 16, iters = 2, quantize = Some(9))
    val adcTop = Similarity.ivfPqSearch(ivf, pq, Seq(0L), nprobe = 16, k = 10)
      .select($"neighbor_id").as[Long].collect().toSet
    val exactTop = Similarity.bruteForceKnn(em, col("vec_id"), col("embedding"),
        queryIds = Seq(0L), k = 30)
      .select(col("neighbor_id")).as[Long].collect().toSet
    // 16 codewords/subspace is a coarse quantizer; demand real signal,
    // not perfection: at least half the ADC picks are true near-neighbors
    assert((adcTop & exactTop).size >= 5,
      s"ADC top-10 shares only ${(adcTop & exactTop).size} with exact top-30")
    ivf.unpersist()
  }
}
