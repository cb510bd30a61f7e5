package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{MlOps, Pq}
import org.apache.spark.sql.graftext.PqExprs

/** Product-quantization gates (SURVEY §2.24): kernel-vs-reference
  * equality for all three expressions (encode / LUT / ADC), the ADC ≡
  * reconstructed-dot identity, the 64-bit k=256 packing geometry, recall
  * of the registered ADC+rerank kNN against the exact brute-force answer,
  * and the plan shapes (map-only encode, codegen'd ADC).
  */
class PqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val cb = Pq.ensureCodebook(spark, TestSpark.sf0001)

  /** Driver-side reference encode — the independent loop the codegen and
    * interpreted paths are pinned to.
    */
  private def refEncode(vec: Seq[Float], c: Pq.Codebook): Long = {
    var packed = 0L
    val bits = java.lang.Integer.numberOfTrailingZeros(c.k)
    for (i <- 0 until c.numSub) {
      var best = 0
      var bestD = Double.MaxValue
      for (j <- 0 until c.k) {
        val base = (i * c.k + j) * c.subDim
        var dist = 0.0
        for (d <- 0 until c.subDim) {
          val coord = i * c.subDim + d
          val v = if (coord < vec.length) vec(coord).toDouble else 0.0
          val diff = v - c.flat(base + d)
          dist += diff * diff
        }
        if (dist < bestD) { bestD = dist; best = j }
      }
      packed |= best.toLong << (i * bits)
    }
    packed
  }

  test("pq geometry: non-power-of-two k and >64-bit packings are rejected") {
    intercept[IllegalArgumentException] {
      Pq.Codebook(8, 15, 8, new Array[Float](8 * 15 * 8)).encode(col("x"))
    }
    intercept[IllegalArgumentException] {
      // 16 subs x 8 bits = 128 bits — cannot pack into one long
      Pq.Codebook(16, 256, 4, new Array[Float](16 * 256 * 4)).encode(col("x"))
    }
    // wrong codebook length for a valid geometry
    intercept[IllegalArgumentException] {
      Pq.Codebook(8, 16, 8, new Array[Float](7)).encode(col("x"))
    }
  }

  test("PqEncodePacked == driver reference on corpus vectors (trained codebook)") {
    val rows = Tables.embeddings(spark, TestSpark.sf0001)
      .filter(col("vec_id") < 60)
      .select(col("vec_id"), col("embedding"), cb.encode(col("embedding")).as("codes"))
      .collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      val want = refEncode(r.getSeq[Float](1), cb)
      assert(r.getLong(2) == want, s"vec ${r.getLong(0)}")
    }
    // codes use the full sub-code range somewhere (the fit is not degenerate)
    val distinct = rows.map(_.getLong(2)).distinct.length
    assert(distinct > 30, s"only $distinct distinct code words over 60 vectors")
  }

  test("PqLut == per-centroid dots; PqAdc == LUT walk == reconstructed dot") {
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val probe = emb.filter(col("vec_id") === 3)
      .select(col("embedding"), cb.lut(col("embedding")).as("lut")).head()
    val q = probe.getSeq[Float](0)
    val lut = probe.getSeq[Double](1)
    // LUT reference: lut[i*k+j] = <q_i, c_ij>
    for (i <- 0 until cb.numSub; j <- 0 until cb.k) {
      val base = (i * cb.k + j) * cb.subDim
      var acc = 0.0
      for (d <- 0 until cb.subDim) acc += q(i * cb.subDim + d).toDouble * cb.flat(base + d)
      assert(math.abs(lut(i * cb.k + j) - acc) < 1e-9, s"lut($i,$j)")
    }
    // ADC over 100 candidates == driver LUT walk == dot(q, reconstruction)
    val bits = java.lang.Integer.numberOfTrailingZeros(cb.k)
    val cands = emb.filter(col("vec_id") < 100)
      .select(col("vec_id"), cb.encode(col("embedding")).as("codes"))
      .withColumn("adc", cb.adc(col("codes"), typedLit(lut)))
      .collect()
    cands.foreach { r =>
      val packed = r.getLong(1)
      var walk = 0.0
      var recDot = 0.0
      for (i <- 0 until cb.numSub) {
        val code = ((packed >>> (i * bits)) & (cb.k - 1)).toInt
        walk += lut(i * cb.k + code)
        val base = (i * cb.k + code) * cb.subDim
        for (d <- 0 until cb.subDim)
          recDot += q(i * cb.subDim + d).toDouble * cb.flat(base + d)
      }
      assert(math.abs(r.getDouble(2) - walk) < 1e-9, s"adc walk vec ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2) - recDot) < 1e-9, s"adc != <q, reconstruct> vec ${r.getLong(0)}")
    }
  }

  test("PqAsymDot == pq_adc(codes, pq_lut(vec)) == <q, reconstruction>, LUT-free") {
    import org.apache.spark.sql.graftext.PqExprs
    val emb = Tables.embeddings(spark, TestSpark.sf0001)
    val bits = java.lang.Integer.numberOfTrailingZeros(cb.k)
    // Pair 50 probes with 50 shifted candidates: asym dot per PAIR row.
    val probes = emb.filter(col("vec_id") < 50)
      .select(col("vec_id").as("p_id"), col("embedding").as("p_emb"))
    val cands = emb.filter(col("vec_id") >= 50 && col("vec_id") < 100)
      .select((col("vec_id") - 50).as("p_id"),
        col("embedding").as("c_emb"),
        cb.encode(col("embedding")).as("codes"))
    val rows = probes.join(cands, Seq("p_id"))
      .select(col("p_id"), col("p_emb"), col("codes"),
        PqExprs.pqAsymDot(col("p_emb"), col("codes"),
          cb.subDim, cb.numSub, cb.k, cb.flat.toSeq).as("asym"),
        cb.adc(col("codes"), cb.lut(col("p_emb"))).as("viaLut"))
      .collect()
    assert(rows.length == 50)
    rows.foreach { r =>
      val q = r.getSeq[Float](1)
      val packed = r.getLong(2)
      var recDot = 0.0
      for (i <- 0 until cb.numSub) {
        val code = ((packed >>> (i * bits)) & (cb.k - 1)).toInt
        val base = (i * cb.k + code) * cb.subDim
        for (d <- 0 until cb.subDim)
          recDot += q(i * cb.subDim + d).toDouble * cb.flat(base + d)
      }
      // FP association differs between the three formulations (per-term vs
      // per-subspace accumulation): equality up to 1e-9, not bitwise.
      assert(math.abs(r.getDouble(3) - recDot) < 1e-9,
        s"asym != reconstruction for pair ${r.getLong(0)}")
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-9,
        s"asym != adc(lut) for pair ${r.getLong(0)}")
    }
  }

  test("k=256 production geometry packs to exactly 64 bits and reference-matches") {
    // Synthetic deterministic codebook (a 256-means fit would memorize 500
    // vectors); what's under test is the 8x8-bit packing arithmetic.
    val flat = new Array[Float](8 * 256 * 8)
    for (n <- flat.indices)
      flat(n) = (((n * 2654435761L) & 0xffff).toFloat / 65536f) - 0.5f
    val big = Pq.Codebook(8, 256, 8, flat)
    val rows = Tables.embeddings(spark, TestSpark.sf0001)
      .filter(col("vec_id") < 40)
      .select(col("vec_id"), col("embedding"), big.encode(col("embedding")).as("codes"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(2) == refEncode(r.getSeq[Float](1), big), s"vec ${r.getLong(0)}")
    }
    // 8-bit sub-codes genuinely reach the high byte (packing not truncated)
    assert(rows.exists(r => (r.getLong(2) >>> 56) != 0L), "high sub-code byte never used")
  }

  test("ml_pq_knn recall@5 vs exact brute-force kNN") {
    val exact = MlOps.knnCosine(spark, TestSpark.sf0001)
      .select(col("p_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val approx = Pq.pqKnn(spark, TestSpark.sf0001)
      .select(col("p_id"), col("c_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(approx.keySet == exact.keySet)
    val recalls = exact.map { case (p, want) =>
      approx(p).intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@5 (ADC top-50 rerank, 10 probes, n=500) = $mean%.3f")
    // Exact rerank of the ADC top-50 over 500 near-random vectors: the
    // floor is deliberately below the measured value (see SURVEY §2.24)
    // to gate collapse, not noise.
    assert(mean >= 0.5, s"mean recall@5 $mean below floor 0.5: $recalls")
  }

  test("plan shapes: encode is map-only; ADC scoring stays in WholeStageCodegen") {
    val enc = Pq.encoded(Tables.embeddings(spark, TestSpark.sf0001), cb)
    enc.collect()
    val encPlan = enc.queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"), s"compressed encode must not shuffle:\n$encPlan")
    assert(encPlan.contains("pq_encode"), encPlan)

    val probe = Tables.embeddings(spark, TestSpark.sf0001)
      .filter(col("vec_id") === 0)
      .select(cb.lut(col("embedding")).as("lut")).head().getSeq[Double](0)
    val scored = Pq.encoded(Tables.embeddings(spark, TestSpark.sf0001), cb)
      .select(sum(cb.adc(col("codes"), typedLit(probe))))
    scored.collect()
    val plan = scored.queryExecution.executedPlan.toString
    assert(plan.contains("*(") && plan.contains("pq_adc"), plan)
    assert("\\*\\(\\d+\\) HashAggregate".r.findFirstIn(plan).isDefined, plan)
  }

  test("codebook memo: same (dir, geometry) serves the identical instance") {
    val a = Pq.ensureCodebook(spark, TestSpark.sf0001)
    val b = Pq.ensureCodebook(spark, TestSpark.sf0001)
    assert(a eq b, "second ensureCodebook must hit the fingerprinted memo")
  }

  test("corrupted persisted codebook degrades to refit (None), never throws") {
    import java.nio.file.{Files, Paths}
    val f = Paths.get(TestSpark.scratch("graft-pq-cb-")).resolve("corrupt-spec.bin")
    val ref = Pq.Codebook(2, 4, 3, Array.tabulate(2 * 4 * 3)(_.toFloat))
    Pq.storeCodebook(f, ref)
    // Round-trip sanity first, so the negative cases below have teeth.
    assert(Pq.loadCodebook(f, 2, 4)
      .exists(c => c.subDim == 3 && c.flat.sameElements(ref.flat)))
    // Geometry mismatch refits rather than serving the wrong regime.
    assert(Pq.loadCodebook(f, 2, 8).isEmpty)
    assert(Pq.loadCodebook(f, 4, 4).isEmpty)
    // Crash-mid-write truncations: EVERY prefix must parse to None —
    // pre-guard, lengths ≥ 12 threw BufferUnderflowException out of
    // ensureCodebook, permanently breaking PQ queries for the corpus.
    val bytes = Files.readAllBytes(f)
    for (n <- Seq(0, 4, 11, 12, 20, bytes.length - 1)) {
      Files.write(f, bytes.take(n))
      assert(Pq.loadCodebook(f, 2, 4).isEmpty, s"truncated to $n bytes must refit")
    }
    // Trailing garbage (torn concatenated write) also refits.
    Files.write(f, bytes ++ Array[Byte](1, 2, 3))
    assert(Pq.loadCodebook(f, 2, 4).isEmpty)
    // Restoring the intact bytes loads again — the guard is not lossy.
    Files.write(f, bytes)
    assert(Pq.loadCodebook(f, 2, 4).isDefined)
    Files.deleteIfExists(f)
  }
}
