package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Streaming per-list top-k kernels for the IVF kNN joins.
  *
  * WHY (guide §1.2 step 1 — fix the distributed algorithm first): the
  * r15 rerank materialized one row PER (probe, candidate) PAIR out of
  * the list_id join and selected top-k per probe through a partial
  * WindowGroupLimit — which plans a per-task SORT of every pair row
  * (~n·nprobe·n/nlist rows ≈ 1.4e9 at sf10; the sort's spill is the
  * very thing the old salted rerank shape existed to bound). These
  * generators replace the pair materialization + sort with a tight
  * loop: candidates and probes arrive grouped per inverted list (two collect_list
  * aggregates, each shuffling the corpus ONCE — the same bytes the old
  * join exchanged), and each (probe, list) pair emits only its top-k
  * rows from a k-sized insertion buffer. No pair row is ever built, no
  * pair sort ever runs; the downstream per-probe window ranks
  * nprobe·k rows per probe instead of nprobe·n/nlist.
  *
  * Result identity: scoring reuses the exact arithmetic of the
  * expressions it replaces (FloatDot's sequential double accumulation;
  * PqAsymDot's packed-code loop), comparisons use
  * java.lang.Double.compare — the same total order (NaN greatest,
  * -0.0 < 0.0) Catalyst's (score DESC, c_id ASC) sort applied — and
  * the final cross-list window is unchanged, so the output rows are
  * byte-identical to the windowed shape (AnnSpec pins generator ≡
  * plain row-for-row).
  *
  * CodegenFallback is deliberate: one eval() call processes an entire
  * (probe-group × list) batch in compiled Scala loops, so the
  * interpreted-dispatch overhead is amortized over ~10^5..10^7 scored
  * pairs per call — the mapInArrow rationale from the optimization
  * guide (§4.2), JVM-native.
  */
abstract class ListTopKBase extends Generator with CodegenFallback {
  protected def k: Int

  /** Insertion-sorted top-k state over (score DESC, id ASC). */
  protected final class TopK {
    val ids = new Array[Long](k)
    val scores = new Array[Double](k)
    var filled = 0
    def offer(id: Long, score: Double): Unit = {
      // Position AFTER every kept entry that is strictly better.
      // better(a, b): compare(a.score, b.score) > 0 || (== 0 && a.id < b.id)
      var pos = filled
      while (pos > 0 && {
        val c = java.lang.Double.compare(scores(pos - 1), score)
        c < 0 || (c == 0 && ids(pos - 1) > id)
      }) pos -= 1
      if (pos < k) {
        val last = math.min(filled, k - 1)
        var j = last
        while (j > pos) { ids(j) = ids(j - 1); scores(j) = scores(j - 1); j -= 1 }
        ids(pos) = id; scores(pos) = score
        if (filled < k) filled += 1
      }
    }
  }
}

/** Top-k exact-cosine rows per probe within one inverted list.
  *
  * probes: array<struct<p_id long, p_emb array<float>, p_norm double>>
  * cands:  array<struct<c_id long, c_emb array<float>, c_norm double>>
  * emits:  (p_id long, c_id long, cos double), cos = fdot(p, c) /
  *         (p_norm * c_norm), self-pairs skipped — exactly the rerank's
  *         per-pair projection.
  */
case class ListTopKCosine(probes: Expression, cands: Expression, k: Int)
  extends ListTopKBase {

  override def children: Seq[Expression] = Seq(probes, cands)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(probes = newChildren(0), cands = newChildren(1))
  override def elementSchema: StructType = StructType(Seq(
    StructField("p_id", LongType, nullable = false),
    StructField("c_id", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val pArr = probes.eval(input).asInstanceOf[ArrayData]
    val cArr = cands.eval(input).asInstanceOf[ArrayData]
    if (pArr == null || cArr == null) return Iterator.empty
    val nc = cArr.numElements()
    if (nc == 0) return Iterator.empty
    // Hoist the list's candidates into primitive arrays once; they are
    // reused by every probe assigned to this list.
    val cIds = new Array[Long](nc)
    val cNorms = new Array[Double](nc)
    val cEmbs = new Array[Array[Float]](nc)
    var i = 0
    while (i < nc) {
      val s = cArr.getStruct(i, 3)
      cIds(i) = s.getLong(0)
      cEmbs(i) = s.getArray(1).toFloatArray()
      cNorms(i) = s.getDouble(2)
      i += 1
    }
    val np = pArr.numElements()
    (0 until np).iterator.flatMap { pi =>
      val ps = pArr.getStruct(pi, 3)
      val pId = ps.getLong(0)
      val pEmb = ps.getArray(1).toFloatArray()
      val pNorm = ps.getDouble(2)
      val top = new TopK
      var ci = 0
      while (ci < nc) {
        if (cIds(ci) != pId) {
          val ce = cEmbs(ci)
          val n = math.min(pEmb.length, ce.length)
          var dot = 0.0
          var j = 0
          while (j < n) { dot += pEmb(j).toDouble * ce(j).toDouble; j += 1 }
          top.offer(cIds(ci), dot / (pNorm * cNorms(ci)))
        }
        ci += 1
      }
      (0 until top.filled).iterator.map(r =>
        InternalRow(pId, top.ids(r), top.scores(r)))
    }
  }
}

/** Top-k ADC rows per probe within one inverted list — the IVFADC
  * composition's candidate stage. The asymmetric distance reuses
  * PqAsymDot's exact packed-code arithmetic, and the residual
  * decomposition's centroid term (cdot, one per probe-list assignment)
  * rides in on the probe struct:
  *
  * probes: array<struct<p_id long, p_emb array<float>, p_norm double,
  *                      cdot double>>
  * cands:  array<struct<c_id long, codes long, c_norm double>>
  * emits:  (p_id long, c_id long, adc double),
  *         adc = (cdot + asym(p_emb, codes)) / (p_norm * c_norm).
  */
case class ListTopKAdc(probes: Expression, cands: Expression, k: Int,
                       subDim: Int, numSub: Int, kCb: Int,
                       codebook: Seq[Float])
  extends ListTopKBase {

  private val bits = PqExprs.bitsFor(numSub, kCb)
  private val mask = (kCb - 1).toLong
  require(codebook.length == numSub * kCb * subDim,
    s"codebook length ${codebook.length} != numSub*k*subDim = ${numSub * kCb * subDim}")
  @transient private lazy val cb: Array[Float] = codebook.toArray

  override def children: Seq[Expression] = Seq(probes, cands)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(probes = newChildren(0), cands = newChildren(1))
  override def elementSchema: StructType = StructType(Seq(
    StructField("p_id", LongType, nullable = false),
    StructField("c_id", LongType, nullable = false),
    StructField("adc", DoubleType, nullable = false)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val pArr = probes.eval(input).asInstanceOf[ArrayData]
    val cArr = cands.eval(input).asInstanceOf[ArrayData]
    if (pArr == null || cArr == null) return Iterator.empty
    val nc = cArr.numElements()
    if (nc == 0) return Iterator.empty
    val cIds = new Array[Long](nc)
    val cCodes = new Array[Long](nc)
    val cNorms = new Array[Double](nc)
    var i = 0
    while (i < nc) {
      val s = cArr.getStruct(i, 3)
      cIds(i) = s.getLong(0)
      cCodes(i) = s.getLong(1)
      cNorms(i) = s.getDouble(2)
      i += 1
    }
    val codebook0 = cb
    val np = pArr.numElements()
    (0 until np).iterator.flatMap { pi =>
      val ps = pArr.getStruct(pi, 4)
      val pId = ps.getLong(0)
      val pEmb = ps.getArray(1).toFloatArray()
      val pNorm = ps.getDouble(2)
      val cdot = ps.getDouble(3)
      val n = pEmb.length
      val top = new TopK
      var ci = 0
      while (ci < nc) {
        if (cIds(ci) != pId) {
          // PqAsymDot.nullSafeEval, verbatim arithmetic.
          val packed = cCodes(ci)
          var acc = 0.0
          var si = 0
          while (si < numSub) {
            val code = ((packed >>> (si * bits)) & mask).toInt
            val base = (si * kCb + code) * subDim
            var d = 0
            while (d < subDim) {
              val coord = si * subDim + d
              val v = if (coord < n) pEmb(coord).toDouble else 0.0
              acc += v * codebook0(base + d)
              d += 1
            }
            si += 1
          }
          top.offer(cIds(ci), (cdot + acc) / (pNorm * cNorms(ci)))
        }
        ci += 1
      }
      (0 until top.filled).iterator.map(r =>
        InternalRow(pId, top.ids(r), top.scores(r)))
    }
  }
}

/** Column-API entry points. */
object AnnExprs {
  def listTopKCosine(probes: Column, cands: Column, k: Int): Column =
    ExpressionUtils.column(ListTopKCosine(
      ExpressionUtils.expression(probes), ExpressionUtils.expression(cands), k))

  def listTopKAdc(probes: Column, cands: Column, k: Int,
                  subDim: Int, numSub: Int, kCb: Int,
                  codebook: Seq[Float]): Column =
    ExpressionUtils.column(ListTopKAdc(
      ExpressionUtils.expression(probes), ExpressionUtils.expression(cands),
      k, subDim, numSub, kCb, codebook))
}
