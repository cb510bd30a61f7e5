package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, LongType, StringType}

/** Codegen'd token-hash kernels — native twins of the interpreted
  * higher-order-function formulations the dedup family used for per-token
  * xxhash64 work. `transform` / `aggregate` / `zip_with` are CodegenFallback
  * in Spark 4: every ELEMENT pays a lambda-variable bind plus an interpreted
  * Expression.eval of the hash (and the fold shapes re-enter the interpreter
  * per step). These expressions run the identical XXH64 arithmetic
  * (catalyst's own static kernels, seed 42 — the xxhash64() default) in one
  * tight loop per row, inside whole-stage codegen.
  *
  * Null semantics are pinned to the HOF twins, element for element:
  * a NULL array yields NULL; a NULL ELEMENT hashes to the seed (42L),
  * exactly as xxhash64(null) does (hash functions skip null children,
  * leaving the running hash at its seed). Equivalence is property-gated in
  * HashExprsSpec against the retained HOF references.
  */

/** xxhash64 per element: array<string> | array<bigint> -> array<bigint>.
  * The native twin of `transform(toks, t => xxhash64(t))`
  * (ReferenceShapes.baseHashesHof, spec side) — string elements hash
  * their UTF-8 bytes, long elements hash via the 64-bit word kernel,
  * both from the xxhash64() default seed 42 (the long case is what the
  * shingled pipeline exercises: its "tokens" are already 64-bit shingle
  * hashes).
  */
case class TokenHashes(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(org.apache.spark.sql.types.TypeCollection(
      ArrayType(StringType), ArrayType(LongType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hashes"

  private def longElems: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val out = new Array[Long](n)
    val longs = longElems
    var i = 0
    while (i < n) {
      out(i) =
        if (a.isNullAt(i)) 42L
        else if (longs) XXH64.hashLong(a.getLong(i), 42L)
        else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      val hashOne =
        if (longElems) s"$xxh.hashLong($a.getLong($i), 42L)"
        else s"$xxh.hashUTF8String($a.getUTF8String($i), 42L)"
      s"""
         |final int $n = $a.numElements();
         |final long[] $out = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $out[$i] = $a.isNullAt($i) ? 42L : $hashOne;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** 64-bit hashed word-bigram shingles straight from the token array:
  * array<string> -> array<bigint>. The native twin of
  * ReferenceShapes.hashedShinglesHof (token hashes, then
  * xxhash64(th[i], th[i+1]) per adjacent pair; a doc shorter than 2
  * tokens hashes its whole token-hash array — xxhash64 over an array
  * folds hashLong element-wise from the seed). One pass, no intermediate
  * arrays.
  */
case class HashedBigrams(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_bigrams"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) =
        if (a.isNullAt(i)) 42L else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      i += 1
    }
    if (n < 2) {
      var acc = 42L
      var j = 0
      while (j < n) { acc = XXH64.hashLong(th(j), acc); j += 1 }
      new GenericArrayData(Array(acc))
    } else {
      val out = new Array[Long](n - 1)
      var j = 0
      while (j < n - 1) {
        out(j) = XXH64.hashLong(th(j + 1), XXH64.hashLong(th(j), 42L))
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val th = ctx.freshName("th")
      val out = ctx.freshName("out")
      val acc = ctx.freshName("acc")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |final int $n = $a.numElements();
         |final long[] $th = new long[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $th[$i] = $a.isNullAt($i) ? 42L
         |    : $xxh.hashUTF8String($a.getUTF8String($i), 42L);
         |}
         |long[] $out;
         |if ($n < 2) {
         |  long $acc = 42L;
         |  for (int $j = 0; $j < $n; $j++) { $acc = $xxh.hashLong($th[$j], $acc); }
         |  $out = new long[] { $acc };
         |} else {
         |  $out = new long[$n - 1];
         |  for (int $j = 0; $j < $n - 1; $j++) {
         |    $out[$j] = $xxh.hashLong($th[$j + 1], $xxh.hashLong($th[$j], 42L));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): HashedBigrams =
    copy(child = newChild)
}

/** LSH band hashes of a minhash signature: array<bigint> (numSlots slots)
  * -> array<bigint> (numSlots/rowsPerBand band hashes), where band b is
  * xxhash64 over its rowsPerBand consecutive slots — the native twin of
  * `transform(sequence(0, bands-1), b => xxhash64(slice(sig, b*rpb+1, rpb)))`
  * (xxhash64 over an array folds hashLong element-wise from the seed).
  * The HOF form paid, per banded ROW, bands lambda binds + bands slice
  * allocations + bands interpreted array-hash evals.
  */
case class BandHashes(child: Expression, rowsPerBand: Int)
  extends UnaryExpression with ExpectsInputTypes {

  require(rowsPerBand > 0, s"rowsPerBand must be positive, got $rowsPerBand")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val bands = a.numElements() / rowsPerBand
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 42L
      var k = 0
      while (k < rowsPerBand) {
        acc = XXH64.hashLong(a.getLong(b * rowsPerBand + k), acc)
        k += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val bands = ctx.freshName("bands")
      val out = ctx.freshName("out")
      val b = ctx.freshName("b")
      val k = ctx.freshName("k")
      val acc = ctx.freshName("acc")
      val xxh = "org.apache.spark.sql.catalyst.expressions.XXH64"
      s"""
         |final int $bands = $a.numElements() / $rowsPerBand;
         |final long[] $out = new long[$bands];
         |for (int $b = 0; $b < $bands; $b++) {
         |  long $acc = 42L;
         |  for (int $k = 0; $k < $rowsPerBand; $k++) {
         |    $acc = $xxh.hashLong($a.getLong($b * $rowsPerBand + $k), $acc);
         |  }
         |  $out[$b] = $acc;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}

/** Order-sensitive rotate-xor fold of per-token hashes:
  * array<string> -> bigint. The native twin of ReferenceShapes.fingerprintHof
  * (`aggregate(transform(toks, xxhash64), 0L, (acc, h) => rotl7(acc) ^ h)`).
  */
case class FingerprintXor(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint_xor"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val h =
        if (a.isNullAt(i)) 42L else XXH64.hashUTF8String(a.getUTF8String(i), 42L)
      acc = java.lang.Long.rotateLeft(acc, 7) ^ h
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val h = ctx.freshName("h")
      s"""
         |final int $n = $a.numElements();
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  final long $h = $a.isNullAt($i) ? 42L
         |    : org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
         |        $a.getUTF8String($i), 42L);
         |  $acc = java.lang.Long.rotateLeft($acc, 7) ^ $h;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): FingerprintXor =
    copy(child = newChild)
}

/** Column-API entry points for the token-hash kernels. */
object HashExprs {
  /** Codegen'd xxhash64-per-element (see TokenHashes). */
  def tokenHashes(toks: Column): Column =
    ExpressionUtils.column(TokenHashes(ExpressionUtils.expression(toks)))

  /** Codegen'd hashed word-bigram shingles (see HashedBigrams). */
  def hashedBigrams(toks: Column): Column =
    ExpressionUtils.column(HashedBigrams(ExpressionUtils.expression(toks)))

  /** Codegen'd LSH band hashes of a minhash signature (see BandHashes). */
  def bandHashes(sig: Column, rowsPerBand: Int): Column =
    ExpressionUtils.column(BandHashes(ExpressionUtils.expression(sig), rowsPerBand))

  /** Codegen'd rotate-xor document fingerprint (see FingerprintXor). */
  def fingerprintXor(toks: Column): Column =
    ExpressionUtils.column(FingerprintXor(ExpressionUtils.expression(toks)))
}
