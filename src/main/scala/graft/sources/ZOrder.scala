package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Morton (z-order) keys for [[SnapshotStore.compact]]'s `zorderBy`: the
  * bit interleave of several columns' bucket ids, so rows adjacent in z
  * stay adjacent in EVERY keyed column and each output file carries a
  * narrow min/max range on all of them at once. Plain codegen'd bitwise
  * column expressions, no UDF.
  */
object ZOrder {

  /** Spread the low 16 bits of a non-negative long across the even bit
    * positions (the classic Morton magic-mask cascade) — 5 codegen'd
    * bitwise ops, no UDF.
    */
  private def spread16(x: Column): Column = {
    val v0 = x.bitwiseAND(lit(0xFFFFL))
    val v1 = v0.bitwiseOR(shiftleft(v0, 8)).bitwiseAND(lit(0x00FF00FFL))
    val v2 = v1.bitwiseOR(shiftleft(v1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val v3 = v2.bitwiseOR(shiftleft(v2, 2)).bitwiseAND(lit(0x33333333L))
    v3.bitwiseOR(shiftleft(v3, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton key of two 16-bit bucket ids: bit 2i is a's bit i, bit
    * 2i+1 is b's bit i. Adjacent z values stay adjacent in BOTH key
    * dimensions, which is what gives every output file a narrow min/max
    * range on each column simultaneously.
    */
  def zorderKey(a: Column, b: Column): Column =
    spread16(a).bitwiseOR(shiftleft(spread16(b), 1))

  /** How many bits of each of `n` interleaved keys fit a positive long:
    * 16 for the 2-ary fast path, 63/n beyond (e.g. 3 cols → 21 bits each,
    * finer than the 2-ary grid; 4 → 15). The bucket quantization uses the
    * SAME width, so every bit the key carries is a real locality bit.
    */
  private[graft] def zorderBits(n: Int): Int =
    if (n == 2) 16 else 63 / n

  /** k-ary Morton key: bit j of column i lands at position j*n + i — the
    * round-robin interleave, reducing to [[zorderKey]]'s layout at n = 2
    * (which stays on the 5-op magic-mask cascade; the general form is a
    * bits×n tree of codegen'd shifts/ors, still zero UDFs). Inputs are
    * bucket ids in [0, 2^zorderBits(n)).
    */
  def zorderKeyN(cols: Seq[Column]): Column = {
    require(cols.length >= 2, "zorderKeyN needs at least two columns")
    if (cols.length == 2) zorderKey(cols.head, cols(1))
    else {
      val n = cols.length
      val bits = zorderBits(n)
      cols.zipWithIndex.map { case (c, i) =>
        (0 until bits).map { j =>
          shiftleft(shiftright(c, j).bitwiseAND(lit(1L)), j * n + i): Column
        }.reduce(_.bitwiseOR(_))
      }.reduce(_.bitwiseOR(_))
    }
  }
}
