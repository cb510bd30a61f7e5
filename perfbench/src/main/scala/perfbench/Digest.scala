package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive fingerprint of a query's output: the row count,
  * plus the sum and the xor of a 64-bit hash per row. Row order, the order
  * inside arrays and map entry order do not change it; floating-point
  * values are compared at 6 significant digits, so a different summation
  * order in a parallel aggregate does not change it either.
  */
object Digest {
  /** A value rendered so that equal results hash equally. */
  private[perfbench] def canonical(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => format_string("%.5e", c.cast(DoubleType))
    case ArrayType(et, _) => array_sort(transform(c, x => canonical(x, et)))
    case st: StructType =>
      struct(st.fields.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      canonical(map_entries(c), ArrayType(StructType(Seq(
        StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** The digest of `df`, as `rows:sum:xor`. Runs one Spark job. */
  def of(df: DataFrame): String = {
    // Positional names: output names may repeat, and renaming a column
    // does not change a result.
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.schema.fields.toIndexedSeq.map(f =>
      canonical(col(f.name), f.dataType)): _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(Int.MaxValue.toLong))),
        bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    val s = if (r.isNullAt(1)) 0L else r.getLong(1)
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    s"$n:$s:$x"
  }
}
