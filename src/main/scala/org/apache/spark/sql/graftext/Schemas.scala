package org.apache.spark.sql.graftext

import org.apache.spark.sql.types.StructType

/** Schema helpers Spark keeps package-private. */
object Schemas {

  /** `s` with every field nullable, nested types included — what a
    * user-given schema becomes in a parquet read (`DataSource` applies the
    * same `asNullable`), so a file missing a column scans it as null.
    */
  def asNullable(s: StructType): StructType = s.asNullable
}
