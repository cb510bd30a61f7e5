package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.sources.Evolution

/** Schema-evolution gates (sources/Evolution.scala): a dataset written in
  * two generations — gen-1 (doc_id, text), gen-2 adds lang — must read as
  * ONE frame under all three access paths, with gen-1's missing column
  * null-filled, and the explicit-schema production read must be
  * row-identical to the mergeSchema discovery read.
  */
class EvolutionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val dir: String = {
    val d = TestSpark.scratch("graft_evo_")
    val gen1 = spark.range(0, 50).select(col("id").as("doc_id"),
      concat(lit("old doc "), col("id")).as("text"))
    val gen2 = spark.range(50, 80).select(col("id").as("doc_id"),
      concat(lit("new doc "), col("id")).as("text"),
      when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")).as("lang"))
    gen1.coalesce(1).write.mode("append").parquet(d)
    gen2.coalesce(1).write.mode("append").parquet(d)
    d
  }

  private val unified = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType)))

  test("mergeSchema discovery read unions both generations, null-filling gen-1's missing column") {
    val df = Evolution.readMerged(spark, dir)
    assert(df.schema.fieldNames.toSet == Set("doc_id", "text", "lang"))
    assert(df.count() == 80)
    assert(df.filter(col("lang").isNull).count() == 50)
    assert(df.filter(col("lang").isNotNull).count() == 30)
  }

  test("explicit-schema production read (no footer sweep) is row-identical to the discovery read") {
    val prod = Evolution.readUnified(spark, dir, unified)
    val disc = Evolution.readMerged(spark, dir).select("doc_id", "text", "lang")
    assert(prod.exceptAll(disc).isEmpty && disc.exceptAll(prod).isEmpty)
    // pushdown on the EVOLVED column still reaches the scan
    val q = prod.filter(col("lang") === "en")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("lang"), plan)
    assert(q.count() == 15)
  }

  test("unionByName null-fills missing columns and never positionally misbinds") {
    val a = spark.range(0, 3).select(col("id").as("doc_id"), lit("t").as("text"))
    // evolved frame with columns in a DIFFERENT order — positional union
    // would bind text under lang
    val b = spark.range(3, 5).select(lit("en").as("lang"),
      col("id").as("doc_id"), lit("u").as("text"))
    val u = Evolution.unionEvolved(Seq(a, b))
    assert(u.schema.fieldNames.toSet == Set("doc_id", "text", "lang"))
    assert(u.count() == 5)
    assert(u.filter(col("lang").isNull).count() == 3)
    assert(u.filter(col("lang") === "en").count() == 2)
    assert(u.filter(col("text").isin("t", "u")).count() == 5)
  }
}
