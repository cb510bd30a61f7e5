package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.TextSources

/** SURVEY §2.1 csv/json source row — explicit-schema ingest with golden
  * counts (the reference's own ingest shape is the iris CSV).
  */
class CsvJsonSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("iris.csv: explicit schema, 150 rows, 3 balanced classes") {
    val df = TextSources.readIrisCsv(spark, "src/test/resources/iris.csv")
    assert(df.schema == TextSources.irisSchema)
    assert(df.count() == 150)
    val byClass = df.groupBy(col("species")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass == Map("setosa" -> 50L, "versicolor" -> 50L, "virginica" -> 50L))
    val m = df.agg(min(col("sepal_length")), max(col("petal_width"))).head()
    assert(m.getDouble(0) == 5.0 && m.getDouble(1) == 2.25)
  }

  test("orc roundtrip: schema-faithful, values identical, predicates pushed to the ORC scan") {
    val src = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val out = TestSpark.scratch("graft_orc_")
    TextSources.writeOrc(src, out)
    val back = TextSources.readOrc(spark, out, src.schema)
    assert(back.schema == src.schema)
    // exact content equality both directions
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
    // the same scan levers as parquet: predicate pushdown + column pruning
    val plan = back.filter(col("c_nationkey") === 3)
      .select(col("c_custkey")).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), plan)
    assert(!plan.contains("PushedFilters: []"), plan)
    assert(!plan.contains("c_acctbal"), "unreferenced column read: " + plan)
  }

  test("xml roundtrip: schema-faithful, values identical, from_xml parses a written element") {
    val src = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    val out = TestSpark.scratch("graft_xml_")
    TextSources.writeXml(src, out)
    val back = TextSources.readXml(spark, out, src.schema)
    assert(back.schema == src.schema)
    assert(back.exceptAll(src).count() == 0 && src.exceptAll(back).count() == 0)
    // The expression form too: to_xml/from_xml round-trip one struct column
    // (the per-row path a message pipeline uses, vs the file source above).
    val structSrc = src.select(struct(col("c_custkey"), col("c_mktsegment")).as("s"))
    val parsed = structSrc
      .select(to_xml(col("s")).as("x"))
      .select(from_xml(col("x"), StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_mktsegment", StringType)))).as("s"))
    assert(parsed.exceptAll(structSrc.select(col("s"))).count() == 0)
  }

  test("json lines: explicit schema ingest with golden values") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("kind", StringType),
      StructField("score", DoubleType)))
    val df = TextSources.readJson(spark, "src/test/resources/events.jsonl", schema)
    assert(df.count() == 4)
    assert(df.filter(col("kind") === "a").agg(sum(col("id"))).head().getLong(0) == 4L)
    // Malformed field -> PERMISSIVE nulls ONLY that field; the row's
    // well-formed fields survive (pinned exactly: whole-row nullification
    // would return (null, null) here).
    val bad = df.filter(col("score").isNull).select(col("id"), col("kind")).collect()
    assert(bad.length == 1 && bad.head.getLong(0) == 7L && bad.head.getString(1) == "b",
      bad.mkString(","))
  }
}
