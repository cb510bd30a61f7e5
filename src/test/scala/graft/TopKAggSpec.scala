package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.TopKAgg
import graft.functions.TopKAgg.Entry

/** The typed bounded-top-k aggregator must agree exactly with the window
  * formulation (q_agg_topk_group) on the corpus.
  */
class TopKAggSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("TopK aggregator == windowed top-3 per segment") {
    import spark.implicits._
    val joined = Tables.orders(spark, TestSpark.sf001)
      .join(Tables.customer(spark, TestSpark.sf001), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"), col("o_totalprice").as("value"),
        col("o_orderkey").as("key"))
    val agg = joined.as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues { case (_, v, k) => Entry(v, k) }
      .agg(TopKAgg.topK(3).toColumn.name("top"))
      .flatMap { case (seg, top) =>
        top.zipWithIndex.map { case (e, i) => (seg, i + 1L, e.key, e.value) }
      }
      .collect().sortBy(t => (t._1, t._2))
    // the UNREGISTERED window formulation — the registered query is now the
    // aggregator itself, so comparing against it would be a self-check
    val windowed = ReferenceShapes.topKWindowed(spark, TestSpark.sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2))
    assert(agg.toSeq == windowed.toSeq)
  }

  test("TopK registers as a SQL UDAF and matches the windowed top-3") {
    spark.udf.register("graft_topk3", udaf(TopKAgg.topK(3)))
    Tables.orders(spark, TestSpark.sf001).createOrReplaceTempView("tk_orders")
    Tables.customer(spark, TestSpark.sf001).createOrReplaceTempView("tk_customer")
    val viaSql = spark.sql(
      """SELECT seg, e.key AS key, e.value AS value FROM (
        |  SELECT c_mktsegment AS seg,
        |         graft_topk3(o_totalprice, o_orderkey) AS top
        |  FROM tk_orders JOIN tk_customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment
        |) LATERAL VIEW explode(top) AS e""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._2)).toSeq).toMap
    val windowed = ReferenceShapes.topKWindowed(spark, TestSpark.sf001)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (-t._3, t._2)).toSeq).toMap
    assert(viaSql.nonEmpty && viaSql == windowed)
  }

  test("buffer is bounded: merging many partial buffers keeps k elements") {
    val topk = TopKAgg.topK(3)
    val big = (1 to 100).map(i => Entry(i.toDouble, i.toLong))
    val buf = big.foldLeft(topk.zero)(topk.reduce)
    assert(buf.size == 3)
    assert(topk.merge(buf, buf).size == 3)
    assert(topk.finish(buf).map(_.value) == Seq(100.0, 99.0, 98.0))
  }
}
