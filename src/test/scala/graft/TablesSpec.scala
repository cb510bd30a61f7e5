package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.table` reads with a schema memoized per table: a repeated read
  * starts no inference job, and a table rewritten in place is read with its
  * new schema.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  test("a repeated read starts no job; a table rewritten in place reads with its new schema") {
    import spark.implicits._
    val dir = TestSpark.scratch("tables")
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    val (again, jobs) = jobsDuring(Tables.table(spark, dir, "t").schema)
    assert(again.fieldNames.toSeq == Seq("k", "v"))
    assert(jobs == 0, s"$jobs jobs for a read whose schema is known")

    Seq((2, 3.0, "x")).toDF("n", "d", "s").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables.table(spark, dir, "t")
    assert(t.schema.fieldNames.toSeq == Seq("n", "d", "s"))
    assert(t.collect().map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq((2, 3.0, "x")))
  }
}
