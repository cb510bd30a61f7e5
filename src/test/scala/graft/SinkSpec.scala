package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.sources.ZOrder
import graft.streaming.StreamOps

/** Output-layout and stream-equals-batch gates:
  *  - the z-order keys ([[graft.sources.ZOrder]]) equal the bitwise
  *    interleave definition, and `compact(zorderBy)` on three columns
  *    prunes a box probe better than on two;
  *  - the event-time aggregations produce identical results via the
  *    streaming file source (Trigger.AvailableNow) and the batch path.
  */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming file source produces the same tumbling aggregation as batch") {
    // stage the events file into a directory (the file stream source lists dirs)
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_stream_src_"))
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events.parquet"))
    val q = StreamOps.tumblingAgg(StreamOps.eventsStream(spark, dir.toString))
      .writeStream.format("memory").queryName("stream_vs_batch")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("stream_vs_batch")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    val batch = StreamOps.tumblingAgg(Tables.events(spark, TestSpark.sf0001))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq == batch.toSeq,
      "streaming and batch must agree on the same data")
  }

  test("stream-static join: dim enrichment over a live stream equals the batch formulation") {
    val dir = java.nio.file.Paths.get(TestSpark.scratch("graft_enrich_src_"))
    Files.copy(
      java.nio.file.Paths.get(TestSpark.sf0001, "events.parquet"),
      dir.resolve("events.parquet"))
    val cust = Tables.customer(spark, TestSpark.sf0001)
    val nat = Tables.nation(spark, TestSpark.sf0001)
    val q = StreamOps.enrichAgg(StreamOps.eventsStream(spark, dir.toString), cust, nat)
      .writeStream.format("memory").queryName("enrich_stream_vs_batch")
      .outputMode(OutputMode.Complete())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def norm(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val streamed = norm(spark.table("enrich_stream_vs_batch").collect())
    val batch = norm(
      StreamOps.enrichAgg(Tables.events(spark, TestSpark.sf0001), cust, nat).collect())
    assert(streamed.nonEmpty)
    assert(streamed == batch, "stream-static enrichment must equal batch")
  }

  test("zorder key: bit interleave matches a driver reference") {
    import spark.implicits._
    def refZ(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 16) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (0xAAAAL, 0x5555L), (40000L, 17L))
    val got = samples.toDF("a", "b")
      .select(ZOrder.zorderKey(col("a"), col("b"))).collect().map(_.getLong(0))
    assert(got.toSeq == samples.map { case (a, b) => refZ(a, b) },
      "magic-mask cascade must equal the bitwise interleave definition")
  }

  test("zorderKeyN: k-ary bit interleave matches a driver reference; n=2 equals the magic-mask cascade") {
    import spark.implicits._
    def refZ(vals: Seq[Long], bits: Int): Long = {
      var z = 0L
      val n = vals.length
      for (i <- vals.indices; j <- 0 until bits)
        z |= ((vals(i) >> j) & 1L) << (j * n + i)
      z
    }
    val s3 = Seq((0L, 0L, 0L), (1L, 2L, 4L), (65535L, 0L, 65535L),
      (12345L, 54321L, 7L), (40000L, 17L, 60000L))
    val got3 = s3.toDF("a", "b", "c")
      .select(ZOrder.zorderKeyN(Seq(col("a"), col("b"), col("c"))))
      .collect().map(_.getLong(0))
    assert(got3.toSeq == s3.map(t => refZ(Seq(t._1, t._2, t._3), 16)),
      "3-ary interleave must equal the bitwise definition")
    val s2 = Seq((12345L, 54321L), (65535L, 65535L))
    val got2 = s2.toDF("a", "b")
      .select(ZOrder.zorderKeyN(Seq(col("a"), col("b"))),
        ZOrder.zorderKey(col("a"), col("b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.forall(p => p._1 == p._2),
      "n=2 zorderKeyN must be byte-identical to zorderKey")
  }

  test("3-column z-order via compact(zorderBy): a (partkey, suppkey) box probe prunes strictly better than the 2-column layout") {
    val base = java.nio.file.Paths.get(TestSpark.scratch("graft_z3_"))
    import graft.sources.SnapshotStore
    val li = Tables.lineitem(spark, TestSpark.sf001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .withColumn("p", lit(0L))
    val nFiles = 64
    def lay(cols: Seq[String]): String = {
      val root = base.resolve(s"z${cols.length}").toString
      SnapshotStore.overwrite(li, root, Some("p"))
      SnapshotStore.compact(spark, root, numFiles = nFiles,
        zorderBy = cols)
      root
    }
    val root2 = lay(Seq("l_orderkey", "l_partkey"))
    val root3 = lay(Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // Per-file [min,max] on the two probed keys — the parquet-footer stats
    // a pruning layer consults.
    def spans(root: String): Array[((Long, Long), (Long, Long))] =
      SnapshotStore.read(spark, root)
        .groupBy(input_file_name())
        .agg(min(col("l_partkey")).as("plo"), max(col("l_partkey")).as("phi"),
          min(col("l_suppkey")).as("slo"), max(col("l_suppkey")).as("shi"))
        .collect()
        .map(r => ((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4))))
    val sp2 = spans(root2)
    val sp3 = spans(root3)
    assert(sp2.length == nFiles && sp3.length == nFiles)
    // Deterministic box probes: 5%-of-domain ranges on partkey × suppkey
    // (sf0.01 domains: partkey 2000, suppkey 100).
    val probes = for (i <- 0 until 16)
      yield ((i * 120L + 1, i * 120L + 100), (i * 6L + 1, i * 6L + 5))
    def cand(sp: Array[((Long, Long), (Long, Long))]): Double =
      probes.map { case ((plo, phi), (slo, shi)) =>
        sp.count { case ((flo, fhi), (glo, ghi)) =>
          fhi >= plo && flo <= phi && ghi >= slo && glo <= shi
        }
      }.sum.toDouble / probes.size
    val c2 = cand(sp2)
    val c3 = cand(sp3)
    info(f"mean candidate files/box probe: 2-col=$c2%.1f 3-col=$c3%.1f (of $nFiles)")
    assert(c3 < c2,
      s"3-column z-order must prune the box probe strictly better: $c3 vs $c2")
  }
}
