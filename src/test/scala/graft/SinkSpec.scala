package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.sources.Sinks
import graft.streaming.StreamOps

/** Output-layout and stream-equals-batch gates:
  *  - date-partitioned writes produce Hive-style directories and later
  *    reads PRUNE non-matching partitions (PartitionFilters in the scan);
  *  - the event-time aggregations produce identical results via the
  *    streaming file source (Trigger.AvailableNow) and the batch path.
  */
class SinkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("partitioned-by-date write prunes on read") {
    val out = TestSpark.scratch("graft_part_")
    Sinks.writePartitionedByDate(
      Tables.orders(spark, TestSpark.sf0001), "o_orderdate", out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("p_date=")), dirs.mkString(","))

    val read = spark.read.parquet(out).filter(col("p_date") === "1995-03-01")
    read.collect()
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("p_date"), scan)
    assert(!scan.contains("PartitionFilters: []"), "date filter did not prune: " + scan)

    val expected = Tables.orders(spark, TestSpark.sf0001)
      .filter(to_date(col("o_orderdate")) === "1995-03-01").count()
    assert(read.count() == expected)
  }

  test("merge upsert: updates + inserts land; untouched partitions byte-untouched (mtime-identical)") {
    import spark.implicits._
    val out = TestSpark.scratch("graft_merge_")
    val base = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    Sinks.writePartitionedBy(base, "c_nationkey", out)

    def partFiles(nation: Long): Map[String, Long] = {
      val d = new java.io.File(s"$out/c_nationkey=$nation")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val touched = 3L
    val untouchedBefore = (0L to 24L).filterNot(_ == touched)
      .filter(n => new java.io.File(s"$out/c_nationkey=$n").exists())
      .map(n => n -> partFiles(n)).toMap
    assert(untouchedBefore.nonEmpty)

    // Two key updates inside nation 3 plus one brand-new key there.
    val victims = base.filter(col("c_nationkey") === touched)
      .select(col("c_custkey")).as[Long].take(2).toSeq
    assert(victims.size == 2)
    val updates = (victims.map(k => (k, touched, "MERGED")) :+ ((999999L, touched, "MERGED")))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    Sinks.mergeIntoPartitioned(spark, out, updates, "c_custkey", "c_nationkey")

    // Content: reference merge computed independently.
    val expect = base.join(updates.select(col("c_custkey")), Seq("c_custkey"), "left_anti")
      .unionByName(updates)
    val got = spark.read.parquet(out)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    assert(got.exceptAll(expect).count() == 0 && expect.exceptAll(got).count() == 0)
    // The dynamic overwrite replaced ONLY nation 3: every other partition's
    // files are the same files (names and mtimes).
    untouchedBefore.foreach { case (n, before) =>
      assert(partFiles(n) == before, s"partition $n was rewritten")
    }
  }

  test("merge upsert: partition-crossing update throws under validateKeyPartition") {
    import spark.implicits._
    val out = TestSpark.scratch("graft_merge_x_")
    val base = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    Sinks.writePartitionedBy(base, "c_nationkey", out)
    // Pick a real key from nation 3 and try to "move" it to nation 4 —
    // outside the sink's contract (the old nation-3 row would survive).
    val victim = base.filter(col("c_nationkey") === 3L)
      .select(col("c_custkey")).as[Long].head()
    val crossing = Seq((victim, 4L, "MOVED")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    val e = intercept[IllegalArgumentException] {
      Sinks.mergeIntoPartitioned(spark, out, crossing, "c_custkey", "c_nationkey",
        validateKeyPartition = true)
    }
    assert(e.getMessage.contains("partition-crossing"))
    // and the failed merge left the target untouched (validation precedes write)
    assert(spark.read.parquet(out).count() == base.count())
  }

  test("bucketed tables join without any shuffle exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // A fresh test JVM has an empty in-memory catalog, but the warehouse
    // DIRECTORY survives from earlier runs — drop both sides or the save
    // fails with LOCATION_ALREADY_EXISTS.
    for (t <- Seq("graft_orders_bkt", "graft_customer_bkt")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Sinks.saveBucketed(Tables.orders(spark, TestSpark.sf0001)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "graft_orders_bkt", "o_custkey", 8)
    Sinks.saveBucketed(Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_mktsegment")),
      "graft_customer_bkt", "c_custkey", 8)
    // disable auto-broadcast so the join would NEED a shuffle if bucketing didn't align
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_orders_bkt")
        .join(spark.table("graft_customer_bkt"), col("o_custkey") === col("c_custkey"))
      assert(joined.count() == Tables.orders(spark, TestSpark.sf0001).count())
      val plan = joined.queryExecution.executedPlan
      val exec = plan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = exec.collect { case s: ShuffleExchangeLike => s }
      assert(shuffles.isEmpty,
        "bucketed join must not shuffle:\n" + exec.toString)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

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

  test("compaction: fragmented dataset rewritten to the target file count, data identical") {
    val out = TestSpark.scratch("graft_compact_")
    val orders = Tables.orders(spark, TestSpark.sf0001)
    orders.repartition(64).write.mode("overwrite").parquet(out)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(out) >= 32, "fragmentation setup failed")
    Sinks.compact(spark, out, targetFiles = 4, sortCols = Seq("o_orderkey"))
    val cdir = out + ".compact"
    assert(parquetFiles(cdir) == 4, "compaction must hit the target file count")
    val re = spark.read.parquet(cdir)
    assert(re.count() == orders.count())
    assert(re.except(orders).isEmpty && orders.except(re).isEmpty,
      "compaction must preserve the exact row set")
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
      .select(Sinks.zorderKey(col("a"), col("b"))).collect().map(_.getLong(0))
    assert(got.toSeq == samples.map { case (a, b) => refZ(a, b) },
      "magic-mask cascade must equal the bitwise interleave definition")
  }

  test("zorder layout: secondary-key file pruning improves >=4x over single-key sort") {
    val base = TestSpark.scratch("graft_zorder_")
    val li = Tables.lineitem(spark, TestSpark.sf001)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    // 64 files: z-order candidate sets scale ~sqrt(nFiles) (the 2-D grid
    // has sqrt stripes per dimension), so the pruning factor grows with
    // file count — 16 files gave 3.2x, 64 gives ~6x (measured below).
    val nFiles = 64
    // Layout A: the classic single-key sort (perfect l_orderkey locality).
    li.repartitionByRange(nFiles, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    // Layout B: z-ordered on (l_orderkey, l_partkey).
    Sinks.writeZordered(li, "l_orderkey", "l_partkey", s"$base/zorder", nFiles)

    // Per-file [min,max] of the SECONDARY key — exactly the parquet
    // footer stats a metadata layer / row-group pruner consults.
    def spans(path: String): Array[(Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min(col("l_partkey")).as("lo"), max(col("l_partkey")).as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    val linear = spans(s"$base/linear")
    val zorder = spans(s"$base/zorder")
    assert(linear.length == nFiles && zorder.length == nFiles)

    // Candidate files for a point lookup on the secondary key, averaged
    // over a deterministic probe set: the fraction of files whose
    // [min,max] admits the value.
    val probes = (1L to 2000L by 100L).toSeq
    def meanCandidates(sp: Array[(Long, Long)]): Double =
      probes.map(p => sp.count { case (lo, hi) => lo <= p && p <= hi }).sum.toDouble / probes.size
    val candLinear = meanCandidates(linear)
    val candZorder = meanCandidates(zorder)
    info(f"mean candidate files/probe: linear=$candLinear%.1f zorder=$candZorder%.1f (of $nFiles)")
    // Single-key sort leaves the secondary key unclustered: every file
    // admits every value. Z-order must cut the candidate set >= 4x.
    assert(candLinear >= nFiles * 0.9,
      s"setup: linear layout should NOT prune the secondary key ($candLinear)")
    assert(candZorder * 4 <= candLinear,
      s"zorder must prune >=4x: $candZorder vs $candLinear")
    // And the primary key must keep meaningful locality too (file
    // l_orderkey spans well under the full domain) — the property a plain
    // sort-by-partkey layout would destroy. Gate the 90th percentile,
    // not the max: a file that straddles a major z-curve discontinuity
    // legitimately spans wide on one dimension (measured: 63/64 files
    // ≤ 0.6x domain, median span ≈ domain/5).
    val okSpans = spark.read.parquet(s"$base/zorder")
      .groupBy(input_file_name())
      .agg((max(col("l_orderkey")) - min(col("l_orderkey"))).as("span"))
      .collect().map(_.getLong(1))
    val domain = 15000L // sf0.01 orderkey domain (FIXTURES §2: 15k orders)
    val local = okSpans.count(_ <= domain * 6 / 10)
    assert(local * 10 >= okSpans.length * 9,
      s"$local/${okSpans.length} zorder files keep primary-key locality: spans=${okSpans.toSeq}")
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
      .select(Sinks.zorderKeyN(Seq(col("a"), col("b"), col("c"))))
      .collect().map(_.getLong(0))
    assert(got3.toSeq == s3.map(t => refZ(Seq(t._1, t._2, t._3), 16)),
      "3-ary interleave must equal the bitwise definition")
    val s2 = Seq((12345L, 54321L), (65535L, 65535L))
    val got2 = s2.toDF("a", "b")
      .select(Sinks.zorderKeyN(Seq(col("a"), col("b"))),
        Sinks.zorderKey(col("a"), col("b")))
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
