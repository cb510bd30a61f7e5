package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.sources.{GraftCatalog, SnapshotStore}

/** How much Spark work a snapshot-store scan costs: a read — Scala, SQL
  * or `format("graft")` — plans over the manifest (no listing job,
  * however many files), and the copy-on-write writers read only the
  * files their commit replaces. Jobs and the
  * tasks' `recordsRead` are counted by a listener over the jobs this
  * thread runs (its own job group), after the listener bus drains.
  */
class SnapshotScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.scratch

  /** Jobs started and input records read by the jobs `body` runs. */
  private def measured(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = "snapshot-scan-" + java.util.UUID.randomUUID()
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    def mine(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (mine(e.properties)) { jobs.incrementAndGet(); e.stageIds.foreach(stages.add) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (mine(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    ListenerDrain(sc)
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerDrain(sc)
      sc.removeSparkListener(l)
    }
    (jobs.get, records.get)
  }

  /** 4,800 rows over 12 partitions, written by 4 tasks: 48 data files,
    * past the 32 explicit paths at which a plain parquet read of the
    * file list would start a listing job. The frame is laid out by an
    * explicit `repartition(4)`, which the store's write keeps.
    */
  private def table(): (String, Long) = {
    val root = scratch("snapscan_")
    val df = spark.range(0, 4800, 1, 4).select(col("id").as("key"),
      (col("id") % 12).cast("int").as("part"), (col("id") * 7).as("value")).repartition(4)
    SnapshotStore.overwrite(df, root, Some("part"))
    val files = SnapshotStore.filesAt(root, SnapshotStore.currentVersion(root).get).size
    assert(files >= 40, s"the table needs at least 40 files, has $files")
    (root, 4800L)
  }

  /** `root` as a table of a SQL catalog rooted at its parent directory. */
  private def sqlName(root: String): String = {
    val p = Paths.get(root)
    spark.conf.set("spark.sql.catalog.scancat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.scancat.root", p.getParent.toString)
    s"scancat.`${p.getFileName}`"
  }

  test("building a read starts no Spark job: the manifest is the listing") {
    val (root, rows) = table()
    val v = SnapshotStore.currentVersion(root).get
    val t = sqlName(root)
    assert(measured(SnapshotStore.read(spark, root))._1 == 0)
    assert(measured(SnapshotStore.read(spark, root, asOf = Some(v)))._1 == 0)
    assert(measured(spark.sql(s"SELECT * FROM $t"))._1 == 0)
    assert(measured(spark.sql(s"SELECT * FROM $t VERSION AS OF $v"))._1 == 0)
    assert(measured(spark.read.format("graft").option("path", root).load())._1 == 0)
    // Positive control through the same counter: an action is seen.
    val (jobs, read) = measured(assert(SnapshotStore.read(spark, root).count() == rows))
    assert(jobs >= 1)
    assert(read == rows)
  }

  test("SQL and format(\"graft\") reads plan what SnapshotStore.read plans, deletion vectors included") {
    val (root, _) = table()
    val t = sqlName(root)
    val v0 = SnapshotStore.currentVersion(root).get
    SnapshotStore.delete(spark, root, col("key") % 5 === 0, deletionVectors = true)
    val v1 = SnapshotStore.currentVersion(root).get
    def jobs(df: => org.apache.spark.sql.DataFrame): Int =
      measured(assert(df.filter(col("key") === 42L).collect().length == 1))._1
    for (v <- Seq(v0, v1)) {
      val store = jobs(SnapshotStore.read(spark, root, asOf = Some(v)))
      assert(jobs(spark.sql(s"SELECT * FROM $t VERSION AS OF $v")) == store, s"v$v")
      assert(jobs(spark.read.format("graft").option("path", root)
        .option("versionAsOf", v.toString).load()) == store, s"v$v")
    }
    val plan = spark.sql(s"SELECT * FROM $t WHERE part = 3").queryExecution.executedPlan.toString
    assert(plan.contains("SnapshotFileIndex") && plan.contains("LeftAnti"), plan)
    Seq("InMemoryFileIndex", "BatchScan", "Scan graft.").foreach { n =>
      assert(!plan.contains(n), s"$n in\n$plan")
    }
  }

  test("merge into one partition reads only that partition's rows") {
    val (root, rows) = table()
    val before = SnapshotStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val inPart = before.filter(_._2._1 == 5).keys.toSeq.sorted
    import spark.implicits._
    val updates = (inPart.take(30).map(k => (k, 5, -k)) :+ ((99999L, 5, 1L)))
      .toDF("key", "part", "value")
    val (_, read) = measured(SnapshotStore.merge(spark, root, updates, "key", "part"))
    assert(read <= inPart.size + updates.count(),
      s"merge read $read records; partition 5 holds ${inPart.size} of $rows")
    val after = SnapshotStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val want = before ++ inPart.take(30).map(k => k -> ((5, -k))) + (99999L -> ((5, 1L)))
    assert(after == want)
  }

  test("merging driver-local updates names their partitions without a job") {
    import spark.implicits._
    def merged(shape: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val (root, _) = table()
      val updates = shape((0L until 600L by 12).map(k => (k + 5, 5, -k)).toDF("key", "part", "value"))
      val (jobs, _) = measured(SnapshotStore.merge(spark, root, updates, "key", "part"))
      (jobs, SnapshotStore.read(spark, root).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
    }
    val (localJobs, localTable) = merged(identity)
    val (spreadJobs, spreadTable) = merged(_.repartition(2))
    assert(localJobs < spreadJobs, s"local updates ran $localJobs jobs, repartitioned ones $spreadJobs")
    // The rewrite alone runs two jobs here; a distinct over the updates'
    // partition values would add two more.
    assert(localJobs <= 2, s"local updates ran $localJobs jobs")
    assert(localTable == spreadTable)
    assert(localTable.count(_._3 < 0) == 49) // key 5 is set to 0, the 49 others below it
  }

  test("a partitioned delete scans the table once plus the replaced rows") {
    val (root, rows) = table()
    val victims = Seq(7L, 19L, 31L) // all in partition 7
    val (_, read) = measured(SnapshotStore.delete(spark, root,
      col("key").isin(victims: _*), partCol = Some("part")))
    val replacedRows = rows / 12
    assert(read <= rows + replacedRows,
      s"delete read $read records; the table holds $rows, the replaced partition $replacedRows")
    val left = SnapshotStore.read(spark, root)
    assert(left.count() == rows - victims.size)
    assert(left.filter(col("key").isin(victims: _*)).isEmpty)
  }

  test("a SQL UPDATE of one partition reads at most the table once plus the replaced rows") {
    val (root, rows) = table()
    val (_, read) = measured(spark.sql(s"UPDATE ${sqlName(root)} SET value = -1 WHERE part = 7"))
    val replacedRows = rows / 12
    assert(read <= rows + replacedRows,
      s"update read $read records; the table holds $rows, the replaced partition $replacedRows")
    val after = SnapshotStore.read(spark, root)
    assert(after.count() == rows)
    val updated = after.filter(col("value") === -1).collect().map(_.getLong(0)).toSet
    assert(updated == (0L until rows).filter(_ % 12 == 7).toSet)
  }
}
