package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import graft.sources.SnapshotStore

/** How much Spark work a snapshot-store scan costs: a read plans over the
  * manifest (no listing job, however many files), and the copy-on-write
  * writers read only the files their commit replaces. Jobs and the
  * tasks' `recordsRead` are counted by a listener over the jobs this
  * thread runs (its own job group), after the listener bus drains.
  */
class SnapshotScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scratch(prefix: String): String = {
    val b = Paths.get("target/graft-scratch")
    Files.createDirectories(b)
    Files.createTempDirectory(b, prefix).toString
  }

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
    * file list would start a listing job.
    */
  private def table(): (String, Long) = {
    val root = scratch("snapscan_")
    val df = spark.range(0, 4800, 1, 4).select(col("id").as("key"),
      (col("id") % 12).cast("int").as("part"), (col("id") * 7).as("value"))
    SnapshotStore.overwrite(df, root, Some("part"))
    val files = SnapshotStore.filesAt(root, SnapshotStore.currentVersion(root).get).size
    assert(files >= 40, s"the table needs at least 40 files, has $files")
    (root, 4800L)
  }

  test("building a read starts no Spark job: the manifest is the listing") {
    val (root, rows) = table()
    val v = SnapshotStore.currentVersion(root).get
    assert(measured(SnapshotStore.read(spark, root))._1 == 0)
    assert(measured(SnapshotStore.read(spark, root, asOf = Some(v)))._1 == 0)
    // Positive control through the same counter: an action is seen.
    val (jobs, read) = measured(assert(SnapshotStore.read(spark, root).count() == rows))
    assert(jobs >= 1)
    assert(read == rows)
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
}
