package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotRelation, SnapshotStore}

/** Catalyst-integrated snapshot reads: ordinary `df.filter` predicates
  * must reach the manifest's file pruning at PLANNING time (no explicit
  * partValues/colRanges threading), while staying content-identical to
  * the explicit [[SnapshotStore.read]] path — including through
  * deletion-vector masking. File counts are asserted from the executed
  * plan's own scan metrics, so the gate is the number of files Spark
  * actually planned, not what the library claims it pruned.
  */
class SnapshotRelationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scratch(prefix: String): String = {
    val b = Paths.get("target/graft-scratch")
    Files.createDirectories(b)
    Files.createTempDirectory(b, prefix).toString
  }

  /** Every parquet scan in the executed plan, descending into AQE query
    * stages (QueryStageExec is a leaf to `collect`, so a post-join plan
    * hides its scans from a naive traversal).
    */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] = {
    val here = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case _ => Nil
    }
    here ++ p.children.flatMap(scans)
  }

  /** Files the executed plan's parquet scans actually selected. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    val ss = scans(df.queryExecution.executedPlan)
    assert(ss.nonEmpty, "no FileSourceScanExec in the executed plan")
    ss.map(_.metrics("numFiles").value).sum
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** A 3-nation, stats-compacted table: 4 files per nation, each file
    * covering a narrow c_custkey range (compaction's range-split), so a
    * key probe has exactly one matching file per surviving partition.
    */
  private def statsTable(): (String, DataFrame) = {
    val base = Tables.customer(spark, TestSpark.sf0001)
      .filter(col("c_nationkey").isin(1L, 2L, 3L))
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val root = scratch("snaprel_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"),
      declareStatsCols = Seq("c_custkey", "c_mktsegment"))
    SnapshotStore.compact(spark, root, "c_nationkey",
      numFiles = 4, sortBy = Seq("c_custkey"))
    (root, base)
  }

  test("frame ≡ read: content parity, full scan reads every file") {
    val (root, base) = statsTable()
    val df = SnapshotRelation.frame(spark, root)
    val total = SnapshotStore.filesAt(
      root, SnapshotStore.currentVersion(root).get).length
    // range-split compaction produced several files per nation dir
    assert(total >= 6)
    // scannedFiles must run the FIRST action on df: each action resets
    // plan metrics, and the driver-side numFiles posts only once (the
    // file listing is a cached lazy per plan instance).
    assert(scannedFiles(df) == total)
    assert(sortedRows(df) == sortedRows(SnapshotStore.read(spark, root)))
  }

  test("ordinary key filter prunes files at planning time") {
    val (root, base) = statsTable()
    import spark.implicits._
    val probe = base.select(col("c_custkey")).as[Long].head()
    val df = SnapshotRelation.frame(spark, root)
      .filter(col("c_custkey") === probe)
    // one matching range-split file per nation partition, at most
    assert(scannedFiles(df) <= 3)
    assert(sortedRows(df) == sortedRows(
      SnapshotStore.read(spark, root).filter(col("c_custkey") === probe)))
  }

  test("partition equality + key range compose; sections never consulted for other dirs") {
    val (root, base) = statsTable()
    import spark.implicits._
    val (probe, nat) = base.select(col("c_custkey"), col("c_nationkey"))
      .as[(Long, Long)].head()
    val df = SnapshotRelation.frame(spark, root, partCol = Some("c_nationkey"))
      .filter(col("c_nationkey") === nat && col("c_custkey") === probe)
    assert(scannedFiles(df) == 1) // one dir x one range-split file
    assert(df.count() == base
      .filter(col("c_nationkey") === nat && col("c_custkey") === probe).count())
  }

  test("range and IN filters translate; unsatisfiable conjunction plans zero files") {
    val (root, base) = statsTable()
    import spark.implicits._
    val keys = base.select(col("c_custkey")).as[Long].collect().sorted
    val (lo, hi) = (keys(keys.length / 2), keys(keys.length / 2 + 3))
    val rangeDf = SnapshotRelation.frame(spark, root)
      .filter(col("c_custkey") >= lo && col("c_custkey") <= hi)
    assert(scannedFiles(rangeDf) < 12)
    assert(rangeDf.count() ==
      base.filter(col("c_custkey") >= lo && col("c_custkey") <= hi).count())

    val inDf = SnapshotRelation.frame(spark, root, partCol = Some("c_nationkey"))
      .filter(col("c_nationkey").isin(1L, 2L))
    // exactly the two matching partition dirs' files
    assert(scannedFiles(inDf) == SnapshotStore.prunedFiles(
      root, SnapshotStore.currentVersion(root).get,
      partValues = Some(Set("1", "2"))).length)
    assert(inDf.count() == base.filter(col("c_nationkey").isin(1L, 2L)).count())

    val unsat = SnapshotRelation.frame(spark, root)
      .filter(col("c_custkey") > 10L && col("c_custkey") < 5L)
    assert(scannedFiles(unsat) == 0)
    assert(unsat.count() == 0)
  }

  test("string stats: equality and prefix probes prune through the key encoding") {
    val base = Tables.customer(spark, TestSpark.sf0001)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))
    val root = scratch("snaprel_str_")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"),
      declareStatsCols = Seq("c_mktsegment"))
    // cluster by segment so files carry narrow segment ranges
    SnapshotStore.compact(spark, root, "c_nationkey",
      numFiles = 3, sortBy = Seq("c_mktsegment"))
    val total = SnapshotStore.filesAt(
      root, SnapshotStore.currentVersion(root).get).length

    val eqDf = SnapshotRelation.frame(spark, root)
      .filter(col("c_mktsegment") === "MACHINERY")
    assert(scannedFiles(eqDf) < total)
    assert(eqDf.count() ==
      base.filter(col("c_mktsegment") === "MACHINERY").count())

    val pfxDf = SnapshotRelation.frame(spark, root)
      .filter(col("c_mktsegment").startsWith("AUTO"))
    assert(scannedFiles(pfxDf) < total)
    assert(pfxDf.count() ==
      base.filter(col("c_mktsegment").startsWith("AUTO")).count())
  }

  test("deletion vectors: frame masks DV'd rows; pruning still engages below the anti-join") {
    val (root, base) = statsTable()
    import spark.implicits._
    val victims = base.select(col("c_custkey")).as[Long].take(5).toSet
    SnapshotStore.delete(spark, root,
      col("c_custkey").isin(victims.toSeq: _*),
      deletionVectors = true)

    val df = SnapshotRelation.frame(spark, root)
    val ref = SnapshotStore.read(spark, root)
    assert(sortedRows(df) == sortedRows(ref))
    assert(!df.select(col("c_custkey")).as[Long].collect()
      .exists(victims.contains))

    // a key probe on a surviving row still prunes, through the DV join
    val survivor = ref.select(col("c_custkey")).as[Long].head()
    val probed = SnapshotRelation.frame(spark, root)
      .filter(col("c_custkey") === survivor)
    assert(scannedFiles(probed) <= 3 + 1) // data files + the DV sidecar scan
    assert(probed.count() == 1)
  }

  test("time travel: asOf pins the version; sizeInBytes reflects the pinned snapshot") {
    val (root, base) = statsTable()
    import spark.implicits._
    val v0 = SnapshotStore.currentVersion(root).get
    val extra = Seq((900001L, 1L, "NEW")).toDF(
      "c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.append(extra, root, Some("c_nationkey"))
    assert(SnapshotRelation.frame(spark, root, asOf = Some(v0)).count()
      == base.count())
    assert(SnapshotRelation.frame(spark, root).count() == base.count() + 1)
  }

  test("frame reads a schema-evolved table: files predating a non-nullable added column scan it as null") {
    import spark.implicits._
    val root = scratch("snaprel_evo_")
    SnapshotStore.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "payload"), root)
    val evolved = Seq((3L, "c", 0.5)).toDF("k", "payload", "quality")
    assert(!evolved.schema("quality").nullable)
    SnapshotStore.append(evolved, root, evolveSchema = true)
    val got = sortedRows(SnapshotRelation.frame(spark, root))
    assert(got == sortedRows(SnapshotStore.read(spark, root)))
    assert(got == Seq("1|a|null", "2|b|null", "3|c|0.5"))
  }

  test("frame without partCol prunes partition dirs by the layout the manifest records") {
    val (root, base) = statsTable()
    import spark.implicits._
    val nat = base.select(col("c_nationkey")).as[Long].head()
    val df = SnapshotRelation.frame(spark, root).filter(col("c_nationkey") === nat)
    val inDir = SnapshotStore.prunedFiles(root, SnapshotStore.currentVersion(root).get,
      partValues = Some(Set(nat.toString))).length
    assert(inDir < SnapshotStore.filesAt(root, SnapshotStore.currentVersion(root).get).length)
    assert(scannedFiles(df) == inDir)
    assert(df.count() == base.filter(col("c_nationkey") === nat).count())
  }
}
