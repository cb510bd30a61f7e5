package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.sources.SnapshotStore

/** A commit writes its files sized by its input, not by how many tasks
  * produced the input: a frame of known size is coalesced to one task per
  * 128 MB before the `partitionBy` write, so a small commit writes one
  * file per partition it touches. Frames the caller laid out, plans that
  * may emit more or wider rows than estimated (`explode`, `flatMap`, a
  * UDF) and frames of unknown size keep their own partitioning. The
  * session runs `local[8]`, so an unsized local frame would be eight
  * slices.
  */
class SnapshotWriteSizingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import TestSpark.scratch

  private def files(root: String): Seq[String] =
    SnapshotStore.filesAt(root, SnapshotStore.currentVersion(root).get)

  private def filesIn(root: String, part: Int): Int =
    files(root).count(_.contains(s"/__part=$part/"))

  /** 4,800 rows over 12 partitions from a 4-slice range. */
  private def twelveParts: DataFrame =
    spark.range(0, 4800, 1, 4).select(col("id").as("key"),
      (col("id") % 12).cast("int").as("part"), (col("id") * 7).as("value"))

  test("an overwrite across 12 partitions writes one file per partition") {
    val root = scratch("sizing_ow_")
    SnapshotStore.overwrite(twelveParts, root, Some("part"))
    assert(files(root).size == 12, files(root).mkString("\n"))
    assert((0 until 12).forall(filesIn(root, _) == 1))
    assert(SnapshotStore.read(spark, root).count() == 4800)
  }

  test("a local 2k-row append into one partition adds exactly one file") {
    import spark.implicits._
    val root = scratch("sizing_app_")
    SnapshotStore.overwrite(twelveParts, root, Some("part"))
    val before = files(root).size
    val rows = (0L until 2000L).map(k => (100000L + k, 3, k)).toDF("key", "part", "value")
    SnapshotStore.append(rows, root, Some("part"))
    assert(files(root).size == before + 1)
    assert(filesIn(root, 3) == 2)
    assert(SnapshotStore.read(spark, root).count() == 6800)
  }

  test("a merge into one partition leaves it exactly one file") {
    import spark.implicits._
    val root = scratch("sizing_merge_")
    // Four files in every partition before the merge.
    SnapshotStore.overwrite(twelveParts.repartition(4), root, Some("part"))
    assert(filesIn(root, 5) == 4)
    val updates = ((5L until 365L by 12).map(k => (k, 5, -k)) :+ ((99999L, 5, 1L)))
      .toDF("key", "part", "value")
    SnapshotStore.merge(spark, root, updates, "key", "part")
    assert(filesIn(root, 5) == 1)
    assert(filesIn(root, 4) == 4, "partitions the merge does not touch keep their files")
    val got = SnapshotStore.read(spark, root).filter(col("part") === 5)
    assert(got.count() == 401)
    assert(got.filter(col("value") < 0).count() == 30)
  }

  test("guard: a range-partitioned, sorted overwrite keeps its files and their narrow ranges") {
    val root = scratch("sizing_range_")
    val df = spark.range(0, 8000, 1, 3).select(col("id").as("k"), (col("id") * 3).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions(col("k"))
    val v = SnapshotStore.overwrite(df, root, declareStatsCol = Some("k"))
    val all = SnapshotStore.prunedFiles(root, v)
    assert(all.size >= 8, all.mkString("\n"))
    for (k <- Seq(0L, 1234L, 4000L, 7999L))
      assert(SnapshotStore.prunedFiles(root, v, keyRange = Some((k, k))).size == 1, s"key $k")
  }

  test("guard: compact(numFiles = 4) writes four files") {
    import spark.implicits._
    val root = scratch("sizing_compact_")
    SnapshotStore.overwrite((0L until 1000L).map(k => (k, k * 2)).toDF("k", "v"), root)
    SnapshotStore.append((1000L until 1100L).map(k => (k, k * 2)).toDF("k", "v"), root)
    assert(files(root).size == 2)
    SnapshotStore.compact(spark, root, numFiles = 4)
    assert(files(root).size == 4)
    assert(SnapshotStore.read(spark, root).count() == 1100)
  }

  test("guard: an explode over a 2-partition input keeps both write tasks") {
    val root = scratch("sizing_explode_")
    val df = spark.range(0, 100, 1, 2)
      .select(col("id"), explode(array(lit(1), lit(2), lit(3))).as("x"))
    SnapshotStore.overwrite(df, root)
    assert(files(root).size >= 2, files(root).mkString("\n"))
    assert(SnapshotStore.read(spark, root).count() == 300)
  }

  test("guard: a flatMap-expanded frame and a UDF-widened frame keep their write tasks") {
    import spark.implicits._
    // Spark sizes a typed flatMap as its input and a UDF's string at the
    // type's default: both estimates are far below what is written.
    val expanded = scratch("sizing_flatmap_")
    SnapshotStore.overwrite(spark.range(0, 100, 1, 2).as[Long]
      .flatMap(k => Seq.tabulate(50)(i => (k, i.toLong))).toDF("k", "i"), expanded)
    assert(files(expanded).size >= 2, files(expanded).mkString("\n"))
    assert(SnapshotStore.read(spark, expanded).count() == 5000)
    val widened = scratch("sizing_udf_")
    val wide = udf((k: Long) => k.toString * 100)
    SnapshotStore.overwrite(spark.range(0, 100, 1, 2).select(col("id").as("k"),
      wide(col("id")).as("s")), widened)
    assert(files(widened).size >= 2, files(widened).mkString("\n"))
    assert(SnapshotStore.read(spark, widened).count() == 100)
  }

  test("guard: a frame of unknown size keeps its partitioning") {
    val root = scratch("sizing_rdd_")
    val rdd = spark.sparkContext.parallelize((0L until 300L).map(k => Row(k, (k % 2).toInt)), 3)
    val df = spark.createDataFrame(rdd, StructType(Seq(
      StructField("k", LongType), StructField("part", IntegerType))))
    SnapshotStore.overwrite(df, root)
    assert(files(root).size == 3)
  }
}
