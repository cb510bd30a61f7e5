package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{GraftCatalog, SnapshotStore}

/** The SQL surface of the snapshot layer ([[graft.sources.GraftCatalog]]):
  * plain `spark.sql` and `spark.read.format("graft")` over snapshot
  * tables — both plan through `SnapshotStore.readAt`, the Scala read —
  * `VERSION AS OF` / `TIMESTAMP AS OF` time travel, filter pushdown into
  * the parquet scan, write and DELETE refusal, row-level DML, and the
  * deletion-vector serving/compact story. Every content check compares
  * against the Scala read path (SnapshotStore.read), which the rest of
  * the suite pins.
  */
class SnapshotSqlSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root",
      Paths.get("target/graft-scratch/sqlcat").toString)
    s
  }

  /** SQL table names must be stable (unlike the store spec's temp dirs),
    * so wipe any leftover from a previous run — CREATE TABLE rightly
    * refuses an existing table, and stale manifest logs would skew the
    * version arithmetic below.
    */
  private def tableDir(name: String): String = {
    val d = Paths.get("target/graft-scratch/sqlcat", name)
    Files.createDirectories(d.getParent)
    if (Files.exists(d)) {
      import scala.jdk.CollectionConverters._
      val it = Files.walk(d)
      try it.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally it.close()
    }
    d.toString
  }

  private def base = Tables.customer(spark, TestSpark.sf0001)
    .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("c_custkey").collect().toSeq

  test("SELECT over the catalog == SnapshotStore.read; version pins survive later commits") {
    import spark.implicits._
    val root = tableDir("cust")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    assert(sortedRows(spark.sql("SELECT * FROM graft.cust")) ==
      sortedRows(SnapshotStore.read(spark, root)))

    val extra = Seq((900001L, 3L, "NEW")).toDF("c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.append(extra, root, Some("c_nationkey"))
    // current follows the commit; VERSION AS OF 0 still reads the original
    assert(spark.sql("SELECT count(*) AS n FROM graft.cust").head().getLong(0) ==
      base.count() + 1)
    assert(sortedRows(spark.sql("SELECT * FROM graft.cust VERSION AS OF 0")) ==
      sortedRows(SnapshotStore.read(spark, root, Some(0L))))
  }

  test("TIMESTAMP AS OF resolves the newest version committed at or before the bound") {
    import spark.implicits._
    val root = tableDir("tt")
    val df = Seq((1L, 1L, "A"), (2L, 2L, "B"))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment")
    SnapshotStore.overwrite(df, root, Some("c_nationkey"))
    Thread.sleep(1100) // manifest mtime is the publication instant (ms granularity)
    val cut = java.time.Instant.now()
    Thread.sleep(1100)
    SnapshotStore.append(
      Seq((3L, 3L, "C")).toDF("c_custkey", "c_nationkey", "c_mktsegment"),
      root, Some("c_nationkey"))

    val ts = java.sql.Timestamp.from(cut)
    val atCut = spark.sql(s"SELECT * FROM graft.tt TIMESTAMP AS OF '$ts'")
    assert(atCut.count() == 2) // v0 only — v1 commits after the bound
    // a bound before the first commit is an error, not an empty table
    val tooEarly = java.sql.Timestamp.from(cut.minusSeconds(3600))
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.tt TIMESTAMP AS OF '$tooEarly'").collect()
    }
    assert(e.getMessage.contains("no version committed"))
  }

  test("filters push into the native parquet scan (PushedFilters non-empty)") {
    val root = tableDir("push")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val df = spark.sql("SELECT c_custkey FROM graft.push WHERE c_custkey = 7")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,7)]")
      || plan.contains("PushedFilters: [EqualTo(c_custkey,7)"),
      s"expected a pushed equality filter in:\n$plan")
    // and the scan reads only the projected column
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint>"), plan)
  }

  test("INSERT INTO / INSERT OVERWRITE are manifest commits with snapshot isolation") {
    val root = tableDir("sqlw")
    spark.sql("CREATE TABLE graft.sqlw (k BIGINT, v STRING) PARTITIONED BY (k)")
    // CREATE publishes an empty v0 carrying the declared schema
    assert(spark.sql("SELECT * FROM graft.sqlw").count() == 0)
    assert(SnapshotStore.currentVersion(root).contains(0L))
    assert(SnapshotStore.partColOf(root).contains("k"))

    spark.sql("INSERT INTO graft.sqlw VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.sqlw VALUES (2, 'c')")
    assert(spark.sql("SELECT count(*) FROM graft.sqlw").head().getLong(0) == 3)
    // each INSERT is one committed version; the pinned past is intact
    assert(SnapshotStore.currentVersion(root).contains(2L))
    assert(spark.sql("SELECT * FROM graft.sqlw VERSION AS OF 1").count() == 2)
    // the SQL-written files land in the table's recorded hive layout, so
    // the Scala API interoperates: merge/read see one consistent table
    assert(SnapshotStore.entriesAt(root, 2L)
      .forall(_.split('/').exists(_.startsWith("__part="))))
    assert(spark.sql("SELECT * FROM graft.sqlw WHERE k = 2").count() ==
      SnapshotStore.read(spark, root).filter(col("k") === 2).count())

    spark.sql("INSERT OVERWRITE graft.sqlw VALUES (9, 'z')")
    assert(spark.sql("SELECT v FROM graft.sqlw").collect().map(_.getString(0)).toSeq
      == Seq("z"))
    assert(spark.sql("SELECT * FROM graft.sqlw VERSION AS OF 2").count() == 3)
  }

  test("CTAS composes create + insert; DROP TABLE removes the table") {
    import spark.implicits._
    val root = tableDir("ctas")
    Seq((1L, "x"), (2L, "y")).toDF("k", "v")
      .createOrReplaceTempView("ctas_src")
    spark.sql("CREATE TABLE graft.ctas AS SELECT * FROM ctas_src")
    assert(spark.sql("SELECT * FROM graft.ctas").count() == 2)
    assert(Files.isDirectory(Paths.get(root, "_manifests")))
    spark.sql("DROP TABLE graft.ctas")
    assert(!Files.exists(Paths.get(root)))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.ctas").collect()
    }
    // With format("graft") registered (the streaming sink / batch reader),
    // a dropped table's name falls through catalog resolution into Spark's
    // direct-query-on-files path, which refuses non-file sources — still
    // an error, different shape.
    assert(e.getMessage.contains("ctas") || e.getMessage.contains("graft"),
      e.getMessage)
  }

  test("write refusal: time-traveled tables and unrecorded legacy layouts") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val root = tableDir("wrref")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array.empty[String], "wrref")

    // time travel pins a version; inserting into the past is refused
    val pinned = cat.loadTable(ident, "0")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
    val e1 = intercept[UnsupportedOperationException] {
      pinned.newWriteBuilder(null)
    }
    assert(e1.getMessage.contains("time-traveled"))

    // a partitioned table that predates the part_col record refuses SQL
    // writes (appending unpartitioned files would silently mix layouts).
    // Simulate a legacy table by stripping the embedded record from every
    // manifest (pre-r13 manifests carried no part_col key; r13 moved the
    // record INTO the manifest, so there is no side file to delete).
    locally {
      import scala.jdk.CollectionConverters._
      val it = Files.list(Paths.get(root, "_manifests"))
      val mfs = try it.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json")).toSeq
      finally it.close()
      mfs.foreach { p =>
        val txt = new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
          .replaceAll("\"part_col\":(null|\"[^\"]*\"),", "")
        Files.write(p, txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    val legacy = cat.loadTable(ident)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
    val e2 = intercept[UnsupportedOperationException] {
      legacy.newWriteBuilder(null)
    }
    assert(e2.getMessage.contains("part_col"))
    // DELETE FROM refuses the same table for the same reason, unchanged
    val before = SnapshotStore.currentVersion(root)
    val e3 = intercept[UnsupportedOperationException] {
      spark.sql("DELETE FROM graft.wrref WHERE c_custkey = 1")
    }
    assert(e3.getMessage.contains("part_col"))
    assert(SnapshotStore.currentVersion(root) == before)
    // so do UPDATE and MERGE
    val e4 = intercept[UnsupportedOperationException] {
      spark.sql("UPDATE graft.wrref SET c_mktsegment = 'X' WHERE c_custkey = 1")
    }
    assert(e4.getMessage.contains("part_col"))
    assert(SnapshotStore.currentVersion(root) == before)
    val e5 = intercept[UnsupportedOperationException] {
      spark.sql("""MERGE INTO graft.wrref t
        USING (SELECT 1L AS c_custkey, 'X' AS c_mktsegment) s ON t.c_custkey = s.c_custkey
        WHEN MATCHED THEN UPDATE SET c_mktsegment = s.c_mktsegment""")
    }
    assert(e5.getMessage.contains("part_col"))
    assert(SnapshotStore.currentVersion(root) == before)
  }

  test("history and files metadata tables read straight from the manifest log") {
    import spark.implicits._
    val root = tableDir("meta")
    spark.sql("CREATE TABLE graft.meta (k BIGINT, v STRING) PARTITIONED BY (k)")
    spark.sql("INSERT INTO graft.meta VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT OVERWRITE graft.meta VALUES (3, 'c')")

    val hist = spark.sql("SELECT * FROM graft.meta.history ORDER BY version")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    // full snapshots record exact counts; incremental commits record -1
    assert(hist(0).getAs[Long]("rows") == 0L)
    assert(hist(1).getAs[Long]("rows") == -1L)
    assert(hist(2).getAs[Long]("rows") == 1L)
    assert(hist(2).getAs[Int]("num_files") >= 1)

    val files = spark.sql("SELECT * FROM graft.meta.files").collect()
    assert(files.nonEmpty)
    assert(files.forall(_.getAs[String]("partition") == "3"))
    // files respects VERSION AS OF: v1 lists the two inserted partitions
    val atV1 = spark.sql("SELECT partition FROM graft.meta.files VERSION AS OF 1")
      .collect().map(_.getString(0)).toSet
    assert(atV1 == Set("1", "2"))
  }

  test("deletion-vector versions serve masked rows through SQL; compact restores the native path") {
    val root = tableDir("dv")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    SnapshotStore.delete(spark, root, col("c_custkey") % 7 === 0,
      Some("c_nationkey"), deletionVectors = true)
    val expect = base.filter(!(col("c_custkey") % 7 === 0))

    // A reader between the GDPR delete and the next compaction sees the
    // MASKED table (the DV anti-join layered over the scan), not a
    // refusal, and not resurrected rows.
    assert(spark.sql("SELECT * FROM graft.dv").count() == expect.count())
    assert(sortedRows(spark.sql("SELECT * FROM graft.dv")) ==
      sortedRows(SnapshotStore.read(spark, root)))
    // predicates and pruned projections work over the masked read (the
    // filter pushes below the anti-join into the parquet scan)
    assert(spark.sql(
      "SELECT c_custkey FROM graft.dv WHERE c_nationkey = 3").count() ==
      expect.filter(col("c_nationkey") === 3).count())
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.dv WHERE c_custkey % 7 = 0")
      .head().getLong(0) == 0L)
    // the un-DV'd history is still SQL-readable
    assert(spark.sql("SELECT * FROM graft.dv VERSION AS OF 0").count() == base.count())
    // pushdown evidence: the filter reaches the parquet scan BELOW the
    // anti-join
    val inner = SnapshotStore.read(spark, root).filter(col("c_nationkey") === 3)
    val plan = inner.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("c_nationkey"))

    SnapshotStore.compact(spark, root)
    assert(sortedRows(spark.sql("SELECT * FROM graft.dv")) ==
      sortedRows(SnapshotStore.read(spark, root)))
    assert(spark.sql("SELECT * FROM graft.dv").count() == expect.count())
    // post-compact the table reports DV-free and scans natively again
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    val t = cat.loadTable(Identifier.of(Array.empty[String], "dv"))
    assert(t.properties().get("deletion-vectors") == "false")
  }

  test("catalog guard rails: table-as-namespace, history AS OF, TBLPROPERTIES") {
    import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces}
    val root = tableDir("rails")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    SnapshotStore.append(base.limit(5), root)

    // DROP NAMESPACE on a TABLE directory must not delete the table
    // through the namespace path (namespaceExists is true for any dir)
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[SupportsNamespaces]
    val e1 = intercept[IllegalArgumentException] {
      cat.dropNamespace(Array("rails"), true)
    }
    assert(e1.getMessage.contains("table"))
    assert(spark.sql("SELECT * FROM graft.rails").count() == base.count() + 5)

    // history respects VERSION AS OF: a reader pinned at v0 sees the log
    // as of v0, not the future
    assert(spark.sql("SELECT * FROM graft.rails.history").count() == 2)
    assert(spark.sql(
      "SELECT * FROM graft.rails.history VERSION AS OF 0").count() == 1)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.rails.history VERSION AS OF 9").collect()
    }

    // TBLPROPERTIES/COMMENT are refused loudly, not silently dropped
    val e2 = intercept[Exception] {
      spark.sql("CREATE TABLE graft.railsprops (k BIGINT) " +
        "TBLPROPERTIES ('retention'='30d')")
    }
    assert(e2.getMessage.contains("propert"))
  }

  test("DELETE FROM: row-level predicate takes the DV path — one atomic version, exact CDC delta, time travel intact") {
    import spark.implicits._
    val root = tableDir("del")
    val df = Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"), (4L, 1L, "d"))
      .toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    spark.sql("DELETE FROM graft.del WHERE k <= 2")
    assert(SnapshotStore.versions(root) == Seq(0L, 1L), "one atomic commit")
    // row-level predicate → deletion vectors, not a partition rewrite
    assert(spark.sql("SELECT sum(dv_count) AS n FROM graft.del.files")
      .head().getLong(0) > 0, "row-level DELETE must take the DV path")
    assert(spark.sql("SELECT k FROM graft.del ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
    // CDC: exactly the removed rows, as deletes
    val delta = SnapshotStore.changes(spark, root, 0L, 1L)
      .select(col("k"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(delta == Set((1L, "delete"), (2L, "delete")), delta.toString)
    // the past is untouched
    assert(spark.sql("SELECT count(*) AS n FROM graft.del VERSION AS OF 0")
      .head().getLong(0) == 4L)
  }

  test("DELETE FROM: partition-aligned predicate rewrites (drops files, no DVs); unsupported predicates refuse loudly") {
    import spark.implicits._
    val root = tableDir("del2")
    val df = Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"))
      .toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    spark.sql("DELETE FROM graft.del2 WHERE p = 0")
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))
    // aligned delete: the partition's files drop from the manifest, zero DVs
    val files = spark.sql("SELECT partition, dv_count FROM graft.del2.files")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(files.forall(_._2 == 0), s"aligned DELETE must not write DVs: $files")
    assert(files.forall(_._1 == "1"), s"p=0 files must be gone: $files")
    assert(spark.sql("SELECT k FROM graft.del2").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // a predicate that doesn't translate to source filters refuses loudly
    val before = sortedK("SELECT k FROM graft.del2")
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft.del2 WHERE k % 2 = 1")
    }
    assert(e.getMessage != null, e.toString)
    assert(sortedK("SELECT k FROM graft.del2") == before,
      "a refused DELETE must not change the table")
  }

  private def sortedK(q: String): Seq[Long] =
    spark.sql(q).collect().map(_.getLong(0)).toSeq.sorted

  test("UPDATE: rewrites only touched partitions (untouched files byte-identical), assignments can move rows across partitions") {
    import spark.implicits._
    val root = tableDir("upd")
    val df = Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"), (4L, 2L, "d"))
      .toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    def entriesOf(v: Long) = SnapshotStore.entriesAt(root, v)
    spark.sql("UPDATE graft.upd SET v = 'B2' WHERE k = 2")
    assert(SnapshotStore.versions(root) == Seq(0L, 1L), "one atomic commit")
    val got = spark.sql("SELECT k, v FROM graft.upd ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "B2"), (3L, "c"), (4L, "d")))
    // partition-granular copy-on-write: p=1 and p=2 entries carry forward
    // VERBATIM (same manifest entries → same files, no rewrite)
    val untouched0 = entriesOf(0L).filterNot(_.contains("__part=0"))
    val untouched1 = entriesOf(1L).filterNot(_.contains("__part=0"))
    assert(untouched0.toSet.subsetOf(untouched1.toSet),
      s"untouched partitions were rewritten: $untouched0 vs $untouched1")
    assert(entriesOf(1L).exists(_.contains("__part=0")) &&
      (entriesOf(0L).filter(_.contains("__part=0")).toSet !=
        entriesOf(1L).filter(_.contains("__part=0")).toSet),
      "the touched partition must be rewritten")
    // an UPDATE that changes the partition column moves the row
    spark.sql("UPDATE graft.upd SET p = 2 WHERE k = 1")
    val moved = spark.sql("SELECT k, p FROM graft.upd ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(moved == Seq((1L, 2L), (2L, 0L), (3L, 1L), (4L, 2L)))
    assert(spark.sql("SELECT count(*) AS n FROM graft.upd").head().getLong(0) == 4L)
    // CDC across the move: k=1 deleted from p=0's class, inserted at p=2
    val delta = SnapshotStore.changes(spark, root, 1L, 2L)
      .select(col("k"), col("p"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(delta == Set((1L, 0L, "delete"), (1L, 2L, "insert")), delta.toString)
  }

  test("MERGE INTO: full clause matrix in one atomic commit; cardinality violation fails; NOT MATCHED BY SOURCE forces whole-table scope") {
    import spark.implicits._
    val root = tableDir("mrg")
    val df = Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"), (4L, 2L, "d"))
      .toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    Seq((1L, 0L, "A1", "U"), (2L, 0L, "x", "D"), (9L, 1L, "ins", "I"))
      .toDF("k", "p", "v", "op").createOrReplaceTempView("mrg_src")
    spark.sql("""
      MERGE INTO graft.mrg t USING mrg_src s ON t.k = s.k
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
    """)
    assert(SnapshotStore.versions(root) == Seq(0L, 1L), "one atomic commit")
    val got = spark.sql("SELECT k, v FROM graft.mrg ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "A1"), (3L, "c"), (4L, "d"), (9L, "ins")), got.toString)
    // partition-granular: p=2 (k=4, never touched) carries forward verbatim
    val p2at0 = SnapshotStore.entriesAt(root, 0L).filter(_.contains("__part=2"))
    val p2at1 = SnapshotStore.entriesAt(root, 1L).filter(_.contains("__part=2"))
    assert(p2at0.nonEmpty && p2at0 == p2at1,
      s"untouched partition rewritten by MERGE: $p2at0 vs $p2at1")
    // CDC: the statement's net row changes, nothing else. The MERGE
    // records its ON equi-column (k) as the commit's change key, so the
    // updated row surfaces as paired UPDATE IMAGES (the Delta CDF
    // contract) — a downstream incremental consumer can tell the in-place
    // update (k=1) from the true delete (k=2) and insert (k=9).
    val delta = SnapshotStore.changes(spark, root, 0L, 1L)
      .select(col("k"), col("v"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(delta == Set(
      (1L, "a", "update_preimage"), (1L, "A1", "update_postimage"),
      (2L, "b", "delete"), (9L, "ins", "insert")), delta.toString)
    // An explicit caller-passed key labels identically (the multi-commit
    // range form, where no single commit-declared key applies).
    val wide = SnapshotStore.changes(spark, root, 0L, 1L, updateKey = Seq("k"))
      .select(col("k"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(wide.contains((1L, "update_preimage")) &&
      wide.contains((1L, "update_postimage")), wide.toString)

    // ANSI cardinality: two source rows matching one target row must fail
    // the statement before anything commits
    Seq((3L, 1L, "x1", "U"), (3L, 1L, "x2", "U"))
      .toDF("k", "p", "v", "op").createOrReplaceTempView("mrg_dup")
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO graft.mrg t USING mrg_dup s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
      """)
    }
    assert(e.getMessage.contains("multiple source rows"), e.getMessage)
    assert(SnapshotStore.versions(root) == Seq(0L, 1L),
      "failed MERGE must not commit")

    // NOT MATCHED BY SOURCE: delete target rows the source doesn't carry
    Seq((1L, 0L)).toDF("k", "p").createOrReplaceTempView("mrg_keep")
    spark.sql("""
      MERGE INTO graft.mrg t USING mrg_keep s ON t.k = s.k
      WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    assert(sortedK("SELECT k FROM graft.mrg") == Seq(1L))
    assert(SnapshotStore.versions(root) == Seq(0L, 1L, 2L))
  }

  test("UPDATE merge-on-read: a partition-misaligned predicate writes ONLY a DV sidecar + delta files — every base data file byte-untouched; CDC exact; compact materializes") {
    import spark.implicits._
    val root = tableDir("updmor")
    val df = (1L to 8L).map(k => (k, k % 3, s"v$k")).toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    def dataFiles(): Map[java.nio.file.Path, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
      try it.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toMap
      finally it.close()
    }
    val before = dataFiles()
    spark.sql("UPDATE graft.updmor SET v = concat(v, '!') WHERE k IN (2, 7)")
    assert(SnapshotStore.versions(root) == Seq(0L, 1L), "one atomic commit")
    // THE merge-on-read gate: every pre-statement data file still exists
    // with its pre-statement mtime — the update wrote only the DV sidecar
    // and the updated rows' delta files.
    val after = dataFiles()
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"base file rewritten or gone: $p")
    }
    assert(after.size > before.size, "updated rows must land as delta files")
    assert(spark.sql("SELECT sum(dv_count) AS n FROM graft.updmor.files")
      .head().getLong(0) > 0, "row-level UPDATE must take the DV path")
    val got = spark.sql("SELECT k, v FROM graft.updmor ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == (1L to 8L).map(k =>
      (k, if (k == 2 || k == 7) s"v$k!" else s"v$k")), got.toString)
    // CDC: exactly pre-image deletes + post-image inserts of acted rows
    val delta = SnapshotStore.changes(spark, root, 0L, 1L)
      .select(col("k"), col("v"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(delta == Set((2L, "v2", "delete"), (2L, "v2!", "insert"),
      (7L, "v7", "delete"), (7L, "v7!", "insert")), delta.toString)
    // staging is transient: nothing left under _staging
    val staging = java.nio.file.Paths.get(root, "_staging")
    if (java.nio.file.Files.isDirectory(staging)) {
      val it = java.nio.file.Files.list(staging)
      try assert(!it.iterator().hasNext, "staging dir leaked")
      finally it.close()
    }
    // compact materializes the DVs away; content identical
    SnapshotStore.compact(spark, root)
    assert(spark.sql("SELECT sum(dv_count) AS n FROM graft.updmor.files")
      .head().getLong(0) == 0L)
    assert(spark.sql("SELECT k, v FROM graft.updmor ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == got)
  }

  test("MERGE merge-on-read: matched update/delete via DV sidecar — base files byte-untouched; unclaimed matched rows untouched") {
    import spark.implicits._
    val root = tableDir("mrgmor")
    val df = (1L to 6L).map(k => (k, k % 2, s"v$k")).toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    def mtimes(): Map[java.nio.file.Path, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
      try it.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(p => p -> java.nio.file.Files.getLastModifiedTime(p)).toMap
      finally it.close()
    }
    val before = mtimes()
    // k=1 updates, k=2 deletes, k=3 matched but claimed by NO clause
    // (op gates both) — must stay byte-in-place; k=9 inserts.
    Seq((1L, 1L, "A1", "U"), (2L, 0L, "x", "D"), (3L, 1L, "x", "N"),
      (9L, 1L, "ins", "I"))
      .toDF("k", "p", "v", "op").createOrReplaceTempView("mrgmor_src")
    spark.sql("""
      MERGE INTO graft.mrgmor t USING mrgmor_src s ON t.k = s.k
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED AND s.op = 'U' THEN UPDATE SET v = s.v
      WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
    """)
    val after = mtimes()
    before.foreach { case (p, t) =>
      assert(after.get(p).contains(t), s"base file rewritten or gone: $p")
    }
    val got = spark.sql("SELECT k, v FROM graft.mrgmor ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "A1"), (3L, "v3"), (4L, "v4"), (5L, "v5"),
      (6L, "v6"), (9L, "ins")), got.toString)
    assert(spark.sql("SELECT sum(dv_count) AS n FROM graft.mrgmor.files")
      .head().getLong(0) > 0, "matched update/delete must ride DVs")
  }

  test("MERGE insert-only: a source row matching N target rows (or N source rows one target row) never duplicates target content") {
    import spark.implicits._
    val root = tableDir("mrgins")
    // Two target rows share key 5 (dedup not yet run — the real-world
    // insert-only-merge precondition Delta documents as legal).
    SnapshotStore.overwrite(
      Seq((5L, 0L, "t1"), (5L, 0L, "t2"), (6L, 1L, "t3")).toDF("k", "p", "v"),
      root, Some("p")) // v0
    // Source: k=5 matches BOTH target rows; k=7 is new and appears TWICE
    // (both unmatched copies insert — the Delta semantics); k=6 matches one.
    Seq((5L, 0L, "s5"), (7L, 1L, "s7a"), (7L, 1L, "s7b"), (6L, 1L, "s6"))
      .toDF("k", "p", "v").createOrReplaceTempView("mrgins_src")
    spark.sql("""
      MERGE INTO graft.mrgins t USING mrgins_src s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
    """)
    val got = spark.sql("SELECT k, v FROM graft.mrgins ORDER BY k, v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // Matched target rows pass through ONCE each (the r14 full-outer-join
    // shape emitted one copy per matching source row); both unmatched
    // source copies insert.
    assert(got == Seq((5L, "t1"), (5L, "t2"), (6L, "t3"),
      (7L, "s7a"), (7L, "s7b")), got.toString)
    // and it is a pure append: no DVs, no base file rewritten
    assert(spark.sql("SELECT sum(dv_count) AS n FROM graft.mrgins.files")
      .head().getLong(0) == 0L, "insert-only merge must not write DVs")
    // N source rows matching one target row do not trip the cardinality
    // check either — there are no matched clauses to be ambiguous about.
    Seq((6L, 1L, "x1"), (6L, 1L, "x2"), (8L, 0L, "s8"))
      .toDF("k", "p", "v").createOrReplaceTempView("mrgins_src2")
    spark.sql("""
      MERGE INTO graft.mrgins t USING mrgins_src2 s ON t.k = s.k
      WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
    """)
    assert(sortedK("SELECT k FROM graft.mrgins") ==
      Seq(5L, 5L, 6L, 7L, 7L, 8L))
  }

  test("MERGE WITH SCHEMA EVOLUTION: a new source column evolves the table (one metadata commit + the merge), old rows read null, time travel keeps the old shape") {
    import spark.implicits._
    val root = tableDir("mrgevo")
    SnapshotStore.overwrite(
      Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("k", "p", "v"),
      root, Some("p")) // v0
    Seq((1L, 0L, "A1", 9.5), (3L, 1L, "c", 7.0)).toDF("k", "p", "v", "score")
      .createOrReplaceTempView("mrgevo_src")
    spark.sql("""
      MERGE WITH SCHEMA EVOLUTION INTO graft.mrgevo t USING mrgevo_src s ON t.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v, score = s.score
      WHEN NOT MATCHED THEN INSERT *
    """)
    // v1 = the atomic alterColumns metadata commit, v2 = the merge itself
    assert(SnapshotStore.versions(root) == Seq(0L, 1L, 2L),
      SnapshotStore.versions(root).toString)
    assert(SnapshotStore.entriesAt(root, 0L).toSet
        .subsetOf(SnapshotStore.entriesAt(root, 1L).toSet),
      "the evolution commit must be metadata-only")
    val got = spark.sql("SELECT k, v, score FROM graft.mrgevo ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(got == Seq((1L, "A1", 9.5), (2L, "b", null), (3L, "c", 7.0)),
      got.toString)
    // time travel: the pre-evolution shape has no score column
    assert(spark.sql("SELECT * FROM graft.mrgevo VERSION AS OF 0")
      .columns.toSeq == Seq("k", "p", "v"))
    // appends after evolution conform to the evolved schema
    spark.sql("INSERT INTO graft.mrgevo VALUES (4, 0, 'd', 1.5)")
    assert(spark.sql("SELECT score FROM graft.mrgevo WHERE k = 4")
      .head().getDouble(0) == 1.5)
    // WITHOUT the clause, a new source column still refuses loudly
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO graft.mrgevo t USING (SELECT 5 AS k, 0 AS p, 'e' AS v,
          1.0 AS score, 'x' AS extra) s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, p, v, extra) VALUES (s.k, s.p, s.v, s.extra)
      """)
    }
    assert(e.getMessage != null)
  }

  test("DML guard rails: non-graft tables keep Spark's refusal; UPDATE over a DV version does not resurrect deleted rows") {
    import spark.implicits._
    // The post-hoc rule must only claim graft-snapshot relations: an
    // UPDATE on a plain temp view still fails with Spark's own error.
    Seq((1L, "a")).toDF("k", "v").createOrReplaceTempView("plain_view")
    val e = intercept[Exception] {
      spark.sql("UPDATE plain_view SET v = 'x' WHERE k = 1")
    }
    assert(!e.getMessage.contains("graft"), e.getMessage)

    // UPDATE over a table carrying deletion vectors: the command reads
    // the DV-MASKED relation, so a DV-deleted row neither updates nor
    // resurrects in the rewritten partition.
    val root = tableDir("dmlvdv")
    SnapshotStore.overwrite(
      Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c")).toDF("k", "p", "v"),
      root, Some("p"))                                                  // v0
    SnapshotStore.delete(spark, root, col("k") === 1L,
      deletionVectors = true)                                           // v1 (DV)
    spark.sql("UPDATE graft.dmlvdv SET v = 'B2' WHERE p = 0")           // v2
    val got = spark.sql("SELECT k, v FROM graft.dmlvdv ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "B2"), (3L, "c")),
      s"DV-deleted row resurrected or update misapplied: $got")
  }

  test("updateWhere: concurrent commit into a replaced partition conflicts; disjoint commits rebase") {
    import spark.implicits._
    import graft.sources.SnapshotStore.SnapshotConflictException
    val root = tableDir("rw")
    val df = Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("k", "p", "v")
    SnapshotStore.overwrite(df, root, Some("p")) // v0
    // SET v = 'A2' WHERE k = 1, copy-on-write over partition 0, read at `base`
    def setA2(base: Long) = SnapshotStore.updateWhere(spark, SnapshotStore.snapshot(root, base),
      col("k") === 1L, Some(Map("v" -> lit("A2"))), Some("p"), copyOnWrite = true)
    // a concurrent writer lands in partition 0 AFTER our base was read:
    // the copy-on-write of partition 0 must conflict, not silently drop
    // the concurrent row
    SnapshotStore.append(Seq((7L, 0L, "z")).toDF("k", "p", "v"), root, Some("p")) // v1
    intercept[SnapshotConflictException] {
      setA2(0L)
    }
    // re-read at v1 (the retry contract), then a DISJOINT concurrent
    // commit (partition 1) lands before our commit: rebases cleanly
    SnapshotStore.append(Seq((8L, 1L, "y")).toDF("k", "p", "v"), root, Some("p")) // v2
    val v = setA2(1L)
    assert(v == 3L, "rebase over the disjoint commit, not a conflict")
    val got = SnapshotStore.read(spark, root)
      .select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "A2"), (7L, "z"), (2L, "b"), (8L, "y")), got.toString)
  }

  test("ALTER TABLE: ADD / RENAME / DROP COLUMN are metadata-only commits; SELECT serves renamed data from old files") {
    import spark.implicits._
    val root = tableDir("alt")
    SnapshotStore.overwrite(
      Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("k", "p", "v"),
      root, Some("p")) // v0
    spark.sql("ALTER TABLE graft.alt RENAME COLUMN v TO payload")
    assert(SnapshotStore.entriesAt(root, 0L) == SnapshotStore.entriesAt(root, 1L),
      "RENAME must not rewrite data")
    val got = spark.sql("SELECT k, payload FROM graft.alt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "a"), (2L, "b")), got.toString)
    // VERSION AS OF 0 still exposes the old name
    assert(spark.sql("SELECT * FROM graft.alt VERSION AS OF 0")
      .columns.toSeq == Seq("k", "p", "v"))
    spark.sql("ALTER TABLE graft.alt ADD COLUMN score BIGINT")
    assert(spark.sql("SELECT score FROM graft.alt WHERE k = 1")
      .head().isNullAt(0), "pre-add files read the new column as null")
    spark.sql("ALTER TABLE graft.alt DROP COLUMN score")
    assert(!spark.sql("SELECT * FROM graft.alt").columns.contains("score"))
    // INSERT after the evolution writes under the current schema
    spark.sql("INSERT INTO graft.alt VALUES (3, 0, 'c')")
    assert(spark.sql("SELECT payload FROM graft.alt").collect()
      .map(_.getString(0)).toSet == Set("a", "b", "c"))
    // unsupported alterations refuse loudly
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.alt ALTER COLUMN k TYPE INT")
    }
    assert(e.getMessage != null)
  }

  test("ALTER TABLE is atomic: a refused change in a multi-change statement leaves the table at its pre-statement version") {
    import spark.implicits._
    val root = tableDir("altatomic")
    SnapshotStore.overwrite(
      Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("k", "p", "v"),
      root, Some("p")) // v0
    val before = SnapshotStore.currentVersion(root)
    // Second column collides with an existing one: the whole statement
    // must refuse — the first column must NOT have been committed.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.altatomic ADD COLUMNS (fresh BIGINT, v BIGINT)")
    }
    assert(SnapshotStore.currentVersion(root) == before,
      "failed ALTER must publish nothing")
    assert(!spark.sql("SELECT * FROM graft.altatomic").columns.contains("fresh"),
      "the statement's earlier change leaked through a partial apply")
    // The valid multi-change statement lands as ONE commit.
    spark.sql("ALTER TABLE graft.altatomic ADD COLUMNS (s1 BIGINT, s2 BIGINT)")
    assert(SnapshotStore.currentVersion(root) == before.map(_ + 1),
      "a multi-change ALTER publishes exactly one version")
    assert(spark.sql("SELECT s1, s2 FROM graft.altatomic WHERE k = 1")
      .head().toSeq == Seq(null, null))
  }

  test("spark.read.format(\"graft\"): batch read of a snapshot table — current, versionAsOf, loud on non-tables") {
    import spark.implicits._
    val root = tableDir("fmtread")
    SnapshotStore.overwrite(
      Seq((1L, 0L, "a"), (2L, 1L, "b")).toDF("k", "p", "v"), root, Some("p")) // v0
    SnapshotStore.append(Seq((3L, 0L, "c")).toDF("k", "p", "v"), root)        // v1
    def viaFormat(opts: (String, String)*) = {
      val r = spark.read.format("graft")
      opts.foreach { case (k, v) => r.option(k, v) }
      r.load()
    }
    assert(viaFormat("path" -> root).select(col("k")).collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    assert(viaFormat("path" -> root, "versionAsOf" -> "0")
      .count() == 2L)
    // catalog-name resolution, same as the streaming pair
    assert(viaFormat("table" -> "graft.fmtread").count() == 3L)
    // filters/pruning still correct through the V1 bridge (Spark re-checks)
    assert(viaFormat("path" -> root).filter(col("k") > 1L).select(col("v"))
      .collect().map(_.getString(0)).toSet == Set("b", "c"))
    val e = intercept[Exception] {
      spark.read.format("graft").option("path", root + "/nope").load()
    }
    assert(e.getMessage.contains("nope"), e.getMessage)
  }

  test("SHOW TABLES lists snapshot tables; missing table is NoSuchTable") {
    val root = tableDir("listed")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    val names = spark.sql("SHOW TABLES IN graft").select("tableName")
      .collect().map(_.getString(0)).toSet
    assert(names.contains("listed"))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.no_such_table_xyz").collect()
    }
    // see the CTAS test: a missing name now errors through the
    // direct-query-on-files refusal (format "graft" exists as a source)
    assert(e.getMessage.contains("no_such_table_xyz") ||
      e.getMessage.contains("graft"), e.getMessage)
  }

  test("OPTIMIZE graft.t: one content-identical commit — small files collapse, DVs materialize, every other statement still parses") {
    import spark.implicits._
    val root = tableDir("opt")
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))
    // accrete small files (the streaming-sink shape) + some DV debt
    (1 to 3).foreach { i =>
      SnapshotStore.append(base.limit(10 * i), root, Some("c_nationkey"))
    }
    spark.sql("DELETE FROM graft.opt WHERE c_custkey <= 13")
    val before = SnapshotStore.read(spark, root)
      .orderBy("c_custkey", "c_mktsegment").collect().toSeq
    val vBefore = SnapshotStore.currentVersion(root).get
    val filesBefore = spark.sql("SELECT count(*) AS n FROM graft.opt.files")
      .head().getLong(0)

    val v = spark.sql("OPTIMIZE graft.opt").head().getLong(0)
    assert(v == vBefore + 1, "OPTIMIZE is exactly one commit")
    assert(SnapshotStore.read(spark, root)
      .orderBy("c_custkey", "c_mktsegment").collect().toSeq == before,
      "OPTIMIZE must be content-identical")
    val filesAfter = spark.sql("SELECT count(*) AS n FROM graft.opt.files")
      .head().getLong(0)
    assert(filesAfter < filesBefore,
      s"expected fewer files after OPTIMIZE: $filesBefore -> $filesAfter")
    assert(spark.sql("SELECT sum(dv_count) AS n FROM graft.opt.files")
      .head().getLong(0) == 0L, "OPTIMIZE materializes deletion vectors")

    // the delegating parser must not disturb ordinary SQL
    assert(spark.sql("SELECT 1 + 1 AS two").head().getInt(0) == 2)
    // non-graft targets refuse loudly instead of silently compacting
    val e = intercept[Exception] {
      spark.sql("OPTIMIZE graft.opt.files").collect()
    }
    assert(e.getMessage.contains("graft snapshot table"), e.getMessage)
  }

  test("OPTIMIZE ... ZORDER BY clusters files on both keys; VACUUM RETAIN drops history past the horizon") {
    import spark.implicits._
    val root = tableDir("optz")
    val df = spark.range(0, 4000).select(
      (col("id") % 64).as("a"), (col("id") / 64).cast("long").as("b"),
      lit(0L).as("p"), col("id").as("v"))
    SnapshotStore.overwrite(df, root, Some("p"),
      declareStatsCols = Seq("a", "b"))
    SnapshotStore.append(df.withColumn("v", col("v") + 10000L), root, Some("p"))
    val before = SnapshotStore.read(spark, root)
      .orderBy("v").collect().toSeq
    spark.sql("OPTIMIZE graft.optz ZORDER BY (a, b)").collect()
    assert(SnapshotStore.read(spark, root).orderBy("v").collect().toSeq
      == before, "ZORDER OPTIMIZE must be content-identical")

    // VACUUM with the in-flight guard lowered for the test: the
    // pre-optimize files are unreferenced by the retained manifests
    val dataFiles = {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.walk(Paths.get(root, "data"))
      try it.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet"))
      finally it.close()
    }
    spark.conf.set("spark.graft.vacuum.minFileAgeMs", "0")
    try {
      val path = spark.sql("VACUUM graft.optz RETAIN 1 VERSIONS")
        .head().getString(0)
      assert(path == root)
    } finally spark.conf.unset("spark.graft.vacuum.minFileAgeMs")
    val dataFilesAfter = {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.walk(Paths.get(root, "data"))
      try it.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet"))
      finally it.close()
    }
    assert(dataFilesAfter < dataFiles,
      s"VACUUM should drop unreferenced files: $dataFiles -> $dataFilesAfter")
    // current still reads; the vacuumed horizon is gone
    assert(SnapshotStore.read(spark, root).count() == before.size)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.optz VERSION AS OF 0").collect()
    }
  }

  test("RESTORE TO VERSION AS OF rolls back as a forward commit; SHALLOW CLONE creates a zero-copy table the catalog serves") {
    import spark.implicits._
    val root = tableDir("life")
    tableDir("lifedev"); tableDir("lifedev1") // wipe clone leftovers too
    SnapshotStore.overwrite(base, root, Some("c_nationkey"))          // v0
    spark.sql("DELETE FROM graft.life WHERE c_custkey <= 50")         // v1 (bad write)
    val v = spark.sql("RESTORE TABLE graft.life TO VERSION AS OF 0")
      .head().getLong(0)
    assert(v == 2L, "RESTORE publishes a forward commit, never rewrites history")
    assert(sortedRows(spark.sql("SELECT * FROM graft.life")) == sortedRows(base))
    // the undone state is still time-travelable (history intact)
    val kept = base.filter(col("c_custkey") > 50).count()
    assert(spark.sql("SELECT count(*) AS n FROM graft.life VERSION AS OF 1")
      .head().getLong(0) == kept)

    // SHALLOW CLONE: reads identical, is its own table (diverges), and
    // lands where CREATE TABLE would (immediately SQL-visible).
    val path = spark.sql("CREATE TABLE graft.lifedev SHALLOW CLONE graft.life")
      .head().getString(0)
    assert(Paths.get(path).getFileName.toString == "lifedev")
    assert(sortedRows(spark.sql("SELECT * FROM graft.lifedev")) == sortedRows(base))
    spark.sql("DELETE FROM graft.lifedev WHERE c_custkey <= 50")
    assert(spark.sql("SELECT count(*) AS n FROM graft.lifedev").head().getLong(0)
      == kept)
    assert(spark.sql("SELECT count(*) AS n FROM graft.life").head().getLong(0)
      == base.count(), "clone writes must not leak into the source")
    // pinned-version clone serves the old content
    spark.sql("CREATE TABLE graft.lifedev1 SHALLOW CLONE graft.life VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) AS n FROM graft.lifedev1").head().getLong(0)
      == kept)
    spark.sql("DROP TABLE graft.lifedev")
    spark.sql("DROP TABLE graft.lifedev1")
  }

  test("SQL-only lifecycle: CREATE → INSERT → UPDATE → MERGE → OPTIMIZE ZORDER → RESTORE → SHALLOW CLONE → VACUUM, no Scala API anywhere") {
    // The round-16 claim in one composed story: a user who can only call
    // spark.sql can create, load, mutate, maintain, roll back, branch,
    // and garbage-collect a snapshot table. Every statement here is the
    // public SQL surface; the only Scala below is assertions.
    tableDir("full"); tableDir("fulldev")
    spark.sql("CREATE TABLE graft.full (k BIGINT, grp BIGINT, v STRING) " +
      "PARTITIONED BY (grp)")                                        // v0
    spark.sql("INSERT INTO graft.full SELECT id, id % 4, concat('v', id) " +
      "FROM range(1000)")                                            // v1
    spark.sql("UPDATE graft.full SET v = 'patched' WHERE k < 10")    // v2 (DV)
    spark.sql("CREATE OR REPLACE TEMP VIEW full_src AS " +
      "SELECT id AS k, id % 4 AS grp, 'merged' AS v FROM range(990, 1010)")
    spark.sql("MERGE INTO graft.full t USING full_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT *")                              // v3
    assert(spark.sql("SELECT count(*) AS n FROM graft.full").head().getLong(0) == 1010)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.full WHERE v = 'merged'")
      .head().getLong(0) == 20)

    val vOpt = spark.sql("OPTIMIZE graft.full ZORDER BY (k, grp)")
      .head().getLong(0)                                             // v4
    assert(spark.sql("SELECT sum(dv_count) AS d FROM graft.full.files")
      .head().getLong(0) == 0L, "OPTIMIZE materializes the UPDATE's DVs")
    assert(spark.sql("SELECT count(*) AS n FROM graft.full").head().getLong(0) == 1010)

    spark.sql(s"RESTORE TABLE graft.full TO VERSION AS OF 1")        // v5
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.full WHERE v IN ('patched','merged')")
      .head().getLong(0) == 0L, "RESTORE serves the pre-mutation content")
    assert(spark.sql("SELECT count(*) AS n FROM graft.full").head().getLong(0) == 1000)

    spark.sql("CREATE TABLE graft.fulldev SHALLOW CLONE graft.full " +
      s"VERSION AS OF $vOpt")
    assert(spark.sql("SELECT count(*) AS n FROM graft.fulldev WHERE v = 'merged'")
      .head().getLong(0) == 20, "the clone pins the pre-restore cut")

    spark.conf.set("spark.graft.vacuum.minFileAgeMs", "0")
    try spark.sql("VACUUM graft.full RETAIN 1 VERSIONS").collect()
    finally spark.conf.unset("spark.graft.vacuum.minFileAgeMs")
    // current still reads post-vacuum; the clone (hardlinked files) is
    // untouched by the source's GC
    assert(spark.sql("SELECT count(*) AS n FROM graft.full").head().getLong(0) == 1000)
    assert(spark.sql("SELECT count(*) AS n FROM graft.fulldev").head().getLong(0) == 1010)
    spark.sql("DROP TABLE graft.fulldev")
  }

  test("OPTIMIZE on an unpartitioned table rewrites through the inline path (compact refuses those)") {
    import spark.implicits._
    val root = tableDir("optu")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    SnapshotStore.overwrite(df, root, None)
    SnapshotStore.append(Seq((4L, "d")).toDF("k", "v"), root, None)
    val before = SnapshotStore.read(spark, root).orderBy("k").collect().toSeq
    val v = spark.sql("OPTIMIZE graft.optu").head().getLong(0)
    assert(v == 2L)
    assert(SnapshotStore.read(spark, root).orderBy("k").collect().toSeq
      == before)
    assert(spark.sql("SELECT count(*) AS n FROM graft.optu.files")
      .head().getLong(0) == 1L, "4 rows collapse to one file")
  }
}
