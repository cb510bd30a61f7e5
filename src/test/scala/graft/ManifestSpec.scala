package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Manifest, SnapshotCatalog, SnapshotStore}

/** The snapshot store's manifest codec: adversarial names through the
  * store's public operations, a round-trip property over both layouts,
  * and golden manifests written by the previous hand-rolled writer
  * (`src/test/resources/manifests/`; the legacy shapes among them —
  * flat single-column stats, no `part_col` key — are that writer's output
  * edited the way the store specs simulate pre-record tables).
  */
class ManifestSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def scratch(prefix: String): String = {
    val b = Paths.get("target/graft-scratch")
    Files.createDirectories(b)
    Files.createTempDirectory(b, prefix).toString
  }

  private def cases[A](gen: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => gen.pureApply(Gen.Parameters.default.withSize(8), Seed(7L + i)))

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/manifests/$name")
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  // -- adversarial names through the store -----------------------------------

  test("merge keyed on a column named k]1 pairs CDC update images") {
    import spark.implicits._
    val root = scratch("mf_ckey_")
    val v0 = SnapshotStore.overwrite(
      Seq((1L, "a", "old1"), (2L, "a", "old2"), (3L, "b", "old3")).toDF("k]1", "p", "payload"),
      root, Some("p"))
    val v1 = SnapshotStore.merge(spark, root,
      Seq((1L, "a", "new1")).toDF("k]1", "p", "payload"), "k]1", "p")
    val got = SnapshotStore.changes(spark, root, v0, v1)
      .select(col("`k]1`"), col("payload"), col("_change_type")).as[(Long, String, String)]
      .collect().toSet
    assert(got == Set((1L, "old1", "update_preimage"), (1L, "new1", "update_postimage")),
      got.toString)
  }

  /** 64 rows over 8 range-split files on `c`; stats declared on `c`. */
  private def rangeSplitTable(c: String, prefix: String): (String, Long) = {
    val root = scratch(prefix)
    val df = spark.range(0, 64).select(col("id").as(c), (col("id") % 3).as("v"))
      .repartitionByRange(8, col(s"`$c`")).sortWithinPartitions(col(s"`$c`"))
    (root, SnapshotStore.overwrite(df, root, declareStatsCol = Some(c)))
  }

  private def assertPrunes(root: String, v: Long, c: String): Unit = {
    assert(SnapshotStore.statsCols(root) == Seq(c))
    val all = SnapshotStore.prunedFiles(root, v)
    val hit = SnapshotStore.prunedFiles(root, v, keyRange = Some((10L, 12L)))
    assert(all.size >= 4 && hit.nonEmpty && hit.size < all.size / 2,
      s"stats on '$c' must prune: ${hit.size}/${all.size}")
    val viaCols = SnapshotStore.prunedFiles(root, v, colRanges = Map(c -> (10L, 12L)))
    assert(viaCols == hit)
    assert(SnapshotStore.read(spark, root, keyRange = Some((10L, 12L)))
      .filter(col(s"`$c`").between(10, 12)).count() == 3)
  }

  test("stats declared on a column named a\"b prune, flat and sectioned layouts") {
    val (flat, vf) = rangeSplitTable("a\"b", "mf_quote_flat_")
    assert(SnapshotStore.sectionsAt(flat, vf).isEmpty)
    assertPrunes(flat, vf, "a\"b")
    val saved = SnapshotStore.sectionThreshold
    SnapshotStore.sectionThreshold = 1
    try {
      val (sec, vs) = rangeSplitTable("a\"b", "mf_quote_sec_")
      assert(SnapshotStore.sectionsAt(sec, vs).isDefined)
      assertPrunes(sec, vs, "a\"b")
    } finally SnapshotStore.sectionThreshold = saved
  }

  test("stats declared on a column named a,b prune") {
    val (root, v) = rangeSplitTable("a,b", "mf_comma_")
    assertPrunes(root, v, "a,b")
  }

  test("txn app ids and catalog table names with quotes, backslashes and newlines") {
    import spark.implicits._
    val root = scratch("mf_txn_")
    val app = "w\"1\\\n}"
    val mk = (k: Long) => Seq((k, k % 2)).toDF("k", "p")
    SnapshotStore.overwrite(mk(1L), root, Some("p"), txn = Some(app -> 5L))
    SnapshotStore.append(mk(2L), root, txn = Some("other" -> 1L))
    SnapshotStore.append(mk(3L), root)
    assert(SnapshotStore.lastTxn(root, app).contains(5L))
    SnapshotStore.vacuum(root, keepVersions = 1, minAgeMs = 0L)
    assert(SnapshotStore.versions(root) == Seq(2L))
    assert(SnapshotStore.lastTxn(root, app).contains(5L), "checkpoint lost the marker")
    assert(SnapshotStore.lastTxn(root, "other").contains(1L))

    val cat = scratch("mf_cat_")
    val tables = Map("t\"1" -> 3L, "t\\2}" -> 5L, "t\n3" -> 0L)
    SnapshotCatalog.publish(cat, tables, None)
    assert(SnapshotCatalog.snapshot(cat) == tables)
  }

  // -- round-trip property ---------------------------------------------------

  private val atoms = Seq("\"", "\\", "]", "}", ",", "\"part_col\":null", "\"files\":[",
    "é", "日本", "\n", "\t", "a", "k", " ", "[", "{", ":")
  private val name: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(atoms)).map(_.mkString)
  // Entry paths never hold a newline or a tab (section lines are split on them).
  private val path: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(atoms.filterNot(a => a.contains('\n') || a.contains('\t'))))
      .map(_.mkString)
  private val bound = Gen.choose(Long.MinValue, Long.MaxValue)
  private def rangesOver(cols: Seq[String]): Gen[Manifest.Ranges] =
    Gen.sequence[Seq[Option[(String, (Long, Long))]], Option[(String, (Long, Long))]](
      cols.map(c => Gen.option(Gen.zip(bound, bound).map(c -> _)))).map(_.flatten.toMap)

  private val header: Gen[Manifest] = for {
    rows <- Gen.choose(-1L, Long.MaxValue)
    fields <- Gen.listOf(name)
    schema <- Gen.option(Gen.const(StructType(fields.distinct.map(StructField(_, LongType)))))
    partCol <- Gen.oneOf(Gen.const(None), Gen.const(Some(None)), name.map(n => Some(Some(n))))
    changeKey <- Gen.listOf(name)
    txn <- Gen.option(Gen.zip(name, Gen.choose(0L, Long.MaxValue)))
    statsCols <- Gen.listOf(name)
  } yield Manifest(rows, schema, partCol, changeKey, txn, statsCols)

  private val flat: Gen[Manifest] = for {
    m <- header
    files <- Gen.listOf(path).map(_.distinct.sorted)
    ranges <- Gen.sequence[Seq[(String, Manifest.Ranges)], (String, Manifest.Ranges)](
      files.map(f => rangesOver(m.statsCols).map(f -> _)))
  } yield m.copy(files = files,
    ranges = if (m.statsCols.isEmpty) Map.empty else ranges.toMap)

  private val sectioned: Gen[Manifest] = for {
    m <- header
    refs <- Gen.listOf(Gen.zip(name, name)).map(_.toMap.toSeq.sortBy(_._1))
  } yield m.copy(sections = Some(refs))

  test("decode(encode(m)) == m for flat and sectioned manifests over adversarial names") {
    for (m <- cases(flat, 150) ++ cases(sectioned, 150))
      assert(Manifest.decode(Manifest.encode(m)) == m, Manifest.encode(m))
    val section = for {
      cols <- Gen.listOf(name)
      entries <- Gen.listOf(path).map(_.distinct.sorted)
      rs <- Gen.sequence[Seq[(String, Manifest.Ranges)], (String, Manifest.Ranges)](
        entries.map(e => rangesOver(cols).map(e -> _)))
    } yield rs
    for (s <- cases(section, 150))
      assert(Manifest.decodeSection(Manifest.encodeSection(s)) == s)
    val checkpoint = Gen.listOf(Gen.zip(name, Gen.choose(0L, Long.MaxValue))).map(_.toMap)
    for (c <- cases(checkpoint, 50))
      assert(Manifest.decodeLongs(Manifest.encodeLongs(c)) == c)
  }

  // -- golden manifests from the previous writer -----------------------------

  private val f1 = "11111111-aaaa/part-00000-x.c000.snappy.parquet"
  private val f2 = "11111111-aaaa/part-00001-y.c000.snappy.parquet"
  private val fixtureSchema = StructType(Seq("k" -> LongType, "s" -> StringType, "p" -> StringType)
    .zipWithIndex.map { case ((n, t), i) =>
      StructField(n, t, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", i + 1L).build())
    })

  test("golden: flat manifest with stats, txn, change key and part_col null") {
    val txt = fixture("flat_v0.json")
    val m = Manifest.decode(txt)
    assert(m == Manifest(42L, Some(fixtureSchema), Some(None), Seq("k"), Some("app-1" -> 7L),
      Seq("k", "s"), Seq(f1, f2),
      Map(f1 -> Map("k" -> (1L, 5L),
        "s" -> (SnapshotStore.stringKey("a"), SnapshotStore.stringKey("m"))),
        f2 -> Map("k" -> (-7L, 9L)))))
    assert(Manifest.encode(m) == txt, "re-encoding must reproduce the bytes")
  }

  test("golden: sectioned root manifest and its content-addressed section") {
    val txt = fixture("sectioned_v0.json")
    val ref = "df0d899c9bc875384271403ae5469465.list"
    val m = Manifest.decode(txt)
    assert(m == Manifest(10L, Some(fixtureSchema), Some(Some("p")), statsCols = Seq("k"),
      sections = Some(Seq("__part=3" -> ref))))
    assert(Manifest.encode(m) == txt)
    val body = fixture(ref)
    val g = "22222222-bbbb/__part=3/part-0000"
    val lines = Manifest.decodeSection(body)
    assert(lines == Seq(s"${g}0-z.c000.snappy.parquet" -> Map("k" -> (3L, 30L)),
      s"${g}1-w.c000.snappy.parquet#dv=dv1.parquet" -> Map.empty))
    assert(Manifest.encodeSection(lines) == body, "section identity must survive re-encoding")
  }

  test("golden: legacy shapes — flat single-column stats, no part_col key, no schema") {
    val legacy = fixture("flat_legacy_stats_v0.json")
    val side = Map("stats_col" -> "k")
    val m = Manifest.decode(legacy, side.get)
    assert(m.statsCols == Seq("k"))
    assert(m.ranges == Map(f1 -> Map("k" -> (1L, 5L)), f2 -> Map("k" -> (-7L, 9L))))
    assert(m.files == Seq(f1, f2) && m.txn.contains("app-1" -> 7L))
    // No side file: the flat ranges have no column to bind to.
    val bare = Manifest.decode(legacy)
    assert(bare.statsCols.isEmpty && bare.ranges.isEmpty)
    // stats_cols wins over stats_col; declared columns are comma-separated.
    assert(Manifest.decode(legacy, Map("stats_cols" -> "k, s", "stats_col" -> "x").get)
      .statsCols == Seq("k", "s"))

    val noPc = fixture("no_part_col_v0.json")
    assert(Manifest.decode(noPc).partCol.isEmpty)
    assert(Manifest.decode(noPc, Map("part_col" -> "p\n").get).partCol.contains(Some("p")))
    // A recorded part_col is never overridden by a side file.
    assert(Manifest.decode(fixture("flat_v0.json"), Map("part_col" -> "p").get)
      .partCol.contains(None))

    assert(Manifest.decode(fixture("no_schema_v0.json")) ==
      Manifest(5L, None, Some(None), files = Seq(f1)))
  }

  test("golden: raw control characters in strings and the txn checkpoint") {
    val m = Manifest.decode(fixture("raw_newline_v0.json"))
    assert(m.txn.contains("app\nline" -> 3L))
    assert(m.partCol.contains(Some("p\nq")))
    assert(m.rows == -1L && m.schema.contains(fixtureSchema))
    assert(Manifest.decodeLongs(fixture("txn_checkpoint.json")) ==
      Map("appA" -> 4L, "app\"q\\b" -> 9L))
  }
}
