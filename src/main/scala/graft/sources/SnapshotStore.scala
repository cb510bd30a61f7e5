package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Schemas
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Snapshot-isolated table layout over plain parquet — the transactional
  * core a lakehouse format (Iceberg/Delta) adds on top of a plain
  * hive-partitioned parquet directory, built here from first principles
  * because neither format is on this classpath.
  *
  * The mechanism is the standard one:
  *
  *   - DATA FILES ARE IMMUTABLE. Every write lands under
  *     `table/data/<commitUuid>/…` and is never modified or deleted by a
  *     later commit (until an explicit vacuum).
  *   - A MANIFEST names the exact file set of one table version:
  *     `table/_manifests/v<13-digit>.json` → list of data-file paths
  *     relative to the table root (+ row count for audit, + optional
  *     writer transaction marker, + optional per-file column stats).
  *     [[Manifest]] is its one model and codec; every operation decodes
  *     each version it touches once ([[Snapshot]]) and passes it down.
  *   - COMMIT = create-exclusive of the next manifest. Its bytes are
  *     written to a temporary name, then hard-linked to the version name
  *     (`Manifest.publishVersion`): the link is atomic and exclusive on
  *     POSIX (the put-if-absent object stores / HDFS offer plays the same
  *     role), so a reader never sees a partial manifest, and two racing
  *     writers race for the same version number and exactly one wins.
  *     The loser REBASES automatically when the two write sets are disjoint ([[commitRebasing]] — driver-side manifest
  *     math, the finished data files are reused) and surfaces a
  *     [[SnapshotConflictException]] only on a true intersection
  *     (optimistic concurrency, no locks).
  *   - READ pins a version: list manifests once, take the max (or an
  *     explicit `asOf`), then read ONLY that manifest's files. A reader
  *     never observes a half-written commit — uncommitted data files are
  *     invisible because no manifest names them, and replaced files stay
  *     readable because commits never delete. This is the isolation a
  *     dynamic partition overwrite of plain parquet lacks: a reader
  *     racing it can see a half-replaced partition.
  *   - CDC between versions is a MANIFEST SET DIFF ([[changes]]): the
  *     net row delta v1→v2 is exactly (rows of files added) exceptAll
  *     (rows of files removed) — cost proportional to touched files,
  *     never table size.
  *   - Idempotent writers: a commit may carry a `(appId, batchId)`
  *     transaction marker; [[lastTxn]] lets a restarted streaming writer
  *     skip a batch it already published (the Delta `txn` action).
  *
  * Besides [[overwrite]] and [[append]], which only add files, every
  * writer takes one of three paths, and all three commit through
  * [[commitOn]] (the Delta "remove + add" commit):
  *   - COPY-ON-WRITE ([[rewrite]]): the files under some partition dirs,
  *     or the whole table, are replaced by content computed from exactly
  *     those files — [[merge]] and copy-on-write [[updateWhere]] (SQL
  *     UPDATE and DELETE, Scala [[delete]]);
  *   - DELETION VECTORS ([[updateRows]]): acted rows are masked by
  *     position and their new images appended — SQL MERGE and
  *     deletion-vector [[updateWhere]];
  *   - MAINTENANCE ([[rearrange]]): a victim entry list is rewritten,
  *     sorted or z-ordered, with no row change — [[compact]],
  *     [[optimize]], [[maintain]].
  *
  * Scale posture: a commit writes the NEW data files plus one manifest
  * (KBs–MBs of file names), never rewrites history; a read adds one
  * manifest parse and one stat per candidate file over the plain-parquet
  * cost — the manifest is the listing ([[SnapshotRelation]]), so no
  * directory is listed and no listing job runs.
  * Partition-grained replacement keeps merge cost proportional to touched
  * partitions, same as the non-transactional sink. What a real format
  * adds beyond this core — manifest trees for million-file tables,
  * catalog-level atomicity across tables — is noted in SURVEY §7.4; the
  * isolation/time-travel/conflict/CDC contract is fully here and
  * spec-gated (SnapshotStoreSpec).
  */
object SnapshotStore {

  final class SnapshotConflictException(msg: String) extends RuntimeException(msg)

  /** Above this file count a commit writes the SECTIONED manifest layout
    * (measured: the flat layout is driver-bound at million-file scale —
    * 4.9 s parse, 11 s CDC diff, 95 MB text at 1e6 entries; BASELINE.md
    * round 12, whose probe main is in git history at 7a28436). Sections
    * are partition-grouped, content-addressed files read lazily: a partition-pruned read parses
    * only matching sections, an incremental diff skips identical section
    * refs wholesale, and a commit re-writes only sections whose content
    * changed (Iceberg's manifest-list idea on the same primitives).
    * Package-visible so the spec can gate the layout at small counts.
    */
  private[graft] var sectionThreshold = 50000

  private[graft] val DvDir = "_dv"

  /** A manifest entry is a root-relative data-file path, optionally
    * annotated `path#dv=ref1;ref2` with the deletion-vector files that
    * apply to it (position-delete sidecars under `_dv/`, the Delta-DV /
    * Iceberg-position-delete idea). The annotation is part of the entry
    * STRING, so the manifest set-diff machinery ([[changedFiles]],
    * section content addressing) sees a DV-delete commit as remove(old
    * entry) + add(annotated entry) — CDC and incremental diffs work
    * unchanged, and [[changes]]' exceptAll algebra yields exactly the
    * deleted rows.
    */
  private[graft] def entryPath(e: String): String = {
    val i = e.indexOf("#dv=")
    if (i < 0) e else e.substring(0, i)
  }

  private[graft] def entryDvs(e: String): Seq[String] = {
    val i = e.indexOf("#dv=")
    if (i < 0) Nil
    else e.substring(i + 4).split(';').toSeq.filter(_.nonEmpty)
  }

  private def renderEntry(path: String, dvs: Seq[String]): String =
    if (dvs.isEmpty) path else path + "#dv=" + dvs.mkString(";")

  /** DV-aware scan of manifest entries (each with its recorded ranges)
    * of `s`'s table under `schema` (default: `s`'s, see [[schemaOf]]):
    * plain entries read as one parquet relation over the manifest
    * ([[SnapshotRelation.scan]]: no listing, full pushdown); annotated
    * entries get a second relation masked by [[dvMask]] — the
    * merge-on-read path, which [[compact]] collapses back to plain files.
    * `partCol` is the column whose filters prune partition dirs at
    * planning time (default: the recorded layout). With `rowIds` the
    * result is one masked relation keeping `__file`/`__pos` (see
    * [[positionScan]]).
    */
  private def scanEntries(spark: SparkSession, s: Snapshot,
                          entries: Seq[(String, Manifest.Ranges)],
                          schema: Option[StructType] = None,
                          partCol: Option[String] = None,
                          rowIds: Boolean = false): DataFrame = {
    val st = schema.getOrElse(schemaOf(spark, s.root, s.manifest.schema, s.entries))
    ensureFieldIdRead(spark, Some(st))
    def rel(es: Seq[(String, Manifest.Ranges)]) =
      SnapshotRelation.scan(spark, Paths.get(s.root, "data"), es, st,
        partCol.orElse(s.manifest.layout), s.manifest.statsCols)
    if (rowIds) return dvMask(spark, s.root, withRowId(rel(entries)), entries.map(_._1))
    val (dvE, plainE) = entries.partition(e => entryDvs(e._1).nonEmpty)
    if (dvE.isEmpty) return rel(plainE)
    val masked = dvMask(spark, s.root, withRowId(rel(dvE)), dvE.map(_._1))
      .drop("__file", "__pos")
    if (plainE.isEmpty) masked else rel(plainE).unionByName(masked)
  }

  /** `df`, a scan of data files, with its physical row identity: `__file`,
    * the root-relative path from `_metadata.file_path`'s tail (every
    * component under data/ is writer-controlled, so '/data/' cannot recur
    * inside a path; URI-encoded as that column is, see [[owners]]), and
    * `__pos`, the parquet row index.
    */
  private def withRowId(df: DataFrame): DataFrame =
    df.withColumn("__file", expr("substring_index(_metadata.file_path, '/data/', -1)"))
      .withColumn("__pos", col("_metadata.row_index"))

  /** The entries owning the `__file` row ids `files` (one string column)
    * holds — bounded by the manifest size, never row count. A row id is
    * URI-encoded and an entry is not: a partition dir the writer escaped
    * (`__part=a%3Ab`) reads back as `__part=a%253Ab`, so ids are decoded
    * before matching.
    */
  private def owners(entries: Seq[String], files: DataFrame): Seq[String] = {
    val ids = files.distinct().collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
    entries.filter(e => ids(entryPath(e)))
  }

  /** The deletion-vector mask: rows of `df` (carrying `__file`/`__pos`)
    * whose position no DV sidecar annotating `entries` deletes. A DV pair
    * can only match its own file, so rows of plain files pass untouched.
    * No broadcast hint: the DV relation's size is visible to Catalyst, so
    * the (typically tiny) DV side broadcasts on its own stats and a
    * pathological huge DV still gets a sane shuffled anti-join.
    */
  private def dvMask(spark: SparkSession, root: String, df: DataFrame,
                     entries: Seq[String]): DataFrame = {
    val refs = entries.flatMap(entryDvs).distinct
    if (refs.isEmpty) df
    else df.join(SnapshotRelation.scan(spark, Paths.get(root, DvDir), refs.map(_ -> Map.empty),
        DvSchema, None, Nil).select(col("file").as("__file"), col("pos").as("__pos")),
      Seq("__file", "__pos"), "left_anti")
  }

  /** Columns of a DV sidecar: data file (root-relative) and row index. */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType), StructField("pos", LongType)))

  /** The schema a version is read under: the recorded one, else — a
    * manifest predating schema recording — inferred once from the first
    * of `entries`, as a plain parquet read does without `mergeSchema`.
    */
  private def schemaOf(spark: SparkSession, root: String, recorded: Option[StructType],
                       entries: => Seq[String]): StructType =
    recorded.getOrElse {
      val e = entries.headOption.getOrElse(throw new IllegalStateException(
        s"a version of $root has no files and predates schema recording"))
      new ParquetFileFormat().inferSchema(spark, Map.empty,
        Seq(SnapshotRelation.status(Paths.get(root, "data", entryPath(e))))).get
    }

  /** The schema [[readAt]] serves `s` under: its [[schemaOf]], every
    * column nullable.
    */
  def readSchema(spark: SparkSession, s: Snapshot): StructType =
    Schemas.asNullable(schemaOf(spark, s.root, s.manifest.schema, s.entries))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** All committed versions, ascending (empty for a non-table path). */
  def versions(root: String): Seq[Long] =
    Manifest.versionsIn(Paths.get(root, Manifest.Dir))

  def currentVersion(root: String): Option[Long] = versions(root).lastOption

  /** Per-file per-column [lo,hi] ranges: file → (column → range). */
  private[graft] type FileStats = Manifest.FileStats

  /** One version as a single operation holds it: decoded once, then
    * passed down. A sectioned manifest's entries (and their ranges) are
    * read from its section files on first use, once; partition-pruned
    * reads and incremental diffs bypass that and read only the sections
    * they need.
    */
  final class Snapshot private[SnapshotStore] (val root: String, val version: Long,
                                              val manifest: Manifest) {
    private lazy val sectioned: Seq[(String, Manifest.Ranges)] =
      manifest.sections.toSeq.flatten
        .flatMap { case (_, ref) => Manifest.readSection(root, ref) }.sortBy(_._1)
    lazy val entries: Seq[String] =
      if (manifest.sections.isEmpty) manifest.files else sectioned.map(_._1)
    lazy val ranges: FileStats =
      if (manifest.sections.isEmpty) manifest.ranges
      else sectioned.filter(_._2.nonEmpty).toMap
    def isEmpty: Boolean = manifest.sections.fold(manifest.files.isEmpty)(_.isEmpty)
    /** `es` (entries of this version) paired with their recorded ranges. */
    def ranged(es: Seq[String]): Seq[(String, Manifest.Ranges)] =
      es.map(e => e -> ranges.getOrElse(e, Map.empty))
  }

  /** Decode `version` of the table at `root`. */
  def snapshot(root: String, version: Long): Snapshot =
    new Snapshot(root, version, Manifest.read(root, version))

  private def current(root: String): Option[Snapshot] =
    currentVersion(root).map(snapshot(root, _))

  /** Version `asOf` of the table at `root`, else its current version. */
  def pinned(root: String, asOf: Option[Long]): Snapshot =
    snapshot(root, asOf.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $root")))

  /** Order-preserving 8-byte-prefix key for STRING stats columns. A
    * string column's per-file range is harvested as the encoding of the
    * footer min/max's first 8 UTF-8 bytes (the same truncated-binary-
    * stats idea parquet itself uses), so string predicates prune through
    * the SAME signed-Long range machinery as integral columns — no
    * manifest format change. Truncation only ever widens a file's range
    * (prefixing is weakly monotone in byte order), so pruning stays
    * sound: equal prefixes collapse to equal keys and the file is read,
    * never skipped. Missing bytes pad with 0x00 and the unsigned byte
    * order maps onto signed Long order by flipping the top bit.
    *
    * Probe shapes against a declared string stats column:
    *   - equality / full bounds: `stringKey(s)` on both ends
    *     (`col = s` → `(stringKey(s), stringKey(s))`,
    *     `lo <= col <= hi` → `(stringKey(lo), stringKey(hi))`)
    *   - prefix probe (`col LIKE 'p%'`): [[stringPrefixRange]]
    */
  def stringKey(s: String): Long =
    prefixKey(s.getBytes(StandardCharsets.UTF_8), 0x00)

  /** [lo,hi] key range covering every string that starts with `p` (pads
    * the bytes past the prefix with 0x00 / 0xFF respectively).
    */
  def stringPrefixRange(p: String): (Long, Long) = {
    val b = p.getBytes(StandardCharsets.UTF_8)
    (prefixKey(b, 0x00), prefixKey(b, 0xFF))
  }

  private def prefixKey(bytes: Array[Byte], pad: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < bytes.length) bytes(i) & 0xFF else pad & 0xFF)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** The `__part=<v>` path component Spark's hive layout writes for value
    * `v` — special characters percent-escaped exactly as Spark escapes
    * them at write time, null as the hive default-partition sentinel.
    * Rendering through the SAME escaper the writer uses is what makes the
    * merge/prune path tests sound for string partition values (a space or
    * ':' in the value, or a null, would otherwise silently miss the dir
    * and carry stale files forward).
    */
  private def partDir(value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    // Spark's own rendering (ExternalCatalogUtils.getPartitionPathString)
    // maps BOTH null and the empty string to the hive default-partition
    // sentinel — mirror it fully, or a merge touching a ""-valued
    // partition misses the dir and carries stale files forward.
    if (value == null || value.toString.isEmpty)
      s"__part=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"__part=${ExternalCatalogUtils.escapePathName(value.toString)}"
  }

  /** The `__part=` dir entry `e` lies under ("" when unpartitioned). */
  private def partDirOf(e: String): String =
    entryPath(e).split('/').find(_.startsWith("__part=")).getOrElse("")

  /** The partition column recorded IN version `v`'s manifest:
    * `Some(Some(c))` partitioned, `Some(None)` explicitly unpartitioned,
    * `None` when the manifest predates the embedded record (legacy).
    */
  private[graft] def partColAt(root: String, version: Long): Option[Option[String]] =
    Manifest.read(root, version).partCol

  /** The partition-dir → section-ref map of a sectioned manifest; None
    * for the flat layout.
    */
  private[graft] def sectionsAt(root: String, version: Long): Option[Seq[(String, String)]] =
    Manifest.read(root, version).sections

  /** The table schema recorded at `version` — commits write it so reads
    * are inference-free and SCHEMA EVOLUTION works: a file written before
    * a column existed simply yields nulls for it when scanned under the
    * newer schema (parquet's standard missing-column fill). None only for
    * manifests predating schema recording.
    */
  def schemaAt(root: String, version: Long): Option[org.apache.spark.sql.types.StructType] =
    Manifest.read(root, version).schema

  /** The declared stats columns, as the current manifest records them
    * (order is the [[read]] `keyRange` shorthand's binding: it targets the
    * FIRST declared column).
    */
  def statsCols(root: String): Seq[String] =
    current(root).fold(Seq.empty[String])(_.manifest.statsCols)

  /** One parquet FOOTER read (no data pages; parquet-hadoop ships with
    * Spark): the file's exact row count from its block metadata, and its
    * [lo,hi] per column of `colNames`. Integral-backed types (int/long/
    * date/timestamp/short-decimal) use the footer value directly;
    * STRING/BINARY columns harvest the order-preserving [[stringKey]] of
    * the footer min/max (truncation is a widening, so a parquet-side
    * truncated max stays an upper bound). Columns missing, unsupported,
    * or all-null in the file get no entry — such files are never skipped
    * on that column. `conf` is the caller's one Hadoop conf for a whole
    * commit.
    */
  private def footer(conf: Configuration, abs: Path,
                     colNames: Seq[String]): (Long, Manifest.Ranges) = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(abs.toUri), conf))
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      (r.getRecordCount, colNames.flatMap { colName =>
        val ranges = blocks.flatMap { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == colName).flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (st.genericGetMin, st.genericGetMax) match {
              case (mn: Number, mx: Number) => Some((mn.longValue, mx.longValue))
              case (mn: org.apache.parquet.io.api.Binary,
                    mx: org.apache.parquet.io.api.Binary) =>
                Some((prefixKey(mn.getBytes, 0x00), prefixKey(mx.getBytes, 0x00)))
              case _ => None
            }
          }
        }
        if (ranges.isEmpty) None
        else Some(colName -> (ranges.map(_._1).min, ranges.map(_._2).max))
      }.toMap)
    } finally r.close()
  }

  /** Total row count of the written `files` and their footer ranges on
    * the declared `cols` (files without any range are left out): one
    * footer open per file, the SparkContext's Hadoop conf for all of them.
    */
  private def footers(spark: SparkSession, root: String, cols: Seq[String],
                      files: Seq[String]): (Long, FileStats) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val read = files.map(f => f -> footer(conf, Paths.get(root, "data", f), cols))
    (read.map(_._2._1).sum, read.collect { case (f, (_, r)) if r.nonEmpty => f -> r }.toMap)
  }

  /** Footer ranges of `files` on the declared `cols` (no file is opened
    * when no column is declared).
    */
  private def harvest(spark: SparkSession, root: String, cols: Seq[String],
                      files: Seq[String]): FileStats =
    if (cols.isEmpty) Map.empty else footers(spark, root, cols, files)._2

  /** The manifest-recorded row count of `version` (full snapshots record
    * their exact count; incremental commits record -1 — appends don't
    * re-count history).
    */
  def rowsAt(root: String, version: Long): Long = Manifest.read(root, version).rows

  /** Data-file paths (absolute) of one version. */
  def filesAt(root: String, version: Long): Seq[String] =
    entriesAt(root, version)
      .map(rel => Paths.get(root, "data", entryPath(rel)).toString)

  /** Raw manifest entries of `version` (root-relative, DV annotations
    * intact) — what [[SnapshotRelation]]'s file index plans over.
    */
  private[graft] def entriesAt(root: String, version: Long): Seq[String] =
    snapshot(root, version).entries

  /** The most recent batch id committed by writer `appId` at or before the
    * current version — the restarted-streaming-writer replay guard: a
    * foreachBatch sink skips any batchId <= this (see
    * [[graft.streaming.SnapshotSink]]).
    */
  def lastTxn(root: String, appId: String): Option[Long] = {
    val fromLive = versions(root).reverse.iterator.flatMap { v =>
      Manifest.read(root, v).txn.filter(_._1 == appId).map(_._2)
    }.nextOption()
    // Vacuum may have pruned the manifest that carried this app's latest
    // marker — the checkpoint preserves it (Delta's SetTransaction state),
    // so the exactly-once replay guard survives retention. batchIds are
    // strictly increasing per app, so max is the latest.
    (fromLive.toSeq ++ Manifest.readCheckpoint(root).get(appId).toSeq).maxOption
  }

  /** Write `df` as immutable parquet under a fresh commit dir; return the
    * root-relative file paths. One parquet directory per commit — the
    * files inside get parquet's own part-file names.
    *
    * Partitioned commits write a SHADOW `__part` directory column and keep
    * the user's column in the data files: reads are then plain multi-path
    * scans (no cross-commit partition inference — Spark rejects key=value
    * dirs nested under differing commit uuids), and partition pruning
    * happens at the MANIFEST level ([[read]]'s partValues) — file-list
    * pruning before the scan, the same layer a table format prunes at.
    *
    * Each write task writes one file into every partition it touches, so
    * the frame is sized before the write: it is coalesced (narrow, no
    * shuffle) to ⌈estimated bytes / [[TargetFileBytes]]⌉ tasks, the
    * estimate being the optimized plan's `sizeInBytes`. A 2k-row append
    * then adds one file, not one per slice of its local frame. Three
    * guards write the frame as it comes ([[writeTasks]]):
    *   1. the caller laid it out — under `Project`/`Filter`/
    *      `SubqueryAlias`, the analyzed plan's top is a `Repartition`
    *      (`repartition`/`coalesce`), `RepartitionByExpression`,
    *      `RebalancePartitions` or a `sortWithinPartitions` sort (so
    *      [[rearrange]]'s range-split and sorted files keep their count);
    *   2. the plan may emit more or wider rows than its estimate says:
    *      it holds a `Generate` or `Expand` (row fan-out the estimate does
    *      not scale by), a typed object operator (`map`/`flatMap`/
    *      `mapPartitions`, sized as their input), a Python or R node, or
    *      a UDF (its value sized as its type's default);
    *   3. a leaf's size is not known: every leaf must be a local
    *      relation, a range, a file relation or a cache already
    *      materialized — not an RDD-backed frame (such as a
    *      `foreachBatch` micro-batch), an external relation or a cache
    *      whose size is still its plan's estimate.
    */
  private[graft] def writeDataFiles(df: DataFrame, root: String,
                                    partCol: Option[String]): Seq[String] = {
    val commitId = java.util.UUID.randomUUID().toString
    val dir = Paths.get(root, "data", commitId)
    val sized = writeTasks(df).fold(df)(df.coalesce)
    val w = partCol match {
      case Some(c) => sized.withColumn("__part", col(c)).write.mode("error")
        .partitionBy("__part")
      case None => sized.write.mode("error")
    }
    w.parquet(dir.toString)
    // A write of no rows leaves no file when partitioned but one empty
    // part file when not: drop that one, so an empty commit names none.
    val files = parquetUnder(dir) match {
      case Seq(only) if partCol.isEmpty &&
          footer(df.sparkSession.sparkContext.hadoopConfiguration, only, Nil)._1 == 0 =>
        deleteTree(dir)
        Nil
      case fs => fs
    }
    files.map(p => Paths.get(root, "data").relativize(p).toString)
  }

  /** The bytes of one data file: what a commit's write is sized to
    * ([[writeDataFiles]]) and what OPTIMIZE bins by ([[bins]]) — the
    * standard lakehouse file size.
    */
  private val TargetFileBytes = 128L << 20

  /** The task count [[writeDataFiles]] coalesces `df` to, or None when one
    * of its three guards keeps the frame's own partitioning.
    */
  private def writeTasks(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.catalyst.expressions.{PythonFuncExpression, UserDefinedExpression}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @scala.annotation.tailrec
    def laidOut(p: LogicalPlan): Boolean = p match {
      case _: Project | _: Filter | _: SubqueryAlias => laidOut(p.children.head)
      case _: Repartition | _: RepartitionByExpression | _: RebalancePartitions => true
      case s: Sort => !s.global
      case _ => false
    }
    def opaque(p: LogicalPlan): Boolean = p match {
      case _: Generate | _: Expand | _: ObjectConsumer | _: ObjectProducer => true
      case _ => p.expressions.exists(_.exists {
        case _: UserDefinedExpression | _: PythonFuncExpression => true
        case _ => false
      })
    }
    def sized(leaf: LogicalPlan): Boolean = leaf match {
      case _: LocalRelation | _: Range => true
      case r: LogicalRelation => r.relation.isInstanceOf[HadoopFsRelation]
      case m: InMemoryRelation => m.cacheBuilder.isCachedColumnBuffersLoaded
      case _ => false
    }
    val qe = df.queryExecution
    val plan = qe.optimizedPlan
    if (laidOut(qe.analyzed) || plan.exists(opaque) || !plan.collectLeaves().forall(sized)) None
    else Some(((plan.stats.sizeInBytes + TargetFileBytes - 1) / TargetFileBytes)
      .max(1).min(Int.MaxValue).toInt)
  }

  /** Atomically publish `files` as version `next`. Throws
    * [[SnapshotConflictException]] if another writer committed `next`
    * first — the caller's read-compute-commit cycle must restart from the
    * new current version (its survivor set may be stale).
    */
  private[graft] def commit(root: String, next: Long, files: Seq[String],
                            rows: Long,
                            stats: Option[(Seq[String], FileStats)] = None,
                            txn: Option[(String, Long)] = None,
                            schema: Option[org.apache.spark.sql.types.StructType] = None,
                            partCol: Option[String] = None,
                            changeKey: Option[Seq[String]] = None): Long =
    publish(root, next, Manifest(rows, schema, Some(partCol), changeKey.getOrElse(Nil),
      txn, stats.fold(Seq.empty[String])(_._1), files, stats.fold(Map.empty: FileStats)(_._2)))

  /** Atomic, create-exclusive publish of `m` (flat: `files` + `ranges`)
    * as version `next`, in the sectioned layout at [[sectionThreshold]]
    * files.
    */
  private def publish(root: String, next: Long, m: Manifest): Long = {
    val laidOut =
      if (m.files.length >= sectionThreshold) {
        // Sectioned layout: group by partition dir ("" = unpartitioned),
        // content-address each group. An untouched partition re-renders
        // to the SAME hash → same ref, no write — commit IO is
        // proportional to touched partitions, and incremental diffs skip
        // identical refs wholesale.
        val refs = m.files.groupBy(partDirOf).toSeq.map { case (pd, fs) =>
          val bodyTxt = Manifest.encodeSection(fs.sorted.map(f =>
            f -> (if (m.statsCols.isEmpty) Map.empty[String, (Long, Long)]
                  else m.ranges.getOrElse(f, Map.empty))))
          val ref = md5Hex(bodyTxt) + ".list"
          val sp = Manifest.sectionPath(root, ref)
          // Content-addressed: two writers racing on the same content
          // produce the same bytes, so either move may win.
          if (!Files.exists(sp)) Manifest.replaceFile(sp, bodyTxt.getBytes(StandardCharsets.UTF_8))
          pd -> ref
        }
        m.copy(files = Nil, ranges = Map.empty, sections = Some(refs))
      } else m
    try {
      Manifest.publishVersion(Paths.get(root, Manifest.Dir), next,
        Manifest.encode(laidOut).getBytes(StandardCharsets.UTF_8))
      next
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new SnapshotConflictException(
          s"version $next already committed by a concurrent writer at $root")
    }
  }

  /** How many times an incremental writer rebases onto concurrent commits
    * before giving up (each rebase is driver-side manifest math, no data
    * rewrite — the bound exists only to turn a livelock into an error).
    */
  private val MaxRebases = 20

  /** Optimistic-retry commit — the Delta/Iceberg commit-protocol idea.
    * Publishes `(entries(base) − replaced) ++ added`; when a concurrent
    * writer wins the version race, instead of surfacing the conflict this
    * RE-VALIDATES the write set against the new current version and, if
    * the two commits are disjoint, re-derives the manifest on top of it
    * (a rebase: driver-side set math only — the already-written data
    * files are untouched). On a 1000-writer cluster this is the
    * difference between "concurrent ingest works" and "every collision
    * aborts a task's finished work".
    *
    * Rebase is REFUSED (the conflict propagates) when the concurrent
    * commit actually intersects this one:
    *   - any `replaced` entry is gone from the current manifest — the
    *     files this commit rewrites were themselves rewritten (write-write
    *     overlap: racing merges/deletes/compactions of the same rows);
    *   - `conflictOnAddsIn = Some(dirs)` and a concurrent commit ADDED
    *     files under a touched partition dir — a read-modify-write whose
    *     row-level outcome (e.g. merge key uniqueness within the
    *     partition) assumed it saw the whole partition;
    *   - `conflictOnAddsIn = None` (whole-table write set, e.g. an
    *     unpartitioned delete) and the concurrent commit added anything;
    *   - the table schema changed between `base` and current.
    *
    * `conflictOnAddsIn = Some(Set.empty)` declares a write with no
    * partition-level read set: a blind append (pure addition) or a
    * compaction (row movement only) — these rebase over concurrent
    * appends anywhere and conflict only through the `replaced` rule.
    *
    * Isolation level, stated honestly: this is write-serializable, not
    * strictly serializable — a delete/merge serializes AT ITS SNAPSHOT, so
    * rows appended concurrently to partitions it did not rewrite are not
    * re-scanned (the outcome equals "delete, then append"), the same
    * WriteSerializable default Delta documents.
    */
  private[graft] def commitRebasing(root: String, base: Long,
      replaced: Seq[String], added: Seq[String],
      conflictOnAddsIn: Option[Set[String]],
      rows: Long,
      freshStats: Option[(Seq[String], FileStats)],
      txn: Option[(String, Long)],
      schema: Option[org.apache.spark.sql.types.StructType],
      partCol: Option[String] = None,
      changeKey: Option[Seq[String]] = None): Long =
    rebase(root, Option.when(base >= 0)(snapshot(root, base)), replaced, added,
      conflictOnAddsIn, freshStats.fold(Map.empty: FileStats)(_._2),
      Manifest(rows, schema, Some(partCol), changeKey.getOrElse(Nil), txn,
        freshStats.fold(Seq.empty[String])(_._1)))

  /** [[commitRebasing]] over a decoded base (None for a table with no
    * version yet). `next` carries the new commit's metadata;
    * its entries are derived here, its ranges are the kept base ranges
    * plus `fresh` (when it declares stats columns).
    */
  private def rebase(root: String, base: Option[Snapshot],
                     replaced: Seq[String], added: Seq[String],
                     conflictOnAddsIn: Option[Set[String]],
                     fresh: FileStats, next: Manifest): Long = {
    val replacedSet = replaced.toSet
    // The layout this write's files were produced against: what the base
    // manifest recorded (authoritative), or the caller's declaration for
    // writers on legacy/fresh tables.
    val writeLayout: Option[Option[String]] =
      base.flatMap(_.manifest.partCol)
        .orElse(Some(next.layout).filter(_.isDefined))
    var b = base
    var attempts = 0
    while (true) {
      val baseEntries = b.fold(Seq.empty[String])(_.entries)
      val kept = baseEntries.filterNot(replacedSet)
      val keptSet = kept.toSet
      val ranges =
        if (next.statsCols.isEmpty) Map.empty: FileStats
        else b.fold(Map.empty: FileStats)(_.ranges.filter { case (k, _) => keptSet(k) }) ++ fresh
      try return publish(root, b.fold(0L)(_.version + 1),
        next.copy(files = kept ++ added, ranges = ranges))
      catch {
        case conflict: SnapshotConflictException =>
          attempts += 1
          val cur = current(root).getOrElse(throw conflict)
          // Layout guard: a concurrent overwrite that re-partitioned the
          // table invalidates this write's file layout wholesale — the
          // files were already laid out under the scheme the BASE version
          // recorded, so rebasing them onto a re-layouted current would
          // commit a mixed-layout table. Compares base layout vs current
          // layout (both manifest-recorded); legacy manifests without the
          // record skip the guard (side-file world, best effort).
          for {
            was <- writeLayout
            now <- cur.manifest.partCol
            if was != now
          } throw new SnapshotConflictException(
            s"concurrent commit re-layouted $root (partition column now " +
              s"${now.getOrElse("<none>")}, this write laid out " +
              s"${was.getOrElse("<none>")}); retry against the new layout")
          if (attempts > MaxRebases || cur.version <= b.fold(-1L)(_.version)) throw conflict
          // Name+type+order equality: nullability differs legitimately
          // between a Seq-built frame (primitives non-null) and the same
          // table re-read from parquet (everything nullable) — only a real
          // column change is a conflict.
          def shape(s: Option[org.apache.spark.sql.types.StructType]) =
            s.map(_.fields.toSeq.map(f => (f.name, f.dataType)))
          if (shape(cur.manifest.schema) != shape(b.fold(next.schema)(_.manifest.schema)))
            throw new SnapshotConflictException(
              s"concurrent schema change at $root: this commit derives from " +
                s"version ${b.fold(-1L)(_.version)}'s schema; rebase abandoned")
          val curEntries = cur.entries
          val curSet = curEntries.toSet
          val missing = replaced.filterNot(curSet)
          if (missing.nonEmpty) throw new SnapshotConflictException(
            s"write-write conflict at $root: ${missing.size} file(s) this " +
              s"commit rewrites were changed by a concurrent commit " +
              s"(e.g. ${missing.head})")
          val concurrentAdds = curEntries.filterNot(baseEntries.toSet)
          conflictOnAddsIn match {
            case None if concurrentAdds.nonEmpty =>
              throw new SnapshotConflictException(
                s"whole-table write at $root conflicts with " +
                  s"${concurrentAdds.size} concurrently added file(s)")
            case Some(dirs) =>
              val clash = concurrentAdds.filter(e => dirs(partDirOf(e)))
              if (clash.nonEmpty) throw new SnapshotConflictException(
                s"concurrent commit added files under a partition this " +
                  s"commit rewrites at $root (e.g. ${clash.head})")
            case _ => ()
          }
          b = Some(cur) // disjoint: rebase this write set onto the new current
      }
    }
    -1L // unreachable
  }

  /** The common incremental commit on top of `base`: rows -1, the base's
    * declared stats columns carried, `added`'s ranges harvested from
    * their footers unless `fresh` gives them.
    */
  private def commitOn(spark: SparkSession, base: Snapshot,
                       replaced: Seq[String], added: Seq[String],
                       conflictOnAddsIn: Option[Set[String]],
                       txn: Option[(String, Long)],
                       schema: Option[org.apache.spark.sql.types.StructType],
                       layout: Option[String], changeKey: Seq[String] = Nil,
                       fresh: Option[FileStats] = None): Long = {
    val cols = base.manifest.statsCols
    rebase(base.root, Some(base), replaced, added, conflictOnAddsIn,
      fresh.getOrElse(harvest(spark, base.root, cols, added)),
      Manifest(-1L, schema, Some(layout), changeKey, txn, cols))
  }

  // -- Column identity (schema evolution beyond add-column) ------------------
  //
  // Every column gets a STABLE numeric id, recorded as `parquet.field.id`
  // field metadata in the manifest schema AND written into the parquet
  // footers (Spark's own field-id write path, on by default). With the
  // session's field-id READ path enabled, a schema'd scan matches columns
  // by id first — so RENAME is a metadata-only commit (old files resolve
  // the renamed column by id; no rewrite), DROP hides the column from the
  // recorded schema (old versions still time-travel to it), and a
  // re-added name gets a FRESH id so dropped data never resurrects.
  // Ids are assigned at overwrite/create; appends carry them; evolved
  // (added) columns allocate past the max id any RETAINED version ever
  // recorded. (After a drop + full history vacuum + same-name re-add, the
  // high-water mark is forgotten with the history — the documented bound,
  // same reason the lakehouse formats persist their counter in protocol
  // metadata.)

  private val FieldIdKey = "parquet.field.id"

  private[graft] def fieldIdsOf(schema: org.apache.spark.sql.types.StructType): Map[String, Long] =
    schema.fields.iterator
      .filter(_.metadata.contains(FieldIdKey))
      .map(f => f.name -> f.metadata.getLong(FieldIdKey)).toMap

  private def withId(f: org.apache.spark.sql.types.StructField, id: Long) =
    f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
      .withMetadata(f.metadata).putLong(FieldIdKey, id).build())

  /** First id no retained version has ever used (never reuse a dropped
    * column's id — reuse would resurrect its bytes from old files).
    */
  private def nextColId(root: String, cur: Option[Snapshot]): Long = {
    val used = versions(root)
      .flatMap(v => cur.filter(_.version == v).fold(Manifest.read(root, v))(_.manifest).schema)
      .flatMap(s => fieldIdsOf(s).values)
    if (used.isEmpty) 1L else used.max + 1L
  }

  /** Stamp `df`'s columns with the table's column identity: existing
    * columns keep their recorded id (identity survives an overwrite —
    * it replaces CONTENT, not the columns' meaning), new names allocate
    * fresh ids. The metadata rides the frame into the parquet writer
    * (footers get field ids) and into the committed schema.
    */
  private def stampFieldIds(root: String, cur: Option[Snapshot], df: DataFrame): DataFrame = {
    val existing = cur.flatMap(_.manifest.schema).map(fieldIdsOf).getOrElse(Map.empty)
    var next = nextColId(root, cur)
    val cols = df.schema.fields.map { f =>
      val id = existing.getOrElse(f.name, { val n = next; next += 1; n })
      col(f.name).as(f.name, withId(f, id).metadata)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Field-id column resolution is a READ-side session conf that defaults
    * off; without it a renamed column silently reads as null from
    * pre-rename files. Assert it whenever the schema being served carries
    * ids (harmless otherwise; schemas without ids keep name matching).
    */
  private def ensureFieldIdRead(spark: SparkSession,
                                schema: Option[org.apache.spark.sql.types.StructType]): Unit =
    if (schema.exists(s => fieldIdsOf(s).nonEmpty))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** One metadata-only schema evolution step — the ALTER TABLE algebra.
    * Steps compose: [[alterColumns]] applies a whole statement's list
    * against one evolving schema and publishes ONE commit, so a refused
    * later step leaves the table at its pre-statement version (atomic
    * ALTER, per ADVICE r14 — the per-step-commit shape left a multi-change
    * statement half-applied on failure).
    */
  sealed trait ColumnChange
  object ColumnChange {
    case class Rename(from: String, to: String) extends ColumnChange
    case class Drop(name: String) extends ColumnChange
    case class Add(name: String,
                   dataType: org.apache.spark.sql.types.DataType) extends ColumnChange
    case class Widen(name: String,
                     to: org.apache.spark.sql.types.DataType) extends ColumnChange
  }

  /** Apply `steps` in order against the current schema and publish the
    * result as ONE metadata-only commit (same file list, same stats). All
    * validation runs before anything is written: any refused step aborts
    * the whole statement with the table untouched. Returns the current
    * version unchanged for an empty list.
    *
    * Step semantics (each refuses loudly outside its contract):
    *   - Rename: by stable field id, no rewrite — refuses on tables
    *     predating column identity (old files would read null under the
    *     new name) and on declared stats columns (per-file ranges are
    *     keyed by name). Renaming the partition column renames the layout
    *     record with it.
    *   - Drop: the recorded schema loses the field; no file is touched,
    *     old versions still serve it, and a later same-name Add gets a
    *     fresh id so dropped bytes never resurrect. Refuses on the
    *     partition column (a re-layout = overwrite) and stats columns.
    *   - Add: nullable field, fresh id; files written before it scan as
    *     null — the append(evolveSchema = true) contract, without data.
    *   - Widen: int→long / float→double class upcasts only (the set old
    *     parquet files provably serve); refuses on the partition column.
    */
  def alterColumns(root: String, steps: Seq[ColumnChange]): Long = {
    val base = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot at $root"))
    if (steps.isEmpty) return base.version
    var schema = base.manifest.schema.getOrElse(throw new IllegalStateException(
      s"$root predates schema recording; overwrite() it first"))
    var pc = base.manifest.layout
    val stats = base.manifest.statsCols
    // Fresh ids allocate cumulatively across the statement's Adds, past
    // every id any retained version ever recorded.
    var nextId = nextColId(root, Some(base))
    var changed = false
    steps.foreach {
      case ColumnChange.Rename(from, to) =>
        require(schema.fieldNames.contains(from), s"no column '$from' at $root")
        require(!schema.fieldNames.contains(to),
          s"column '$to' already exists at $root")
        require(fieldIdsOf(schema).contains(from),
          s"table at $root predates column identity; rewrite it once with " +
            "SnapshotStore.overwrite to assign field ids, then rename")
        require(!stats.contains(from),
          s"'$from' is a declared stats column; its per-file ranges are keyed " +
            "by name — compact/overwrite to re-declare stats before renaming")
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
        pc = pc.map(c => if (c == from) to else c)
        changed = true
      case ColumnChange.Drop(name) =>
        require(schema.fieldNames.contains(name), s"no column '$name' at $root")
        require(schema.fields.length > 1, s"cannot drop the only column of $root")
        require(!pc.contains(name),
          s"'$name' is the partition column; dropping it is a re-layout — " +
            "use overwrite() with a new layout")
        require(!stats.contains(name),
          s"'$name' is a declared stats column; re-declare stats first")
        schema = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(_.name == name))
        changed = true
      case ColumnChange.Add(name, dataType) =>
        require(!schema.fieldNames.contains(name),
          s"column '$name' already exists")
        val f = org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true)
        val stamped = if (fieldIdsOf(schema).isEmpty) f
          else { val id = nextId; nextId += 1; withId(f, id) }
        schema = schema.add(stamped)
        changed = true
      case ColumnChange.Widen(name, to) =>
        val f = schema.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(s"no column '$name' at $root"))
        if (f.dataType != to) {
          require(Widenings((f.dataType, to)),
            s"cannot widen '$name' from ${f.dataType.simpleString} to " +
              s"${to.simpleString}: not a parquet-readable upcast " +
              s"(supported: byte/short/int→wider integral, float→double)")
          require(!pc.contains(name),
            s"'$name' is the partition column; widening it would re-render " +
              "partition dirs — re-layout with overwrite() instead")
          schema = org.apache.spark.sql.types.StructType(
            schema.fields.map(x => if (x.name == name) x.copy(dataType = to)
              else x))
          changed = true
        }
    }
    if (!changed) return base.version // all steps idempotent no-ops
    rebase(root, Some(base), Nil, Nil, Some(Set.empty), Map.empty,
      Manifest(base.manifest.rows, Some(schema), Some(pc), statsCols = stats))
  }

  /** RENAME COLUMN as a metadata-only commit — see [[alterColumns]]. */
  def renameColumn(root: String, from: String, to: String): Long =
    alterColumns(root, Seq(ColumnChange.Rename(from, to)))

  /** DROP COLUMN as a metadata-only commit — see [[alterColumns]]. */
  def dropColumn(root: String, name: String): Long =
    alterColumns(root, Seq(ColumnChange.Drop(name)))

  /** ADD COLUMN as a metadata-only commit — see [[alterColumns]]. */
  def addColumn(root: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Long =
    alterColumns(root, Seq(ColumnChange.Add(name, dataType)))

  /** The widenings the metadata-only path supports: exactly the upcasts
    * Spark's own parquet readers perform when the requested type is wider
    * than the file's physical type (vectorized updater support, spec-
    * proven in SnapshotStoreSpec — a pair outside this set would make old
    * files UNREADABLE under the new schema, so anything else refuses).
    */
  private val Widenings: Set[(org.apache.spark.sql.types.DataType,
                              org.apache.spark.sql.types.DataType)] = {
    import org.apache.spark.sql.types._
    Set(
      (ByteType, ShortType), (ByteType, IntegerType), (ByteType, LongType),
      (ShortType, IntegerType), (ShortType, LongType),
      (IntegerType, LongType),
      (FloatType, DoubleType))
  }

  /** WIDEN a column's type as a metadata-only commit (int → long,
    * float → double, …): same file list, same stats; files written with
    * the narrower physical type read under the wider requested schema
    * through Spark's own parquet upcast path, and every future commit
    * conforms (casts) incoming frames to the widened type. Outside the
    * proven-readable set, refuses loudly — a widening that old files
    * cannot serve would be silent table corruption, not evolution.
    * Idempotent no-op when the column already has the target type.
    * See [[alterColumns]] for the multi-step atomic form.
    */
  def widenColumn(root: String, name: String,
                  to: org.apache.spark.sql.types.DataType): Long =
    alterColumns(root, Seq(ColumnChange.Widen(name, to)))

  /** Create the table (or replace its content wholesale) with a new
    * snapshot. Returns the committed version. `declareStatsCols` declares
    * the columns whose per-file [min,max] every commit harvests from
    * parquet footers (the file-skipping layer) — integral-backed types
    * directly, strings via the order-preserving [[stringKey]] prefix
    * encoding; `declareStatsCol` is the single-column convenience form.
    */
  def overwrite(df: DataFrame, root: String,
                partCol: Option[String] = None,
                declareStatsCol: Option[String] = None,
                declareStatsCols: Seq[String] = Nil,
                txn: Option[(String, Long)] = None): Long = {
    val declared = (declareStatsCols ++ declareStatsCol.toSeq).distinct
    val vs = versions(root)
    val cur = vs.lastOption.map(snapshot(root, _))
    // Declared stats columns ride the manifest like the layout record:
    // this commit's declaration, else the current one carried forward.
    val statsCols = if (declared.nonEmpty) declared
      else cur.fold(Seq.empty[String])(_.manifest.statsCols)
    // The partition column is table METADATA from this commit on (the SQL
    // catalog's INSERT path needs it to reproduce the layout). It rides
    // INSIDE the atomically-published manifest — a failed overwrite
    // leaves no layout record pointing at content it never replaced, and
    // a concurrent append can never observe the new record against the
    // old file list (the r12 side-file ordering hazard).
    // Column identity: stamp stable field ids (existing names keep their
    // recorded id, new names allocate) — the footers get them via Spark's
    // field-id write path, the manifest schema records them, and rename/
    // drop evolution becomes metadata-only from this commit on.
    // Content streams STRAIGHT into the commit's parquet data files — ONE
    // plan execution, no block-store staging. The manifest's exact row
    // count comes from the written files' parquet FOOTERS (metadata-only
    // reads, same layer harvest reads), so count and write agree by
    // construction even for non-deterministic sources. (Pinning the
    // content in the block store for a second count() would hold rows at
    // ~3x data size — r13 forensics — so a 100 TB initial load would OOM
    // the block store before the write finished.)
    val stamped = stampFieldIds(root, cur, df)
    val files = writeDataFiles(stamped, root, partCol)
    val (rows, ranges) = footers(df.sparkSession, root, statsCols, files)
    val v = publish(root, vs.lastOption.getOrElse(-1L) + 1,
      Manifest(rows, Some(stamped.schema), Some(partCol), txn = txn, statsCols = statsCols,
        files = files, ranges = ranges))
    // The manifest record is authoritative; the `stats_cols` side file is
    // only a mirror for readers that predate the record, written after
    // the commit it describes. A legacy `part_col` side file is shadowed
    // by the record: drop it so external inspection can't read a
    // contradicting layout.
    if (declared.nonEmpty)
      Files.write(Paths.get(root, Manifest.Dir, "stats_cols"),
        declared.mkString(",").getBytes(StandardCharsets.UTF_8))
    Files.deleteIfExists(Paths.get(root, Manifest.Dir, "part_col"))
    v
  }

  /** The table's recorded partition column, if any: the CURRENT
    * manifest's embedded `part_col` record (committed atomically with the
    * file list it describes), or for manifests predating the record the
    * legacy `part_col` side file. Absent on unpartitioned tables and on
    * pre-record tables without a side file.
    */
  def partColOf(root: String): Option[String] = current(root).flatMap(_.manifest.layout)

  /** Fail loudly when `base` records a partition column other than `c`
    * (one table, one layout — a second partition column would silently
    * break the per-partition cost model of merge/compact and the SQL
    * INSERT path). The commit that follows records `c`.
    */
  private def requireLayout(base: Snapshot, c: String): Unit =
    base.manifest.layout.foreach { prev =>
      require(prev == c, s"table at ${base.root} is partitioned by '$prev'; " +
        s"a write partitioned by '$c' would mix layouts (overwrite() re-layouts a table)")
    }

  /** Append-only commit: previous snapshot's files plus the new ones.
    * (rows = -1: the manifest's row count is audit metadata for full
    * snapshots; incremental commits don't re-count history.)
    *
    * `evolveSchema = true` allows the commit to ADD columns (Delta-style
    * add-column evolution): the new columns append to the recorded table
    * schema, and files written before the column existed read as null
    * for it — no rewrite of history. Dropping or missing columns always
    * fails loudly.
    */
  def append(df: DataFrame, root: String,
             partCol: Option[String] = None,
             txn: Option[(String, Long)] = None,
             evolveSchema: Boolean = false): Long = {
    val base = current(root)
    val tableSchema = base.map(b =>
      schemaOf(df.sparkSession, root, b.manifest.schema, b.entries))
    val conformed0 = tableSchema.fold(df)(st => conform(df, st, evolveSchema))
    // Evolved (added) columns join the table's column identity with fresh
    // ids — allocated past every id any retained version used, so a
    // re-added name can never resurrect a dropped column's bytes.
    val conformed = {
      val known = tableSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
      val extras = conformed0.schema.fields.filterNot(f => known(f.name))
      if (extras.isEmpty || tableSchema.forall(fieldIdsOf(_).isEmpty)) conformed0
      else {
        var next = nextColId(root, base)
        conformed0.select(conformed0.schema.fields.map { f =>
          if (known(f.name)) col(f.name)
          else { val id = next; next += 1; col(f.name).as(f.name, withId(f, id).metadata) }
        }.toIndexedSeq: _*)
      }
    }
    // Default to the table's recorded layout so callers that don't thread
    // the partition column (the SQL INSERT path) still append partitioned
    // files; an explicit partCol must agree with the record.
    val pc = partCol.orElse(base.flatMap(_.manifest.layout))
    for (b <- base; c <- pc) requireLayout(b, c)
    val files = writeDataFiles(conformed, root, pc)
    val statsCols = base.fold(Seq.empty[String])(_.manifest.statsCols)
    // Blind append: no partition-level read set, so it rebases over ANY
    // concurrent commit (Delta's append-never-conflicts rule) — only a
    // concurrent schema change aborts it.
    rebase(root, base, Nil, files, Some(Set.empty),
      harvest(df.sparkSession, root, statsCols, files),
      Manifest(-1L, Some(conformed.schema), Some(pc), txn = txn, statsCols = statsCols))
  }

  /** Cast `df` to the table's column set and types — every commit must
    * write type-identical parquet, or a later multi-file scan hits footer
    * disagreements (int32 base vs int64 update was the concrete failure:
    * a Scala literal's Long next to a parquet int column). Missing
    * columns always fail; extra columns fail unless `evolve` (append's
    * evolveSchema) admits them as NEW table columns after the existing
    * ones.
    */
  private def conform(df: DataFrame, schema: org.apache.spark.sql.types.StructType,
                      evolve: Boolean = false): DataFrame = {
    val have = df.columns.toSet
    val missing = schema.fieldNames.filterNot(have)
    require(missing.isEmpty,
      s"commit is missing table columns: ${missing.mkString(",")}")
    val extra = df.columns.filterNot(schema.fieldNames.toSet)
    require(evolve || extra.isEmpty,
      s"commit adds new columns ${extra.mkString(",")}; " +
        "pass evolveSchema=true to evolve the table schema")
    // The alias re-attaches each table field's metadata — the column
    // identity (parquet.field.id) must ride every commit's frame into the
    // parquet footers, or rename-by-id stops resolving in the new files.
    df.select(schema.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name, f.metadata))
      .toIndexedSeq ++ extra.map(col): _*)
  }

  /** MERGE-style keyed upsert with SNAPSHOT ISOLATION: the update rows
    * replace the rows with the same `keyCol` inside the partitions the
    * updates name, and new keys are inserted there. Cost is proportional
    * to the touched partitions: only their files are read back and
    * rewritten, and every other partition's entries carry forward as the
    * same files.
    *
    * CONTRACT: a key may NOT change partition. Old rows are replaced only
    * within the updates' partition values, so an update whose key lives
    * in a DIFFERENT partition leaves the old row in place and the key
    * ends up in both. Handling that would take a key scan of the whole
    * table; a partitioned upsert does not need it when the partition
    * value is part of the key's identity (date or region dims).
    *
    * The commit swaps the affected partitions' files for rewritten ones in ONE
    * atomic manifest publish: a concurrent reader holds either the old
    * version (all old files, still on disk) or the new one — never a mix.
    * A concurrent WRITER that committed first invalidates this merge's
    * survivor set: the conflict surfaces as [[SnapshotConflictException]]
    * and the whole read-compute-commit cycle must be retried on the new
    * snapshot.
    *
    * Partition values are matched against the hive dir rendering through
    * Spark's own path escaper ([[partDir]]), so string values with
    * special characters and nulls replace correctly. Timestamp partition
    * columns are rejected: their dir rendering is session-zone-dependent
    * and a silent mismatch would duplicate rows.
    */
  def merge(spark: SparkSession, root: String, updates: DataFrame,
            keyCol: String, partCol: String,
            txn: Option[(String, Long)] = None): Long = {
    require(!updates.schema(partCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.TimestampType],
      s"merge partCol '$partCol' is a timestamp: its hive dir rendering " +
        "is timezone-dependent; partition by a date or string rendering instead")
    val base = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to merge into at $root"))
    requireLayout(base, partCol)
    // The affected partitions are the hive dirs the updates' partition
    // values render to (the writer's own escaping). The upsert's key
    // uniqueness read them, so a concurrent commit that rewrote OR
    // appended into them conflicts. Updates the optimizer folds to a
    // driver-local relation (a `Seq.toDF` frame) collect without a job,
    // and their distinct values are taken here; others run one.
    val values = updates.select(col(partCol))
    val local = values.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val dirs = (if (local) values else values.distinct())
      .collect().map(r => partDir(r.get(0))).toSet
    rewrite(spark, base, "merge", Some(dirs), Some(partCol), txn, Seq(keyCol)) { replaced =>
      val target = scanEntries(spark, base, replaced)
      target.join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
        .unionByName(conform(updates, target.schema))
    }
  }

  /** The copy-on-write rewrite behind [[merge]] and [[updateWhere]]:
    * replace the entries of `base` under the partition
    * dirs `dirs` (None: every entry) with the files `content` writes.
    * `content` gets exactly the replaced entries, with their ranges, so
    * the rows rewritten are by construction the rows the commit removes.
    *
    * The content conforms to the table schema and streams STRAIGHT into
    * the commit's data files: one plan execution, no block-store staging
    * (block-store rows are ~3x data size, r13 forensics). The data files
    * are the durable staging; a rebase retry is manifest math over them.
    * `dirs` is the write set for rebase ([[commitRebasing]]): a
    * concurrent commit that touched those partitions conflicts, one
    * elsewhere rebases; with None, any concurrent addition conflicts.
    *
    * A partition-scoped rewrite needs every file under a partition dir
    * and a recorded `layout`; a partitioned table whose layout was never
    * recorded refuses any rewrite (unpartitioned files next to hive dirs
    * would silently break the per-partition cost model). Replacing
    * nothing with nothing publishes nothing unless a txn marker must be
    * recorded.
    */
  private def rewrite(spark: SparkSession, base: Snapshot, what: String,
                      dirs: Option[Set[String]], layout: Option[String],
                      txn: Option[(String, Long)] = None, changeKey: Seq[String] = Nil)
                     (content: Seq[(String, Manifest.Ranges)] => DataFrame): Long = {
    val partitioned = base.entries.count(partDirOf(_).nonEmpty)
    require(if (layout.isEmpty) dirs.isEmpty && partitioned == 0
            else dirs.isEmpty || partitioned == base.entries.size,
      s"$what needs a partitioned base snapshot with a recorded layout at ${base.root} " +
        s"(write it with overwrite(df, root, Some(\"${layout.getOrElse("<column>")}\")))")
    val replaced = dirs.fold(base.entries)(ds => base.entries.filter(e => ds(partDirOf(e))))
    val schema = schemaOf(spark, base.root, base.manifest.schema, base.entries)
    val added = writeDataFiles(conform(content(base.ranged(replaced)), schema), base.root, layout)
    if (replaced.isEmpty && added.isEmpty && txn.isEmpty) base.version
    else commitOn(spark, base, replaced, added, dirs, txn, Some(schema), layout, changeKey)
  }

  /** Whether a row-level DELETE or UPDATE whose predicate references the
    * columns `refs` rewrites copy-on-write rather than masking rows with
    * deletion vectors: when the predicate references nothing, or only
    * the partition column `partCol`, it selects whole partitions, so the
    * rewrite costs the same write and leaves no DV debt for reads to pay.
    */
  def copyOnWrite(refs: Set[String], partCol: Option[String]): Boolean =
    refs.subsetOf(partCol.toSet)

  /** Row-level DELETE with snapshot isolation — the GDPR/right-to-be-
    * forgotten primitive a training-data table needs as a first-class
    * transactional call, not a manual read-filter-overwrite dance.
    * Removes every row of the current version where `predicate` is TRUE
    * ([[updateWhere]] with nothing assigned).
    *
    * With `deletionVectors` the matched rows are masked by position
    * instead of rewriting their partitions: no data file is written, one
    * small sidecar under `_dv/` is, so cost is ∝ MATCHING rows — the
    * shape for deleting one user's rows scattered across the table. Reads
    * apply the mask until a [[compact]] or [[maintain]].
    *
    * The removal is CDC-visible: [[changes]] across the delete commit
    * yields exactly the deleted rows as `_change_type='delete'`. The old
    * version's files stay on disk until [[vacuum]]'s retention passes —
    * time travel still sees the deleted rows, so TRUE erasure is
    * delete + vacuum(0 retained history), the same two-step Delta
    * documents for GDPR.
    */
  def delete(spark: SparkSession, root: String, predicate: Column,
             partCol: Option[String] = None,
             deletionVectors: Boolean = false): Long =
    updateWhere(spark, current(root).getOrElse(
        throw new IllegalStateException(s"no snapshot to delete from at $root")),
      predicate, None, partCol, copyOnWrite = !deletionVectors)

  /** Row-level UPDATE (`set` = new values by column name) or DELETE
    * (`set` = None) of the rows of `base` where `predicate` is TRUE (NULL
    * leaves the row alone, the SQL contract) — one atomic commit, rebased
    * over concurrent commits elsewhere. Both modes commit the Delta
    * "remove + add":
    *
    *   - COPY-ON-WRITE: with `partCol`, only the partitions that CONTAIN
    *     matching rows are rewritten, from exactly their files (cost ∝
    *     touched partitions; every other file carries forward verbatim,
    *     and a concurrent commit into a rewritten partition conflicts);
    *     without it the whole table rewrites, keeping the recorded layout.
    *     Assignments may move rows across partitions.
    *   - DELETION VECTORS: the matched rows' positions are masked by one
    *     sidecar and their updated images appended ([[updateRows]]), cost
    *     ∝ matching rows; base data files are not rewritten.
    *
    * A predicate matching nothing publishes nothing and returns the base
    * version. A delete matching everything publishes a zero-file
    * manifest, which [[read]] serves as a schema'd empty frame.
    */
  def updateWhere(spark: SparkSession, base: Snapshot, predicate: Column,
                  set: Option[Map[String, Column]],
                  partCol: Option[String], copyOnWrite: Boolean): Long = {
    val hit = coalesce(predicate, lit(false))
    val vs = set.getOrElse(Map.empty[String, Column])
    val cols = schemaOf(spark, base.root, base.manifest.schema, base.entries).fieldNames.toSeq
    require(vs.keySet.subsetOf(cols.toSet),
      s"update at ${base.root} assigns unknown columns ${(vs.keySet -- cols).mkString(", ")}")
    if (!copyOnWrite) {
      require(!cols.exists(Set("__file", "__pos", "__keep")),
        s"deletion vectors at ${base.root} reserve the column names __file, __pos, __keep")
      // The position scan already drops rows earlier DVs deleted, so
      // re-deleting a dead row is a no-op, not a duplicate position.
      return updateOn(spark, base, positionScanOf(spark, base).filter(hit)
        .withColumns(vs + ("__keep" -> lit(set.isDefined))), "__keep")
    }
    val target = readAt(spark, base)
    val dirs = partCol.map(pc => target.filter(predicate).select(col(pc)).distinct()
      .collect().map(r => partDir(r.get(0))).toSet)
    if (dirs.fold(target.filter(predicate).isEmpty)(_.isEmpty)) return base.version
    // A whole-table rewrite keeps the recorded layout: rows land back
    // under the partition scheme they came from.
    rewrite(spark, base, set.fold("delete")(_ => "update"), dirs,
        partCol.orElse(base.manifest.layout)) { es =>
      val replaced = scanEntries(spark, base, es)
      if (set.isEmpty) replaced.filter(!hit)
      else replaced.select(cols.map(c => vs.get(c).fold(col(c))(when(hit, _).otherwise(col(c))).as(c)): _*)
    }
  }

  /** The LIVE rows of `version` with their physical row identity: every
    * table column plus `__file` (root-relative data path) and `__pos`
    * (parquet row index); rows existing DVs already deleted are excluded.
    * Because data files are immutable, (`__file`, `__pos`) is a STABLE,
    * content-independent row identity — row-level DML uses it both as the
    * deletion-vector write target and as a deterministic ANSI-cardinality
    * key (safe under stage retry, unlike monotonically_increasing_id).
    * Predicates a caller applies on table columns push down through the
    * DV anti-join into the parquet scan as usual.
    */
  def positionScan(spark: SparkSession, root: String, version: Long): DataFrame =
    positionScanOf(spark, snapshot(root, version))

  private def positionScanOf(spark: SparkSession, s: Snapshot): DataFrame =
    scanEntries(spark, s, s.ranged(s.entries), rowIds = true)

  /** Merge-on-read row-level UPDATE / MERGE / DELETE commit — the
    * deletion-vector twin of [[rewrite]], cost ∝ ACTED rows, never
    * touched-partition bytes. Atomically, in ONE manifest publish:
    *
    *   1. the rows of `acted` (table columns plus `__file`/`__pos` from
    *      [[positionScan]], plus boolean `keepCol`) are position-deleted
    *      via one DV sidecar annotating exactly the files that own them;
    *   2. the `keepCol`=true subset re-appends with its (updated) column
    *      values, and `inserts` rows (plain table columns — a MERGE's NOT
    *      MATCHED output) append alongside, all in one write job.
    *
    * So keep=true acts as UPDATE (delete old position + append new row),
    * keep=false as DELETE, and a row never in `acted` is untouched — its
    * file bytes are not rewritten (an mtime-stable base, spec-gated).
    * Reads serve through the DV anti-join until [[compact]] materializes;
    * [[changes]]' exceptAll algebra sees exactly delete(old values) +
    * insert(new values). Stats: annotated entries re-key their old ranges
    * (deletion only narrows a file's true range); fresh files harvest
    * theirs from their footers.
    *
    * `acted` is staged once to a parquet scratch dir under the table root
    * (never the block store, whose rows are ~3× data size, the r13
    * forensics) so its three consumers (DV positions, touched-file
    * list, re-append content) rescan written bytes instead of re-running
    * the matching join. The staging dir is removed before returning.
    *
    * `conflictOnAddsIn` declares the read set for rebase over concurrent
    * commits ([[commitRebasing]]): an UPDATE's row-level read passes
    * `Some(Set.empty)` (file-scoped — positions of immutable files stay
    * valid; concurrent appends cannot invalidate them), a MERGE passes
    * `None` (its join + cardinality check read the WHOLE target, so any
    * concurrent add could have matched).
    */
  def updateRows(spark: SparkSession, root: String, baseVersion: Long,
                 acted: DataFrame, keepCol: String,
                 inserts: Option[DataFrame] = None,
                 conflictOnAddsIn: Option[Set[String]] = Some(Set.empty),
                 changeKey: Option[Seq[String]] = None): Long =
    updateOn(spark, snapshot(root, baseVersion), acted, keepCol, inserts, conflictOnAddsIn,
      changeKey.getOrElse(Nil))

  private def updateOn(spark: SparkSession, base: Snapshot, acted: DataFrame, keepCol: String,
                       inserts: Option[DataFrame] = None,
                       conflictOnAddsIn: Option[Set[String]] = Some(Set.empty),
                       changeKey: Seq[String] = Nil): Long = {
    val root = base.root
    val schema = base.manifest.schema
    val layout = base.manifest.layout
    val tableCols = schema.map(_.fieldNames.toSeq)
      .getOrElse(acted.columns.toSeq.filterNot(
        c => c == "__file" || c == "__pos" || c == keepCol))
    val stagingDir = Paths.get(root, "_staging", java.util.UUID.randomUUID().toString)
    try {
      // keepCol is staged as 0/1, so the part files' FOOTERS tell whether
      // any row was acted on and any kept, with no job run (even an empty
      // plan writes one empty part file). A file without a keep range
      // counts as kept.
      acted.select((Seq(col("__file"), col("__pos"), col(keepCol).cast("int").as(keepCol)) ++
        tableCols.map(col)): _*).write.parquet(stagingDir.toString)
      val conf = spark.sparkContext.hadoopConfiguration
      val counts = parquetUnder(stagingDir).map(footer(conf, _, Seq(keepCol)))
      val staged = Option.when(counts.exists(_._1 > 0))(spark.read.parquet(stagingDir.toString))
      val replaced =
        staged.fold(Seq.empty[String])(st => owners(base.entries, st.select(col("__file"))))
      val annotated = staged.toSeq.flatMap { st =>
        val ref = writeDvFile(root, st.select(col("__file").as("file"), col("__pos").as("pos")))
        replaced.map(e => e -> renderEntry(entryPath(e), entryDvs(e) :+ ref))
      }
      val kept = staged.filter(_ => counts.exists { case (n, r) =>
          n > 0 && r.get(keepCol).forall(_._2 > 0) })
        .map(_.filter(col(keepCol) === 1))
      val newFiles = (kept.toSeq ++ inserts).map(_.select(tableCols.map(col): _*))
        .reduceOption(_.unionByName(_)).fold(Seq.empty[String]) { a =>
          writeDataFiles(schema.fold(a)(s => conform(a, s)), root, layout)
        }
      if (staged.isEmpty && newFiles.isEmpty) return base.version // full no-op
      val fresh = annotated.flatMap { case (e, a) => base.ranges.get(e).map(a -> _) }.toMap ++
        harvest(spark, root, base.manifest.statsCols, newFiles)
      commitOn(spark, base, replaced, annotated.map(_._2) ++ newFiles, conflictOnAddsIn, None,
        schema, layout, changeKey, Some(fresh))
    } finally deleteTree(stagingDir)
  }

  /** Write `matches` (`file`, `pos`) as one DV sidecar under `_dv/`;
    * returns its name.
    */
  private def writeDvFile(root: String, matches: DataFrame): String = {
    val id = java.util.UUID.randomUUID().toString
    val dvDir = Paths.get(root, DvDir)
    Files.createDirectories(dvDir)
    val tmp = dvDir.resolve(id + ".tmp")
    // One sidecar per delete commit (a GDPR-sized match list is small);
    // coalesce(1) is the deliberate single-file layout, not a bottleneck.
    matches.coalesce(1).write.parquet(tmp.toString)
    val part = parquetUnder(tmp).headOption
      .getOrElse(throw new IllegalStateException(s"no DV part file under $tmp"))
    Files.move(part, dvDir.resolve(id + ".parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // Drop the spark output dir scaffolding (_SUCCESS, crc files).
    deleteTree(tmp)
    id + ".parquet"
  }

  /** The parquet part files under `dir`, recursively. */
  private def parquetUnder(dir: Path): List[Path] = {
    import scala.jdk.CollectionConverters._
    val it = Files.walk(dir)
    try it.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
    finally it.close()
  }

  /** Delete `p` and everything under it, deepest first. */
  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(p)
    try walk.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Read a snapshot: the current version, or `asOf` for time travel.
    * Plan-wise this is one parquet relation over the manifest's exact
    * file list ([[SnapshotRelation]]): no directory listing and no Spark
    * job until an action; column pruning, predicate pushdown and
    * planning-time file pruning from ordinary filters all apply.
    *
    * Manifest-level pruning from explicit arguments, before the scan:
    *   - `partValues` keeps only files under a matching `__part=` dir
    *     (pass RAW values; they are escaped the way the writer escaped).
    *   - `colRanges` is a conjunction of [lo,hi] (inclusive) predicates
    *     against the declared stats columns' per-file ranges — a file is
    *     skipped ONLY when provably disjoint on some column; files
    *     without a recorded range are always read.
    *   - `keyRange` is shorthand for the FIRST declared stats column.
    *
    * Pruning that eliminates every file returns an EMPTY DataFrame with
    * the table schema (a point lookup on an absent key is a legitimate
    * empty result, not an error).
    */
  def read(spark: SparkSession, root: String,
           asOf: Option[Long] = None,
           partValues: Option[Set[String]] = None,
           keyRange: Option[(Long, Long)] = None,
           colRanges: Map[String, (Long, Long)] = Map.empty): DataFrame =
    readAt(spark, pinned(root, asOf), partValues, keyRange, colRanges)

  /** [[read]] of an already-decoded version. `partCol` names the column
    * whose filters prune partition dirs at planning time; by default the
    * layout the manifest records.
    */
  def readAt(spark: SparkSession, s: Snapshot,
             partValues: Option[Set[String]] = None,
             keyRange: Option[(Long, Long)] = None,
             colRanges: Map[String, (Long, Long)] = Map.empty,
             partCol: Option[String] = None): DataFrame =
    // Manifest-recorded schema: inference-free planning, and the schema-
    // evolution contract — files predating a column scan as null for it.
    // A zero-file version (a streaming writer's empty bootstrap batch, a
    // delete that emptied the table) reads as that schema's empty frame.
    scanEntries(spark, s, pruned(s, partValues, keyRange, colRanges), partCol = partCol)

  /** Root-relative files of `version` surviving manifest-level pruning
    * (see [[read]] for the predicate semantics). Exposed so specs (and
    * operators sizing a scan) can count candidate files without reading.
    */
  def prunedFiles(root: String, version: Long,
                  partValues: Option[Set[String]] = None,
                  keyRange: Option[(Long, Long)] = None,
                  colRanges: Map[String, (Long, Long)] = Map.empty): Seq[String] =
    pruned(snapshot(root, version), partValues, keyRange, colRanges).map(_._1)

  /** Entries of `s` surviving manifest-level pruning, with their ranges. */
  private def pruned(s: Snapshot, partValues: Option[Set[String]],
                     keyRange: Option[(Long, Long)],
                     colRanges: Map[String, (Long, Long)]): Seq[(String, Manifest.Ranges)] = {
    val keep = selects(partValues, colRanges ++ keyRange.flatMap(r =>
      s.manifest.statsCols.headOption.map(_ -> r)).toMap)
    (s.manifest.sections, partValues) match {
      case (Some(refs), Some(vs)) =>
        // Lazy by construction: partition pruning selects SECTIONS before
        // any per-file metadata is read — the layout's whole point.
        val ds = vs.map(partDir)
        refs.filter { case (pd, _) => ds(pd) }
          .flatMap { case (_, ref) => Manifest.readSection(s.root, ref) }
          .filter(keep).sortBy(_._1)
      case _ => s.ranged(s.entries).filter(keep)
    }
  }

  /** The manifest pruning rule: an entry is kept when it lies under the
    * dir of one of `partValues` (raw values, rendered by [[partDir]]) and
    * its recorded ranges are not provably disjoint from any of `probes`
    * (a column without a recorded range never excludes).
    */
  private[sources] def selects(partValues: Option[Set[String]], probes: Map[String, (Long, Long)])
      : ((String, Manifest.Ranges)) => Boolean = {
    val dirs = partValues.map(_.map(partDir))
    e => dirs.forall(ds => ds(partDirOf(e._1))) && probes.forall { case (c, (lo, hi)) =>
      e._2.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
  }

  /** Transactional small-file compaction — the OPTIMIZE half of the
    * maintenance pair (vacuum is the GC half). A streaming writer
    * ([[graft.streaming.SnapshotSink]]) publishes one commit per
    * micro-batch, so a hot partition accretes one small file set per
    * batch; compact rewrites the selected partitions' files into
    * `numFiles` range-split files and publishes the swap as ONE commit
    * ([[rearrange]]) — content-identical by construction, snapshot-
    * isolated like any other commit.
    *
    * `partValues` (raw values, escaped like [[read]]) restricts the
    * rewrite to named partitions of the recorded layout — cost ∝ touched
    * partitions, the only shape that survives at table scale; None
    * compacts everything. `sortBy` orders rows within the range-split, so
    * each output file carries a NARROW [min,max] on the sort key —
    * compaction is also how a table EARNS its manifest-stats pruning (and
    * parquet row-group skipping) after unsorted ingest.
    *
    * `zorderBy` (two or more non-negative integral columns, exclusive
    * with `sortBy`) clusters on the Morton interleave of the keys'
    * quantile buckets instead ([[ZOrder.zorderKeyN]] — the OPTIMIZE
    * ZORDER BY of the lakehouse formats): every output file then carries
    * a narrow range on EVERY listed column simultaneously, so a table
    * with multi-column declared stats earns conjunctive manifest pruning
    * a single-key sort can never give (perfect on the sort key, none on
    * the others). Bucket width scales with arity (16 bits at 2 keys,
    * 63/k beyond) so the interleave always fills a positive long.
    */
  def compact(spark: SparkSession, root: String,
              partValues: Option[Set[String]] = None,
              numFiles: Int = 1, sortBy: Seq[String] = Nil,
              zorderBy: Seq[String] = Nil): Long = {
    val base = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to compact at $root"))
    rearrange(spark, base, pruned(base, partValues, None, Map.empty), numFiles, sortBy, zorderBy)
  }

  /** The maintenance rewrite behind [[compact]], [[optimize]] and
    * [[maintain]]: `victims` (entries of `base` with their ranges)
    * rewritten into `numFiles` files, range-split on the recorded
    * partition column plus `sortBy`, or plus the z-order key of
    * `zorderBy` — one content-identical commit. The recorded schema is
    * the scan's, so victims predating an evolved column compact into
    * full-schema files (nulls materialized). DV-aware: rewriting an
    * annotated entry MATERIALIZES its deletions — the rewrite drops the
    * annotation and the orphaned DV file falls to vacuum. Row movement
    * only (no partition-level read set): it rebases over concurrent
    * appends anywhere and conflicts only if a concurrent commit rewrote
    * a victim out from under it. No victims publish nothing.
    */
  private def rearrange(spark: SparkSession, base: Snapshot,
                        victims: Seq[(String, Manifest.Ranges)], numFiles: Int,
                        sortBy: Seq[String] = Nil, zorderBy: Seq[String] = Nil): Long = {
    require(zorderBy.isEmpty || zorderBy.length >= 2,
      "zorderBy takes two or more columns")
    require(zorderBy.isEmpty || sortBy.isEmpty,
      "pass sortBy or zorderBy, not both")
    if (victims.isEmpty) return base.version
    val layout = base.manifest.layout
    val slice = scanEntries(spark, base, victims)
    val (keyed, keys) =
      if (zorderBy.isEmpty) (slice, (layout.toSeq ++ sortBy).distinct.map(col))
      else {
        // Quantile-bucket maxes from one tiny aggregate (offline layout
        // job, one driver-side single-row action).
        val aggs = zorderBy.map(c => max(col(c)).cast("long"))
        val r = slice.agg(aggs.head, aggs.tail: _*).head()
        val buckets = 1L << ZOrder.zorderBits(zorderBy.length)
        val z = ZOrder.zorderKeyN(zorderBy.zipWithIndex.map { case (c, i) =>
          (col(c).cast("long") * buckets / (r.getLong(i) + 1L)).cast("long")
        })
        (slice.withColumn("__z", z), layout.toSeq.map(col) :+ col("__z"))
      }
    val arranged =
      if (keys.isEmpty) keyed.repartition(numFiles)
      else (if (numFiles > 1 || zorderBy.nonEmpty)
              keyed.repartitionByRange(math.max(numFiles, 1), keys: _*)
            else layout.fold(keyed.repartition(1))(pc => keyed.repartition(col(pc))))
        .sortWithinPartitions(keys: _*)
    commitOn(spark, base, victims.map(_._1),
      writeDataFiles(arranged.drop("__z"), base.root, layout), Some(Set.empty), None,
      base.manifest.schema.orElse(Some(slice.schema)), layout)
  }

  /** Output file count for rewriting `entries`: their bytes at
    * [[TargetFileBytes]] a file (file sizes are filesystem metadata — no
    * data read).
    */
  private def bins(root: String, entries: Seq[String]): Int =
    (1L + (entries.map(e => Files.size(Paths.get(root, "data", entryPath(e)))).sum - 1L) /
      TargetFileBytes).toInt

  /** OPTIMIZE — the auto-sized maintenance rewrite behind the SQL
    * statement (`OPTIMIZE graft.t [ZORDER BY (a, b)]`) and the
    * convenience form of [[compact]] for Scala callers who don't want to
    * pick a file count: every entry of the current version is rewritten,
    * into [[bins]] files, DVs materialized, `zorderBy` clustering
    * honored, partitioned or not. Returns the committed version (the
    * current one when the table has no files to rewrite).
    */
  def optimize(spark: SparkSession, root: String, zorderBy: Seq[String] = Nil): Long = {
    val base = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to optimize at $root"))
    rearrange(spark, base, base.ranged(base.entries), bins(root, base.entries),
      zorderBy = zorderBy)
  }

  /** Merge-on-read debt of one table version: how much of the file set
    * carries DV annotations and how many deleted-row positions the
    * referenced DV files hold. Manifest math + DV parquet FOOTERS only —
    * no data pages read, so polling this per commit is free at any table
    * size. `dvRows` counts position entries across distinct referenced DV
    * files (a row deleted twice across stacked DVs counts per entry —
    * debt measures mask work the reader pays, not net dead rows).
    */
  final case class DvDebt(annotatedFiles: Int, totalFiles: Int, dvRows: Long) {
    def annotatedFraction: Double =
      if (totalFiles == 0) 0.0 else annotatedFiles.toDouble / totalFiles
  }

  def dvDebt(root: String, version: Option[Long] = None): DvDebt =
    version.orElse(currentVersion(root)).fold(DvDebt(0, 0, 0L))(v => debtOf(snapshot(root, v)))

  private def debtOf(s: Snapshot): DvDebt = {
    val annotated = s.entries.filter(e => entryDvs(e).nonEmpty)
    val conf = new Configuration()
    val dvRows = annotated.flatMap(entryDvs).distinct
      .map(r => footer(conf, Paths.get(s.root, DvDir, r), Nil)._1).sum
    DvDebt(annotated.size, s.entries.size, dvRows)
  }

  /** Debt-driven maintenance trigger — the snapshot store's twin of the
    * ANN index's churn-fraction RebuildThreshold (AnnIvf.scala): each
    * merge-on-read commit leaves DV mask work every subsequent read pays;
    * past a threshold the one-time rewrite is cheaper than the recurring
    * tax. Checks [[dvDebt]] (footer/manifest math only) and, when EITHER
    * bound is crossed — annotated-file fraction or absolute DV row mass —
    * runs exactly one [[rearrange]] commit of ONLY the annotated files:
    * cost ∝ annotated files, untouched files stay byte-identical and keep
    * their stats. This collapses the measured merge-on-read read tax
    * (BASELINE.md round 15: full read 9.49 s at sf100 under DVs vs
    * 0.74 s plain) without compact's whole-partition rewrite. Returns the
    * new version when maintenance ran, None when the table is under
    * budget. Callers poll it after writes (e.g. a streaming sink's batch
    * hook); an under-threshold call costs a manifest parse + DV footer
    * reads.
    */
  def maintain(spark: SparkSession, root: String,
               maxAnnotatedFraction: Double = 0.3,
               maxDvRows: Long = Long.MaxValue): Option[Long] =
    current(root).flatMap { base =>
      val debt = debtOf(base)
      Option.when(debt.annotatedFiles > 0 &&
          (debt.annotatedFraction > maxAnnotatedFraction || debt.dvRows > maxDvRows)) {
        val annotated = base.entries.filter(entryDvs(_).nonEmpty)
        rearrange(spark, base, base.ranged(annotated), bins(root, annotated))
      }
    }

  /** RESTORE: publish version `version`'s exact content — file list, DV
    * annotations, stats, schema, and partition layout — as a NEW commit
    * on top of the current version (the lakehouse rollback verb: history
    * is never rewritten, recovery from a bad write is one forward
    * commit). Pure driver-side manifest math — data files are immutable
    * so the old version's files ARE the restored content; nothing is
    * copied or rewritten. CDC across the restore commit is automatically
    * the inverse delta of what it undoes (manifest set diff). The write
    * set is the WHOLE table (`conflictOnAddsIn = None`): a concurrent
    * append racing a restore conflicts instead of silently vanishing.
    * Refuses loudly when vacuum has already dropped any of the target
    * version's files — a restore that publishes a manifest naming dead
    * files would be deferred corruption, not rollback. Restoring the
    * current version is a no-op (returns it unchanged).
    */
  def restore(root: String, version: Long,
              txn: Option[(String, Long)] = None): Long = {
    val cur = current(root).getOrElse(
      throw new IllegalStateException(s"no snapshot to restore at $root"))
    if (version == cur.version) return cur.version
    require(Files.exists(Manifest.path(root, version)),
      s"version $version does not exist at $root (vacuumed or never committed)")
    val restored = snapshot(root, version)
    val target = restored.entries
    val missingData = target.map(entryPath)
      .filterNot(f => Files.exists(Paths.get(root, "data", f)))
    val missingDv = target.flatMap(entryDvs).distinct
      .filterNot(r => Files.exists(Paths.get(root, DvDir, r)))
    require(missingData.isEmpty && missingDv.isEmpty,
      s"cannot restore $root to v$version: vacuum already removed " +
        s"${missingData.size} data file(s) and ${missingDv.size} DV file(s) " +
        (missingData ++ missingDv).take(3).mkString("(e.g. ", ", ", ")"))
    val m = restored.manifest
    rebase(root, Some(cur), cur.entries, target, None, restored.ranges,
      Manifest(m.rows, m.schema, Some(m.layout), txn = txn, statsCols = cur.manifest.statsCols))
  }

  /** Zero-copy shallow CLONE (the Delta `CREATE TABLE ... SHALLOW CLONE`
    * idea): publish `srcRoot`'s version `version` (default current) as a
    * brand-new table at `dstRoot` — same entries, DV annotations, schema,
    * partition layout, stats, and row count — WITHOUT copying any data
    * bytes. The clone is a v0 commit of its own manifest log; from then
    * on the two tables diverge independently (every write names its own
    * new files under its own root).
    *
    * Cross-table GC safety is delegated to the filesystem: each shared
    * data/DV file is HARDLINKED into the clone's directory tree (an
    * O(files) metadata operation — no data pages move), so the inode's
    * link count IS the cross-clone reference count. [[vacuum]] stays
    * entirely single-table — it unlinks its own table's directory
    * entries, and a shared inode survives until the LAST referencing
    * table drops it. No clone registry, no ref-count sidecar, nothing
    * for a crashed clone to corrupt: a half-linked clone has no manifest
    * yet, so it is invisible, and the stray links are plain unreferenced
    * files. On a filesystem without hardlinks (object stores) the link
    * degrades to a per-file copy — still manifest-driven and
    * incremental, just not zero-byte; a format targeting such stores
    * shares files by absolute path + ref-counted GC instead, the
    * documented trade (SURVEY §7.4).
    *
    * Refuses a vacuumed source version (same rule as [[restore]]) and a
    * destination that already has a manifest log (CLONE creates tables;
    * it never overlays one).
    */
  def cloneTable(srcRoot: String, dstRoot: String,
                 version: Option[Long] = None): Long = {
    val v = version.orElse(currentVersion(srcRoot)).getOrElse(
      throw new IllegalStateException(s"no snapshot to clone at $srcRoot"))
    require(Files.exists(Manifest.path(srcRoot, v)),
      s"version $v does not exist at $srcRoot (vacuumed or never committed)")
    require(currentVersion(dstRoot).isEmpty,
      s"clone target $dstRoot already has a manifest log")
    val src = snapshot(srcRoot, v)
    val entries = src.entries
    def linkInto(sub: String, rel: String): Unit = {
      val src = Paths.get(srcRoot, sub, rel)
      require(Files.exists(src),
        s"cannot clone $srcRoot v$v: vacuum already removed $sub/$rel")
      val dst = Paths.get(dstRoot, sub, rel)
      Files.createDirectories(dst.getParent)
      if (!Files.exists(dst)) {
        try Files.createLink(dst, src)
        catch {
          // FileAlreadyExists: a concurrent/retried clone linked it — the
          // content is identical by construction (same immutable source).
          case _: java.nio.file.FileAlreadyExistsException => ()
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            try Files.copy(src, dst)
            catch { case _: java.nio.file.FileAlreadyExistsException => () }
        }
      }
    }
    entries.map(entryPath).foreach(linkInto("data", _))
    entries.flatMap(entryDvs).distinct.foreach(linkInto(DvDir, _))
    // The declared stats columns ride the clone's manifest, so its future
    // commits keep harvesting the same pruning stats the source declared.
    val m = src.manifest
    publish(dstRoot, 0L, Manifest(m.rows, m.schema, Some(m.layout),
      statsCols = m.statsCols, files = entries, ranges = src.ranges))
  }

  /** Manifest set diff `from` → `to`: (files added, files removed). The
    * incremental-consumer primitive — O(manifest size) driver math, no
    * data read.
    */
  def changedFiles(root: String, from: Long, to: Long): (Seq[String], Seq[String]) =
    diff(snapshot(root, from), snapshot(root, to))

  private def diff(from: Snapshot, to: Snapshot): (Seq[String], Seq[String]) = {
    val (a, b) = (from.manifest.sections, to.manifest.sections) match {
      case (Some(fa), Some(fb)) =>
        // Identical section refs carry identical file sets (content-
        // addressed) — skip them wholesale; the diff parses only TOUCHED
        // partitions' sections. A section's content embeds its partition
        // dir in every path, so equal refs across different partitions
        // cannot occur.
        def touched(mine: Seq[(String, String)], other: Seq[(String, String)]) = {
          val skip = other.map(_._2).toSet
          mine.filterNot(s => skip(s._2))
            .flatMap(s => Manifest.readSection(to.root, s._2).map(_._1)).toSet
        }
        (touched(fa, fb), touched(fb, fa))
      case _ => (from.entries.toSet, to.entries.toSet)
    }
    ((b -- a).toSeq.sorted, (a -- b).toSeq.sorted)
  }

  /** CDC between two versions: the table columns plus `_change_type`
    * ('insert' = net row additions from → to, 'delete' = net removals).
    * Because data files are immutable, the delta is exactly
    * rows(added files) exceptAll rows(removed files) (and the reverse
    * for deletes) — a merge's rewritten survivors cancel out of both
    * sides, leaving the true row-level change. Cost is proportional to
    * the TOUCHED files, never the table: an append's delta reads only
    * the appended files (removed set is empty).
    *
    * UPDATE IMAGES (the Delta CDF update_preimage/update_postimage
    * contract): with a row-identity key, a deleted and an inserted row
    * sharing the key are one row's before/after images, so a downstream
    * incremental consumer can tell an in-place update from genuine
    * insert+delete churn. The key comes from `updateKey` when the caller
    * passes one, else — for a SINGLE-commit hop (to == from+1) — from the
    * `change_key` the commit itself declared (MERGE INTO records its ON
    * equi-columns, the keyed upsert its keyCol; see [[Manifest]]).
    * Multi-commit ranges without an explicit key keep the plain
    * insert/delete labeling — different commits may disagree on the key,
    * and a wrong pairing is worse than none. Rows whose key is NULL never
    * pair (SQL equality semantics). A row whose key VALUE was rewritten
    * by the update surfaces as delete+insert — which is what it is.
    *
    * Pairing is VALUE-level, not row-level (the documented contract,
    * negative-control-gated in SnapshotStoreSpec): when a commit both
    * deletes and inserts rows under one shared key value, EVERY such row
    * labels as an update image — a genuine extra insert under that value
    * rides as a second postimage, not as 'insert'. This is sound for the
    * writers that declare keys (MERGE's ANSI cardinality check and the
    * upsert's key semantics make the pairing 1:1 per value); consumers
    * passing their own `updateKey` over hand-built commits must expect
    * the value-level grouping.
    */
  def changes(spark: SparkSession, root: String, from: Long, to: Long,
              updateKey: Seq[String] = Nil): DataFrame =
    changesOf(spark, snapshot(root, from), snapshot(root, to), updateKey)

  /** [[changes]] between two already-decoded versions of one table. */
  def changesOf(spark: SparkSession, fromV: Snapshot, toV: Snapshot,
                updateKey: Seq[String] = Nil): DataFrame = {
    val (root, from, to) = (toV.root, fromV.version, toV.version)
    val (added, removed) = diff(fromV, toV)
    // Both sides scan under the TO version's schema so the delta is
    // union-compatible even across a schema-evolving commit (old files
    // yield nulls for columns added since `from`).
    val schema = schemaOf(spark, root, toV.manifest.schema, toV.entries ++ fromV.entries)
    // DV-aware on BOTH sides: an annotated entry scans as its live rows
    // only, so a DV-delete commit's delta is exactly the deleted rows.
    // No ranges: reading them would decode sections the diff skipped.
    def scan(fs: Seq[String]): DataFrame =
      scanEntries(spark, toV, fs.map(_ -> Map.empty), Some(schema))
    val a = scan(added)
    val r = scan(removed)
    val ins = a.exceptAll(r)
    val del = r.exceptAll(a)
    val key: Seq[String] =
      if (updateKey.nonEmpty) updateKey
      else if (to == from + 1) toV.manifest.changeKey
      else Nil
    if (key.isEmpty || !key.forall(a.columns.contains))
      ins.withColumn("_change_type", lit("insert"))
        .unionByName(del.withColumn("_change_type", lit("delete")))
    else {
      // Keys present on BOTH sides pair into update images; the rest keep
      // their plain labels. Semi/anti joins against the key projection —
      // touched-file-sized frames, and the cardinality contract of the
      // keyed writers (MERGE's ANSI check, the upsert's key semantics)
      // makes the pairing 1:1 for the commits that declare a key.
      val delKeys = del.select(key.map(col): _*).distinct()
      val insKeys = ins.select(key.map(col): _*).distinct()
      ins.join(delKeys, key, "left_anti")
        .withColumn("_change_type", lit("insert"))
        .unionByName(del.join(insKeys, key, "left_anti")
          .withColumn("_change_type", lit("delete")))
        .unionByName(del.join(insKeys, key, "left_semi")
          .withColumn("_change_type", lit("update_preimage")))
        .unionByName(ins.join(delKeys, key, "left_semi")
          .withColumn("_change_type", lit("update_postimage")))
    }
  }

  /** The in-flight writer window: how long a file no version names may
    * still belong to a writer that has not published yet. [[vacuum]]'s
    * default retention, and the age past which a catalog publish
    * reclaims stranded temporary files ([[SnapshotCatalog.publish]]).
    */
  private[sources] val InFlightMs = 15L * 60 * 1000

  /** Drop data files no LIVE manifest references (after `keepVersions`
    * manifests are pruned) — the maintenance job, never part of a commit.
    * Readers pinned to a retained version stay safe; time travel beyond
    * the horizon is gone, which is the documented trade.
    *
    * `minAgeMs` is the in-flight-writer guard (Delta's retention window):
    * a commit's data files exist BEFORE its manifest does, so a vacuum
    * racing an in-flight commit would see them unreferenced and delete
    * them — the writer would then publish a manifest naming missing
    * files. Files younger than the window are never touched; set 0 only
    * when no concurrent writer can exist.
    */
  def vacuum(root: String, keepVersions: Int = 2,
             minAgeMs: Long = InFlightMs): Unit = {
    val vs = versions(root)
    val dead = vs.dropRight(keepVersions)
    val live = vs.takeRight(keepVersions).map(snapshot(root, _))
    val liveEntries = live.flatMap(_.entries)
    val referenced = liveEntries.map(entryPath).toSet
    // Harvest txn markers out of the manifests about to be pruned so
    // lastTxn's exactly-once contract survives retention (a compaction or
    // other writer's commits can push an app's latest marker out of the
    // keep window).
    val harvested = dead.flatMap(v => Manifest.read(root, v).txn)
    if (harvested.nonEmpty) {
      val merged = (Manifest.readCheckpoint(root).toSeq ++ harvested)
        .groupBy(_._1).map { case (app, bs) => app -> bs.map(_._2).max }
      Manifest.writeCheckpoint(root, merged)
    }
    val cutoff = System.currentTimeMillis() - minAgeMs
    // Deepest first: every file under `dir` that `doomed` picks and that
    // is older than the cutoff (an in-flight writer's files are younger),
    // then every doomed dir left empty.
    def sweep(dir: Path)(doomed: Path => Boolean): Unit = if (Files.isDirectory(dir)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      val deepestFirst = try walk.iterator().asScala.toList.reverse finally walk.close()
      deepestFirst.filter(p => p != dir && doomed(p)).foreach { p =>
        if (!Files.isDirectory(p)) {
          if (Files.getLastModifiedTime(p).toMillis <= cutoff) Files.deleteIfExists(p)
        } else {
          val s = Files.list(p)
          if (try !s.iterator().hasNext finally s.close()) Files.deleteIfExists(p)
        }
      }
    }
    val dataDir = Paths.get(root, "data")
    sweep(dataDir)(p => !referenced(dataDir.relativize(p).toString))
    // Deletion vectors no live entry annotates: a compaction materialized
    // them, or a merge rewrote their data file.
    val liveDvs = liveEntries.flatMap(entryDvs).toSet
    sweep(Paths.get(root, DvDir))(p => !liveDvs(p.getFileName.toString))
    // updateRows removes its staging dir in a finally, but a JVM killed
    // mid-commit strands it.
    sweep(Paths.get(root, "_staging"))(_ => true)
    // Section files no live manifest references (their `*.tmp` debris
    // included); an in-flight commit writes its sections before its
    // manifest exists.
    val liveSecs = live.flatMap(_.manifest.sections.toSeq.flatten.map(_._2)).toSet
    sweep(Paths.get(root, Manifest.Dir, Manifest.SectionDir))(p => !liveSecs(p.getFileName.toString))
    // A manifest or checkpoint writer killed mid-publish strands its
    // temporary file, never listed as a version.
    sweep(Paths.get(root, Manifest.Dir))(_.getFileName.toString.endsWith(".tmp"))
    dead.foreach(v => Files.deleteIfExists(Manifest.path(root, v)))
  }
}
