package graft.sources

import java.nio.file.{Files, Path}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftext.Schemas
import org.apache.spark.sql.types._

/** How a [[SnapshotStore]] table is scanned: every read of the store —
  * [[SnapshotStore.read]], SQL over [[GraftCatalog]] and
  * `spark.read.format("graft")` (both planned as [[SnapshotStore.readAt]]),
  * CDC, the copy-on-write writers' rewrites, the position scans and the
  * deletion-vector sidecars — is an ordinary
  * parquet `HadoopFsRelation` over a [[SnapshotFileIndex]], the way the
  * lakehouse formats do it (Delta's TahoeFileIndex / Iceberg's
  * SparkScanBuilder): the manifest IS the listing. The index holds the
  * candidate entries (a caller's manifest-pruned list, or all entries),
  * stats them once when the frame is built — so a vacuumed file fails the
  * read that names it — and never lists a directory or starts a job.
  *
  * `listFiles` — invoked by `FileSourceStrategy` at PLANNING time with
  * the query's own pushed data filters — translates those Catalyst
  * expressions into the manifest's partition-dir + per-file-range
  * pruning on top of the caller's. An ordinary `df.filter($"k" === x)`
  * then skips files with zero caller cooperation, and every Spark
  * optimization over file sources (column pruning, filter pushdown into
  * row groups, DPP on the partition dirs' redundant data column) applies
  * unchanged.
  *
  * Soundness: translation is CONSERVATIVE. A conjunct it cannot map
  * (wrong type, non-stats column, non-literal bound) prunes nothing —
  * the parquet scan still evaluates every filter, so pruning is purely
  * an efficiency layer. A file is skipped only when some translated
  * range is provably disjoint with the file's recorded [lo,hi] — the
  * same rule [[SnapshotStore.prunedFiles]] applies; files without a
  * recorded range are always read.
  *
  * Deletion vectors: entries carrying DV sidecars get the `(file,
  * row_index)` anti-join layered ON TOP of their relation — filters on
  * data columns still push below the (left-anti) join into the scan, so
  * manifest pruning composes with merge-on-read deletes.
  *
  * The relation's `sizeInBytes` is the candidates' bytes, so
  * join-strategy sizing (broadcast decisions) sees the real scan volume.
  */
object SnapshotRelation {

  /** The table as a DataFrame whose scan prunes files at planning time
    * from ordinary query filters — [[SnapshotStore.read]] of `asOf` (or
    * the current version).
    *
    * @param partCol the column equality/IN filters prune partition dirs
    *   by; defaults to the layout the manifest records. Name it only for
    *   a table whose manifest predates the layout record.
    */
  def frame(spark: SparkSession, root: String, asOf: Option[Long] = None,
            partCol: Option[String] = None): DataFrame =
    SnapshotStore.readAt(spark, SnapshotStore.pinned(root, asOf), partCol = partCol)

  /** The parquet relation over `candidates` (entries relative to `dir`,
    * each with its recorded ranges), read under `schema` made nullable —
    * as a user-given schema is in any parquet read, so files predating a
    * column scan it as null.
    */
  private[sources] def scan(spark: SparkSession, dir: Path,
                            candidates: Seq[(String, Manifest.Ranges)], schema: StructType,
                            partCol: Option[String], statsCols: Seq[String]): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      location = new SnapshotFileIndex(dir, candidates, partCol, statsCols),
      partitionSchema = new StructType(),
      dataSchema = Schemas.asNullable(schema),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark))

  /** The status of one local file; throws when it does not exist. */
  private[sources] def status(p: Path): FileStatus =
    new FileStatus(Files.size(p), false, 1, 128L << 20, 0L, new HPath(p.toUri))

  /** Conjunctive filter translation: Catalyst expressions → the store's
    * (partition values, per-column key ranges). Returns None when the
    * conjunction is provably unsatisfiable on some column (empty range /
    * empty partition set) — zero files need listing. Exposed for the
    * spec; every arm is conservative (see object doc).
    */
  private[sources] def translate(
      filters: Seq[Expression], partCol: Option[String],
      statsCols: Seq[String])
      : Option[(Option[Set[String]], Map[String, (Long, Long)])] = {

    // Key-space image of a literal under the manifest's stats encoding:
    // integral/date/timestamp stats are the raw long; strings go through
    // the order-preserving 8-byte-prefix key. Doubles/decimals are NOT
    // handled — fileRanges records them truncated, so a translated range
    // could unsoundly skip; they fall to the parquet scan.
    def key(v: Any, dt: DataType): Option[Long] = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(v match {
          case n: java.lang.Number => n.longValue
          case other => other.toString.toLong
        })
      case StringType => Some(SnapshotStore.stringKey(v.toString))
      case _ => None
    }
    // The raw value a partition filter compares against, rendered the
    // way merge/prunedFiles expect (partDir escapes it).
    def partVal(v: Any, dt: DataType): Option[String] = dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType => Some(String.valueOf(v))
      case _ => None // dates/timestamps render engine-specifically; skip
    }
    def isPart(a: Attribute) = partCol.exists(_.equalsIgnoreCase(a.name))
    def statsCol(a: Attribute): Option[String] =
      statsCols.find(_.equalsIgnoreCase(a.name))

    var parts: Option[Set[String]] = None
    var ranges = Map.empty[String, (Long, Long)]
    var unsat = false

    def addParts(vals: Set[String]): Unit = {
      val next = parts.fold(vals)(_ intersect vals)
      if (next.isEmpty) unsat = true
      parts = Some(next)
    }
    def addRange(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      val merged = (math.max(l0, lo), math.min(h0, hi))
      if (merged._1 > merged._2) unsat = true
      ranges += c -> merged
    }

    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a: Attribute, Literal(v, dt)) if v != null => eq(a, v, dt)
      case EqualTo(Literal(v, dt), a: Attribute) if v != null => eq(a, v, dt)
      case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null => eq(a, v, dt)
      case EqualNullSafe(Literal(v, dt), a: Attribute) if v != null => eq(a, v, dt)
      case In(a: Attribute, list) if list.nonEmpty && list.forall {
            case Literal(v, _) => v != null; case _ => false } =>
        val lits = list.collect { case Literal(v, dt) => (v, dt) }
        if (isPart(a)) {
          val vals = lits.flatMap { case (v, dt) => partVal(v, dt) }
          if (vals.length == lits.length) addParts(vals.toSet)
        }
        statsCol(a).foreach { c =>
          val keys = lits.flatMap { case (v, dt) => key(v, dt) }
          if (keys.length == lits.length) addRange(c, keys.min, keys.max)
        }
      case GreaterThan(a: Attribute, Literal(v, dt)) if v != null => lower(a, v, dt)
      case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) if v != null => lower(a, v, dt)
      case LessThan(a: Attribute, Literal(v, dt)) if v != null => upper(a, v, dt)
      case LessThanOrEqual(a: Attribute, Literal(v, dt)) if v != null => upper(a, v, dt)
      case GreaterThan(Literal(v, dt), a: Attribute) if v != null => upper(a, v, dt)
      case GreaterThanOrEqual(Literal(v, dt), a: Attribute) if v != null => upper(a, v, dt)
      case LessThan(Literal(v, dt), a: Attribute) if v != null => lower(a, v, dt)
      case LessThanOrEqual(Literal(v, dt), a: Attribute) if v != null => lower(a, v, dt)
      case StartsWith(a: Attribute, Literal(v, StringType)) if v != null =>
        statsCol(a).foreach { c =>
          val (lo, hi) = SnapshotStore.stringPrefixRange(v.toString)
          addRange(c, lo, hi)
        }
      case _ => () // not translatable: prunes nothing, scan re-checks
    }
    // Strict bounds are widened to inclusive key ranges on purpose: for
    // strings the prefix key collapses distinct values anyway, and an
    // inclusive envelope is always sound.
    def eq(a: Attribute, v: Any, dt: DataType): Unit = {
      if (isPart(a)) partVal(v, dt).foreach(s => addParts(Set(s)))
      for (c <- statsCol(a); k <- key(v, dt)) addRange(c, k, k)
    }
    def lower(a: Attribute, v: Any, dt: DataType): Unit =
      for (c <- statsCol(a); k <- key(v, dt)) addRange(c, k, Long.MaxValue)
    def upper(a: Attribute, v: Any, dt: DataType): Unit =
      for (c <- statsCol(a); k <- key(v, dt)) addRange(c, Long.MinValue, k)

    filters.foreach(walk)
    if (unsat) None else Some((parts, ranges))
  }
}

/** [[FileIndex]] over a fixed set of manifest entries (see
  * [[SnapshotRelation]]): `dir` is the directory entries are relative to,
  * each candidate carries its recorded per-column ranges. Planning-time
  * `listFiles` maps the query's pushed filters onto partition-dir and
  * range pruning of the candidates.
  */
private[sources] final class SnapshotFileIndex(
    dir: Path, candidates: Seq[(String, Manifest.Ranges)],
    partCol: Option[String], statsCols: Seq[String]) extends FileIndex {

  // Stat every candidate now: a vacuumed or missing file fails the read
  // that names it, not a later action.
  private val files: Seq[(String, Manifest.Ranges, FileStatus)] =
    candidates.map { case (e, r) =>
      (e, r, SnapshotRelation.status(dir.resolve(SnapshotStore.entryPath(e))))
    }

  // All data columns live in the files (the writer duplicates the
  // partition column; the __part dirs are redundant metadata), so the
  // relation is unpartitioned to Spark and EVERY filter arrives as a
  // data filter — partition-dir pruning happens inside translate.
  override def partitionSchema: StructType = new StructType()

  override def rootPaths: Seq[HPath] = Seq(new HPath(dir.toUri))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    SnapshotRelation.translate(partitionFilters ++ dataFilters, partCol, statsCols) match {
      case None => Nil // conjunction provably unsatisfiable
      case Some((parts, ranges)) =>
        val keep = SnapshotStore.selects(parts, ranges)
        Seq(PartitionDirectory(InternalRow.empty,
          files.collect { case (e, r, st) if keep((e, r)) => st }.toArray))
    }

  override lazy val inputFiles: Array[String] =
    files.map { case (e, _, _) => dir.resolve(SnapshotStore.entryPath(e)).toString }.toArray

  override def refresh(): Unit = () // fixed entries: nothing to refresh

  override lazy val sizeInBytes: Long = files.map(_._3.getLen).sum
}
