package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Catalog-level atomicity ACROSS [[SnapshotStore]] tables — the
  * "multi-table transaction" a lakehouse catalog adds on top of
  * single-table snapshots, built with the same primitive: one versioned
  * pointer file, advanced by atomic create-exclusive.
  *
  * Mechanism (the Iceberg-REST/HMS pointer-swap design):
  *
  *   - A catalog snapshot is a manifest `_catalog/v<13-digit>.json`
  *     mapping table name → pinned table version.
  *   - A multi-table writer first lands its per-table commits as usual
  *     (each table's own atomic manifest publish) — those versions are
  *     REAL but INVISIBLE to catalog readers, because a catalog reader
  *     resolves every table version through one catalog snapshot.
  *   - It then publishes the new name→version map as the next catalog
  *     version: one CREATE_NEW, so the cross-table cut flips atomically.
  *     Two racing publishers race for the version number; the loser gets
  *     [[SnapshotStore.SnapshotConflictException]] and must re-read,
  *     re-validate, and retry — same optimistic contract as the store.
  *   - A reader pins a catalog version once and reads every table `asOf`
  *     its pinned version: a consistent multi-table cut, immune to any
  *     later table- or catalog-level commit (tables never delete data
  *     files until vacuum, and vacuum's keepVersions horizon is the
  *     documented same trade as single-table time travel).
  *
  * Scale posture: a catalog snapshot is a KB of names — publish cost is
  * constant regardless of data volume; reads add one tiny manifest parse
  * over the per-table cost.
  */
object SnapshotCatalog {

  private val Dir = "_catalog"

  private def path(root: String, v: Long): Path =
    Manifest.versionFile(Paths.get(root, Dir), v)

  def versions(root: String): Seq[Long] = Manifest.versionsIn(Paths.get(root, Dir))

  def currentVersion(root: String): Option[Long] = versions(root).lastOption

  /** The consistent cut: table name → table version at one catalog
    * version (current unless `asOf`). Only the `tables` map is read;
    * other top-level fields are ignored.
    */
  def snapshot(root: String, asOf: Option[Long] = None): Map[String, Long] = {
    val v = asOf.orElse(currentVersion(root)).getOrElse(
      throw new IllegalStateException(s"no catalog snapshot at $root"))
    Manifest.decodeCatalog(Files.readAllBytes(path(root, v))).getOrElse(
      throw new IllegalArgumentException(s"malformed catalog manifest at version $v of $root"))
  }

  /** Atomically publish a new cross-table cut. `expectedBase` carries the
    * optimistic-concurrency check: the catalog version this writer READ
    * its world at (None for the bootstrap publish). If someone published
    * since, the swap must not proceed on a stale validation — conflict.
    */
  def publish(root: String, tables: Map[String, Long],
              expectedBase: Option[Long]): Long = {
    require(tables.nonEmpty, "empty catalog publish")
    val cur = currentVersion(root)
    if (cur != expectedBase)
      throw new SnapshotStore.SnapshotConflictException(
        s"catalog at $root moved: expected base $expectedBase, found $cur")
    val next = cur.getOrElse(-1L) + 1
    val p = path(root, next)
    Files.createDirectories(p.getParent)
    try {
      Files.write(p, Manifest.encodeCatalog(tables).getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      next
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new SnapshotStore.SnapshotConflictException(
          s"catalog version $next already committed at $root")
    }
  }

  /** Read table `name` at the pinned catalog cut — the reader-side half
    * of multi-table consistency.
    */
  def readTable(spark: org.apache.spark.sql.SparkSession, root: String,
                name: String, tableRoot: String,
                catalogAsOf: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val cut = snapshot(root, catalogAsOf)
    val v = cut.getOrElse(name,
      throw new IllegalArgumentException(s"table $name not in catalog cut $cut"))
    SnapshotStore.read(spark, tableRoot, Some(v))
  }
}
