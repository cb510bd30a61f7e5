package org.apache.spark.sql.graftext

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.sources.SnapshotStore
import graft.streaming.SnapshotSink

/** Shared `option("path")` / `option("table", "<catalog>.<table>")`
  * resolution for the graft streaming source and sink: a table name is
  * looked up through the session's `spark.sql.catalog.<catalog>.root` —
  * the same name SQL uses against a [[graft.sources.GraftCatalog]] — so
  * stream producers and consumers aren't coupled to filesystem layout.
  */
private[graftext] object GraftTableResolve {
  def root(sqlContext: SQLContext, parameters: Map[String, String],
           who: String): String =
    parameters.get("path").orElse(parameters.get("table").map { t =>
      val parts = t.split('.')
      require(parts.length >= 2, s"$who: option(\"table\", \"$t\") must " +
        "be <catalog>.<table> (optionally with namespaces between)")
      val confKey = s"spark.sql.catalog.${parts.head}.root"
      val catRoot = sqlContext.sparkSession.conf.getOption(confKey).getOrElse(
        throw new IllegalArgumentException(
          s"$who: no snapshot catalog named '${parts.head}' — set $confKey"))
      val dir = parts.tail.foldLeft(java.nio.file.Paths.get(catRoot))(_.resolve(_))
      require(java.nio.file.Files.isDirectory(dir.resolve("_manifests")),
        s"$who: $t resolves to $dir, which is not a snapshot table")
      dir.toString
    }).getOrElse(throw new IllegalArgumentException(
      s"$who requires option(\"path\", <snapshot table root>) or " +
        "option(\"table\", \"<catalog>.<table>\")"))
}

/** `df.writeStream.format("graft")` — the snapshot layer as a first-class
  * Structured Streaming SINK, completing the symmetry with the
  * `graft-cdc` source (read a snapshot table like Kafka; now write one
  * like a lakehouse table) and retiring the bespoke `foreachBatch`
  * adapter from the public write path:
  *
  *   counts.writeStream.format("graft")
  *     .option("table", "graft.totals")      // or option("path", <root>)
  *     .option("key", "user_id")             // upsert mode: merge by key
  *     .option("partition", "part")
  *     .option("checkpointLocation", ckpt)
  *     .outputMode("update").start()
  *
  * Two shapes, chosen by the `key` option:
  *   - WITH `key` (+ required `partition`): every micro-batch is a
  *     [[graft.sources.SnapshotStore.merge]] commit — keyed upsert with
  *     per-touched-partition cost, the natural sink for update-mode
  *     aggregations.
  *   - WITHOUT `key`: every micro-batch is an append commit — the
  *     event-log shape for append-mode streams; `partition` optional.
  *
  * Exactly-once is the `(appId, batchId)` transaction-marker contract of
  * [[SnapshotSink]]: a restart-replayed batch is a no-op, a crash between
  * sink-commit and checkpoint-commit cannot double-apply. `appId`
  * defaults to the query's checkpoint location — stable across restarts,
  * distinct per query; override with `option("appId", …)` when two
  * queries share a checkpoint layout. Empty micro-batches publish
  * nothing (no zero-file bootstrap versions).
  *
  * V1 sink on purpose (same bridge as the source): `addBatch` receives
  * the micro-batch as an incremental plan and re-wraps it as a batch frame
  * over the SAME execution (one pass); the commit function persists it,
  * so the commit's multiple consumers (emptiness guard, key-uniqueness
  * join, file write) never re-execute the source scan.
  */
final class GraftSnapshotSinkProvider extends StreamSinkProvider
  with org.apache.spark.sql.sources.RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `spark.read.format("graft")` — the batch-read twin: the snapshot
    * table's current version (or `option("versionAsOf", n)`), decoded
    * once. [[GraftReadRule]] replaces the relation with the plan
    * [[graft.sources.SnapshotStore.readAt]] builds for it, so this read
    * plans exactly what the Scala and SQL reads plan (manifest-pinned
    * file list, DV masking, recorded schema, pushdown into the scan).
    * Also what makes a typo'd `SELECT * FROM graft.nope` fail with the
    * table name instead of a direct-file-query riddle.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = GraftTableResolve.root(sqlContext, p, "graft")
    require(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(root).resolve("_manifests")),
      s"graft: '$root' is not a snapshot table (no manifest log); " +
        "point option(\"path\") at a table root or option(\"table\") at " +
        "a catalog name")
    new GraftSnapshotRelation(sqlContext,
      SnapshotStore.pinned(root, p.get("versionasof").map(_.toLong)))
  }

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    // Option keys arrive in whatever case the caller typed; normalize once.
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val root = GraftTableResolve.root(sqlContext, p, "graft sink")
    require(partitionColumns.isEmpty,
      "graft sink takes its layout from option(\"partition\", col) " +
        "(one identity column), not partitionBy")
    val key = p.get("key")
    val part = p.get("partition")
    require(key.isEmpty || part.isDefined,
      "graft sink: option(\"key\") needs option(\"partition\") — keyed " +
        "merge cost is per touched partition (SnapshotStore.merge)")
    val appId = p.get("appid")
      .orElse(p.get("checkpointlocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft sink: set option(\"checkpointLocation\", …) (it doubles as " +
          "the exactly-once transaction app id) or option(\"appId\", …)"))
    new GraftSnapshotSink(root, key, part, appId)
  }
}

/** The `format("graft")` relation: one decoded snapshot and its read
  * schema. It has no scan of its own — [[GraftReadRule]] plans it.
  */
private[graftext] final class GraftSnapshotRelation(ctx: SQLContext,
                                                    val snapshot: SnapshotStore.Snapshot)
  extends org.apache.spark.sql.sources.BaseRelation {

  override def sqlContext: SQLContext = ctx

  override val schema: StructType = SnapshotStore.readSchema(ctx.sparkSession, snapshot)
}

private[graftext] final class GraftSnapshotSink(root: String,
                                                key: Option[String],
                                                part: Option[String],
                                                appId: String) extends Sink {

  private val commitBatch: (DataFrame, Long) => Unit = key match {
    case Some(k) => SnapshotSink.mergeBatch(root, k, part.get, appId)
    case None => SnapshotSink.appendBatch(root, part, appId)
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // The engine hands addBatch a STREAMING-planned frame (actions like
    // .write refuse it). Re-wrap the same incremental execution as a
    // batch frame — one execution, the standard V1-sink bridge. The
    // commit function persists it before its first action, so the
    // micro-batch scan runs once.
    val spark = data.sparkSession.asInstanceOf[ClassicSession]
    commitBatch(spark.internalCreateDataFrame(data.queryExecution.toRdd, data.schema), batchId)
  }

  override def toString: String = s"GraftSnapshotSink[$root]"
}
