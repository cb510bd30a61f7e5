package org.apache.spark.sql.graftext

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.SnapshotStore

/** `spark.readStream.format("graft-cdc")` — the snapshot layer's change
  * feed as a first-class Structured Streaming source, so a downstream
  * training-data job consumes a [[graft.sources.SnapshotStore]] table the
  * way it consumes Kafka:
  *
  *   spark.readStream.format("graft-cdc")
  *     .option("path", "/data/tables/docs")
  *     .load()                       // table cols + _change_type + _commit_version
  *     .writeStream...
  *
  * This wraps the SAME offset-per-version contract as
  * [[graft.streaming.SnapshotChangeFeed]] (each committed manifest
  * version is one offset; a micro-batch is the row-level delta of the
  * commits in (start, end]), but lets the ENGINE own the offset log:
  * checkpointing, restart-replay of the last uncommitted batch, and
  * exactly-once composition with idempotent sinks all come from
  * Structured Streaming instead of a bespoke poll/commit loop.
  *
  * Semantics:
  *   - Fresh start: the earliest RETAINED version's full content arrives
  *     as all-'insert' rows (the standard CDC bootstrap), then per-commit
  *     deltas. `option("startingVersion", n)` skips the bootstrap and
  *     starts with version n+1's delta; `option("startingVersion",
  *     "latest")` tails only commits after FIRST stream start — the
  *     resolution is persisted in the source's checkpoint metadata, so a
  *     restart resumes from the checkpoint and never re-resolves (commits
  *     landed while the stream was down are delivered, not withheld).
  *   - `option("table", "<catalog>.<table>")` resolves the root through
  *     the session's GraftCatalog conf instead of a filesystem path —
  *     the same name SQL uses.
  *   - `option("maxVersionsPerTrigger", m)` bounds each micro-batch to m
  *     commits — a consumer resuming behind a long backlog catches up in
  *     metered batches (the maxFilesPerTrigger idiom) instead of one
  *     giant replay.
  *   - Each micro-batch carries whole commits only; `_commit_version`
  *     partitions a multi-commit batch back into per-commit deltas.
  *   - Restart resumes from the engine checkpoint; the replayed batch is
  *     byte-identical because manifests and data files are immutable.
  *   - If [[SnapshotStore.vacuum]] pruned manifests past the stream's
  *     position (the consumer fell behind retention), getBatch FAILS
  *     LOUDLY with the reseed instruction instead of silently skipping
  *     commits — the falling-off-the-Kafka-tail contract.
  *
  * Scale posture: offset discovery is one directory listing; a batch
  * scans only the files the commits in range touched
  * ([[SnapshotStore.changes]]'s cost model). Nothing here is
  * table-proportional unless a commit was.
  *
  * Implementation note: this is a V1 streaming source (the Delta-style
  * bridge) because its batch is a computed DataFrame — the per-commit
  * diff-of-manifests scan — not a static file list; the V1 `getBatch`
  * contract accepts exactly that, while a V2 `MicroBatchStream` would
  * force hand-built row readers under the plan.
  */
final class GraftCdcSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-cdc"

  private def rootOf(sqlContext: SQLContext, parameters: Map[String, String]): String =
    GraftTableResolve.root(sqlContext, parameters, "graft-cdc")

  private def feedSchema(root: String): StructType = {
    val v = SnapshotStore.currentVersion(root).getOrElse(
      throw new IllegalArgumentException(
        s"graft-cdc: no committed snapshot at $root (create the table first)"))
    val base = SnapshotStore.schemaAt(root, v).getOrElse(
      throw new IllegalArgumentException(
        s"graft-cdc: version $v of $root predates schema recording; " +
          "rewrite the table with SnapshotStore.overwrite to record one"))
    base.add("_change_type", StringType, nullable = false)
      .add("_commit_version", LongType, nullable = false)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-cdc serves the table's recorded schema; drop .schema(...)")
    (shortName(), feedSchema(rootOf(sqlContext, parameters)))
  }

  /** Resolve `startingVersion=latest` ONCE per checkpoint lifetime: the
    * resolved version is persisted under the source's engine-owned
    * `metadataPath` on first start and read back on every restart — the
    * Kafka initial-offsets idiom. Without this, a checkpoint restart
    * re-resolved "latest" to the CURRENT version, silently withholding
    * every commit that landed while the stream was down until a LATER
    * commit advanced past the re-resolved bar (delivery stalled forever on
    * a quiet table — ADVICE r13). The write is create-exclusive, so a
    * racing twin start reads the winner's value.
    */
  private def resolveLatestOnce(sqlContext: SQLContext, metadataPath: String,
                                root: String): Long = {
    val file = new org.apache.hadoop.fs.Path(metadataPath, "graft-cdc-start")
    val fs = file.getFileSystem(
      sqlContext.sparkSession.sessionState.newHadoopConf())
    def readBack(): Long = {
      val in = fs.open(file)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
    if (fs.exists(file)) readBack()
    else {
      val resolved = SnapshotStore.currentVersion(root).getOrElse(-1L)
      fs.mkdirs(file.getParent)
      try {
        val out = fs.create(file, false) // create-exclusive: loser reads winner
        try out.write(resolved.toString.getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        resolved
      } catch { case _: java.io.IOException => readBack() }
    }
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val root = rootOf(sqlContext, parameters)
    val startAfter = parameters.get("startingVersion").map {
      case "latest" => resolveLatestOnce(sqlContext, metadataPath, root)
      case n => n.toLong
    }
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxVersions.foreach(m => require(m > 0,
      s"graft-cdc: maxVersionsPerTrigger must be positive, got $m"))
    new GraftCdcSource(sqlContext.sparkSession.asInstanceOf[ClassicSession],
      root, feedSchema(root), startAfter, maxVersions)
  }
}

private[graftext] final class GraftCdcSource(spark: ClassicSession,
                                             root: String,
                                             override val schema: StructType,
                                             startAfter: Option[Long],
                                             maxVersions: Option[Long] = None)
  extends Source {

  private def offsetValue(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => throw new IllegalArgumentException(
      s"graft-cdc: unexpected offset type ${other.getClass.getName}")
  }

  /** The last end offset this source SERVED (via getBatch) — the rate
    * limiter's base. On restart the engine replays the checkpointed
    * batch through getBatch before asking for a new offset, so this is
    * populated before it matters (the FileStreamSource bookkeeping
    * idiom). None = fresh stream, nothing served yet.
    */
  private var servedThrough: Option[Long] = None

  /** Highest committed version ≥ the configured start, capped to
    * `maxVersionsPerTrigger` commits past what was already served —
    * a consumer resuming behind a long commit backlog catches up in
    * bounded batches instead of one table-month-sized micro-batch.
    * None = nothing to serve yet.
    */
  override def getOffset: Option[Offset] = synchronized {
    val cap = for {
      m <- maxVersions
      base = servedThrough.orElse(startAfter)
    } yield base.getOrElse(
      // Fresh unbounded-start stream: the bootstrap snapshot counts as
      // serving the earliest retained version; deltas meter from there.
      SnapshotStore.versions(root).headOption.getOrElse(-1L)) + m
    // Floor on what was already SERVED when the engine has replayed a
    // checkpointed batch (servedThrough set); startingVersion only governs
    // a stream that has served nothing — the Delta contract (the
    // checkpoint, not the option, is authoritative on resume).
    SnapshotStore.currentVersion(root)
      .filter(v => servedThrough.orElse(startAfter).forall(v > _))
      .map(v => LongOffset(cap.fold(v)(math.min(v, _))))
  }

  /** The row-level delta of commits in (start, end] — per-commit diffs
    * unioned, each stamped with its `_commit_version`. A fresh stream
    * (start = None) bootstraps from the earliest retained version as
    * all-inserts unless `startingVersion` skipped it.
    */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = offsetValue(end)
    synchronized {
      servedThrough = Some(servedThrough.fold(endV)(math.max(_, endV)))
    }
    val vs = SnapshotStore.versions(root)
    val from = start.map(offsetValue).orElse(startAfter)
    // Each version is decoded once per batch: commit v's delta and commit
    // v+1's share manifest v.
    val decoded = scala.collection.mutable.Map.empty[Long, SnapshotStore.Snapshot]
    def at(v: Long) = decoded.getOrElseUpdate(v, SnapshotStore.snapshot(root, v))
    // A v0 commit's delta IS its full content (there is no base manifest).
    def deltaOf(v: Long): DataFrame =
      if (v == 0L) SnapshotStore.readAt(spark, at(0L))
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(0L))
      else SnapshotStore.changesOf(spark, at(v - 1), at(v))
        .withColumn("_commit_version", lit(v))
    val pieces: Seq[DataFrame] = from match {
      case Some(f) =>
        require(f <= endV, s"graft-cdc: start $f beyond end $endV at $root")
        // Loud on vacuumed history: commit v's delta needs manifests v-1
        // AND v; a pruned range silently dropping commits would be data
        // loss, the falling-off-the-Kafka-tail case.
        val gone = ((f + 1) to endV).filterNot(vs.contains) ++
          Some(f).filter(b => b >= 0 && f < endV && !vs.contains(b))
        require(gone.isEmpty, s"graft-cdc: version(s) " +
          s"${gone.distinct.sorted.mkString(", ")} at $root were vacuumed " +
          s"past (oldest retained: ${vs.headOption.getOrElse("<none>")}); " +
          "the stream's delta bases are gone — reseed from a new " +
          "checkpoint or raise vacuum's keepVersions")
        ((f + 1) to endV).map(deltaOf)
      case None =>
        val v0 = vs.headOption.getOrElse(throw new IllegalStateException(
          s"graft-cdc: no committed snapshot at $root"))
        val bootstrap = SnapshotStore.readAt(spark, at(v0))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v0))
        bootstrap +: vs.filter(v => v > v0 && v <= endV).map(deltaOf)
    }
    val batch = pieces match {
      case Seq() => // engine replayed an empty range; serve schema-only
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case ps => ps.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    // Conform to the source schema (a bootstrap version may predate an
    // evolved column — it reads as null, the schema-evolution contract),
    // pin column order, then re-wrap as a STREAMING frame over the
    // computed plan (the V1-source contract; same bridge the file stream
    // source uses).
    val have = batch.columns.toSet
    val conformed = schema.fields.filterNot(f => have(f.name))
      .foldLeft(batch)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType)))
    val ordered = conformed.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    spark.internalCreateDataFrame(
      ordered.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def commit(end: Offset): Unit = () // engine checkpoint is authoritative

  override def stop(): Unit = ()

  override def toString: String = s"GraftCdcSource[$root]"
}
