package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Manifest, SnapshotStore}

/** Incremental READ side of a [[SnapshotStore]] table — the tailing
  * consumer that turns the manifest log into a micro-batch change
  * stream, so a downstream training-data pipeline keeps up with a table
  * other writers are committing to without ever re-scanning it.
  *
  * This is the composition of two existing pieces (the CDC diff
  * [[SnapshotStore.changes]] + the file-stream consumption idiom) rather
  * than a new format: the manifest chain IS the write-ahead log, each
  * committed version is one offset, and a micro-batch is the row-level
  * delta of exactly one commit.
  *
  * Contract (the Kafka-consumer shape, deliberately):
  *
  *   - [[poll]] returns the delta of the NEXT unconsumed version — the
  *     table's columns plus `_change_type` ('insert'/'delete', or
  *     'update_preimage'/'update_postimage' across a keyed commit) and
  *     `_commit_version` — or None when caught up. The first poll of a
  *     fresh consumer emits the INITIAL SNAPSHOT as all-inserts (the
  *     standard CDC bootstrap), unless `startAfter` skips history.
  *   - [[commit]] durably records a processed version (atomic tmp+move,
  *     same discipline as the store's manifests). A crash between poll
  *     and commit re-delivers the same batch: AT-LEAST-ONCE delivery,
  *     upgraded to exactly-once by an idempotent downstream sink (e.g.
  *     [[SnapshotSink]]'s (appId,batchId) marker with the version as the
  *     batch id — the same composition Structured Streaming uses).
  *   - A restarted consumer on the same checkpoint resumes AFTER the
  *     last committed version; nothing is re-read, nothing skipped.
  *   - [[drain]] is the poll/process/commit loop for callers that just
  *     want to catch up.
  *
  * Retention interaction: computing version v's delta needs manifest
  * v-1. If [[SnapshotStore.vacuum]] pruned past the consumer's position
  * (the consumer fell behind the retention window), poll FAILS LOUDLY
  * with the reseed instruction instead of silently emitting a wrong
  * delta — the same contract as falling off the tail of a Kafka topic.
  * [[SnapshotChangeFeed.deltas]] computes each batch, the function the
  * `graft-cdc` streaming source serves too.
  *
  * Scale posture: each poll is one directory listing + two manifest
  * parses + a scan of the TOUCHED files only (the changes() cost model);
  * the consumer never reads table-proportional data unless a commit
  * touched table-proportional files.
  */
final class SnapshotChangeFeed(root: String, checkpointPath: String,
                               startAfter: Option[Long] = None) {

  private def ckptFile = Paths.get(checkpointPath)

  /** Last version durably marked processed (checkpoint wins over
    * `startAfter`; None = fresh consumer that wants the bootstrap).
    */
  def consumed: Option[Long] =
    (if (Files.exists(ckptFile))
      Some(new String(Files.readAllBytes(ckptFile), StandardCharsets.UTF_8)
        .trim.toLong)
    else None).orElse(startAfter)

  def commit(version: Long): Unit = {
    consumed.foreach(c => require(version >= c,
      s"commit($version) behind checkpoint $c"))
    Manifest.replaceFile(ckptFile, version.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** The next unconsumed commit's row delta, or None when caught up. */
  def poll(spark: SparkSession): Option[(DataFrame, Long)] = {
    val vs = SnapshotStore.versions(root)
    consumed.fold(vs.headOption)(c => vs.find(_ > c))
      .flatMap(next => SnapshotChangeFeed.deltas(spark, root, consumed, next).map(_ -> next))
  }

  /** Poll/process/commit until caught up; returns versions processed. */
  def drain(spark: SparkSession)(f: (DataFrame, Long) => Unit): Seq[Long] = {
    val done = Seq.newBuilder[Long]
    var batch = poll(spark)
    while (batch.isDefined) {
      val (df, v) = batch.get
      f(df, v)
      commit(v)
      done += v
      batch = poll(spark)
    }
    done.result()
  }
}

object SnapshotChangeFeed {

  /** The row delta of the commits in (`after`, `through`] of the table at
    * `root`: the table's columns plus `_change_type` and
    * `_commit_version`, one [[SnapshotStore.changesOf]] delta per commit
    * (a version-0 commit's delta is its full content). With `after` None
    * the delta starts with the bootstrap — the earliest RETAINED
    * version's full content as 'insert' rows (if vacuum trimmed history,
    * that is the oldest consistent state that still exists) — followed
    * by the later commits' deltas. None when the range holds no commit.
    *
    * Commit v's delta needs manifests v-1 and v; when
    * [[SnapshotStore.vacuum]] pruned one of them (the consumer fell
    * behind the retention window) this fails loudly with the reseed
    * instruction instead of silently skipping commits — the falling-off-
    * the-Kafka-tail contract.
    */
  def deltas(spark: SparkSession, root: String, after: Option[Long],
             through: Long): Option[DataFrame] = {
    val vs = SnapshotStore.versions(root)
    // Each version is decoded once: commit v's delta and commit v+1's
    // share manifest v.
    val decoded = scala.collection.mutable.Map.empty[Long, SnapshotStore.Snapshot]
    def at(v: Long) = decoded.getOrElseUpdate(v, SnapshotStore.snapshot(root, v))
    def stamped(df: DataFrame, v: Long) = df.withColumn("_commit_version", lit(v))
    def inserts(v: Long) = stamped(
      SnapshotStore.readAt(spark, at(v)).withColumn("_change_type", lit("insert")), v)
    def deltaOf(v: Long) =
      if (v == 0L) inserts(0L) else stamped(SnapshotStore.changesOf(spark, at(v - 1), at(v)), v)
    val pieces = after match {
      case Some(f) =>
        require(f <= through, s"change feed start $f beyond end $through at $root")
        val gone = ((f + 1) to through).filterNot(vs.contains) ++
          Some(f).filter(b => b >= 0 && f < through && !vs.contains(b))
        require(gone.isEmpty, s"version(s) ${gone.distinct.sorted.mkString(", ")} at $root " +
          s"were vacuumed past (oldest retained manifest: ${vs.headOption.getOrElse("<none>")}); " +
          "the delta bases are gone — reseed from a fresh bootstrap (new checkpoint) " +
          "or raise vacuum's keepVersions")
        ((f + 1) to through).map(deltaOf)
      case None =>
        val v0 = vs.headOption.getOrElse(
          throw new IllegalStateException(s"no committed snapshot at $root"))
        inserts(v0) +: vs.filter(v => v > v0 && v <= through).map(deltaOf)
    }
    pieces.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }
}
