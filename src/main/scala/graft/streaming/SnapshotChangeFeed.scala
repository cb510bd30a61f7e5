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
    if (vs.isEmpty) return None
    consumed match {
      case None =>
        // Bootstrap: the earliest retained version's full content as
        // inserts. (If vacuum trimmed history, the earliest RETAINED
        // version is the correct seed — it is the oldest consistent
        // state that still exists.)
        val v0 = vs.head
        Some(SnapshotStore.read(spark, root, Some(v0))
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_version", lit(v0)) -> v0)
      case Some(c) =>
        vs.find(_ > c).map { next =>
          require(vs.contains(c),
            s"consumer position $c was vacuumed past (oldest retained " +
              s"manifest: ${vs.head}); the delta base is gone — reseed " +
              "from a fresh bootstrap (new checkpoint) or raise vacuum's keepVersions")
          SnapshotStore.changes(spark, root, c, next)
            .withColumn("_commit_version", lit(next)) -> next
        }
    }
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
