package graft.streaming

import org.apache.spark.sql.DataFrame
import graft.sources.SnapshotStore

/** Transactional streaming sink: Structured Streaming micro-batches
  * committed into a [[SnapshotStore]] table — the composition that turns
  * the store into a streaming-writable lakehouse table.
  *
  * Why a plain `foreachBatch` parquet upsert (a dynamic partition
  * overwrite keyed by the upsert column) isn't enough: it gives
  * exactly-once CONTENT, but a reader racing the overwrite can observe
  * a half-replaced partition. Routing each batch through
  * `SnapshotStore.merge` instead gives every micro-batch commit
  * snapshot isolation (readers see whole versions only), time travel
  * across batch boundaries, and a version history that doubles as the
  * stream's audit log.
  *
  * Exactly-once across RESTARTS is the `(appId, batchId)` transaction
  * marker ([[SnapshotStore.lastTxn]], the Delta `txn` action): after a
  * crash between sink-commit and checkpoint-commit, Structured Streaming
  * replays the last batch with the SAME batchId — the guard sees
  * `lastTxn >= batchId` and skips, so the replay is a no-op instead of a
  * double-merge. (Within one run, batchIds are strictly increasing, so
  * the guard never skips fresh work.)
  *
  * A CONCURRENT batch writer to the same table surfaces as
  * [[SnapshotStore.SnapshotConflictException]] from the losing merge —
  * the stream fails loudly and restarts from its checkpoint rather than
  * silently interleaving (the store's single-writer-per-commit contract).
  *
  * Scale posture: per micro-batch cost is the merge's — proportional to
  * the batch plus its touched partitions, never the table; the manifest
  * chain grows by one KB-sized entry per batch and is the thing
  * [[SnapshotStore.vacuum]] trims. Pair with periodic
  * [[SnapshotStore.compact]] (selected partitions, sorted range-split)
  * to fold the per-batch small files back into stats-prunable layout —
  * compaction is its own atomic commit, safe to run beside the stream
  * (a lost race simply surfaces as the store's conflict and is retried).
  */
object SnapshotSink {

  /** The `foreachBatch` function: merge each micro-batch into the store
    * by key within partition, replay-safe via the txn marker. Usage:
    *
    * {{{
    * df.writeStream
    *   .foreachBatch(SnapshotSink.mergeBatch(root, "k", "part", "appX"))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    */
  def mergeBatch(root: String, keyCol: String, partCol: String,
                 appId: String): (DataFrame, Long) => Unit =
    guarded(root, Some(partCol), appId) { (batch, txn) =>
      SnapshotStore.merge(batch.sparkSession, root, batch, keyCol, partCol, txn = txn)
    }

  /** The append-mode twin of [[mergeBatch]]: each micro-batch lands as an
    * append commit (the event-log shape — no key, rows only ever added),
    * with the SAME txn-marker replay guard and empty-batch skip. First
    * batch bootstraps the table; `partCol = None` writes an unpartitioned
    * log (or follows the table's recorded layout if one exists).
    */
  def appendBatch(root: String, partCol: Option[String],
                  appId: String): (DataFrame, Long) => Unit =
    guarded(root, partCol, appId) { (batch, txn) =>
      SnapshotStore.append(batch, root, partCol, txn = txn)
    }

  /** `commit(batch, txn)` of each micro-batch, behind the guard both
    * sinks share:
    *   - the batch is persisted and fully counted FIRST (the documented
    *     foreachBatch pattern for multi-action use): a limit-1 emptiness
    *     probe executes only a partition prefix, which (a) re-runs the
    *     micro-batch scan per action and (b) leaves stateful-upstream
    *     state stores uncommitted — Spark 4's state-store commit
    *     validation fails the batch (StreamingSpec's chained-topology
    *     scenario caught it);
    *   - an empty batch publishes nothing: empty micro-batches are
    *     routine, and an empty FIRST batch would bootstrap a zero-file
    *     table (replaying a skipped empty batch is trivially idempotent,
    *     so no txn marker is needed);
    *   - a replayed batch (restart raced the checkpoint) is already
    *     published — the no-op IS the exactly-once guarantee;
    *   - the first batch bootstraps the table with `partCol`'s layout.
    */
  private def guarded(root: String, partCol: Option[String], appId: String)
                     (commit: (DataFrame, Option[(String, Long)]) => Unit)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => {
      batch.persist()
      try {
        val txn = Some(appId -> batchId)
        if (batch.count() == 0L) ()
        else if (SnapshotStore.lastTxn(root, appId).exists(_ >= batchId)) ()
        else if (SnapshotStore.currentVersion(root).isEmpty)
          SnapshotStore.overwrite(batch, root, partCol, txn = txn)
        else commit(batch, txn)
      } finally { batch.unpersist(); () }
    }
}
