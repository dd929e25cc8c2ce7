package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.Snapshots
import graft.util.LocalFs

/** Streaming CDC into a SNAPSHOT-VERSIONED table — [[MergeStream]]'s
  * semantics lifted onto the manifest layer, which upgrades both of
  * its documented caveats:
  *
  *   - READER ISOLATION: [[graft.extra.Merge]]'s in-place rewrite
  *     warns that a reader racing the file swap can see both copies of
  *     a row; here every micro-batch commits a NEW manifest version
  *     atomically, so concurrent readers always resolve a complete
  *     committed version — and can time-travel the table as of any
  *     batch.
  *   - EXACTLY-ONCE, not just replay-idempotence: foreachBatch is
  *     at-least-once on crash recovery. [[MergeStream]] survives
  *     replays because the versioned rewrite reproduces identical
  *     content; this sink additionally records `(appId, batchId)` IN
  *     the committed manifest ([[Snapshots.upsertVersioned]]'s `txn` —
  *     the Delta transaction-token pattern), so a replayed batch is
  *     DETECTED via [[Snapshots.lastTxn]] and skipped without
  *     committing a redundant version. Because the token rides the
  *     same atomic manifest create as the data, "was it applied" and
  *     "is it visible" cannot disagree, whatever the crash point.
  *
  * Within/between batches the version guard gives the same batching
  * invariance as [[MergeStream]]: any split of a change set into
  * micro-batches, in any order, converges to the same final content
  * (one row per key, the max-`versionCol` row); stale rows are
  * discarded. Cost per trigger is an [[Snapshots.upsert]]: manifest
  * read + footer-free stats prune + rewrite of touched files only.
  * Frequent triggers accrete versions and fragment clustering —
  * [[Snapshots.compact]] and [[Snapshots.vacuum]] are the standing
  * maintenance answer, same cadence as the index sinks.
  */
object SnapshotStream {

  /** Start applying the change stream to the snapshot table at
    * `tableDir` (must exist — [[Snapshots.init]] it from the initial
    * corpus). Stream schema must equal the table schema, `versionCol`
    * included. `appId` scopes the exactly-once ledger and must be
    * stable across restarts of THIS stream (default: the checkpoint
    * path, which is exactly that); `sinkGate` is the usual graceful
    * drain hook.
    */
  def start(changes: DataFrame, tableDir: String, checkpointDir: String,
      key: String, versionCol: String,
      trigger: Trigger = Trigger.AvailableNow(),
      appId: Option[String] = None,
      sinkGate: () => Boolean = () => true): StreamingQuery = {
    val app = appId.getOrElse(checkpointDir)
    LocalFs.install(changes.sparkSession)
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        applyBatch(df, tableDir, key, versionCol, app, batchId,
          sinkGate): Unit
      }
      .start()
  }

  /** One micro-batch apply — exposed so specs (and batch backfills
    * that want streaming-identical semantics) can drive it directly.
    * Returns true when the batch was applied, false when skipped
    * (already-committed txn, gated sink, or empty batch).
    */
  private[graft] def applyBatch(df: DataFrame, tableDir: String,
      key: String, versionCol: String, appId: String, batchId: Long,
      sinkGate: () => Boolean = () => true): Boolean = {
    if (!sinkGate() || df.isEmpty) return false
    val spark = df.sparkSession
    if (Snapshots.lastTxn(spark, tableDir, appId).exists(_ >= batchId))
      return false // replayed batch: its data is already committed
    Snapshots.upsertVersioned(spark, tableDir, df, key, versionCol,
      txn = Some((appId, batchId)))
    true
  }
}
