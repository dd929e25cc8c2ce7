package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.Merge
import graft.util.LocalFs

/** Streaming half of the corpus-maintenance story
  * ([[graft.extra.Merge]]): a CDC-style change stream — rows carrying a
  * key and a monotone version (change timestamp, log offset, crawl
  * generation) — is applied to the clustered corpus table per
  * micro-batch via [[Merge.upsertVersioned]].
  *
  * The versioned apply is what makes this sink SAFE under streaming
  * semantics, where the plain [[Merge.upsert]] would not be:
  *
  *   - foreachBatch is AT-LEAST-ONCE on crash recovery: a replayed
  *     batch re-applies rows whose versions are already in the table —
  *     ties go to the batch, so the rewrite reproduces the same
  *     content instead of erroring or duplicating (the re-runnable
  *     mirror of the index sinks' documented replay caveat, solved at
  *     the operator rather than deferred to compaction);
  *   - micro-batch boundaries are arbitrary: a key updated twice in
  *     one batch reduces last-wins inside the apply, and a STALE row
  *     landing in a later batch (out-of-order delivery) is discarded
  *     by the version guard instead of clobbering newer data.
  *
  * Together those give the batching-invariance the spec pins: any
  * split of a change set into micro-batches, in any order, converges
  * to the same table — one row per key, the max-version row.
  *
  * Cost per trigger is [[Merge.upsertVersioned]]'s: footer-range file
  * pruning, only touched files rewritten. Frequent tiny triggers slowly
  * fragment the id-clustering (each rewrite re-clusters only the
  * touched range); [[graft.extra.Layout.compact]] is the standing
  * answer, same as for every append sink here.
  */
object MergeStream {

  /** Start applying the change stream to the table at `tableDir` (must
    * already exist — build it with [[graft.extra.Layout.writeClustered]]
    * over the initial corpus). Stream schema must equal the table
    * schema, `versionCol` included. `sinkGate` is the same
    * graceful-drain hook as the other sinks.
    */
  def start(changes: DataFrame, tableDir: String, checkpointDir: String,
      key: String, versionCol: String,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true): StreamingQuery = {
    LocalFs.install(changes.sparkSession)
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        if (sinkGate() && !df.isEmpty)
          Merge.upsertVersioned(df.sparkSession, tableDir, df, key,
            versionCol): Unit
      }
      .start()
  }
}
