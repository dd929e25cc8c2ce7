package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.IncrementalAgg
import graft.extra.IncrementalAgg.ViewSpec
import graft.util.LocalFs

/** Streaming maintenance of an [[IncrementalAgg]] materialized view:
  * each micro-batch of RAW rows is folded into the stored partial-agg
  * state via [[IncrementalAgg.refresh]] — the dashboard-feeding
  * aggregate stays current at O(batch + touched state) per trigger,
  * and no job ever re-reads history.
  *
  * The combine refresh is NOT replay-idempotent (a re-applied delta
  * double-counts — the opposite failure mode of
  * [[MergeStream]]'s version guard, which makes replays no-ops by
  * construction). foreachBatch is at-least-once on crash recovery, so
  * this sink adds the standard exactly-once discipline: an APPLIED-
  * BATCH LEDGER (`<viewDir>/_applied/<batchId>` markers, written only
  * after the refresh commits). A replayed batch whose marker exists is
  * skipped. The remaining window — crash between refresh commit and
  * marker create — is the same commit-atomicity gap
  * [[graft.extra.Merge]] scaladocs for its file swap; at 100 TB both
  * close together by making {state files, marker} one manifest commit.
  *
  * First batch bootstraps the view (`init`) when `viewDir` holds no
  * state yet.
  */
object ViewStream {

  /** Apply one batch exactly once. Returns true when the batch was
    * applied, false when its marker showed it already was (replay) or
    * it was empty.
    */
  def applyBatch(batch: DataFrame, viewDir: String, spec: ViewSpec,
      batchId: Long, numFiles: Int = 8): Boolean = {
    val spark = batch.sparkSession
    val root = new Path(viewDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, s"_applied/$batchId")
    if (fs.exists(marker) || batch.isEmpty) return false
    val hasState = fs.exists(root) && fs.listStatus(root)
      .exists(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (hasState)
      IncrementalAgg.refresh(spark, viewDir, batch, spec)
    else
      IncrementalAgg.init(batch, spec, viewDir, numFiles)
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    true
  }

  /** Start maintaining the view from the streaming `rows` (raw rows,
    * the view's input grain — not pre-aggregated). `sinkGate` is the
    * same graceful-drain hook as the other sinks.
    */
  def start(rows: DataFrame, viewDir: String, checkpointDir: String,
      spec: ViewSpec, numFiles: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true): StreamingQuery = {
    LocalFs.install(rows.sparkSession)
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        if (sinkGate())
          applyBatch(df, viewDir, spec, batchId, numFiles): Unit
      }
      .start()
  }
}
