package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.Snapshots
import graft.util.LocalFs

/** Slowly-changing-dimension enrichment against a snapshot table
  * ([[Snapshots]]): the stream joins each micro-batch with the dim's
  * LATEST committed version, re-resolved per trigger.
  *
  * Why a snapshot and not a parquet dir: dim updates commit atomically
  * (manifest swap), so a batch never reads a half-written dim; each
  * batch is internally consistent (one manifest); and a bad dim push
  * is a one-line time-travel rollback. The stream itself never
  * restarts — a new version simply takes effect at the next trigger.
  * Per-trigger cost is the manifest read (one small file) + the dim
  * scan the join needs anyway; the dim is broadcast (dims that outgrow
  * broadcast should pre-bucket both sides instead).
  */
object SnapshotDim {

  /** One micro-batch's enrichment: batch ⋈ latest dim version. */
  def enrich(batch: DataFrame, snapDir: String, keys: Seq[String],
      joinType: String = "left"): DataFrame =
    batch.join(broadcast(Snapshots.read(batch.sparkSession, snapDir)),
      keys, joinType)

  /** Start the enrichment stream; `sink` receives each enriched
    * micro-batch (foreachBatch semantics — at-least-once on recovery).
    */
  def start(rows: DataFrame, snapDir: String, keys: Seq[String],
      checkpointDir: String, sink: DataFrame => Unit,
      joinType: String = "left",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    LocalFs.install(rows.sparkSession)
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, _: Long) =>
        sink(enrich(df, snapDir, keys, joinType))
      }
      .start()
  }
}
