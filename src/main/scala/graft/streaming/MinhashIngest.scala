package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.{IndexManifests, MinhashIndex}
import graft.util.LocalFs

/** STREAMING incremental near-dup ingest — the crawl-pipeline shape of
  * [[graft.extra.MinhashIndex]], mirroring [[SubstrIngest]]: each
  * curated micro-batch is verdicted against the persisted band index
  * (standing corpus + every earlier committed batch's SURVIVORS), the
  * verdict table lands under `outDir/batch=<id>/`, and the batch's
  * NON-DUP docs append into the index — so later batches dedup against
  * exactly what survived, and a near-copy arriving twice across
  * batches is flagged the second time.
  *
  * EXACTLY-ONCE on both legs from one commit point (the
  * [[SubstrIngest]] analysis verbatim): the index append carries the
  * `(streamId, batchId)` txn token and is the LAST step; the verdict
  * sink writes `Overwrite` into a per-batch directory BEFORE the
  * append, so replay before the commit recomputes identical verdicts
  * against an UNCHANGED index and rewrites them, replay after finds
  * the ledger advanced and skips whole. Verdict-BEFORE-append is
  * load-bearing: appending first would make the replayed verdict see
  * the batch's own bands as corpus and flag every doc a dup of itself.
  *
  * Contract: the index at `indexDir` must exist
  * ([[MinhashIndex.build]]); ids globally unique across the stream.
  * Empty batches no-op without advancing the ledger.
  */
object MinhashIngest {

  /** One micro-batch through the verdict→sink→append chain — factored
    * out so specs can drive crash-replay directly. Returns true when
    * applied, false when the ledger skipped it.
    */
  private[graft] def applyBatch(spark: SparkSession, indexDir: String,
      outDir: String, df: DataFrame, idCol: String, textCol: String,
      streamId: String, batchId: Long, threshold: Double,
      autoCompactFanout: Int = 0): Boolean = {
    val (_, entries) = IndexManifests.requireLatest(spark, indexDir,
      "minhash")
    if (IndexManifests.txnApplied(entries, streamId, batchId))
      return false
    // pin the source frame for the chain's DAG branches (the
    // SubstrIngest lesson: an unpersisted foreachBatch frame re-reads
    // the source per branch)
    val batch = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (batch.isEmpty) return false
      val verdicts = MinhashIndex.dedupBatch(spark, indexDir, batch,
        idCol, textCol, threshold)
      verdicts.write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/batch=$batchId")
      // survivors only: a doc flagged dup must NOT become a canonical
      // for later batches (the curation-drop semantics)
      val keptIds = spark.read.parquet(s"$outDir/batch=$batchId")
        .filter(!col("is_dup")).select(col(idCol))
      MinhashIndex.append(
        batch.join(keptIds, Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol)),
        idCol, textCol, indexDir, txn = Some((streamId, batchId)),
        autoCompactFanout = autoCompactFanout)
      true
    } finally batch.unpersist(blocking = false): Unit
  }

  /** Start the ingest over a curated (doc_id, text, …) stream.
    * `autoCompactFanout` (default 8) is the ingest-side maintenance
    * guard shared with the other index streams.
    */
  def start(curated: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.5,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true,
      autoCompactFanout: Int = 8): StreamingQuery = {
    val streamId = AnnIngest.streamIdOf("minhash", checkpointDir)
    LocalFs.install(curated.sparkSession)
    curated
      .select(col(idCol), col(textCol))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        if (sinkGate())
          applyBatch(df.sparkSession, indexDir, outDir, df, idCol,
            textCol, streamId, batchId, threshold,
            autoCompactFanout): Unit
      }
      .start()
  }
}
