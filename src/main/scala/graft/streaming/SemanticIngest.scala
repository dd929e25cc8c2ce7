package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.{IndexManifests, SemanticIndex}
import graft.util.LocalFs

/** STREAMING semantic dedup — the online SemDeDup leg, closing the
  * incremental-ingest family ([[MinhashIngest]] lexical near-dup,
  * [[SubstrIngest]] exact-substring spans, this one embedding-space):
  * each embedded micro-batch is semantically deduped against the
  * persisted [[graft.extra.SemanticIndex]] (standing corpus + every
  * earlier batch's SURVIVORS + its own batch-mates), the per-document
  * VERDICTS land under `outDir/batch=<id>/`, and the survivors'
  * vectors append into the index — later batches dedup against
  * exactly what the corpus kept.
  *
  * EXACTLY-ONCE on both legs from one commit point (the
  * [[SubstrIngest]] analysis verbatim): the verdict sink writes
  * `Overwrite` into a per-batch directory BEFORE the index append,
  * whose manifest commit carries the `(streamId, batchId)` txn token
  * and is the LAST step. Replay before the commit recomputes
  * identical verdicts against an unchanged index (the operator is a
  * pure function of index + batch under the FROZEN codebook) and
  * overwrites the same directory; replay after finds the ledger
  * advanced and skips.
  *
  * Contract: the index exists ([[SemanticIndex.build]]); ids unique
  * and monotone above all indexed ids; vectors non-zero at the
  * codebook's dimension. Empty batches no-op without advancing the
  * ledger.
  */
object SemanticIngest {

  private[graft] def applyBatch(spark: SparkSession, indexDir: String,
      outDir: String, df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, streamId: String, batchId: Long,
      autoCompactFanout: Int = 0): Boolean = {
    val (_, entries) = IndexManifests.requireLatest(spark, indexDir,
      "semantic")
    if (IndexManifests.txnApplied(entries, streamId, batchId))
      return false
    // pin the source batch: the verdict chain and the survivor append
    // both read it, and an unpersisted foreachBatch frame re-reads the
    // transport per consumer
    val batch = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (batch.isEmpty) return false
      val verdicts = SemanticIndex.dedupBatch(spark, indexDir, batch,
          idCol, vecCol, threshold)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        verdicts.write.mode(SaveMode.Overwrite)
          .parquet(s"$outDir/batch=$batchId")
        val survivors = batch.join(
          verdicts.filter(!col("is_dup")).select(col(idCol)),
          Seq(idCol), "left_semi")
        SemanticIndex.append(survivors, idCol, vecCol, indexDir,
          txn = Some((streamId, batchId)),
          autoCompactFanout = autoCompactFanout): Unit
      } finally verdicts.unpersist(blocking = false): Unit
      true
    } finally batch.unpersist(blocking = false): Unit
  }

  /** Start the ingest over an embedded (doc_id, embedding, …) stream.
    * `sinkGate` is the graceful-drain hook; `autoCompactFanout`
    * (default 16) the ingest-side maintenance guard — both the
    * [[SubstrIngest]] contracts.
    */
  def start(embedded: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      vecCol: String = "embedding", threshold: Double = 0.9,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true,
      autoCompactFanout: Int = 8): StreamingQuery = {
    val streamId = AnnIngest.streamIdOf("semantic", checkpointDir)
    LocalFs.install(embedded.sparkSession)
    embedded
      .select(col(idCol), col(vecCol))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        if (sinkGate())
          applyBatch(df.sparkSession, indexDir, outDir, df, idCol,
            vecCol, threshold, streamId, batchId,
            autoCompactFanout): Unit
      }
      .start()
  }
}
