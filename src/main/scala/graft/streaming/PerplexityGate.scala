package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.KnLm
import graft.util.LocalFs

/** STREAMING perplexity gate — the online half of the CCNet LM filter:
  * a FROZEN [[KnLm]] model (fitted offline on the curated corpus,
  * usually loaded from the persisted registry) scores every micro-batch
  * of an incoming document stream, and the per-doc verdicts (n_trigrams,
  * cross_entropy, keep) land under `outDir/batch=<id>/`.
  *
  * Shape: foreachBatch over [[KnLm.scoreProbed]] — the
  * batch-driven-probe discipline of the ingest legs ([[SubstrIngest]]
  * et al.): the model frames are STATIC DataFrames; per batch the
  * trigram/context frames are semi-join-filtered down to the batch's
  * bounded key set and broadcast (no model shuffle inside a
  * micro-batch; falls back to keyed joins past the broadcast budget),
  * backoff frames broadcast outright — and nothing model-sized is
  * ever collected to the driver, the contract that distinguishes this
  * from [[CurationStream.classifyStream]]'s typed broadcast-map tier
  * (an NB model is vocab-bounded; a trigram table is not).
  *
  * Idempotence WITHOUT a txn ledger: unlike the index-ingest legs this
  * gate mutates nothing — the verdict is a pure function of (frozen
  * model, batch), and the sink `Overwrite`s the per-batch directory, so
  * a replayed batch rewrites identical bytes. Docs with < 3 tokens
  * have no trigrams and drop (the [[KnLm.score]] contract) — gate them
  * upstream ([[graft.extra.Curation.Config.minTokens]]) if every row
  * must reach the sink.
  */
object PerplexityGate {

  private[graft] def applyBatch(spark: SparkSession, model: KnLm.Model,
      outDir: String, df: DataFrame, idCol: String, textCol: String,
      maxCrossEntropy: Double, batchId: Long): Unit = {
    if (!df.isEmpty) {
      // NULL cross_entropy (a group absent from a grouped model) is a
      // fail-safe DROP, not a pass. scoreProbed: a micro-batch's key
      // set is batch-bounded, so the model legs run as broadcast
      // probes (no per-batch model shuffle); past the broadcast
      // budget it degrades to score's keyed joins
      KnLm.scoreProbed(df, idCol, textCol, model)
        .withColumn("keep",
          coalesce(col("cross_entropy") <= maxCrossEntropy, lit(false)))
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/batch=$batchId")
    }
  }

  /** Start the gate over a (idCol, textCol, …) document stream.
    * `maxCrossEntropy` is the CCNet-style keep threshold (the verdict
    * column only — all scored rows land, the consumer filters), taken
    * from the offline bucket boundaries ([[graft.extra.Text
    * .perplexityBuckets]]).
    */
  def start(docs: DataFrame, model: KnLm.Model, outDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text",
      maxCrossEntropy: Double = Double.MaxValue,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true): StreamingQuery = {
    LocalFs.install(docs.sparkSession)
    docs
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        if (sinkGate())
          applyBatch(df.sparkSession, model, outDir, df, idCol,
            textCol, maxCrossEntropy, batchId)
      }
      .start()
  }
}
