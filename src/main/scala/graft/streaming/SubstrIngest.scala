package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.{IndexManifests, SubstrIndex}
import graft.util.LocalFs

/** STREAMING incremental ExactSubstr — the crawl-pipeline shape of
  * [[graft.extra.SubstrIndex]]: each curated micro-batch is
  * span-deduped against the persisted gram-posting index (standing
  * corpus + every earlier committed batch + its own batch-mates), the
  * CLEANED text lands under `outDir/batch=<id>/`, and the cleaned
  * batch's grams append into the index — so later batches dedup
  * against exactly what survived, never against cut content.
  *
  * EXACTLY-ONCE on BOTH legs, from one commit point:
  *   - the index append carries the `(streamId, batchId)` txn token
  *     ([[IndexManifests.txnApplied]]) and is the LAST step;
  *   - the cleaned-docs sink writes `Overwrite` into a per-batch
  *     directory BEFORE the append, so it is idempotent by batch id.
  *
  * Crash analysis: replay before the index commit re-runs the dedup
  * against an UNCHANGED index (same cleaned rows — the operator is a
  * pure function of index + batch), overwrites the same out
  * directory, and appends; replay after the commit finds the ledger
  * advanced and skips the whole batch (the out directory was already
  * written before the commit landed). Either way both artifacts hold
  * each batch's rows exactly once. The dedup-BEFORE-append ordering
  * is load-bearing: appending first would make the replayed dedup see
  * the batch's own grams as corpus content and cut every copy.
  *
  * Contract: the index at `indexDir` must exist ([[SubstrIndex.build]]
  * over the standing corpus); ids globally unique across the stream
  * AND monotone above the corpus ids (the [[SubstrIndex]] contract —
  * a batch id sorting below a corpus id pulls canonicality into the
  * batch and the untouchable corpus copy survives as a duplicate).
  * Empty batches no-op without advancing the ledger.
  */
object SubstrIngest {

  /** One micro-batch through the dedup→sink→append chain — factored
    * out so specs can drive crash-replay directly. Returns true when
    * the batch was applied, false when the ledger skipped it.
    */
  private[graft] def applyBatch(spark: SparkSession, indexDir: String,
      outDir: String, df: DataFrame, idCol: String, textCol: String,
      streamId: String, batchId: Long,
      minSpanTokens: Int, autoCompactFanout: Int = 0): Boolean = {
    val (_, entries) = IndexManifests.requireLatest(spark, indexDir,
      "substr")
    if (IndexManifests.txnApplied(entries, streamId, batchId))
      return false
    // the batch frame feeds the dedup chain's ~5 DAG branches
    // (grams ×2, batch-id set, token base, emptiness probe) — an
    // UNPERSISTED foreachBatch frame re-reads the SOURCE per branch
    // (measured: the engine charged ~10× the offered rows per batch,
    // and on a real transport each re-read is a re-fetch), so pin it
    // for the batch's lifetime
    val batch = df.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (batch.isEmpty) return false
      // the PINNED dedup form caches the positioned grams across the
      // chain's range probe + three consumers (unpinned, a 100k-doc
      // batch re-tokenized three times — measured 3.5 s of its 14.8 s
      // chain, r14 verdict #3); the cleaned result is pinned too, so
      // the sink write and the gram append share one materialization
      // instead of a write + parquet re-read round trip
      // probeCutoff=64: the ingest's auto-compaction holds the index
      // well under 64 live files, and a micro-batch's HASHED gram keys
      // are uniform over Long — with K batch keys and nf files, a file
      // survives pruning with probability 1 − e^(−K/nf) ≈ 1 for any
      // realistic batch, so on this path the range-probe job is a pure
      // fixed cost (~0.2 s of every batch). File pruning pays on the
      // BATCH-QUERY path (small probes against a large standing
      // index), which keeps the default cutoff.
      SubstrIndex.dedupBatchPinned(spark, indexDir, batch, idCol,
          textCol, minSpanTokens, probeCutoff = 64) { (cleanedRaw, rawGrams) =>
        // dedupBatch's output text column is the operator's canonical
        // "text"; rename it back to the caller's column so the cleaned
        // sink mirrors the input naming and the append below resolves
        val cleaned = cleanedRaw.withColumnRenamed("text", textCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // materialize the cleaned cache ONCE, then run the two
          // per-batch writes CONCURRENTLY — the sink parquet and the
          // gram-segment files both read the cache, and exactly-once
          // needs only the ORDERING sink-complete → manifest-commit
          // (phase-1 segment files are invisible until the commit;
          // see [[SubstrIndex.prepareAppend]]). Serial, the two legs
          // were the whole back half of the batch's wall time.
          // The count-first pass is LOAD-BEARING: without it the two
          // racing jobs each compute the uncached dedup chain per
          // partition (the cache manager does not cross-job lock), and
          // the in-stream rate measured 9.5k → 7.3k docs/s without it.
          cleaned.count(): Unit
          val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
          try {
            val sinkF = pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = cleaned.write.mode(SaveMode.Overwrite)
                .parquet(s"$outDir/batch=$batchId")
            })
            // append fast path: reuse the pinned raw grams for every
            // doc the dedup left untouched (no second tokenize+gram
            // pass over ~all of the batch), re-gram only the cut docs;
            // numFiles = 4 parallelizes the segment's range-cluster
            // sort instead of funneling a backlog batch through ONE
            // task, and auto-compaction folds the extra files
            val prepared = SubstrIndex.prepareCleanedAppend(spark,
              indexDir, rawGrams, cleaned, idCol, textCol,
              txn = Some((streamId, batchId)), numFiles = 4)
            sinkF.get() // sink MUST be durable before the commit
            prepared.foreach(p => SubstrIndex.commitAppend(spark,
              indexDir, p, Some((streamId, batchId)),
              autoCompactFanout))
          } finally pool.shutdownNow(): Unit
        } finally cleaned.unpersist(blocking = false): Unit
      }
      true
    } finally batch.unpersist(blocking = false): Unit
  }

  /** Start the ingest over a curated (doc_id, text, …) stream — e.g.
    * [[CurationStream.curateStream]] output. `sinkGate` is the same
    * graceful-drain hook as the other ingest sinks.
    * `autoCompactFanout` (default 8) is the ingest-side maintenance
    * guard: a long-running stream folds its posting segments whenever
    * the count passes the threshold, keeping the per-batch range-probe
    * size and read fan-in bounded with no operator in the loop
    * (r14 verdict #5; the fold carries the txn ledger through, so
    * replay safety is unchanged). r17 (the [[AnnIngest.start]]
    * discipline): the HEAVY half of the fold — reading the tier and
    * rewriting one tier-up segment, invisible until committed — runs
    * on a daemon thread concurrent with later micro-batches (guide
    * §2.6, overlap independent jobs); the batch thread only pays the
    * cheap manifest swap once the merge is ready, so a fold no longer
    * stalls the batch that happened to trigger it (the substr block's
    * max-batch spike). The manifest writer stays single-threaded (the
    * batch thread); the fold thread ([[TierFolder]]) stops with the
    * query, and a fold it drops leaves only orphan files for
    * compact/vacuum to sweep.
    */
  def start(curated: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", minSpanTokens: Int = 0,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true,
      autoCompactFanout: Int = 8): StreamingQuery = {
    val streamId = AnnIngest.streamIdOf("substr", checkpointDir)
    val folder = new TierFolder("substr", SubstrIndex.Tier, indexDir,
      curated.sparkSession)
    LocalFs.install(curated.sparkSession)
    folder.boundTo(curated
      .select(col(idCol), col(textCol))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        if (sinkGate()) {
          val spark = df.sparkSession
          // harvest a finished background merge first: one manifest write
          folder.harvest(spark)
          applyBatch(spark, indexDir, outDir, df, idCol,
            textCol, streamId, batchId, minSpanTokens,
            autoCompactFanout = 0): Unit
          if (autoCompactFanout > 0)
            folder.submitIfIdle(spark, autoCompactFanout)
        }
      }
      .start())
  }
}
