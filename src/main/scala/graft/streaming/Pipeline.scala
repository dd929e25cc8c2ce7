package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.ops.Features
import graft.ops.Features.FeatureConfig
import graft.util.{Durations, LocalFs, ParquetRead}

/** The streaming flagship pipeline — reference consumer parity
  * (spark_streaming.py:299-341): source → parse → watermark → sliding
  * windowed features → update-mode foreachBatch sink.
  *
  * Differences from the reference, by design (SURVEY.md §4.3):
  *   - the sink writes DISTRIBUTED parquet appends inside foreachBatch —
  *     never `toPandas()`-style driver collection (§4.3 #1); at 100 TB
  *     the driver funnel is the first thing that dies.
  *   - watermark (lateness) is an independent knob instead of being
  *     hard-wired to the window size (§4.3 #3).
  *   - downstream readers finalize append+last-wins duplicates with
  *     [[graft.extra.Dedup.latestWins]] keyed on (symbol, window_start)
  *     (§2.4 ST6) — or use [[finalized]] for the collapsed view.
  */
object StreamingPipeline {

  final case class Config(
      window: String = "60 seconds",
      slide: String = "10 seconds",
      lateness: String = "60 seconds",
      checkpointDir: String = "",
      outDir: String = "")

  /** Normalized feature config shared by batch and streaming paths. */
  def featureConfig(cfg: Config): FeatureConfig = FeatureConfig(
    window = Durations.normalize(cfg.window),
    slide = Some(Durations.normalize(cfg.slide)),
    watermark = Some(Durations.normalize(cfg.lateness)),
    keyCol = "symbol", valueCol = "price", timeCol = "event_time")

  /** The transform alone (source-agnostic, also unit-testable). */
  def transform(raw: DataFrame, cfg: Config): DataFrame =
    Features.compute(graft.ops.TickParse.parseRaw(raw), featureConfig(cfg))

  /** Start the full query: update-mode, checkpointed, distributed
    * parquet append sink with the emission timestamp column the
    * last-wins finalizer keys on.
    *
    * A local checkpoint is written through [[graft.util.LocalFs]], the
    * fork-free `file:` binding this installs in the session conf
    * (unless `fs.AbstractFileSystem.file.impl` is already set): same
    * files, permissions and `.crc` sidecars as stock Hadoop, without the
    * ~20 `chmod`/`readlink` forks per state partition per micro-batch.
    *
    * `sinkGate` is a graceful-drain hook: while it returns true batches
    * write parquet normally; once it flips false each micro-batch runs
    * against the `noop` sink instead — every partition is still
    * processed (update-mode state commit validation requires it) but no
    * files are opened, so a subsequent `q.stop()` can never abort
    * in-flight parquet tasks (stopping mid-write sprays `Aborting task`
    * / `CommitDeniedException` across the driver log — that spew
    * destroyed round 3's bench artifact).
    */
  def start(spark: SparkSession, source: TickSource, cfg: Config,
      trigger: Trigger = Trigger.AvailableNow(),
      sinkGate: () => Boolean = () => true): StreamingQuery = {
    import org.apache.spark.sql.functions.lit
    val features = StreamingPipeline.transform(source.stream(spark), cfg)
    LocalFs.install(features.sparkSession)
    features
      .writeStream
      .outputMode(OutputMode.Update())
      .trigger(trigger)
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{current_timestamp, unix_millis}
        // reference-parity processing-time fields (spark_streaming.py:
        // 109-116) — wall-clock derived, so excluded from oracle hashing
        val out = df.withColumn("batch_id", lit(batchId))
          .withColumn("ingest_ts", current_timestamp())
          .withColumn("latency_ms",
            unix_millis(current_timestamp()) -
              unix_millis(org.apache.spark.sql.functions.col("max_event_time")))
        if (sinkGate()) out.write.mode("append").parquet(cfg.outDir)
        else out.write.format("noop").mode("overwrite").save()
      }
      .start()
  }

  /** Collapse the append+last-wins sink to final rows per
    * (symbol, window_start): the explicit finalization operator the
    * reference leaves to its readers (streamlit_app.py:69-80).
    */
  def finalized(spark: SparkSession, outDir: String): DataFrame =
    graft.extra.Dedup.latestWins(
      ParquetRead.read(spark, outDir),
      keys = Seq("symbol", "window_start"),
      tsCol = "batch_id", tieCol = "num_ticks")

  /** Materialize the SERVING table: collapse the append sink's
    * last-wins duplicates and rewrite as a compacted, range-clustered
    * parquet table on (symbol, window_start) — the dashboard's
    * filter/sort keys (streamlit_app.py:23-32), so point/range reads
    * prune whole files instead of scanning micro-batch debris. Run
    * periodically (the maintenance job the reference's store never got).
    */
  def materializeServing(spark: SparkSession, outDir: String,
      dstDir: String, numFiles: Int = 8): Unit = {
    import org.apache.spark.sql.functions.col
    graft.extra.Layout.writeClustered(
      finalized(spark, outDir), dstDir,
      Seq(col("symbol"), col("window_start")), numFiles)
  }
}
