package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CurationStream, Monitor, RateTickSource, StreamingPipeline}

/** Streaming parity micro-bench (BASELINE.md): drive the flagship
  * pipeline from the rate source at a target ticks/sec, report sustained
  * throughput and micro-batch latency as one JSON line.
  *
  * Usage: runMain graft.StreamBench [tps] [seconds]
  */
object StreamBench {

  /** Round to `p` decimals for JSON emission — full-precision doubles
    * tripled the artifact size for no information (the driver keeps
    * only a ~4 KB stdout tail; see [[Bench]]).
    */
  private[graft] def rnd(d: Double, p: Int = 3): Double = {
    val f = math.pow(10, p)
    math.rint(d * f) / f
  }

  final case class StreamStats(
      eventsPerSec: Double,
      targetTps: Int,
      rows: Long,
      wallS: Double,
      nBatches: Int,
      avgBatchMs: Double,
      maxBatchMs: Long,
      minBatchMs: Long,
      p50BatchMs: Double,
      valid: Boolean = true,
      // Throughput with stream start-up amortization REMOVED: rows
      // after the first data batch over the wall from that batch's
      // commit to the deadline. On a short pass the fixed start-up
      // (source init + first checkpoint + codegen) is a large wall
      // fraction, so `eventsPerSec` structurally under-reads steady
      // state (r9: 17.1k in-bench vs 19.9k standalone); this field is
      // the steady-state claim. -1 when the pass had <2 data batches.
      // `eventsPerSec` keeps its historical meaning for round-over-
      // round comparability.
      steadyEventsPerSec: Double = -1.0,
      // 1-min /proc/loadavg at measurement start (−1 if unreadable):
      // the block's contention stamp — a `valid:false` or below-target
      // number next to a high load reads as machine load, not a
      // regression, without needing a quiet re-run (r10 verdict #1).
      load1: Double = -1.0) {
    def json: String =
      s"""{"events_per_sec":${rnd(eventsPerSec, 1)},"target_tps":$targetTps,""" +
        s""""rows":$rows,"wall_s":${rnd(wallS)},"n_batches":$nBatches,""" +
        s""""avg_batch_ms":${rnd(avgBatchMs, 1)},"max_batch_ms":$maxBatchMs,""" +
        s""""min_batch_ms":$minBatchMs,"p50_batch_ms":${rnd(p50BatchMs, 1)},""" +
        s""""steady_events_per_sec":${rnd(steadyEventsPerSec, 1)},""" +
        s""""load1":${rnd(load1, 2)},"valid":$valid}"""
  }

  private def readLoad1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Run the flagship streaming pipeline for `secs` wall-clock seconds at
    * `tps` generated ticks/sec and collect throughput + per-micro-batch
    * latency. Shared by the standalone main and [[Bench]]'s streaming
    * block, so batch and streaming regressions surface in the same
    * artifact.
    *
    * Accounting runs through a [[Monitor]] listener, not
    * `q.recentProgress` — Spark caps recentProgress at
    * `numRecentProgressUpdates` (default 100) and a ProcessingTime(0)
    * run easily exceeds 100 micro-batches, silently undercounting rows.
    *
    * Shutdown is a two-step drain, not a hard `q.stop()`: flipping the
    * sink gate makes the next batches' writers drop their rows and open
    * no file (the gate is read once per batch), and we stop only after
    * the batch that was in flight at the deadline has committed — a hard
    * stop mid-parquet-write aborts all its tasks and sprays stack traces
    * over stdout (which displaced the metric line from round 3's
    * captured bench artifact).
    */
  def measure(spark: SparkSession, tps: Int, secs: Int): StreamStats = {
    val out = Files.createTempDirectory("sbench_out").toString
    val ckpt = Files.createTempDirectory("sbench_ckpt").toString
    val src = new RateTickSource(tps, Seq("AAPL", "MSFT", "GOOG"))
    val monitor = new Monitor().attach(spark)
    val writing = new AtomicBoolean(true)
    val q = StreamingPipeline.start(spark, src,
      StreamingPipeline.Config(window = "60 seconds", slide = "10 seconds",
        lateness = "60 seconds", checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0),
      sinkGate = () => writing.get())
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** The ONE measurement harness every stream block runs (the three
    * blocks previously hand-copied it and the r10 steady-state change
    * had to be applied three times — a drift magnet):
    *
    *   - contention-proof deadline (r6: a fixed 10 s deadline expired
    *     on a contended machine before any data batch committed and
    *     masqueraded as a capacity collapse) — the run extends past
    *     the nominal deadline until >= 3 DATA batches, capped at
    *     max(secs, 60) s; still short of 3 → `valid:false`, so it can
    *     never be read as a throughput number;
    *   - graceful drain: no-op the sink via its gate, wait for the
    *     in-flight batch, THEN stop (a hard stop mid-parquet-write
    *     sprays task aborts over the captured stdout tail);
    *   - accounting via [[Monitor]], not `recentProgress` (capped at
    *     100 updates — a ProcessingTime(0) run exceeds it);
    *   - min/p50 alongside avg/max (r5: spreads separate one slow
    *     contended batch from a shifted distribution);
    *   - steady state: drop the first data batch's rows and the wall
    *     up to its commit — the post-start-up rate (r9: short passes
    *     structurally under-read steady state).
    */
  private def runMeasured(spark: SparkSession, monitor: Monitor,
      q: org.apache.spark.sql.streaming.StreamingQuery,
      writing: AtomicBoolean, tps: Int, secs: Int): StreamStats = {
    val loadAtStart = readLoad1()
    val t0 = System.nanoTime()
    try {
      val capSecs = math.max(secs, 60).toDouble
      var elapsed = 0.0
      var dataBatches = 0
      var tFirstData = -1.0
      var done = false
      while (!done) {
        Thread.sleep(200)
        elapsed = (System.nanoTime() - t0) / 1e9
        dataBatches = monitor.snapshot
          .count(p => p.query_name == q.id.toString && p.num_input_rows > 0)
        if (dataBatches >= 1 && tFirstData < 0) tFirstData = elapsed
        done = (elapsed >= secs && dataBatches >= 3) || elapsed >= capSecs
      }
      // measurement closes at the deadline: only batches that completed
      // while the sink was live count toward throughput
      val progress = monitor.snapshot.filter(_.query_name == q.id.toString)
      val wall = (System.nanoTime() - t0) / 1e9
      val isValid = dataBatches >= 3
      writing.set(false)
      val seen = monitor.snapshot.size
      val tDrain = System.nanoTime()
      while (monitor.snapshot.size <= seen && q.status.isTriggerActive &&
          (System.nanoTime() - tDrain) / 1e9 < 30) Thread.sleep(50)
      q.stop()
      val rows = progress.map(_.num_input_rows).sum
      val batchMs = progress.map(_.batch_duration_ms).filter(_ >= 0)
      val avgBatchMs =
        if (batchMs.nonEmpty) batchMs.sum.toDouble / batchMs.size else -1.0
      val p50BatchMs =
        if (batchMs.isEmpty) -1.0
        else {
          val s = batchMs.sorted
          if (s.size % 2 == 1) s(s.size / 2).toDouble
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
        }
      val dataProg = progress.filter(_.num_input_rows > 0)
      val steady =
        if (tFirstData > 0 && dataProg.size >= 2 && wall > tFirstData)
          (rows - dataProg.minBy(_.batch_id).num_input_rows) /
            (wall - tFirstData)
        else -1.0
      StreamStats(rows / wall, tps, rows, wall, batchMs.size, avgBatchMs,
        if (batchMs.nonEmpty) batchMs.max else -1L,
        if (batchMs.nonEmpty) batchMs.min else -1L,
        p50BatchMs, valid = isValid, steadyEventsPerSec = steady,
        load1 = loadAtStart)
    } finally {
      if (q.isActive) q.stop()
      monitor.detach(spark)
    }
  }

  /** Throughput of the streaming CURATION chain (gates → exact dedup →
    * band explode → (band,sig) stateful dedup → windowed reassembly,
    * [[CurationStream.curateStreamNearDup]]) under the planted-dup
    * synthetic corpus — the five-stage stateful path whose regressions
    * were previously visible only in SCALE.md prose. Same
    * contention-proof deadline discipline as [[measure]]: extend past
    * the nominal deadline until >= 3 data batches, cap at
    * max(secs, 60)s, stamp `valid:false` when even that fails.
    * `events_per_sec` is sustained INPUT docs/s (emission trails the
    * watermark by design, so emitted rows would undercount steady-state
    * throughput on a short run).
    *
    * READING THE NUMBER: each pass starts a fresh query (new
    * checkpoint), and with ~6s batches in a ~10s window the stream
    * start-up is a large fixed fraction of the wall — so
    * `events_per_sec` structurally reads BELOW steady state even on a
    * quiet machine (r9: 13.5k here vs 19.9k from the 30s
    * `CurationStreamSmoke 30000 30`). `steady_events_per_sec` is the
    * start-up-corrected rate (first data batch's rows and wall
    * excluded) — compare THAT against the standalone smoke;
    * `events_per_sec` keeps the historical whole-wall meaning for
    * round-over-round continuity. [[Bench]] additionally reports the
    * median of SPARK_GRAFT_CUR_PASSES passes so one contended pass
    * cannot set the round's number.
    */
  def measureCuration(spark: SparkSession, tps: Int, secs: Int,
      nearDup: Boolean = false): StreamStats = {
    val wire = graft.gen.SyntheticDocs.rateWire(spark, tps)
    // two chains, two blocks (r10 verdict #5: swapping the block's
    // chain mid-series broke round-over-round comparability):
    // `streaming_curation` stays the r9 like-for-like gates + exact
    // dedup chain; the heavier near-dup suppression chain reports as
    // its own `streaming_curation_neardup` block on the detail line
    val curated =
      if (nearDup) CurationStream.curateStreamNearDup(wire,
        watermark = "15 seconds", emitWindow = "10 seconds")
      else CurationStream.curateStream(wire, watermark = "15 seconds")
    val monitor = new Monitor().attach(spark)
    val ckpt = Files.createTempDirectory("sbench_cur_ckpt").toString
    val writing = new AtomicBoolean(true)
    val q = curated.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (writing.get()) df.count(): Unit
      }
      .start()
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** Throughput of the streaming CLASSIFIER chain
    * ([[graft.streaming.CurationStream.classifyStream]]): wire parse +
    * quality/language gates + frozen-NB-model verdict via the
    * broadcast-table typed projection. The model trains once on a
    * 20k-doc seed over the generator's ~50k-word vocabulary (a
    * realistic model size for the lookup table the projection pays
    * per token), OUTSIDE the measured window. The whole chain is
    * stateless projections — this block is the model-based-filtering
    * analogue of the flagship's parse+gate capacity number.
    */
  def measureClassify(spark: SparkSession, tps: Int, secs: Int): StreamStats = {
    import org.apache.spark.sql.functions._
    val seed = graft.gen.SyntheticDocs.labeledSeed(spark)
    val model = graft.extra.Classifier.trainNaiveBayes(seed, "label", "text")
    // warm the typed tier's codegen + the broadcast outside the window
    graft.extra.Classifier.classifyTyped(seed.limit(2000), "text", model)
      .count()
    val wire = graft.gen.SyntheticDocs.rateWire(spark, tps)
    val classified = CurationStream.classifyStream(wire, model,
      keep = Some(Set("hi")))
    val monitor = new Monitor().attach(spark)
    val ckpt = Files.createTempDirectory("sbench_cls_ckpt").toString
    val writing = new AtomicBoolean(true)
    val q = classified.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (writing.get()) df.count(): Unit
      }
      .start()
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** Throughput of the streaming PERPLEXITY GATE
    * ([[graft.streaming.PerplexityGate]]): wire parse + heuristic
    * gates, then each micro-batch scores against a FROZEN KN LM
    * through the DISTRIBUTED backoff-cascade joins and lands its
    * verdict parquet — the online CCNet filter. The model fits once
    * on a 20k-doc seed (~the generator's vocabulary) OUTSIDE the
    * window; unlike the classifier block the per-batch cost is
    * scoring JOINS + a parquet sink, not a broadcast-map projection —
    * this block measures that heavier, driver-safe regime.
    */
  def measurePerplexity(spark: SparkSession, tps: Int, secs: Int): StreamStats = {
    val seed = graft.gen.SyntheticDocs.labeledSeed(spark)
    val model = graft.extra.KnLm.fit(seed, "text")
    // warm the scoring path + codegen outside the window — scoreProbed,
    // the exact per-batch chain the gate now runs (broadcast key-set
    // probes over the model frames)
    graft.extra.KnLm.scoreProbed(seed.limit(2000), "doc_id", "text",
      model).count()
    val wire = graft.gen.SyntheticDocs.rateWire(spark, tps)
    val gated = CurationStream.gatedOnly(wire)
      .select("doc_id", "text")
    val monitor = new Monitor().attach(spark)
    val out = Files.createTempDirectory("sbench_kn_out").toString
    val ckpt = Files.createTempDirectory("sbench_kn_ckpt").toString
    val writing = new AtomicBoolean(true)
    val q = graft.streaming.PerplexityGate.start(gated, model, out,
      ckpt, maxCrossEntropy = 8.0,
      trigger = Trigger.ProcessingTime(0),
      sinkGate = () => writing.get())
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** Throughput of the streaming SEQUENCE-PACKING ARM
    * ([[graft.streaming.PackStream]]): tokenize (frozen BPE merge
    * list) → token-id mapping (frozen vocab) → per-shard open-bin
    * state → closed training sequences counted per batch. The
    * tokenizer trains on a seed corpus OUTSIDE the window and both
    * the merge list and the symbol vocabulary freeze — the streaming
    * packer's production contract (a stream cannot derive ids from a
    * corpus it has not finished seeing). Downstream-arm scope like
    * [[measureAnnIngest]]: the structured feed skips the wire parse
    * the flagship block owns; `events_per_sec` is sustained INPUT
    * docs/s through tokenize+pack, not sequences/s.
    */
  def measurePack(spark: SparkSession, tps: Int, secs: Int): StreamStats = {
    import org.apache.spark.sql.functions._
    val seed = graft.gen.SyntheticDocs.labeledSeed(spark)
      .select("doc_id", "text")
    val merges = graft.extra.Text.trainBpe(seed, "text", numMerges = 64)
    val vocab = graft.extra.Text.withBpeSymbolsTyped(seed, "text", merges)
      .select(explode(col("syms")).as("sym"))
      .distinct().orderBy("sym")
      .collect().map(_.getString(0))
      .zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val wire = graft.gen.SyntheticDocs.rateDocs(spark, tps)
    // TYPED encode on the hot path (withBpeSymbolsTyped): the
    // expression chain measured ~2k docs/s at 64 merges — each of the
    // 128 nested replaces re-materializes the full symbol string per
    // row — while the memoized per-word typed tier holds the offered
    // rate; it is also the only form a production 30-50k-merge
    // vocabulary survives (the withBpeTokensAuto ceiling).
    val packed = graft.streaming.PackStream.packStream(
      graft.streaming.PackStream.fromDocFrame(
        graft.extra.Text.withBpeSymbolsTyped(
          wire.select("doc_id", "text"), "text", merges)),
      vocab, budget = 2048L, shards = 32)
    val monitor = new Monitor().attach(spark)
    val ckpt = Files.createTempDirectory("sbench_pack_ckpt").toString
    val writing = new AtomicBoolean(true)
    val q = packed.toDF().writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        // ALWAYS consume: flatMapGroupsWithState commits its state
        // stores only when the sink drains every partition — a gated
        // `if (writing) count()` here (the stateless blocks' pattern)
        // fails Spark 4.1's per-batch commit validation
        // (STATE_STORE_COMMIT_VALIDATION_FAILED) the moment the gate
        // closes. Counting is side-effect-free, so the gate that
        // elsewhere stops post-window SINK WRITES has nothing to stop.
        df.count(): Unit
      }
      .start()
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** Throughput of the streaming ANN-INGEST ARM — embed-stub →
    * frozen-codebook encode → partitioned index append
    * ([[graft.streaming.AnnIngest]]) — under a structured synthetic
    * doc stream. A small seed corpus builds (and freezes) the
    * codebooks first, exactly the production contract; the measured
    * stream then pays per batch what a daily batch ingest pays.
    *
    * SCOPE (r11): the block measures the INGEST ARM's capacity alone.
    * The r10 block ran the arm behind the full wire-parse + gate +
    * stateful-dedup chain, so its number was min(parse, gates, dedup,
    * ingest) — re-measuring capacities the flagship (wire parse) and
    * curation (gates + dedup) blocks already own, and the dedup's
    * ~18k docs/s cap made the arm's 20k target structurally
    * unreachable regardless of the arm's own speed (measured: the arm
    * writes ~59k docs/s batch-mode; behind the chain the block read
    * 15-17k). A production chain composes the stages; each block's
    * number is its stage's capacity. Same contention-proof deadline +
    * drain discipline as [[measureCuration]]; `events_per_sec` is
    * sustained INPUT docs/s, `steady_events_per_sec` the
    * start-up-corrected rate.
    */
  def measureAnnIngest(spark: SparkSession, tps: Int, secs: Int): StreamStats = {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("sbench_ann_idx").toString
    // seed ids offset far above anything the rate source emits
    val seed = spark.range(20000).select(
      (col("id") + 1000000000L).as("doc_id"),
      graft.streaming.AnnIngest.embedStub(
        graft.gen.SyntheticDocs.textFor(col("id") + 1000000000L), 64)
        .as("embedding"))
    graft.extra.AnnIndex.buildAndWriteIvfPq(seed, "doc_id", "embedding",
      dir, numCentroids = 32)
    // JVM warm-up OUTSIDE the measured window (the measureSubstrIngest
    // discipline): one append through the exact per-batch chain against
    // a throwaway index, so the first MEASURED batch pays steady-state
    // cost, not first-use janino/JIT compilation of the embed + encode
    // projections (measured cold: 7-11 s for batch 1 of a 30 s window,
    // which then snowballs every later batch under ProcessingTime(0)).
    // A production ingest JVM is long-lived; the block's number is the
    // steady regime's capacity.
    locally {
      val wDir = Files.createTempDirectory("sbench_ann_warm").toString
      graft.extra.AnnIndex.buildAndWriteIvfPq(
        seed.limit(2000), "doc_id", "embedding", wDir, numCentroids = 32)
      val wBatch = spark.range(20000).select(col("id").as("doc_id"),
        graft.streaming.AnnIngest.embedStub(
          graft.gen.SyntheticDocs.textFor(col("id")), 64).as("embedding"))
      graft.extra.AnnIndex.appendIvfPq(spark, wDir, wBatch, "doc_id",
        "embedding",
        codebooks = Some(graft.extra.AnnIndex.readCodebooks(spark, wDir)))
    }
    val docs = graft.gen.SyntheticDocs.rateDocs(spark, tps)
    val monitor = new Monitor().attach(spark)
    val ckpt = Files.createTempDirectory("sbench_ann_ckpt").toString
    val writing = new AtomicBoolean(true)
    val q = graft.streaming.AnnIngest.start(
      docs, dir, ckpt, dim = 64,
      trigger = Trigger.ProcessingTime(0),
      sinkGate = () => writing.get())
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** Streaming incremental-ExactSubstr ingest
    * ([[graft.streaming.SubstrIngest]]): each micro-batch span-dedups
    * against the persisted gram-posting index (seeded with a 20k-doc
    * corpus), writes the cleaned batch, and appends its grams — the
    * heaviest per-row streaming chain here (tokenize + posting
    * semi-join + window merge + two writes per batch). The planted 5%
    * exact dups in the synthetic feed give every batch real spans to
    * cut. Offered rate should sit near measured capacity (the
    * curation-neardup lesson: unbounded ProcessingTime(0) batches
    * snowball when offered >> capacity).
    */
  def measureSubstrIngest(spark: SparkSession, tps: Int,
      secs: Int): StreamStats = {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("sbench_substr_idx").toString
    val outDir = Files.createTempDirectory("sbench_substr_out").toString
    val seed = spark.range(20000).select(
      (col("id") + 1000000000L).as("doc_id"),
      graft.gen.SyntheticDocs.textFor(col("id") + 1000000000L).as("text"))
    graft.extra.SubstrIndex.build(seed, "doc_id", "text", dir,
      k = 5, hashed = true)
    // JVM warm-up OUTSIDE the measured window: one batch through the
    // exact per-batch chain against a throwaway index, so the first
    // MEASURED batch pays steady-state cost, not first-use JIT +
    // codegen compilation (measured: the cold chain runs a 15k-doc
    // batch in ~4.9 s vs 3.5 s warm — charged entirely to batch 1 of
    // a 30 s window otherwise). A production ingest JVM is long-lived;
    // the block's number is the steady regime's capacity.
    locally {
      val wDir = Files.createTempDirectory("sbench_substr_warm").toString
      val wOut = Files.createTempDirectory("sbench_substr_wout").toString
      graft.extra.SubstrIndex.build(
        seed.limit(2000), "doc_id", "text", wDir, k = 5, hashed = true)
      val wBatch = spark.range(5000).select(col("id").as("doc_id"),
        graft.gen.SyntheticDocs.textFor(col("id")).as("text"))
      graft.streaming.SubstrIngest.applyBatch(spark, wDir, wOut,
        wBatch, "doc_id", "text", "warmup", 0L, 0): Unit
    }
    val docs = graft.gen.SyntheticDocs.rateDocs(spark, tps)
    val monitor = new Monitor().attach(spark)
    val ckpt = Files.createTempDirectory("sbench_substr_ckpt").toString
    val writing = new AtomicBoolean(true)
    // trigger matched to the chain's per-batch FIXED cost (~3-4 s of
    // manifest/commit/write machinery regardless of batch size,
    // marginal ~28k docs/s): an 8 s interval makes every steady batch
    // ~120k docs, amortizing the fixed cost to ~30% instead of letting
    // ProcessingTime(0) spend the whole window snowballing toward that
    // same equilibrium from 1-row batches. This is the production
    // posture for a high-fixed-cost exactly-once sink (commit points
    // cost the same whether the batch carries 1k or 100k docs).
    val q = graft.streaming.SubstrIngest.start(
      docs, dir, outDir, ckpt,
      trigger = Trigger.ProcessingTime(8000),
      sinkGate = () => writing.get())
    runMeasured(spark, monitor, q, writing, tps, secs)
  }

  /** Usage: runMain graft.StreamBench [mode] [tps] [secs] — mode is
    * `flagship` (default), `curation`, `ann`, or `substr`; a bare
    * numeric first arg keeps the historical `[tps] [secs]` flagship
    * form.
    */
  def main(args: Array[String]): Unit = {
    val (mode, rest) = args.headOption match {
      case Some(m) if m.forall(!_.isDigit) => (m, args.drop(1))
      case _ => ("flagship", args)
    }
    val tps = rest.headOption.map(_.toInt)
      .getOrElse(if (mode == "flagship") 1000 else 20000)
    val secs = rest.lift(1).map(_.toInt).getOrElse(15)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      // mirror Bench (r16): a foreachBatch chain re-plans per batch,
      // so the 100-entry default compile cache thrashed per batch
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "16384"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val s = mode match {
      case "curation" => measureCuration(spark, tps, secs)
      case "curation-neardup" =>
        measureCuration(spark, tps, secs, nearDup = true)
      case "ann" => measureAnnIngest(spark, tps, secs)
      case "substr" => measureSubstrIngest(spark, tps, secs)
      case "classify" => measureClassify(spark, tps, secs)
      case "perplexity" => measurePerplexity(spark, tps, secs)
      case "pack" => measurePack(spark, tps, secs)
      case _ => measure(spark, tps, secs)
    }
    // Metric line printed LAST, after spark.stop(): nothing Spark logs
    // during shutdown can land after it in a captured tail.
    spark.stop()
    println(s"""{"metric":"stream_throughput_$mode",""" + s.json.tail)
    System.out.flush()
  }
}
