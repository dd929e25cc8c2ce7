package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{GraftStreamBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.execution.{ExpandExec, GenerateExec}
import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.gen.TickGen
import graft.ops.{Features, TickParse}
import graft.streaming.{FeatureSink, FileTickSource, MemoryTickSource,
  RateTickSource, StreamingPipeline}
import graft.streaming.StreamingPipeline.Config
import graft.util.LocalFs

/** Streaming semantics (SURVEY.md §5.3): window assignment, out-of-order
  * replay, watermark late-drop, update-mode re-emission + finalization,
  * batch/stream parity, generator determinism.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def payload(sym: String, price: Double, tMs: Long): String =
    s"""{"symbol":"$sym","price":$price,"event_time_ms":$tMs}"""

  private val cfg = Config(
    window = "60 seconds", slide = "10s", lateness = "60 seconds")

  test("stream equals batch on in-order data (end-to-end via sink)") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val src = new MemoryTickSource(spark)
    val data = Seq(
      payload("AAPL", 100.0, 61000L), payload("AAPL", 101.0, 70000L),
      payload("MSFT", 400.0, 65000L), payload("AAPL", 99.0, 119000L))
    src.addData(data)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    q.processAllAvailable(); q.stop()

    val streamed = StreamingPipeline.finalized(spark, out)
      .select("symbol", "window_start", "first_price", "last_price", "num_ticks")
      .orderBy("symbol", "window_start")
      .collect().toSeq
    val batch = Features.compute(
      TickParse.parseRaw(data.toDF("value")),
      StreamingPipeline.featureConfig(cfg))
      .select("symbol", "window_start", "first_price", "last_price", "num_ticks")
      .orderBy("symbol", "window_start")
      .collect().toSeq
    assert(streamed == batch)
  }

  test("materializeServing: collapsed, clustered serving table from the append sink") {
    val out = tmp("out"); val ckpt = tmp("ckpt"); val serve = tmp("serve")
    val src = new MemoryTickSource(spark)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    // two batches updating the SAME window → append sink holds duplicates
    src.addData(Seq(payload("AAPL", 100.0, 61000L)))
    q.processAllAvailable()
    src.addData(Seq(payload("AAPL", 101.0, 70000L)))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(out)
      .groupBy("symbol", "window_start").count()
      .filter(col("count") > 1).count() > 0, "sink must hold re-emissions")
    StreamingPipeline.materializeServing(spark, out, serve, numFiles = 2)
    val served = spark.read.parquet(serve)
    // exactly one (final) row per (symbol, window), carrying both ticks
    assert(served.groupBy("symbol", "window_start").count()
      .filter(col("count") > 1).count() == 0)
    assert(served.filter(
      col("window_start") === lit("1970-01-01 00:01:00").cast("timestamp"))
      .collect().head.getAs[Long]("num_ticks") == 2L)
  }

  test("out-of-order arrival within lateness lands in correct windows") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val src = new MemoryTickSource(spark)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    // batch 1: t=70s ; batch 2 arrives EARLIER event t=65s (out of order,
    // within 60s lateness) — the reference's backfill replay semantics
    src.addData(Seq(payload("AAPL", 100.0, 70000L)))
    q.processAllAvailable()
    src.addData(Seq(payload("AAPL", 90.0, 65000L)))
    q.processAllAvailable()
    q.stop()
    val fin = StreamingPipeline.finalized(spark, out)
    // tumbling-equivalent check: window [60,120) must contain both ticks
    val w60 = fin.filter(col("window_start") === lit("1970-01-01 00:01:00").cast("timestamp"))
      .collect().head
    assert(w60.getAs[Long]("num_ticks") == 2L)
    assert(w60.getAs[Double]("first_price") == 90.0) // t=65s is earliest
  }

  test("events later than the watermark are dropped") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val src = new MemoryTickSource(spark)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    // advance watermark far ahead: max event time 10_000s -> wm 9940s
    src.addData(Seq(payload("AAPL", 100.0, 10000000L)))
    q.processAllAvailable()
    // now a very late event at t=65s — windows long closed
    src.addData(Seq(payload("AAPL", 55.5, 65000L)))
    q.processAllAvailable()
    q.stop()
    val fin = spark.read.parquet(out)
    assert(fin.filter(col("first_price") === 55.5).count() == 0L,
      "late event beyond watermark must not materialize")
  }

  test("Monitor surfaces watermark-dropped rows per batch " +
      "(late-data observability)") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val monitor = new graft.streaming.Monitor().attach(spark)
    try {
      val src = new MemoryTickSource(spark)
      val q = StreamingPipeline.start(spark, src,
        cfg.copy(checkpointDir = ckpt, outDir = out),
        trigger = Trigger.ProcessingTime(0))
      // batch 1 advances the watermark to ~9940s
      src.addData(Seq(payload("AAPL", 100.0, 10000000L)))
      q.processAllAvailable()
      // batch 2: two planted-late ticks at t=65s/66s — silently dropped
      // by watermark semantics; the monitor must COUNT them
      src.addData(Seq(payload("AAPL", 55.5, 65000L),
        payload("AAPL", 56.5, 66000L)))
      q.processAllAvailable()
      q.stop()
      val prog = monitor.snapshot.filter(_.query_name == q.id.toString)
      val firstDataBatch = prog.filter(_.num_input_rows > 0)
        .minBy(_.batch_id)
      assert(firstDataBatch.rows_dropped_by_watermark == 0L,
        "on-time batch must report zero watermark drops")
      // each late tick fans out to window/slide sliding-window copies
      // before the stateful agg, so the per-row drop count is >= the
      // number of late input rows — assert presence, not the multiple
      assert(prog.map(_.rows_dropped_by_watermark).sum >= 2L,
        s"late ticks not surfaced: ${prog.map(_.rows_dropped_by_watermark)}")
      assert(spark.read.parquet(out)
        .filter(col("first_price") === 55.5).count() == 0L)
    } finally monitor.detach(spark)
  }

  test("update-mode re-emission accumulates; finalizer collapses to last") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val src = new MemoryTickSource(spark)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    src.addData(Seq(payload("AAPL", 100.0, 61000L)))
    q.processAllAvailable()
    src.addData(Seq(payload("AAPL", 101.0, 62000L)))
    q.processAllAvailable()
    q.stop()
    val raw = spark.read.parquet(out)
    val w60raw = raw.filter(
      col("window_start") === lit("1970-01-01 00:01:00").cast("timestamp"))
    assert(w60raw.count() == 2L, "update mode re-emits the window per batch")
    val fin = StreamingPipeline.finalized(spark, out).filter(
      col("window_start") === lit("1970-01-01 00:01:00").cast("timestamp"))
      .collect()
    assert(fin.length == 1)
    assert(fin.head.getAs[Long]("num_ticks") == 2L)
    assert(fin.head.getAs[Double]("last_price") == 101.0)
  }

  test("restart from checkpoint does not reprocess (exactly-once sink rows)") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val src = new MemoryTickSource(spark)
    val q1 = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    src.addData(Seq(payload("AAPL", 100.0, 61000L)))
    q1.processAllAvailable(); q1.stop()
    val n1 = spark.read.parquet(out).count()
    // restart on same checkpoint, no new data
    val q2 = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = ckpt, outDir = out),
      trigger = Trigger.ProcessingTime(0))
    q2.processAllAvailable(); q2.stop()
    assert(spark.read.parquet(out).count() == n1)
  }

  test("checkpoint I/O starts no process: no chmod/readlink fork names " +
      "the checkpoint over 3+ micro-batches") {
    val out = tmp("out"); val ckpt = tmp("ckpt")
    val src = new MemoryTickSource(spark)
    val (batches, forks) = Forks.during {
      val q = StreamingPipeline.start(spark, src,
        cfg.copy(checkpointDir = ckpt, outDir = out),
        trigger = Trigger.ProcessingTime(0))
      try {
        for (i <- 0 until 3) {
          src.addData(Seq(payload("AAPL", 100.0 + i, 61000L + 1000L * i),
            payload("MSFT", 400.0 + i, 62000L + 1000L * i)))
          q.processAllAvailable()
        }
        q.recentProgress.count(_.numInputRows > 0)
      } finally q.stop()
    }
    assert(batches >= 3)
    val ckptName = Paths.get(ckpt).getFileName.toString
    val named = forks.filter(_.contains(ckptName))
    assert(named.size == 0,
      s"processes named the checkpoint, e.g. ${named.take(3)}")
    // the sink runs no Hadoop output committer
    val outName = Paths.get(out).getFileName.toString
    val committer = forks.filter(c => c.contains(outName) &&
      (c.contains("_temporary") || c.contains("_SUCCESS")))
    assert(committer.isEmpty,
      s"processes named the committer's files, e.g. ${committer.take(3)}")
  }

  /** Starts a feature stream over the JSON-lines files of a directory. */
  private type Start = (String, Config) => StreamingQuery

  private def pipelineOn(s: SparkSession): Start = (in, c) =>
    StreamingPipeline.start(s, new FileTickSource(in), c,
      trigger = Trigger.ProcessingTime(0))

  /** The pipeline as it was before windows were assigned by slot and
    * offset: the same sink over Spark's `window()` aggregation plan. */
  private val windowPlan: Start = (in, c) => {
    LocalFs.install(spark)
    GraftStreamBridge.start(
      FeaturesSpec.windowFeatures(
        TickParse.parseRaw(new FileTickSource(in).stream(spark)),
        StreamingPipeline.featureConfig(c)),
      new FeatureSink(spark, c.outDir, () => true), c.checkpointDir,
      OutputMode.Update(), Trigger.ProcessingTime(0))
  }

  /** Write a checkpoint under `first`, restart it under `second`: the
    * offsets, commits and state written by one (file binding, plan) must
    * carry the other through to the same finalized features.
    */
  private def restartAcross(first: Start, second: Start): Unit = {
    val in = tmp("in"); val out = tmp("out"); val ckpt = tmp("ckpt")
    val c = cfg.copy(checkpointDir = ckpt, outDir = out)
    val files = Seq(
      Seq(payload("AAPL", 100.0, 61000L), payload("MSFT", 400.0, 65000L)),
      Seq(payload("AAPL", 101.0, 70000L)),
      Seq(payload("AAPL", 99.0, 119000L), payload("MSFT", 401.0, 125000L)))
    def drop(i: Int): Unit = Files.write(Paths.get(in, s"ticks-$i.json"),
      files(i).map(p =>
        "{\"value\":\"" + p.replace("\"", "\\\"") + "\"}").mkString("\n")
        .getBytes("UTF-8")): Unit
    def run(start: Start): Unit = {
      val q = start(in, c)
      try q.processAllAvailable() finally q.stop()
    }
    def sink = spark.read.parquet(out)
    drop(0); drop(1); run(first)
    val firstRows = sink.count()
    val lastBatch = sink.agg(max("batch_id")).head().getLong(0)
    drop(2); run(second)
    // the second run resumed: batch ids continue, nothing replayed
    assert(sink.filter(col("batch_id") <= lastBatch).count() == firstRows)
    assert(sink.count() > firstRows)
    val cols = Seq("symbol", "window_start", "window_end", "first_price",
      "last_price", "log_return", "volatility", "num_ticks",
      "max_event_time").map(col)
    val streamed = StreamingPipeline.finalized(spark, out).select(cols: _*)
      .orderBy("symbol", "window_start").collect().toSeq
    val batch = Features.compute(
      TickParse.parseRaw(files.flatten.toDF("value")),
      StreamingPipeline.featureConfig(cfg)).select(cols: _*)
      .orderBy("symbol", "window_start").collect().toSeq
    assert(streamed == batch)
  }

  private def stockSession(): SparkSession = {
    val s = spark.newSession()
    s.conf.set(LocalFs.Key, "org.apache.hadoop.fs.local.LocalFs")
    s
  }

  test("a checkpoint written with the fork-free binding restarts under " +
      "stock LocalFs") {
    val stock = stockSession()
    restartAcross(pipelineOn(spark), pipelineOn(stock))
    assert(stock.conf.get(LocalFs.Key) == "org.apache.hadoop.fs.local.LocalFs")
    assert(spark.conf.get(LocalFs.Key) == classOf[LocalFs].getName)
  }

  test("a checkpoint written under stock LocalFs restarts with the " +
      "fork-free binding") {
    restartAcross(pipelineOn(stockSession()), pipelineOn(spark))
  }

  test("a data batch assigns windows by explode, not Expand, and the " +
      "window key carries the watermark delay") {
    val src = new MemoryTickSource(spark)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = tmp("ckpt"), outDir = tmp("out")),
      trigger = Trigger.ProcessingTime(0))
    // event times under the lateness keep the watermark at 0, so no
    // no-data batch follows and the last execution is the data batch
    src.addData(Seq(payload("AAPL", 100.0, 30000L),
      payload("MSFT", 400.0, 35000L)))
    q.processAllAvailable(); q.stop()
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
      .lastExecution.executedPlan
    assert(plan.collect { case e: ExpandExec => e }.isEmpty, plan)
    // the JSON parse's explode and the window assignment's
    assert(plan.collect { case g: GenerateExec => g }.size == 2, plan)
    val keys = plan.collect { case s: StateStoreSaveExec => s.keyExpressions }
    assert(keys.size == 1, plan)
    val window = keys.head.find(_.name == "window").get
    assert(window.metadata.getLong(EventTimeWatermark.delayKey) == 60000L)
  }

  test("state rows are evicted once the watermark passes their windows") {
    val src = new MemoryTickSource(spark)
    val q = StreamingPipeline.start(spark, src,
      cfg.copy(checkpointDir = tmp("ckpt"), outDir = tmp("out")),
      trigger = Trigger.ProcessingTime(0))
    // 7 AAPL windows (starts 10..70 s) + 6 MSFT windows (10..60 s)
    src.addData(Seq(payload("AAPL", 100.0, 61000L),
      payload("AAPL", 101.0, 70000L), payload("MSFT", 400.0, 65000L)))
    q.processAllAvailable()
    // moves the watermark to 9940 s; the next batch evicts below it
    src.addData(Seq(payload("AAPL", 102.0, 10000000L)))
    q.processAllAvailable()
    src.addData(Seq(payload("AAPL", 103.0, 10001000L)))
    q.processAllAvailable(); q.stop()
    val rows = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.stateOperators.head.numRowsTotal)
    assert(rows.head == 13L)
    assert(rows.last == 6L, rows.toSeq) // the six windows of t ≈ 10000 s
  }

  test("a checkpoint written by the window() plan restarts under the " +
      "slot-and-offset plan") {
    restartAcross(windowPlan, pipelineOn(spark))
  }

  test("GBM generator is deterministic under a seed") {
    val a = TickGen.gbm(spark, 300).collect().toSeq
    val b = TickGen.gbm(spark, 300).collect().toSeq
    assert(a == b)
    val c = TickGen.gbm(spark, 300,
      TickGen.GbmConfig(seed = 7L)).collect().toSeq
    assert(a != c)
    // wire-schema + parse round trip
    val parsed = TickParse.parseRaw(
      TickParse.toJsonPayload(TickGen.gbm(spark, 30)))
    assert(parsed.count() == 30L)
  }

  test("rate source produces a streaming frame with the wire schema") {
    val df = new RateTickSource(tps = 10, symbols = Seq("A", "B"))
      .stream(spark)
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Seq("value"))
  }
}
