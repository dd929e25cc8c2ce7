package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ops.{Features, TickParse}
import graft.streaming.{MemoryTickSource, StreamingPipeline}

/** Seeded open-loop tick feed. Tick `i` is due at `t0 + i / rate` and
  * carries its due time as `event_time_ms`, except for a small share of
  * out-of-order ticks: most of those are back-dated inside the 60 s
  * watermark, a few far beyond it. Symbols are Zipf-skewed. The price is
  * a pure function of (symbol, event time), so ticks that tie on event
  * time agree on price and the window features have one right answer.
  */
final class TickFeed(seed: Long, val rate: Int, capacity: Int) {
  import TickFeed._
  private val rng = new java.util.SplittableRandom(seed)
  private val cdf = {
    val w = (1 to Symbols).map(r => 1.0 / math.pow(r, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  var n = 0
  var sym = new Array[Int](capacity)
  var ev = new Array[Long](capacity)
  var beyond = new Array[Boolean](capacity)
  var beyondCount = 0

  private def grow(): Unit = {
    sym = java.util.Arrays.copyOf(sym, sym.length * 2)
    ev = java.util.Arrays.copyOf(ev, ev.length * 2)
    beyond = java.util.Arrays.copyOf(beyond, beyond.length * 2)
  }

  /** The next tick as its JSON wire payload. Beyond-watermark ticks are
    * only emitted once `allowBeyond`: before the first watermark exists
    * nothing is late. They take symbols round-robin, so two of them
    * never share a (symbol, window) group. */
  def next(dueMs: Long, allowBeyond: Boolean): String = {
    if (n == sym.length) grow()
    val u = rng.nextDouble()
    val back = rng.nextLong(1000L, 30000L)
    val far = rng.nextLong(180000L, 240000L)
    var s = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    s = if (s < 0) math.min(-s - 1, Symbols - 1) else s
    var t = dueMs
    if (u < LateShare) t = dueMs - back
    else if (u < LateShare + BeyondShare && allowBeyond) {
      t = dueMs - far
      s = beyondCount % Symbols
      beyondCount += 1
      beyond(n) = true
    }
    sym(n) = s; ev(n) = t; n += 1
    payload(names(s), t)
  }

  /** One extra tick far in the future: it moves the watermark past
    * every window of the measured feed, so all of them are final. */
  def flush(dueMs: Long): String = {
    if (n == sym.length) grow()
    sym(n) = -1; ev(n) = dueMs; n += 1
    payload(FlushSymbol, dueMs)
  }
}

object TickFeed {
  val Symbols = 500
  val LateShare = 0.001
  val BeyondShare = 0.0002
  val FlushSymbol = "ZZFLUSH"
  val names: Array[String] = Array.tabulate(Symbols)(i => f"S$i%03d")
  def name(s: Int): String = if (s < 0) FlushSymbol else names(s)
  def price(s: String, ms: Long): Double = {
    val h = (s.hashCode & 0xffff) % 200
    math.round((50.0 + h + 10.0 * math.sin(ms / 10000.0 + h)) * 10000.0) /
      10000.0
  }
  def payload(s: String, ms: Long): String =
    s"""{"symbol":"$s","price":${price(s, ms)},"event_time_ms":$ms}"""
}

/** `ticks`: the reference's live path. A benchmark thread feeds the
  * open-loop [[TickFeed]] through a [[MemoryTickSource]] into
  * [[StreamingPipeline.start]] with the reference's 60 s window, 10 s
  * slide and 60 s lateness, triggered by `ProcessingTime(0)`.
  *
  * Latency of a feature row is the commit time of the micro-batch that
  * emitted it (progress timestamp + triggerExecution) minus the row's
  * `max_event_time`, the newest tick that contributed to it.
  */
final class TicksWorkload(spark: SparkSession, a: Harness.Args)
    extends Workload {
  import Harness._

  /** Offered ticks per second. On 4 cores 40k/s also keeps up (about
    * 1.3 s micro-batches), but its p50 latency moved by ~20% between
    * runs against ~6% at 10k/s, where the per-batch fixed cost sets the
    * latency. */
  val Rate = 10000
  private var measured = 0

  private def cfg(name: String) = StreamingPipeline.Config(
    checkpointDir = dir(a, s"$name/ckpt"), outDir = s"${dir(a, name)}/out")

  /** Every push becomes one partition of the memory source, so the
    * push period sets the task count of a micro-batch's first stage
    * (at 5 ms, ~400 tasks per 2 s batch). 100 ms gives ~20, closer to a
    * topic's partition count. */
  val PushMs = 100L

  /** Feeds `f` in real time for `seconds`, pushing every `PushMs`.
    * Returns how late, at most, a push ran against its schedule. */
  private def feed(src: MemoryTickSource, q: StreamingQuery, f: TickFeed,
      t0: Long, seconds: Double, pushes: ArrayBuffer[(Long, Long)]): Long = {
    val end = t0 + (seconds * 1000).toLong
    var i = 0L
    var lagMax = 0L
    var allowBeyond = false
    def dueOf(k: Long) = t0 + k * 1000L / f.rate
    var now = System.currentTimeMillis()
    while (now < end) {
      if (!allowBeyond) allowBeyond = Option(q.lastProgress)
        .flatMap(p => Option(p.eventTime.get("watermark")))
        .exists(w => java.time.Instant.parse(w).toEpochMilli > t0 - 120000L)
      val due = (now - t0) * f.rate / 1000L
      if (due > i) {
        lagMax = math.max(lagMax, now - dueOf(i))
        val buf = new ArrayBuffer[String]((due - i).toInt)
        while (i < due) { buf += f.next(dueOf(i), allowBeyond); i += 1 }
        src.addData(buf.toSeq)
        pushes += ((now, f.n.toLong))
      }
      Thread.sleep(PushMs)
      now = System.currentTimeMillis()
    }
    lagMax
  }

  /** Set-up, three times on fresh directories: start the pipeline, feed
    * it one second of ticks, drain, stop. The first round pays codegen
    * and JIT; the median is reported. */
  def setup(): Double = {
    val rounds = (1 to 3).map { k =>
      val t = System.nanoTime()
      val c = cfg(s"warm$k")
      val src = new MemoryTickSource(spark)
      val q = StreamingPipeline.start(spark, src, c, Trigger.ProcessingTime(0))
      try {
        val f = new TickFeed(a.seed * 31 + k, Rate, Rate * 2)
        feed(src, q, f, System.currentTimeMillis(), 1.0, ArrayBuffer.empty)
        q.processAllAvailable()
      } finally q.stop()
      (System.nanoTime() - t) / 1e9
    }
    median(rounds)
  }

  def measure(trace: Option[Trace]): Phase = {
    measured += 1
    val c = cfg(s"run$measured")
    val src = new MemoryTickSource(spark)
    val f = new TickFeed(a.seed, Rate, (Rate * (a.seconds + 5)).toInt)
    val pushes = ArrayBuffer.empty[(Long, Long)]
    val q = StreamingPipeline.start(spark, src, c, Trigger.ProcessingTime(0))
    val t0 = System.currentTimeMillis()
    val (lagMax, flushMs) = try {
      val lag = feed(src, q, f, t0, a.seconds, pushes)
      val flushMs = System.currentTimeMillis() + 180000L
      src.addData(Seq(f.flush(flushMs)))
      pushes += ((System.currentTimeMillis(), f.n.toLong))
      q.processAllAvailable()
      // the watermark the flush tick set is applied by the next batch
      val deadline = System.currentTimeMillis() + 20000L
      while (!q.recentProgress.exists(p => watermarkOf(p) >= flushMs - 60000L) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      q.processAllAvailable()
      (lag, flushMs)
    } finally q.stop()
    val ps = q.recentProgress.toSeq.sortBy(_.batchId)
    val drainedMs = System.currentTimeMillis() - t0
    val errors = ArrayBuffer.empty[String]

    // every generated tick must be committed
    val committed = ps.map(_.numInputRows).sum
    if (committed != f.n) errors += s"ticks committed $committed != generated ${f.n}"

    // latency: batch commit time minus the row's newest contributing tick
    val commitAt = ps.map(p => p.batchId ->
      (progressStart(p) + durMs(p, "triggerExecution").getOrElse(0.0))).toMap
    val rows = spark.read.parquet(c.outDir)
      .filter(col("symbol") =!= TickFeed.FlushSymbol)
      .select(col("batch_id"), unix_millis(col("max_event_time")),
        col("latency_ms")).collect()
    val lat = rows.map(r => commitAt(r.getLong(0)) - r.getLong(1))
    val sinkLat = rows.map(_.getLong(2).toDouble)

    // output: the finalized sink against a batch recomputation over the
    // same ticks, minus those generated beyond the watermark
    val finalWm = ps.map(watermarkOf).max
    if (finalWm < flushMs - 60000L)
      errors += s"final watermark $finalWm never passed the measured windows"
    import spark.implicits._
    val kept = (0 until f.n).filterNot(i => f.beyond(i)).map { i =>
      val s = TickFeed.name(f.sym(i))
      (s, TickFeed.price(s, f.ev(i)), f.ev(i))
    }.toDF("symbol", "price", "event_time_ms")
    val fc = StreamingPipeline.featureConfig(c).copy(watermark = None)
    val cols = Seq("symbol", "window_start", "window_end", "first_price",
      "last_price", "log_return", "volatility", "num_ticks",
      "max_event_time").map(col)
    val closed = col("window_end") <= lit(new java.sql.Timestamp(finalWm))
    val expected = Features.compute(TickParse.withEventTime(kept), fc)
      .filter(closed).select(cols: _*).cache()
    val got = StreamingPipeline.finalized(spark, c.outDir)
      .filter(closed).select(cols: _*).cache()
    val windows = expected.count()
    val wrong = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    if (wrong > 0) errors += s"$wrong feature rows disagree with the batch recomputation"
    expected.unpersist(); got.unpersist()

    // each beyond-watermark tick lands alone in its (symbol, window)
    // groups, one per window the slide puts it in
    val perTick = 6
    val dropped = ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    if (dropped != f.beyondCount.toLong * perTick)
      errors += s"state dropped $dropped rows, expected ${f.beyondCount} beyond-watermark ticks x $perTick"

    val e2e = Map(
      "latency_p50_ms" -> quantile(lat.toSeq.map(_.toDouble), 0.5),
      "latency_p90_ms" -> quantile(lat.toSeq.map(_.toDouble), 0.9),
      "throughput_per_s" -> committed.toDouble /
        ((ps.filter(_.numInputRows > 0).map(p => progressStart(p) +
          durMs(p, "triggerExecution").getOrElse(0.0)).max - t0) / 1000.0))
    val layers = trace.map { t =>
      val tps = t.progress.asScala.toSeq.filter(_.id == q.id).sortBy(_.batchId)
      val data = tps.filter(_.numInputRows > 0)
      val js = t.jobsOf(_.startsWith("batch:"))
      val st = t.stagesOf(js)
      val nb = math.max(1, data.size).toDouble
      // rows generated by a batch's start but not committed before it
      val lag = data.map { p =>
        val at = progressStart(p)
        val generated = pushes.takeWhile(_._1 <= at).lastOption.map(_._2)
          .getOrElse(0L)
        val startOff = Option(p.sources.head.startOffset)
          .flatMap(_.trim.toLongOption).getOrElse(-1L)
        val done = if (startOff < 0) 0L else pushes(startOff.toInt)._2
        (generated - done).toDouble
      }
      streamingLayers(tps) ++ Map(
        "gen.lag_ms_max" -> lagMax.toDouble,
        "streaming.source_lag_rows_max" -> (if (lag.isEmpty) 0.0 else lag.max),
        "streaming.sink_latency_ms_p50" -> median(sinkLat.toSeq),
        "ops.task_s_per_batch" -> st.map(_.runMs).sum / 1000.0 / nb,
        "ops.cpu_s_per_batch" -> st.map(_.cpuNs).sum / 1e9 / nb,
        "ops.shuffle_bytes_per_batch" -> st.map(_.shuffleBytes).sum / nb)
    }.getOrElse(Map.empty)
    Phase(e2e, layers, e2e("latency_p50_ms"), f.n.toLong + windows,
      math.abs(f.n - committed) + wrong +
        math.abs(dropped - f.beyondCount.toLong * perTick),
      errors.toSeq,
      Map("t0" -> t0, "drained_ms" -> drainedMs,
        "checked_ms" -> (System.currentTimeMillis() - t0),
        "batches" -> ps.count(_.numInputRows > 0),
        "feature_rows" -> lat.length, "windows_checked" -> windows,
        "beyond_watermark_ticks" -> f.beyondCount,
        "rows_dropped_by_watermark" -> dropped))
  }

  private def watermarkOf(p: StreamingQueryProgress): Long =
    Option(p.eventTime.get("watermark"))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)

  def spans(t: Trace, ids: AtomicLong): Seq[Trace.Span] =
    Trace.batchSpans(t, t.progress.asScala.toSeq.sortBy(_.batchId), 1L, ids)
}
