package graftbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryProgress}

/** Entry point of the benchmark's JVM side. One process runs one
  * workload: it sets up, measures for `--seconds`, checks the program's
  * outputs and writes a JSON result file that `perfbench/run.py` turns
  * into the benchmark's result line.
  *
  * {{{
  * graftbench.Harness --workload ticks|queries|substr_ingest --seed N
  *   --seconds S --trace 0|1 --run-dir DIR --tables DIR --cores C
  *   --launch-ms EPOCH_MS --out FILE
  * }}}
  *
  * With `--trace 1` the run splits `--seconds` in two halves: it first
  * measures untraced, then again with the [[Trace]] listeners attached;
  * per-layer metrics come from the traced phase and `trace.overhead_pct`
  * compares the two.
  */
object Harness {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, runDir: String, tables: String, cores: Int,
      launchMs: Long, out: String)

  /** What one measured phase of a workload yields. `primary` is the
    * latency the tracing overhead is computed on. */
  final case class Phase(e2e: Map[String, Double], layers: Map[String, Double],
      primary: Double, attempted: Long, failed: Long, errors: Seq[String],
      extra: Map[String, Any] = Map.empty)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("run-dir"), m.getOrElse("tables", ""),
      m.getOrElse("cores", "4").toInt, m("launch-ms").toLong, m("out"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      // the same codegen cache size the project's own bench runs with
      .config("spark.sql.codegen.cache.maxEntries", "16384")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dir(a: Args, name: String): String = {
    val f = new File(a.runDir, name)
    f.mkdirs()
    f.getAbsolutePath
  }

  def progressStart(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli

  def durMs(p: StreamingQueryProgress, k: String): Option[Double] =
    Option(p.durationMs.get(k)).map(_.doubleValue)

  /** Streaming-layer numbers every streaming workload reports, from the
    * progress events the traced phase's StreamingQueryListener saw. */
  def streamingLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def p50(k: String) = median(data.flatMap(durMs(_, k)))
    val ops = data.flatMap(_.stateOperators.headOption)
    def p50state(f: StateOperatorProgress => Long) =
      if (ops.isEmpty) 0.0 else median(ops.map(o => f(o).toDouble))
    Map(
      "streaming.batches" -> data.size.toDouble,
      "streaming.trigger_ms_p50" -> p50("triggerExecution"),
      "streaming.latestOffset_ms_p50" -> p50("latestOffset"),
      "streaming.queryPlanning_ms_p50" -> p50("queryPlanning"),
      "streaming.addBatch_ms_p50" -> p50("addBatch"),
      "streaming.walCommit_ms_p50" -> p50("walCommit"),
      "streaming.commitOffsets_ms_p50" -> p50("commitOffsets"),
      "streaming.state_rows_total" -> p50state(_.numRowsTotal),
      "streaming.state_memory_bytes" -> p50state(_.memoryUsedBytes),
      "streaming.state_commit_ms_p50" -> p50state(_.commitTimeMs),
      "streaming.state_rows_dropped_by_watermark" ->
        ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
          .toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    val sessionS = (System.currentTimeMillis() - a.launchMs) / 1000.0
    // what one measured phase sees
    val pa = if (a.trace) a.copy(seconds = a.seconds / 2) else a
    val w: Workload = a.workload match {
      case "ticks" => new TicksWorkload(spark, pa)
      case "queries" => new QueriesWorkload(spark, pa)
      case "substr_ingest" => new SubstrWorkload(spark, pa)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = sessionS + w.setup()
    val tMeasure = System.currentTimeMillis()
    val plain = w.measure(None)
    val measureS = (System.currentTimeMillis() - tMeasure) / 1000.0
    val result = if (!a.trace) {
      Seq("e2e" -> plain.e2e, "attempted" -> plain.attempted,
        "failed" -> plain.failed, "errors" -> plain.errors)
    } else {
      Trace.drainBus(spark)
      val t = new Trace(spark).attach()
      val traced = try w.measure(Some(t)) finally t.detach()
      val ids = new AtomicLong(1L)
      val spans = Trace.Span(1L, 0L, a.workload, "workload", a.workload,
        traced.extra.getOrElse("t0", 0L).asInstanceOf[Long],
        System.currentTimeMillis(), Map("seed" -> a.seed)) +: w.spans(t, ids)
      Trace.writeSpans(s"${a.runDir}/trace.jsonl", spans)
      val overhead = 100.0 * (traced.primary - plain.primary) / plain.primary
      val layers = Layers.all.map(k => k -> 0.0).toMap ++ traced.layers +
        ("trace.overhead_pct" -> overhead)
      require(layers.keySet == Layers.all.toSet,
        s"unlisted layer metrics: ${layers.keySet -- Layers.all}")
      Seq("layers" -> layers, "trace_spans" -> spans.size,
        "attempted" -> (plain.attempted + traced.attempted),
        "failed" -> (plain.failed + traced.failed),
        "errors" -> (plain.errors ++ traced.errors))
    }
    val out = Json.obj(Seq("workload" -> a.workload, "setup_s" -> setupS,
      "session_s" -> sessionS, "measure_and_check_s" -> measureS) ++
      result ++ plain.extra.filter(_._1 != "t0").toSeq)
    val tmp = new File(a.out + ".tmp")
    java.nio.file.Files.write(tmp.toPath, out.getBytes("UTF-8"))
    tmp.renameTo(new File(a.out))
    spark.stop()
  }
}

/** One benchmark workload: a set-up (timed, repeated where it is cheap
  * enough) and a measured phase, optionally traced. */
trait Workload {
  /** Seconds of workload set-up, reported inside `setup_s`. */
  def setup(): Double
  def measure(trace: Option[Trace]): Harness.Phase
  /** Spans of the traced phase beneath the workload root (id 1). */
  def spans(t: Trace, ids: AtomicLong): Seq[Trace.Span]
}

/** The per-layer metric names, in the order BENCHMARK.json lists them.
  * A workload that does not exercise a layer reports 0 for it. */
object Layers {
  val families = Seq("core", "relational", "dedup", "similarity", "text",
    "multimodal", "timeseries", "analytics", "graph", "quality")
  val all: Seq[String] = Seq(
    "gen.lag_ms_max",
    "streaming.batches", "streaming.trigger_ms_p50",
    "streaming.latestOffset_ms_p50", "streaming.queryPlanning_ms_p50",
    "streaming.addBatch_ms_p50", "streaming.walCommit_ms_p50",
    "streaming.commitOffsets_ms_p50", "streaming.source_lag_rows_max",
    "streaming.sink_latency_ms_p50",
    "streaming.state_rows_total", "streaming.state_memory_bytes",
    "streaming.state_commit_ms_p50",
    "streaming.state_rows_dropped_by_watermark",
    "ops.task_s_per_batch", "ops.cpu_s_per_batch",
    "ops.shuffle_bytes_per_batch",
    "queries.build_s", "queries.exec_s", "queries.plan_analysis_ms",
    "queries.plan_optimization_ms", "queries.plan_planning_ms",
    "queries.codegen_compile_ms", "queries.jobs", "queries.stages",
    "queries.tasks", "queries.task_s", "queries.cpu_s", "queries.gap_s",
    "queries.shuffle_bytes", "queries.spill_bytes") ++
    families.map(f => s"queries.family.$f.wall_s") ++ Seq(
    "extra.substr_jobs_per_batch", "extra.substr_task_s_per_batch",
    "extra.substr_segments_live", "extra.substr_manifest_versions",
    "extra.substr_folds", "extra.substr_write_amp",
    "trace.overhead_pct")
}
