package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries._

/** `queries`: one closed-loop client runs a fixed panel of registry
  * queries, each pass in a seeded order, and consumes every result whole
  * through an order-independent digest computed in the same action.
  *
  * The panel is one query per registry family, the middle one of the
  * family's registration order: every family is exercised, and the same
  * queries run whatever the seed, so a run's percentiles compare across
  * seeds. Passes are whole: a run measures full passes until `--seconds`
  * have gone by.
  */
final class QueriesWorkload(spark: SparkSession, a: Harness.Args)
    extends Workload {
  import Harness._
  import QueriesWorkload._

  final case class Exec(pass: Int, name: String, family: String,
      start: Long, buildEnd: Long, end: Long, digest: Option[(Long, String)],
      error: Option[String])

  private val execs = ArrayBuffer.empty[Exec]
  private var phases = 0

  private def runOne(pass: Int, family: String, q: QueryDef): Exec = {
    val sc = spark.sparkContext
    val start = System.currentTimeMillis()
    var buildEnd = start
    try {
      sc.setLocalProperty(Trace.SpanKey, s"q:$pass:${q.name}:build")
      val df = q.run(spark, a.tables)
      buildEnd = System.currentTimeMillis()
      sc.setLocalProperty(Trace.SpanKey, s"q:$pass:${q.name}:exec")
      val d = digest(df)
      Exec(pass, q.name, family, start, buildEnd, System.currentTimeMillis(),
        Some(d), None)
    } catch {
      case e: Throwable =>
        Exec(pass, q.name, family, start, buildEnd, System.currentTimeMillis(),
          None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
    } finally sc.setLocalProperty(Trace.SpanKey, null)
  }

  /** Set-up: two passes over the panel in registration order. The
    * first builds the persisted indexes some queries keep in
    * `java.io.tmpdir` (a fresh directory per run) and compiles the
    * panel's generated code; the second lets the JIT catch up. */
  def setup(): Double = {
    val t = System.nanoTime()
    for (_ <- 1 to 2; (f, q) <- panel) execs += runOne(0, f, q)
    (System.nanoTime() - t) / 1e9
  }

  def measure(trace: Option[Trace]): Phase = {
    phases += 1
    val rng = new scala.util.Random(a.seed * 1000003L + phases)
    val t0 = System.currentTimeMillis()
    val compile0 = compileStats()
    val mine = ArrayBuffer.empty[Exec]
    var pass = 0
    while (pass == 0 || System.currentTimeMillis() - t0 < a.seconds * 1000) {
      pass += 1
      rng.shuffle(panel).foreach { case (f, q) =>
        mine += runOne(phases * 1000 + pass, f, q)
      }
    }
    execs ++= mine
    // Percentiles over every measured execution. Passes are whole, so each
    // query adds the same number of samples whatever the pass count. On a
    // shared 4-vCPU VM they varied less between runs than percentiles over
    // each query's fastest execution.
    val walls = mine.map(e => (e.end - e.start).toDouble).toSeq
    val e2e = Map(
      "latency_p50_ms" -> quantile(walls, 0.5),
      "latency_p90_ms" -> quantile(walls, 0.9),
      "throughput_per_s" -> walls.size / (walls.sum / 1000.0))
    val layers = trace.map { t =>
      Trace.drainBus(spark)
      val perPass = 1.0 / pass
      val passes = mine.map(_.pass.toString).toSet
      val js = t.jobsOf(k => k.startsWith("q:") && passes(k.split(":")(1)))
      val st = t.stagesOf(js)
      val gap = mine.map { e =>
        val mineJobs = js.filter(_.key.startsWith(s"q:${e.pass}:${e.name}:"))
        (e.end - e.start) - Trace.covered(mineJobs.map(j => (j.start, j.end)))
      }.sum
      val plans = t.plans.asScala.toSeq
      val (cc1, cm1) = compileStats()
      Map(
        "queries.build_s" -> mine.map(e => e.buildEnd - e.start).sum / 1000.0 * perPass,
        "queries.exec_s" -> mine.map(e => e.end - e.buildEnd).sum / 1000.0 * perPass,
        "queries.plan_analysis_ms" -> plans.map(_.analysisMs).sum * perPass,
        "queries.plan_optimization_ms" -> plans.map(_.optimizationMs).sum * perPass,
        "queries.plan_planning_ms" -> plans.map(_.planningMs).sum * perPass,
        "queries.codegen_compile_ms" -> (cc1 - compile0._1) * cm1 * perPass,
        "queries.jobs" -> js.size * perPass,
        "queries.stages" -> st.size * perPass,
        "queries.tasks" -> st.map(_.tasks).sum * perPass,
        "queries.task_s" -> st.map(_.runMs).sum / 1000.0 * perPass,
        "queries.cpu_s" -> st.map(_.cpuNs).sum / 1e9 * perPass,
        "queries.gap_s" -> gap / 1000.0 * perPass,
        "queries.shuffle_bytes" -> st.map(_.shuffleBytes).sum * perPass,
        "queries.spill_bytes" -> st.map(_.spillBytes).sum * perPass) ++
        Layers.families.map { f =>
          s"queries.family.$f.wall_s" ->
            mine.filter(_.family == f).map(e => e.end - e.start).sum / 1000.0 *
            perPass
        }
    }.getOrElse(Map.empty)
    val errors = mine.flatMap(e => e.error.map(m => s"${e.name}: $m"))
    val unstable = execs.groupBy(_.name).collect {
      case (n, es) if es.flatMap(_.digest).distinct.size > 1 =>
        s"$n: digest differs between executions"
    }
    Phase(e2e, layers, e2e("latency_p50_ms"), mine.size,
      mine.count(_.error.nonEmpty) + unstable.size, errors.toSeq ++ unstable,
      Map("t0" -> t0, "passes" -> pass,
        "walls_ms" -> mine.groupBy(_.name).map { case (n, es) =>
          n -> es.map(e => e.end - e.start) },
        "digests" -> execs.groupBy(_.name).map { case (n, es) =>
          n -> es.flatMap(_.digest).headOption
            .map { case (rows, h) => Map("rows" -> rows, "hash" -> h,
              "executions" -> es.size) }.orNull
        }))
  }

  def spans(t: Trace, ids: AtomicLong): Seq[Trace.Span] = {
    val traced = execs.filter(_.pass / 1000 == phases)
    traced.toSeq.flatMap { e =>
      val trace = s"q:${e.pass}:${e.name}"
      val qid = ids.incrementAndGet()
      Trace.Span(qid, 1L, trace, "query", e.name, e.start, e.end,
        Map("family" -> e.family, "pass" -> e.pass % 1000)) +:
        Seq("build" -> (e.start, e.buildEnd), "exec" -> (e.buildEnd, e.end))
          .flatMap { case (ph, (s, en)) =>
            val pid = ids.incrementAndGet()
            Trace.Span(pid, qid, trace, "phase", ph, s, en, Map.empty) +:
              Trace.jobSpans(t, t.jobsOf(_ == s"$trace:$ph"), pid, trace, ids)
          }
    }
  }
}

object QueriesWorkload {
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "core" -> CoreQueries.defs, "relational" -> RelationalQueries.defs,
    "dedup" -> DedupQueries.defs, "similarity" -> SimilarityQueries.defs,
    "text" -> TextQueries.defs, "multimodal" -> MultimodalQueries.defs,
    "timeseries" -> TimeSeriesQueries.defs,
    "analytics" -> AnalyticsQueries.defs, "graph" -> GraphQueries.defs,
    "quality" -> QualityQueries.defs)

  lazy val panel: Seq[(String, QueryDef)] = families.map { case (f, ds) =>
    f -> ds(ds.size / 2)
  }

  /** Row count and an order-independent content hash, in one action
    * that reads every column of every row. Doubles are compared to nine
    * significant digits so a different summation order cannot flip the
    * hash; columns are hashed in name order. */
  def digest(df: DataFrame): (Long, String) = {
    val cs = df.schema.fields.sortBy(_.name).map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = if (cs.isEmpty) lit(0L) else xxhash64(cs.toIndexedSeq: _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .collect()(0)
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast(DoubleType) + lit(0.0))
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  def compileStats(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
