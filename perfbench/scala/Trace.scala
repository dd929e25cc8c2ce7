package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in recorder for the traced run. It attaches a SparkListener
  * (jobs, stages), a QueryExecutionListener (plan phases) and a
  * StreamingQueryListener (micro-batch progress) and keeps everything in
  * memory; each workload's `spans` turns the records into the span tree
  * workload → query or micro-batch → phase → job → stage, written out
  * once when the run ends.
  *
  * The benchmark thread tags the work it causes with the local property
  * [[Trace.SpanKey]]; jobs of a streaming query carry Spark's own
  * micro-batch id property instead.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val key = prop(SpanKey).orElse(prop(BatchIdKey).map("batch:" + _))
        .getOrElse("")
      open.put(e.jobId, JobRec(e.jobId, key, e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(open.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      stages.add(StageRec(s.stageId, s.numTasks,
        s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        if (m == null) 0L else m.executorRunTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L
        else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.outputMetrics.bytesWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans.add(PlanRec(ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): this.type = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Detaches after draining the listener bus, so every event of the
    * traced window is recorded before metrics are computed. */
  def detach(): Unit = {
    Trace.drainBus(spark)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  def jobsOf(key: String => Boolean): Seq[JobRec] =
    jobs.asScala.toSeq.filter(j => key(j.key))

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.flatMap(_.stageIds).toSet
    stages.asScala.toSeq.filter(s => ids.contains(s.stageId))
  }
}

object Trace {
  val SpanKey = "graftbench.span"
  val BatchIdKey = "streaming.sql.batchId"

  final case class JobRec(jobId: Int, key: String, start: Long, end: Long,
      stageIds: Seq[Int])
  final case class StageRec(stageId: Int, tasks: Int, start: Long, end: Long,
      runMs: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long,
      outputBytes: Long)
  final case class PlanRec(analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  /** One recorded span: `trace` groups the spans of one query execution
    * or micro-batch; `parent` is 0 for the workload root. */
  final case class Span(id: Long, parent: Long, trace: String, kind: String,
      name: String, start: Long, end: Long, attrs: Map[String, Any])

  def drainBus(spark: SparkSession): Unit = {
    // the listener bus is asynchronous; a no-op job plus a short wait
    // lets every event of the finished work arrive before reading
    spark.sparkContext.parallelize(Seq(1), 1).count(): Unit
    Thread.sleep(500)
  }

  /** Sum of the lengths of the union of `[start, end)` intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Job and stage spans beneath `parent`, sharing its trace id. */
  def jobSpans(t: Trace, js: Seq[JobRec], parent: Long, trace: String,
      ids: java.util.concurrent.atomic.AtomicLong): Seq[Span] = {
    val byStage = t.stagesOf(js).map(s => s.stageId -> s).toMap
    js.sortBy(_.start).flatMap { j =>
      val jid = ids.incrementAndGet()
      Span(jid, parent, trace, "job", s"job ${j.jobId}", j.start, j.end,
        Map("stages" -> j.stageIds.size)) +:
        j.stageIds.flatMap(byStage.get).map { s =>
          Span(ids.incrementAndGet(), jid, trace, "stage",
            s"stage ${s.stageId}", s.start, s.end,
            Map("tasks" -> s.tasks, "task_ms" -> s.runMs,
              "cpu_ms" -> s.cpuNs / 1000000L,
              "shuffle_bytes" -> s.shuffleBytes,
              "spill_bytes" -> s.spillBytes))
        }
    }
  }

  /** Micro-batch spans from streaming progress: the batch, then its
    * reported phase durations (Spark reports durations, not start
    * times, so the phases are laid end to end from the batch start),
    * then the jobs the batch ran. */
  def batchSpans(t: Trace, ps: Seq[StreamingQueryProgress], root: Long,
      ids: java.util.concurrent.atomic.AtomicLong): Seq[Span] =
    ps.flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val bid = ids.incrementAndGet()
      val trace = s"batch:${p.batchId}"
      var at = start
      val phases = Seq("latestOffset", "getBatch", "queryPlanning",
        "addBatch", "walCommit", "commitOffsets").flatMap { k =>
        d.get(k).map { ms =>
          val s = Span(ids.incrementAndGet(), bid, trace, "phase", k, at,
            at + ms, Map.empty)
          at += ms
          s
        }
      }
      Span(bid, root, trace, "batch", trace, start,
        start + d.getOrElse("triggerExecution", 0L),
        Map("rows" -> p.numInputRows)) +: (phases ++
        jobSpans(t, t.jobsOf(_ == trace), bid, trace, ids))
    }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs)))
    } finally w.close()
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
