package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.extra.SubstrIndex
import graft.gen.SyntheticDocs
import graft.streaming.SubstrIngest

/** `substr_ingest`: exactly-once incremental ExactSubstr ingest. A
  * seeded backlog of planted-duplicate docs ([[SyntheticDocs]]: in every
  * 20-doc block, one near and one exact copy) is drained in fixed-size
  * micro-batches, closed loop (the next batch is offered once the last
  * one committed), through [[SubstrIngest.start]] into an index
  * [[SubstrIndex.build]] made over a seeded corpus.
  */
final class SubstrWorkload(spark: SparkSession, a: Harness.Args)
    extends Workload {
  import Harness._
  import spark.implicits._
  implicit private val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  val CorpusDocs = 10000L
  val Batch = 1000
  /** Batches materialized up front: more than two phases of a run drain. */
  val BacklogBatches = 40
  /** Doc ids start at a seed-dependent multiple of 20 (block aligned);
    * stream ids sit above the corpus ids, as the index requires. */
  private val base = 1000000000L + (a.seed % 1000L + 1000L) % 1000L * 10000000L
  private val streamBase = base + CorpusDocs
  private var indexDir = ""
  private var backlog: IndexedSeq[Array[(Long, String)]] = IndexedSeq.empty
  private var nextBatch = 0
  private var runs = 0
  private var progress = Seq.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private def docs(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id").as("doc_id"),
      SyntheticDocs.plantedText(col("id")).as("text"))

  private def batchAt(k: Int): Array[(Long, String)] =
    docs(streamBase + k.toLong * Batch, Batch).as[(Long, String)].collect()

  private def startIngest(src: MemoryStream[(Long, String)], idx: String,
      name: String): StreamingQuery =
    SubstrIngest.start(src.toDF().toDF("doc_id", "text"), idx,
      s"${dir(a, name)}/out", dir(a, s"$name/ckpt"),
      trigger = Trigger.ProcessingTime(0))

  /** Set-up, three times on fresh directories: build the index over the
    * seeded corpus and drain one batch into it. The last round's index
    * is the one the measurement ingests into. The backlog itself is
    * materialized once, outside the timed rounds. */
  def setup(): Double = {
    val corpus = spark.range(base, base + CorpusDocs).select(
      col("id").as("doc_id"), SyntheticDocs.textFor(col("id")).as("text"))
    val rounds = (1 to 3).map { k =>
      val t = System.nanoTime()
      val idx = dir(a, s"index$k")
      SubstrIndex.build(corpus, "doc_id", "text", idx, k = 5, hashed = true)
      val src = MemoryStream[(Long, String)]
      val q = startIngest(src, idx, s"warm$k")
      try { src.addData(batchAt(0).toSeq); q.processAllAvailable() }
      finally q.stop()
      indexDir = idx
      (System.nanoTime() - t) / 1e9
    }
    nextBatch = 1
    backlog = docs(streamBase + Batch, BacklogBatches.toLong * Batch)
      .as[(Long, String)].collect().grouped(Batch).toIndexedSeq
    median(rounds)
  }

  def measure(trace: Option[Trace]): Phase = {
    runs += 1
    val name = s"run$runs"
    val outDir = s"${dir(a, name)}/out"
    val (v0, _) = manifest(indexDir)
    val src = MemoryStream[(Long, String)]
    val q = startIngest(src, indexDir, name)
    val first = nextBatch
    val t0 = System.currentTimeMillis()
    var offered = 0
    try {
      while ((offered == 0 || System.currentTimeMillis() - t0 < a.seconds * 1000) &&
        nextBatch - 1 < backlog.size) {
        src.addData(backlog(nextBatch - 1).toSeq)
        q.processAllAvailable()
        nextBatch += 1
        offered += 1
      }
    } finally q.stop()
    val wallS = (System.currentTimeMillis() - t0) / 1000.0
    val ps = q.recentProgress.toSeq.sortBy(_.batchId).filter(_.numInputRows > 0)
    progress = ps
    val errors = ArrayBuffer.empty[String]
    val docsIn = offered.toLong * Batch
    val lo = streamBase + first.toLong * Batch

    // fixed batch size, and no batch missing or duplicated
    val sizes = ps.map(_.numInputRows)
    if (sizes.size != offered || sizes.exists(_ != Batch))
      errors += s"batch sizes ${sizes.mkString(",")} differ from $offered x $Batch"
    val out = spark.read.parquet(outDir)
    val perBatch = out.groupBy("batch").count().as[(Int, Long)].collect().toMap
    if (perBatch.keySet != (0 until offered).toSet || perBatch.values.exists(_ != Batch))
      errors += s"sink batches ${perBatch.toSeq.sorted.mkString(",")} are not $offered x $Batch"
    val Array(rows, ids, inRange) = out.agg(count(lit(1)),
      countDistinct(col("doc_id")),
      sum(when(col("doc_id").between(lo, lo + docsIn - 1), 1).otherwise(0)))
      .collect()(0).toSeq.map(x => Option(x).map(_.toString.toLong).getOrElse(0L))
      .toArray
    if (rows != docsIn || ids != docsIn || inRange != docsIn)
      errors += s"sink holds $rows rows / $ids ids / $inRange in range for $docsIn docs"

    // planted duplicates: exactly 2 docs per 20-doc block are cut
    val cut = out.as("o").join(docs(lo, docsIn).as("i"), "doc_id")
      .filter(col("o.text") =!= col("i.text")).count()
    val planted = docsIn / 10
    if (cut != planted) errors += s"$cut docs cut, $planted planted duplicates"

    val batchMs = ps.flatMap(durMs(_, "triggerExecution"))
    val e2e = Map(
      "latency_p50_ms" -> quantile(batchMs, 0.5),
      "latency_p90_ms" -> quantile(batchMs, 0.9),
      "throughput_per_s" -> docsIn / wallS)
    val layers = trace.map { t =>
      val js = t.jobsOf(_.startsWith("batch:"))
      val st = t.stagesOf(js)
      val nb = math.max(1, offered).toDouble
      val (v1, live) = manifest(indexDir)
      val textBytes = backlog.slice(first - 1, first - 1 + offered)
        .flatMap(_.map(_._2.getBytes("UTF-8").length.toLong)).sum
      streamingLayers(t.progress.asScala.toSeq.filter(_.id == q.id)) ++ Map(
        "streaming.source_lag_rows_max" -> 0.0,
        "extra.substr_jobs_per_batch" -> js.size / nb,
        "extra.substr_task_s_per_batch" -> st.map(_.runMs).sum / 1000.0 / nb,
        "extra.substr_segments_live" -> live.toDouble,
        "extra.substr_manifest_versions" -> (v1 - v0).toDouble,
        "extra.substr_folds" -> math.max(0L, v1 - v0 - offered).toDouble,
        "extra.substr_write_amp" -> st.map(_.outputBytes).sum.toDouble / textBytes)
    }.getOrElse(Map.empty)
    val failed = math.abs(rows - docsIn) + (rows - ids) + math.abs(cut - planted) +
      sizes.count(_ != Batch).toLong * Batch + math.abs(offered - sizes.size).toLong * Batch
    Phase(e2e, layers, e2e("latency_p50_ms"), docsIn, failed, errors.toSeq,
      Map("t0" -> t0, "batches" -> offered, "batch_docs" -> Batch,
        "docs_cut" -> cut))
  }

  /** Latest committed manifest version of the index and its live gram
    * segments, read from the manifest files (`_manifests/vNNN.txt`,
    * one `frame<TAB>segment` line per live segment). */
  private def manifest(idx: String): (Long, Int) = {
    val md = new java.io.File(idx, "_manifests")
    val vs = Option(md.listFiles()).toSeq.flatten.map(_.getName)
      .collect { case n if n.matches("v\\d+\\.txt") => n.drop(1).dropRight(4).toLong }
    if (vs.isEmpty) (0L, 0)
    else {
      val lines = java.nio.file.Files.readAllLines(
        new java.io.File(md, f"v${vs.max}%09d.txt").toPath).asScala
      (vs.max, lines.count(_.startsWith("grams\t")))
    }
  }

  def spans(t: Trace, ids: AtomicLong): Seq[Trace.Span] =
    Trace.batchSpans(t, progress, 1L, ids)
}
