package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.extra.SubstrIndex
import graft.streaming.SubstrIngest

/** Streaming incremental ExactSubstr: N micro-batches through the
  * dedup→sink→append chain must leave the cleaned outputs AND the
  * index identical to driving the same batches through the batch API,
  * and a crash-replayed batchId must be a no-op on both legs.
  */
class StreamingSubstrSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog tonight"),
    (1L, "corpus only words nothing shared with anything else here"))
    .toDF("doc_id", "text")
  // batch 1: 100 repeats the corpus run; 101 is clean but introduces
  // a fresh run. batch 2: 200 repeats 101's surviving run (must be
  // cut as a now-corpus dup), 201 is clean.
  private val b1 = Seq(
    (100L, "x1 the quick brown fox jumps over the lazy dog x2"),
    (101L, "m1 m2 fresh shared run alpha beta gamma delta m3"))
  private val b2 = Seq(
    (200L, "z1 fresh shared run alpha beta gamma delta z2"),
    (201L, "another clean follow up document with new words entirely"))

  private def cleanedRows(dir: String) =
    spark.read.parquet(dir)
      .select("doc_id", "text", "n_spans_removed", "n_tokens_removed")
      .orderBy("doc_id").collect().map(_.toString).toSeq

  test("streamed dedup-ingest ≡ the batch API driven manually: " +
      "cleaned outputs and end-state index agree; later batches see " +
      "what earlier batches SURVIVED, not what they lost") {
    val streamIdx = tmp("substr_stream_idx")
    val batchIdx = tmp("substr_batch_idx")
    val outDir = tmp("substr_stream_out")
    SubstrIndex.build(corpus, "doc_id", "text", streamIdx, k = 5)
    SubstrIndex.build(corpus, "doc_id", "text", batchIdx, k = 5)

    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val ckpt = tmp("substr_stream_ckpt")
    val q = SubstrIngest.start(mem.toDF().toDF("doc_id", "text"),
      streamIdx, outDir, ckpt, trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // the batch-API reference: dedup, then append the CLEANED batch
    val ref1 = SubstrIndex.dedupBatch(spark, batchIdx,
      b1.toDF("doc_id", "text"), "doc_id", "text")
    SubstrIndex.append(ref1.select("doc_id", "text"), "doc_id", "text",
      batchIdx)
    val ref2 = SubstrIndex.dedupBatch(spark, batchIdx,
      b2.toDF("doc_id", "text"), "doc_id", "text")
    SubstrIndex.append(ref2.select("doc_id", "text"), "doc_id", "text",
      batchIdx)

    assert(cleanedRows(s"$outDir/batch=0") ==
      ref1.orderBy("doc_id").collect().map(_.toString).toSeq)
    assert(cleanedRows(s"$outDir/batch=1") ==
      ref2.orderBy("doc_id").collect().map(_.toString).toSeq)
    // 200 lost its run to 101's surviving copy — earlier-batch
    // content participates as corpus
    val byId = cleanedRows(s"$outDir/batch=1")
    assert(spark.read.parquet(s"$outDir/batch=1")
      .filter($"doc_id" === 200L)
      .head().getAs[Long]("n_tokens_removed") > 0L, byId.toString)
    // end-state indexes agree: a probe batch dedups identically
    val probe = Seq(
      (300L, "p1 the quick brown fox jumps over the lazy dog p2"),
      (301L, "p3 fresh shared run alpha beta gamma delta p4"))
      .toDF("doc_id", "text")
    def probeRows(idx: String) =
      SubstrIndex.dedupBatch(spark, idx, probe, "doc_id", "text")
        .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(probeRows(streamIdx) == probeRows(batchIdx))
  }

  test("custom id/text column names flow through the whole chain: " +
      "cleaned sink mirrors the input naming and the append resolves") {
    val idx = tmp("substr_cols_idx")
    val outDir = tmp("substr_cols_out")
    SubstrIndex.build(corpus.toDF("docid", "body"), "docid", "body",
      idx, k = 5)
    assert(SubstrIngest.applyBatch(spark, idx, outDir,
      b1.toDF("docid", "body"), "docid", "body", "s", 0L,
      minSpanTokens = 0))
    val out = spark.read.parquet(s"$outDir/batch=0")
    assert(out.columns.toSeq ==
      Seq("docid", "body", "n_spans_removed", "n_tokens_removed"))
    assert(out.filter($"docid" === 100L)
      .head().getAs[Long]("n_tokens_removed") > 0L)
    // the appended grams registered: a repeat of 101's surviving run
    // in the next batch is cut
    assert(SubstrIngest.applyBatch(spark, idx, outDir,
      Seq((200L, "z1 fresh shared run alpha beta gamma delta z2"))
        .toDF("docid", "body"), "docid", "body", "s", 1L,
      minSpanTokens = 0))
    assert(spark.read.parquet(s"$outDir/batch=1")
      .head().getAs[Long]("n_tokens_removed") > 0L)
  }

  test("crash-replayed batchId is a no-op on both legs: index version " +
      "and cleaned parquet unchanged; the pre-commit replay window " +
      "rewrites identical rows") {
    val idx = tmp("substr_replay_idx")
    val outDir = tmp("substr_replay_out")
    SubstrIndex.build(corpus, "doc_id", "text", idx, k = 5)
    val df = b1.toDF("doc_id", "text")
    assert(SubstrIngest.applyBatch(spark, idx, outDir, df, "doc_id",
      "text", "s", 0L, minSpanTokens = 0))
    val v = graft.extra.IndexManifests.latest(spark, idx).get._1
    val out = cleanedRows(s"$outDir/batch=0")
    // post-commit replay: ledger skips, nothing changes
    assert(!SubstrIngest.applyBatch(spark, idx, outDir, df, "doc_id",
      "text", "s", 0L, minSpanTokens = 0))
    assert(graft.extra.IndexManifests.latest(spark, idx).get._1 == v)
    assert(cleanedRows(s"$outDir/batch=0") == out)
    // next batch applies normally on top
    assert(SubstrIngest.applyBatch(spark, idx, outDir,
      b2.toDF("doc_id", "text"), "doc_id", "text", "s", 1L,
      minSpanTokens = 0))
    assert(graft.extra.IndexManifests.latest(spark, idx).get._1 == v + 1)
  }

  test("the background tier-fold thread does not outlive q.stop()") {
    import scala.jdk.CollectionConverters._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    def foldThreads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-") &&
        t.getName.endsWith("-tier-fold"))
    // folds of earlier queries are already shutting down
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(foldThreads.isEmpty, foldThreads)
    }
    val idx = tmp("substr_fold_idx")
    SubstrIndex.build(corpus, "doc_id", "text", idx, k = 5)
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = SubstrIngest.start(mem.toDF().toDF("doc_id", "text"), idx,
      tmp("substr_fold_out"), tmp("substr_fold_ckpt"),
      trigger = Trigger.ProcessingTime(0), autoCompactFanout = 2)
    try {
      for (b <- Seq(b1, b2)) { mem.addData(b: _*); q.processAllAvailable() }
      assert(foldThreads.map(_.getName) == Seq("graft-substr-tier-fold"))
    } finally q.stop()
    eventually(timeout(30.seconds), interval(100.millis)) {
      assert(foldThreads.isEmpty, foldThreads)
    }
  }
}
