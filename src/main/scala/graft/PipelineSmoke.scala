package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.extra.{AnnIndex, Bm25Index, Curation, Dedup, Retrieval,
  Similarity, Snapshots}
import graft.gen.SyntheticDocs
import graft.streaming.AnnIngest

/** END-TO-END corpus pipeline smoke — the full maintenance loop a
  * large-scale training-data operator runs, composed entirely from
  * shipped operators:
  *
  *   1. batch CURATION (quality/lang gates, exact + near-dup verdicts)
  *   2. SNAPSHOT COMMIT of the kept docs (manifest-versioned, clustered
  *      by doc_id, per-file `crawl_ts` stats via `statsCols`)
  *   3. persisted INDEX BUILDS from the snapshot (BM25 sparse arm,
  *      IVF-PQ dense arm)
  *   4. an INCREMENTAL BATCH: curate, near-dup against the existing
  *      corpus ([[Dedup.nearDupIncremental]] — batch-driven candidates),
  *      snapshot upsert, append into both indexes with no rebuild
  *   5. MAINTENANCE: compact both indexes + the snapshot
  *   6. SERVING: hybrid RRF retrieval over the persisted indexes
  *      (production nprobe, not exact mode), keyed point lookup, and a
  *      time-window [[Snapshots.readRange]] that must prune to the
  *      incremental batch's files only (commits are time-correlated,
  *      so the manifest's secondary-column stats make the window read
  *      O(matching files)).
  *
  * Every stage prints its wall seconds; the final line is one JSON
  * object. Usage: `runMain graft.PipelineSmoke [nDocs] [nBatch]`.
  */
object PipelineSmoke {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val nb = args.drop(1).headOption.map(_.toInt).getOrElse(20000)
    val spark = ToolSession(b => sys.env.get("SPARK_GRAFT_MASTER")
      .fold(b)(b.master).appName("graft-pipeline-smoke"))
    import spark.implicits._

    val t00 = System.nanoTime()
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timed[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      timings(tag) = math.rint(s * 1000) / 1000
      println(f"[pipeline] $tag%-22s $s%8.2f s")
      r
    }

    val work = java.nio.file.Files.createTempDirectory("graft_pipeline")
    val snapDir = s"$work/snapshot"
    val bm25Dir = s"$work/bm25"
    val annDir = s"$work/ann"
    val T0 = 1700000000000000L // epoch micros; 1 ms of crawl time per id
    def corpusOf(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("doc_id"),
        SyntheticDocs.plantedText(col("id")).as("text"),
        timestamp_micros(lit(T0) + col("id") * 1000L).as("crawl_ts"))

    // ---- 1. initial curation (10% planted dups + gate rejects) ------
    val base = corpusOf(0L, n.toLong)
    val kept0 = timed("curate") {
      val verdicts = Curation.curate(base, "doc_id", "text")
      base.join(verdicts.filter(col("status") === "kept"), Seq("doc_id"))
        .select("doc_id", "text", "crawl_ts")
        .persist()
    }
    val nKept0 = kept0.count()

    // ---- 2. snapshot commit with secondary-column stats -------------
    timed("snapshot-init")(
      Snapshots.init(kept0, snapDir, "doc_id", numFiles = 16,
        statsCols = Seq("crawl_ts")))

    // ---- 3. persisted index builds ----------------------------------
    val corpus = Snapshots.read(spark, snapDir)
    timed("bm25-build")(
      Bm25Index.build(corpus, "doc_id", "text", bm25Dir))
    timed("ann-build")(
      AnnIndex.buildAndWriteIvfPq(
        corpus.select(col("doc_id"),
          AnnIngest.embedStub(col("text"), 64).as("embedding")),
        "doc_id", "embedding", annDir, numCentroids = 32))

    // ---- 4. incremental batch ---------------------------------------
    val batch = corpusOf(n.toLong, (n + nb).toLong)
    val keptB = timed("batch-curate") {
      val verdicts = Curation.curate(batch, "doc_id", "text")
      batch.join(verdicts.filter(col("status") === "kept"), Seq("doc_id"))
        .select("doc_id", "text", "crawl_ts")
        .persist()
    }
    val cleanB = timed("batch-vs-corpus-dedup") {
      val v = Dedup.nearDupIncremental(
        kept0.select("doc_id", "text"), keptB.select("doc_id", "text"),
        "doc_id", "text")
      keptB.join(v.filter(!col("is_dup")).select("doc_id"), Seq("doc_id"))
        .persist()
    }
    val nCleanB = cleanB.count()
    timed("snapshot-upsert")(
      Snapshots.upsert(spark, snapDir, cleanB, "doc_id"))
    timed("bm25-append")(
      Bm25Index.append(cleanB, "doc_id", "text", bm25Dir))
    timed("ann-append")(
      AnnIndex.appendIvfPq(spark, annDir,
        cleanB.select(col("doc_id"),
          AnnIngest.embedStub(col("text"), 64).as("embedding")),
        "doc_id", "embedding"))

    // ---- 5. maintenance ---------------------------------------------
    timed("compact") {
      Bm25Index.compact(spark, bm25Dir)
      AnnIndex.compact(spark, annDir)
      Snapshots.compact(spark, snapDir, "doc_id")
    }

    // ---- 6. serving -------------------------------------------------
    val queries = corpus.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("query_text"))
    val nHybrid = timed("hybrid-serve") {
      val ws = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      val sparse = Bm25Index.searchAll(spark, bm25Dir, queries,
          "query_id", "query_text", idCol = "doc_id", topK = 20)
        .withColumn("rank", row_number().over(ws))
      val idx = AnnIndex.readIvfPq(spark, annDir)
      val dense = Similarity.searchIvfPq(idx, col("id") < 3,
          k = 20, nprobe = 3, candFactor = 3)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      Retrieval.rrfFuse(sparse, dense, "query_id", "doc_id",
        rrfK = 60, topK = 10).count()
    }
    val nLookup = timed("point-lookup")(
      Snapshots.lookup(spark, snapDir,
        Seq(1L, 7L, n + 1L, n + 7L).toDF("doc_id"), "doc_id").count())
    // window = the incremental batch's crawl span; the manifest's
    // crawl_ts stats must prune the read to the batch files alone.
    // NOTE: run BEFORE maintenance would prune too — but post-compact
    // the table is one fresh clustered version whose files each span
    // the full ts range, so probe v(upsert) explicitly for the prune.
    val upsertV = Snapshots.latestVersion(spark, snapDir).get - 1
    val (nRange, rangeFiles, totalFiles) = timed("range-read") {
      // bounds in exact micros (1 ms of crawl time per id): an
      // integer-seconds window would leak base-corpus ids when n is
      // not a multiple of 1000
      val rr = Snapshots.readRange(spark, snapDir, "crawl_ts",
        java.time.Instant.ofEpochSecond(1700000000L, n.toLong * 1000000L),
        java.time.Instant.ofEpochSecond(1700000000L,
          (n + nb).toLong * 1000000L),
        asOf = Some(upsertV))
      (rr.count(), rr.inputFiles.length,
        Snapshots.manifest(spark, snapDir, upsertV).size)
    }

    val total = (System.nanoTime() - t00) / 1e9
    spark.stop()
    val tj = timings.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(s"""{"metric":"pipeline","n_docs":$n,"n_batch":$nb,""" +
      s""""kept_initial":$nKept0,"kept_batch":$nCleanB,""" +
      s""""hybrid_rows":$nHybrid,"lookup_rows":$nLookup,""" +
      s""""range_rows":$nRange,"range_files":$rangeFiles,""" +
      s""""files_at_version":$totalFiles,""" +
      s""""total_sec":${math.rint(total * 100) / 100},$tj}""")
  }
}
