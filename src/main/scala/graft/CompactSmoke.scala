package graft

import org.apache.spark.sql.functions._

import graft.extra.{AnnIndex, Bm25Index}

/** Index-maintenance smoke (builder tooling): the table-maintenance
  * half of the streaming-ingest story. Simulates N streamed
  * micro-batches into BOTH persisted indexes (ANN `singleFileBatch`
  * appends + BM25 log-structured appends), then shows what
  * [[AnnIndex.compact]] / [[Bm25Index.compact]] buy:
  *
  *   - physical file counts drop back to the built layout's shape
  *     (ANN: ≤ one file per posting list; BM25: the configured
  *     clustered file count + merged df/meta partials);
  *   - a COLD search (fresh file listing — caches cleared) gets
  *     faster, because a probed partition is one sequential file
  *     again instead of N+1 per-batch fragments;
  *   - search results are bit-identical before and after (also
  *     spec-pinned in AnnIndexSpec/Bm25IndexSpec — this smoke is the
  *     at-N-batches wall-clock evidence).
  *
  * Usage: runMain graft.CompactSmoke [nBatches] [rowsPerBatch]
  */
object CompactSmoke {

  private def fileCount(root: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).fold(Seq.empty[java.io.File])(_.toSeq.flatMap(walk))
      else Seq(f)
    walk(new java.io.File(root)).count(_.getName.endsWith(".parquet"))
  }

  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(40)
    val perBatch = args.lift(1).map(_.toLong).getOrElse(20000L)
    val spark = ToolSession()

    val base = java.nio.file.Files.createTempDirectory("graft_compact_smoke")
      .toString
    val annDir = s"$base/ann"
    val bm25Dir = s"$base/bm25"

    def docsFor(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("doc_id"),
      graft.gen.SyntheticDocs.textFor(col("id")).as("text"))
    def embFor(lo: Long, hi: Long) = docsFor(lo, hi).select(col("doc_id"),
      graft.streaming.AnnIngest.embedStub(col("text"), 64).as("embedding"))

    // seed build freezes the ANN codebooks; BM25 starts from batch 0
    AnnIndex.buildAndWriteIvfPq(embFor(1000000000L, 1000020000L),
      "doc_id", "embedding", annDir, numCentroids = 32)
    val cb = AnnIndex.readCodebooks(spark, annDir)
    val t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      val (lo, hi) = (b * perBatch, (b + 1) * perBatch)
      AnnIndex.appendIvfPq(spark, annDir, embFor(lo, hi), "doc_id",
        "embedding", codebooks = Some(cb), singleFileBatch = true)
      Bm25Index.append(docsFor(lo, hi), "doc_id", "text", bm25Dir,
        numFiles = 1)
    }
    println(f"[compact-smoke] $nBatches batches x $perBatch appended in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1fs")

    def coldAnnSearch(): (Double, Seq[(Long, Long)]) = {
      spark.sharedState.cacheManager.clearCache()
      val t = System.nanoTime()
      val idx = AnnIndex.readIvfPq(spark, annDir)
      val rows = graft.extra.Similarity.searchIvfPq(idx,
          col("id").between(0, 7), k = 5, nprobe = 4)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      ((System.nanoTime() - t) / 1e9, rows)
    }
    def coldBm25Search(): (Double, Seq[(Long, Double)]) = {
      spark.sharedState.cacheManager.clearCache()
      val t = System.nanoTime()
      val rows = Bm25Index.search(spark, bm25Dir,
          Seq("w100", "w2000", "w31337"), idCol = "doc_id", topK = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      ((System.nanoTime() - t) / 1e9, rows)
    }

    val annFilesBefore = fileCount(s"$annDir/codes")
    val bm25FilesBefore = fileCount(bm25Dir)
    val (annWallBefore, annRows) = coldAnnSearch()
    val (bmWallBefore, bmRows) = coldBm25Search()

    val tc = System.nanoTime()
    AnnIndex.compact(spark, annDir)
    Bm25Index.compact(spark, bm25Dir, numFiles = 8)
    val compactWall = (System.nanoTime() - tc) / 1e9

    val annFilesAfter = fileCount(s"$annDir/codes")
    val bm25FilesAfter = fileCount(bm25Dir)
    val (annWallAfter, annRows2) = coldAnnSearch()
    val (bmWallAfter, bmRows2) = coldBm25Search()

    println(f"[compact-smoke] ann files $annFilesBefore -> $annFilesAfter, " +
      f"cold search $annWallBefore%.2fs -> $annWallAfter%.2fs")
    println(f"[compact-smoke] bm25 files $bm25FilesBefore -> $bm25FilesAfter, " +
      f"cold search $bmWallBefore%.2fs -> $bmWallAfter%.2fs " +
      f"(compact itself $compactWall%.1fs)")
    require(annFilesAfter < annFilesBefore && bm25FilesAfter < bm25FilesBefore,
      "compaction must reduce physical file counts")
    require(annRows == annRows2, "ANN search must be identical post-compact")
    require(bmRows == bmRows2, "BM25 search must be identical post-compact")
    spark.stop()
    println("[compact-smoke] OK")
  }
}
