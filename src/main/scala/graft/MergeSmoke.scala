package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.extra.{Layout, Merge}

/** Merge scale smoke (builder tooling): keyed copy-on-write upsert and
  * delete over clustered corpora at two table sizes with the SAME fixed
  * 10k-doc batch, against the naive full rebuild at each size.
  * Usage: runMain graft.MergeSmoke [nRows,nRows,...] [files]
  *
  * What it measures (SCALE.md):
  *   - merge wall should be ~FLAT across table sizes (cost is
  *     O(touched files + batch)); the rebuild baseline — read table,
  *     anti-join, union, rewrite everything, the shape every naive
  *     pipeline starts with — grows ~LINEARLY (O(table));
  *   - footer-range pruning is auditable via filesRewritten: a
  *     contiguous 10k stripe stays in one file at every size;
  *   - a takedown delete of striped keys touches only the files that
  *     hold them.
  *
  * At small sizes per-job latency dominates and the rebuild can win
  * (measured: 1M×~100 B rows, rebuild 1.8 s vs merge 4.3 s); the
  * crossover is the point of printing two sizes.
  */
object MergeSmoke {

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.toLong).toSeq)
      .getOrElse(Seq(1000000L, 8000000L))
    val nFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = ToolSession()
    for (n <- sizes) runOnce(spark, n, nFiles)
    spark.stop()
  }

  /** One size point: fixed 1%-of-smallest-size batch against a growing
    * table, so the claim under test is visible in the artifact — merge
    * wall ~flat in table size (O(touched files + batch)), rebuild wall
    * ~linear (O(table)).
    */
  private def runOnce(spark: SparkSession, n: Long, nFiles: Int): Unit = {

    def corpus(rows: Long) = spark.range(rows).select(col("id"),
      xxhash64(col("id")).cast("double").as("score"),
      sha2(col("id").cast("string"), 256).as("text"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime
      val a = f
      (a, (System.nanoTime - t0) / 1e9)
    }

    val dir = java.nio.file.Files.createTempDirectory("merge-smoke").toString
    val (_, tBuild) = timed {
      Layout.writeClustered(corpus(n), dir, Seq(col("id")), nFiles)
    }

    // fixed-size re-crawl batch (10k docs): a contiguous id stripe (the
    // common case — a re-crawled shard) plus 10% brand-new ids past the
    // tail. Fixed across table sizes so the scaling claim is readable
    // straight off the two output lines.
    val b = 10000L
    val updates = spark.range(n / 2, n / 2 + b)
      .union(spark.range(n + 1, n + 1 + b / 10))
      .select(col("id"), lit(-1.0).as("score"), lit("recrawled").as("text"))
    val (st1, tUpsert) = timed(Merge.upsert(spark, dir, updates, "id"))

    // naive baseline at the same batch: full read + anti + union + rewrite
    val dir2 = java.nio.file.Files.createTempDirectory("merge-naive").toString
    val (_, tRebuild) = timed {
      val full = spark.read.parquet(dir)
        .join(updates.select("id"), Seq("id"), "left_anti")
        .unionByName(updates)
      Layout.writeClustered(full, dir2, Seq(col("id")), nFiles)
    }

    // takedown: 100 keys in 4 stripes (e.g. four flagged sources whose
    // ids were ingested contiguously) — pruning should confine the
    // rewrite to the few files holding them
    val takedown = spark.range(25).select((col("id") + n / 8).as("id"))
      .union(spark.range(25).select((col("id") + 3 * n / 8).as("id")))
      .union(spark.range(25).select((col("id") + 5 * n / 8).as("id")))
      .union(spark.range(25).select((col("id") + 7 * n / 8).as("id")))
    val (st2, tDelete) = timed(Merge.delete(spark, dir, takedown, "id"))

    val total = spark.read.parquet(dir).count()
    println(f"""{"smoke":"merge","rows":$n,"files":$nFiles,""" +
      f""""build_s":$tBuild%.1f,"upsert_s":$tUpsert%.1f,""" +
      f""""upsert_files_rewritten":${st1.filesRewritten},""" +
      f""""rebuild_s":$tRebuild%.1f,"delete_s":$tDelete%.1f,""" +
      f""""delete_files_rewritten":${st2.filesRewritten},""" +
      f""""rows_after":$total}""")
    require(total == n + b / 10 - 100,
      s"row count drifted: $total vs ${n + b / 10 - 100}")
  }
}
