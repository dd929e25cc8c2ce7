package graft

import org.apache.spark.sql.functions._

import graft.extra.Snapshots

/** Snapshot-table scale smoke (builder tooling): the manifest layer's
  * costs at generated-corpus scale, against the naive alternatives a
  * pipeline without snapshots runs.
  * Usage: runMain graft.SnapshotSmoke [nRows] [files]
  *
  * What it measures (SCALE.md):
  *   - versioned upsert wall vs full rebuild wall (the no-manifest
  *     baseline for "update and keep yesterday readable" is TWO full
  *     copies);
  *   - diff-between-versions wall vs full-table except()-style compare
  *     (the no-manifest change extract) — diff reads only non-shared
  *     files, so it should be orders below;
  *   - time-travel read overhead vs a plain directory read (expected:
  *     none — same parquet scan, file list from the manifest);
  *   - vacuum reclaiming the replaced fragments.
  */
object SnapshotSmoke {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(4000000L)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(64)
    val spark = ToolSession()

    def corpus(rows: Long) = spark.range(rows).select(col("id"),
      xxhash64(col("id")).cast("double").as("score"),
      sha2(col("id").cast("string"), 256).as("text"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime
      val a = f
      (a, (System.nanoTime - t0) / 1e9)
    }

    val dir = java.nio.file.Files
      .createTempDirectory("snapshot-smoke").toString
    val (c0, tInit) = timed(Snapshots.init(corpus(n), dir, "id", nFiles))
    println(f"init: $n%,d rows into ${c0.files.size} files in $tInit%.1f s")

    // clustered-world case: a contiguous 1% stripe lands in few files
    val stripe = spark.range(n / 100).select((col("id") + n / 2).as("id"),
      lit(-1.0).as("score"), lit("updated").as("text"))
    val (c1, tStripe) = timed(Snapshots.upsert(spark, dir, stripe, "id"))
    println(f"stripe upsert (1%%): ${c1.filesReplaced}/${c0.files.size} " +
      f"files replaced in $tStripe%.1f s")

    // uniform worst case: 0.1% scattered keys touch ~every file — the
    // anti-pattern key-clustering exists to avoid; printed to keep the
    // evidence honest about both shapes
    val scattered = spark.range(n / 1000)
      .select((col("id") * 997 % n).as("id"),
        lit(-2.0).as("score"), lit("scattered").as("text"))
      .groupBy("id").agg(first("score").as("score"),
        first("text").as("text"))
    val (c2, tScatter) = timed(
      Snapshots.upsert(spark, dir, scattered, "id"))
    println(f"scattered upsert (0.1%%): " +
      f"${c2.filesReplaced}/${c1.files.size} files replaced " +
      f"in $tScatter%.1f s")

    // the no-manifest baseline for "update and keep yesterday
    // readable": read the table, apply, write a SECOND full copy
    val rebuildDir = java.nio.file.Files
      .createTempDirectory("snapshot-smoke-rebuild").toString
    val (_, tRebuild) = timed {
      val merged = Snapshots.read(spark, dir, Some(0L))
        .join(stripe.select("id"), Seq("id"), "left_anti")
        .unionByName(stripe)
      graft.extra.Layout.writeClustered(merged, rebuildDir,
        Seq(col("id")), nFiles)
    }
    println(f"full-copy baseline for the stripe: $tRebuild%.1f s " +
      f"(${tRebuild / tStripe}%.1fx the versioned upsert)")

    val (nDiff, tDiff) = timed(
      Snapshots.diff(spark, dir, 0L, 1L, "id").count())
    println(f"diff v0->v1 (stripe): $nDiff%,d changes in $tDiff%.1f s " +
      f"(reads ${c1.filesReplaced} replaced + " +
      f"${c1.filesReplaced} new files, not the table)")

    val (nCmp, tCmp) = timed {
      val a = Snapshots.read(spark, dir, Some(0L))
      val b = Snapshots.read(spark, dir, Some(1L))
      b.join(a, Seq("id", "score", "text"), "left_anti").count()
    }
    println(f"full-compare baseline: $nCmp%,d in $tCmp%.1f s " +
      f"(${tCmp / tDiff}%.1fx the manifest diff)")

    val (n0, tRead0) = timed(
      Snapshots.read(spark, dir, Some(0L)).count())
    val (n1, tRead1) = timed(Snapshots.read(spark, dir).count())
    println(f"time-travel read v0: $n0%,d rows in $tRead0%.1f s; " +
      f"latest: $n1%,d rows in $tRead1%.1f s")

    val (dead, tVac) = timed(Snapshots.vacuum(spark, dir, 2L))
    println(f"vacuum below v2: ${dead.size} files reclaimed in $tVac%.1f s")

    spark.stop()
  }
}
