package graft

import org.apache.spark.sql.functions._

import graft.extra.IncrementalAgg
import graft.extra.IncrementalAgg.ViewSpec

/** Materialized-view maintenance scale smoke (builder tooling): refresh
  * cost vs the no-view baseline (re-aggregate the whole fact table and
  * rewrite the result) at generated-fact scale.
  * Usage: runMain graft.ViewSmoke [nRows] [grains] [files]
  *
  * What it measures (SCALE.md):
  *   - the fact table is PERSISTED parquet and the baseline re-reads
  *     all of it per refresh (the real production cost), while
  *     [[IncrementalAgg.refresh]] reads only the delta rows and the
  *     footer-touched state files — wall should separate by the
  *     table/delta ratio as the table grows;
  *   - filesRewritten audits the state pruning (a 3-grain delta in a
  *     grain-clustered state touches 1-2 of the files).
  */
object ViewSmoke {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(16000000L)
    val grains = args.lift(1).map(_.toInt).getOrElse(2000)
    val nFiles = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = ToolSession()

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime
      val a = f
      (a, (System.nanoTime - t0) / 1e9)
    }

    val per = n / grains
    def facts(rows: Long, grainOffset: Long = 0L) =
      spark.range(rows).select(
        (col("id") / per + grainOffset).cast("long").as("g"),
        (col("id") % 9973).cast("decimal(18,2)").as("amt"))

    val spec = ViewSpec("g", sumCols = Seq("amt"),
      minCols = Seq("amt"), maxCols = Seq("amt"))

    // persisted fact table — the thing the baseline must re-scan
    val factDir = java.nio.file.Files
      .createTempDirectory("view-smoke-facts").toString
    val (_, tWrite) = timed(
      facts(n).write.mode("overwrite").parquet(factDir))
    println(f"facts: $n%,d rows / $grains grains persisted " +
      f"in $tWrite%.1f s")

    val viewDir = java.nio.file.Files
      .createTempDirectory("view-smoke-state").toString
    val (_, tInit) = timed(IncrementalAgg.init(
      spark.read.parquet(factDir), spec, viewDir, nFiles))
    println(f"view init (full aggregate once): $tInit%.1f s")

    // 1% delta confined to 3 grains — the daily-partition arrival shape
    val delta = facts(n / 100, grainOffset = 0L)
      .withColumn("g", (col("g") % 3 + 42).cast("long"))
    val (stats, tRefresh) = timed(
      IncrementalAgg.refresh(spark, viewDir, delta, spec))
    println(f"incremental refresh (1%% delta, 3 grains): " +
      f"$tRefresh%.1f s, ${stats.filesRewritten}/${stats.filesTotal} " +
      "state files rewritten")

    // the no-view baseline: re-aggregate fact-table ∪ delta from disk
    // and rewrite the result — what every dashboard without
    // incremental maintenance pays per refresh
    val baseDir = java.nio.file.Files
      .createTempDirectory("view-smoke-base").toString
    val (_, tFull) = timed {
      IncrementalAgg.init(
        spark.read.parquet(factDir).unionByName(delta), spec,
        baseDir, nFiles)
    }
    println(f"full re-aggregate baseline: $tFull%.1f s " +
      f"(${tFull / tRefresh}%.1fx the refresh)")

    val (nRows, tServe) = timed(IncrementalAgg.finalizeView(
      IncrementalAgg.read(spark, viewDir), spec).count())
    println(f"serve (finalized read): $nRows%,d grains in $tServe%.1f s")

    spark.stop()
  }
}
