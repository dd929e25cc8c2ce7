package graft

import org.apache.spark.sql.functions._

import graft.ops.Ranks

/** Scale smoke for the global-order operators: run
  * [[Ranks.withGlobalRowNumber]] and [[Ranks.withGlobalPrefixSum]] over
  * a generated corpus orders of magnitude beyond the test tables
  * (default 20M rows) and compare against the single-partition global
  * window they replace — the point is not just that the two-pass form
  * is correct (RanksSpec pins that) but that it stays parallel while
  * the window form funnels one task.
  *
  * Prints one JSON line with wall times and checksum equality of the
  * two prefix-sum implementations on a 1M-row slice (full differential
  * is RanksSpec's job at spec scale; the smoke checksums so a silent
  * divergence at scale would still surface).
  *
  * `grouped` mode (r16): the same comparison for the GROUPED rank —
  * [[Ranks.withGroupedRowNumber]] vs `row_number() OVER (PARTITION BY
  * group)` on a deliberately skewed grouping (CCNet's shape: one group
  * holds half the rows), run at full n for BOTH forms — the window
  * survives spec scale, so the smoke must show where it stops scaling
  * (its biggest group is one task) while the two-pass form stays flat.
  *
  * Usage: runMain graft.RanksSmoke [nRows] [compareWindow|grouped]
  */
object RanksSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    if (args.lift(1).contains("grouped")) { groupedMain(n); return }
    val compareWindow = args.lift(1).forall(_ == "window")
    val spark = ToolSession()

    def corpus(rows: Long) = spark.range(rows)
      .select(col("id"),
        pmod(xxhash64(col("id")), lit(1000003L)).as("key"),
        (pmod(xxhash64(col("id") * 31L), lit(512L)) + 1L).as("toks"))

    // warmup
    Ranks.withGlobalPrefixSum(corpus(100000L),
      Seq(col("key"), col("id")), col("toks"), "cum").count()

    val t0 = System.nanoTime()
    val summed = Ranks.withGlobalPrefixSum(corpus(n),
      Seq(col("key"), col("id")), col("toks"), "cum")
    // checksum forces full materialization of every prefix value
    val sumChk = summed.agg(sum(pmod(col("cum"), lit(1000000007L))))
      .head().getLong(0)
    val tPrefix = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val (ranked, total) = Ranks.withGlobalRowNumber(corpus(n),
      Seq(col("key"), col("id")), "rk")
    val rkChk = ranked.agg(sum(pmod(col("rk"), lit(1000000007L))))
      .head().getLong(0)
    val tRank = (System.nanoTime() - t1) / 1e9

    // the one-task window this replaces, on a 1M slice (running it at
    // n would take minutes through a single partition — that's the
    // point); checksum equality doubles as a scale-path differential
    val slice = 1000000L
    val winChk: Long = if (compareWindow) {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("key"), col("id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      corpus(slice).withColumn("cum", sum(col("toks")).over(w))
        .agg(sum(pmod(col("cum"), lit(1000000007L)))).head().getLong(0)
    } else -1L
    val t2 = System.nanoTime()
    val sliceChk = Ranks.withGlobalPrefixSum(corpus(slice),
        Seq(col("key"), col("id")), col("toks"), "cum")
      .agg(sum(pmod(col("cum"), lit(1000000007L)))).head().getLong(0)
    val tSlice = (System.nanoTime() - t2) / 1e9

    spark.stop()
    println(s"""{"metric":"ranks_smoke","n_rows":$n,"total":$total,""" +
      s""""prefix_wall_s":${StreamBench.rnd(tPrefix)},""" +
      s""""rank_wall_s":${StreamBench.rnd(tRank)},""" +
      s""""rows_per_sec":${(n / tPrefix).toLong},""" +
      s""""prefix_checksum":$sumChk,"rank_checksum":$rkChk,""" +
      s""""window_slice_checksum":$winChk,"twopass_slice_checksum":$sliceChk,""" +
      s""""slice_wall_s":${StreamBench.rnd(tSlice)},""" +
      s""""slice_agree":${!compareWindow || winChk == sliceChk}}""")
    System.out.flush()
  }

  /** Grouped-rank scale smoke: skewed groups (group 0 holds ~half the
    * rows — the language distribution of a web corpus), full-n runs of
    * both the two-pass grouped rank and the per-group window it
    * replaces, checksum-compared.
    */
  private def groupedMain(n: Long): Unit = {
    val spark = ToolSession()
    // Zipf-ish groups via floor(log2(uniform)): the TOP group holds
    // ~half the rows, the next a quarter, ... ~16 groups — the
    // language distribution of a web corpus
    def corpus(rows: Long) = spark.range(rows)
      .select(col("id"),
        floor(log(2.0,
          pmod(xxhash64(col("id")), lit(65536L)) + 2L)).as("grp"),
        pmod(xxhash64(col("id") * 31L), lit(1000003L)).as("v"))
    // warmup both forms
    Ranks.withGroupedRowNumber(corpus(100000L), Seq("grp"),
      Seq(col("v"), col("id")), "rk").count()
    val wWin = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("v"), col("id"))
    // the warmup must CONSUME rk — an agg that ignores it lets column
    // pruning delete the Window operator, leaving the timed window run
    // to pay first-use codegen the two-pass side does not
    corpus(100000L).withColumn("rk", row_number().over(wWin).cast("long"))
      .agg(sum(pmod(col("rk"), lit(1000000007L)))).head()

    val t0 = System.nanoTime()
    val twoPassChk = Ranks.withGroupedRowNumber(corpus(n), Seq("grp"),
        Seq(col("v"), col("id")), "rk")
      .agg(sum(pmod(col("rk"), lit(1000000007L)))).head().getLong(0)
    val tTwoPass = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val winChk = corpus(n)
      .withColumn("rk", row_number().over(wWin).cast("long"))
      .agg(sum(pmod(col("rk"), lit(1000000007L)))).head().getLong(0)
    val tWin = (System.nanoTime() - t1) / 1e9

    spark.stop()
    println(s"""{"metric":"ranks_smoke_grouped","n_rows":$n,""" +
      s""""twopass_wall_s":${StreamBench.rnd(tTwoPass)},""" +
      s""""window_wall_s":${StreamBench.rnd(tWin)},""" +
      s""""twopass_rows_per_sec":${(n / tTwoPass).toLong},""" +
      s""""window_rows_per_sec":${(n / tWin).toLong},""" +
      s""""agree":${twoPassChk == winChk}}""")
    System.out.flush()
  }
}
