package graft

import org.apache.spark.sql.functions._

/** Analytics scale smoke (builder tooling): the pair-correlation cost
  * model (`buckets × K²/2` pair rows) exercised at a few hundred keys,
  * with a planted perfectly-linear pair that must come back at exactly
  * corr = 1.0; plus gap-fill over a 100k-hour span from sparse
  * observations. Usage: runMain graft.AnalyticsSmoke [K]
  */
object AnalyticsSmoke {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(300)
    val buckets = 720 // 30 days hourly
    val spark = ToolSession()

    // one observation per (key, hour); key 1 is an exact linear image
    // of key 0 (corr must be exactly 1.0 after the 6-dp roll-up)
    val f0 = pmod(hash(col("h")), lit(1000)).cast("double") / 100.0
    val fk = pmod(hash(col("key") * 100003 + col("h")), lit(1000))
      .cast("double") / 100.0
    val ticks = spark.range(k.toLong * buckets)
      .select((col("id") % k).as("key"),
        expr(s"id div $k").as("h")) // div, not "/": SQL / on longs is double
      .select(col("key"),
        (lit(1704067200L) + col("h") * 3600).cast("timestamp").as("ts"),
        when(col("key") === 1, f0 * 2.0 + 1.0).otherwise(fk).as("value"))

    val t0 = System.nanoTime()
    val corr = graft.extra.Analytics.pairCorrelation(
      ticks.withColumn("key", concat(lit("k"), col("key"))),
      "key", "ts", "value")
    val nPairs = corr.count()
    val planted = corr.filter(col("k1") === "k0" && col("k2") === "k1")
      .collect().head.getAs[Double]("corr")
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[analytics-smoke] K=$k buckets=$buckets pairs=$nPairs " +
      f"pair_rows=${buckets.toLong * k * (k - 1) / 2} wall=$wall%.1fs " +
      f"planted_corr=$planted")
    require(nPairs == k.toLong * (k - 1) / 2, s"pair count $nPairs")
    require(planted == 1.0, s"planted linear pair corr $planted != 1.0")

    // gap fill: 2000 sparse observations over a 100k-hour span
    val sparse = spark.range(2000)
      .select(lit("s").as("key"),
        (lit(1704067200L) + pmod(hash(col("id")), lit(100000)) * 3600)
          .cast("timestamp").as("ts"),
        col("id").cast("double").as("value"),
        col("id").as("tie"))
    val t1 = System.nanoTime()
    val filled = graft.extra.Analytics.gapFill(sparse, "key", "ts",
      "value", "tie")
    val rows = filled.count()
    val gaps = filled.filter(col("is_gap")).count()
    val wall2 = (System.nanoTime() - t1) / 1e9
    println(f"[analytics-smoke] gapfill span_rows=$rows gaps=$gaps " +
      f"wall=$wall2%.1fs")
    require(rows > 99000, s"expected ~100k grid rows, got $rows")
    spark.stop()
    println("[analytics-smoke] OK")
  }
}
