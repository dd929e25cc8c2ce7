package graft

import org.apache.spark.sql.functions._

/** Skew scale smoke for the as-of join family: ONE hypertraded key
  * carrying millions of rows — the regime where the plain keyed as-of
  * (and the native AsOfJoinExec) funnel the whole timeline through a
  * single task, while the time-bucketed variant spreads it across
  * (key, bucket) partitions. Prints one JSON line comparing both.
  *
  * Usage: runMain graft.AsofSmoke [nLeft] [nRight]
  */
object AsofSmoke {
  def main(args: Array[String]): Unit = {
    val nLeft = args.headOption.map(_.toLong).getOrElse(5000000L)
    val nRight = args.lift(1).map(_.toLong).getOrElse(5000000L)
    val spark = ToolSession()
    import graft.extra.TimeSeries

    // one key, interleaved trade/quote timelines over ~nLeft seconds
    def mk(n: Long, offset: Double, valued: Boolean) = {
      val base = spark.range(n)
        .select(lit("HOT").as("sym"),
          timestamp_seconds(col("id") * 1.0 + offset).as("ts"),
          col("id"))
      if (valued) base.select(col("sym"), col("ts"),
        (col("id") % 997 * 0.25).as("v"))
      else base.select(col("sym"), col("ts"), col("id").as("lid"))
    }
    val left = mk(nLeft, 0.7, valued = false)
    val right = mk(nRight, 0.0, valued = true)

    // consume the carried column: a bare count() lets Catalyst prune the
    // whole carry-forward window out of the plan
    def consume(df: org.apache.spark.sql.DataFrame): (Double, Long, Double) = {
      val t0 = System.nanoTime()
      val r = df.agg(count(lit(1)), sum(col("asof_v"))).collect().head
      ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getDouble(1))
    }
    // warmup
    consume(TimeSeries.asofJoinBucketed(left.limit(1000), right.limit(1000),
      "sym", "ts", Seq("v")))
    consume(TimeSeries.asofJoin(left.limit(1000), right.limit(1000),
      "sym", "ts", Seq("v")))

    val (tBucketed, nB, sB) = consume(
      TimeSeries.asofJoinBucketed(left, right, "sym", "ts", Seq("v"),
        bucketSeconds = 3600L))
    val (tPlain, nP, sP) = consume(
      TimeSeries.asofJoin(left, right, "sym", "ts", Seq("v")))
    require(nB == nP && nB == nLeft, s"row mismatch: $nB vs $nP vs $nLeft")
    require(sB == sP, s"carry-sum mismatch: $sB vs $sP")
    println(s"""{"metric":"asof_skew_smoke","n_left":$nLeft,""" +
      s""""n_right":$nRight,"plain_s":$tPlain,"bucketed_s":$tBucketed,""" +
      s""""speedup":${tPlain / tBucketed}}""")
    spark.stop()
  }
}
