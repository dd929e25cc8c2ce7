package graft

import graft.gen.TickGen
import graft.ops.{Features, TickParse}
import graft.ops.Features.FeatureConfig

/** Scale smoke: run the flagship windowed-features computation over a
  * generated tick tape orders of magnitude beyond the test tables
  * (default 10M ticks), printing one JSON line with wall time and
  * throughput. Exercises the exact operator chain of the driver queries
  * (GBM gen → window cumsum → sliding window agg) at local[32].
  *
  * Usage: runMain graft.ScaleSmoke [nTicks]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val spark = ToolSession()
    // one small warmup
    Features.compute(TickParse.withEventTime(TickGen.gbm(spark, 10000)),
      FeatureConfig()).count()
    val t0 = System.nanoTime()
    val ticks = TickParse.withEventTime(
      TickGen.gbm(spark, n, TickGen.GbmConfig(
        symbols = (0 until 64).map(i => f"SYM$i%02d"),
        ticksPerSecond = 10000)))
    val out = Features.compute(ticks,
      FeatureConfig(window = "60 seconds", slide = Some("10 seconds")))
    val rows = out.count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"metric":"scale_smoke","n_ticks":$n,"feature_rows":$rows,""" +
      s""""wall_s":$wall,"ticks_per_sec":${(n / wall).toLong}}""")
    spark.stop()
  }
}
