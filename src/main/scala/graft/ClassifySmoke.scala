package graft

/** Standalone driver for the streaming-classifier bench block
  * ([[StreamBench.measureClassify]]) — quiet-box capacity probes
  * without running the whole bench.
  *
  * Usage: `scripts/jrun.sh graft.ClassifySmoke [tps [secs]]`
  */
object ClassifySmoke {
  def main(args: Array[String]): Unit = {
    val tps = args.lift(0).map(_.toInt).getOrElse(120000)
    val secs = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = ToolSession()
    val s = StreamBench.measureClassify(spark, tps, secs)
    println(s"""{"streaming_classify":${s.json}}""")
    spark.stop()
  }
}
