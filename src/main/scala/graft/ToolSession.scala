package graft

import org.apache.spark.sql.SparkSession

/** The session every by-hand graft tool (the smokes, [[Explain]],
  * [[JobAudit]]) runs with: `local[SPARK_GRAFT_CPUS]` (default 32), one
  * shuffle partition per core, a UTC session clock whatever the
  * launcher, no UI, WARN logging. `tune` chains a tool's own settings
  * onto the builder. The session's master and clock go to stderr, so a
  * run's log says what it ran on and stdout stays the tool's own.
  *
  * The driver-facing mains ([[Bench]], [[StreamBench]], [[Verify]],
  * [[QTime]]) keep their own builders.
  */
private[graft] object ToolSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def apply(tune: SparkSession.Builder => SparkSession.Builder = b => b)
      : SparkSession = {
    val spark = tune(SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(s"graft session: ${spark.sparkContext.master}, " +
      s"timeZone=${spark.conf.get("spark.sql.session.timeZone")}")
    spark
  }
}
