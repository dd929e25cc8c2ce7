package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.extra.Dedup

/** Prints the formatted physical plan of named registry queries
  * (builder tooling for shuffle/pushdown/codegen auditing).
  *
  * Usage: `runMain graft.Explain [name,name,...] [sf-dir]` — all
  * registry queries by default.
  */
object Explain {

  /** Queries whose loops fuse their convergence/count probes into the
    * materialization job as Observation metrics ([[extra.Graph]]'s
    * pagerank, bfs and connected components; `curate_docs` and
    * `neardup_clusters` reach the latter through
    * [[extra.Dedup.dupClusters]]). Under the `off` checkpoint mode that
    * job never runs, so `Observation.get` would block forever: these
    * are always captured in the eager `local` mode, their dumps showing
    * the loop structure over LogicalRDD leaves — the shape that matters
    * there anyway. A sweep of the whole registry finds no other.
    */
  private[graft] val EagerOnly = Set("pagerank", "reachability_bfs",
    "connected_components", "curate_docs", "neardup_clusters")

  /** The formatted plan of registry query `name` over `dir`, and the
    * checkpoint mode it was captured under. `full` asks for the `off`
    * mode — the FULL lineage, not the post-checkpoint tail — for every
    * query outside [[EagerOnly]]; otherwise the default eager `local`
    * mode. The mode is set for this capture only.
    */
  private[graft] def capture(spark: SparkSession, name: String,
      dir: String, full: Boolean = true): (String, String) = {
    val mode = if (full && !EagerOnly(name)) "off" else "local"
    // the sysprop gate keeps "off" refusable everywhere else (Dedup)
    val allowOff = sys.props.get(Dedup.AllowOffProp)
    sys.props(Dedup.AllowOffProp) = "1"
    spark.conf.set(Dedup.CheckpointModeKey, mode)
    try {
      val plan = SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      (plan, mode)
    } finally {
      spark.conf.unset(Dedup.CheckpointModeKey)
      allowOff.fold(sys.props.remove(Dedup.AllowOffProp))(
        sys.props.put(Dedup.AllowOffProp, _)): Unit
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq)
    val spark = ToolSession()
    // GRAFT_EXPLAIN_LOCAL=1 captures every query in the eager mode
    val full = !sys.env.get("GRAFT_EXPLAIN_LOCAL").contains("1")
    names.foreach { n =>
      val (plan, mode) = capture(spark, n, dir, full)
      val note = if (full && mode == "local")
        " (captured eagerly: its Observation probes never fire under " +
          "the full-lineage mode)" else ""
      println(s"\n======== $n ========$note")
      println(plan)
    }
    spark.stop()
  }
}
