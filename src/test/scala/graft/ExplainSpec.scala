package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.extra.Dedup

/** `Explain`'s plan capture always returns: the queries whose loops
  * wait on Observation metrics are captured eagerly, every other query
  * with its full lineage, and the capture leaves no checkpoint mode
  * behind. */
class ExplainSpec extends SparkSpec {

  private def captured(name: String): (String, String) =
    Await.result(Future(Explain.capture(spark, name, sfDir)), 120.seconds)

  test("pagerank and the other Observation-loop queries are captured " +
      "eagerly, within a timeout") {
    Seq("pagerank", "reachability_bfs", "connected_components",
        "curate_docs", "neardup_clusters").foreach { name =>
      val (plan, mode) = captured(name)
      assert(mode == "local", name)
      assert(plan.contains("== Physical Plan =="), name)
    }
    assert(spark.conf.getOption(Dedup.CheckpointModeKey).isEmpty)
    assert(sys.props.get(Dedup.AllowOffProp).isEmpty)
  }

  test("a query without Observation probes keeps the full-lineage " +
      "capture") {
    val (plan, mode) = captured("recent_slice")
    assert(mode == "off")
    assert(plan.contains("Scan parquet"))
    assert(spark.conf.getOption(Dedup.CheckpointModeKey).isEmpty)
    assert(sys.props.get(Dedup.AllowOffProp).isEmpty)
  }
}
