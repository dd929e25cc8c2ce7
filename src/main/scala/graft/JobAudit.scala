package graft

import org.apache.spark.scheduler._

/** Builder tooling (r16 optimization round): per-query job/stage/task
  * census. For each named registry query it reports, per timed run:
  *
  *   wall      — end-to-end seconds (the bench statistic)
  *   jobs      — Spark jobs launched (each has fixed driver overhead)
  *   stages    — completed stages (each boundary = a shuffle or collect)
  *   tasks     — total tasks
  *   taskSec   — summed executor task time (all cores)
  *   cpuSec    — summed executor CPU time
  *   gapSec    — wall − taskSec/cores: scheduling + driver-side time
  *
  * wall ≫ taskSec/32 means the query is OVERHEAD-bound (driver/plan/
  * job-count dominated) and the fix is fewer jobs/exchanges, not faster
  * per-row code; taskSec-bound means the fix is §2-§4 work.
  *
  * Usage: sbt "runMain graft.JobAudit q1 q2 ..." [env like QTime]
  */
object JobAudit {
  final class Census extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskNanos = 0L
    @volatile var cpuNanos = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        taskNanos += m.executorRunTime * 1000000L
        cpuNanos += m.executorCpuTime
      }
    }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; taskNanos = 0L; cpuNanos = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobAudit <query-name> [more...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir =
      sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = ToolSession.cpus
    val spark = ToolSession(_.config("spark.sql.codegen.cache.maxEntries",
      sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "16384")))
    val census = new Census
    spark.sparkContext.addSparkListener(census)
    val qs = args.toSeq.map { name =>
      name -> SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
    }
    qs.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    spark.sharedState.cacheManager.clearCache()
    // settle listener-bus stragglers from warmup before the census
    Thread.sleep(500)
    qs.foreach { case (name, fn) =>
      (1 to 2).foreach { i =>
        census.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // drain listener bus
        val taskSec = census.taskNanos / 1e9
        val cpuSec = census.cpuNanos / 1e9
        println(f"[audit] $name%-26s #$i wall=$wall%6.2fs jobs=${census.jobs}%3d " +
          f"stages=${census.stages}%3d tasks=${census.tasks}%5d " +
          f"taskSec=$taskSec%7.1f cpuSec=$cpuSec%7.1f " +
          f"gap=${wall - taskSec / cpus.toDouble}%6.2fs")
      }
    }
    spark.stop()
  }
}
