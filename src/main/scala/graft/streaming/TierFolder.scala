package graft.streaming

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** An ingest stream's background tier fold (r17, [[AnnIngest.start]]):
  * the heavy half of a fold — read the tier, rewrite one tier-up segment,
  * invisible until committed — runs on one daemon thread concurrently
  * with later micro-batches, and the batch thread only pays the cheap
  * manifest swap once the merge is ready. The manifest writer stays the
  * batch thread, so the put-if-absent commit never races.
  *
  * The thread lives as long as its query: [[boundTo]] shuts it down and
  * cancels a pending fold, with its Spark jobs, when the query
  * terminates. A dropped fold leaves only orphan files for
  * compact/vacuum to sweep.
  */
private[streaming] final class TierFolder[P](kind: String,
    spark: SparkSession) {
  private val sc = spark.sparkContext
  private val jobTag = s"graft-$kind-tier-fold-${UUID.randomUUID}"
  private val pool = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, s"graft-$kind-tier-fold"); t.setDaemon(true); t
  })
  private val pending = new AtomicReference[Future[Option[P]]]()

  /** Commit a finished background merge; a failed prepare is dropped. */
  def harvest(commit: P => Unit): Unit = {
    val f = pending.get()
    if (f != null && f.isDone) {
      pending.set(null)
      try f.get().foreach(commit)
      catch { case _: ExecutionException => () }
    }
  }

  /** Start `prepare` in the background unless a fold is already pending. */
  def submitIfIdle(prepare: => Option[P]): Unit =
    if (pending.get() == null)
      pending.set(pool.submit(new Callable[Option[P]] {
        def call(): Option[P] = { sc.addJobTag(jobTag); prepare }
      }))

  private def shutdown(): Unit = {
    Option(pending.getAndSet(null)).foreach(_.cancel(true))
    pool.shutdownNow()
    if (!sc.isStopped) sc.cancelJobsWithTag(jobTag)
  }

  /** Shut the fold thread down when `q` terminates. */
  def boundTo(q: StreamingQuery): StreamingQuery = {
    val streams = spark.streams
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == q.id) { shutdown(); streams.removeListener(this) }
    }
    streams.addListener(listener)
    // the query may have ended before the listener was registered
    if (!q.isActive) { shutdown(); streams.removeListener(listener) }
    q
  }
}
