package graft.streaming

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.slf4j.LoggerFactory

import graft.extra.IndexManifests
import graft.extra.IndexManifests.PreparedTier

/** An ingest stream's background tier fold: the shared
  * [[IndexManifests.prepareTier]] of its index's fold runs on one daemon
  * thread (`graft-<kind>-tier-fold`) concurrently with later
  * micro-batches, and the batch thread pays only the cheap
  * [[IndexManifests.commitTier]] once the merge is ready — the writer
  * stays the batch thread, so the put-if-absent commit never races.
  *
  * The thread lives as long as its query: [[boundTo]] shuts it down and
  * cancels a pending fold, with its Spark jobs, when the query
  * terminates. A dropped fold leaves only orphan files for
  * compact/vacuum to sweep; a fold dropped because its prepare failed
  * is logged at WARN with the cause, and the next fold starts afresh.
  */
private[streaming] final class TierFolder(kind: String,
    tier: IndexManifests.TierFold, dir: String, spark: SparkSession) {
  private val sc = spark.sparkContext
  private val jobTag = s"graft-$kind-tier-fold-${UUID.randomUUID}"
  private val pool = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, s"graft-$kind-tier-fold"); t.setDaemon(true); t
  })
  private val pending = new AtomicReference[Future[Option[PreparedTier]]]()
  private val log = LoggerFactory.getLogger(classOf[TierFolder])

  /** Commit a finished background merge through `batch` (the
    * micro-batch's session); a failed prepare is logged and dropped. */
  def harvest(batch: SparkSession): Unit = {
    val f = pending.get()
    if (f != null && f.isDone) {
      pending.set(null)
      try f.get().foreach(p =>
        IndexManifests.commitTier(batch, dir, tier, p): Unit)
      catch { case e: ExecutionException =>
        log.warn(s"$kind tier fold dropped, its prepare failed: " +
          e.getCause, e.getCause)
      }
    }
  }

  /** Start a `fanout` prepare through `batch` in the background unless
    * a fold is already pending. */
  def submitIfIdle(batch: SparkSession, fanout: Int): Unit =
    if (pending.get() == null)
      pending.set(pool.submit(new Callable[Option[PreparedTier]] {
        def call(): Option[PreparedTier] = {
          sc.addJobTag(jobTag)
          IndexManifests.prepareTier(batch, dir, tier, fanout)
        }
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
