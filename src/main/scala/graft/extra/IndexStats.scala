package graft.extra

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Operational introspection over any [[IndexManifests]]-committed
  * index layout (BM25 / ANN / MinHash / substring / semantic — the
  * layouts share the manifest discipline, so one reader serves all
  * five): the per-segment size ladder the shared tier fold
  * ([[IndexManifests.prepareTier]], whose tier-ups show as
  * `<frame>/tier-N`) is tuned by, plus the exactly-once
  * ledger state, as a plain DataFrame an operator can query, join, or
  * alert on. Driver FS metadata only — one manifest read + one
  * content-summary stat per live segment (O(fanout · log N) under the
  * tiered policy), no Spark job over index data.
  */
object IndexStats {

  /** One row per live segment of the HEAD manifest:
    * `(version, frame, segment, bytes, files)` — and one
    * `(version, "_txn", streamId:batchId, null, null)` row per
    * applied-batch ledger token. Empty frame (zero rows) when the
    * directory holds no committed manifest, so health checks can
    * probe a path without a try/catch.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows: Seq[(Long, String, String, Option[Long], Option[Long])] =
      IndexManifests.latest(spark, dir) match {
        case None => Nil
        case Some((v, entries)) =>
          val (fs, _) = IndexManifests.fsOf(spark, dir)
          entries.toSeq.sortBy(_._1).flatMap { case (frame, segs) =>
            if (frame == IndexManifests.TxnFrame)
              segs.sorted.map(t =>
                (v, frame, t, None: Option[Long], None: Option[Long]))
            else segs.sorted.map { s =>
              val p = new org.apache.hadoop.fs.Path(s"$dir/$s")
              if (fs.exists(p)) {
                val cs = fs.getContentSummary(p)
                (v, frame, s, Some(cs.getLength),
                  Some(cs.getFileCount))
              } else (v, frame, s, Some(0L), Some(0L))
            }
          }
      }
    rows.toDF("version", "frame", "segment", "bytes", "files")
  }
}
