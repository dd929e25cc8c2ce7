package graft

import org.apache.spark.sql.functions._

/** Curation scale smoke: run the full end-to-end curation pipeline
  * (quality → lang → exact dedup → MinHash near-dup components → split)
  * over a generated corpus orders of magnitude beyond the test tables,
  * printing wall time, docs/sec, and the verdict histogram.
  *
  * The synthetic corpus is deterministic and plants both duplicate
  * kinds: within each 20-doc block, doc 19 is an exact copy of doc 18's
  * text and doc 18 appends one word to doc 17's — so exact_dup and
  * near_dup rates are known at any size. Every 5th token is an English
  * stopword so the quality/language gates pass for the base docs.
  *
  * With the `hot` flag, block positions 10–13 (20% of the corpus)
  * become a BOILERPLATE-TEMPLATE cohort: near-identical text differing
  * only in one trailing unique token. Their (band, sig) buckets blow
  * far past [[graft.extra.Dedup.DefaultMaxBucket]], which must trigger
  * the cap (dropped band-rows + widest-bucket observed metric, logged
  * warning) instead of a quadratic candidate join — while the planted
  * pos-18/19 dup rates are still recovered. The capped cohort rides
  * through as `kept` (documented under-deletion: boilerplate at this
  * multiplicity is exact-dedup's job upstream, see DefaultMaxBucket
  * scaladoc).
  *
  * Usage: runMain graft.CurateSmoke [nDocs] [hot]
  */
object CurateSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val hot = args.lift(1).contains("hot")
    val spark = ToolSession()

    import graft.gen.SyntheticDocs.textFor
    def corpus(rows: Long) = {
      val base = spark.range(rows).select(col("id").as("doc_id"))
      // block of 20: doc 17 is the base text, doc 18 = base + one word
      // (near dup), doc 19 = exact copy of doc 17
      val blockBase = col("doc_id") - (col("doc_id") % 20)
      val src = when(col("doc_id") % 20 >= 18, blockBase + 17)
        .otherwise(col("doc_id"))
      val isHot = col("doc_id") % 20 >= 10 && col("doc_id") % 20 <= 13
      base.select(col("doc_id"),
        when(lit(hot) && isHot,
          // shared template + one unique trailing token: every band's
          // minima come from the shared 30 tokens, so the cohort piles
          // into a handful of (band, sig) buckets
          concat(textFor(lit(-1L)), lit(" u"), col("doc_id")))
          .when(col("doc_id") % 20 === 18,
            concat(textFor(src), lit(" extradiffword")))
          .otherwise(textFor(src)).as("text"))
    }

    // capture the hot-bucket observed metric exactly as production
    // monitoring would — from the measured plan, no extra job
    val droppedRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    val widestBucket = new java.util.concurrent.atomic.AtomicLong(-1L)
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          qe.observedMetrics.get(graft.extra.Dedup.HotBucketMetric)
            .foreach { row =>
              if (!row.isNullAt(0)) {
                droppedRows.getAndUpdate(m => math.max(m, row.getLong(0)))
                widestBucket.getAndUpdate(m => math.max(m, row.getLong(1)))
              }
            }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    // warmup at 1/100 scale
    graft.extra.Curation.curate(corpus(math.max(n / 100, 100)),
      "doc_id", "text").count()
    val t0 = System.nanoTime()
    val verdicts = graft.extra.Curation.curate(corpus(n), "doc_id", "text")
    val hist = verdicts.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val wall = (System.nanoTime() - t0) / 1e9
    // Drain the async QueryExecutionListener bus by POLLING the metric
    // cells, not a fixed sleep (r6 advice: on a loaded machine 2s was
    // not always enough and a successful run could still print -1).
    // Bounded: fall back to -1 only on expiry.
    val tDrain = System.nanoTime()
    while ((droppedRows.get < 0 || widestBucket.get < 0) &&
        (System.nanoTime() - tDrain) / 1e9 < 30) Thread.sleep(100)
    val histJson = hist.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    // planted rates: one exact (pos 19) + one near (pos 18) per block
    val hotJson =
      if (hot) s""","hot":true,"dropped_band_rows":${droppedRows.get},""" +
        s""""widest_bucket":${widestBucket.get}"""
      else ""
    println(s"""{"metric":"curate_smoke","n_docs":$n,"wall_s":$wall,""" +
      s""""docs_per_sec":${(n / wall).toLong},"statuses":$histJson,""" +
      s""""expected_exact":${n / 20},"expected_near":${n / 20}$hotJson}""")
    spark.stop()
  }
}
