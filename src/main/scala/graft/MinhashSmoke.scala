package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** MinhashIndex scale smoke: the persisted-index incremental near-dup
  * verdict vs the recompute form at generated-corpus scale — the
  * crossover the 5k-row bench table cannot show (there the per-call
  * fixed costs of the index path dominate; here the recompute form
  * pays the corpus re-shingle + re-minhash every batch while the
  * index form reads pruned posting slices).
  *
  * Corpus: `n` synthetic docs; batch: n/8 NEW docs of which 25% are
  * exact near-copies of corpus docs (one token appended) — planted
  * recall is exact and reported.
  *
  * Usage: runMain graft.MinhashSmoke [nDocs]
  */
object MinhashSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = ToolSession()
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val corpus = spark.range(n).select(col("id").as("doc_id"),
      graft.gen.SyntheticDocs.textFor(col("id")).as("text"))
    // fixed-size batch (arg 2, default 25k): the crawl reality is a
    // corpus orders of magnitude larger than a micro-batch, and the
    // index-vs-recompute crossover is a function of that RATIO — the
    // recompute form re-shingles the whole corpus per batch while the
    // index form's per-batch work is batch- and candidate-sized
    val nb = args.lift(1).filter(_.forall(_.isDigit)).map(_.toLong)
      .getOrElse(25000L)
    // every 4th batch doc near-copies corpus doc (i*4): same text plus
    // one appended token — Jaccard well above 0.5 at ~50-token docs
    val batch = spark.range(nb).select(
      (col("id") + 1000000000L).as("doc_id"),
      when(col("id") % 4 === 0,
        concat(graft.gen.SyntheticDocs.textFor(col("id") * 4),
          lit(" extratoken")))
        .otherwise(graft.gen.SyntheticDocs.textFor(col("id") + n + 7L))
        .as("text"))
    val dir = Files.createTempDirectory("minh_smoke_idx").toString
    val (_, tBuild) = t(graft.extra.MinhashIndex.build(
      corpus, "doc_id", "text", dir, numFiles = 16))
    if (args.lift(1).contains("probe")) {
      // stage-level visibility: candidate generation vs verify fetch
      val (nc, tCand) = t(graft.extra.MinhashIndex
        .probeBandFiles(spark, dir, batch, "doc_id", "text")._1.size)
      println(s"[probe] bands probe: $nc files in ${tCand}s")
    }
    val (idxDups, tIdx) = t(
      graft.extra.MinhashIndex.dedupBatch(spark, dir, batch,
        "doc_id", "text").filter(col("is_dup")).count())
    val (reDups, tRe) = t(
      graft.extra.Dedup.nearDupIncremental(corpus, batch,
        "doc_id", "text").filter(col("is_dup")).count())
    val planted = (nb + 3) / 4
    println(s"""{"metric":"minhash_smoke","n_corpus":$n,""" +
      s""""n_batch":$nb,"planted":$planted,""" +
      s""""build_wall_s":${StreamBench.rnd(tBuild)},""" +
      s""""index_dedup_wall_s":${StreamBench.rnd(tIdx)},""" +
      s""""index_dups":$idxDups,""" +
      s""""recompute_wall_s":${StreamBench.rnd(tRe)},""" +
      s""""recompute_dups":$reDups}""")
    spark.stop()
  }
}
