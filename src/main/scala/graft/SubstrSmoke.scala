package graft

import org.apache.spark.sql.functions._

import graft.extra.Dedup

/** ExactSubstr-span scale smoke: [[Dedup.exactSubstrSpans]] (hashed
  * production form — 8-byte gram keys on the shuffle) over a generated
  * corpus orders of magnitude beyond the test documents, with PLANTED
  * duplicated substrings so the smoke reports exact recall alongside
  * walls.
  *
  * Corpus: `n` docs of 50 synthetic tokens each; background tokens are
  * seeded-hash-unique across the corpus (a chance duplicate 5-gram is
  * impossible without token collisions, and a single token collision
  * cannot form one), and every 5th doc carries the SAME 12-token
  * boilerplate run at positions 20..31. The expected answer is
  * therefore exact: planted docs report exactly one span of exactly 12
  * tokens (5-gram anchors 20..27 merge; the boundary grams mix unique
  * background and stay unflagged), everything else reports zero.
  *
  * Scale posture under test: gram volume is 46·n rows through ONE
  * keyed groupBy + one keyed join + a per-doc window — all linear in
  * n. Walls at n/4 and n make the shape visible: healthy is ~4×, a
  * quadratic regression would show ~16×.
  *
  * Usage: runMain graft.SubstrSmoke [nDocs]
  */
object SubstrSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(400000L)
    val spark = ToolSession()

    def corpus(rows: Long) = {
      val planted = pmod(col("id"), lit(5L)) === 4L
      val tok = (i: org.apache.spark.sql.Column) =>
        when(planted && i >= 20 && i <= 31,
          concat(lit("b"), (i - 20).cast("string")))
          .otherwise(concat(lit("t"), pmod(
            xxhash64(col("id") * 53L + i), lit(1L << 40)).cast("string")))
      spark.range(rows).select(col("id").as("doc_id"),
        concat_ws(" ",
          transform(sequence(lit(0L), lit(49L)), tok)).as("text"))
    }

    def run(rows: Long): (Double, Long, Long, Long) = {
      val t0 = System.nanoTime()
      val out = Dedup.exactSubstrSpans(corpus(rows), "doc_id", "text",
        k = 5, hashed = true)
      val agg = out.agg(
        sum(when(col("n_spans") === 1L && col("max_span") === 12L &&
          pmod(col("doc_id"), lit(5L)) === 4L, 1L).otherwise(0L)),
        sum(when(pmod(col("doc_id"), lit(5L)) === 4L, 1L).otherwise(0L)),
        sum(when(pmod(col("doc_id"), lit(5L)) =!= 4L &&
          col("n_spans") =!= 0L, 1L).otherwise(0L))).head()
      val wall = (System.nanoTime() - t0) / 1e9
      (wall, agg.getLong(0), agg.getLong(1), agg.getLong(2))
    }

    run(10000L): Unit // warmup
    val (wq, _, _, _) = run(n / 4)
    val (wall, found, plantedN, falseDocs) = run(n)
    assert(found == plantedN,
      s"planted recall: $found of $plantedN docs report the 12-token span")
    assert(falseDocs == 0L, s"$falseDocs unplanted docs report spans")

    // REMOVAL arm: the canonical (min doc id) planted copy keeps its
    // 12-token run; every other planted doc loses exactly those 12
    // tokens; nothing else is touched — exact at 400k docs in the
    // hashed production form
    val tRm = System.nanoTime()
    val cleaned = Dedup.removeDupSpans(corpus(n), "doc_id", "text",
      k = 5, hashed = true)
    val rm = cleaned.agg(
      sum(when(pmod(col("doc_id"), lit(5L)) === 4L &&
        col("n_tokens_removed") === 12L, 1L).otherwise(0L)),
      sum(when(col("n_tokens_removed") === 0L, 1L).otherwise(0L)),
      min(when(col("n_tokens_removed") === 0L &&
        pmod(col("doc_id"), lit(5L)) === 4L, col("doc_id")))).head()
    val wallRm = (System.nanoTime() - tRm) / 1e9
    val trimmed = rm.getLong(0)
    val untouched = rm.getLong(1)
    val canonicalId = rm.getLong(2)
    assert(trimmed == plantedN - 1,
      s"$trimmed of ${plantedN - 1} non-canonical planted docs trimmed")
    assert(untouched == n - plantedN + 1,
      s"$untouched untouched docs, expected ${n - plantedN + 1}")
    assert(canonicalId == 4L,
      s"canonical survivor should be doc 4, got $canonicalId")

    // INCREMENTAL arm (r14): the posting index over the standing
    // corpus builds ONCE; a crawl batch (n/4 docs) then span-dedups
    // against corpus + batch-mates through posting lookups — no
    // corpus text rescan. Batch composition: every 10th doc repeats
    // the corpus boilerplate (corpus-dup → cut), docs ≡1 (mod 10)
    // share a batch-only 12-token run (batch-mate dup → all but the
    // minimal id cut), the rest are clean. Expectations exact.
    val idxDir = java.nio.file.Files
      .createTempDirectory("substr_idx_").toString
    val tIdx = System.nanoTime()
    graft.extra.SubstrIndex.build(corpus(n), "doc_id", "text", idxDir,
      k = 5, hashed = true)
    val wallIdx = (System.nanoTime() - tIdx) / 1e9
    val m = n / 4
    val batchDf = {
      val kind = pmod(col("id"), lit(10L))
      val tok = (i: org.apache.spark.sql.Column) =>
        when(kind === 0L && i >= 20 && i <= 31,
          concat(lit("b"), (i - 20).cast("string")))
          .when(kind === 1L && i >= 5 && i <= 16,
            concat(lit("c"), (i - 5).cast("string")))
          .otherwise(concat(lit("u"), pmod(
            xxhash64(col("id") * 59L + i), lit(1L << 40)).cast("string")))
      spark.range(n, n + m).select(col("id").as("doc_id"),
        concat_ws(" ",
          transform(sequence(lit(0L), lit(49L)), tok)).as("text"))
    }
    val tInc = System.nanoTime()
    val inc = graft.extra.SubstrIndex
      .dedupBatch(spark, idxDir, batchDf, "doc_id", "text")
      .agg(
        sum(when(pmod(col("doc_id"), lit(10L)) === 0L &&
          col("n_tokens_removed") === 12L, 1L).otherwise(0L)),
        sum(when(pmod(col("doc_id"), lit(10L)) === 1L &&
          col("n_tokens_removed") === 12L, 1L).otherwise(0L)),
        sum(when(col("n_tokens_removed") === 0L, 1L).otherwise(0L)),
        min(when(pmod(col("doc_id"), lit(10L)) === 1L &&
          col("n_tokens_removed") === 0L, col("doc_id")))).head()
    val wallInc = (System.nanoTime() - tInc) / 1e9
    val (corpusCut, mateCut, cleanKept, mateCanon) =
      (inc.getLong(0), inc.getLong(1), inc.getLong(2), inc.getLong(3))
    assert(corpusCut == m / 10,
      s"$corpusCut of ${m / 10} corpus-dup batch docs cut")
    assert(mateCut == m / 10 - 1,
      s"$mateCut of ${m / 10 - 1} non-canonical batch-mate docs cut")
    assert(cleanKept == m - corpusCut - mateCut,
      s"$cleanKept untouched, expected ${m - corpusCut - mateCut}")
    assert(mateCanon == n + 1,
      s"batch-mate canonical should be ${n + 1}, got $mateCanon")

    println(s"""{"metric":"substr_smoke","n_docs":$n,""" +
      s""""planted":$plantedN,"planted_found":$found,""" +
      s""""false_docs":$falseDocs,"wall_quarter_s":$wq,"wall_s":$wall,""" +
      s""""docs_per_sec":${(n / wall).toLong},""" +
      s""""removal_wall_s":$wallRm,"trimmed":$trimmed,""" +
      s""""canonical_doc":$canonicalId,""" +
      s""""index_build_s":$wallIdx,"batch_docs":$m,""" +
      s""""incremental_wall_s":$wallInc,""" +
      s""""incremental_docs_per_sec":${(m / wallInc).toLong},""" +
      s""""corpus_dup_cut":$corpusCut,"mate_dup_cut":$mateCut}""")
    spark.stop()
  }
}
