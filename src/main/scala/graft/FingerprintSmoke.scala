package graft

import org.apache.spark.sql.functions._

/** Banded-Hamming fingerprint dedup scale smoke (builder tooling):
  * N pseudo-random 56-bit fingerprints with one planted ≤1-bit
  * near-dup pair per 100 ids, paired via
  * [[graft.extra.Dedup.hashNearDup]] at two sizes.
  * Usage: runMain graft.FingerprintSmoke [nHashes]
  *
  * What it proves (SCALE.md): the (band, value) equijoin stays keyed
  * at millions of fingerprints — with 14-bit bands the 2¹⁴ bucket
  * space saturates, so bucket occupancy grows linearly (N·4/2¹⁴ ids
  * per bucket) and candidate volume quadratically in N within each
  * bucket: the smoke prints candidate counts so the documented
  * trade (wider bands or a prefilter at larger N) is measured, not
  * guessed. Recall on the planted pairs must be 1.0 — the pigeonhole
  * guarantee (≤ bands−1 differing bits) is exact, not probabilistic.
  */
object FingerprintSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = ToolSession()

    def run(m: Long): Unit = {
      // even ids: random 56-bit hash; id 100k+1 copies 100k with bit 3
      // flipped (planted pair); other odd ids independent
      val base = spark.range(m).select(col("id"),
        pmod(xxhash64(col("id") - pmod(col("id"), lit(2L))), lit(1L << 56))
          .as("h0"))
      val hashes = base.select(col("id"),
        when(pmod(col("id"), lit(100L)) === 1L,
          expr("h0 ^ 8"))                    // planted: 1 differing bit
          .when(pmod(col("id"), lit(2L)) === 1L,
            pmod(xxhash64(col("id"), lit(7L)), lit(1L << 56)))
          .otherwise(col("h0")).as("h"))
      val t0 = System.nanoTime()
      val pairs = graft.extra.Dedup.hashNearDup(hashes, "id", "h",
        bands = 4, bandBits = 14, maxHamming = 8)
      val planted = pairs
        .where(col("id_b") === col("id_a") + 1 &&
          pmod(col("id_a"), lit(100L)) === 0L)
        .count()
      val total = pairs.count()
      val wall = (System.nanoTime() - t0) / 1e9
      val want = m / 100
      println(f"[fp-smoke] n=$m planted_found=$planted/$want " +
        f"pairs_total=$total wall=$wall%.1fs")
      require(planted == want,
        s"pigeonhole recall must be exact: $planted != $want")
    }
    run(n / 2)
    run(n)
    spark.stop()
    println("[fp-smoke] OK")
  }
}
