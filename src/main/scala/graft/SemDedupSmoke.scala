package graft

import org.apache.spark.sql.functions._

import graft.extra.Dedup

/** SemDeDup scale smoke: semantic dedup over a generated corpus orders
  * of magnitude beyond the test embeddings, with PLANTED near-dups —
  * every 10th vector is a perturbed copy of its predecessor — so the
  * smoke can report recall (planted copies dropped) alongside walls.
  *
  * Base vectors are the same seeded hash lattice as [[AnnSmoke]]
  * (engine/partitioning deterministic); the copy's per-component noise
  * is ~0.5% of the component range, so parent↔copy cosine ≈ 1 while
  * unrelated random vectors sit near 0.
  *
  * Scale posture under test: cluster count grows with √N (so expected
  * cluster width — and with it the per-cluster pair work Σw² ≈ N·(N/C)
  * — grows only as √N per row), and the run reports walls at N/4 and N
  * to make the scaling visible: a quadratic regression would show a
  * ~16× step, the healthy shape shows ~4-6×.
  *
  * Usage: runMain graft.SemDedupSmoke [nVectors]
  */
object SemDedupSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(300000L)
    val dim = 64
    val spark = ToolSession()

    // every 10th id is a near-copy of id-1; base component in [-1, 1),
    // copy noise in [0, 0.005)
    def corpus(rows: Long) = {
      val parent = when(pmod(col("id"), lit(10L)) === 9L, col("id") - 1L)
        .otherwise(col("id"))
      spark.range(rows).select(
        col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (((pmod(xxhash64(parent * 67L + d), lit(2000L)) / lit(1000.0)) - 1.0)
            + when(pmod(col("id"), lit(10L)) === 9L,
                pmod(xxhash64(col("id") * 131L + d), lit(100L)) / lit(20000.0))
              .otherwise(lit(0.0))).cast("float")).as("embedding"))
    }

    def run(rows: Long): (Double, Long, Double) = {
      val c = math.max(32, (2 * math.sqrt(rows.toDouble)).toInt)
      val t0 = System.nanoTime()
      val kept = Dedup.semDedup(corpus(rows), "vec_id", "embedding",
        threshold = 0.95, numClusters = c)
      // ONE aggregation pass: total keepers + surviving planted copies
      // (id % 10 == 9) — two counts from one execution of the DAG
      val row = kept.agg(count(lit(1)),
        sum(when(pmod(col("id"), lit(10L)) === 9L, 1L).otherwise(0L)))
        .collect().head
      val (nKept, missed) = (row.getLong(0), row.getLong(1))
      val wall = (System.nanoTime() - t0) / 1e9
      val planted = rows / 10
      (wall, nKept, 1.0 - missed.toDouble / planted)
    }

    run(n / 100) // warmup: codegen + JIT
    val (wallQ, keptQ, recallQ) = run(n / 4)
    val (wallF, keptF, recallF) = run(n)
    spark.stop()
    println(s"""{"metric":"semdedup_smoke","n_vectors":$n,"dim":$dim,""" +
      s""""wall_quarter_s":${StreamBench.rnd(wallQ)},""" +
      s""""wall_full_s":${StreamBench.rnd(wallF)},""" +
      s""""scale_step":${StreamBench.rnd(wallF / wallQ, 2)},""" +
      s""""kept_quarter":$keptQ,"kept_full":$keptF,""" +
      s""""planted_recall_quarter":${StreamBench.rnd(recallQ, 3)},""" +
      s""""planted_recall_full":${StreamBench.rnd(recallF, 3)}}""")
    System.out.flush()
  }
}
