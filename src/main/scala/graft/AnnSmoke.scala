package graft

import org.apache.spark.sql.functions._

import graft.extra.Similarity

/** ANN scale smoke: similarity search over a generated corpus orders of
  * magnitude beyond the test embeddings (default 1M vectors, dim 64) —
  * brute-force exact top-k vs the composed IVF-PQ index, reporting wall
  * times and the overlap (recall proxy) of the approximate result.
  *
  * The corpus is a seeded hash lattice (engine/partitioning
  * deterministic, like the test fixtures): component d of vector i is
  * `(hash(i·67+d) mod 2000)/1000 − 1 ∈ [−1, 1)`. Random vectors are the
  * ADVERSARIAL case for quantization recall (no cluster structure for
  * the codebook to exploit), so the overlap reported here is a floor,
  * not a typical value — the interesting numbers are the walls: brute
  * force scans N·Q float dots while IVF-PQ touches nprobe posting
  * lists of byte codes.
  *
  * Mode `clustered` (4th arg) draws each vector near one of 200
  * planted centroids (hash-lattice centroid ± small wobble) — the
  * REALISTIC embedding regime, where vectors have the cluster
  * structure quantizers exploit; reported overlap there is what the
  * index delivers on actual embedding tables, vs the random mode's
  * adversarial floor.
  *
  * Usage: runMain graft.AnnSmoke [nVectors] [k] [nQueries] [random|clustered]
  */
object AnnSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val nQ = args.lift(2).map(_.toInt).getOrElse(100)
    val mode = args.lift(3).getOrElse("random")
    val dim = 64
    val spark = ToolSession()

    def corpus(rows: Long) = spark.range(rows).select(
      col("id").as("vec_id"),
      (if (mode == "clustered")
        // centroid component (cluster id = id mod 200) ± 0.1 wobble
        transform(sequence(lit(0), lit(dim - 1)), d =>
          (((pmod(xxhash64(pmod(col("id"), lit(200L)) * 131L + d),
              lit(2000L)) / lit(1000.0)) - 1.0) +
            ((pmod(xxhash64(col("id") * 67L + d), lit(200L)) /
              lit(1000.0)) - 0.1)).cast("float"))
      else
        transform(sequence(lit(0), lit(dim - 1)), d =>
          ((pmod(xxhash64(col("id") * 67L + d), lit(2000L)) / lit(1000.0))
            - 1.0).cast("float"))).as("embedding"))

    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // warmup both paths at 1% scale
    pairs(Similarity.topKBruteForce(corpus(n / 100), "vec_id", "embedding",
      col("id") < nQ, k))
    pairs(Similarity.topKIvfPq(corpus(n / 100), "vec_id", "embedding",
      col("id") < nQ, k))

    val t0 = System.nanoTime()
    val exact = pairs(Similarity.topKBruteForce(corpus(n), "vec_id",
      "embedding", col("id") < nQ, k))
    val tBrute = (System.nanoTime() - t0) / 1e9

    // production split: the index BUILD (per-row code assignment — the
    // expensive projection) is paid once and materialized; queries then
    // run against the stored codes. Timing them together, as the
    // single-call API does, makes a 10-query batch carry the whole
    // build and says nothing about steady-state query cost.
    val t1 = System.nanoTime()
    val idx = Similarity.buildIvfPq(corpus(n), "vec_id", "embedding",
      numCentroids = 64).get
    val built = idx.copy(coded = idx.coded.persist())
    built.coded.count() // materialize: this IS the stored index
    val tBuild = (System.nanoTime() - t1) / 1e9

    val t2 = System.nanoTime()
    val approx = pairs(Similarity.searchIvfPq(built, col("id") < nQ, k,
      nprobe = 8))
    val tSearch = (System.nanoTime() - t2) / 1e9

    // PERSISTED index: write the coded frame once (partitioned by
    // posting list), then search from disk — the steady-state 100 TB
    // shape where every query batch pays only nprobe partition reads +
    // two tiny codebook reads, never the build.
    val dir = sys.env.getOrElse("SPARK_GRAFT_ANN_DIR",
      "/tmp/graft_ann_smoke_index")
    val t3 = System.nanoTime()
    graft.extra.AnnIndex.writeIvfPq(built, dir)
    val tWrite = (System.nanoTime() - t3) / 1e9
    built.coded.unpersist(blocking = false)
    val t4 = System.nanoTime()
    val fromDisk = graft.extra.AnnIndex.readIvfPq(spark, dir)
    val persisted = pairs(Similarity.searchIvfPq(fromDisk,
      col("id") < nQ, k, nprobe = 8))
    val tPersist = (System.nanoTime() - t4) / 1e9

    // incremental ingest: encode a 10% batch of NEW vectors against
    // the frozen codebooks and append into the partitioned layout —
    // the amortized daily-batch cost (vs re-encoding the corpus)
    val nNew = n / 10
    val newBatch = corpus(n + nNew).filter(col("vec_id") >= n)
    val t5 = System.nanoTime()
    graft.extra.AnnIndex.appendIvfPq(spark, dir, newBatch, "vec_id",
      "embedding")
    val tAppend = (System.nanoTime() - t5) / 1e9

    // RESIDUAL encoding arm — the PRODUCTION build for clustered
    // corpora: a TRAINED coarse codebook (k-means, C sized to the
    // cluster count so residuals shrink to within-cluster scale) +
    // codes that quantize v − coarse[list] (PqEncodeResidual). Raw
    // codes collapse within clusters (overlap → random-pick floor);
    // a sampled coarse codebook leaves most clusters unrepresented, so
    // most residuals stay inter-cluster-scale and ADC still can't see
    // the wobble. Trained coarse + residual codes is the composition
    // that works — exactly the FAISS IndexIVFPQ default.
    val t6 = System.nanoTime()
    val coarseTrained = Similarity.kmeansCodebook(corpus(n), "vec_id",
      "embedding", k = 256, iters = 2)
    val ridx = Similarity.buildIvfPq(corpus(n), "vec_id", "embedding",
      pqCentroids = 64, coarseCodebook = Some(coarseTrained),
      residual = true).get
    val rbuilt = ridx.copy(coded = ridx.coded.persist())
    rbuilt.coded.count()
    val tRBuild = (System.nanoTime() - t6) / 1e9
    val t7 = System.nanoTime()
    val resid = pairs(Similarity.searchIvfPq(rbuilt, col("id") < nQ, k,
      nprobe = 8))
    val tRSearch = (System.nanoTime() - t7) / 1e9
    rbuilt.coded.unpersist(blocking = false)

    val overlap =
      if (exact.isEmpty) 0.0
      else approx.intersect(exact).size.toDouble / exact.size
    val overlapResid =
      if (exact.isEmpty) 0.0
      else resid.intersect(exact).size.toDouble / exact.size
    val persistedIdentical = persisted == approx
    spark.stop()
    println(s"""{"metric":"ann_smoke","mode":"$mode","n_vectors":$n,"dim":$dim,"k":$k,"n_queries":$nQ,""" +
      s""""brute_wall_s":${StreamBench.rnd(tBrute)},""" +
      s""""ivfpq_build_wall_s":${StreamBench.rnd(tBuild)},""" +
      s""""ivfpq_search_wall_s":${StreamBench.rnd(tSearch)},""" +
      s""""index_write_wall_s":${StreamBench.rnd(tWrite)},""" +
      s""""persisted_search_wall_s":${StreamBench.rnd(tPersist)},""" +
      s""""append_10pct_wall_s":${StreamBench.rnd(tAppend)},""" +
      s""""persisted_identical":$persistedIdentical,""" +
      s""""search_speedup_vs_brute":${StreamBench.rnd(tBrute / tSearch, 2)},""" +
      s""""overlap_vs_exact":${StreamBench.rnd(overlap, 3)},""" +
      s""""residual_build_wall_s":${StreamBench.rnd(tRBuild)},""" +
      s""""residual_search_wall_s":${StreamBench.rnd(tRSearch)},""" +
      s""""residual_overlap_vs_exact":${StreamBench.rnd(overlapResid, 3)}}""")
    System.out.flush()
  }
}
