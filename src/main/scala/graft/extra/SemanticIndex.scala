package graft.extra

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.ParquetRead

/** Persisted SEMANTIC-dedup index — the ONLINE form of [[Dedup
  * .semDedup]] (Abbas et al. 2023, arXiv:2303.09540), completing the
  * incremental-dedup family: [[MinhashIndex]] serves lexical near-dup
  * verdicts, [[SubstrIndex]] serves exact-substring span verdicts, and
  * this serves EMBEDDING-space verdicts — a new crawl batch is
  * semantically deduped against the standing corpus (and its own
  * batch-mates) from storage, never recomputing the corpus side.
  *
  * Layout under `dir` (the shared [[IndexManifests]] commit-point
  * discipline — CAS manifest versions, snapshot isolation, txn
  * ledger):
  *   - `vectors/seg-N/list_id=…` — (d, v, nrm) parquet, one segment
  *     per write, DIRECTORY-PARTITIONED by the coarse cluster id. The
  *     partitioning is the serving path: SemDeDup's candidate
  *     generator is the cluster equijoin, so a batch's probe reads
  *     only its TOUCHED clusters' partitions of each live segment —
  *     static partition pruning at file-listing time, the [[AnnIndex]]
  *     `list_id IN` discipline. Raw float vectors ride in the files
  *     because the verdict needs EXACT cosine (the method's rule);
  *     contrast [[AnnIndex]], whose PQ codes are lossy by design.
  *   - `codebooks/` — (pos, cid, v, nrm): the coarse quantizer,
  *     FROZEN at build ([[AnnIndex]]'s contract — appends never
  *     retrain, so assignment is reproducible forever). Driver-held
  *     metadata, memoized per JVM ([[IndexManifests.cachedSideFile]]).
  *   - `_manifests/vN.txt` — commit points; the applied-batch ledger
  *     ([[IndexManifests.txnApplied]]) rides the manifest for
  *     exactly-once streaming ingest.
  *
  * Verdict semantics ([[dedupBatch]]): a batch document is a duplicate
  * iff some SAME-CLUSTER vector with a SMALLER id — indexed or
  * batch-mate — has rounded (6 dp) cosine ≥ threshold; `dup_of` is the
  * smallest such id. This is exactly [[Dedup.semDedup]]'s keep-min-id
  * rule over (indexed ∪ batch) restricted to batch rows, under the
  * index's frozen codebook (spec-pinned equivalence). Like
  * [[MinhashIndex]], verdicts anchor to what is IN the index: the
  * ingest appends only survivors, so a later batch's near-copy of a
  * DROPPED duplicate is not re-anchored to it — the cleaned-corpus
  * contract.
  *
  * Contracts: ids globally unique and MONOTONE above every indexed id
  * (the family's canonicality rule); vectors non-zero and of the
  * codebook's dimension.
  *
  * Scale shape: assignment is a loop-codegen projection (no join);
  * the corpus probe is a broadcast of the micro-batch into the pruned
  * cluster partitions (no corpus shuffle, no skew on the ≤C-key
  * cluster join), AUTO-SPLIT into budget-bounded chunks when the
  * batch outgrows a safe broadcast (r15 verdict #4 — no caller-side
  * contract); `numClusters` bounds cluster width exactly as in
  * the batch operator — production grows it ~√N, making the per-batch
  * corpus read O(index / C · touched clusters). Takedown is LSM-style
  * ([[delete]]/[[compact]] — raw vectors make post-delete verdicts
  * exactly recomputable, unlike [[SubstrIndex]]'s min-summaries).
  */
object SemanticIndex {

  private val Frames = Seq("vectors", "tombstones")

  /** The frozen coarse codebook, position-ordered (hash-sample order,
    * the [[Similarity.sampleCodebook]] contract) — memoized per JVM:
    * geometry is frozen for the directory's lifetime, so the per-batch
    * serving path pays one FS list, not a Spark job.
    */
  def readCodebook(spark: SparkSession, dir: String)
      : Seq[Similarity.Centroid] =
    IndexManifests.cachedSideFile(spark, s"$dir/codebooks") {
      ParquetRead.read(spark, s"$dir/codebooks")
        .orderBy("pos").collect().toSeq
        .map(r => Similarity.Centroid(r.getAs[Long]("cid"),
          r.getAs[Seq[Double]]("v").toArray, r.getAs[Double]("nrm")))
    }

  /** Build over the standing corpus: sample (or caller-trained)
    * codebook written once, every vector assigned and written
    * cluster-partitioned, one manifest commit. A same-dir rebuild
    * KEEPS the frozen codebook and the txn ledger (the
    * [[SubstrIndex.build]] discipline).
    */
  def build(emb: DataFrame, idCol: String, vecCol: String, dir: String,
      numClusters: Int = 32,
      codebook: Option[Seq[Similarity.Centroid]] = None): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val prev = IndexManifests.latest(spark, dir)
    // an empty corpus would commit a file-less partitioned segment
    // (the append-guard poison below) even with a caller-supplied
    // codebook — reject up front
    require(!emb.isEmpty, "semantic index build needs a non-empty corpus")
    val cents = prev match {
      case Some(_) => readCodebook(spark, dir)
      case None =>
        val cb = codebook.getOrElse(
          Similarity.sampleCodebook(emb, idCol, vecCol, numClusters))
        require(cb.nonEmpty, "semantic index build needs a non-empty corpus")
        cb.zipWithIndex
          .map { case (c, i) => (i, c.cid, c.v, c.nrm) }
          .toDF("pos", "cid", "v", "nrm")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$dir/codebooks")
        cb
    }
    val v = prev.map(_._1).getOrElse(0L) + 1
    val seg = f"vectors/seg-$v%09d"
    writeSegment(assign(emb, idCol, vecCol, cents), dir, seg)
    val entries = Map("vectors" -> Seq(seg)) ++
      IndexManifests.ledgerOf(prev.map(_._2).getOrElse(Map.empty))
    IndexManifests.commit(spark, dir, v, entries)
    IndexManifests.vacuum(spark, dir, Frames)
  }

  /** (list_id, d, v, nrm) under the index's frozen codebook. */
  private def assign(emb: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Similarity.Centroid]): DataFrame =
    Similarity.assignClusters(emb, idCol, vecCol, cents)
      .select(col("cluster_id").as("list_id"), col("id").as("d"),
        col("v"), col("nrm"))

  /** One shuffle (hash on list_id) so each cluster lands in one task →
    * one file per cluster partition, sorted by id within files.
    */
  private def writeSegment(assigned: DataFrame, dir: String,
      seg: String): Unit =
    assigned
      .repartition(col("list_id"))
      .sortWithinPartitions(col("list_id"), col("d"))
      .write.mode(SaveMode.Overwrite).partitionBy("list_id")
      .parquet(s"$dir/$seg")

  /** LSM-append a batch (normally [[dedupBatch]]'s SURVIVORS — the
    * ingest-order contract): one assignment projection, one
    * cluster-partitioned segment, one manifest commit carrying the txn
    * ledger. `autoCompactFanout` is the ingest-side maintenance
    * guard — size-tiered minor merges via [[compactTier]], the
    * [[SubstrIndex.append]] contract.
    */
  def append(batch: DataFrame, idCol: String, vecCol: String,
      dir: String, txn: Option[(String, Long)] = None,
      autoCompactFanout: Int = 0): Boolean = {
    val spark = batch.sparkSession
    val (v0, entries, _) =
      IndexManifests.requireLatestFull(spark, dir, "semantic")
    if (IndexManifests.txnApplied(entries, txn)) return false
    // an EMPTY batch must no-op (without advancing the ledger — a
    // replay re-lands here and no-ops again): a partitionBy write of
    // an empty frame produces a file-less directory whose committed
    // segment poisons every later read with UNABLE_TO_INFER_SCHEMA —
    // the [[AnnIndex.appendIvfPq]] guard, verified on Spark 4.1.2.
    // Realistic trigger: an all-duplicates micro-batch's survivors.
    if (batch.isEmpty) return false
    val cents = readCodebook(spark, dir)
    val seg = f"vectors/seg-${v0 + 1}%09d"
    writeSegment(assign(batch, idCol, vecCol, cents), dir, seg)
    IndexManifests.commitAppend(spark, dir, v0 + 1, entries,
      Seq("vectors" -> seg), txn)
    if (autoCompactFanout > 0)
      compactTier(spark, dir, autoCompactFanout): Unit
    true
  }

  /** The `vectors/` tier fold ([[IndexManifests.TierFold]]): the merge
    * body re-writes the picked segments' rows as one tier-up
    * `list_id`-partitioned segment.
    */
  private[graft] val Tier = IndexManifests.TierFold("semantic", "vectors",
    Nil, Frames, (spark, dir, p) => {
      writeSegment(p.picked("vectors")
          .map(s => ParquetRead.read(spark, s"$dir/$s"))
          .reduce(_ unionByName _), dir, p.out("vectors"))
      Map.empty
    })

  /** Fold the first full size tier of vector segments into one tier-up
    * segment — the shared [[IndexManifests.compactTier]] lifecycle
    * over [[Tier]], the policy behind `autoCompactFanout`. Returns true
    * when a tier merged. [[compact]] stays the manual full merge.
    */
  def compactTier(spark: SparkSession, dir: String, fanout: Int = 8,
      retainVersions: Int = 1): Boolean =
    IndexManifests.compactTier(spark, dir, Tier, fanout, retainVersions)

  /** Merge accumulated segments into one (rows are plain — no partial
    * merge), tombstoned deletes made PHYSICAL (rows dropped, the
    * tombstone frame absent from the fresh manifest), ledger carried
    * forward, orphans vacuumed.
    */
  def compact(spark: SparkSession, dir: String,
      retainVersions: Int = 1): Unit = {
    val (v0, entries, _) =
      IndexManifests.requireLatestFull(spark, dir, "semantic")
    val segs = entries.getOrElse("vectors", Nil)
    require(segs.nonEmpty, s"no committed vector segments at $dir")
    val live = readVectors(spark, dir, entries).get
    val survivors = IndexManifests.readFrame(spark, dir, entries, "tombstones")
      .fold(live)(t => live.join(t.select("d"), Seq("d"), "left_anti"))
    // a FULL takedown leaves no survivors, and a partitionBy write of
    // an empty frame is a file-less directory that would poison every
    // later read with UNABLE_TO_INFER_SCHEMA (the append() guard's
    // failure, reached through compact) — commit a manifest with NO
    // vectors frame instead; dedupBatch/append handle the empty index
    // (everything is a keeper / the next append re-seeds segments)
    val fresh: Map[String, Seq[String]] =
      if (survivors.isEmpty) Map.empty
      else {
        val seg = f"vectors/seg-${v0 + 1}%09d"
        writeSegment(survivors, dir, seg)
        Map("vectors" -> Seq(seg))
      }
    IndexManifests.commit(spark, dir, v0 + 1,
      fresh ++ IndexManifests.ledgerOf(entries))
    IndexManifests.vacuum(spark, dir, Frames,
      keepVersions = retainVersions)
  }

  /** Delete documents from the index — LSM takedown, the
    * [[MinhashIndex.delete]] discipline for the embedding arm
    * (r15 verdict #4 — unlike [[SubstrIndex]]'s non-invertible
    * min-summaries, raw vectors make the post-delete verdict exactly
    * recomputable): ids land in a `tombstones/` segment + one
    * manifest commit (O(batch) — the cluster-partitioned vectors are
    * NOT rewritten); [[dedupBatch]] anti-joins the corpus probe, so a
    * deleted doc stops anchoring verdicts IMMEDIATELY — bit-identical
    * to an index built without it (spec-pinned). [[compact]] makes
    * the purge physical. Re-adding a tombstoned id via [[append]]
    * requires a [[compact]] first (caller contract). Returns the
    * number of newly tombstoned ids.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String = "d"): Long = {
    val (v0, entries, ranges) =
      IndexManifests.requireLatestFull(spark, dir, "semantic")
    IndexManifests.appendTombstones(spark, dir, v0, entries, ranges,
      ids.select(col(idCol).as("d")).distinct(), "d")
  }

  /** Union of the live segments' cluster-partitioned scans —
    * `list_id` comes back as the partition column (int), cast to
    * long; a `list_id IN (…)` filter on this frame partition-prunes
    * every leg at file-listing time.
    */
  private def readVectors(spark: SparkSession, dir: String,
      entries: Map[String, Seq[String]]): Option[DataFrame] =
    entries.getOrElse("vectors", Nil)
      .map(s => ParquetRead.read(spark, s"$dir/$s")
        .select(col("list_id").cast("long").as("list_id"),
          col("d"), col("v"), col("nrm")))
      .reduceOption(_ unionByName _)

  /** Per-NEW-document semantic verdicts against the index + batch-mates:
    * (idCol, `cluster_id`, `is_dup`, `dup_of` — smallest matching
    * lower id, null for keepers, `best_cos` — that match's rounded
    * cosine, null for keepers). Rounded-then-compared cosine is the
    * cross-engine discipline ([[Dedup.semDedup]]).
    */
  def dedupBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, vecCol: String, threshold: Double,
      broadcastBudgetBytes: Long = 64L << 20): DataFrame = {
    val (_, entries, _) =
      IndexManifests.requireLatestFull(spark, dir, "semantic")
    val cents = readCodebook(spark, dir)
    // pinned: the assignment feeds the per-chunk touched-cluster
    // collects, the corpus probes' broadcasts, and BOTH sides of the
    // mate joins
    val ba = Similarity.assignClusters(batch, idCol, vecCol, cents)
      .select(col("id"), col("v"), col("nrm"),
        col("cluster_id").as("list_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // AUTO-SPLIT against the broadcast budget (r15 verdict #4 — the
    // old doc-contract "split large batches yourself" was the one
    // index-family probe that could OOM the driver on a fat batch):
    // the probe row is (id, v[dim], nrm, list_id) ≈ dim·8 + 48 bytes,
    // doubled for hash-relation overhead; a batch whose total exceeds
    // the budget is hash-split on id into the fewest chunks that each
    // fit, and every chunk runs the same broadcast probe — corpus
    // partitions are pruned PER CHUNK, batch-mate pairs are covered
    // because each chunk's broadcast joins the FULL pinned batch side.
    // The count is a pinned-cache scan.
    val batchRows = ba.count()
    val dim = cents.headOption.map(_.v.length).getOrElse(0)
    val rowBytes = (dim * 8L + 48L) * 2L
    val numChunks = math.max(1L,
      (batchRows * rowBytes + broadcastBudgetBytes - 1) /
        broadcastBudgetBytes).toInt
    // tombstoned docs drop out of the corpus probe (delete()): a
    // deleted doc can never anchor a verdict — bit-identical to an
    // index built without it
    val tomb = IndexManifests.readFrame(spark, dir, entries, "tombstones")
    val hits = (0 until numChunks).flatMap { c =>
      val probe =
        if (numChunks == 1) ba
        else ba.filter(
          pmod(xxhash64(col("id")), lit(numChunks)) === lit(c.toLong))
      // static partition pruning (the [[AnnIndex]] `list_id IN`
      // discipline): the chunk touches at most C clusters — ship them
      // as a literal IN so every live segment's scan plans down to the
      // touched `list_id=` partitions at file-listing time; a pruned
      // partition's files are never opened (spec-pinned physically)
      val touched = probe.select("list_id").distinct()
        .collect().map(_.getLong(0)).sorted
      if (touched.isEmpty) None
      else {
        val probeSel = broadcast(probe.select(col("id").as("__bid"),
          col("v").as("__bv"), col("nrm").as("__bn"), col("list_id")))
        // the corpus probe: BROADCAST the micro-batch side — the
        // cluster join has at most C distinct keys, so a shuffled
        // equijoin would be C-way skewed by construction;
        // broadcasting makes it a map-side probe over the pruned
        // cluster partitions, no corpus shuffle.
        // an index fully taken down (compact after delete-all commits
        // no vectors frame) contributes no corpus hits — batch-mate
        // verdicts still apply
        val corpus0 = readVectors(spark, dir, entries)
          .map(_.filter(col("list_id").isin(touched.map(Long.box): _*)))
          .getOrElse(ba.select(col("list_id"), col("id").as("d"),
            col("v"), col("nrm")).limit(0))
        val corpusHits = tomb.fold(corpus0)(t =>
            corpus0.join(t.select("d"), Seq("d"), "left_anti"))
          .join(probeSel, Seq("list_id"))
          .filter(round(Similarity.dot(col("v"), col("__bv")) /
            (sqrt(col("nrm")) * sqrt(col("__bn"))), 6) >= threshold)
          .select(col("__bid").as("id"), col("d").as("cand"),
            round(Similarity.dot(col("v"), col("__bv")) /
              (sqrt(col("nrm")) * sqrt(col("__bn"))), 6).as("cos"))
        // batch-mate matches: LOWER id wins, whether or not the lower
        // mate is itself dropped — exactly semDedup's global
        // keep-min-id rule
        val mateHits = ba.alias("x")
          .join(probeSel, Seq("list_id"))
          .filter(col("x.id") > col("__bid"))
          .filter(round(Similarity.dot(col("x.v"), col("__bv")) /
            (sqrt(col("x.nrm")) * sqrt(col("__bn"))), 6) >= threshold)
          .select(col("x.id").as("id"), col("__bid").as("cand"),
            round(Similarity.dot(col("x.v"), col("__bv")) /
              (sqrt(col("x.nrm")) * sqrt(col("__bn"))), 6).as("cos"))
        Some(corpusHits.unionByName(mateHits))
      }
    }
    val best = hits.reduceOption(_ unionByName _)
      // an empty batch produces no chunks — an empty hit frame keeps
      // the left join below a well-typed no-op
      .getOrElse(ba.select(col("id"), col("id").as("cand"),
        lit(0d).as("cos")).limit(0))
      .groupBy(col("id"))
      .agg(min(struct(col("cand"), col("cos"))).as("__m"))
      .select(col("id"), col("__m.cand").as("dup_of"),
        col("__m.cos").as("best_cos"))
    ba.join(best, Seq("id"), "left")
      .select(col("id").as(idCol), col("list_id").as("cluster_id"),
        col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("best_cos"))
    // the pin served the eager touched-cluster collects; the returned
    // lazy frame recomputes the (projection-only) assignment per scan
    // — the [[MinhashIndex.dedupBatch]] lifetime discipline
    } finally ba.unpersist(blocking = false): Unit
  }
}
