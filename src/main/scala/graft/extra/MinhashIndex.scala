package graft.extra

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.util.ParquetRead

/** Persisted MinHash-LSH band index — the NEAR-DUP mirror of
  * [[SubstrIndex]], completing the amortized-ingest story for every
  * incremental dedup family: the standing corpus' (band, signature)
  * posting rows and shingle sets are computed ONCE and persisted;
  * each new crawl batch is near-dup-verdicted against the corpus ∪
  * its own batch-mates via batch-driven posting lookups — corpus text
  * is never re-shingled, re-hashed, or re-banded, and corpus×corpus
  * pairs are never generated (the [[Dedup.nearDupIncremental]]
  * contract, now with the corpus side served from storage).
  *
  * Layout under `dir` ([[IndexManifests]] — manifest commits, CAS,
  * vacuum/restore, exactly-once txn ledger, `#range=` file stats):
  *   - `bands/seg-N/` — (k, band, sig, d): one posting row per
  *     (corpus doc, band), where `k = xxhash64(band, sig)` is the
  *     RANGE-CLUSTERING key — each file covers a disjoint sorted `k`
  *     range recorded in the manifest, so a batch's bucket probe
  *     opens only files whose range can hold a batch bucket key
  *     (the [[SubstrIndex]] pruning discipline; `k` is prune-only —
  *     candidate equality joins on the exact (band, sig), so a hash
  *     collision can only ADD a candidate pair, which exact Jaccard
  *     verification then drops).
  *   - `sets/seg-N/` — (d, shingles): the verification side, clustered
  *     and range-stat'd on `d`, so the exact-Jaccard fetch opens only
  *     the files holding CANDIDATE ids — the "codes scanned, floats
  *     fetched per shortlist row" layout of [[AnnIndex]], applied to
  *     shingle sets.
  *   - `meta/` — one row (num_perms, rows_per_band, shingle_n):
  *     immutable geometry (signatures are only comparable under one
  *     permutation family).
  *
  * [[dedupBatch]] output is IDENTICAL to
  * [[Dedup.nearDupIncremental]](indexed docs, batch) BY CONSTRUCTION:
  * signatures are per-doc (union-independent), candidate buckets
  * containing no batch row generate only corpus×corpus pairs (which
  * the global form discards), and the hot-bucket cap measures the
  * same total width — corpus posting count + batch rows — for every
  * bucket a batch row touches. MinhashIndexSpec pins the equivalence
  * on planted fixtures and a seeded randomized differential.
  *
  * INGEST ORDER contract (as [[SubstrIndex]]): dedupBatch FIRST, then
  * [[append]] what the curation kept (appending known dups would make
  * them canonicals for later batches). Ids globally unique across
  * corpus ∪ batches.
  */
object MinhashIndex {

  private val Frames = Seq("bands", "sets", "tombstones")

  /** Geometry of a committed index — driver-memoized
    * ([[IndexManifests.cachedSideFile]]): geometry is frozen for the
    * directory's lifetime ([[build]]'s reject), so the per-batch
    * serving path pays one FS list, not a Spark job.
    */
  def meta(spark: SparkSession, dir: String): (Int, Int, Int) =
    IndexManifests.cachedSideFile(spark, s"$dir/meta") {
      val r = ParquetRead.read(spark, s"$dir/meta").head()
      (r.getAs[Int]("num_perms"), r.getAs[Int]("rows_per_band"),
        r.getAs[Int]("shingle_n"))
    }

  /** (id, shingles) of a doc frame under this geometry. */
  private def setsOf(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int): DataFrame =
    Text.withShingles(docs.select(col(idCol), col(textCol)), textCol,
        shingleN)
      .select(col(idCol).as("d"), col("shingles"))

  /** (k, band, sig, d) posting rows of a prepared (d, shingles)
    * frame — `k` is the clustering/pruning key.
    */
  private def bandsOf(sets: DataFrame, numPerms: Int,
      rowsPerBand: Int): DataFrame =
    Dedup.lshBands(
        Dedup.minhashFromSets(sets.select(col("d"), col("shingles")),
          "d", numPerms), "d", numPerms, rowsPerBand)
      .select(xxhash64(col("band"), col("sig")).as("k"),
        col("band"), col("sig"), col("d"))

  /** One-shuffle clustered segment write + per-file stats (the
    * [[SubstrIndex.writeSegment]] shape on the given key). For the
    * `k` band key — xxhash64, uniform over Long by construction — the
    * range boundaries are STATIC
    * ([[IndexManifests.staticHashRangeRoute]], r17), so the
    * repartitionByRange sampling pass disappears from every build/
    * append/probe-side segment write; the `d` sets key (arbitrary doc
    * ids, not uniform) keeps the sampled path.
    */
  private def writeClusteredSeg(df: DataFrame, dir: String,
      segRel: String, key: String, numFiles: Int)
      : Map[String, (String, String)] = {
    val clustered = (if (key == "k")
        IndexManifests.staticHashRangeRoute(df, key, numFiles)
      else None)
      .getOrElse(df.repartitionByRange(numFiles, col(key)))
      .sortWithinPartitions(col(key))
    clustered.write.mode(SaveMode.Overwrite).parquet(s"$dir/$segRel")
    IndexManifests.fileRangeStats(df.sparkSession, dir, segRel, key)
  }

  /** Build the index over the standing corpus: one shingle pass feeds
    * both frames (sets written as-is, bands via one signature
    * aggregation), two clustered segment writes, one manifest commit
    * carrying every file's range stats. Same-geometry rebuild keeps
    * the meta file and the txn ledger ([[SubstrIndex.build]]'s
    * discipline).
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
      dir: String, numPerms: Int = 16, rowsPerBand: Int = 4,
      shingleN: Int = 3, numFiles: Int = 8): Unit = {
    require(numPerms % rowsPerBand == 0,
      s"numPerms=$numPerms not divisible by rowsPerBand=$rowsPerBand")
    val spark = docs.sparkSession
    import spark.implicits._
    val prev = IndexManifests.latest(spark, dir)
    prev.foreach { _ =>
      val (p0, r0, s0) = meta(spark, dir)
      require(p0 == numPerms && r0 == rowsPerBand && s0 == shingleN,
        s"index at $dir is committed with ($p0,$r0,$s0); rebuilding " +
          s"with ($numPerms,$rowsPerBand,$shingleN) needs a fresh dir")
    }
    val v = prev.map(_._1).getOrElse(0L) + 1
    val sets = setsOf(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val segB = f"bands/seg-$v%09d"
      val segS = f"sets/seg-$v%09d"
      val ranges =
        writeClusteredSeg(bandsOf(sets, numPerms, rowsPerBand), dir,
          segB, "k", numFiles) ++
          writeClusteredSeg(sets, dir, segS, "d", numFiles)
      if (prev.isEmpty)
        Seq((numPerms, rowsPerBand, shingleN))
          .toDF("num_perms", "rows_per_band", "shingle_n")
          .coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(s"$dir/meta")
      val entries = Map("bands" -> Seq(segB), "sets" -> Seq(segS)) ++
        IndexManifests.ledgerOf(prev.map(_._2).getOrElse(Map.empty))
      IndexManifests.commit(spark, dir, v, entries, ranges)
      IndexManifests.vacuum(spark, dir, Frames)
    } finally sets.unpersist(blocking = false): Unit
  }

  /** LSM-append a batch (normally the docs curation KEPT — see the
    * ingest-order contract): one shingle pass, two clustered segment
    * writes, one manifest commit; `txn` is the exactly-once ledger,
    * `autoCompactFanout` (0 = off) the [[compactTier]] fanout run
    * after the commit.
    */
  def append(batch: DataFrame, idCol: String, textCol: String,
      dir: String, txn: Option[(String, Long)] = None,
      numFiles: Int = 2, autoCompactFanout: Int = 0): Unit = {
    val spark = batch.sparkSession
    val (v0, entries, ranges) =
      IndexManifests.requireLatestFull(spark, dir, "minhash")
    if (IndexManifests.txnApplied(entries, txn)) return
    val (numPerms, rowsPerBand, shingleN) = meta(spark, dir)
    val segB = f"bands/seg-${v0 + 1}%09d"
    val segS = f"sets/seg-${v0 + 1}%09d"
    val sets = setsOf(batch, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val segRanges =
        writeClusteredSeg(bandsOf(sets, numPerms, rowsPerBand), dir,
          segB, "k", numFiles) ++
          writeClusteredSeg(sets, dir, segS, "d", numFiles)
      IndexManifests.commitAppend(spark, dir, v0 + 1, entries,
        Seq("bands" -> segB, "sets" -> segS), txn, ranges ++ segRanges)
      if (autoCompactFanout > 0)
        compactTier(spark, dir, autoCompactFanout): Unit
    } finally sets.unpersist(blocking = false): Unit
  }

  /** The band-index tier fold ([[IndexManifests.TierFold]]): `bands`
    * leads and the same-named `sets` segments fold alongside (append
    * and build commit the pair under one name); the merge body
    * re-clusters each frame's picked rows into one tier-up segment
    * and returns their `#range=` stats.
    */
  private[graft] val Tier = IndexManifests.TierFold("minhash", "bands",
    Seq("sets"), Frames, (spark, dir, p) =>
      Seq("bands" -> "k", "sets" -> "d").collect {
        case (f, key) if p.picked.contains(f) =>
          writeClusteredSeg(ParquetRead.read(spark,
            p.picked(f).map(s => s"$dir/$s"): _*), dir, p.out(f), key,
            p.files)
      }.reduce(_ ++ _))

  /** Fold the first full size tier of band segments, with their sets,
    * into one tier-up segment per frame — the shared
    * [[IndexManifests.compactTier]] lifecycle over [[Tier]], the
    * policy behind `autoCompactFanout`. Returns true when a tier
    * merged.
    */
  def compactTier(spark: SparkSession, dir: String, fanout: Int = 8,
      retainVersions: Int = 1): Boolean =
    IndexManifests.compactTier(spark, dir, Tier, fanout, retainVersions)

  /** Re-cluster both frames into one segment each (rows are plain —
    * no partial merge needed), making tombstoned deletes PHYSICAL
    * (rows dropped, the tombstone frame absent from the fresh
    * manifest); fresh range stats, txn ledger carried, same retention
    * contract as the other indexes.
    */
  def compact(spark: SparkSession, dir: String,
      retainVersions: Int = 1, numFiles: Int = 8): Unit = {
    val (v0, entries, _) =
      IndexManifests.requireLatestFull(spark, dir, "minhash")
    val tomb = IndexManifests.readFrame(spark, dir, entries, "tombstones")
    def readAll(frame: String) = {
      val segs = entries.getOrElse(frame, Nil)
      require(segs.nonEmpty, s"no committed $frame segments at $dir")
      val df = ParquetRead.read(spark, segs.map(s => s"$dir/$s"): _*)
      tomb.fold(df)(t => df.join(t.select("d"), Seq("d"), "left_anti"))
    }
    val segB = f"bands/seg-${v0 + 1}%09d"
    val segS = f"sets/seg-${v0 + 1}%09d"
    val ranges =
      writeClusteredSeg(readAll("bands"), dir, segB, "k", numFiles) ++
        writeClusteredSeg(readAll("sets"), dir, segS, "d", numFiles)
    IndexManifests.commit(spark, dir, v0 + 1,
      Map("bands" -> Seq(segB), "sets" -> Seq(segS)) ++
        IndexManifests.ledgerOf(entries), ranges)
    IndexManifests.vacuum(spark, dir, Frames,
      keepVersions = retainVersions)
  }

  /** Delete documents from the index — LSM takedown, the
    * [[Bm25Index.delete]]/[[AnnIndex.delete]] discipline for the
    * near-dup arm: ids land in a `tombstones/` segment + one manifest
    * commit (O(batch), postings/sets NOT rewritten); [[dedupBatch]]
    * anti-joins its matched postings, so a deleted doc stops being a
    * candidate (and hence a canonical `dup_of`) IMMEDIATELY; its
    * bucket rows also stop counting toward the hot-bucket width, the
    * same semantics as an index built without it. Unlike BM25 there
    * is no derived statistic to go stale — post-delete verdicts are
    * bit-identical to a fresh build over the survivors (spec-pinned).
    * [[compact]] makes the purge physical. Re-adding a tombstoned id
    * via [[append]] requires a [[compact]] first (caller contract).
    * Returns the number of newly tombstoned ids. (Contrast
    * [[SubstrIndex]], where delete would need to RECOMPUTE per-gram
    * canonical minima that the summaries cannot invert — a substr
    * takedown is a rebuild, documented there.)
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String = "d"): Long = {
    val (v0, entries, ranges) =
      IndexManifests.requireLatestFull(spark, dir, "minhash")
    IndexManifests.appendTombstones(spark, dir, v0, entries, ranges,
      ids.select(col(idCol).as("d")).distinct(), "d")
  }

  private def parseLong(s: String): Option[Any] =
    s.toLongOption.map(java.lang.Long.valueOf(_): Any)

  /** Spec hook: the band-posting files a dedup of `batch` would open
    * vs the live total (the [[SubstrIndex.probePostingFiles]] shape).
    */
  private[graft] def probeBandFiles(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String)
      : (Seq[String], Int) = {
    val (_, entries, ranges) =
      IndexManifests.requireLatestFull(spark, dir, "minhash")
    val (numPerms, rowsPerBand, shingleN) = meta(spark, dir)
    val keys = bandsOf(setsOf(batch, idCol, textCol, shingleN),
      numPerms, rowsPerBand).select(col("k")).distinct()
    IndexManifests.selectRangedFiles(spark, dir, entries, ranges,
      "bands", LongType, parseLong, keys, "k")
  }

  /** Near-dup verdict for a NEW batch against the indexed corpus and
    * its own batch-mates — (idCol, is_dup, dup_of), identical to
    * [[Dedup.nearDupIncremental]](indexed docs, batch, …):
    *
    *   1. batch shingle sets + band rows (one shingle pass, pinned);
    *   2. posting lookup: the manifest's `#range=` stats prune the
    *      bands scan to files whose `k` range can hold a batch bucket
    *      key; the pruned slice equi-joins the batch's DISTINCT
    *      buckets on the exact (band, sig) — only matching postings
    *      shuffle;
    *   3. candidates: [[Dedup.lshCandidates]] over matched corpus
    *      postings ∪ batch band rows (widths of every batch-touched
    *      bucket equal the global form's, so the hot-bucket cap
    *      drops exactly the same buckets), filtered to new-involving
    *      pairs;
    *   4. exact Jaccard verify: batch sides from the pinned batch
    *      sets; corpus sides fetched from the `sets` frame PRUNED to
    *      the candidate ids' file ranges;
    *   5. orient each pair at its new side, smallest canonical wins.
    */
  def dedupBatch(spark: SparkSession, dir: String, batch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val (_, entries, ranges) =
      IndexManifests.requireLatestFull(spark, dir, "minhash")
    val (numPerms, rowsPerBand, shingleN) = meta(spark, dir)
    val batchSets = setsOf(batch, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchBands = bandsOf(batchSets, numPerms, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pinned: the distinct feeds the range probe, the broadcast size
    // check, and the posting join — unpinned it would re-run its
    // exchange+aggregate per consumer. Declared BEFORE the try whose
    // finally owns its unpersist, so a failure anywhere in the chain
    // (the range probe and count are real Spark jobs) cannot leak the
    // cache entry past the call.
    val buckets = batchBands.select("k", "band", "sig").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (paths, _) = IndexManifests.selectRangedFiles(spark, dir,
        entries, ranges, "bands", LongType, parseLong,
        buckets.select("k"), "k")
      val matched0 =
        if (paths.isEmpty)
          batchBands.select("band", "sig", "d").limit(0)
        else {
          // the posting side grows with the corpus; the batch's
          // distinct buckets stay micro-batch-bounded (docs × bands
          // rows). When they fit a broadcast, the accumulated bands
          // scan streams map-side instead of SHUFFLING whole — the
          // [[SubstrIndex]] probe-side discipline. buckets reads the
          // pinned batchBands cache, so the count is a cache scan.
          // The cutoff is SIZE-aware (ADVICE r15): (band, sig) rows
          // carry a banded-signature STRING, so a row-count cutoff
          // sized for 8-byte keys admitted near-GB broadcasts.
          val bSel = buckets.select("band", "sig")
          val probeSide =
            if (buckets.count() <=
                IndexManifests.broadcastRowCap(bSel.schema))
              broadcast(bSel)
            else bSel
          ParquetRead.read(spark, paths: _*)
            .join(probeSide, Seq("band", "sig"))
            .select("band", "sig", "d")
        }
      // tombstoned docs drop out of the candidates (and the bucket
      // widths) here — before anything downstream, so a deleted doc
      // can never anchor a verdict; the anti-join is bounded by the
      // MATCHED rows, never the corpus (see delete())
      val matched = IndexManifests.readFrame(spark, dir, entries, "tombstones")
        .fold(matched0)(t =>
          matched0.join(t.select("d"), Seq("d"), "left_anti"))
      // union of matched corpus postings + batch rows: every bucket a
      // batch row touches carries its TRUE total width (corpus-only
      // buckets are absent — they'd only yield corpus x corpus pairs,
      // which the global operator discards too). PINNED: the frame
      // feeds the bucket window plus both flag joins, and its matched
      // leg is a parquet read + join that would otherwise re-run per
      // consumer (the global twin reads its equivalent from one cache
      // — unpinned, the index form measured SLOWER than recompute at
      // 200k docs purely on re-evaluated subtrees)
      val unionBands = matched.withColumn("__new", lit(false))
        .unionByName(batchBands.select("band", "sig", "d")
          .withColumn("__new", lit(true)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val flags = unionBands.select(col("d"), col("__new"))
        .groupBy("d").agg(max("__new").as("__new"))
      // batch-driven candidate join (r17): only new-involving pairs are
      // generated — the global lshCandidates built every corpus×corpus
      // pair inside a matched bucket and then dropped it at the flags
      // filter; identical pair set, per-bucket fan-out width² →
      // newWidth·width (see Dedup.lshCandidatesNewInvolving)
      val cand = Dedup.lshCandidatesNewInvolving(
          unionBands.select(col("d"), col("band"), col("sig"),
            col("__new")), "d", "__new", maxBucket)
        .join(flags.select(col("d").as("id_a"), col("__new").as("new_a")),
          "id_a")
        .join(flags.select(col("d").as("id_b"), col("__new").as("new_b")),
          "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // corpus shingle sets: only candidate ids' files are opened
        val corpusIds = cand.filter(!col("new_a"))
          .select(col("id_a").as("d"))
          .unionByName(cand.filter(!col("new_b"))
            .select(col("id_b").as("d")))
          .distinct()
        val idType = batch.schema(idCol).dataType
        val parseId: String => Option[Any] = idType match {
          case LongType => parseLong
          case org.apache.spark.sql.types.IntegerType =>
            s => s.toIntOption.map(java.lang.Integer.valueOf(_): Any)
          case _ => s => Some(s: Any)
        }
        val (setPaths, _) = IndexManifests.selectRangedFiles(spark,
          dir, entries, ranges, "sets", idType, parseId, corpusIds, "d")
        // candidate ids are batch-bounded, so ship them back as a
        // STATIC `d IN (…)` predicate: against the d-clustered sets
        // layout parquet skips whole row groups of non-candidate docs
        // (the Bm25Index term-list discipline — a semi-join alone
        // restricts rows but reads every shingle array first; measured
        // at 200k corpus / 6k candidates: the fetch scanned the whole
        // sets frame). The ≤20k guard keeps a runaway candidate set
        // from building a million-literal filter; past it the
        // semi-join still bounds the rows.
        val candIdSeq = corpusIds.limit(20001).collect()
          .map(_.get(0)).toSeq
        val corpusSets =
          if (setPaths.isEmpty) batchSets.limit(0)
          else if (candIdSeq.isEmpty)
            batchSets.limit(0)
          else if (candIdSeq.size <= 20000)
            ParquetRead.read(spark, setPaths: _*)
              .filter(col("d").isin(candIdSeq: _*))
          else ParquetRead.read(spark, setPaths: _*)
            .join(corpusIds, Seq("d"), "left_semi")
        // PINNED: both verify sides join this frame, and its corpus
        // leg is a pruned parquet read + semi-join — candidate-bounded
        // rows, so the cache is small by construction
        val allSets = batchSets.unionByName(corpusSets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        val verified = cand
          .join(allSets.select(col("d").as("id_a"),
            col("shingles").as("sh_a")), "id_a")
          .join(allSets.select(col("d").as("id_b"),
            col("shingles").as("sh_b")), "id_b")
          .withColumn("inter",
            size(array_intersect(col("sh_a"), col("sh_b"))))
          .withColumn("uni",
            size(col("sh_a")) + size(col("sh_b")) - col("inter"))
          .filter(col("inter").cast("double") / col("uni") >= threshold)
        // orient each pair at its NEW doc (the nearDupIncremental tail)
        val rel = verified.select(
          when(col("new_b"), col("id_b")).otherwise(col("id_a")).as("nid"),
          when(col("new_b"), col("id_a")).otherwise(col("id_b")).as("other"))
        val dups = rel.groupBy("nid").agg(min(col("other")).as("dup_of"))
        batch.select(col(idCol))
          .join(dups, col(idCol) === col("nid"), "left")
          .select(col(idCol), col("nid").isNotNull.as("is_dup"),
            col("dup_of"))
          .transform(Dedup.materialize)
        } finally allSets.unpersist(blocking = false): Unit
      } finally {
        cand.unpersist(blocking = false)
        unionBands.unpersist(blocking = false): Unit
      }
    } finally {
      buckets.unpersist(blocking = false)
      batchBands.unpersist(blocking = false)
      batchSets.unpersist(blocking = false): Unit
    }
  }
}
