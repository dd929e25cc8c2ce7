package graft

import org.apache.spark.sql.functions._

import graft.extra.{AnnIndex, Similarity}

/** Persisted IVF-PQ index: write → read → search must be bit-identical
  * to searching the in-memory build, and the persisted layout must
  * actually prune — a search reads the probed posting-list partitions,
  * not the corpus.
  */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_annidx_")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def searchRows(idx: Similarity.IvfPqIndex) =
    Similarity.searchIvfPq(idx, col("id") < 5, k = 5, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
      .toSeq

  test("query-by-vector search (searchVectors): a corpus member's own " +
      "embedding ranks itself first at cosine 1.0, and the rest of " +
      "the list equals the member-query form modulo self-exclusion") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(emb, "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    val qv = emb.filter(col("vec_id") === 3).head()
      .getSeq[Float](1).map(_.toDouble).toArray
    val byVec = AnnIndex.searchVectors(spark, dir, Seq((42L, qv)),
        k = 6, nprobe = 2)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(byVec.head._1 == 42L, "caller-supplied query id flows through")
    assert(byVec.head._3 == 3L && byVec.head._4 == 1.0,
      "the vector's own row must rank first at cosine 1.0")
    // tail == the member-query top-5 (which excludes self)
    val member = Similarity.searchIvfPq(
        AnnIndex.readIvfPq(spark, dir), col("id") === 3, k = 5,
        nprobe = 2)
      .orderBy("rank").collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(byVec.tail.map(t => (t._3, t._4)).toSeq == member.toSeq)
    // dim mismatch fails fast
    intercept[IllegalArgumentException] {
      AnnIndex.searchVectors(spark, dir,
        Seq((0L, Array(1.0, 2.0))), k = 3)
    }
  }

  test("persisted search is bit-identical to in-memory search") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val mem = Similarity.buildIvfPq(emb, "vec_id", "embedding",
      numCentroids = 8, m = 8, pqCentroids = 8).get
    val dir = tmpDir()
    AnnIndex.writeIvfPq(mem, dir)
    val disk = AnnIndex.readIvfPq(spark, dir)
    // codebooks + geometry round-trip exactly
    assert(disk.m == mem.m && disk.sub == mem.sub)
    assert(disk.coarse.map(c => (c.cid, c.v.toSeq, c.nrm)) ==
      mem.coarse.map(c => (c.cid, c.v.toSeq, c.nrm)))
    assert(disk.pq.map(c => (c.cid, c.v.toSeq, c.nrm)) ==
      mem.pq.map(c => (c.cid, c.v.toSeq, c.nrm)))
    val a = searchRows(mem)
    val b = searchRows(disk)
    assert(a.nonEmpty && a == b)
  }

  test("a persisted search prunes to the probed posting-list " +
      "partitions at planning time") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    val disk = AnnIndex.buildAndWriteIvfPq(emb, "vec_id", "embedding",
      dir, numCentroids = 8, m = 8, pqCentroids = 8).get
    val out = Similarity.searchIvfPq(disk, col("id") < 5, k = 5,
      nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the static list_id IN (…) filter must reach the partitioned scan
    // as a PartitionFilter (planning-time pruning, not a post-scan
    // Filter node)
    val pf = plan.split("PartitionFilters: \\[").toSeq
    assert(pf.size > 1, s"no PartitionFilters in plan:\n${plan.take(3000)}")
    assert(pf.exists(s => s.takeWhile(_ != ']').contains("list_id")),
      s"list_id not in PartitionFilters:\n${plan.take(3000)}")
    assert(out.count() > 0)
  }

  test("appendIvfPq: incremental ingest ≡ full build with the same " +
      "frozen codebooks, bit-for-bit") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val first = emb.filter(col("vec_id") < 400)
    val rest = emb.filter(col("vec_id") >= 400)
    // build + persist over the FIRST batch only, then append the rest
    val dir = tmpDir()
    val initial = Similarity.buildIvfPq(first, "vec_id", "embedding",
      numCentroids = 8, m = 8, pqCentroids = 8).get
    AnnIndex.writeIvfPq(initial, dir)
    AnnIndex.appendIvfPq(spark, dir, rest, "vec_id", "embedding")
    val appended = AnnIndex.readIvfPq(spark, dir)
    assert(appended.coded.count() == emb.count())
    // reference: one-shot build over EVERYTHING with the first batch's
    // codebooks (frozen-quantizer semantics)
    val full = Similarity.buildIvfPq(emb, "vec_id", "embedding",
      numCentroids = 8, m = 8, pqCentroids = 8,
      coarseCodebook = Some(initial.coarse),
      pqCodebook = Some(initial.pq)).get
    assert(searchRows(appended) == searchRows(full))
    // new-batch vectors are actually searchable
    val hits = Similarity.searchIvfPq(appended, col("id") >= 495,
      k = 3, nprobe = 4).collect()
    assert(hits.nonEmpty)
  }

  test("appendIvfPq rejects a batch whose embedding dim mismatches " +
      "the index geometry") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(emb, "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    val wrongDim = Seq((9000L, Array.fill(16)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendIvfPq(spark, dir, wrongDim, "vec_id", "embedding")
    }
    assert(e.getMessage.contains("does not match index dim"))
  }

  test("buildAndWriteIvfPq composes with a trained PQ codebook") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val trained = Similarity.kmeansPqCodebook(emb, "vec_id", "embedding",
      m = 8, numCentroids = 8, iters = 2)
    val dir = tmpDir()
    val disk = AnnIndex.buildAndWriteIvfPq(emb, "vec_id", "embedding",
      dir, numCentroids = 8, m = 8, pqCentroids = 8,
      pqCodebook = Some(trained)).get
    // the trained codebook survives the round trip
    assert(disk.pq.map(_.v.toSeq) == trained.map(_.v.toSeq))
    assert(searchRows(disk).nonEmpty)
  }

  test("delete: tombstoned ids never surface, search ≡ an index whose " +
      "coded rows were filtered directly, and compact purges physically") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val mem = Similarity.buildIvfPq(emb, "vec_id", "embedding",
      numCentroids = 8, m = 8, pqCentroids = 8).get
    val dir = tmpDir()
    AnnIndex.writeIvfPq(mem, dir)
    // victims: two ids the pre-delete search actually returns
    val victims = searchRows(AnnIndex.readIvfPq(spark, dir))
      .map(_._3).distinct.take(2)
    AnnIndex.delete(spark, dir, victims.toDF("vec_id"), "vec_id")

    val disk = searchRows(AnnIndex.readIvfPq(spark, dir))
    assert(!disk.map(_._3).toSet.exists(victims.contains))
    // no derived stats in the dense arm: post-delete search must be
    // BIT-identical to searching the same codes minus those rows
    val filtered = mem.copy(coded =
      mem.coded.filter(!col("id").isin(victims: _*)))
    assert(disk == searchRows(filtered) && disk.nonEmpty)

    // compact: physical purge, tombstones gone, results unchanged
    val nBefore = AnnIndex.committedCodes(spark, dir).count()
    AnnIndex.compact(spark, dir)
    assert(AnnIndex.committedCodes(spark, dir).count() == nBefore - 2)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == disk)
  }

  test("reader pinned mid-compact serves the old index version when " +
      "compaction retains it; vacuum reclaims the window later " +
      "(r13 verdict #4)") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)                   // v1
    AnnIndex.appendIvfPq(spark, dir,
      emb.filter(col("vec_id") >= 400), "vec_id", "embedding")    // v2
    val pinned = AnnIndex.readIvfPq(spark, dir) // resolves v2
    val before = searchRows(pinned)
    assert(before.nonEmpty)
    AnnIndex.compact(spark, dir, retainVersions = 2)              // v3
    // the reader that resolved its manifest BEFORE the compaction
    // still executes against the retained pre-compact segments
    assert(searchRows(pinned) == before)
    // the post-compact head agrees (bit-identical compact contract),
    // and the pre-compact version stays explicitly readable
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == before)
    assert(searchRows(AnnIndex.readIvfPqAt(spark, dir, 2L)) == before)
    // vacuum to the head reclaims the window: the head still serves,
    // the vacuumed version can no longer be restored
    graft.extra.IndexManifests.vacuum(spark, dir,
      Seq("codes", "tombstones"))
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == before)
    intercept[IllegalStateException] {
      AnnIndex.restore(spark, dir, 2L)
    }
  }

  test("delete -> restore round-trips: the rollback head serves the " +
      "pre-delete results, the deleted state still time-travels, and " +
      "rollback-of-rollback re-applies the delete (r13 verdict #4)") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(emb, "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)                   // v1
    val orig = searchRows(AnnIndex.readIvfPq(spark, dir))
    val victims = orig.map(_._3).distinct.take(2)
    AnnIndex.delete(spark, dir, victims.toDF("vec_id"), "vec_id") // v2
    val deleted = searchRows(AnnIndex.readIvfPq(spark, dir))
    assert(!deleted.map(_._3).toSet.exists(victims.contains))
    val v = AnnIndex.restore(spark, dir, 1L)                      // v3
    assert(v == 3L)
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == orig)
    // append-only rollback: the deleted-state version still resolves
    assert(searchRows(AnnIndex.readIvfPqAt(spark, dir, 2L)) == deleted)
    // rollback of the rollback re-applies the delete
    AnnIndex.restore(spark, dir, 2L)                              // v4
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == deleted)
  }

  test("delete commits nothing when no id is new: re-deleting the same " +
      "ids, or deleting none, leaves the head version and the " +
      "tombstones/ files unchanged") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(emb, "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    def head() = graft.extra.IndexManifests.latest(spark, dir).get._1
    def tombFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/tombstones")).map(_.getPath).toSet
    }
    val victims = Seq(3L, 7L).toDF("vec_id")
    AnnIndex.delete(spark, dir, victims, "vec_id")
    val (v, files) = (head(), tombFiles())
    assert(files.exists(_.endsWith(".parquet")))
    AnnIndex.delete(spark, dir, victims, "vec_id")
    assert(head() == v && tombFiles() == files)
    AnnIndex.delete(spark, dir, Seq.empty[Long].toDF("vec_id"), "vec_id")
    assert(head() == v && tombFiles() == files)
  }

  private def codeFileCount(dir: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$dir/codes"))
      .count(f => f.getName.endsWith(".parquet"))
  }

  test("compact with NO tombstones folds per-batch append files into " +
      "one file per posting list; search bit-identical; idempotent") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(
      emb.filter(col("vec_id") < 200), "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    // stream-style ingest: several singleFileBatch appends, each
    // leaving one small file per touched list
    val cb = AnnIndex.readCodebooks(spark, dir)
    (0 until 3).foreach { b =>
      AnnIndex.appendIvfPq(spark, dir,
        emb.filter(col("vec_id") >= 200 + b * 100 &&
          col("vec_id") < 300 + b * 100),
        "vec_id", "embedding", codebooks = Some(cb),
        singleFileBatch = true)
    }
    val before = searchRows(AnnIndex.readIvfPq(spark, dir))
    val filesBefore = codeFileCount(dir)
    val lists = AnnIndex.committedCodes(spark, dir)
      .select("list_id").distinct().count().toInt
    assert(filesBefore > lists,
      s"appends should accrete files: $filesBefore files / $lists lists")
    AnnIndex.compact(spark, dir)
    val filesAfter = codeFileCount(dir)
    assert(filesAfter <= lists,
      s"compact should leave <= one file per list: $filesAfter / $lists")
    assert(filesAfter < filesBefore)
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == before)
    // idempotent: a second compact changes nothing observable
    AnnIndex.compact(spark, dir)
    assert(codeFileCount(dir) <= lists)
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == before)
  }

  test("auto-compaction at append (r14 verdict #5): a many-batch " +
      "ingest holds the codes segment count bounded and search equals " +
      "the manual-compact path") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(
      emb.filter(col("vec_id") < 200), "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    val cb = AnnIndex.readCodebooks(spark, dir)
    def segCount() = graft.extra.IndexManifests.latest(spark, dir)
      .get._2.getOrElse("codes", Nil).size
    (0 until 8).foreach { b =>
      AnnIndex.appendIvfPq(spark, dir,
        emb.filter(col("vec_id") >= 200 + b * 50 &&
          col("vec_id") < 250 + b * 50),
        "vec_id", "embedding", codebooks = Some(cb),
        singleFileBatch = true, txn = Some(("auto", b.toLong)),
        autoCompactFanout = 3)
      // tiered bound: < fanout segments per size tier, ~log tiers
      assert(segCount() <= 7,
        s"codes segments ${segCount()} unbounded at batch $b")
    }
    // equals one build+appends+manual compact over the same rows
    val ref = tmpDir()
    AnnIndex.buildAndWriteIvfPq(
      emb.filter(col("vec_id") < 200), "vec_id", "embedding", ref,
      numCentroids = 8, m = 8, pqCentroids = 8)
    AnnIndex.appendIvfPq(spark, ref,
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 600),
      "vec_id", "embedding",
      codebooks = Some(AnnIndex.readCodebooks(spark, ref)))
    AnnIndex.compact(spark, ref)
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) ==
      searchRows(AnnIndex.readIvfPq(spark, ref)))
    // the ledger survived the folds: the last batch replays to a no-op
    val v = graft.extra.IndexManifests.latest(spark, dir).get._1
    AnnIndex.appendIvfPq(spark, dir,
      emb.filter(col("vec_id") >= 550 && col("vec_id") < 600),
      "vec_id", "embedding", codebooks = Some(cb),
      txn = Some(("auto", 7L)), autoCompactFanout = 3)
    assert(graft.extra.IndexManifests.latest(spark, dir).get._1 == v)
  }

  test("snapshot isolation: an uncommitted codes segment is invisible " +
      "to searches; a committed append surfaces atomically; compact " +
      "sweeps the orphan") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val dir = tmpDir()
    AnnIndex.buildAndWriteIvfPq(
      emb.filter(col("vec_id") < 300), "vec_id", "embedding", dir,
      numCentroids = 8, m = 8, pqCentroids = 8)
    val committed = searchRows(AnnIndex.readIvfPq(spark, dir))
    val nCommitted = AnnIndex.committedCodes(spark, dir).count()

    // simulate the torn middle of a crashed append: a fully-written
    // codes segment on disk with NO manifest commit — the state the
    // old flat layout consumed as half-applied data
    val cb = AnnIndex.readCodebooks(spark, dir)
    Similarity.encodeIvfPq(
        emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
        "vec_id", "embedding", cb.coarse, cb.pq, cb.m, cb.sub,
        cb.residual)
      .repartition(1).write.partitionBy("list_id")
      .parquet(s"$dir/codes/seg-torn")

    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == committed,
      "uncommitted segment must be invisible")
    assert(AnnIndex.committedCodes(spark, dir).count() == nCommitted)

    // a real append commits; ≡ building over the union with the same
    // frozen codebooks
    AnnIndex.appendIvfPq(spark, dir,
      emb.filter(col("vec_id") >= 300 && col("vec_id") < 400),
      "vec_id", "embedding")
    val after = searchRows(AnnIndex.readIvfPq(spark, dir))
    val ref = Similarity.buildIvfPq(emb.filter(col("vec_id") < 400),
      "vec_id", "embedding", numCentroids = 8, m = 8, pqCentroids = 8,
      coarseCodebook = Some(cb.coarse), pqCodebook = Some(cb.pq)).get
    assert(after == searchRows(ref))

    // compact physically removes the orphaned torn segment
    AnnIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/codes/seg-torn").exists())
    assert(searchRows(AnnIndex.readIvfPq(spark, dir)) == after)
  }

  test("appendIvfPq on a legacy (pre-manifest) flat layout migrates it " +
      "to a committed segment first — never nests a segment inside the " +
      "live flat codes/ dir") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    val first = emb.filter(col("vec_id") < 400)
    val rest = emb.filter(col("vec_id") >= 400)
    val dir = tmpDir()
    val initial = Similarity.buildIvfPq(first, "vec_id", "embedding",
      numCentroids = 8, m = 8, pqCentroids = 8).get
    AnnIndex.writeIvfPq(initial, dir)
    // reconstruct the pre-manifest layout: flatten codes/seg-1/* up
    // into codes/ and drop the manifests — exactly what an index
    // written before segments existed looks like on disk
    val codes = new java.io.File(s"$dir/codes")
    val seg1 = new java.io.File(codes, "seg-000000001")
    seg1.listFiles().foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(codes, f.getName).toPath)
    }
    assert(seg1.delete())
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(): Unit
    }
    rmrf(new java.io.File(s"$dir/_manifests"))
    // sanity: the legacy layout reads (adoption path)
    assert(AnnIndex.readIvfPq(spark, dir).coded.count() == first.count())

    // the append must migrate, not nest codes/seg-N inside codes/
    AnnIndex.appendIvfPq(spark, dir, rest, "vec_id", "embedding")
    assert(codes.listFiles().filter(_.isDirectory)
      .forall(_.getName.startsWith("seg-")),
      "flat list_id= dirs must be gone after the migrating append")
    val appended = AnnIndex.readIvfPq(spark, dir)
    assert(appended.coded.count() == emb.count())
    // and the result is the frozen-codebook union, bit-for-bit
    val full = Similarity.buildIvfPq(emb, "vec_id", "embedding",
      numCentroids = 8, m = 8, pqCentroids = 8,
      coarseCodebook = Some(initial.coarse),
      pqCodebook = Some(initial.pq)).get
    assert(searchRows(appended) == searchRows(full))
  }
}
