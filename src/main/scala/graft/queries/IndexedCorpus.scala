package graft.queries

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.ParquetRead

/** Build-if-absent persisted indexes for the registered serving
  * queries — the amortized production semantics made literal: an index
  * is built ONCE per distinct corpus CONTENT and every later query
  * call pays only the serving reads (so the bench's median-of-N
  * measures steady-state serving cost, while the first call — e.g. the
  * Verify run — pays the build).
  *
  * Cache keying is a content fingerprint, not a path: the order-
  * independent `bit_xor` of per-row `xxhash64` values. A regenerated
  * test table with identical content maps to the same index; ANY
  * content change (row added, text edited) changes the fingerprint and
  * forces a fresh build — a stale index can only be served for an
  * xxhash64-xor collision. The fingerprint scan is one cheap pass over
  * the key+payload columns, orders of magnitude below the build it
  * skips. Completion is detected by the layout's `meta/_SUCCESS` —
  * meta is the LAST frame both builders write, so a crashed partial
  * build is rebuilt (Overwrite) on the next call.
  *
  * SCALE NOTE: hashing the content is the TEST-RIG binding — these
  * registered queries receive only a bare parquet directory, so
  * content is the only identity available. At 100 TB nobody re-scans
  * the corpus to decide whether an index is fresh: a catalog-managed
  * table carries a snapshot/version id (Delta/Iceberg snapshot, Hive
  * transaction id) and THAT keys the index dir — same build-if-absent
  * logic, O(1) identity check. Only the `fingerprint` implementation
  * changes; everything downstream is identical.
  */
object IndexedCorpus {

  /** Order-independent content fingerprint of `cols`: bit_xor of the
    * row hashes XOR the low 64 bits of their wrapped SUM. The xor arm
    * alone cancels pairwise — a corpus differing by an EVEN number of
    * copies of the same row (generator dedup bugs produce exactly
    * this) would collide and serve a stale index; the sum arm is
    * multiplicity-sensitive, so duplicate-count changes shift the
    * fingerprint. Both arms are commutative → partitioning-independent.
    */
  def fingerprint(df: DataFrame, cols: Column*): Long = {
    def compute(): Long = {
      val r = df.select(xxhash64(cols: _*).as("h"))
        .agg(coalesce(expr("bit_xor(h)"), lit(0L)).as("x"),
          coalesce(sum(col("h")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0))),
            lit(java.math.BigDecimal.ZERO)).as("s"))
        .head()
      r.getLong(0) ^ r.getDecimal(1).toBigInteger.longValue()
    }
    // r16: memoize the scan per (canonicalized plan, source-file FS
    // signature) — every indexed-query call previously paid a full
    // corpus pass just to learn the fingerprint it already computed.
    // The key is the cachedSideFile discipline (IndexManifests): the
    // canonical ANALYZED plan pins the logical content definition
    // (filters, column picks) and the sorted (path, size, mtime ns,
    // fileKey) listing pins the bytes under it — touch a file and the key
    // misses, so the rescue path is exactly the old behavior. Frames
    // without local file sources (in-memory test frames, non-file
    // URIs) skip the memo and always rescan.
    memoKeyOf(df, cols) match {
      case Some(k) => fpMemo.computeIfAbsent(k, _ => compute())
      case None => compute()
    }
  }

  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def memoKeyOf(df: DataFrame, cols: Seq[Column]): Option[String] = {
    // ADVICE r16: only memoize when EVERY leaf of the analyzed plan is
    // a file-source relation — `inputFiles.nonEmpty` alone admits mixed
    // plans (fileDf.join(localDf)) whose in-memory subtree the file
    // stats below cannot see, so two such frames differing only there
    // would share a key and serve a stale fingerprint. Anything else
    // (LocalRelation, V2 sources, views over non-file relations) skips
    // the memo and rescans — the always-correct path.
    val allFileLeaves = df.queryExecution.analyzed.collectLeaves().forall {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case _ => false
    }
    if (!allFileLeaves) return None
    val files = df.inputFiles
    if (files.isEmpty) return None
    val local = files.sorted.toSeq.map { f =>
      val uri = try new java.net.URI(f) catch { case _: Exception => return None }
      if (uri.getScheme != null && uri.getScheme != "file") return None
      java.nio.file.Paths.get(uri.getPath)
    }
    // the listing that also keys the parquet schema memo
    val stats = ParquetRead.listing(local).getOrElse(return None)
    // ADVICE r16: key on the canonicalized plan's JSON, not toString —
    // toString truncates field lists at spark.sql.debug.maxToStringFields
    // and omits LocalRelation rows, so it is lossy; toJSON serializes
    // the full tree (and the all-file-leaves gate above already
    // excludes plans whose identity lives outside the tree).
    val plan = try df.select(cols: _*)
      .queryExecution.analyzed.canonicalized.toJSON
    catch { case _: Exception => return None }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(plan.getBytes("UTF-8"))
    md.update(stats.getBytes("UTF-8"))
    Some(md.digest().map(b => f"$b%02x").mkString)
  }

  private def complete(dir: File) = new File(dir, "meta/_SUCCESS").exists()

  /** Per-algorithm cache VERSION tokens — the hermeticity half of the
    * cache key. The content fingerprint says "same input"; the version
    * token says "same building CODE". Bump the constant whenever the
    * code that populates the cached artifact changes, and the old dir
    * is structurally unreachable (the token is part of the path), so a
    * mid-round code change can never serve stale bytes to the driver's
    * correctness gate. This systematizes the one-off `qbm25v2` /
    * `qsnap_s2` prefix bumps that ad-hoc'd the same need.
    */
  object Ver {
    val snap = 3 // v3 = hermetic-path migration (subsumes the s2 bump)
    val snapRestore = 1
    val zsnap = 2
    val cdcview = 2 // r13: DOUBLE serving-cast convention landed
    val incr = 2
    val bm25 = 4 // r15: per-file #range= term stats in the manifest
    val ann = 2
    val pqcb = 2
    val substr = 2 // r15: range-clustered segments + #range= stats
    val minhash = 1
    val semantic = 1
    val nb = 1
    val bpe = 1
    val kn = 1
  }

  /** Generic content-keyed build-if-absent artifact dir: `build`
    * populates `d`, then an empty `_GRAFT_COMPLETE` marker commits it.
    * An existing dir WITHOUT the marker is a crashed build — wiped and
    * rebuilt (the marker-commit discipline that makes a non-idempotent
    * build, e.g. [[graft.extra.IncrementalAgg.refresh]]'s combine,
    * safe to retry). `ver` is the building code's [[Ver]] token,
    * folded into the path so the cache is hermetic across code
    * changes, not just data changes.
    */
  def cachedDir(prefix: String, ver: Int, fp: Long)(
      build: File => Unit): String =
    synchronized {
      val d = new File(sys.props("java.io.tmpdir"),
        f"${prefix}_v${ver}_$fp%016x")
      val marker = new File(d, "_GRAFT_COMPLETE")
      if (!marker.exists()) {
        if (d.exists()) {
          import java.nio.file.{Files, Path}
          import scala.jdk.CollectionConverters._
          Files.walk(d.toPath).iterator().asScala.toSeq.reverse
            .foreach((p: Path) => Files.delete(p))
        }
        build(d)
        marker.createNewFile()
      }
      d.toString
    }

  /** BM25 index dir for this documents frame (build if absent). The
    * marker-committed [[cachedDir]] discipline (not the ANN path's
    * `meta/_SUCCESS` probe): the segmented BM25 layout has its own
    * manifest commit inside, and the v2 prefix keeps pre-segmentation
    * cache dirs from being mistaken for complete indexes.
    */
  def bm25Dir(docs: DataFrame, idCol: String, textCol: String): String = {
    val fp = fingerprint(docs, col(idCol), col(textCol))
    cachedDir("graft_qbm25", Ver.bm25, fp)(d =>
      graft.extra.Bm25Index.build(docs, idCol, textCol, d.toString))
  }

  /** Persisted Naive Bayes model dir for this labeled corpus (train +
    * [[graft.extra.Classifier.save]] if absent) — the trained-filter
    * serving artifact: later calls pay only the model load + the
    * typed-projection scan, the production train-once/serve-everywhere
    * split.
    */
  def nbModelDir(docs: DataFrame, labelCol: String,
      textCol: String): String = {
    val fp = fingerprint(docs, col(labelCol), col(textCol))
    cachedDir("graft_qnb", Ver.nb, fp)(d =>
      graft.extra.Classifier.save(
        graft.extra.Classifier.trainNaiveBayes(docs, labelCol, textCol),
        d.toString))
  }

  /** Persisted KN trigram-LM dir for this training corpus (fit +
    * [[graft.extra.KnLm.save]] if absent) — the LM-registry serving
    * artifact: later calls pay only the model load (memoized per
    * head) + the scoring joins.
    */
  def knModelDir(docs: DataFrame, textCol: String): String = {
    val fp = fingerprint(docs, col(textCol))
    cachedDir("graft_qkn", Ver.kn, fp)(d =>
      graft.extra.KnLm.save(
        graft.extra.KnLm.fit(docs, textCol), d.toString))
  }

  /** Persisted BPE tokenizer dir for this merge list (commit if
    * absent) — the tokenizer-registry serving artifact
    * ([[graft.extra.BpeModel]]). Keyed on the LIST itself, not a
    * corpus: a tokenizer's identity IS its ordered merges (the same
    * list must map to the same committed model no matter which corpus
    * it is later applied to). Stable across JVMs via FNV-1a over the
    * delimited rules.
    */
  def bpeDir(spark: SparkSession,
      merges: Seq[(String, String)]): String = {
    val joined = merges.map { case (a, b) => "" + a + "\u0001" + b }
      .mkString("\u0002")
    var h = 0xcbf29ce484222325L
    joined.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    cachedDir("graft_qbpe", Ver.bpe, h)(d =>
      graft.extra.BpeModel.save(spark, merges, d.toString))
  }

  /** Duplicated-gram posting index dir for this corpus frame (build
    * if absent) — the incremental-ExactSubstr serving artifact
    * ([[graft.extra.SubstrIndex]]); string gram keys so the DuckDB
    * oracle can replay the grouping (hashed=true is the spec-pinned
    * production form).
    */
  def substrDir(corpus: DataFrame, idCol: String,
      textCol: String): String = {
    val fp = fingerprint(corpus, col(idCol), col(textCol))
    cachedDir("graft_qsubstr", Ver.substr, fp)(d =>
      graft.extra.SubstrIndex.build(corpus, idCol, textCol,
        d.toString, k = 5))
  }

  /** MinHash band-posting index dir for this corpus frame (build if
    * absent) — the incremental near-dup serving artifact
    * ([[graft.extra.MinhashIndex]]), default 16/4/3 geometry matching
    * the registered minhash queries.
    */
  def minhashDir(corpus: DataFrame, idCol: String,
      textCol: String): String = {
    val fp = fingerprint(corpus, col(idCol), col(textCol))
    cachedDir("graft_qminh", Ver.minhash, fp)(d =>
      graft.extra.MinhashIndex.build(corpus, idCol, textCol,
        d.toString))
  }

  /** Semantic-dedup (IVF-flat) index dir for this embeddings frame
    * (build if absent; deterministic sample codebook) — the online
    * SemDeDup serving artifact ([[graft.extra.SemanticIndex]]).
    */
  def semanticDir(emb: DataFrame, idCol: String, vecCol: String): String = {
    val fp = fingerprint(emb, col(idCol), to_json(col(vecCol)))
    cachedDir("graft_qsem", Ver.semantic, fp)(d =>
      graft.extra.SemanticIndex.build(emb, idCol, vecCol, d.toString))
  }

  /** IVF-PQ index dir for this embeddings frame (build if absent;
    * deterministic sample codebooks, the registered queries' config).
    */
  def annDir(emb: DataFrame, idCol: String, vecCol: String): String =
    synchronized {
      val fp = fingerprint(emb, col(idCol), to_json(col(vecCol)))
      val d = new File(sys.props("java.io.tmpdir"),
        f"graft_qann_v${Ver.ann}_$fp%016x")
      if (!complete(d))
        graft.extra.AnnIndex.buildAndWriteIvfPq(emb, idCol, vecCol,
          d.toString)
      d.toString
    }

  /** Convenience: read-back of the build-if-absent ANN index. */
  def annIndex(spark: SparkSession, emb: DataFrame, idCol: String,
      vecCol: String): graft.extra.Similarity.IvfPqIndex =
    graft.extra.AnnIndex.readIvfPq(spark, annDir(emb, idCol, vecCol))

  /** Content-keyed TRAINED PQ codebook — train-once semantics for the
    * Lloyd build (production practice versions the quantizer with the
    * data it was trained on): the per-subspace k-means runs once per
    * distinct (embeddings content, geometry) and persists as a tiny
    * (pos, cid, v, nrm) parquet; later calls read it back in POSITION
    * order (PQ codes index centroids by position — the same invariant
    * [[graft.extra.AnnIndex.writeIvfPq]] persists for its codebooks).
    */
  def trainedPqCodebook(emb: DataFrame, idCol: String, vecCol: String,
      m: Int, numCentroids: Int, iters: Int)
      : Seq[graft.extra.Similarity.Centroid] = synchronized {
    val spark = emb.sparkSession
    import spark.implicits._
    val fp = fingerprint(emb, col(idCol), to_json(col(vecCol)))
    val d = new File(sys.props("java.io.tmpdir"),
      f"graft_qpqcb_v${Ver.pqcb}_$fp%016x_${m}_${numCentroids}_$iters")
    if (!new File(d, "_SUCCESS").exists()) {
      val cb = graft.extra.Similarity.kmeansPqCodebook(emb, idCol,
        vecCol, m, numCentroids, iters)
      cb.zipWithIndex.map { case (c, i) => (i, c.cid, c.v, c.nrm) }
        .toDF("pos", "cid", "v", "nrm")
        .coalesce(1).write.mode("overwrite").parquet(d.toString)
    }
    ParquetRead.read(spark, d.toString).select("pos", "cid", "v", "nrm")
      .collect()
      .map(r => (r.getInt(0), graft.extra.Similarity.Centroid(
        r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3))))
      .sortBy(_._1).map(_._2).toSeq
  }
}
