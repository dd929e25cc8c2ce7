package graft.extra

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType,
  LongType, MapType, StringType, StructType, TimestampNTZType,
  TimestampType}

import graft.util.ParquetRead

/** Snapshot-versioned table: the manifest-commit layer every
  * [[Merge]]/[[ViewStream]] scaladoc defers to "at 100 TB". A table is
  * a DIRECTORY OF IMMUTABLE DATA FILES plus a chain of manifest files,
  * each listing exactly the data files that make up one version:
  *
  *   <dir>/data/part-*.parquet      — written once, never mutated
  *   <dir>/_manifests/v<N>         — `#schema=<json>` + `#ts=` headers,
  *                                    then EITHER the flat body
  *                                    (`#range=` per-file key stats +
  *                                    one relative file name per line)
  *                                    OR, above `filesPerManifest`
  *                                    files, a MANIFEST TREE: `#mchunk=`
  *                                    refs to immutable chunk files
  *   <dir>/_manifests/c-<uuid>     — one tree chunk: ≤ filesPerManifest
  *                                    per-file entries in the flat body
  *                                    grammar, key-range-packed
  *
  * The TREE (Iceberg's manifest-list → manifest structure) is what
  * holds at 10⁶ files: the version file carries per-chunk AGGREGATE
  * key/column ranges, so planning reads the version file plus only
  * the chunks overlapping the predicate — O(touched manifests), never
  * O(table files) — and a commit carries untouched chunks BY NAME,
  * rewriting only the chunks its keys hit plus one packed chunk of
  * new files. `#ts=` commit stamps (monotonic per table) give
  * `TIMESTAMP AS OF` resolution ([[versionAsOf]], [[readAsOfTime]],
  * and the `graft_snapshot(dir, TIMESTAMP '…')` TVF).
  *
  * Commit = atomically creating the NEXT manifest (create-fails-if-
  * exists), which buys, with no coordination service:
  *
  *   - READER ISOLATION: a reader resolves one manifest and reads
  *     exactly its files; a concurrent upsert writes NEW files and a
  *     NEW manifest, never touching what the reader holds — the race
  *     [[Merge]]'s in-place file swap documents is gone;
  *   - TIME TRAVEL: any retained version re-reads exactly (audits,
  *     reproducible training runs, incremental diffing);
  *   - OPTIMISTIC CONCURRENCY: two writers racing the same parent
  *     version both compute, but only the first manifest create wins;
  *     the loser gets a [[java.util.ConcurrentModificationException]]
  *     and retries on the new current (the Iceberg/Delta commit
  *     protocol, with the filesystem as the arbiter);
  *   - O(1) identity: the (dir, version) pair is the stable snapshot
  *     id [[graft.queries.IndexedCorpus]]'s scale note wants for
  *     index cache keying.
  *
  * Upsert/delete reuse [[Merge]]'s footer-range pruning — only files
  * whose key range intersects the batch are REPLACED in the child
  * manifest; cold files are SHARED BY REFERENCE across versions (the
  * structural sharing that keeps version history O(changed files), not
  * O(table)). [[vacuum]] is the GC: drop manifests below a floor, then
  * delete data files no retained manifest references.
  */
object Snapshots {

  final case class Commit(version: Long, files: Seq[String],
      filesReplaced: Int, rowsWritten: Long)

  private def manifestDir(root: Path) = new Path(root, "_manifests")
  private def dataDir(root: Path) = new Path(root, "data")

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val root = new Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v")) n.drop(1).toLongOption else None
  }

  /** Latest committed version, or None for an uninitialized dir. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val (fs, root) = fsOf(spark, dir)
    val md = manifestDir(root)
    if (!fs.exists(md)) None
    else fs.listStatus(md).toSeq.flatMap(f => versionOf(f.getPath))
      .maxOption
  }

  /** Raw manifest lines: `#`-prefixed metadata lines (currently only
    * `#schema=<json>`) followed by one relative data-file name per
    * line. Manifests written before the schema header existed carry no
    * `#` lines and parse identically.
    */
  // Committed manifests are IMMUTABLE (create-fails-if-exists), so
  // their parsed lines are cacheable. One operation touches the same
  // manifest several times (schema, key column, ranges, file list) —
  // without this, a single upsert against an object store pays ~6
  // GET+parse round trips of the same multi-MB file. Safety against
  // the two ways "immutable" can lie — a table deleted and re-created
  // at the same path, and a vacuumed version — comes from validating
  // each hit against the file's (mtime, length): one metadata HEAD
  // per call instead of a full GET+parse, and a changed or missing
  // file drops the entry. Keys are fs-QUALIFIED paths so aliased
  // spellings of one dir share entries. Bounded by entry count AND
  // total character volume (large tables have multi-MB manifests; an
  // entry-only bound could pin GBs of driver heap).
  private val ManifestCacheMaxEntries = 256
  private val ManifestCacheMaxChars = 64L * 1024 * 1024
  private final case class CachedManifest(mtime: Long, len: Long,
      lines: Seq[String], chars: Long)
  // keyed (qualified root, manifest-file name): version files ("v3")
  // and tree manifest chunks ("c-<uuid>") share the cache — both are
  // immutable once committed
  private val manifestCache =
    new java.util.LinkedHashMap[(String, String), CachedManifest](
      ManifestCacheMaxEntries, 0.75f, true)
  private var manifestCacheChars = 0L

  /** Count of PHYSICAL manifest-file reads (cache misses) — the smoke
    * observable for "planning reads only the manifests overlapping the
    * predicate" on tree-format tables.
    */
  private[graft] val manifestReadCount =
    new java.util.concurrent.atomic.AtomicLong()

  private def cacheEvictLoop(): Unit = {
    // caller holds the manifestCache lock
    val it = manifestCache.entrySet().iterator()
    while ((manifestCache.size() > ManifestCacheMaxEntries ||
        manifestCacheChars > ManifestCacheMaxChars) && it.hasNext) {
      manifestCacheChars -= it.next().getValue.chars
      it.remove()
    }
  }

  /** Drop EVERY cached manifest of a table — called by [[init]]: the
    * (mtime, length) validity check can be fooled by a table deleted
    * and re-created at the same path within one mtime tick with a
    * same-length manifest (coarse-granularity filesystems), and init
    * is the one place re-creation is visible in-process.
    */
  private[extra] def evictTable(root: Path): Unit =
    manifestCache.synchronized {
      val it = manifestCache.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getKey._1 == root.toString) {
          manifestCacheChars -= e.getValue.chars
          it.remove()
        }
      }
    }

  /** Test hook: evict a table's cached manifest lines so a spec can
    * count COLD physical manifest reads ([[manifestReadCount]]).
    */
  private[graft] def evictTableForTest(spark: SparkSession,
      dir: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    evictTable(fs.makeQualified(root))
  }

  private[extra] def evictManifest(root: Path, name: String): Unit =
    manifestCache.synchronized {
      val old = manifestCache.remove((root.toString, name))
      if (old != null) manifestCacheChars -= old.chars
    }

  /** Cached read of one immutable file under `_manifests/` — a version
    * file (`v<N>`) or a tree manifest chunk (`c-<uuid>`). `missing`
    * builds the caller-appropriate error for a file that is not there.
    */
  private def linesOfNamed(spark: SparkSession, dir: String,
      name: String, missing: String => Exception): Seq[String] = {
    val (fs, root0) = fsOf(spark, dir)
    val root = fs.makeQualified(root0)
    val cacheKey = (root.toString, name)
    val p = new Path(manifestDir(root), name)
    val st =
      try fs.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          evictManifest(root, name)
          throw missing(name)
      }
    manifestCache.synchronized {
      val hit = manifestCache.get(cacheKey)
      if (hit != null) {
        if (hit.mtime == st.getModificationTime && hit.len == st.getLen)
          return hit.lines
        manifestCacheChars -= hit.chars
        manifestCache.remove(cacheKey): Unit
      }
    }
    manifestReadCount.incrementAndGet()
    // A vacuum can delete the file BETWEEN the getFileStatus above and
    // this open/read — map that FileNotFoundException through the same
    // missing() path (cache evicted, caller-appropriate error) instead
    // of leaking a raw FNF that skips the eviction.
    val lines =
      try {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).toList
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException =>
          evictManifest(root, name)
          throw missing(name)
      }
    manifestCache.synchronized {
      val chars = lines.iterator.map(_.length.toLong).sum
      val prev = manifestCache.put(cacheKey,
        CachedManifest(st.getModificationTime, st.getLen, lines, chars))
      if (prev != null) manifestCacheChars -= prev.chars
      manifestCacheChars += chars
      cacheEvictLoop()
    }
    lines
  }

  private def manifestLines(spark: SparkSession, dir: String,
      version: Long): Seq[String] =
    linesOfNamed(spark, dir, s"v$version", _ =>
      new IllegalArgumentException(
        s"no manifest for version $version at $dir"))

  private def chunkLines(spark: SparkSession, dir: String,
      name: String): Seq[String] =
    linesOfNamed(spark, dir, name, n =>
      new IllegalStateException(
        s"manifest chunk $n of $dir is missing — the version file " +
          "references it (corruption, or a vacuum raced this read)"))

  private val SchemaHeader = "#schema="
  private val RangeHeader = "#range="
  private val ChunkHeader = "#mchunk="
  private val ChunkRangeHeader = "#mrange="
  private val ChunkColRangeHeader = "#mrangec="
  private val TsHeader = "#ts="

  /** One manifest chunk of a TREE-format version: `name` is the chunk
    * file under `_manifests/`, `count` its file count, and the ranges
    * are chunk-level AGGREGATES (min of mins, max of maxs) — present
    * only when EVERY file in the chunk carries the corresponding
    * per-file range, so pruning a whole chunk on them can never skip a
    * stat-less file.
    */
  private final case class ChunkRef(name: String, count: Long,
      keyRange: Option[(String, String)],
      colRanges: Map[String, (String, String)])

  /** Parsed per-file body of a flat version file or a tree chunk:
    * file names + `#range=` key ranges + `#rangec=` secondary ranges
    * (column → file → (min, max)).
    */
  private final case class Body(files: Seq[String],
      ranges: Map[String, (String, String)],
      colRanges: Map[String, Map[String, (String, String)]])

  private def parseBody(lines: Seq[String]): Body = {
    val files = lines.filterNot(_.startsWith("#"))
    val ranges = lines.filter(_.startsWith(RangeHeader)).map { l =>
      val parts = l.drop(RangeHeader.length).split(",", 3)
      require(parts.length == 3, "malformed #range line")
      b64d(parts(0)) -> (b64d(parts(1)), b64d(parts(2)))
    }.toMap
    val colRanges = lines.filter(_.startsWith(ColRangeHeader)).map { l =>
      val parts = l.drop(ColRangeHeader.length).split(",", 4)
      require(parts.length == 4, "malformed #rangec line")
      (b64d(parts(0)), b64d(parts(1)), b64d(parts(2)), b64d(parts(3)))
    }.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> (t._3, t._4)).toMap).toMap
    Body(files, ranges, colRanges)
  }

  /** The chunk refs of a TREE-format version file, or None when the
    * version is FLAT (lists its files inline). Chunks preserve the
    * version file's listing order.
    */
  private def treeRefs(spark: SparkSession, dir: String,
      version: Long): Option[Seq[ChunkRef]] = {
    val lines = manifestLines(spark, dir, version)
    val chunks = lines.filter(_.startsWith(ChunkHeader)).map { l =>
      val parts = l.drop(ChunkHeader.length).split(",", 2)
      require(parts.length == 2, s"malformed #mchunk line in v$version")
      (b64d(parts(0)), parts(1).toLong)
    }
    if (chunks.isEmpty) None
    else {
      val kr = lines.filter(_.startsWith(ChunkRangeHeader)).map { l =>
        val parts = l.drop(ChunkRangeHeader.length).split(",", 3)
        require(parts.length == 3, s"malformed #mrange line in v$version")
        b64d(parts(0)) -> (b64d(parts(1)), b64d(parts(2)))
      }.toMap
      val cr = lines.filter(_.startsWith(ChunkColRangeHeader)).map { l =>
        val parts = l.drop(ChunkColRangeHeader.length).split(",", 4)
        require(parts.length == 4, s"malformed #mrangec line in v$version")
        (b64d(parts(1)), b64d(parts(0)) -> (b64d(parts(2)), b64d(parts(3))))
      }.groupBy(_._1).view.mapValues(_.map(_._2).toMap).toMap
      Some(chunks.map { case (n, c) =>
        ChunkRef(n, c, kr.get(n), cr.getOrElse(n, Map.empty))
      })
    }
  }

  private def chunkBody(spark: SparkSession, dir: String,
      name: String): Body = parseBody(chunkLines(spark, dir, name))

  /** The file list of `version` (relative names). TREE versions expand
    * every chunk — callers that can prune (lookup, readRange, rewrites)
    * never use this path; it serves whole-table reads, diff and vacuum,
    * which genuinely need the full inventory.
    */
  def manifest(spark: SparkSession, dir: String, version: Long)
      : Seq[String] =
    treeRefs(spark, dir, version) match {
      case Some(refs) =>
        refs.flatMap(r => chunkBody(spark, dir, r.name).files)
      case None =>
        manifestLines(spark, dir, version).filterNot(_.startsWith("#"))
    }

  private def b64e(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(StandardCharsets.UTF_8))
  private def b64d(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  /** Per-file key ranges RECORDED IN THE MANIFEST (Iceberg-style file
    * stats): `#range=<b64 name>,<b64 min>,<b64 max>` header lines, one
    * per data file whose key range was known at commit time. This is
    * what makes pruning O(one manifest read) instead of O(files) footer
    * opens — on a 10⁵-file table a [[lookup]] or upsert plans its file
    * set from metadata it already holds, without touching the object
    * store once per file. Values are stored as strings (decimal text
    * for long/int keys, raw text for string keys — base64 makes any
    * key value line-safe) and parsed back under the table schema's key
    * type at use; files without an entry (legacy manifests, empty
    * files) fall back to a footer read, keeping old tables readable
    * and pruning conservative.
    */
  def fileRanges(spark: SparkSession, dir: String,
      version: Long): Map[String, (String, String)] =
    treeRefs(spark, dir, version) match {
      case Some(refs) =>
        refs.flatMap(r => chunkBody(spark, dir, r.name).ranges).toMap
      case None => parseBody(manifestLines(spark, dir, version)).ranges
    }

  /** Parse a stored range back to the key type's runtime values. */
  private def parseRange(keyType: DataType,
      r: (String, String)): (Any, Any) = keyType match {
    case LongType => (r._1.toLong, r._2.toLong)
    case IntegerType => (r._1.toInt, r._2.toInt)
    case StringType => (r._1, r._2)
    case t => throw new IllegalArgumentException(
      s"unsupported snapshot key type $t")
  }

  private val StatsColsHeader = "#statscols="
  private val ColRangeHeader = "#rangec="
  private val KeyColHeader = "#keycol="
  private val TxnHeader = "#txn="
  private val ZOrderHeader = "#zorder="

  /** The Z-ORDER dimensions this table clusters on (chosen at [[init]]
    * via `zorderCols`, persisted so [[compact]] and every rewrite
    * re-cluster the same way). Empty = 1-D key clustering.
    */
  def zorderColumns(spark: SparkSession, dir: String,
      version: Long): Seq[String] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(ZOrderHeader))
      .map(_.drop(ZOrderHeader.length).split(",").toSeq
        .filter(_.nonEmpty).map(b64d))
      .getOrElse(Nil)

  /** The TRANSACTION ID a version's manifest records — `(appId,
    * batchId)`, the Delta-style exactly-once token
    * ([[upsertVersioned]]'s `txn`): because the id commits atomically
    * WITH the data (same manifest, same create-fails-if-exists), "was
    * this batch applied?" and "is its data visible?" can never
    * disagree, which is what makes a replayed foreachBatch SKIP
    * cleanly instead of re-committing.
    */
  def committedTxn(spark: SparkSession, dir: String,
      version: Long): Option[(String, Long)] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(TxnHeader))
      .map { l =>
        val parts = l.drop(TxnHeader.length).split(",", 2)
        require(parts.length == 2, s"malformed txn line in v$version")
        (b64d(parts(0)), parts(1).toLong)
      }

  /** Highest batchId `appId` has committed to this table, scanning
    * manifests newest-first (O(1) in the streaming steady state — the
    * stream's own commit is at or near the top; other writers'
    * interleaved versions are skipped over). None if the app never
    * committed (or its versions were vacuumed — after which a replay
    * that old cannot be in-flight anyway). `maxLookback` bounds the
    * cold walk: a fresh app on a long-history table would otherwise
    * read EVERY retained manifest to conclude None, and a replayed
    * batch can only be as old as the checkpoint's recent history —
    * default 1000 versions of headroom. PAST the horizon the guarantee
    * degrades gracefully: a replay whose token is buried under more
    * than `maxLookback` interleaved commits reads None and re-applies,
    * which the per-row version guard keeps CONTENT-correct
    * (idempotent-apply), but the ledger then records the same (appId,
    * batchId) token in a second version — raise `maxLookback` if your
    * ledger audits must stay unambiguous under that much interleaving.
    * Concurrent vacuum is tolerated: a manifest deleted between the
    * listing and the read is skipped, not an error.
    */
  def lastTxn(spark: SparkSession, dir: String, appId: String,
      maxLookback: Int = 1000): Option[Long] = {
    val (fs, root) = fsOf(spark, dir)
    val md = manifestDir(root)
    if (!fs.exists(md)) return None
    fs.listStatus(md).toSeq.flatMap(f => versionOf(f.getPath))
      .sorted(Ordering[Long].reverse)
      .iterator
      .take(maxLookback)
      .flatMap(v => scala.util.Try(committedTxn(spark, dir, v))
        .toOption.flatten)
      .collectFirst { case (a, b) if a == appId => b }
  }

  /** The cluster-key column the manifest's `#range=` stats describe
    * (recorded since multi-column stats landed; None on older
    * manifests — [[readRange]] then treats the key like any other
    * column and falls back to a conservative full-file read).
    */
  def keyColumn(spark: SparkSession, dir: String,
      version: Long): Option[String] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(KeyColHeader))
      .map(l => b64d(l.drop(KeyColHeader.length)))

  /** The SECONDARY columns this table records per-file stats for
    * (chosen once at [[init]]; every later commit re-stats its staged
    * files for them). Empty for tables initialized without
    * `statsCols` and for legacy manifests.
    */
  def statsColumns(spark: SparkSession, dir: String,
      version: Long): Seq[String] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(StatsColsHeader))
      .map(_.drop(StatsColsHeader.length).split(",").toSeq
        .filter(_.nonEmpty).map(b64d))
      .getOrElse(Nil)

  /** Per-file (min, max) recorded for a SECONDARY column (`#rangec=`
    * manifest lines) — the multi-column half of [[fileRanges]]: a
    * key-clustered table whose commits are time-correlated (streaming
    * appends, daily batches) gets near-disjoint per-file ranges on
    * its event-time column for free, and [[readRange]] turns those
    * into file skipping no clustering decision had to pay for.
    */
  def columnRanges(spark: SparkSession, dir: String, version: Long,
      column: String): Map[String, (String, String)] =
    treeRefs(spark, dir, version) match {
      case Some(refs) =>
        refs.flatMap(r => chunkBody(spark, dir, r.name).colRanges
          .getOrElse(column, Map.empty)).toMap
      case None => parseBody(manifestLines(spark, dir, version))
        .colRanges.getOrElse(column, Map.empty)
    }

  private def encodeRangeValue(v: Any): String = v.toString

  /** Prune a version's file list against a key batch using the
    * MANIFEST's recorded ranges — zero footer opens for stats-bearing
    * files; only legacy/stat-less entries fall back to a footer read
    * (or, when the footer also has no stats, stay conservatively
    * touched). Returns full path strings of the touched files.
    */
  /** Chunk refs of a tree version whose chunk-level key range may hold
    * a batch key — the MANIFEST-LEVEL prune: on a 10⁶-file table only
    * the version file plus the overlapping chunks are ever read, so
    * planning cost is O(touched manifests), not O(table files). A
    * chunk without an aggregate range is conservatively kept.
    */
  private def pruneChunks(spark: SparkSession, refs: Seq[ChunkRef],
      keyType: DataType, batchKeys: DataFrame,
      key: String): Seq[ChunkRef] = {
    val ranged = refs.map(r =>
      r.name -> r.keyRange.map(parseRange(keyType, _)))
    val keep = Merge.pruneRanged(spark, ranged, keyType, batchKeys, key)
      .toSet
    refs.filter(r => keep.contains(r.name))
  }

  private def pruneVersion(spark: SparkSession, root: Path, dir: String,
      version: Long, keyType: DataType, batchKeys: DataFrame,
      key: String): Seq[String] = {
    // the manifest's #range stats describe the CLUSTER KEY — apply
    // them only when the requested column IS that key (recorded since
    // #keycol landed; unknown on legacy manifests). A lookup/prune on
    // any other column, or on a legacy manifest, footer-stats the
    // requested column per file, exactly the pre-stats behavior.
    val isKey = keyColumn(spark, dir, version).contains(key)
    val (files, stats) = treeRefs(spark, dir, version) match {
      case Some(refs) =>
        // tree: prune whole chunks on their aggregate key range first,
        // then expand ONLY the surviving chunks for per-file stats
        val cand = if (isKey) pruneChunks(spark, refs, keyType,
          batchKeys, key) else refs
        val bodies = cand.map(r => chunkBody(spark, dir, r.name))
        (bodies.flatMap(_.files),
          if (isKey) bodies.flatMap(_.ranges).toMap
          else Map.empty[String, (String, String)])
      case None =>
        (manifest(spark, dir, version),
          if (isKey) fileRanges(spark, dir, version)
          else Map.empty[String, (String, String)])
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val ranged = files.map { f =>
      val p = new Path(dataDir(root), f)
      p.toString -> stats.get(f).map(parseRange(keyType, _))
        .orElse(Merge.footerKeyRange(p, key, hconf))
    }
    Merge.pruneRanged(spark, ranged, keyType, batchKeys, key)
  }

  /** Footer ranges of freshly staged files for the key plus every
    * stats column — ONE footer open per file regardless of column
    * count, read at commit time (the writer just wrote these files;
    * their footers are hot) and then carried in every descendant
    * manifest by reference, so no reader or later writer ever
    * re-opens them. Returns column → (file → (min, max)).
    */
  private def stagedStats(spark: SparkSession, root: Path,
      staged: Seq[String], cols: Seq[String])
      : Map[String, Map[String, (String, String)]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val perFile = staged.map { f =>
      f -> Merge.footerRanges(new Path(dataDir(root), f), cols, hconf)
    }
    cols.map { c =>
      c -> perFile.flatMap { case (f, m) =>
        m.get(c).map { case (mn, mx) =>
          f -> (encodeRangeValue(mn), encodeRangeValue(mx))
        }
      }.toMap
    }.toMap
  }

  /** The schema the manifest of `version` RECORDS, when it records one
    * (every commit since schema tracking landed does; legacy manifests
    * return None and fall back to file inference).
    */
  def committedSchema(spark: SparkSession, dir: String,
      version: Long): Option[StructType] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(SchemaHeader))
      .map(l => DataType.fromJson(l.drop(SchemaHeader.length))
        .asInstanceOf[StructType])

  /** Everything file-backed reads as nullable (Spark file relations
    * force nullability on read); normalizing the RECORDED schema the
    * same way keeps `read(stored-schema)` and legacy file-inferred
    * reads indistinguishable.
    */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      m.copy(valueType = asNullable(m.valueType), valueContainsNull = true)
    case o => o
  }

  /** Resolved schema of a version: the manifest's recorded schema when
    * present — O(manifest read), no data-file footer is opened, the
    * property that matters when the manifest lists 10⁵ files on a
    * 100 TB table — else inferred from the version's files (legacy
    * manifests), else the nearest earlier schema-bearing version (a
    * legacy empty manifest).
    */
  def tableSchema(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): StructType = {
    val v = asOf.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"$dir has no committed version"))
    committedSchema(spark, dir, v).getOrElse {
      val (_, root) = fsOf(spark, dir)
      val files = manifest(spark, dir, v)
      val donor =
        if (files.nonEmpty) files
        else (v - 1 to 0L by -1).iterator
          .flatMap(pv => scala.util.Try(manifest(spark, dir, pv)).toOption)
          .find(_.nonEmpty)
          .getOrElse(throw new IllegalStateException(
            s"version $v of $dir is empty and no earlier version holds " +
              "a schema-bearing file"))
      ParquetRead.read(spark,
        donor.map(f => new Path(dataDir(root), f).toString): _*).schema
    }
  }

  /** Atomically create manifest `version`; throws
    * ConcurrentModificationException when a racing writer got there
    * first (retry on the new current version).
    */
  /** CAS-create the version file with the given lines — the commit
    * point shared by flat and tree formats.
    */
  private def writeVersionFile(fs: FileSystem, root: Path, version: Long,
      lines: Seq[String]): Unit = {
    val md = manifestDir(root)
    fs.mkdirs(md)
    val target = new Path(md, s"v$version")
    // AtomicFiles is the actual CAS: a plain fs.create(target, false)
    // is NOT exclusive on Hadoop's local filesystem (check-then-act),
    // and the r13 rebalance-storm race spec demonstrated two writers
    // both winning the same version through it
    try AtomicFiles.createExclusive(fs, target,
      lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"version $version already committed at $root — recompute " +
            "against the current manifest and retry")
    }
  }

  private def headerLines(schema: Option[StructType],
      ts: Option[Long], txn: Option[(String, Long)],
      keyCol: Option[String], statsCols: Seq[String],
      zorder: Seq[String] = Nil): Seq[String] =
    schema.map(s =>
      SchemaHeader + asNullable(s).asInstanceOf[StructType].json).toSeq ++
      ts.map(t => TsHeader + t).toSeq ++
      txn.map { case (a, b) => TxnHeader + s"${b64e(a)},$b" }.toSeq ++
      keyCol.map(k => KeyColHeader + b64e(k)).toSeq ++
      (if (statsCols.isEmpty) Nil
       else Seq(StatsColsHeader + statsCols.map(b64e).mkString(","))) ++
      (if (zorder.isEmpty) Nil
       else Seq(ZOrderHeader + zorder.map(b64e).mkString(",")))

  private def commitManifest(fs: FileSystem, root: Path, version: Long,
      files: Seq[String], schema: Option[StructType] = None,
      ranges: Map[String, (String, String)] = Map.empty,
      keyCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      colRanges: Map[String, Map[String, (String, String)]] = Map.empty,
      txn: Option[(String, Long)] = None,
      ts: Option[Long] = None,
      zorder: Seq[String] = Nil)
      : Unit = {
    val lines = headerLines(schema, ts, txn, keyCol, statsCols, zorder) ++
      files.flatMap(f => ranges.get(f).map { case (mn, mx) =>
        RangeHeader + s"${b64e(f)},${b64e(mn)},${b64e(mx)}"
      }) ++
      statsCols.flatMap { c =>
        val m = colRanges.getOrElse(c, Map.empty)
        files.flatMap(f => m.get(f).map { case (mn, mx) =>
          ColRangeHeader + s"${b64e(c)},${b64e(f)},${b64e(mn)},${b64e(mx)}"
        })
      } ++
      files
    writeVersionFile(fs, root, version, lines)
  }

  /** Test hook: raw manifest commit at an explicit version — the
    * losing side of the optimistic-concurrency race, made callable.
    */
  private[graft] def testCommitAt(spark: SparkSession, dir: String,
      version: Long, files: Seq[String]): Unit = {
    val (fs, root) = fsOf(spark, dir)
    commitManifest(fs, root, version, files)
  }

  /** Smoke hook: commit a version from SYNTHETIC file entries (name,
    * keyMin, keyMax) without any data write — how the ≥100k-file
    * planning/commit-cost smoke builds a table whose metadata is real
    * (full manifest tree, stats, pruning) while the cold files are
    * phantoms the pruned plans must never touch.
    */
  private[graft] def testCommitEntries(spark: SparkSession, dir: String,
      version: Long, entries: Seq[(String, String, String)],
      schema: StructType, key: String): Unit = {
    val (fs, root) = fsOf(spark, dir)
    commitVersion(spark, fs, root, dir, version, Nil,
      entries.map { case (n, mn, mx) => Entry(n, Some((mn, mx)),
        Map.empty) },
      schema, key, Nil, None,
      nextTs(spark, dir, if (version > 0) Some(version - 1) else None))
  }

  // ---------------------------------------------------------------
  // Commit timestamps — `TIMESTAMP AS OF` time travel
  // ---------------------------------------------------------------

  /** Injectable wall clock (tests pin it for deterministic stamps).
    * Commit stamps are additionally forced MONOTONIC per table —
    * child ts = max(clock, parent ts + 1) — so `versionAsOf` is
    * well-defined even across writer clock skew.
    */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** Epoch-millis commit timestamp the version's manifest records
    * (every commit since `#ts=` landed; None on older manifests).
    */
  def commitTime(spark: SparkSession, dir: String,
      version: Long): Option[Long] =
    manifestLines(spark, dir, version)
      .find(_.startsWith(TsHeader))
      .map(_.drop(TsHeader.length).toLong)

  private def nextTs(spark: SparkSession, dir: String,
      parent: Option[Long]): Long = {
    val pts = parent.flatMap(v =>
      scala.util.Try(commitTime(spark, dir, v)).toOption.flatten)
      .getOrElse(Long.MinValue)
    math.max(clock(), pts + 1)
  }

  /** The LATEST version committed at or before `tsMillis` — the
    * `TIMESTAMP AS OF` resolution rule (Delta/Iceberg semantics):
    * reproducible training runs pin "the corpus as of <wall time>"
    * without knowing version numbers. Versions predating the `#ts=`
    * header count as committed at the beginning of time (they are
    * eligible for ANY timestamp; the newest eligible version wins).
    * Throws when no version qualifies or the table is uninitialized.
    */
  def versionAsOf(spark: SparkSession, dir: String,
      tsMillis: Long): Long = {
    val (fs, root) = fsOf(spark, dir)
    val md = manifestDir(root)
    require(fs.exists(md), s"$dir has no committed version")
    val versions = fs.listStatus(md).toSeq
      .flatMap(f => versionOf(f.getPath))
    require(versions.nonEmpty, s"$dir has no committed version")
    val eligible = versions.filter(v =>
      scala.util.Try(commitTime(spark, dir, v)).toOption.flatten
        .getOrElse(Long.MinValue) <= tsMillis)
    if (eligible.isEmpty) throw new IllegalArgumentException(
      s"no version of $dir was committed at or before epoch-ms " +
        s"$tsMillis (earliest retained commit is at " +
        s"${versions.min} @ ${commitTime(spark, dir, versions.min)})")
    eligible.max
  }

  /** [[read]] pinned by wall time instead of version number. */
  def readAsOfTime(spark: SparkSession, dir: String,
      ts: java.time.Instant): DataFrame =
    read(spark, dir, Some(versionAsOf(spark, dir, ts.toEpochMilli)))

  /** The table's commit history as a frame — DESCRIBE HISTORY for
    * snapshot tables: one row per RETAINED version with its commit
    * stamp, exactly-once txn token (when the commit was a streaming
    * CDC apply), file count and format. Cost is O(retained versions)
    * manifest-HEADER reads — tree versions report their ref-counted
    * file total WITHOUT expanding any chunk. Columns: `version`,
    * `commit_ts` (timestamp, null pre-`#ts=`), `txn_app_id`,
    * `txn_batch_id`, `n_files`, `format` (flat|tree).
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val (fs, root) = fsOf(spark, dir)
    val md = manifestDir(root)
    require(fs.exists(md), s"$dir has no committed version")
    val versions = fs.listStatus(md).toSeq
      .flatMap(f => versionOf(f.getPath)).sorted
    // a version vacuumed between the listing and its read is skipped,
    // not an error — same tolerance as lastTxn's ledger walk
    val rows = versions.flatMap { v =>
      scala.util.Try {
        val ts = commitTime(spark, dir, v)
        val txn = committedTxn(spark, dir, v)
        val (nFiles, format) = treeRefs(spark, dir, v) match {
          case Some(refs) => (refs.map(_.count).sum, "tree")
          case None =>
            (manifestLines(spark, dir, v).count(!_.startsWith("#"))
              .toLong, "flat")
        }
        (v, ts.map(new java.sql.Timestamp(_)).orNull,
          txn.map(_._1).orNull,
          txn.map(t => java.lang.Long.valueOf(t._2)).orNull,
          nFiles, format)
      }.toOption
    }
    import spark.implicits._
    rows.toDF("version", "commit_ts", "txn_app_id", "txn_batch_id",
      "n_files", "format")
  }

  // ---------------------------------------------------------------
  // Tree-format commit engine
  // ---------------------------------------------------------------

  /** Files-per-manifest-chunk knob. A commit whose resulting file list
    * exceeds this writes a TREE version (version file → chunk files);
    * at or below it, a version with nothing carried stays FLAT. The
    * default keeps every small table single-file; tests set it low to
    * exercise the tree on toy data.
    */
  private[graft] val FilesPerManifestKey =
    "spark.graft.snapshot.filesPerManifest"

  private def filesPerManifest(spark: SparkSession): Int =
    math.max(1, spark.conf.getOption(FilesPerManifestKey)
      .map(_.toInt).getOrElse(1000))

  /** One data file's manifest entry: name + stored key range +
    * stored secondary-column ranges.
    */
  private final case class Entry(name: String,
      keyRange: Option[(String, String)],
      colRanges: Map[String, (String, String)])

  private def bodyEntries(b: Body, statsCols: Seq[String]): Seq[Entry] =
    b.files.map(f => Entry(f, b.ranges.get(f),
      statsCols.flatMap(c =>
        b.colRanges.getOrElse(c, Map.empty).get(f).map(c -> _)).toMap))

  private def entriesFromStats(staged: Seq[String], key: String,
      statsCols: Seq[String],
      stats: Map[String, Map[String, (String, String)]]): Seq[Entry] =
    staged.map(f => Entry(f,
      stats.getOrElse(key, Map.empty).get(f),
      statsCols.flatMap(c =>
        stats.getOrElse(c, Map.empty).get(f).map(c -> _)).toMap))

  /** Ordering of STORED (string-encoded) range values under the
    * column's type: decimal text for integral/timestamp columns,
    * unsigned UTF-8 byte order for strings (the parquet collation).
    */
  private def storedOrd(dt: DataType): Ordering[String] = dt match {
    case StringType => Ordering.fromLessThan((a, b) => u8cmp(a, b) < 0)
    case _ => Ordering.by((s: String) => s.toLong)
  }

  private def optMinOrd(ord: Ordering[String]): Ordering[Option[String]] =
    new Ordering[Option[String]] {
      def compare(a: Option[String], b: Option[String]): Int =
        (a, b) match {
          case (Some(x), Some(y)) => ord.compare(x, y)
          case (Some(_), None) => -1
          case (None, Some(_)) => 1
          case (None, None) => 0
        }
    }

  /** Chunk-level aggregate of per-file ranges: present ONLY when every
    * file has one — pruning a chunk on a partial aggregate could skip
    * a stat-less file that matches.
    */
  private def aggRange(rs: Seq[Option[(String, String)]],
      ord: Ordering[String]): Option[(String, String)] =
    if (rs.isEmpty || rs.exists(_.isEmpty)) None
    else {
      val v = rs.flatten
      Some((v.map(_._1).min(ord), v.map(_._2).max(ord)))
    }

  private def entryLines(entries: Seq[Entry],
      statsCols: Seq[String]): Seq[String] =
    entries.flatMap(e => e.keyRange.map { case (mn, mx) =>
      RangeHeader + s"${b64e(e.name)},${b64e(mn)},${b64e(mx)}"
    }) ++
      statsCols.flatMap(c => entries.flatMap(e =>
        e.colRanges.get(c).map { case (mn, mx) =>
          ColRangeHeader +
            s"${b64e(c)},${b64e(e.name)},${b64e(mn)},${b64e(mx)}"
        })) ++
      entries.map(_.name)

  /** Commit `version` as FLAT or TREE, whichever fits:
    *
    *   - nothing carried and ≤ filesPerManifest files → flat (one
    *     self-contained list, the historical format);
    *   - otherwise → tree: `carried` chunk refs are REUSED BY NAME
    *     (their chunk files are not rewritten, not even read), `loose`
    *     entries are sorted by key range and packed into new chunk
    *     files of ≤ filesPerManifest entries, and the version file
    *     records only chunk refs + per-chunk aggregate ranges. Commit
    *     cost is O(changed + new/filesPerManifest) manifest writes —
    *     never O(table files).
    *
    * REBALANCE GUARD: a long run of small commits each adds a tiny
    * chunk; when the ref list exceeds 4× its packed size (min 16),
    * every carried chunk is expanded and the whole inventory re-packed
    * — a manifest-only rewrite (no data IO), amortized O(1) per
    * commit. Chunk files are written BEFORE the version-file CAS; a
    * lost race or crash strands unreferenced chunk files, which
    * [[vacuum]] reclaims past the orphan grace window.
    */
  private def commitVersion(spark: SparkSession, fs: FileSystem,
      root: Path, dir: String, version: Long, carried: Seq[ChunkRef],
      loose: Seq[Entry], schema: StructType, key: String,
      statsCols: Seq[String], txn: Option[(String, Long)],
      tsMillis: Long, zorder: Seq[String] = Nil): Unit = {
    val chunkSize = filesPerManifest(spark)
    val total = carried.map(_.count).sum + loose.size
    if (carried.isEmpty && total <= chunkSize) {
      commitManifest(fs, root, version, loose.map(_.name),
        Some(schema),
        loose.flatMap(e => e.keyRange.map(e.name -> _)).toMap,
        Some(key), statsCols,
        statsCols.map(c => c -> loose.flatMap(e =>
          e.colRanges.get(c).map(e.name -> _)).toMap).toMap,
        txn, Some(tsMillis), zorder)
      return
    }
    val packed = (total + chunkSize - 1) / chunkSize
    val estRefs = carried.size + (loose.size + chunkSize - 1) / chunkSize
    val maxRefs = math.max(16L, 4L * packed)
    val (car, lo) =
      if (estRefs > maxRefs)
        (Seq.empty[ChunkRef],
          carried.flatMap(r =>
            bodyEntries(chunkBody(spark, dir, r.name), statsCols)) ++
            loose)
      else (carried, loose)
    val keyOrd = storedOrd(schema(key).dataType)
    val sorted = lo.sortBy(_.keyRange.map(_._1))(optMinOrd(keyOrd))
    val md = manifestDir(root)
    fs.mkdirs(md)
    val newRefs = sorted.grouped(chunkSize).filter(_.nonEmpty).map { g =>
      val name = s"c-${java.util.UUID.randomUUID()}"
      val out = fs.create(new Path(md, name), false)
      try out.write(entryLines(g, statsCols)
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      ChunkRef(name, g.size,
        aggRange(g.map(_.keyRange), keyOrd),
        statsCols.flatMap(c => aggRange(g.map(_.colRanges.get(c)),
          storedOrd(schema(c).dataType)).map(c -> _)).toMap)
    }.toSeq
    val refs = car ++ newRefs
    val lines = headerLines(Some(schema), Some(tsMillis), txn,
      Some(key), statsCols, zorder) ++
      refs.map(r => ChunkHeader + s"${b64e(r.name)},${r.count}") ++
      refs.flatMap(r => r.keyRange.map { case (mn, mx) =>
        ChunkRangeHeader + s"${b64e(r.name)},${b64e(mn)},${b64e(mx)}"
      }) ++
      statsCols.flatMap(c => refs.flatMap(r =>
        r.colRanges.get(c).map { case (mn, mx) =>
          ChunkColRangeHeader +
            s"${b64e(c)},${b64e(r.name)},${b64e(mn)},${b64e(mx)}"
        }))
    writeVersionFile(fs, root, version, lines)
  }

  /** Write `df` clustered on `key` as the table's first version.
    * `statsCols` picks SECONDARY columns whose per-file (min, max)
    * every commit of this table will record in the manifest (the
    * choice is persisted via a `#statscols=` header) — what
    * [[readRange]] prunes on.
    *
    * `zorderCols` (≥ 2 numeric/timestamp columns) switches the
    * clustering strategy to a Z-ORDER curve over those dimensions
    * ([[Layout.writeZOrdered]]) instead of 1-D key ranges: every file
    * is narrow on ALL the dims at once, so [[readRange]] prunes files
    * on any of them — the multi-dim layout 1-D clustering cannot give
    * (a key-clustered file spans the full width of every other
    * column). The choice persists (`#zorder=` header): rewrites and
    * [[compact]] re-cluster the same way, and the dims are auto-added
    * to `statsCols` so their per-file ranges always ride the manifest.
    * Trade-off to choose knowingly: key ranges overlap across files
    * under Z-ordering, so pure key lookups touch more files than 1-D
    * clustering — pick it when multi-dim range reads dominate.
    */
  def init(df: DataFrame, dir: String, key: String,
      numFiles: Int = 8, statsCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil): Commit = {
    val spark = df.sparkSession
    val (fs, root) = fsOf(spark, dir)
    require(latestVersion(spark, dir).isEmpty,
      s"$dir is already a snapshot table")
    // re-creating a table at a previously used path must not serve the
    // old table's cached manifest lines — see evictTable
    evictTable(fs.makeQualified(root))
    require(zorderCols.isEmpty || zorderCols.size >= 2,
      "zorderCols needs >= 2 dimensions (1-D z-order IS key clustering)")
    val zNumeric = Set[DataType](LongType, IntegerType, TimestampType,
      TimestampNTZType)
    zorderCols.foreach { c =>
      require(df.schema.fieldNames.contains(c),
        s"zorder column $c is not a column of the frame")
      require(zNumeric.contains(df.schema(c).dataType),
        s"zorder column $c must be int/long/timestamp (cell bucketing " +
          "needs a numeric extent)")
    }
    // z-dims always get manifest stats — pruning on them is the point
    val allStats = (statsCols ++ zorderCols.filterNot(_ == key)).distinct
    val missing = allStats.filterNot(df.schema.fieldNames.contains)
    require(missing.isEmpty,
      s"statsCols ${missing.mkString(", ")} are not columns of the frame")
    val statable = Set[DataType](LongType, IntegerType, StringType,
      TimestampType, TimestampNTZType)
    val unstattable = allStats
      .filterNot(c => statable.contains(df.schema(c).dataType))
    require(unstattable.isEmpty,
      s"statsCols ${unstattable.mkString(", ")} have types readRange " +
        "cannot prune on (supported: int, long, string, timestamp, " +
        "timestamp_ntz)")
    val staged = writeData(df, fs, root, key, numFiles, zorderCols)
    val back = ParquetRead.read(spark,
      staged.map(f => new Path(dataDir(root), f).toString): _*)
    val rows = back.count()
    val stats = stagedStats(spark, root, staged, key +: allStats)
    commitVersion(spark, fs, root, dir, 0L, Nil,
      entriesFromStats(staged, key, allStats, stats), back.schema,
      key, allStats, None, nextTs(spark, dir, None), zorderCols)
    Commit(0L, staged, 0, rows)
  }

  /** Read a snapshot — `asOf` version, or latest. A version whose
    * manifest is EMPTY (a takedown deleted every row) reads as a
    * zero-row frame with the schema of the nearest earlier non-empty
    * version — never a crash.
    */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val v = asOf.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"$dir has no committed version"))
    val files = manifest(spark, dir, v)
      .map(f => new Path(dataDir(root), f).toString)
    val schema = tableSchema(spark, dir, Some(v))
    // explicit schema: files predating a schema evolution lack the
    // later-added columns and read them as NULL — no file is rewritten
    // when a column is added, and no footer is opened to plan the read
    if (files.nonEmpty) spark.read.schema(schema).parquet(files: _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Point read: rows whose `key` appears in `keys`, opening ONLY the
    * data files whose parquet-footer range may hold a requested key
    * (the same [[Merge.pruneTouched]] metadata pass the writers use) —
    * the serving-read shape: a handful of keys against a 100 TB table
    * costs O(manifest + touched files), and the clustered layout
    * [[init]]/[[compact]] maintain is what keeps "touched" small.
    * Version-stable under concurrent writers (reads one manifest).
    */
  def lookup(spark: SparkSession, dir: String, keys: DataFrame,
      key: String, asOf: Option[Long] = None): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val v = asOf.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"$dir has no committed version"))
    val schema = tableSchema(spark, dir, Some(v))
    val batchKeys = keys.select(key).distinct()
    val touched = pruneVersion(spark, root, dir, v, schema(key).dataType,
      batchKeys, key)
    if (touched.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(touched.sorted: _*)
      .join(broadcast(batchKeys), Seq(key), "left_semi")
  }

  /** Range read over a stats-bearing column: rows of `asOf` (or the
    * latest version) whose `column` lies in the INCLUSIVE [lo, hi],
    * opening ONLY the data files whose manifest-recorded (min, max)
    * on `column` intersects the bound — file skipping on a column the
    * table is NOT clustered by. The canonical shape: a corpus
    * clustered by doc key whose commits arrive in event-time order
    * gets near-disjoint per-file ranges on its timestamp column for
    * free, so an incremental consumer's "last N hours" read costs
    * O(matching files) instead of a table scan. Files without a
    * recorded range (legacy manifests, columns outside `statsCols`)
    * are read conservatively, and the exact predicate is applied
    * either way — pruning is purely a performance matter. Bound
    * types: Long/Int for integral columns, String for string
    * columns, java.time.Instant or java.sql.Timestamp for timestamp
    * columns (java.time.LocalDateTime, read as UTC, for
    * timestamp_ntz).
    */
  def readRange(spark: SparkSession, dir: String, column: String,
      lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame = {
    val (_, root) = fsOf(spark, dir)
    val v = asOf.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"$dir has no committed version"))
    val schema = tableSchema(spark, dir, Some(v))
    require(schema.fieldNames.contains(column),
      s"$column is not a column of $dir")
    val dt = schema(column).dataType
    val isKey = keyColumn(spark, dir, v).contains(column)
    val loB = bound(dt, lo)
    val hiB = bound(dt, hi)
    def overlaps(r: (String, String)): Boolean = dt match {
      case StringType =>
        // UNSIGNED UTF-8 byte order — the order parquet BINARY stats
        // and Spark's UTF8String comparisons use. Plain String <=
        // compares UTF-16 code units, which disagrees for
        // supplementary characters and could prune a matching file.
        u8cmp(r._1, hiB.asInstanceOf[String]) <= 0 &&
          u8cmp(r._2, loB.asInstanceOf[String]) >= 0
      case _ =>
        r._1.toLong <= hiB.asInstanceOf[Long] &&
          r._2.toLong >= loB.asInstanceOf[Long]
    }
    val kept = (treeRefs(spark, dir, v) match {
      case Some(refs) =>
        // tree: skip whole chunks on their aggregate range for this
        // column first — only overlapping chunks are ever read
        val cand = refs.filter(r =>
          (if (isKey) r.keyRange else r.colRanges.get(column))
            .forall(overlaps))
        cand.map(r => chunkBody(spark, dir, r.name)).flatMap { b =>
          val stats = if (isKey) b.ranges
            else b.colRanges.getOrElse(column, Map.empty)
          b.files.filter(f => stats.get(f).forall(overlaps))
        }
      case None =>
        val stats =
          if (isKey) fileRanges(spark, dir, v)
          else columnRanges(spark, dir, v, column)
        manifest(spark, dir, v).filter(f => stats.get(f).forall(overlaps))
    }).map(f => new Path(dataDir(root), f).toString)
    val base =
      if (kept.nonEmpty) spark.read.schema(schema).parquet(kept: _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    base.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
  }

  /** Unsigned lexicographic compare of the UTF-8 encodings — the
    * collation parquet BINARY footer stats are computed under.
    */
  private def u8cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8),
      b.getBytes(StandardCharsets.UTF_8))

  /** Driver-side comparable form of a user bound under the column
    * type: integral → Long, string → String, timestamps → epoch
    * micros (the unit parquet footer stats and the manifest record).
    */
  private def bound(dt: DataType, v: Any): Any = (dt, v) match {
    case (LongType | IntegerType, n: java.lang.Number) => n.longValue
    case (StringType, s: String) => s
    case (TimestampType, i: java.time.Instant) =>
      Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
        i.getNano / 1000L)
    case (TimestampType, t: java.sql.Timestamp) =>
      bound(dt, t.toInstant)
    // NTZ bounds must be LocalDateTime: an Instant bound would prune
    // in UTC while the exact filter coerces the NTZ column through
    // the SESSION time zone — prune and filter would disagree off-UTC
    case (TimestampNTZType, l: java.time.LocalDateTime) =>
      Math.addExact(Math.multiplyExact(
        l.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L),
        l.getNano / 1000L)
    case _ => throw new IllegalArgumentException(
      s"bound $v (${v.getClass.getSimpleName}) is unsupported for a " +
        s"${dt.simpleString} column" + (dt match {
          case TimestampNTZType => " (pass java.time.LocalDateTime)"
          case _ => ""
        }))
  }

  /** Upsert (replace-by-key ∪ insert) as a NEW VERSION: cold files are
    * carried by reference, only footer-touched files are replaced.
    *
    * Schema evolution (`evolveSchema = true`): columns in `updates`
    * the table doesn't have yet are ADDED as nullable columns — the
    * child manifest records the widened schema, and every file the
    * batch does NOT touch is still carried by reference (readers fill
    * the new columns with NULL from the recorded schema; nothing is
    * rewritten — add-column on a 100 TB table costs one manifest).
    * Without the flag, new columns are an error (the silent-drop the
    * previous contract implied is gone). Dropping or re-typing a
    * column is rejected either way: `updates` must carry every
    * existing column at its existing type.
    */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, evolveSchema: Boolean = false): Commit = {
    // same at-most-one-row-per-key contract as Merge.upsert — without
    // it a duplicated batch key silently breaks the keyed-table
    // invariant every consumer (diff, lookup, later upserts) relies on
    val cnts = updates.agg(count(lit(1)).as("n"),
      count_distinct(col(key)).as("d")).head()
    require(cnts.getLong(0) == cnts.getLong(1),
      s"updates carry ${cnts.getLong(0)} rows but only " +
        s"${cnts.getLong(1)} distinct $key values — dedup (e.g. " +
        "latest-wins) before upserting")
    val parentSchema = tableSchema(spark, dir)
    val upSchema = updates.schema
    val missing = parentSchema.fieldNames.filterNot(upSchema.fieldNames
      .contains(_))
    require(missing.isEmpty,
      s"updates are missing table columns ${missing.mkString(", ")} — " +
        "an upsert replaces whole rows, so every existing column must " +
        "be present")
    parentSchema.fields.foreach { f =>
      val up = upSchema(f.name).dataType
      require(asNullable(up) == asNullable(f.dataType),
        s"column ${f.name} is ${f.dataType.simpleString} in the table " +
          s"but ${up.simpleString} in the updates — re-typing a column " +
          "is not supported")
    }
    val newFields = upSchema.fields
      .filterNot(f => parentSchema.fieldNames.contains(f.name))
    require(newFields.isEmpty || evolveSchema,
      s"updates carry new columns ${newFields.map(_.name).mkString(", ")}" +
        " — pass evolveSchema=true to add them to the table")
    val evolved =
      if (newFields.isEmpty) None
      else Some(StructType(parentSchema.fields ++
        newFields.map(f =>
          f.copy(dataType = asNullable(f.dataType), nullable = true))))
    commitRewrite(spark, dir, updates.select(key), key, evolved) {
      (touched, cols) =>
        touched.join(updates.select(key), Seq(key), "left_anti")
          .select(cols: _*)
          .unionByName(updates.select(cols: _*))
    }
  }

  /** Version-guarded CDC APPLY as a new snapshot version — the
    * [[Merge.upsertVersioned]] semantics lifted onto the manifest
    * layer, plus an EXACTLY-ONCE transaction token for streaming
    * sinks ([[graft.streaming.SnapshotStream]]):
    *
    *   - the batch is reduced last-wins within itself (max
    *     `versionCol` per key); a stored row survives only if it is
    *     strictly newer than the batch's row for its key (ties go to
    *     the batch), so stale/out-of-order rows are discarded;
    *   - `txn = Some((appId, batchId))` commits the id IN the child
    *     manifest — atomically with the data. A replayed foreachBatch
    *     asks [[lastTxn]] first and SKIPS a batch the table already
    *     holds: true exactly-once, not just idempotent-rewrite, and
    *     readers get full snapshot isolation during the apply (the
    *     concurrent-reader race [[Merge]]'s in-place sink documents
    *     is structurally gone).
    */
  def upsertVersioned(spark: SparkSession, dir: String,
      updates: DataFrame, key: String, versionCol: String,
      txn: Option[(String, Long)] = None): Commit = {
    val schema = tableSchema(spark, dir)
    require(schema.fieldNames.sorted.sameElements(
      updates.schema.fieldNames.sorted),
      s"updates columns ${updates.schema.fieldNames.mkString(",")} do " +
        s"not match table columns ${schema.fieldNames.mkString(",")}")
    // same re-type rejection as upsert: name-only matching would let a
    // mistyped column stage files that disagree with the manifest's
    // recorded schema — every later read of the version would fail
    schema.fields.foreach { f =>
      val up = updates.schema(f.name).dataType
      require(asNullable(up) == asNullable(f.dataType),
        s"column ${f.name} is ${f.dataType.simpleString} in the table " +
          s"but ${up.simpleString} in the updates — re-typing a column " +
          "is not supported")
    }
    val reduced = Merge.reduceLastWins(updates, key, versionCol)
    commitRewrite(spark, dir, reduced.select(key), key, txn = txn)(
      (touched, cols) =>
        Merge.versionGuardCombine(touched, reduced, key, versionCol,
          cols))
  }

  /** Keyed delete (takedown) as a new version. */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      key: String): Commit =
    commitRewrite(spark, dir, keys.select(key).distinct(), key) {
      (touched, cols) =>
        touched.join(keys.select(key).distinct(), Seq(key), "left_anti")
          .select(cols: _*)
    }

  /** Coalesce the current version's data into ≈`targetFileBytes`
    * clustered files as a NEW VERSION — the snapshot-aware form of
    * [[Layout.compact]]: frequent small upserts fragment the
    * clustering (each rewrite re-clusters only its touched range, and
    * insert-only commits add single files); compaction restores
    * footer selectivity and file sizing WITHOUT breaking history —
    * prior versions keep reading their own manifests, and
    * [[diff]] across the compaction reports zero changes (every file
    * is replaced, no row is). [[vacuum]] past the compaction point
    * reclaims the fragments.
    */
  def compact(spark: SparkSession, dir: String, key: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Commit = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val (fs, root) = fsOf(spark, dir)
    val parent = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed version — init first"))
    keyColumn(spark, dir, parent).foreach(k => require(k == key,
      s"$dir is keyed by $k; compact must use that key, got $key"))
    val files = manifest(spark, dir, parent)
    val bytes = files.map(f =>
      fs.getFileStatus(new Path(dataDir(root), f)).getLen).sum
    val n = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      .toInt
    val df = read(spark, dir, Some(parent))
    val zorder = zorderColumns(spark, dir, parent)
    val staged = writeData(df, fs, root, key, n, zorder)
    val rows = ParquetRead.read(spark,
      staged.map(f => new Path(dataDir(root), f).toString): _*).count()
    val statsCols = statsColumns(spark, dir, parent)
    val stats = stagedStats(spark, root, staged, key +: statsCols)
    commitVersion(spark, fs, root, dir, parent + 1, Nil,
      entriesFromStats(staged, key, statsCols, stats), df.schema,
      key, statsCols, None, nextTs(spark, dir, Some(parent)), zorder)
    Commit(parent + 1, staged, files.size, rows)
  }

  /** RESTORE: commit a NEW version whose content is exactly that of
    * an earlier `toVersion` — the Delta `RESTORE TABLE ... TO VERSION
    * AS OF` shape. History is append-only: nothing after `toVersion`
    * is deleted (time travel to the undone versions still works, and
    * a racing reader never sees the chain shrink); the rollback is
    * itself a commit, CAS-arbitrated like any other, with its own
    * `#ts=` stamp (so TIMESTAMP AS OF keeps a consistent timeline)
    * and an optional `txn` token for exactly-once streaming callers.
    *
    * Cost is manifest-only — NO data IO: a tree-format source version
    * re-commits its chunk refs BY NAME (the restored version file is
    * O(chunks) headers, chunks are neither read nor rewritten); a
    * flat source re-lists its entries. Data files are shared with the
    * source version by reference, exactly like any carried-chunk
    * child, so vacuum keeps them alive as long as either version is
    * retained. Restoring the current head is a no-op commit (allowed:
    * it leaves an explicit audit row in [[history]]).
    *
    * Requires `toVersion` to still be retained — a vacuumed-away
    * source fails with the missing-manifest error, never a silent
    * partial restore.
    */
  def restore(spark: SparkSession, dir: String, toVersion: Long,
      txn: Option[(String, Long)] = None): Commit = {
    val (fs, root) = fsOf(spark, dir)
    val parent = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed version — init first"))
    require(toVersion >= 0 && toVersion <= parent,
      s"restore target v$toVersion outside committed range 0..$parent")
    val schema = tableSchema(spark, dir, Some(toVersion))
    val key = keyColumn(spark, dir, toVersion).getOrElse(
      throw new IllegalStateException(
        s"v$toVersion of $dir records no #keycol header (legacy " +
          "manifest) — restore needs the keyed-commit metadata"))
    val statsCols = statsColumns(spark, dir, toVersion)
    val zorder = zorderColumns(spark, dir, toVersion)
    val (carried, loose) = treeRefs(spark, dir, toVersion) match {
      case Some(refs) => (refs, Seq.empty[Entry])
      case None => (Seq.empty[ChunkRef],
        bodyEntries(parseBody(manifestLines(spark, dir, toVersion)),
          statsCols))
    }
    commitVersion(spark, fs, root, dir, parent + 1, carried, loose,
      schema, key, statsCols, txn, nextTs(spark, dir, Some(parent)),
      zorder)
    // files = the restored manifest's inventory names for a flat
    // source (tree refs are carried unexpanded — listing them would
    // defeat the O(chunks) commit); filesReplaced 0 and rowsWritten 0
    // are literal: restore moves no data
    Commit(parent + 1, loose.map(_.name), 0, 0L)
  }

  /** Row-level changes between two versions, computed from ONLY the
    * files the versions do NOT share — the structural-sharing payoff:
    * a key whose file is referenced by both manifests cannot have
    * changed (files are immutable), so the shared bulk of a 100 TB
    * table never gets read; diff cost is O(files replaced between the
    * versions), however old the table is. Within the non-shared files,
    * a full-outer join on `key` classifies each key as
    * `inserted` / `deleted` / `updated`; rewritten-but-identical
    * survivor rows (an upsert rewrites whole files, carrying untouched
    * neighbors along) are recognized by payload hash and dropped.
    *
    * Output: `change` + the table's columns — the NEW row for
    * inserted/updated, the OLD row for deleted. The CDC extract that
    * feeds [[IncrementalAgg.refresh]]-style downstream maintenance.
    */
  def diff(spark: SparkSession, dir: String, fromV: Long, toV: Long,
      key: String): DataFrame = {
    val schema = tableSchema(spark, dir, Some(toV))
    diffTwoSided(spark, dir, fromV, toV, key)
      .select(col("change") +: schema.fieldNames.map { c =>
        val newC = if (c == key) col(key) else col(c)
        val oldC = if (c == key) col("__ok") else col(s"__o_$c")
        when(col("change") === "deleted", oldC).otherwise(newC).as(c)
      }.toSeq: _*)
  }

  /** [[diff]]'s two-sided core: `change` + the NEW row in the table's
    * columns (null for deleted) + the OLD row as `__ok` / `__o_<c>`
    * (null for inserted) — what a retraction consumer
    * ([[IncrementalAgg.refreshFromChanges]]) needs that the
    * single-sided CDC projection drops.
    */
  /** The two versions' file sets with SHARED-CHUNK files already
    * cancelled: when both versions are tree-format, a chunk carried by
    * the same name references the same immutable files on both sides —
    * they cannot contribute a difference, so neither side expands it.
    * Diff planning on a tree table is therefore O(changed chunks)
    * manifest reads, completing the O(changed) story end to end (a
    * flat version on either side falls back to the full lists, whose
    * set-difference is equally correct).
    */
  private def diffFileSets(spark: SparkSession, dir: String,
      fromV: Long, toV: Long): (Set[String], Set[String]) =
    (treeRefs(spark, dir, fromV), treeRefs(spark, dir, toV)) match {
      case (Some(a), Some(b)) =>
        val shared = a.map(_.name).toSet.intersect(b.map(_.name).toSet)
        def expand(refs: Seq[ChunkRef]) = refs
          .filterNot(r => shared.contains(r.name))
          .flatMap(r => chunkBody(spark, dir, r.name).files).toSet
        (expand(a), expand(b))
      case _ =>
        (manifest(spark, dir, fromV).toSet,
          manifest(spark, dir, toV).toSet)
    }

  private[extra] def diffTwoSided(spark: SparkSession, dir: String,
      fromV: Long, toV: Long, key: String): DataFrame = {
    require(fromV < toV, s"diff wants fromV < toV, got $fromV..$toV")
    val (_, root) = fsOf(spark, dir)
    val (fromFiles, toFiles) = diffFileSets(spark, dir, fromV, toV)
    // toV's schema on BOTH sides: across an evolution, fromV's rows
    // read the added columns as NULL, exactly how toV's survivors
    // carried them — identical-payload survivors still hash-cancel
    val schema = tableSchema(spark, dir, Some(toV))
    def readFiles(names: Set[String]): DataFrame =
      if (names.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(names.toSeq.sorted
        .map(f => new Path(dataDir(root), f).toString): _*)
    val payload = schema.fieldNames.filterNot(_ == key).map(col).toSeq
    val olds = readFiles(fromFiles -- toFiles)
      .withColumn("__oh", xxhash64(payload: _*))
    val news = readFiles(toFiles -- fromFiles)
      .withColumn("__nh", xxhash64(payload: _*))
    val oldSide = olds.select(
      (col(key).as(s"__ok") +: schema.fieldNames.filterNot(_ == key)
        .map(c => col(c).as(s"__o_$c")).toSeq) :+ col("__oh"): _*)
    news.join(oldSide, col(key) === col("__ok"), "full_outer")
      .withColumn("change",
        when(col("__ok").isNull, lit("inserted"))
          .when(col(key).isNull, lit("deleted"))
          .when(col("__oh") =!= col("__nh"), lit("updated")))
      .filter(col("change").isNotNull)
  }

  /** Time-based retention: [[vacuum]] with the floor resolved from
    * commit stamps — keep every version needed to time-travel to ANY
    * instant inside the retention window (the latest version at or
    * before the cutoff is the window start's snapshot, so it stays).
    * No-op when every retained version is younger than the window or
    * the table predates `#ts=` stamps entirely (legacy versions rank
    * before any timestamp, so they only fall once a stamped version
    * covers the cutoff). The Delta `RETAIN n HOURS` shape.
    */
  def vacuumOlderThan(spark: SparkSession, dir: String,
      retention: java.time.Duration,
      orphanGraceMs: Long = 60L * 60 * 1000): Seq[String] = {
    require(!retention.isNegative, "retention must be >= 0")
    val cutoff = clock() - retention.toMillis
    val floor =
      try versionAsOf(spark, dir, cutoff)
      catch {
        // every version is younger than the cutoff → nothing to drop
        case _: IllegalArgumentException
            if latestVersion(spark, dir).isDefined => return Nil
      }
    vacuum(spark, dir, floor, orphanGraceMs)
  }

  /** Drop manifests with version < `retainFrom`, then delete every
    * data file no surviving manifest references — both the dropped
    * versions' exclusive files AND ORPHANS (files a crashed or
    * race-losing writer moved into `data/` without ever committing a
    * manifest; they are referenced by nothing and would otherwise leak
    * forever). Orphans younger than `orphanGraceMs` are spared: an
    * IN-FLIGHT writer's files look identical to orphans between its
    * data move and its manifest commit, and the grace window is what
    * keeps vacuum from racing it. Time travel below the floor is
    * gone; everything at or above it still reads exactly. Returns the
    * deleted data file names.
    */
  def vacuum(spark: SparkSession, dir: String, retainFrom: Long,
      orphanGraceMs: Long = 60L * 60 * 1000): Seq[String] = {
    val (fs, root) = fsOf(spark, dir)
    val qroot = fs.makeQualified(root)
    val md = manifestDir(root)
    val versions = fs.listStatus(md).toSeq.flatMap(f => versionOf(f.getPath))
    val (drop, keep) = versions.partition(_ < retainFrom)
    require(keep.nonEmpty, s"vacuum would drop every version of $dir")
    val live = keep.flatMap(v => manifest(spark, dir, v)).toSet
    // capture the dropped versions' file AND chunk lists BEFORE
    // deleting their manifests (deletable at any age — their versions
    // are gone); chunks may be SHARED with retained versions, so only
    // the ones no survivor references die
    val droppedRefs = drop.flatMap(v => manifest(spark, dir, v)).toSet
    val keptChunks = keep.flatMap(v => treeRefs(spark, dir, v)
      .getOrElse(Nil).map(_.name)).toSet
    val droppedChunks = drop.flatMap(v => treeRefs(spark, dir, v)
      .getOrElse(Nil).map(_.name)).toSet
    // drop old manifests first: a crash mid-vacuum must never leave a
    // manifest pointing at deleted files
    drop.foreach { v =>
      fs.delete(new Path(md, s"v$v"), false)
      // the lines cache assumes manifests are immutable AND live;
      // a dropped version must stop resolving (time travel below the
      // floor is gone), so evict it
      evictManifest(qroot, s"v$v")
    }
    val cutoff = System.currentTimeMillis() - orphanGraceMs
    // chunk files no retained version references: dropped versions'
    // exclusive chunks die at any age; ORPHANS (a crashed or
    // race-losing writer's chunks — written before the version-file
    // CAS) get the same grace window as orphan data files, since an
    // in-flight writer's chunks look identical until its commit lands
    fs.listStatus(md).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith("c-"))
      .filter(f => !keptChunks.contains(f.getPath.getName))
      .filter(f => droppedChunks.contains(f.getPath.getName) ||
        f.getModificationTime <= cutoff)
      .foreach { f =>
        fs.delete(f.getPath, false)
        evictManifest(qroot, f.getPath.getName)
      }
    // a writer that crashed between staging and publishing its
    // version file leaves a .tmp- sibling ([[AtomicFiles]]); grace-
    // aged ones are dead by definition (the publish link is atomic)
    fs.listStatus(md).toSeq
      .filter(f => f.isFile && f.getPath.getName.startsWith(".tmp-"))
      .filter(_.getModificationTime <= cutoff)
      .foreach(f => fs.delete(f.getPath, false): Unit)
    val dead = fs.listStatus(dataDir(root)).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .filter(f => !live.contains(f.getPath.getName))
      .filter(f => droppedRefs.contains(f.getPath.getName) ||
        f.getModificationTime <= cutoff)
      .map(_.getPath.getName)
    dead.sorted.map { f =>
      fs.delete(new Path(dataDir(root), f), false); f
    }
  }

  /** Shared rewrite-commit: prune the current manifest's files on the
    * batch's key ranges, rewrite only those, commit child manifest =
    * (parent − touched) ∪ new files.
    */
  private def commitRewrite(spark: SparkSession, dir: String,
      batchKeys: DataFrame, key: String,
      evolved: Option[StructType] = None,
      txn: Option[(String, Long)] = None)
      (fn: (DataFrame, Seq[org.apache.spark.sql.Column]) => DataFrame)
      : Commit = {
    val (fs, root) = fsOf(spark, dir)
    val parent = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no committed version — init first"))
    // the child's schema: the parent's, or the caller's widened one —
    // touched files are read under IT (missing new columns → NULL), so
    // `fn` sees fully-evolved rows and the rewrite lands evolved files
    val schema = evolved.getOrElse(tableSchema(spark, dir, Some(parent)))
    val keyType = schema(key).dataType
    require(Seq(LongType, IntegerType, StringType).contains(keyType),
      s"snapshot key $key has unsupported type $keyType")
    // a rewrite on a different column than the table's cluster key
    // would re-cluster the touched files on that column (degrading
    // the layout) and stamp the child manifest's #keycol/#range stats
    // for a column the carried entries do not describe — reject it
    keyColumn(spark, dir, parent).foreach(k => require(k == key,
      s"$dir is keyed by $k; upsert/delete must use that key, got $key"))
    val statsCols = statsColumns(spark, dir, parent)
    val keyStatsOk = keyColumn(spark, dir, parent).contains(key)
    val hconf = spark.sparkContext.hadoopConfiguration

    // candidate entries: on a TREE parent, chunks whose aggregate key
    // range misses every batch key are CARRIED BY NAME — their chunk
    // files are neither read nor rewritten, which is what makes a
    // small upsert on a 10⁶-file table O(touched manifests). A LEGACY
    // parent (#range lines but no #keycol) can't prove which column
    // its ranges describe — strip them (footer fallback, conservative)
    // and let this commit's staged entries start the trustworthy
    // record; secondary-column ranges carry either way.
    val (carriedCold, candGroups) = treeRefs(spark, dir, parent) match {
      case Some(refs) =>
        val cand =
          if (keyStatsOk) pruneChunks(spark, refs, keyType, batchKeys, key)
          else refs
        val candSet = cand.map(_.name).toSet
        (refs.filterNot(r => candSet.contains(r.name)),
          cand.map(r => Option(r) ->
            bodyEntries(chunkBody(spark, dir, r.name), statsCols)))
      case None =>
        (Seq.empty[ChunkRef],
          Seq((Option.empty[ChunkRef]) ->
            bodyEntries(parseBody(manifestLines(spark, dir, parent)),
              statsCols)))
    }
    val candEntries = candGroups.map { case (r, es) =>
      r -> (if (keyStatsOk) es else es.map(_.copy(keyRange = None)))
    }
    val ranged = candEntries.flatMap(_._2).map { e =>
      val p = new Path(dataDir(root), e.name)
      p.toString -> e.keyRange.map(parseRange(keyType, _))
        .orElse(Merge.footerKeyRange(p, key, hconf))
    }
    val touchedNames = Merge.pruneRanged(spark, ranged, keyType,
      batchKeys, key).map(p => new Path(p).getName).toSet

    val cols = schema.fieldNames.map(col).toSeq
    val touchedRows =
      if (touchedNames.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(
        touchedNames.toSeq.sorted
          .map(f => new Path(dataDir(root), f).toString): _*)
    val out = fn(touchedRows, cols)
    val zorder = zorderColumns(spark, dir, parent)
    val staged = writeData(out, fs, root, key,
      math.max(1, touchedNames.size), zorder)
    val rows = if (staged.isEmpty) 0L else ParquetRead.read(spark,
      staged.map(f => new Path(dataDir(root), f).toString): _*).count()
    // carried-by-reference entries keep their parent-manifest ranges;
    // only the staged files' footers are read (once, while hot).
    // Candidate chunks with NO touched file are carried whole (chunk
    // ref reused); partially-touched chunks contribute their
    // survivors as loose entries for re-packing.
    val staged2 = stagedStats(spark, root, staged, key +: statsCols)
    val carried = Seq.newBuilder[ChunkRef]
    carried ++= carriedCold
    val loose = Seq.newBuilder[Entry]
    candEntries.foreach { case (refOpt, es) =>
      val untouched = !es.exists(e => touchedNames.contains(e.name))
      if (untouched && refOpt.isDefined) carried += refOpt.get
      else loose ++= es.filterNot(e => touchedNames.contains(e.name))
    }
    loose ++= entriesFromStats(staged, key, statsCols, staged2)
    val looseEntries = loose.result()
    commitVersion(spark, fs, root, dir, parent + 1, carried.result(),
      looseEntries, schema, key, statsCols, txn,
      nextTs(spark, dir, Some(parent)), zorder)
    // Commit.files: for a flat child (nothing carried) this is the
    // full inventory, as always; for a tree child it lists the files
    // named in NEW manifests (rewritten survivors + staged) — the
    // full inventory is manifest(), which a tree commit deliberately
    // never materializes
    Commit(parent + 1, looseEntries.map(_.name), touchedNames.size, rows)
  }

  /** Write rows as new clustered data files (staging + move into
    * `data/` under their part-UUID names, which cannot collide) and
    * return the new files' relative names. Files land BEFORE the
    * manifest commit references them — a crashed writer leaves
    * unreferenced files (vacuum fodder), never a dangling manifest.
    */
  private val TsConfKey = "spark.sql.parquet.outputTimestampType"
  // per-session refcount for the scoped conf override: two CONCURRENT
  // writers on one session (the supported optimistic-commit race) must
  // not interleave set/restore — a naive save-and-restore lets writer
  // A's restore flip the conf back mid-write for B (B's files then
  // carry INT96 = no timestamp stats, forever), and B's restore then
  // leaks the override into the session. First-in saves, last-out
  // restores; everyone in between just bumps the count.
  private val tsConfDepth =
    new java.util.concurrent.ConcurrentHashMap[SparkSession,
      (Int, Option[String])]()

  private def withMicrosTimestamps[T](spark: SparkSession)(f: => T): T = {
    tsConfDepth.synchronized {
      val (d, prev) = tsConfDepth.getOrDefault(spark, (0, None))
      if (d == 0) {
        val p = spark.conf.getOption(TsConfKey)
        spark.conf.set(TsConfKey, "TIMESTAMP_MICROS")
        tsConfDepth.put(spark, (1, p))
      } else tsConfDepth.put(spark, (d + 1, prev))
    }
    try f
    finally tsConfDepth.synchronized {
      val (d, prev) = tsConfDepth.get(spark)
      if (d == 1) {
        prev match {
          case Some(v) => spark.conf.set(TsConfKey, v)
          case None => spark.conf.unset(TsConfKey)
        }
        tsConfDepth.remove(spark): Unit
      } else tsConfDepth.put(spark, (d - 1, prev))
    }
  }

  private def writeData(df: DataFrame, fs: FileSystem, root: Path,
      key: String, numFiles: Int, zorder: Seq[String] = Nil)
      : Seq[String] =
    // Snapshot data files always use TIMESTAMP(MICROS), never INT96:
    // INT96 writes NO footer min/max statistics, which would leave
    // timestamp statsCols blank in the manifest AND disable parquet
    // row-group skipping on every time predicate over the table.
    withMicrosTimestamps(df.sparkSession)(
      writeDataInner(df, fs, root, key, numFiles, zorder))

  private def writeDataInner(df: DataFrame, fs: FileSystem, root: Path,
      key: String, numFiles: Int, zorder: Seq[String]): Seq[String] = {
    // PER-WRITER staging dir: two writers racing the same parent both
    // stage (only one will win the manifest commit) — a shared path
    // would let writer B's cleanup wipe writer A's staged files or
    // leak B's files into A's manifest
    val staging = new Path(root,
      s".snapshot-staging-${java.util.UUID.randomUUID()}")
    try {
      if (zorder.nonEmpty)
        Layout.writeZOrdered(df, staging.toString, zorder, numFiles)
      else
        Layout.writeClustered(df, staging.toString, Seq(col(key)), numFiles)
      val dd = dataDir(root)
      fs.mkdirs(dd)
      val moved = fs.listStatus(staging).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map { f =>
          val dst = new Path(dd, f.getPath.getName)
          require(fs.rename(f.getPath, dst),
            s"failed to move staged file ${f.getPath} to $dst")
          f.getPath.getName
        }
      moved.sorted
    } finally fs.delete(staging, true): Unit
  }
}
