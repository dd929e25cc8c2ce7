package graft.extra

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.util.ParquetRead

/** Keyed copy-on-write MERGE (upsert / delete) over a clustered parquet
  * layout — the incremental-refresh half of table maintenance that
  * [[Layout.writeClustered]] / [[Layout.compact]] leave open. A training
  * corpus at scale is not rebuilt per batch; it is upserted (new and
  * re-crawled documents replace same-key rows) and selectively purged
  * (takedown / right-to-be-forgotten keys), with everything else staying
  * on disk untouched.
  *
  * The scale posture is file-level pruning on parquet FOOTER STATS, the
  * same machinery [[Layout.writeClustered]] lays the data out for:
  *
  *   1. the driver reads each file's footer min/max for the merge key
  *      (O(files) metadata reads, no data scan — the same cost model as
  *      a Delta/Iceberg manifest, with the footer standing in for the
  *      manifest entry);
  *   2. ONE distributed pass over the key batch marks which files'
  *      [min,max] ranges actually contain a batch key — files outside
  *      every key range are never opened;
  *   3. only the touched files are read (`parquet(paths:_*)`), their
  *      same-key rows dropped (left-anti join on the batch keys), and
  *      the survivors — plus, for upsert, the full update batch — are
  *      written back clustered on the key;
  *   4. untouched files are left in place — zero bytes moved for the
  *      cold part of the table. New files land beside them with
  *      collision-free Spark part-UUID names; replaced files are deleted
  *      LAST, so a crash mid-merge leaves duplicates (re-runnable for
  *      upsert, re-runnable-to-empty for delete), not data loss.
  *
  * Single-writer, no-concurrent-reader contract: without a manifest, a
  * reader racing step 4 can observe both the old and new copy of a
  * touched row. At 100 TB this pairs with a catalog/manifest commit
  * (swap the file list atomically); the data movement — the expensive
  * part — is exactly what this operator bounds.
  */
object Merge {

  /** Result of a merge: how much of the table the operation touched. */
  final case class MergeStats(
      filesTotal: Int,
      filesRewritten: Int,
      rowsWritten: Long)

  /** Per-file key range from the parquet footer (min, max), or None when
    * the file has no non-null stats for the key (merge then conservatively
    * treats it as touched).
    */
  private[extra] def footerKeyRange(file: Path, key: String,
      conf: org.apache.hadoop.conf.Configuration): Option[(Any, Any)] =
    footerRanges(file, Seq(key), conf).get(key)

  /** Per-file (min, max) for SEVERAL columns from ONE footer open —
    * what [[Snapshots]]' commit-time stats pass calls so that stat-ing
    * N columns costs the same single metadata read as one. Columns
    * with no usable stats in any block are simply absent from the map.
    */
  private[extra] def footerRanges(file: Path, cols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)
      : Map[String, (Any, Any)] =
    footerRangesAndRows(file, cols, conf)._2

  /** [[footerRanges]] plus the file's total row count from the same
    * single footer open — lets a stats-recording writer distinguish an
    * EMPTY file (no rows, prune always) from a populated file whose
    * stats the writer suppressed (unknown range, prune never).
    */
  private[extra] def footerRangesAndRows(file: Path, cols: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)
      : (Long, Map[String, (Any, Any)]) = {
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = rdr.getFooter.getBlocks.asScala
      (blocks.map(_.getRowCount).sum,
        cols.flatMap(c => colRange(blocks, c).map(c -> _)).toMap)
    } finally rdr.close()
  }

  private def colRange(
      blocks: scala.collection.Seq[
        org.apache.parquet.hadoop.metadata.BlockMetaData],
      key: String): Option[(Any, Any)] = {
      val ranges = blocks.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == key)
          .flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else c.getPrimitiveType.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT64 =>
                Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue: Any,
                  st.genericGetMax.asInstanceOf[java.lang.Long].longValue: Any))
              case PrimitiveTypeName.INT32 =>
                Some((st.genericGetMin.asInstanceOf[java.lang.Integer].intValue: Any,
                  st.genericGetMax.asInstanceOf[java.lang.Integer].intValue: Any))
              case PrimitiveTypeName.BINARY =>
                // decode the raw UTF-8 binary (not minAsString's debug
                // form). Footer stats are untruncated by default; if a
                // writer enables parquet.statistics.truncate.length the
                // truncator keeps min a lower and max an upper bound, so
                // pruning stays conservative (never skips a true match)
                Some((st.genericGetMin
                  .asInstanceOf[org.apache.parquet.io.api.Binary]
                  .toStringUsingUTF8: Any,
                  st.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8: Any))
              case _ => None
            }
          }
      }
      if (ranges.isEmpty || ranges.size != blocks.size) None
      else {
        implicit val ord: Ordering[Any] = new Ordering[Any] {
          def compare(a: Any, b: Any): Int =
            a.asInstanceOf[Comparable[Any]].compareTo(b)
        }
        Some((ranges.map(_._1).min, ranges.map(_._2).max))
      }
  }

  /** Upsert `updates` into the parquet table at `dir` on unique key
    * `key`: rows in the table whose key appears in `updates` are
    * replaced, all other update rows are inserted, everything else is
    * untouched ON DISK. Returns merge stats.
    *
    * Requirements: `updates` has the table's schema and at most one row
    * per key (enforced — a multi-row key would make "last wins"
    * nondeterministic); key type is long/int/string (the footer-stats
    * types this prunes on).
    */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
      key: String): MergeStats = {
    val schema = ParquetRead.read(spark, dir).schema
    require(schema.fieldNames.sameElements(updates.schema.fieldNames),
      s"updates schema ${updates.schema.fieldNames.mkString(",")} does not " +
        s"match table schema ${schema.fieldNames.mkString(",")}")
    // one pass over the batch: row count + distinct-key count together
    val cnts = updates.agg(count(lit(1)).as("n"),
      count_distinct(col(key)).as("d")).head()
    val (n, d) = (cnts.getLong(0), cnts.getLong(1))
    require(n == d, s"updates carry $n rows but only $d distinct " +
      s"$key values — dedup (e.g. latest-wins) before merging")
    rewriteTouched(spark, dir, schema, updates.select(key), key,
      insert = Some(updates), batchRows = n)
  }

  /** Delete every row whose `key` appears in `keys` (a 1-column frame
    * named `key`, or any frame containing that column) — the takedown /
    * right-to-be-forgotten operation. Files whose footer range holds no
    * requested key are never opened or moved; keys absent from the table
    * are ignored. Returns merge stats (`rowsWritten` = surviving rows
    * rewritten, not rows deleted).
    */
  def delete(spark: SparkSession, dir: String, keys: DataFrame,
      key: String): MergeStats = {
    val schema = ParquetRead.read(spark, dir).schema
    require(keys.schema.fieldNames.contains(key),
      s"keys frame has no $key column")
    val n = keys.select(key).distinct().count()
    rewriteTouched(spark, dir, schema, keys.select(key).distinct(), key,
      insert = None, batchRows = n)
  }

  /** Version-guarded upsert — the CDC APPLY operation: a batch row
    * replaces the stored row of the same key only when its
    * `versionCol` is >= the stored one (ties go to the batch); stale
    * batch rows are DISCARDED rather than applied. Two properties fall
    * out, and they are why a streaming sink wants this form
    * ([[graft.streaming.MergeStream]]):
    *
    *   - REPLAY IDEMPOTENCE: re-applying a batch (foreachBatch is
    *     at-least-once on crash recovery) rewrites the same content —
    *     a replay can never regress the table;
    *   - OUT-OF-ORDER SAFETY: a late batch carrying versions older
    *     than what a newer batch already applied is a no-op for those
    *     keys.
    *
    * The batch is first reduced last-wins WITHIN itself (max
    * `versionCol` per key; at most one row per (key, version) is the
    * caller contract that keeps the reduction deterministic — the
    * same-key-same-version case has no defined winner). File pruning,
    * staging, and commit order are identical to [[upsert]].
    */
  def upsertVersioned(spark: SparkSession, dir: String, updates: DataFrame,
      key: String, versionCol: String): MergeStats = {
    val schema = ParquetRead.read(spark, dir).schema
    require(schema.fieldNames.sameElements(updates.schema.fieldNames),
      s"updates schema ${updates.schema.fieldNames.mkString(",")} does " +
        s"not match table schema ${schema.fieldNames.mkString(",")}")
    val reduced = reduceLastWins(updates, key, versionCol)
    val nKeys = reduced.count()
    rewriteTouchedFn(spark, dir, schema, reduced.select(key), key,
      batchRows = nKeys, hasInsert = true)(touched =>
      versionGuardCombine(touched, reduced, key, versionCol,
        schema.fieldNames.map(col).toSeq))
  }

  /** Within-batch last-wins reduction: each key's max-`versionCol`
    * row. Duplicate (key, version) pairs are rejected — the reduction
    * has no deterministic winner for them. Shared by the merge-layer
    * and snapshot-layer CDC applies.
    */
  private[extra] def reduceLastWins(updates: DataFrame, key: String,
      versionCol: String): DataFrame = {
    val cnts = updates.agg(count(lit(1)).as("n"),
      count_distinct(col(key), col(versionCol)).as("d")).head()
    require(cnts.getLong(0) == cnts.getLong(1),
      s"updates carry duplicate ($key, $versionCol) pairs — the " +
        "within-batch reduction has no deterministic winner")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(col(versionCol).desc)
    updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** The version-guard combine both CDC applies share: a stored row
    * survives iff no batch row for its key or it is strictly newer
    * (ties go to the batch); a batch row applies iff no stored row or
    * it is >= the stored one — exact complements, so each key yields
    * ONE row.
    */
  private[extra] def versionGuardCombine(touched: DataFrame,
      reduced: DataFrame, key: String, versionCol: String,
      cols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val bv = reduced.select(col(key), col(versionCol).as("__bv"))
    val survivors = touched
      .join(bv, Seq(key), "left_outer")
      .filter(col("__bv").isNull || col(versionCol) > col("__bv"))
      .select(cols: _*)
    val ev = touched.select(col(key), col(versionCol).as("__ev"))
    val winners = reduced
      .join(ev, Seq(key), "left_outer")
      .filter(col("__ev").isNull || col("__ev") <= col(versionCol))
      .select(cols: _*)
    survivors.unionByName(winners)
  }

  /** Keyed read-modify-write — the COMBINE form of merge that
    * [[graft.extra.IncrementalAgg]] builds on: instead of replacing
    * same-key rows wholesale (upsert) or conditionally (versioned), the
    * caller's `combine(storedTouched, batch)` computes the replacement
    * rows — e.g. summing partial-aggregate state with a delta. File
    * pruning, staging, and commit order are identical to [[upsert]]:
    * only files whose footer key range intersects a batch key are read
    * and rewritten; combine output for keys absent from every file is
    * inserted as new files.
    *
    * Contract: `batch` has the table's schema (names AND types — a
    * widened decimal would silently fork the on-disk schema across
    * files) and at most one row per `key`; `combine` must emit at most
    * one row per key and must not touch keys outside
    * `storedTouched ∪ batch` (those files are not rewritten).
    * NOT replay-idempotent in general: re-applying a combine batch
    * applies the delta twice — pair with a manifest/marker commit when
    * the caller needs exactly-once (see [[IncrementalAgg]]).
    */
  def mergeKeyed(spark: SparkSession, dir: String, batch: DataFrame,
      key: String)(combine: (DataFrame, DataFrame) => DataFrame)
      : MergeStats = {
    val schema = ParquetRead.read(spark, dir).schema
    val tbl = schema.fields.map(f => (f.name, f.dataType)).toSeq
    val bat = batch.schema.fields.map(f => (f.name, f.dataType)).toSeq
    require(tbl == bat,
      s"batch schema ${bat.mkString(",")} does not match table " +
        s"schema ${tbl.mkString(",")}")
    val cnts = batch.agg(count(lit(1)).as("n"),
      count_distinct(col(key)).as("d")).head()
    require(cnts.getLong(0) == cnts.getLong(1),
      s"batch carries ${cnts.getLong(0)} rows but only " +
        s"${cnts.getLong(1)} distinct $key values — reduce per key " +
        "before merging")
    rewriteTouchedFn(spark, dir, schema, batch.select(key), key,
      batchRows = cnts.getLong(0), hasInsert = true)(
      touched => combine(touched, batch))
  }

  /** Anti-join-∪-insert core shared by [[upsert]] and [[delete]];
    * [[upsertVersioned]] supplies its conditional form via
    * [[rewriteTouchedFn]] directly.
    */
  private def rewriteTouched(spark: SparkSession, dir: String,
      schema: StructType, batchKeys: DataFrame, key: String,
      insert: Option[DataFrame], batchRows: Long): MergeStats =
    rewriteTouchedFn(spark, dir, schema, batchKeys, key, batchRows,
      hasInsert = insert.nonEmpty) { touched =>
      val cols = schema.fieldNames.map(col).toSeq
      val survivors = touched.join(batchKeys, Seq(key), "left_anti")
      insert.foldLeft(survivors.select(cols: _*))(
        (s, ins) => s.unionByName(ins.select(cols: _*)))
    }

  /** Footer-range file pruning: the subset of `files` whose parquet
    * footer [min,max] on `key` may contain a batch key (plus stat-less
    * files, conservatively). O(files) driver-side metadata reads + one
    * distributed pass over the batch — no data scan. Shared by the
    * in-place rewrite below and [[Snapshots]]' manifest commits.
    * The broadcast side is O(files) rows; the range predicate makes
    * the probe a broadcast nested-loop — fine while files ≪ batch;
    * bucket the ranges if the file count ever rivals the batch size.
    */
  private[extra] def pruneTouched(spark: SparkSession, files: Seq[Path],
      keyType: org.apache.spark.sql.types.DataType, batchKeys: DataFrame,
      key: String): Seq[String] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    pruneRanged(spark,
      files.map(p => p.toString -> footerKeyRange(p, key, hconf)),
      keyType, batchKeys, key)
  }

  /** The probe half of [[pruneTouched]] over PRE-RESOLVED ranges — what
    * [[Snapshots]] calls when the manifest already carries each file's
    * key range (no footer is opened at all; `None` entries — files whose
    * stats are unknown — stay conservatively touched).
    */
  private[extra] def pruneRanged(spark: SparkSession,
      ranged: Seq[(String, Option[(Any, Any)])],
      keyType: org.apache.spark.sql.types.DataType, batchKeys: DataFrame,
      key: String): Seq[String] = {
    val statless = ranged.collect { case (p, None) => p }
    val filesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        ranged.collect { case (p, Some((mn, mx))) =>
          org.apache.spark.sql.Row(p, mn, mx)
        }.toSeq, 1),
      StructType(Seq(
        StructField("__file", StringType),
        StructField("__mn", keyType),
        StructField("__mx", keyType))))
    val touched = batchKeys
      .join(broadcast(filesDf),
        col(key) >= col("__mn") && col(key) <= col("__mx"))
      .select("__file").distinct().collect().map(_.getString(0))
    (touched ++ statless).distinct.toSeq
  }

  /** Prune-rewrite core: footer-range file pruning on `batchKeys`,
    * `fn` maps the touched files' rows to the replacement rows, commit
    * is staged-rename-then-delete. `fn` receives an empty (typed)
    * frame when no file is touched (insert-only case).
    */
  private def rewriteTouchedFn(spark: SparkSession, dir: String,
      schema: StructType, batchKeys: DataFrame, key: String,
      batchRows: Long, hasInsert: Boolean)
      (fn: DataFrame => DataFrame): MergeStats = {
    val keyType = schema(key).dataType
    require(Seq(LongType, IntegerType, StringType).contains(keyType),
      s"merge key $key has unsupported type $keyType (footer-stats " +
        "pruning is implemented for long/int/string)")

    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(hconf)
    val files = fs.listStatus(root)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    if (batchRows == 0) return MergeStats(files.length, 0, 0L)

    val rewrite = pruneTouched(spark, files.toSeq, keyType, batchKeys, key)
    if (rewrite.isEmpty && !hasInsert)
      return MergeStats(files.length, 0, 0L)

    val staging = new Path(root, ".merge-staging")
    fs.delete(staging, true)

    val touchedRows =
      if (rewrite.isEmpty) spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(rewrite.toSeq: _*)
    val cols = schema.fieldNames.map(col).toSeq
    val out = fn(touchedRows).select(cols: _*)
    val nFiles = math.max(1, rewrite.length)
    Layout.writeClustered(out, staging.toString, Seq(col(key)), nFiles)
    // row count from the staged footers — metadata only, no second
    // compute of the anti-join ∪ insert plan (a pre-write .count()
    // would run the whole rewrite twice)
    val rows = ParquetRead.read(spark, staging.toString).count()

    // commit: move staged files in (UUID names — no collisions), then
    // delete replaced files last (crash ⇒ duplicates, never loss)
    fs.listStatus(staging)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .foreach(f => fs.rename(f.getPath, new Path(root, f.getPath.getName)))
    fs.delete(staging, true)
    rewrite.foreach(p => fs.delete(new Path(p), false))

    MergeStats(files.length, rewrite.length, rows)
  }
}
