package graft.extra

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.util.ParquetRead

/** Persisted BPE tokenizer model — the trained merge list under the
  * shared [[IndexManifests]] layer, completing the model-registry story
  * for the third trained artifact (NB classifier model, ANN codebooks,
  * and now the tokenizer).
  *
  * A BPE model IS its ordered merge list ([[Text.trainBpe]] output):
  * rank order is application order, so persistence must round-trip the
  * SEQUENCE exactly, not a set. The frame is (rank, a, b) rows in one
  * sorted file — the model is vocab-bounded (a production vocabulary is
  * 30-50k merges ≈ a few hundred KB), so like the classifier's class
  * table it lands as a single sorted segment and loads with one
  * driver-bounded collect.
  *
  * Registry semantics match [[Classifier.save]]: each save is a NEW
  * manifest version (a retrained tokenizer supersedes the head; prior
  * versions stay time-travelable under retention — reproducible
  * serving pins the version its corpus was encoded with, because
  * re-encoding old data under a NEW merge list silently changes every
  * token budget downstream). Loads are memoized per (dir, head
  * signature, version) via [[IndexManifests.cachedByEntries]] — every
  * `graft_bpe_count` call against an unchanged head is a map hit, no
  * Spark job.
  *
  * At 100 TB the model is noise next to the corpus: serving cost is the
  * corpus scan through [[Text.withBpeTokensAuto]]'s tier selection
  * (codegen replace chain ≤ 256 merges, broadcast typed loop above),
  * exactly where it must be.
  */
object BpeModel {

  private val Frames = Seq("merges")

  private val mergeSchema = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("a", StringType, nullable = false),
    StructField("b", StringType, nullable = false)))

  /** Persists a merge list as a new committed version; returns the
    * version. Overwrite segment writes (the [[Classifier.save]] retry
    * discipline): a save that crashed between segment write and
    * manifest commit recomputes the same version instead of wedging.
    */
  def save(spark: SparkSession, merges: Seq[(String, String)],
      dir: String, keepVersions: Int = 2): Long = {
    require(merges.forall { case (a, b) => a.nonEmpty && b.nonEmpty },
      "BPE merge symbols must be non-empty")
    val prev = IndexManifests.latest(spark, dir)
    val v = prev.map(_._1).getOrElse(0L) + 1
    val seg = f"merges/seg-$v%09d"
    val rows = merges.zipWithIndex.map { case ((a, b), i) =>
      Row(i, a, b)
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), mergeSchema)
      .coalesce(1).sortWithinPartitions("rank")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$seg")
    IndexManifests.commit(spark, dir, v, Map("merges" -> Seq(seg)))
    IndexManifests.vacuum(spark, dir, Frames, keepVersions)
    v
  }

  /** Loads the HEAD version's merge list (memoized per head). */
  def load(spark: SparkSession, dir: String): Seq[(String, String)] =
    loadVersion(spark, dir,
      IndexManifests.requireLatest(spark, dir, "BPE model")._1)

  /** Loads a SPECIFIC committed version — time travel across tokenizer
    * refreshes while retention keeps it (the corpus-reproducibility
    * pin: encode with the version the dataset card recorded).
    */
  def loadVersion(spark: SparkSession, dir: String,
      version: Long): Seq[(String, String)] = {
    val entries = IndexManifests.at(spark, dir, version)
    IndexManifests.cachedByEntries(spark, dir,
      Frames :+ s"v$version", entries) {
      val segs = entries.getOrElse("merges", Seq.empty)
      require(segs.nonEmpty,
        s"persisted BPE model at $dir v$version has no 'merges' frame")
      segs.map(s => ParquetRead.read(spark, s"$dir/$s"))
        .reduce(_ unionByName _)
        .orderBy("rank")
        .collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
        .toSeq
    }
  }

  /** Train-and-save in one step — the refresh entry point a scheduled
    * retrain calls: one [[Text.trainBpe]] pass, one new version.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int, dir: String,
      maxWords: Int = 10000, keepVersions: Int = 2): Long =
    save(docs.sparkSession,
      Text.trainBpe(docs, textCol, numMerges, maxWords), dir, keepVersions)

  /** Token counts under a persisted model: (idCol, n_tokens,
    * n_bpe_tokens) through [[Text.withBpeTokensAuto]]'s tier selection
    * — the serving surface `graft_bpe_count` exposes to SQL.
    */
  def tokenCounts(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Text.withBpeTokensAuto(
        docs.select(col(idCol), col(textCol)), textCol, load(spark, dir))
      .select(col(idCol), col("n_tokens"), col("n_bpe_tokens"))
  }
}
