package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.extra.{AnnIndex, Bm25Index, IndexManifests, MinhashIndex,
  SemanticIndex, Similarity, SubstrIndex}

/** The shared tier-fold lifecycle ([[IndexManifests.prepareTier]] then
  * [[IndexManifests.commitTier]]) under each of the five persisted
  * indexes, at a tiny size: a build plus four ledgered appends, folded
  * by `compactTier(fanout = 4)`, must
  *   - leave the read-side answer unchanged;
  *   - swap exactly the picked segments of the lead frame and of every
  *     companion frame for one `<frame>/tier-<v0>` each, carrying the
  *     ledger and every other frame;
  *   - drop the picked segments' `#range=` stats and record one for
  *     every tier-up file (the range-stat indexes);
  *   - refuse (false, head unchanged) a prepared fold whose picks a
  *     major compact removed before its commit;
  *   - throw on a directory with no committed manifest.
  */
class TierFoldSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_tierfold_")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** One index under test: `merged` lists the frames a fold rewrites,
    * lead first; `ranged` those that carry `#range=` stats. `setup`
    * builds plus four appends; `read` is the answer a fold must keep.
    */
  private case class Subject(tier: IndexManifests.TierFold,
      merged: Seq[String], ranged: Seq[String], setup: String => Unit,
      read: String => Seq[String], compactTier: (String, Int) => Boolean,
      compact: String => Unit)

  private def rowsOf(df: DataFrame, order: String*): Seq[String] =
    df.orderBy(order.map(col): _*).collect().map(_.toString).toSeq

  private def head(dir: String) =
    IndexManifests.latestFull(spark, dir).get

  private def check(s: Subject): Unit = {
    val dir = tmp()
    s.setup(dir)
    val before = s.read(dir)
    val (v0, pre, _) = head(dir)
    // prepared now, committed only after a major compact (below)
    val stale = IndexManifests.prepareTier(spark, dir, s.tier, 4)
    assert(stale.isDefined, s"${s.tier.what}: no full tier to fold")

    assert(s.compactTier(dir, 4), s"${s.tier.what}: compactTier no-op")
    val (v1, post, ranges) = head(dir)
    assert(v1 == v0 + 1)
    assert(s.read(dir) == before, s"${s.tier.what}: answer changed")
    assert(post.get(IndexManifests.TxnFrame) ==
      pre.get(IndexManifests.TxnFrame))
    assert(pre.get(IndexManifests.TxnFrame).exists(_.nonEmpty))
    val lead = s.merged.head
    val picked = pre(lead).filterNot(post(lead).contains)
    assert(picked.size == 4, s"${s.tier.what}: picked $picked")
    val names = picked.map(_.stripPrefix(s"$lead/"))
    for (f <- s.merged) {
      val tierUp = f"$f/tier-$v0%09d"
      val gone = names.map(n => s"$f/$n")
      assert(gone.forall(pre(f).contains), s"$f: $gone not all live")
      assert(post(f).filter(_.contains("/tier-")) == Seq(tierUp),
        s"$f: ${post(f)}")
      assert(post(f).toSet == pre(f).toSet -- gone + tierUp,
        s"$f: ${pre(f)} -> ${post(f)}")
    }
    for (f <- pre.keySet -- s.merged) assert(post.get(f) == pre.get(f))
    for (f <- s.ranged) {
      val gone = names.map(n => s"$f/$n/")
      assert(!ranges.keys.exists(k => gone.exists(k.startsWith)),
        s"$f: stats of a merged-away segment survived")
      val tierUp = f"$f/tier-$v0%09d"
      val files = new java.io.File(s"$dir/$tierUp").listFiles()
        .map(_.getName).filter(_.endsWith(".parquet"))
      assert(files.nonEmpty && files.forall(n =>
        ranges.contains(s"$tierUp/$n")), s"$tierUp: missing stats")
    }

    s.compact(dir)
    val h = head(dir)._1
    assert(!IndexManifests.commitTier(spark, dir, s.tier, stale.get),
      s"${s.tier.what}: committed a fold whose picks are gone")
    assert(head(dir)._1 == h)

    intercept[IllegalStateException](s.compactTier(tmp(), 4))
  }

  test("ANN: codes tier fold keeps search rows bit-identical") {
    val emb = graft.model.Tables.load(spark, sfDir, "embeddings")
    def batch(b: Int) =
      emb.filter(col("vec_id") >= 200 + b * 40 &&
        col("vec_id") < 240 + b * 40)
    check(Subject(AnnIndex.Tier, Seq("codes"), Nil,
      dir => {
        AnnIndex.buildAndWriteIvfPq(emb.filter(col("vec_id") < 200),
          "vec_id", "embedding", dir, numCentroids = 8, m = 8,
          pqCentroids = 8)
        for (b <- 0 until 4)
          AnnIndex.appendIvfPq(spark, dir, batch(b), "vec_id",
            "embedding", txn = Some(("s", b.toLong)))
      },
      dir => rowsOf(Similarity.searchIvfPq(
        AnnIndex.readIvfPq(spark, dir), col("id") < 5 || col("id") >= 300,
        k = 5, nprobe = 2), "query_id", "rank"),
      (dir, f) => AnnIndex.compactTier(spark, dir, f),
      dir => AnnIndex.compact(spark, dir)))
  }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog tonight again",
    "completely different corpus content with other words here",
    "a third corpus document about storage engines and parquet",
    "fresh shared run alpha beta gamma delta epsilon zeta eta",
    "streaming ingest folds segments into one tier up segment")
  private def textBatch(b: Int): DataFrame =
    Seq((100L + 2 * b, s"${texts(b)} batch $b"),
      (101L + 2 * b, s"batch $b unique words w${b}a w${b}b w${b}c w${b}d"))
      .toDF("doc_id", "text")
  private val corpus = texts.zipWithIndex
    .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  private val probe = Seq(
    (900L, "the quick brown fox jumps over the lazy dog tonight again"),
    (901L, "batch 2 unique words w2a w2b w2c w2d and more"),
    (902L, "fresh shared run alpha beta gamma delta epsilon zeta eta"),
    (903L, "nothing indexed looks anything like this probe line"))
    .toDF("doc_id", "text")

  test("substr: grams tier fold keeps dedupBatch verdicts and swaps " +
      "range stats") {
    check(Subject(SubstrIndex.Tier, Seq("grams"), Seq("grams"),
      dir => {
        SubstrIndex.build(corpus, "doc_id", "text", dir, k = 5,
          hashed = true)
        for (b <- 0 until 4)
          SubstrIndex.append(textBatch(b), "doc_id", "text", dir,
            txn = Some(("s", b.toLong)))
      },
      dir => rowsOf(SubstrIndex.dedupBatch(spark, dir, probe, "doc_id",
        "text"), "doc_id"),
      (dir, f) => SubstrIndex.compactTier(spark, dir, f),
      dir => SubstrIndex.compact(spark, dir)))
  }

  test("minhash: bands fold with their same-named sets and keep " +
      "dedupBatch verdicts") {
    check(Subject(MinhashIndex.Tier, Seq("bands", "sets"),
      Seq("bands", "sets"),
      dir => {
        MinhashIndex.build(corpus, "doc_id", "text", dir)
        for (b <- 0 until 4)
          MinhashIndex.append(textBatch(b), "doc_id", "text", dir,
            txn = Some(("s", b.toLong)))
      },
      dir => rowsOf(MinhashIndex.dedupBatch(spark, dir, probe, "doc_id",
        "text"), "doc_id"),
      (dir, f) => MinhashIndex.compactTier(spark, dir, f),
      dir => MinhashIndex.compact(spark, dir)))
  }

  test("semantic: vectors tier fold keeps dedupBatch verdicts") {
    def vec(id: Long, v: Float*) = (id, v.toSeq)
    val base = Seq(vec(0L, 1f, 0f, 0f, 0f), vec(1L, 0f, 1f, 0f, 0f),
      vec(2L, 0f, 0f, 1f, 0f)).toDF("doc_id", "embedding")
    def batch(b: Int) = Seq(
      vec(100L + 2 * b, 0.9f, 0.1f * b, 0.05f, 0f),
      vec(101L + 2 * b, 0f, 0.2f, 0.1f * b, 0.9f))
      .toDF("doc_id", "embedding")
    val probeVecs = Seq(vec(900L, 0.98f, 0.02f, 0f, 0f),
      vec(901L, 0f, 0.2f, 0.2f, 0.9f), vec(902L, 0.1f, 0.1f, 0.9f, 0.1f))
      .toDF("doc_id", "embedding")
    check(Subject(SemanticIndex.Tier, Seq("vectors"), Nil,
      dir => {
        SemanticIndex.build(base, "doc_id", "embedding", dir)
        for (b <- 0 until 4)
          SemanticIndex.append(batch(b), "doc_id", "embedding", dir,
            txn = Some(("s", b.toLong)))
      },
      dir => rowsOf(SemanticIndex.dedupBatch(spark, dir, probeVecs,
        "doc_id", "embedding", threshold = 0.95), "doc_id"),
      (dir, f) => SemanticIndex.compactTier(spark, dir, f),
      dir => SemanticIndex.compact(spark, dir)))
  }

  test("BM25: tf folds with its same-named dl/df/meta and keeps top-k " +
      "bit-identical") {
    val docs = graft.model.Tables.load(spark, sfDir, "documents")
    def part(i: Int) = docs.filter(pmod(col("doc_id"), lit(5)) === i)
    check(Subject(Bm25Index.Tier, Seq("tf", "dl", "df", "meta"),
      Seq("tf", "df"),
      dir => {
        Bm25Index.build(part(0), "doc_id", "text", dir)
        for (b <- 1 to 4)
          Bm25Index.append(part(b), "doc_id", "text", dir,
            txn = Some(("s", b.toLong)))
      },
      dir => rowsOf(Bm25Index.search(spark, dir,
        Seq("spark", "shuffle", "join"), idCol = "doc_id", topK = 20),
        "score", "doc_id"),
      (dir, f) => Bm25Index.compactTier(spark, dir, f),
      dir => Bm25Index.compact(spark, dir)))
  }

  private def mainSourceHits(re: scala.util.matching.Regex)
      : Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    Using.resource(Files.walk(root))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toVector)
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined =>
            (f, s"$f:${i + 1}: ${line.trim}")
        }
      }
  }

  test("source guard: the tier policy is called only from IndexManifests") {
    val hits = mainSourceHits(
        """\b(pickTier|segmentBytes|dropRangesUnder)\(""".r)
      .filterNot(_._1.getFileName.toString == "IndexManifests.scala")
    assert(hits.isEmpty, "fold through IndexManifests.prepareTier/" +
      "commitTier:\n" + hits.map(_._2).mkString("\n"))
  }

  test("source guard: one prepared-tier class, no per-index fold phases") {
    val defs = mainSourceHits(
      """\b(?:class|object|trait)\s+\w*PreparedTier\b""".r)
    assert(defs.map(_._1.getFileName.toString) ==
      Seq("IndexManifests.scala"), defs.map(_._2).mkString("\n"))
    val phases = mainSourceHits(
      """\b(prepareCompactTier|commitPreparedTier)\b""".r)
    assert(phases.isEmpty, phases.map(_._2).mkString("\n"))
  }
}
