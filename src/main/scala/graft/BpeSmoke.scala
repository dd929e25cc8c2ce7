package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.extra.Text
import graft.model.Tables

/** Train a BPE merge list on the documents table and report the
  * compression it buys over whitespace tokens — the demo run that
  * produced the fixed merge list `token_counts_bpe` replays (the query
  * needs a FIXED list so its DuckDB oracle can replay it as nested
  * REPLACEs; production retrains via [[graft.extra.Text.trainBpe]] and
  * versions the list with the corpus like any quantizer).
  *
  * Usage: runMain graft.BpeSmoke [sfDir] [numMerges]
  *
  * `vocab` mode — the PRODUCTION-SCALE smoke (r15 verdict #2):
  * `runMain graft.BpeSmoke vocab [numMerges] [nDocs]` synthesizes a
  * rich-vocabulary corpus (hash-hex words — the documents table's
  * closed vocabulary exhausts its pair space far below 5k merges),
  * trains ≥5k merges, and encodes through the TYPED tier
  * ([[Text.bpeTokenCountsTyped]] — the expression form does not
  * survive a vocabulary-scale merge list), reporting train + encode
  * wall and docs/s.
  */
object BpeSmoke {
  def main(args: Array[String]): Unit = {
    val spark = ToolSession()
    if (args.headOption.contains("vocab")) vocabScale(spark, args)
    else demo(spark, args)
    spark.stop()
  }

  private def demo(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val m = args.lift(1).map(_.toInt).getOrElse(32)
    val docs = Tables.load(spark, sfDir, "documents")
    val t0 = System.nanoTime()
    val merges = Text.trainBpe(docs, "text", numMerges = m)
    val tTrain = (System.nanoTime() - t0) / 1e9
    println("merges = Seq(" + merges.map { case (a, b) =>
      "(\"" + a + "\", \"" + b + "\")"
    }.mkString(", ") + ")")
    val counted = Text.withBpeTokens(docs, "text", merges)
      .agg(sum("n_tokens").as("ws"), sum("n_bpe_tokens").as("bpe"))
      .head()
    println(s"""{"metric":"bpe_smoke","merges":${merges.size},""" +
      s""""train_wall_s":${StreamBench.rnd(tTrain)},""" +
      s""""ws_tokens":${counted.getLong(0)},""" +
      s""""bpe_tokens":${counted.getLong(1)}}""")
  }

  private def vocabScale(spark: SparkSession, args: Array[String]): Unit = {
    val m = args.lift(1).map(_.toInt).getOrElse(5000)
    val nDocs = args.lift(2).map(_.toLong).getOrElse(200000L)
    // hash-hex words: a wide-open vocabulary whose pair space
    // sustains vocabulary-scale merge counts; ~12 words/doc
    def synth(n: Long) = spark.range(n).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(11)), j =>
        substring(hex(xxhash64(col("id"), j)), lit(1),
          (pmod(xxhash64(col("id"), j + 100), lit(9)) + 4)
            .cast("int"))), " ").as("text"))
    val train = synth(20000L)
    val t0 = System.nanoTime()
    val merges = Text.trainBpe(train, "text", numMerges = m,
      maxWords = 50000)
    val tTrain = (System.nanoTime() - t0) / 1e9
    val docs = synth(nDocs).persist()
    val rows = docs.count()
    val t1 = System.nanoTime()
    val agg = Text.bpeTokenCountsTyped(docs, "doc_id", "text", merges)
      .agg(sum("n_bpe_tokens").as("bpe"), count(lit(1)).as("n")).head()
    val tEnc = (System.nanoTime() - t1) / 1e9
    docs.unpersist()
    println(s"""{"metric":"bpe_vocab_smoke","merges":${merges.size},""" +
      s""""train_wall_s":${StreamBench.rnd(tTrain)},""" +
      s""""docs":$rows,"encode_wall_s":${StreamBench.rnd(tEnc)},""" +
      s""""docs_per_sec":${StreamBench.rnd(rows / tEnc, 1)},""" +
      s""""bpe_tokens":${agg.getLong(0)}}""")
  }
}
