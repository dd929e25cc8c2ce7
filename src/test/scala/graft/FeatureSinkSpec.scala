package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.Type.Repetition.{OPTIONAL, REQUIRED}
import org.apache.spark.sql.{DataFrame, GraftStreamBridge}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery,
  StreamingQueryException, Trigger}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.ops.{Features, TickParse}
import graft.streaming.{FeatureSink, FileTickSource, MemoryTickSource,
  StreamingPipeline, TickSource}
import graft.streaming.StreamingPipeline.Config
import graft.util.LocalFs

/** The DSv2 parquet sink of [[StreamingPipeline.start]]: parity with the
  * `foreachBatch` + `df.write.parquet` sink it replaced, replay, abort,
  * the drain gate, and a checkpoint carried over from the old sink.
  */
class FeatureSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def payload(sym: String, price: Double, tMs: Long): String =
    s"""{"symbol":"$sym","price":$price,"event_time_ms":$tMs}"""

  private val cfg = Config(
    window = "60 seconds", slide = "10s", lateness = "60 seconds")

  /** The sink this one replaced, as `StreamingPipeline.start` wrote it. */
  private def startForeachBatch(source: TickSource, c: Config): StreamingQuery = {
    val features = StreamingPipeline.transform(source.stream(spark), c)
    LocalFs.install(spark)
    features.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.ProcessingTime(0))
      .option("checkpointLocation", c.checkpointDir)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        df.withColumn("batch_id", lit(batchId))
          .withColumn("ingest_ts", current_timestamp())
          .withColumn("latency_ms", unix_millis(current_timestamp()) -
            unix_millis(col("max_event_time")))
          .write.mode("append").parquet(c.outDir)
      }
      .start()
  }

  private def startNew(source: TickSource, c: Config,
      gate: () => Boolean = () => true): StreamingQuery =
    StreamingPipeline.start(spark, source, c,
      trigger = Trigger.ProcessingTime(0), sinkGate = gate)

  /** Writes each group of payloads as one JSON-lines file of `dir`. */
  private def dropFiles(dir: String, groups: Seq[Seq[String]],
      from: Int = 0): Unit =
    groups.zipWithIndex.foreach { case (g, i) =>
      Files.write(Paths.get(dir, s"ticks-${from + i}.json"),
        g.map(p => "{\"value\":\"" + p.replace("\"", "\\\"") + "\"}")
          .mkString("\n").getBytes("UTF-8"))
    }

  private def run(q: StreamingQuery): StreamingQuery = {
    try q.processAllAvailable() finally q.stop()
    q
  }

  /** Names a reader sees (Spark skips `_`- and `.`-prefixed ones). */
  private def visible(dir: String): Seq[String] =
    Option(new File(dir).list()).map(_.toSeq).getOrElse(Nil)
      .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted

  private def staged(dir: String): Seq[String] =
    Option(new File(dir).list()).map(_.toSeq).getOrElse(Nil)
      .filter(_.contains("-task-"))

  private val featureCols = Seq("symbol", "window_start", "window_end",
    "first_price", "last_price", "log_return", "volatility", "num_ticks",
    "max_event_time")

  private val ticks = Seq(
    Seq(payload("AAPL", 100.0, 61000L), payload("MSFT", 400.0, 65000L)),
    Seq(payload("AAPL", 101.0, 70000L), payload("GOOG", 150.0, 72000L)),
    Seq(payload("AAPL", 99.0, 119000L), payload("MSFT", 401.0, 125000L)),
    Seq(payload("GOOG", 151.0, 250000L)))

  test("parity: same schema, nullability and feature rows as the " +
      "foreachBatch + df.write.parquet sink") {
    val in = tmp("in")
    dropFiles(in, ticks)
    val oldC = cfg.copy(checkpointDir = tmp("ckpt"), outDir = tmp("old"))
    val newC = cfg.copy(checkpointDir = tmp("ckpt"), outDir = tmp("new"))
    run(startForeachBatch(new FileTickSource(in), oldC))
    run(startNew(new FileTickSource(in), newC))

    val oldDf = spark.read.parquet(oldC.outDir)
    val newDf = spark.read.parquet(newC.outDir)
    assert(newDf.schema == oldDf.schema)
    assert(newDf.schema.fields.map(f => (f.name, f.dataType)).takeRight(3)
      .toSeq == Seq(("batch_id", LongType), ("ingest_ts", TimestampType),
        ("latency_ms", LongType)))
    // the files themselves: parquet schema (nullability included) and
    // Spark's row metadata
    def footer(dir: String) = {
      val f = visible(dir).find(_.endsWith(".parquet")).get
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(dir, f), spark.sparkContext.hadoopConfiguration))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getSchema, m.getKeyValueMetaData.get(
          "org.apache.spark.sql.parquet.row.metadata"))
      } finally r.close()
    }
    assert(footer(newC.outDir) == footer(oldC.outDir))
    val fileSchema = footer(newC.outDir)._1
    assert(Seq("batch_id", "ingest_ts", "latency_ms").map(n =>
      fileSchema.getType(Seq(n): _*).getRepetition) ==
      Seq(REQUIRED, REQUIRED, OPTIONAL))

    val keyed = ("batch_id" +: featureCols).map(col)
    def rows(df: DataFrame) = df.select(keyed: _*)
      .orderBy(keyed: _*).collect().toSeq
    assert(rows(newDf).nonEmpty)
    assert(rows(newDf) == rows(oldDf))
    // one clock reading per batch, and latency derived from it
    assert(newDf.groupBy("batch_id").agg(countDistinct("ingest_ts").as("n"))
      .filter(col("n") =!= 1).count() == 0L)
    assert(newDf.filter(col("latency_ms") =!=
      unix_millis(col("ingest_ts")) - unix_millis(col("max_event_time")))
      .count() == 0L)
    assert(visible(newC.outDir).forall(_.startsWith("batch-")))
    assert(staged(newC.outDir).isEmpty)
  }

  test("replay: a batch re-run from the checkpoint replaces its files, " +
      "no duplicates") {
    val in = tmp("in"); val ckpt = tmp("ckpt")
    val c = cfg.copy(checkpointDir = ckpt, outDir = tmp("out"))
    // event times under 60 s keep the watermark at 0, so the newest
    // batch is a data batch, not a watermark-only one
    dropFiles(in, Seq(
      Seq(payload("AAPL", 100.0, 1000L), payload("MSFT", 400.0, 2000L)),
      Seq(payload("AAPL", 101.0, 21000L), payload("GOOG", 150.0, 32000L))))
    run(startNew(new FileTickSource(in), c))
    val files = visible(c.outDir)
    val count = spark.read.parquet(c.outDir).count()
    val commits = new File(ckpt, "commits")
    val newest = commits.list().flatMap(_.toLongOption).max
    assert(files.exists(_.startsWith(s"batch-$newest-")),
      s"batch $newest wrote no file: $files")

    new File(commits, newest.toString).delete()
    new File(commits, s".$newest.crc").delete()
    val q = run(startNew(new FileTickSource(in), c))
    assert(q.recentProgress.exists(p =>
      p.batchId == newest && p.numInputRows > 0), "the batch did not re-run")
    assert(visible(c.outDir) == files)
    assert(spark.read.parquet(c.outDir).count() == count)
    assert(staged(c.outDir).isEmpty)
  }

  test("abort: a task that throws mid-write leaves no visible and no " +
      "staged file") {
    val out = tmp("out")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Long](2)
    FeatureSinkSpec.seen.clear()
    val poison = udf { (v: Long) =>
      if (v == 13L) {
        FeatureSinkSpec.seen.add(new File(out).list().mkString(","))
        throw new IllegalStateException("poisoned row")
      }
      v
    }
    val df = mem.toDF()
      .select(poison(col("value")).as("v"),
        timestamp_millis(col("value")).as("max_event_time"))
    val q = GraftStreamBridge.start(df,
      new FeatureSink(spark, out, () => true), tmp("ckpt"),
      OutputMode.Append(), Trigger.ProcessingTime(0))
    // round-robin over 2 partitions: 13 is the last of partition 0's rows
    mem.addData(1L to 14L)
    val e = intercept[StreamingQueryException](q.processAllAvailable())
    q.stop()
    assert(e.getMessage.contains("poisoned row"))
    // mid-write, the rows written so far sat in a hidden staged file
    val mid = FeatureSinkSpec.seen.asScala.toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty)
    assert(mid.exists(_.contains("-task-")), s"nothing staged: $mid")
    assert(mid.forall(n => n.startsWith(".") || n.startsWith("_")),
      s"a reader saw uncommitted output: $mid")
    assert(visible(out).isEmpty, s"visible after abort: ${visible(out)}")
    assert(staged(out).isEmpty, s"staged after abort: ${staged(out)}")
  }

  test("gate: while it is false batches commit and write no file") {
    val c = cfg.copy(checkpointDir = tmp("ckpt"), outDir = tmp("out"))
    val src = new MemoryTickSource(spark)
    @volatile var open = false
    val q = startNew(src, c, () => open)
    try {
      src.addData(ticks(0)); q.processAllAvailable()
      src.addData(ticks(1)); q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
      assert(new File(c.checkpointDir, "commits").list()
        .count(_.forall(_.isDigit)) >= 2)
      assert(Option(new File(c.outDir).list()).forall(_.isEmpty),
        s"gated batches wrote ${new File(c.outDir).list().toSeq}")
      open = true
      src.addData(ticks(2)); q.processAllAvailable()
    } finally q.stop()
    // the gate is read per batch: the reopened one writes
    assert(visible(c.outDir).nonEmpty)
    assert(spark.read.parquet(c.outDir).select("batch_id").distinct()
      .count() >= 1L)
  }

  test("upgrade: a checkpoint started under the foreachBatch sink resumes " +
      "under this one") {
    val in = tmp("in")
    val c = cfg.copy(checkpointDir = tmp("ckpt"), outDir = tmp("out"))
    dropFiles(in, ticks.take(2))
    run(startForeachBatch(new FileTickSource(in), c))
    def sink = spark.read.parquet(c.outDir)
    val firstRows = sink.count()
    val lastBatch = sink.agg(max("batch_id")).head().getLong(0)
    dropFiles(in, ticks.drop(2), from = 2)
    run(startNew(new FileTickSource(in), c))
    // batch ids continue: the old rows stand, the new ones come after
    assert(sink.filter(col("batch_id") <= lastBatch).count() == firstRows)
    assert(sink.count() > firstRows)
    assert(visible(c.outDir).filter(_.startsWith("batch-")).forall { n =>
      n.stripPrefix("batch-").takeWhile(_.isDigit).toLong > lastBatch
    })
    val cols = featureCols.map(col)
    val streamed = StreamingPipeline.finalized(spark, c.outDir)
      .select(cols: _*).orderBy("symbol", "window_start").collect().toSeq
    val batch = Features.compute(
      TickParse.parseRaw(ticks.flatten.toDF("value")),
      StreamingPipeline.featureConfig(cfg)).select(cols: _*)
      .orderBy("symbol", "window_start").collect().toSeq
    assert(streamed == batch)
  }
}

object FeatureSinkSpec {
  /** Directory listings taken by the poisoned row, mid-write. */
  val seen = new ConcurrentLinkedQueue[String]()
}
