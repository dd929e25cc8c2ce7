package graft

import java.nio.file.Files
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{CurationStream, Monitor}

/** Sustained-throughput smoke for the streaming ingest-curation path
  * WITH near-dup suppression (`CurationStream.curateStreamNearDup`) —
  * the stateful chain: gates → exact dedup → band explode → (band,sig)
  * dedup → windowed reassembly.
  *
  * The rate source synthesizes the same deterministic corpus as
  * [[CurateSmoke]]: within each 20-doc block, doc 19 is an exact copy
  * of doc 17's text and doc 18 appends one word — so the stream carries
  * 5% exact and 5% near duplicates that the state must suppress while
  * keeping up with the offered rate.
  *
  * Reports offered tps, sustained input docs/s (Monitor listener — not
  * recentProgress, which caps at 100 batches), emitted rows (foreachBatch
  * counter; emission trails the watermark by design), and micro-batch
  * latency. Usage: runMain graft.CurationStreamSmoke [tps] [seconds]
  */
object CurationStreamSmoke {
  def main(args: Array[String]): Unit = {
    val tps = args.headOption.map(_.toInt).getOrElse(20000)
    val secs = args.lift(1).map(_.toInt).getOrElse(45)
    val spark = ToolSession()

    val wire = graft.gen.SyntheticDocs.rateWire(spark, tps)

    val curated = CurationStream.curateStreamNearDup(wire,
      watermark = "15 seconds", emitWindow = "10 seconds")
    val monitor = new Monitor().attach(spark)
    val emitted = new LongAdder
    val ckpt = Files.createTempDirectory("cur_smoke_ckpt").toString
    val q = curated.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        emitted.add(df.count())
      }
      .start()
    val t0 = System.nanoTime()
    try {
      while ((System.nanoTime() - t0) / 1e9 < secs) Thread.sleep(200)
      val progress = monitor.snapshot.filter(_.query_name == q.id.toString)
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      val rows = progress.map(_.num_input_rows).sum
      val batchMs = progress.map(_.batch_duration_ms).filter(_ >= 0)
      val avgMs =
        if (batchMs.nonEmpty) batchMs.sum.toDouble / batchMs.size else -1.0
      val maxMs = if (batchMs.nonEmpty) batchMs.max else -1L
      spark.stop()
      println(s"""{"metric":"curation_stream_smoke","target_tps":$tps,""" +
        s""""docs_per_sec":${(rows / wall).toLong},"rows_in":$rows,""" +
        s""""rows_emitted":${emitted.sum},"wall_s":$wall,""" +
        s""""n_batches":${batchMs.size},"avg_batch_ms":$avgMs,""" +
        s""""max_batch_ms":$maxMs}""")
      System.out.flush()
    } finally {
      if (q.isActive) q.stop()
      monitor.detach(spark)
    }
  }
}
