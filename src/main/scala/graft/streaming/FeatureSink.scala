package graft.streaming

import java.io.IOException
import java.time.Instant
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{GraftStreamBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo,
  PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory,
  StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
import org.apache.spark.util.SerializableConfiguration

/** The parquet sink of [[StreamingPipeline.start]]: a DSv2 streaming
  * write, so a micro-batch plans and runs as one `WriteToDataSourceV2`
  * query instead of a `foreachBatch` callback that plans a second one.
  *
  * Each row of the feature stream is written with three columns
  * appended: `batch_id` (the epoch), `ingest_ts` (one driver clock
  * reading per batch) and `latency_ms = unix_millis(ingest_ts) -
  * unix_millis(max_event_time)`.
  *
  * Files are Spark's own parquet (`ParquetFileFormat.prepareWrite`, so
  * codecs, timestamp types and `parquet.*` confs follow the session).
  * A task writes a hidden staged file; the batch commit renames each
  * one to a name fixed by (batch id, partition), so a replayed batch
  * replaces its files rather than appending duplicates. Abort deletes
  * the staged files.
  *
  * `gate` is read once per batch on the driver: while it is false the
  * writers drop their rows and create no file.
  */
final class FeatureSink(spark: SparkSession, outDir: String,
    gate: () => Boolean) extends Table with SupportsWrite {
  override def name(): String = s"FeatureSink[$outDir]"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)

  private var epochs: FeatureSink.Epochs = _

  /** Spark's optimizer builds the write again for every micro-batch, so
    * the prepared write is kept here, one per query. */
  private def epochsFor(input: StructType): FeatureSink.Epochs = synchronized {
    if (epochs == null) epochs = new FeatureSink.Epochs(spark, outDir, input, gate)
    epochs
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new SupportsStreamingUpdateAsAppend {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = epochsFor(info.schema())
      }
    }
}

object FeatureSink {

  /** The columns the sink appends to every feature row. */
  private def appended(input: StructType): StructType = input
    .add("batch_id", LongType, nullable = false)
    .add("ingest_ts", TimestampType, nullable = false)
    .add("latency_ms", LongType,
      nullable = input(input.fieldIndex("max_event_time")).nullable)

  /** The committed file of `partition` in batch `batch`. */
  private def fileName(batch: Long, partition: Int, ext: String): String =
    f"batch-$batch%d-part-$partition%05d$ext"

  /** The hidden name prefix of a staged file of batch `batch`. */
  private def stagedPrefix(batch: Long): String = s".batch-$batch-task-"

  /** A task's staged file, or `null` when it wrote no row. */
  private final case class Staged(partition: Int, file: String)
      extends WriterCommitMessage

  /** Per query, on the driver: the write conf is prepared and broadcast
    * once, at the query's first batch. */
  private final class Epochs(spark: SparkSession, outDir: String,
      input: StructType, gate: () => Boolean) extends StreamingWrite {
    private val dataSchema = appended(input)
    private val (conf, writers) = {
      val job = Job.getInstance(GraftStreamBridge.hadoopConf(spark))
      val w = new ParquetFileFormat().prepareWrite(spark, job,
        Map("path" -> outDir), dataSchema)
      (job.getConfiguration, w)
    }
    private val ext = writers.getFileExtension(
      new TaskAttemptContextImpl(conf, new TaskAttemptID()))
    private val shared = spark.sparkContext.broadcast(
      new SerializableConfiguration(conf))
    private val dir = new Path(outDir)
    private lazy val fs = dir.getFileSystem(conf)

    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory = {
      Factory(shared, writers, dataSchema, outDir, ext,
        input.fieldIndex("max_event_time"),
        DateTimeUtils.instantToMicros(Instant.now()), gate())
    }

    override def commit(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit =
      messages.foreach {
        case Staged(partition, file) if file != null =>
          val src = new Path(dir, file)
          val dst = new Path(dir, fileName(epochId, partition, ext))
          // a local rename replaces `dst`; other filesystems refuse
          if (!fs.rename(src, dst)) {
            fs.delete(dst, false)
            if (!fs.rename(src, dst))
              throw new IOException(s"cannot commit $src as $dst")
          }
        case _ =>
      }

    /** Deletes every staged file of the batch, including those of tasks
      * whose commit message never reached the driver. */
    override def abort(epochId: Long,
        messages: Array[WriterCommitMessage]): Unit =
      if (fs.exists(dir))
        fs.listStatus(dir, (p: Path) => p.getName.startsWith(stagedPrefix(epochId)))
          .foreach(s => fs.delete(s.getPath, false))
  }

  /** Per batch: serialized into the batch's tasks. The Hadoop conf rides
    * as the query's broadcast, so a task deserializes none. */
  private final case class Factory(conf: Broadcast[SerializableConfiguration],
      writers: OutputWriterFactory, dataSchema: StructType, outDir: String,
      ext: String, eventOrdinal: Int, ingestMicros: Long, open: Boolean)
      extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      new Writer(this, partitionId, taskId, epochId)
  }

  private final class Writer(f: Factory, partition: Int, taskId: Long,
      epochId: Long)
      extends DataWriter[InternalRow] {
    private val ingestMs = Math.floorDiv(f.ingestMicros, 1000L)
    private val extra = new SpecificInternalRow(Seq(LongType, TimestampType, LongType))
    extra.setLong(0, epochId)
    extra.setLong(1, f.ingestMicros)
    private val joined = new JoinedRow
    private var staged: String = _
    private var out: OutputWriter = _

    override def write(row: InternalRow): Unit = if (f.open) {
      if (out == null) {
        staged = s"${stagedPrefix(epochId)}$taskId-${UUID.randomUUID()}${f.ext}"
        out = f.writers.newInstance(new Path(f.outDir, staged).toString,
          f.dataSchema,
          new TaskAttemptContextImpl(f.conf.value.value, new TaskAttemptID()))
      }
      if (row.isNullAt(f.eventOrdinal)) extra.setNullAt(2)
      else extra.setLong(2,
        ingestMs - Math.floorDiv(row.getLong(f.eventOrdinal), 1000L))
      out.write(joined(row, extra))
    }

    override def commit(): WriterCommitMessage = {
      close()
      Staged(partition, staged)
    }

    override def abort(): Unit = {
      try close()
      finally if (staged != null) {
        val p = new Path(f.outDir, staged)
        p.getFileSystem(f.conf.value.value).delete(p, false)
      }
    }

    override def close(): Unit = if (out != null) {
      val o = out
      out = null
      o.close()
    }
  }
}
