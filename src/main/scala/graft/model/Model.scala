package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Mirrors the reference's data contracts (see SURVEY.md §1):
  *   - Tick: the 3-field market tick message
  *     (reference src/consumer/spark_streaming.py:58-62,
  *     src/producer/synthetic_ticks.py:66-70).
  *   - FeatureRow: one row per (symbol, window) of the features table
  *     (reference src/consumer/spark_streaming.py:145-160).
  *   - Event: the driver test-data analog of a tick stream
  *     (/root/testdata/<sf>/events.parquet).
  */
final case class Tick(symbol: String, price: Double, event_time_ms: Long)

final case class FeatureRow(
    symbol: String,
    window_start: Timestamp,
    window_end: Timestamp,
    first_price: Double,
    last_price: Double,
    log_return: Double,
    volatility: Double,
    num_ticks: Long,
    max_event_time_ms: Long)

final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double,
    props: String)

object Schemas {
  /** Exact port of the reference's tick StructType
    * (src/consumer/spark_streaming.py:58-62): all fields non-nullable.
    */
  val tick: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("price", DoubleType, nullable = false),
    StructField("event_time_ms", LongType, nullable = false)))

  /** CSV backfill contract (src/backfill/publish_historical.py:40). */
  val tickCsv: StructType = tick

  val event: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))
}

/** Table loader for the driver-provided parquet test tables. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Reads a test table, normalizing timestamp physical types across
    * driver data-generator versions:
    *   - TIMESTAMP(NANOS) parquet (older generator): Spark refuses it by
    *     default; we read nanos as long
    *     (`spark.sql.legacy.parquet.nanosAsLong`) and convert to a
    *     microsecond timestamp with exact integer division (a double
    *     division would lose precision above 2^53 ns ≈ 1970+104 days).
    *   - tz-naive TIMESTAMP(MICROS) parquet (current generator): Spark 4
    *     infers TIMESTAMP_NTZ (`spark.sql.parquet.inferTimestampNTZ
    *     .enabled` defaults true), which rejects `unix_millis`/double
    *     casts downstream. We disable the inference so the scan itself
    *     yields TIMESTAMP — critical at scale, because a per-column
    *     NTZ→LTZ `cast` after the scan is an expression the data source
    *     cannot see, so time-range predicates (e.g. `recent_slice`'s)
    *     would stop reaching the parquet footer stats (no PushedFilters,
    *     no row-group skipping on `ts`). All graft sessions pin
    *     `spark.sql.session.timeZone=UTC`, so reading the naive micros
    *     as epoch-micros TIMESTAMP is value-identical to DuckDB's
    *     reading of the same naive column. A defensive NTZ→TIMESTAMP
    *     cast fold remains for frames read before the conf was set
    *     (cached plans), where it is a no-op otherwise.
    *
    * The read goes through [[graft.util.ParquetRead]]: the schema is
    * inferred (one Spark job) the first time a table's file content is
    * seen under these confs, and every later load of the same bytes
    * starts no job until its query runs. Both confs are part of that
    * memo's key, so flipping either one re-infers.
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String, name: String)
      : org.apache.spark.sql.DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    normalize(name, graft.util.ParquetRead.read(spark, path(dir, name)))
  }

  /** [[load]]'s timestamp normalization of an already-read table. */
  private[graft] def normalize(name: String,
      raw: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val df =
      if (name == "events" &&
        raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      else raw
    val ntz = df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }
    ntz.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))
  }
}
