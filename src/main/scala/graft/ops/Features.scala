package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.{AnalysisErrorAt,
  TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{KnownNullable, Literal,
  PreciseTimestampConversion, TimeWindow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder}

/** Sliding-window per-key feature computation — the reference engine's
  * flagship operator (reference src/consumer/spark_streaming.py:73-118).
  *
  * Given a stream/table of (key, value, eventTime) rows, computes one row
  * per (key, window):
  *   - first_price  : value at the earliest eventTime in the window
  *   - last_price   : value at the latest eventTime in the window
  *   - num_ticks    : rows in the window
  *   - max_event_time : latest raw event time
  *   - log_return   : ln(last/first)
  *   - volatility   : |log_return| / sqrt(num_ticks + 1)  (the reference's
  *     proxy, spark_streaming.py:92-97 — NOT stddev of intra-window returns)
  *
  * Determinism note (SURVEY.md §4.3): the reference uses `first(price)`,
  * which is partition-order dependent. This engine uses `min_by`/`max_by`
  * on the event time — same semantics when data is time-ordered, and
  * deterministic and oracle-checkable as long as no two ticks of one
  * (key, window) share an event time. On such a tie the row the
  * aggregation sees first wins, which depends on partition order again.
  * The reference-faithful variant is kept as
  * [[Features.computeArrivalOrder]].
  *
  * Scale notes (100 TB posture):
  *   - One shuffle, keyed by (window, key): Spark plans partial (map-side)
  *     aggregation before the exchange, so pre-shuffle data is one row per
  *     (window, key) per task — the shuffle is proportional to group count,
  *     not row count.
  *   - Sliding windows replicate each row ceil(W/S) times *before* the
  *     partial agg (only the 3 needed columns survive the scan), so the
  *     expansion cost is bounded and parallel. The window column is built
  *     here, not by Spark's `window()`: see [[withWindow]].
  *   - No driver-side collection anywhere; output is a distributed frame.
  */
object Features {

  final case class FeatureConfig(
      window: String = "60 seconds",
      /** None → tumbling; Some(s) → sliding with slide s. */
      slide: Option[String] = Some("10 seconds"),
      /** Event-time lateness bound; only applied when set (streaming).
        * Reference hard-wires it to the window size
        * (spark_streaming.py:76); here it is an independent knob
        * (SURVEY.md §4.3 fix #3).
        */
      watermark: Option[String] = None,
      keyCol: String = "symbol",
      valueCol: String = "price",
      timeCol: String = "event_time")

  /** Deterministic feature computation (min_by/max_by on event time). */
  def compute(df: DataFrame, cfg: FeatureConfig = FeatureConfig()): DataFrame =
    computeWith(df, cfg,
      firstAgg = (v, t) => min_by(v, t),
      lastAgg = (v, t) => max_by(v, t))

  /** Reference-faithful variant: `first`/`last` in arrival order
    * (spark_streaming.py:82-83). Nondeterministic across shuffles —
    * excluded from hash oracles, tested by property instead (SURVEY §5).
    */
  def computeArrivalOrder(df: DataFrame,
      cfg: FeatureConfig = FeatureConfig()): DataFrame =
    computeWith(df, cfg,
      firstAgg = (v, _) => first(v),
      // the reference's argmax-via-max-of-struct trick (spark_streaming.py:83,87)
      lastAgg = (v, t) => max(struct(t.as("t"), v.as("v"))).getField("v"))

  private def computeWith(
      df: DataFrame,
      cfg: FeatureConfig,
      firstAgg: (Column, Column) => Column,
      lastAgg: (Column, Column) => Column): DataFrame = {
    val t = col(cfg.timeCol)
    val v = col(cfg.valueCol)
    val base = cfg.watermark.fold(df)(w => df.withWatermark(cfg.timeCol, w))
    withWindow(base, cfg)
      .groupBy(col("window"), col(cfg.keyCol))
      .agg(
        firstAgg(v, t).as("first_price"),
        lastAgg(v, t).as("last_price"),
        count(v).as("num_ticks"),
        max(t).as("max_event_time"))
      // a log return only exists for positive prices: guard BOTH ends to
      // NULL (ANSI division throws on first_price = 0, DuckDB ln() errors
      // on a non-positive ratio — surfaced by zero-value rows at sf0.1)
      .withColumn("log_return",
        when(col("last_price") > 0 && col("first_price") > 0,
          log(col("last_price") / col("first_price"))))
      .withColumn("volatility",
        abs(col("log_return")) / sqrt(col("num_ticks") + lit(1)))
      .select(
        col(cfg.keyCol),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("first_price"), col("last_price"),
        col("log_return"), col("volatility"),
        col("num_ticks"), col("max_event_time"))
  }

  /** True intra-window volatility (stddev of per-tick log returns) — the
    * fidelity upgrade the reference's comment admits it skipped
    * (spark_streaming.py:92-93). Uses a lag window per key to form tick
    * returns, then the same event-time windowing.
    *
    * Scale: the lag needs a (key)-partitioned time sort — one shuffle —
    * then the windowed agg re-shuffles by (window, key). Both are linear,
    * spill-safe sorts; no state beyond the window groups.
    */
  def computeTrueVolatility(df: DataFrame,
      cfg: FeatureConfig = FeatureConfig()): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(cfg.keyCol).orderBy(cfg.timeCol)
    // same positive-price guard as the log_return in computeWith
    val prev = lag(col(cfg.valueCol), 1).over(byKey)
    val withRet = df.withColumn("tick_return",
      when(col(cfg.valueCol) > 0 && prev > 0,
        log(col(cfg.valueCol) / prev)))
    withWindow(withRet, cfg)
      .groupBy(col("window"), col(cfg.keyCol))
      .agg(
        stddev_samp(col("tick_return")).as("volatility_true"),
        count(col(cfg.valueCol)).as("num_ticks"))
      .select(
        col(cfg.keyCol),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("volatility_true"), col("num_ticks"))
  }

  /** `df` with the `window` struct column of `window(t, W, S)` added, one
    * row per window that holds the row's event time, and rows without an
    * event time dropped — what Spark's `TimeWindowing` rule builds, minus
    * its `Expand`. That rule projects every row ceil(W/S) times, each
    * projection re-deriving the slot from scratch (~40 expression nodes
    * apiece); here the slot `t - pmod(t, S)` is computed once and the
    * window starts are an `explode` of constant offsets from it. The
    * start ≤ t < end filter is only needed when S does not divide W.
    *
    * The column keeps the time column's metadata (so a watermark's
    * `spark.watermarkDelayMs` rides along and the stateful aggregate
    * still evicts on `window.end`) plus Spark's time-window marker, and
    * W and S are parsed and checked as `window()` does, raising the same
    * analysis errors.
    */
  private def withWindow(df: DataFrame, cfg: FeatureConfig): DataFrame = {
    val time = df.schema(cfg.timeCol)
    val spec = TimeWindow(Literal(0L, time.dataType), cfg.window,
      cfg.slide.getOrElse(cfg.window), "0 seconds")
    spec.checkInputDataTypes() match {
      case m: TypeCheckResult.DataTypeMismatch => spec.dataTypeMismatch(spec, m)
      case _ =>
    }
    val (w, s) = (spec.windowDuration, spec.slideDuration)
    val us = column(PreciseTimestampConversion(
      expression(col(cfg.timeCol)), time.dataType, LongType))
    def timestamp(c: Column) = column(KnownNullable(
      PreciseTimestampConversion(expression(c), LongType, time.dataType)))
    val n = math.ceil(w * 1.0 / s).toInt
    val startUs = col("__window_start_us")
    // the last window's start (the slot), then the earlier starts
    val slotted = df.where(col(cfg.timeCol).isNotNull)
      .withColumn("__window_start_us", us - pmod(us, lit(s)))
    val starts = if (n == 1) slotted else slotted.withColumn(
      "__window_start_us", explode(array(startUs +:
        (1 until n).map(k => startUs - lit(k * s)): _*)))
    val kept = if (w % s == 0) starts else starts.where(us < startUs + lit(w))
    val metadata = new MetadataBuilder().withMetadata(time.metadata)
      .putBoolean(TimeWindow.marker, true).build()
    kept.select(col("*"), struct(timestamp(startUs).as("start"),
        timestamp(startUs + lit(w)).as("end")).as("window", metadata))
      .drop(startUs)
  }
}
