package graft

import java.sql.Timestamp

import scala.util.Try

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tick
import graft.ops.{Features, TickParse}
import graft.ops.Features.FeatureConfig

/** Hand-computed expectations for the flagship windowed-feature operator
  * (reference compute_features, spark_streaming.py:73-118).
  */
class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def ticks(rows: (String, Double, Long)*) =
    TickParse.withEventTime(
      rows.map { case (s, p, t) => Tick(s, p, t) }.toDF())

  private val cfg = FeatureConfig(
    window = "60 seconds", slide = Some("10 seconds"),
    keyCol = "symbol", valueCol = "price", timeCol = "event_time")

  test("tumbling window: first/last/log_return/volatility hand-check") {
    // 3 ticks inside one 60s tumbling window [60, 120)
    val df = ticks(
      ("AAPL", 100.0, 61000L),
      ("AAPL", 101.0, 70000L),
      ("AAPL", 99.0, 119000L))
    val out = Features.compute(df, cfg.copy(slide = None))
      .collect().map(r => (r.getString(0), r.getTimestamp(1),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7)))
    assert(out.length == 1)
    val (sym, ws, first, last, lr, vol, n) = out.head
    assert(sym == "AAPL")
    assert(ws == Timestamp.valueOf("1970-01-01 00:01:00"))
    assert(first == 100.0)
    assert(last == 99.0)
    assert(math.abs(lr - math.log(99.0 / 100.0)) < 1e-12)
    assert(math.abs(vol - math.abs(lr) / math.sqrt(4.0)) < 1e-12)
    assert(n == 3L)
  }

  test("sliding window: each event lands in exactly window/slide windows") {
    val df = ticks(("MSFT", 400.0, 65000L))
    val out = Features.compute(df, cfg)
    // 60s window, 10s slide -> 6 windows contain t=65s:
    // starts 10,20,30,40,50,60
    val starts = out.select($"window_start").as[Timestamp].collect()
      .map(_.getTime / 1000).sorted
    assert(starts.sameElements(Array(10L, 20L, 30L, 40L, 50L, 60L)))
  }

  test("first/last are time-ordered, not arrival-ordered") {
    // later event listed first; min_by/max_by must ignore row order
    val df = ticks(
      ("GOOG", 162.5, 119000L),
      ("GOOG", 160.0, 61000L))
    val r = Features.compute(df, cfg.copy(slide = None)).collect().head
    assert(r.getDouble(3) == 160.0) // first_price by event time
    assert(r.getDouble(4) == 162.5) // last_price by event time
  }

  test("log_return antisymmetry under price reversal (property)") {
    val prices = Seq(100.0, 105.0, 95.0, 110.0)
    val fwd = ticks(prices.zipWithIndex.map {
      case (p, i) => ("X", p, 61000L + i * 1000L) }: _*)
    val rev = ticks(prices.reverse.zipWithIndex.map {
      case (p, i) => ("X", p, 61000L + i * 1000L) }: _*)
    val lrF = Features.compute(fwd, cfg.copy(slide = None))
      .select($"log_return").as[Double].collect().head
    val lrR = Features.compute(rev, cfg.copy(slide = None))
      .select($"log_return").as[Double].collect().head
    assert(math.abs(lrF + lrR) < 1e-12)
  }

  test("zero/non-positive prices yield NULL log returns, never " +
      "ANSI division-by-zero (sf0.1 regression)") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("A", "2024-01-01 00:00:05", 0.0),   // zero first price
      ("A", "2024-01-01 00:00:25", 2.0),
      ("B", "2024-01-01 00:00:05", 4.0),
      ("B", "2024-01-01 00:00:25", 0.0))   // zero last price
      .toDF("symbol", "event_time", "price")
      .withColumn("event_time", col("event_time").cast("timestamp"))
    val out = Features.compute(df,
        FeatureConfig(window = "60 seconds", slide = None))
      .select("symbol", "log_return", "volatility").collect()
    assert(out.length == 2)
    assert(out.forall(r => r.isNullAt(1) && r.isNullAt(2)))
    val tv = Features.computeTrueVolatility(df,
        FeatureConfig(window = "60 seconds", slide = None))
      .select("volatility_true").collect()
    assert(tv.forall(_.isNullAt(0))) // no defined tick returns anywhere
  }

  /** Seeded ticks: 21k rows over 7 symbols and ~5.8 h of distinct,
    * non-aligned microsecond event times (no (key, window) ties, so
    * `min_by`/`max_by` are deterministic), a seventh of them before 1970,
    * plus one row without an event time.
    */
  private def seeded: DataFrame = {
    val n = 21000L
    spark.range(n).select(
      concat(lit("S"), (col("id") % 7).cast("string")).as("symbol"),
      (lit(100.0) + (col("id") * 31 % 997) / 10.0).as("price"),
      timestamp_micros(((col("id") * 7919) % n - n / 7) * 997123L)
        .as("event_time"))
      .union(Seq(("S0", 1.0)).toDF("symbol", "price")
        .select(col("symbol"), col("price"),
          lit(null).cast("timestamp").as("event_time")))
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema) // names, types, nullability, metadata
    assert(a.count() > 0)
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0L)
    assert(b.exceptAll(a).count() == 0L)
  }

  private val geometries = Seq(
    ("60 seconds", Some("10 seconds")), ("25 seconds", Some("10 seconds")),
    ("1 hour", Some("15 minutes")), ("7 seconds", Some("3 seconds")),
    ("2 seconds", Some("500 milliseconds")), ("1 day", None))

  test("window parity: compute equals the window() formulation on " +
      "sliding (multiple and non-multiple) and tumbling geometries") {
    assert(seeded.filter(col("event_time") < lit("1970-01-01")
      .cast("timestamp")).count() == 3000L)
    for ((w, s) <- geometries) withClue(s"$w / $s: ") {
      val c = FeatureConfig(window = w, slide = s)
      sameRows(Features.compute(seeded, c),
        FeaturesSpec.windowFeatures(seeded, c))
    }
  }

  test("window parity: computeTrueVolatility equals the window() " +
      "formulation at 60 s / 10 s") {
    // stddev merges partial aggregates in shuffle-fetch order, so the
    // last bits can differ run to run: compare at 1e-9
    def rounded(df: DataFrame) =
      df.withColumn("volatility_true", round(col("volatility_true"), 9))
    sameRows(rounded(Features.computeTrueVolatility(seeded, cfg)),
      rounded(FeaturesSpec.windowTrueVolatility(seeded, cfg)))
  }

  test("window durations are parsed and rejected as window() does") {
    val df = ticks(("AAPL", 100.0, 61000L))
    def failure(f: => DataFrame) = {
      // the analyzer raises its ExtendedAnalysisException subclass
      Try(f).failed.getOrElse(fail("no error")) match {
        case e: AnalysisException => ("AnalysisException", e.getCondition)
        case e: SparkThrowable => (e.getClass.getName, e.getCondition)
        case e => (e.getClass.getName, e.getMessage)
      }
    }
    for ((w, s) <- Seq(("0 seconds", None), ("-5 seconds", Some("1 second")),
        ("10 seconds", Some("0 seconds")), ("10 seconds", Some("20 seconds")),
        ("1 month", None), ("30 days", Some("1 month")),
        ("sixty seconds", None))) withClue(s"$w / $s: ") {
      val c = cfg.copy(window = w, slide = s)
      assert(failure(Features.compute(df, c)) ==
        failure(FeaturesSpec.windowFeatures(df, c)))
    }
  }

  test("malformed JSON rows are dropped by parseRaw") {
    val raw = Seq(
      """{"symbol":"AAPL","price":190.12,"event_time_ms":1727740800000}""",
      """not json at all""",
      """{"symbol":"MSFT"}""").toDF("value")
    val parsed = TickParse.parseRaw(raw)
    assert(parsed.count() == 1)
    assert(parsed.select($"symbol").as[String].collect().head == "AAPL")
  }

  test("tick JSON codec round-trips") {
    val df = Seq(Tick("AAPL", 190.12, 1727740800000L)).toDF()
    val back = TickParse.parseRaw(TickParse.toJsonPayload(df))
    val r = back.collect().head
    assert(r.getString(0) == "AAPL")
    assert(r.getDouble(1) == 190.12)
    assert(r.getLong(2) == 1727740800000L)
  }
}

object FeaturesSpec {
  /** [[Features.compute]] as it was written on Spark's `window()`: the
    * formulation the slot-and-offset window assignment must reproduce.
    */
  def windowFeatures(df: DataFrame, cfg: FeatureConfig): DataFrame = {
    val t = col(cfg.timeCol)
    val v = col(cfg.valueCol)
    val base = cfg.watermark.fold(df)(w => df.withWatermark(cfg.timeCol, w))
    base
      .groupBy(sparkWindow(cfg), col(cfg.keyCol))
      .agg(
        min_by(v, t).as("first_price"),
        max_by(v, t).as("last_price"),
        count(v).as("num_ticks"),
        max(t).as("max_event_time"))
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

  /** [[Features.computeTrueVolatility]] on Spark's `window()`. */
  def windowTrueVolatility(df: DataFrame, cfg: FeatureConfig): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(cfg.keyCol).orderBy(cfg.timeCol)
    val prev = lag(col(cfg.valueCol), 1).over(byKey)
    df.withColumn("tick_return",
        when(col(cfg.valueCol) > 0 && prev > 0,
          log(col(cfg.valueCol) / prev)))
      .groupBy(sparkWindow(cfg), col(cfg.keyCol))
      .agg(
        stddev_samp(col("tick_return")).as("volatility_true"),
        count(col(cfg.valueCol)).as("num_ticks"))
      .select(
        col(cfg.keyCol),
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("volatility_true"), col("num_ticks"))
  }

  private def sparkWindow(cfg: FeatureConfig) = {
    val t = col(cfg.timeCol)
    cfg.slide.fold(window(t, cfg.window))(s => window(t, cfg.window, s))
      .as("window")
  }
}
