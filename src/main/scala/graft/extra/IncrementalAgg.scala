package graft.extra

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.ParquetRead

/** Incrementally-maintained materialized aggregate — the "don't re-scan
  * 100 TB to refresh a dashboard" operator. The view is stored as
  * ALGEBRAIC partial-aggregate state per grain key (count / sum / min /
  * max / HLL sketch), so a refresh:
  *
  *   1. scans ONLY the delta rows (one map-side-combined `groupBy` —
  *      O(delta) read, shuffle of O(delta groups) state rows);
  *   2. merges the delta partials into the stored state with the
  *      combine half of each aggregate (sum+sum, min∧min, max∨max,
  *      HLL register-max) via [[Merge.mergeKeyed]] — parquet-footer
  *      file pruning means only state files whose grain range
  *      intersects the delta's grains are rewritten; the cold part of
  *      the view never moves.
  *
  * History is never re-read: refresh cost is O(delta + touched state),
  * independent of table age — the property that makes a daily refresh
  * over a year of data a minutes job instead of a full recompute.
  *
  * Exactness rules (the reason the merged view can hash-match a full
  * recompute):
  *   - count: long, exact.
  *   - sum over integral input: long state, exact.
  *   - sum over DECIMAL input: state pinned at DECIMAL(38, input
  *     scale) — exact and order-independent, and the PIN matters:
  *     without it each re-aggregation would widen the sum type and
  *     fork the on-disk schema between refreshes.
  *   - sum over floating input is REJECTED (order-dependent — cast to
  *     decimal first, the same rule the registered money queries use).
  *   - min/max/HLL: order-independent by construction (HLL union is a
  *     register-wise max, so incremental == one-shot estimates
  *     exactly).
  *
  * The same shape maintains itself under streaming: feed micro-batches
  * to [[refresh]] from `foreachBatch` — but note refresh is NOT replay
  * idempotent (a replayed delta double-counts); production pairs it
  * with a batch-id marker commit exactly like
  * [[graft.streaming.MergeStream]] documents for versioned upserts.
  */
object IncrementalAgg {

  /** What the view aggregates, per `grainCol` group. `grainCol` must be
    * long/int/string ([[Merge]]'s footer-pruning types); composite
    * grains are pre-concatenated by the caller (a pure projection).
    */
  final case class ViewSpec(
      grainCol: String,
      sumCols: Seq[String] = Nil,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      hllCols: Seq[String] = Nil)

  /** State column names are deterministic: cnt, sum_c, min_c, max_c,
    * hll_c — [[partials]] and [[combine]] agree on them by contract.
    */
  private def sumStateType(in: DataType): DataType = in match {
    case d: DecimalType => DecimalType(38, d.scale)
    case ByteType | ShortType | IntegerType | LongType => LongType
    case t => throw new IllegalArgumentException(
      s"sum over $t is order-dependent (floating) or unsupported — " +
        "cast to DECIMAL first for exact, order-independent sums")
  }

  /** One map-side-combined pass over `rows` → partial state per grain.
    * This is both the INIT aggregation and the DELTA aggregation — the
    * algebraic state is the same either way.
    */
  def partials(rows: DataFrame, spec: ViewSpec): DataFrame = {
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("cnt")) ++
        spec.sumCols.map(c => sum(col(c))
          .cast(sumStateType(rows.schema(c).dataType)).as(s"sum_$c")) ++
        spec.minCols.map(c => min(col(c)).as(s"min_$c")) ++
        spec.maxCols.map(c => max(col(c)).as(s"max_$c")) ++
        spec.hllCols.map(c => hll_sketch_agg(col(c)).as(s"hll_$c"))
    rows.groupBy(col(spec.grainCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Combine two state frames (same schema) — the merge half of every
    * aggregate, grouped back to one row per grain.
    */
  def combine(state: DataFrame, delta: DataFrame, spec: ViewSpec)
      : DataFrame = {
    val both = state.unionByName(delta)
    val aggs: Seq[Column] =
      Seq(sum(col("cnt")).as("cnt")) ++
        spec.sumCols.map(c => sum(col(s"sum_$c"))
          .cast(state.schema(s"sum_$c").dataType).as(s"sum_$c")) ++
        spec.minCols.map(c => min(col(s"min_$c")).as(s"min_$c")) ++
        spec.maxCols.map(c => max(col(s"max_$c")).as(s"max_$c")) ++
        spec.hllCols.map(c => hll_union_agg(col(s"hll_$c")).as(s"hll_$c"))
    both.groupBy(col(spec.grainCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Build the view from scratch: aggregate `rows` and write the state
    * grain-clustered (disjoint grain ranges per file → maximally
    * selective footers for [[refresh]]'s pruning).
    */
  def init(rows: DataFrame, spec: ViewSpec, dir: String,
      numFiles: Int = 8): Unit =
    Layout.writeClustered(partials(rows, spec), dir,
      Seq(org.apache.spark.sql.functions.col(spec.grainCol)), numFiles)

  /** Merge a batch of new ROWS into the stored view. Only state files
    * whose grain range intersects the delta's grains are rewritten
    * ([[Merge.mergeKeyed]] footer pruning); grains never seen before
    * are inserted. Returns the merge stats (filesRewritten ≪
    * filesTotal is the point).
    */
  def refresh(spark: SparkSession, dir: String, deltaRows: DataFrame,
      spec: ViewSpec): Merge.MergeStats = {
    val delta = partials(deltaRows, spec)
    Merge.mergeKeyed(spark, dir, delta, spec.grainCol)(
      (stored, batch) => combine(stored, batch, spec))
  }

  /** Maintain the view from a SNAPSHOT CHANGE FEED: everything
    * [[Snapshots.diff]] reports between `fromV` and `toV` — inserts,
    * deletes, AND updates — is applied with RETRACTIONS: old
    * contributions of deleted/updated rows are subtracted, new
    * contributions of inserted/updated rows added, in ONE delta frame
    * merged into the state ([[Merge.mergeKeyed]], same pruning as
    * [[refresh]]). Cost is O(files replaced between the versions +
    * touched state) — the view follows a mutating 100 TB table without
    * either side being rescanned.
    *
    * Only subtractable state qualifies: count and sum form a group
    * under addition; min/max/HLL do not (retracting a grain's maximum
    * needs that grain recomputed from the table) — such specs are
    * rejected rather than silently served wrong. Grains whose count
    * reaches zero are REMOVED from the view.
    */
  def refreshFromSnapshot(spark: SparkSession, viewDir: String,
      snapDir: String, fromV: Long, toV: Long, snapKey: String,
      spec: ViewSpec): Merge.MergeStats = {
    require(spec.minCols.isEmpty && spec.maxCols.isEmpty &&
      spec.hllCols.isEmpty,
      "retraction refresh needs subtractable state (count/sum only) — " +
        "min/max/HLL would need grain recompute; rebuild those views " +
        "with init or feed insert-only deltas through refresh")
    val ch = Snapshots.diffTwoSided(spark, snapDir, fromV, toV, snapKey)
    val tableCols = ch.columns
      .filterNot(c => c == "change" || c.startsWith("__")).toSeq
    val newRows = ch.filter(col("change").isin("inserted", "updated"))
      .select(tableCols.map(col): _*)
    val oldRows = ch.filter(col("change").isin("deleted", "updated"))
      .select(tableCols.map(c =>
        (if (c == snapKey) col("__ok") else col(s"__o_$c")).as(c)): _*)
    val add = partials(newRows, spec)
    val sub = partials(oldRows, spec)
    val negated = sub.select(
      col(spec.grainCol) +:
        (-col("cnt")).cast(sub.schema("cnt").dataType).as("cnt") +:
        spec.sumCols.map(c => (-col(s"sum_$c"))
          .cast(sub.schema(s"sum_$c").dataType).as(s"sum_$c")): _*)
    val delta = combine(add, negated, spec)
    Merge.mergeKeyed(spark, viewDir, delta, spec.grainCol)(
      (stored, batch) => combine(stored, batch, spec)
        .filter(col("cnt") =!= 0))
  }

  /** VERSIONED view maintenance: the state lives as a [[Snapshots]]
    * table instead of a mutable directory, and every refresh commits a
    * new version — "what did the dashboard say before Tuesday's load"
    * becomes a time-travel read, a bad batch is a version rollback,
    * and concurrent dashboard readers are isolated from in-flight
    * refreshes (the manifest guarantees). The refresh itself stays
    * O(delta + touched state): delta partials are combined with ONLY
    * the stored rows of touched grains ([[Snapshots.lookup]]'s
    * footer-pruned read) and upserted — cold state files are carried
    * by reference into the new version.
    *
    * Init the table with `Snapshots.init(partials(rows, spec), dir,
    * spec.grainCol)`; serve any version with
    * `finalizeView(Snapshots.read(spark, dir, asOf), spec)`.
    */
  def refreshVersioned(spark: SparkSession, stateSnapDir: String,
      deltaRows: DataFrame, spec: ViewSpec): Snapshots.Commit = {
    val delta = partials(deltaRows, spec)
    val stored = Snapshots.lookup(spark, stateSnapDir,
      delta.select(spec.grainCol), spec.grainCol)
    Snapshots.upsert(spark, stateSnapDir,
      combine(stored, delta, spec), spec.grainCol)
  }

  /** The stored state, as written (one row per grain). */
  def read(spark: SparkSession, dir: String): DataFrame =
    ParquetRead.read(spark, dir)

  /** Serving projection: grain + cnt + sums/mins/maxes as stored, HLL
    * sketches finalized to estimates (`ndv_c`), plus exact decimal
    * means (`avg_c = sum_c / cnt`) for each sum column.
    */
  def finalizeView(state: DataFrame, spec: ViewSpec): DataFrame = {
    val cols: Seq[Column] =
      Seq(col(spec.grainCol), col("cnt")) ++
        spec.sumCols.map(c => col(s"sum_$c")) ++
        spec.sumCols.map(c => (col(s"sum_$c") / col("cnt")).as(s"avg_$c")) ++
        spec.minCols.map(c => col(s"min_$c")) ++
        spec.maxCols.map(c => col(s"max_$c")) ++
        spec.hllCols.map(c =>
          hll_sketch_estimate(col(s"hll_$c")).as(s"ndv_$c"))
    state.select(cols: _*)
  }
}
