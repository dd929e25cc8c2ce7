package graft.extra

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.ParquetRead

/** SERVABLE Kneser–Ney trigram LM — the KenLM artifact split that
  * [[Text.kneserNeyScore]]'s self-scoring form deliberately fuses:
  * `fit` trains the model ONCE (five statistic frames — the ARPA-file
  * structure as DataFrames), `score` evaluates ANY document frame
  * against it with the full backoff cascade, so unseen n-grams get
  * KenLM's semantics instead of an inner-join drop:
  *
  *   - trigram seen:            the full interpolated formula
  *   - trigram unseen, context
  *     (w1,w2) seen:            (0 − D clipped) + backoff weight ×
  *                              P(w3|w2) over the context total
  *   - context unseen:          P(w3|w2) directly
  *   - bigram (w2,w3) unseen,
  *     w2 seen:                 bigram-level backoff with cc = 0
  *   - w2 unseen:               P(w3) directly
  *   - w3 unseen:               one pseudo-type of continuation mass,
  *                              1 / N1+(••) (the <unk> floor — exact,
  *                              deterministic, never −∞)
  *
  * Scoring a frame the model was fitted on takes the seen path for
  * every trigram and reproduces [[Text.kneserNeyScore]] BIT-identically
  * (the cascade's seen branches are the same IEEE expression tree —
  * spec-pinned differential). That property is what puts the serve
  * split behind the same DuckDB oracle as the self-scoring form.
  *
  * Scale shape: `fit` is [[Text.kneserNeyScore]]'s one corpus pass
  * (every statistic re-aggregates the materialized distinct-trigram
  * frame); `score` joins the batch's trigrams against the model —
  * trigram/context frames KEYED (n-gram-type-sized), the per-w2/w3
  * backoff frames and the type-count scalar broadcast. The model
  * persists under the shared [[IndexManifests]] layer (versioned
  * saves, time travel, memoized loads) — the third registry model
  * family after the classifier and the BPE tokenizer; the streaming
  * leg ([[graft.streaming.CurationStream.perplexityStream]]) scores
  * each micro-batch with the same `score` call via foreachBatch.
  */
object KnLm {

  /** A fitted model: the five statistic frames (+ the discount and
    * optional group column they were fitted with).
    *
    *   - tri:  [by,] trigram, w1, w2, w3, c        (trigram counts)
    *   - ctx2: [by,] w1, w2, ctx, nf1              (context totals)
    *   - cont: [by,] w2, w3, cc                    (continuation bigrams)
    *   - mid:  [by,] w2, midtot, nf2               (continuation totals)
    *   - uni:  [by,] w3, pc, bt                    (continuation unigrams
    *                                                + the group's type
    *                                                count)
    */
  final case class Model(tri: DataFrame, ctx2: DataFrame, cont: DataFrame,
      mid: DataFrame, uni: DataFrame, discount: Double,
      by: Option[String]) {
    /** The group's bigram-type count(s) — w3-independent, so the OOV-w3
      * floor can reference it without a uni match; one row per group
      * (or one row, global), always broadcastable.
      */
    @transient lazy val bts: DataFrame = by match {
      case Some(b) => Dedup.materialize(
        uni.groupBy(col(b)).agg(max("bt").as("bt")))
      case None => Dedup.materialize(uni.agg(max("bt").as("bt")))
    }

    /** Trigram-frame row count, memoized per model instance — the
      * [[scoreProbed]] small-model gate reads it once per fit/load,
      * not once per micro-batch (tri is materialized, so the count is
      * one cheap scan). ctx2/cont are groupings of tri, so tri bounds
      * every model-sized frame.
      */
    @transient lazy val triRows: Long = tri.count()
  }

  /** Doc trigrams with split endpoints: idCol[, by], trigram, w1-w3.
    * THE shared extraction — [[Text.kneserNeyScore]] and [[fit]] must
    * produce byte-identical trigram strings (the seen-path parity
    * contract), so the expression lives once.
    */
  private[extra] def trigrams(df: DataFrame, idCols: Seq[String],
      textCol: String): DataFrame =
    trigramsFromToks(df.select(
      (idCols.map(col) :+ Text.tokens(col(textCol)).as("__toks")): _*),
      idCols)

  /** The explode+split half of [[trigrams]], from a frame already
    * carrying `__toks` token arrays — so a caller that PINS the
    * compact per-doc arrays (one tokenize pass, two consumers) can
    * re-derive the occurrence stream per consumer as a cheap
    * projection instead of persisting the exploded stream itself.
    */
  private[extra] def trigramsFromToks(df: DataFrame,
      idCols: Seq[String]): DataFrame = {
    val tgArr = when(size(col("__toks")) >= 3,
      transform(sequence(lit(1), size(col("__toks")) - 2),
        i => concat_ws(" ", element_at(col("__toks"), i),
          element_at(col("__toks"), i + 1),
          element_at(col("__toks"), i + 2))))
      .otherwise(array().cast("array<string>"))
    df.select((idCols.map(col) :+ explode(tgArr).as("trigram")): _*)
      .select((idCols.map(col) ++ Seq(col("trigram"),
        split(col("trigram"), " ").getItem(0).as("w1"),
        split(col("trigram"), " ").getItem(1).as("w2"),
        split(col("trigram"), " ").getItem(2).as("w3"))): _*)
  }

  /** The five KN statistic frames from a trigram frame — THE shared
    * statistics builder ([[Text.kneserNeyScore]] consumes them lazily
    * inside its fused self-scoring plan; [[fit]] materializes them as
    * the artifact). `tg` may carry extra columns (doc ids); the
    * aggregations key only on `by` + the n-gram columns, so occurrence
    * counts are identical either way.
    *
    * Plan shape: ONE corpus-sized aggregation builds `tri`
    * (materialized); the four derived statistics each re-aggregate
    * that materialized type frame on their own keys. A `[by,] w2`
    * single-exchange restructuring (subset-key co-partitioning so
    * ctx2/cont/mid share one exchange) was built and measured in r16 —
    * value-identical, fewer exchanges, but wall-flat-to-worse at the
    * bench SF (the query is driver-action-bound); it was reverted, and
    * the analysis lives in OPTIMIZATION_r16.md, not here.
    *
    * `tri` is ALWAYS materialized here — for the fit path the five
    * frames are the artifact, and for the fused self-scoring plan the
    * pin was re-measured in r17 (pinTri=false experiment): without it
    * each derived statistic's post-shuffle aggregation becomes its own
    * AQE stage job over the reused exchange — 23 → 33 jobs, taskSec
    * 1.5 → 8.7, wall 1.7 → 3.0 s at sf0.1/32. The eager checkpoint's
    * one planning round trip is cheaper than re-aggregating the
    * corpus-sized exchange per consumer.
    */
  private[extra] def stats(tg: DataFrame, by: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tri = Dedup.materialize(triCounts(tg, by))
    val (ctx2, cont, mid, uni) = derivedStats(tri, by)
    (tri, ctx2, cont, mid, uni)
  }

  /** The one corpus-sized aggregation: occurrence stream → distinct
    * trigram counts (`[by,] trigram, c, w1, w2, w3`).
    */
  private[extra] def triCounts(tg: DataFrame, by: Seq[String]): DataFrame =
    tg.groupBy((by ++ Seq("trigram")).map(col): _*)
      .agg(count(lit(1)).as("c"),
        min("w1").as("w1"), min("w2").as("w2"), min("w3").as("w3"))

  /** The four derived statistic frames from a distinct-trigram frame —
    * ONE definition (the serve/self-score bit-parity contract): both
    * the fit path and [[Text.kneserNeyScore]]'s self-scoring plan
    * build their statistics through these exact expressions, over the
    * tri frame [[stats]] materialized.
    */
  private[extra] def derivedStats(tri: DataFrame, by: Seq[String])
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    def keyed(ks: String*): Seq[String] = by ++ ks
    val ctx2 = tri.groupBy(keyed("w1", "w2").map(col): _*)
      .agg(sum("c").as("ctx"), count(lit(1)).as("nf1"))
    val cont = tri.groupBy(keyed("w2", "w3").map(col): _*)
      .agg(count(lit(1)).as("cc"))
    val mid = cont.groupBy(keyed("w2").map(col): _*)
      .agg(sum("cc").as("midtot"), count(lit(1)).as("nf2"))
    // bt (the group's bigram-type total N1+(••)) rides every uni row.
    // NOT a window: `sum(pc) OVER (PARTITION BY [by])` funnels the
    // whole vocab frame through one task per group (or ONE task,
    // ungrouped) — at web scale the unigram frame is 10⁸+ rows. A
    // groups-sized aggregate broadcast-joined back costs one extra
    // vocab-sized aggregation and keeps every stage parallel; the
    // values (exact long sums) are identical.
    val uniPc = cont.groupBy(keyed("w3").map(col): _*)
      .agg(count(lit(1)).as("pc"))
    val uni = by match {
      case Seq(b) => uniPc.join(
        broadcast(uniPc.groupBy(col(b)).agg(sum(col("pc")).as("bt"))),
        Seq(b))
      case _ => uniPc.crossJoin(
        broadcast(uniPc.agg(sum(col("pc")).as("bt"))))
    }
    (ctx2, cont, mid, uni)
  }

  /** Fits the five-frame model in one corpus pass (the
    * [[Text.kneserNeyScore]] aggregation pipeline, with the frames
    * materialized as the artifact instead of consumed inline).
    * `byCol` fits one independent model per group (the CCNet
    * per-language bank).
    */
  def fit(docs: DataFrame, textCol: String, discount: Double = 0.75,
      byCol: Option[String] = None): Model = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val by = byCol.toSeq
    val (tri, ctx2, cont, mid, uni) = stats(trigrams(docs, by, textCol), by)
    Model(tri, Dedup.materialize(ctx2), Dedup.materialize(cont),
      Dedup.materialize(mid), Dedup.materialize(uni), discount, byCol)
  }

  /** Scores a document frame against a fitted model: per doc,
    * `n_trigrams` and mean surprisal `cross_entropy` (nats, 6 dp) under
    * the full backoff cascade. Docs with < 3 tokens drop (no
    * trigrams); for a grouped model `docs` must carry the group
    * column, and rows of groups ABSENT from the model get a NULL
    * `cross_entropy` — the fail-safe verdict (a numeric floor would
    * score exactly the least-modeled docs as fluent; the gate
    * coalesces NULL to keep = false).
    */
  def score(docs: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    scoreImpl(docs, idCol, textCol, model, probeBudgetBytes = 0L)

  /** [[score]] in the micro-batch serving shape — three regimes, all
    * bit-identical in values (spec-pinned differential):
    *
    *   - SMALL model (trigram frame fits the broadcast budget —
    *     memoized [[Model.triRows]], counted once per fit/load):
    *     [[score]]'s keyed joins VERBATIM, deliberately un-hinted — a
    *     foreachBatch gate rebuilds its plan every micro-batch, so a
    *     broadcast hint would re-collect the model to the driver per
    *     batch (measured 3.7× worse than letting the small model
    *     shuffle distributed).
    *   - BIG model, bounded batch: the batch-driven-probe discipline
    *     of the index families ([[MinhashIndex]]/[[SubstrIndex]]) —
    *     pin the batch's COMPACT token arrays (never the exploded
    *     occurrence stream), take ONE distinct over the batch's
    *     trigram keys (context/continuation keys are projections of
    *     that bounded frame), semi-join-filter each model-sized frame
    *     down to the batch's keys map-side, and broadcast the
    *     survivors into the scoring joins — the model legs never
    *     shuffle; each model frame is scanned once, narrowly, per
    *     call. A cheap map-side HLL pre-check (no shuffle) guards the
    *     distinct so an over-budget batch never materializes a
    *     corpus-trigram-sized key frame.
    *   - both big: [[score]]'s keyed joins, which shuffle both sides
    *     once — the right trade at that size.
    *
    * This is what [[graft.streaming.PerplexityGate]] calls per batch;
    * it can run eager jobs at plan-construction time, which is why the
    * lazy [[score]] stays the default for the `graft_perplexity` TVF's
    * analysis path.
    */
  def scoreProbed(docs: DataFrame, idCol: String, textCol: String,
      model: Model, probeBudgetBytes: Long = 64L << 20): DataFrame = {
    require(probeBudgetBytes > 0L,
      s"probeBudgetBytes must be > 0, got $probeBudgetBytes")
    scoreImpl(docs, idCol, textCol, model, probeBudgetBytes)
  }

  private def scoreImpl(docs: DataFrame, idCol: String, textCol: String,
      model: Model, probeBudgetBytes: Long): DataFrame = {
    val by = model.by.toSeq
    def keyed(ks: String*): Seq[String] = by ++ ks
    val dD = lit(model.discount)
    val triSel = model.tri.select((keyed("trigram").map(col) :+
      col("c")): _*)
    val (tgd, triM, ctx2M, contM) =
      if (probeBudgetBytes <= 0L)
        (trigrams(docs, idCol +: by, textCol), triSel,
          model.ctx2, model.cont)
      else if (model.triRows <= IndexManifests.broadcastRowCap(
          triSel.schema, probeBudgetBytes)) {
        // SMALL model (fits the broadcast budget outright): take
        // [[score]]'s keyed shape verbatim — NO broadcast hints. A
        // foreachBatch gate builds a FRESH plan per micro-batch, so a
        // hinted broadcast re-collects every model frame to the driver
        // every batch (measured 3.7× the per-batch cost of the
        // distributed sort-merge join it replaced); the keyed join
        // shuffles the small model across the cluster instead, which
        // is the cheaper rebuild. The probe below is for models too
        // big to shuffle per batch (a web-corpus trigram table).
        (trigrams(docs, idCol +: by, textCol), triSel,
          model.ctx2, model.cont)
      } else {
        // pin the COMPACT per-doc token arrays, never the exploded
        // occurrence stream (the kneserNeyScore discipline — the
        // exploded frame is tokens-sized × 5 string columns; measured
        // 4-5× slower when checkpointed here). Every consumer below
        // re-derives its projection from the pinned arrays narrowly.
        val tokArr = Dedup.materialize(docs.select(
          ((idCol +: by).map(col) :+
            Text.tokens(col(textCol)).as("__toks")): _*))
        val t = trigramsFromToks(tokArr, idCol +: by)
        val keyPlan = t.select(
          keyed("trigram", "w1", "w2", "w3").map(col): _*)
        val cap = IndexManifests.broadcastRowCap(
          keyPlan.schema, probeBudgetBytes)
        // cheap narrow pre-check (map-side HLL, no shuffle) before
        // paying the exact distinct: a corpus-shaped `docs` must fall
        // through to the keyed joins without ever materializing a
        // corpus-trigram-sized key frame. The sketch runs over the
        // FULL key tuple (group column included — a grouped batch can
        // repeat the same trigram strings under many groups, and the
        // frame being gated is keyed rows, not trigram strings). 20%
        // headroom absorbs the sketch's error band.
        val approx = t.agg(
          approx_count_distinct(
            struct(keyed("trigram").map(col): _*)).as("n"))
          .head().getLong(0)
        if (approx <= cap * 4 / 5) {
          // ONE distinct over the occurrence stream carries all three
          // key sets: the context/continuation keys are projections of
          // the (bounded, pinned) distinct-trigram frame, not second
          // passes over the occurrences
          val triKeys = Dedup.materialize(keyPlan.distinct())
          def probed(m: DataFrame, ks: Seq[String],
              keys: DataFrame): DataFrame =
            broadcast(m.join(broadcast(keys), ks, "left_semi"))
          (t,
            probed(triSel, keyed("trigram"),
              triKeys.select(keyed("trigram").map(col): _*)),
            probed(model.ctx2, keyed("w1", "w2"),
              triKeys.select(keyed("w1", "w2").map(col): _*).distinct()),
            probed(model.cont, keyed("w2", "w3"),
              triKeys.select(keyed("w2", "w3").map(col): _*).distinct()))
        } else (t, triSel, model.ctx2, model.cont)
      }
    val joined = tgd
      .join(triM, keyed("trigram"), "left")
      .join(ctx2M, keyed("w1", "w2"), "left")
      .join(contM, keyed("w2", "w3"), "left")
      .join(broadcast(model.mid), keyed("w2"), "left")
      .join(broadcast(model.uni.select((keyed("w3").map(col) :+
        col("pc")): _*)), keyed("w3"), "left")
      .transform(d => model.by match {
        case Some(b) => d.join(broadcast(model.bts), Seq(b), "left")
        case None => d.crossJoin(broadcast(model.bts))
      })
    // the cascade — seen branches are EXACTLY the self-scoring
    // expression tree (bit-parity with Text.kneserNeyScore when every
    // trigram is in-model); bt is NULL only for a group absent from a
    // grouped model, and propagates: surprisal NULL → cross_entropy
    // NULL. FAIL-SAFE direction (review fix): coalescing to a finite
    // floor scored exactly the least-modeled docs as maximally fluent
    // (p = 1 → ce 0 → keep), inverting the filter; a NULL verdict
    // coalesces to keep = false at the gate and routes
    // unknown-language text the way CCNet does — out.
    val btD = col("bt").cast("double")
    val pUni = when(col("pc").isNotNull,
      col("pc").cast("double") / btD)
      .otherwise(lit(1.0) / btD)
    val pBi = when(col("midtot").isNotNull,
      (greatest(coalesce(col("cc"), lit(0L)).cast("double") - dD,
        lit(0.0)) +
        dD * col("nf2").cast("double") * pUni) /
        col("midtot").cast("double"))
      .otherwise(pUni)
    val pTri = when(col("ctx").isNotNull,
      (greatest(coalesce(col("c"), lit(0L)).cast("double") - dD,
        lit(0.0)) +
        dD * col("nf1").cast("double") * pBi) /
        col("ctx").cast("double"))
      .otherwise(pBi)
    // lazy on purpose (review fix): the model frames are already
    // materialized, this holds no persist to scope — an eager
    // checkpoint here doubled every streaming micro-batch's sink work
    // and ran the full job at graft_perplexity ANALYSIS time
    joined
      .select((col(idCol) +: by.map(col) :+
        round(-log(pTri), 6).cast(DecimalType(18, 6))
          .as("surprisal")): _*)
      .groupBy((col(idCol) +: by.map(col)): _*)
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("surprisal")).cast("double") / count(lit(1)), 6)
          .as("cross_entropy"))
  }

  // ---- persistence (the manifest registry discipline) ----------------

  private val Frames = Seq("tri", "ctx2", "cont", "mid", "uni", "meta")

  /** Persists a fitted model as a new committed version: the five
    * statistic frames plus a one-row meta frame (discount, group
    * column) under the shared [[IndexManifests]] layer — versioned
    * refreshes with time travel, the [[Classifier.save]]/
    * [[BpeModel.save]] registry semantics. The trigram frame lands
    * sorted on its join key near the scan sweet spot; the smaller
    * frames land as single sorted files.
    */
  def save(model: Model, dir: String, keepVersions: Int = 2): Long = {
    val spark = model.tri.sparkSession
    val v = IndexManifests.latest(spark, dir).map(_._1).getOrElse(0L) + 1
    val by = model.by
    def seg(f: String) = f"$f/seg-$v%09d"
    def write(df: DataFrame, f: String, sortCols: Seq[String],
        wide: Boolean): Unit = {
      val out =
        if (wide) df.repartition(IndexManifests.tierFileCount(
            df.count() * 64), col(sortCols.last))
        else df.coalesce(1)
      out.sortWithinPartitions(sortCols.map(col): _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$dir/${seg(f)}")
    }
    val k = by.toSeq
    write(model.tri, "tri", k :+ "trigram", wide = true)
    write(model.ctx2, "ctx2", k ++ Seq("w1", "w2"), wide = true)
    write(model.cont, "cont", k ++ Seq("w2", "w3"), wide = true)
    write(model.mid, "mid", k :+ "w2", wide = false)
    write(model.uni, "uni", k :+ "w3", wide = false)
    val meta = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        model.discount, by.orNull)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("discount",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("by",
          org.apache.spark.sql.types.StringType, nullable = true))))
    write(meta, "meta", Seq("discount"), wide = false)
    IndexManifests.commit(spark, dir, v, Frames.map(f =>
      f -> Seq(seg(f))).toMap)
    IndexManifests.vacuum(spark, dir, Frames, keepVersions)
    v
  }

  /** Loads the HEAD version (memoized per head signature). */
  def load(spark: SparkSession, dir: String): Model =
    loadVersion(spark, dir,
      IndexManifests.requireLatest(spark, dir, "KN LM model")._1)

  /** Loads a specific committed version (time travel across model
    * refreshes while retention keeps it).
    */
  def loadVersion(spark: SparkSession, dir: String, version: Long): Model = {
    val entries = IndexManifests.at(spark, dir, version)
    IndexManifests.cachedByEntries(spark, dir,
      Frames :+ s"v$version", entries) {
      def frame(name: String): DataFrame = {
        val segs = entries.getOrElse(name, Seq.empty)
        require(segs.nonEmpty,
          s"persisted KN LM at $dir v$version has no '$name' frame")
        Dedup.materialize(
          segs.map(s => ParquetRead.read(spark, s"$dir/$s"))
            .reduce(_ unionByName _))
      }
      val meta = frame("meta").head()
      Model(frame("tri"), frame("ctx2"), frame("cont"), frame("mid"),
        frame("uni"), meta.getDouble(0), Option(meta.getString(1)))
    }
  }
}
