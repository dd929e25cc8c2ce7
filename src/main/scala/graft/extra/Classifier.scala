package graft.extra

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.util.ParquetRead

/** Model-based document classification — the trained-filter stage of a
  * curation pipeline (CCNet / GPT-3 / FineWeb all gate their corpora
  * with a lightweight classifier trained on seed labels; reference
  * scope: the quality/lang heuristics of the text stage, upgraded from
  * per-doc rules to a corpus-trained model).
  *
  * The model is MULTINOMIAL NAIVE BAYES with add-one smoothing over the
  * whitespace token stream ([[Text.tokens]]) — chosen deliberately over
  * gradient-trained alternatives because training is PURE COUNTING:
  * both training and scoring are exactly replayable by the DuckDB
  * oracle, so the whole train→score→predict chain sits behind the
  * hash-match gate rather than a rows-only check (the same reasoning
  * that keeps the IVF/PQ codebooks deterministic-sample by default).
  *
  * Determinism discipline (the [[Text.unigramScore]] precedent): every
  * log-probability is rounded to 6 decimals per DISTINCT (label, token)
  * and carried as DECIMAL(18,6); per-document scores are sums of
  * decimal·count products — exact, associative, partitioning- and
  * engine-independent. Java `Math.log` and DuckDB `ln` agree at round-6
  * (proven by the green unigram/bigram LM rows since r9).
  *
  * Scale shape (100 TB corpus, bounded model):
  *  - training = one explode + two map-side-combined count aggregations
  *    over (label, token) — shuffles the DISTINCT token universe, not
  *    the token stream;
  *  - the fitted model is materialized once ([[Dedup.materialize]]) —
  *    training never re-executes per consumer;
  *  - scoring joins the corpus's per-doc distinct-token counts against
  *    the model: broadcast when the model fits the size-aware cap
  *    ([[IndexManifests.broadcastRowCap]] — a trained vocab is
  *    model-sized by construction), keyed equijoin on `token` past it;
  *    the corpus side streams map-side in the broadcast regime. The
  *    classes frame (C rows) is always broadcast.
  */
object Classifier {

  /** A fitted multinomial NB model. Both frames are MATERIALIZED.
    *
    * @param classStats one row per class: `label` (string), `log_prior`
    *   = round(ln(n_docs_c / n_docs), 6), `default_lp` =
    *   round(ln(1 / (tokens_c + |V|)), 6) — the smoothed log-prob of a
    *   vocabulary token unseen in this class; both DECIMAL(18,6).
    * @param tokenLp one row per OBSERVED (label, token): `lp` =
    *   round(ln((c + 1) / (tokens_c + |V|)), 6), DECIMAL(18,6). Tokens
    *   of the training vocabulary missing here for a class fall back to
    *   that class's `default_lp`; tokens outside the training
    *   vocabulary are ignored at scoring time (standard multinomial NB
    *   over a closed vocab).
    */
  final case class NaiveBayesModel(classStats: DataFrame, tokenLp: DataFrame) {
    /** Trained vocabulary size — computed once per model instance (the
      * frames are materialized, but a count is still a job; serving
      * calls must not pay it per query).
      */
    @transient lazy val tokenRows: Long = tokenLp.count()

    /** The distinct training vocabulary, materialized once per model
      * instance — the scoring semi-join's build side.
      */
    @transient lazy val vocab: DataFrame =
      Dedup.materialize(tokenLp.select("token").distinct())
  }

  private val Lp = DecimalType(18, 6)

  /** Fits multinomial NB on `(labelCol, textCol)`. Null labels and
    * null/empty-token texts contribute nothing (a doc with zero tokens
    * still counts toward its class prior — it is a training document).
    */
  def trainNaiveBayes(df: DataFrame, labelCol: String, textCol: String)
      : NaiveBayesModel = {
    val base = df
      .where(col(labelCol).isNotNull)
      .select(col(labelCol).cast("string").as("label"),
        Text.tokens(col(textCol)).as("toks"))
    val x = base.select(col("label"), explode(col("toks")).as("token"))

    // (label, token) occurrence counts — the only token-stream shuffle.
    val tc = x.groupBy("label", "token").agg(count(lit(1)).as("c"))
      .transform(Dedup.materialize)
    // Per-class token totals and the vocabulary size ride tc (already
    // aggregated — tiny), never the token stream again.
    val ct = tc.groupBy("label").agg(sum("c").as("tot"))
    val v = tc.select(countDistinct("token").as("v"))
    val dc = base.groupBy("label").agg(count(lit(1)).as("n_docs"))
    val n = base.select(count(lit(1)).as("n"))

    // 1×C / 1×|V| broadcasts of one-row aggregate frames (the
    // Text.scala corpus-constant pattern).
    // LEFT join to the token totals: a class whose training docs carry
    // zero tokens still exists (its docs count toward the priors — the
    // documented contract); its default_lp smooths over tot = 0. The
    // zero-vocabulary guard keeps default_lp finite when the WHOLE
    // corpus is token-free (the value is never consulted then — there
    // is nothing in-vocab to score — but ln(1/0) would poison the
    // collected model).
    val classStats = dc
      .join(broadcast(n))
      .join(ct, Seq("label"), "left")
      .join(broadcast(v))
      .withColumn("tot", coalesce(col("tot"), lit(0L)))
      .select(col("label"),
        round(log(col("n_docs").cast("double") / col("n")), 6)
          .cast(Lp).as("log_prior"),
        when(col("tot") + col("v") === 0, lit(0.0))
          .otherwise(round(log(lit(1.0) / (col("tot") + col("v"))), 6))
          .cast(Lp).as("default_lp"))
      .transform(Dedup.materialize)
    val tokenLp = tc
      .join(ct, Seq("label"))
      .join(broadcast(v))
      .select(col("label"), col("token"),
        round(log((col("c").cast("double") + 1.0) / (col("tot") + col("v"))),
          6).cast(Lp).as("lp"))
      .transform(Dedup.materialize)
    NaiveBayesModel(classStats, tokenLp)
  }

  /** Per-(doc, class) log-posterior scores: one row per scored document
    * and class — `idCol`, `label`, `score` (DECIMAL, exact),
    * `n_scored_tokens` (in-vocabulary token occurrences). Documents
    * with zero in-vocabulary tokens score on priors alone (they keep a
    * row per class with `n_scored_tokens = 0`); documents whose text is
    * NULL score the same way (the tokenizer yields no tokens).
    */
  def scoreNaiveBayes(df: DataFrame, idCol: String, textCol: String,
      model: NaiveBayesModel): DataFrame = {
    val ids = df.select(col(idCol).as("__id"), Text.tokens(col(textCol)).as("toks"))
    // Aggregate to per-doc DISTINCT token counts first: the model join
    // then touches |distinct tokens per doc| rows, not every occurrence
    // (explode output never shuffles — the count partial-aggregates
    // map-side on the (id, token) key).
    val dt = ids
      .select(col("__id"), explode(col("toks")).as("token"))
      .groupBy("__id", "token").agg(count(lit(1)).as("cnt"))
    // Restrict to the training vocabulary (out-of-vocab tokens carry no
    // evidence under a closed-vocab multinomial): distinct model tokens
    // ARE the vocab — every training token appears under its own class.
    val fits = model.tokenRows <=
      IndexManifests.broadcastRowCap(model.tokenLp.schema)
    def side(m: DataFrame): DataFrame = if (fits) broadcast(m) else m
    val inVocab = dt.join(side(model.vocab), Seq("token"), "left_semi")
    // Cross the classes in (C rows, always broadcast), then resolve
    // each (token, class) against the observed table with the class
    // default as the smoothed fallback.
    val crossed = inVocab
      .join(broadcast(model.classStats.select("label", "default_lp")))
      .join(side(model.tokenLp), Seq("label", "token"), "left")
      .select(col("__id"), col("label"),
        (coalesce(col("lp"), col("default_lp")) * col("cnt")).as("w"),
        col("cnt"))
    val summed = crossed
      .groupBy("__id", "label")
      .agg(sum("w").as("evidence"), sum("cnt").as("n_scored_tokens"))
    // Keep zero-token docs scoreable: left join from ids × classes so
    // every (doc, class) pair exists, evidence defaulting to 0.
    ids.select("__id").distinct()
      .join(broadcast(model.classStats))
      .join(summed, Seq("__id", "label"), "left")
      .select(col("__id").as(idCol), col("label"),
        (col("log_prior") +
          coalesce(col("evidence"), lit(0).cast(Lp))).as("score"),
        coalesce(col("n_scored_tokens"), lit(0L)).as("n_scored_tokens"))
  }

  /** One row per document: the argmax class under (score desc, label
    * asc) — the tie-break is total because scores are exact decimals.
    * Output: `idCol`, `predicted`, `score` (winning log-posterior as
    * round-6 double).
    */
  def predictNaiveBayes(df: DataFrame, idCol: String, textCol: String,
      model: NaiveBayesModel): DataFrame =
    scoreNaiveBayes(df, idCol, textCol, model)
      .groupBy(col(idCol))
      .agg(
        min_by(col("label"), struct((col("score") * -1).as("neg"),
          col("label"))).as("predicted"),
        round(max(col("score")).cast("double"), 6).as("score"))

  // ---- projection-form scoring (streams / typed tier) ----------------

  /** A fitted model as driver-side lookup tables for the projection
    * tier: labels sorted ascending; log-probs as exact MICROS (the
    * DECIMAL(18,6) values ×10⁶ — longs, so typed-tier sums are the
    * decimal sums bit-for-bit). `tokenLp(token)(i)` = class i's lp,
    * with the class default pre-filled for unseen-in-class slots.
    */
  final case class NbTable(labels: Array[String], priors: Array[Long],
      defaults: Array[Long], tokenLp: java.util.HashMap[String, Array[Long]])

  /** Collects a model into an [[NbTable]] — bounded driver state (C
    * classes + the trained vocabulary, the codebook-collect pattern).
    */
  def toTable(model: NaiveBayesModel): NbTable = {
    def micros(d: java.math.BigDecimal): Long =
      d.movePointRight(6).setScale(0).longValueExact()
    val cs = model.classStats.collect()
      .map(r => (r.getString(0), micros(r.getDecimal(1)),
        micros(r.getDecimal(2))))
      .sortBy(_._1)
    val labels = cs.map(_._1)
    val idx = labels.zipWithIndex.toMap
    val defaults = cs.map(_._3)
    val lp = new java.util.HashMap[String, Array[Long]]()
    model.tokenLp.collect().foreach { r =>
      val arr = lp.computeIfAbsent(r.getString(1), _ => defaults.clone())
      arr(idx(r.getString(0))) = micros(r.getDecimal(2))
    }
    NbTable(labels, cs.map(_._2), defaults, lp)
  }

  /** Argmax classification as a PURE PROJECTION — no explode, no
    * aggregation, no shuffle: one mapPartitions pass with the broadcast
    * [[NbTable]], per-row tokenize (exactly [[Text.tokens]]' semantics:
    * split on single spaces, drop empties, lowercase) and integer
    * micro-sums. Bit-identical to [[predictNaiveBayes]] (spec-pinned
    * differential) — THE form for Structured Streaming, where the
    * batch scorer's aggregations would demand stateful operators for a
    * stateless verdict. ROW-PRESERVING (the [[Text.withBpeTokensTyped]]
    * shape — no id contract, no join): every input column passes
    * through, `predicted` + `score` (round-6 double) appended;
    * null/zero-token text scores on priors, like the batch path.
    */
  def classifyTyped(df: DataFrame, textCol: String,
      model: NaiveBayesModel): DataFrame = {
    val spark = df.sparkSession
    val table = toTable(model)
    require(table.labels.nonEmpty, "classifyTyped needs a trained model")
    val bc = spark.sparkContext.broadcast(table)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, DoubleType}
    val inSchema = df.schema
    val outSchema = inSchema.add("predicted", StringType)
      .add("score", DoubleType)
    val textIdx = inSchema.fieldIndex(textCol)
    val out = df.mapPartitions { it =>
      val t = bc.value
      val c = t.labels.length
      it.map { row =>
        val sums = t.priors.clone()
        if (!row.isNullAt(textIdx)) {
          // EXACTLY [[Text.tokens]]: lowercase, split on single
          // spaces, drop empties (the withBpeTokensTyped-proven parity
          // idiom)
          row.getString(textIdx)
            .toLowerCase(java.util.Locale.ROOT).split(" ", -1).foreach { w =>
            if (w.nonEmpty) {
              val arr = t.tokenLp.get(w)
              if (arr != null) {
                var i = 0
                while (i < c) { sums(i) += arr(i); i += 1 }
              }
            }
          }
        }
        var best = 0
        var i = 1
        // strict > keeps the FIRST (lowest) label on ties — labels are
        // sorted ascending, matching the batch (score desc, label asc)
        while (i < c) { if (sums(i) > sums(best)) best = i; i += 1 }
        // micros → the exact decimal's nearest double — the same value
        // DECIMAL(18,6).cast(double) + round(,6) produces on the batch
        // path (valueOf(unscaled, 6) IS that decimal)
        Row.fromSeq(row.toSeq :+ t.labels(best) :+
          java.math.BigDecimal.valueOf(sums(best), 6).doubleValue())
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    out
  }

  // ---- model persistence (the manifest discipline) -------------------

  private val Frames = Seq("class_stats", "token_lp")

  /** Persists a fitted model under the shared [[IndexManifests]] layer
    * — one atomic manifest commit per save, each save a NEW version
    * (model-registry semantics: a refreshed model supersedes the head,
    * prior versions stay time-travelable until [[IndexManifests
    * .vacuum]]'s retention reclaims them — `keepVersions` below).
    * Train once, serve everywhere: batch ([[scoreNaiveBayes]]), SQL
    * (`graft_classify`), and streams all read the same committed
    * frames.
    */
  def save(model: NaiveBayesModel, dir: String,
      keepVersions: Int = 2): Long = {
    val spark = model.classStats.sparkSession
    val prev = IndexManifests.latest(spark, dir)
    val v = prev.map(_._1).getOrElse(0L) + 1
    val csSeg = f"class_stats/seg-$v%09d"
    val lpSeg = f"token_lp/seg-$v%09d"
    // classStats is C rows; token_lp is vocab-bounded — land both near
    // the scan sweet spot instead of inheriting the training shuffle's
    // partition count (a sorted single-file class table, a few files
    // of (label, token)-sorted postings)
    // Overwrite (the AnnIndex/Bm25Index retry discipline): a save that
    // crashed after writing a segment but before the manifest commit
    // recomputes the same version — ErrorIfExists would wedge the dir.
    model.classStats.coalesce(1).sortWithinPartitions("label")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$csSeg")
    model.tokenLp
      .repartition(IndexManifests.tierFileCount(model.tokenRows * 48),
        col("token"))
      .sortWithinPartitions("label", "token")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/$lpSeg")
    IndexManifests.commit(spark, dir, v,
      Map("class_stats" -> Seq(csSeg), "token_lp" -> Seq(lpSeg)))
    IndexManifests.vacuum(spark, dir, Frames, keepVersions)
    v
  }

  /** Loads the HEAD version of a persisted model (materialized — the
    * serving calls reuse it without re-reading).
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String)
      : NaiveBayesModel =
    loadVersion(spark, dir,
      IndexManifests.requireLatest(spark, dir, "NB model")._1)

  /** Loads a SPECIFIC committed model version (time travel across
    * model refreshes, while retention keeps it).
    */
  def loadVersion(spark: org.apache.spark.sql.SparkSession, dir: String,
      version: Long): NaiveBayesModel = {
    val entries = IndexManifests.at(spark, dir, version)
    // Per-JVM memoization keyed on (dir, head-manifest signature,
    // version entries) — the cachedByEntries discipline: repeated
    // serving calls (every graft_classify analysis) reuse the
    // materialized frames instead of re-reading + re-checkpointing the
    // same committed version; a new save changes the head signature
    // and naturally invalidates.
    IndexManifests.cachedByEntries(spark, dir,
      Frames :+ s"v$version", entries) {
      def frame(name: String): DataFrame = {
        val segs = entries.getOrElse(name, Seq.empty)
        require(segs.nonEmpty,
          s"persisted NB model at $dir v$version has no '$name' frame")
        Dedup.materialize(
          segs.map(s => ParquetRead.read(spark, s"$dir/$s"))
            .reduce(_ unionByName _))
      }
      NaiveBayesModel(frame("class_stats"), frame("token_lp"))
    }
  }
}
