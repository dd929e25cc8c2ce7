package graft

/** Scale-posture assertions on the REGISTERED query plans (not spec-only
  * variants): the two round-2 "weak at scale" queries must never regress
  * back to quadratic shapes.
  */
class PlanShapeSpec extends SparkSpec {

  private def executedPlan(name: String): String =
    graft.queries.Registry.byName(name).run(spark, sfDir)
      .queryExecution.executedPlan.toString

  /** Every physical plan the query actually EXECUTES, checkpoint jobs
    * included — the eager-materialize operators (ngram_jaccard,
    * neardup_minhash) return a `Scan ExistingRDD` facade, so their real
    * join shapes are only visible in the checkpoint executions, which
    * run through `Dataset.withAction` and therefore reach the
    * QueryExecutionListener. The listener bus is async: poll until the
    * plans stop arriving.
    */
  private def allExecutedPlans(name: String): String = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.queries.Registry.byName(name).run(spark, sfDir).count()
      var last = -1
      var stable = 0
      while (stable < 3) { // drain the async listener bus
        Thread.sleep(200)
        if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.mkString("\n----\n")
  }

  test("neardup_embedding: no nested-loop/cartesian join anywhere") {
    val plan = executedPlan("neardup_embedding")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("sim_topk_ivf: assignment is a projection; the only join is keyed") {
    val plan = executedPlan("sim_topk_ivf")
    // the codebook is collected (C rows) and inlined, so assignment has
    // no join at all; posting-list probing is a keyed hash join
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("ivf centroid selection compiles to bounded top-C, not a global sort") {
    import org.apache.spark.sql.functions._
    val e = graft.model.Tables.load(spark, sfDir, "embeddings")
    val sel = e.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(32)
    assert(sel.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"))
  }

  test("custkey_deciles: no single-partition global window") {
    val plan = executedPlan("custkey_deciles")
    assert(!plan.contains("Window ["), plan.take(2000))
  }

  test("trailing_revenue_7d: a keyed RANGE-frame window, one exchange " +
      "on the partition key, no joins") {
    val plan = executedPlan("trailing_revenue_7d")
    // time-range frame survives into the physical window spec
    assert(plan.contains("specifiedwindowframe(RangeFrame"), plan.take(2000))
    // partitioned by customer — never an empty-PARTITION-BY global window
    assert("windowspecdefinition\\(o_custkey".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 keyed exchange, got $exchanges")
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("ngram_jaccard: keyed PPJoin shapes — no nested-loop/cartesian, " +
      "both persists feed the executed plans") {
    val plans = allExecutedPlans("ngram_jaccard")
    assert(!plans.contains("BroadcastNestedLoopJoin"), plans.take(2000))
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    // the shingle-set and prefix persists must actually be read (their
    // removal would silently double the docFreq + ranking work)
    val cacheScans = "InMemoryTableScan".r.findAllIn(plans).length
    assert(cacheScans >= 2, s"expected >=2 cache scans, got $cacheScans")
  }

  test("neardup_minhash: candidate self-join is keyed on (band, sig) " +
      "and both sides read the bands cache") {
    val plans = allExecutedPlans("neardup_minhash")
    assert(!plans.contains("BroadcastNestedLoopJoin"), plans.take(2000))
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    // the candidate join must stay an EQUI-join on the bucket key —
    // never a nested-loop on the similarity predicate. (AQE picks the
    // physical form: broadcast at spec scale, sort-merge with exchange
    // reuse at bench scale — both acceptable; the key is what's locked.)
    assert(("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) " +
        "\\[band#\\d+, sig#\\d+\\]").r.findFirstIn(plans).isDefined,
      plans.linesIterator.filter(_.contains("Join"))
        .mkString("\n").take(2000))
    // both self-join sides must scan the persisted bands frame — losing
    // the cache silently recomputes the 16-perm minhash aggregation per
    // side
    val bandCacheScans =
      "InMemoryTableScan \\[doc_id#\\d+L?, band#\\d+, sig#\\d+\\]".r
        .findAllIn(plans).length
    assert(bandCacheScans >= 2,
      s"expected both join sides on the bands cache, got $bandCacheScans")
  }

  test("curate_docs: canonical-id is a window-min on one text_hash " +
      "exchange (not groupBy+join-back); no cartesian anywhere") {
    val plan = executedPlan("curate_docs")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert("windowspecdefinition\\(text_hash".r.findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("windowspec"))
        .mkString("\n").take(2000))
    assert(plan.contains("Window [min("), plan.take(2000))
  }

  test("decontaminate: benchmark side is a broadcast LEFT-SEMI join — " +
      "no corpus shuffle into the contamination probe, no cartesian") {
    val plan = executedPlan("decontaminate")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the corpus-side probe must be a SEMI join against a broadcast
    // shingle set (an inner join would materialize one row per shared
    // shingle pair — quadratic on boilerplate)
    assert("BroadcastHashJoin LeftSemi".r.findFirstIn(plan).isDefined ||
      (plan.contains("LeftSemi") && plan.contains("BroadcastExchange")),
      plan.linesIterator.filter(_.contains("Join")).mkString("\n").take(2000))
  }

  test("sim_topk_int8: two corpus scans only (quantized rank + broadcast " +
      "query side); re-rank adds NO extra scan; top-k is group-limited") {
    val plan = executedPlan("sim_topk_int8")
    // the quantized all-pairs scan against the tiny broadcast query
    // side is the documented design (Similarity.topKInt8 scaladoc);
    // what must never appear is a non-broadcast cartesian
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"expected 2 parquet scans, got $scans\n" +
      plan.linesIterator.filter(_.contains("Scan")).mkString("\n").take(2000))
    // rank <= k must compile to WindowGroupLimit (bounded per-group
    // top-k), not a full sort of all scored pairs
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("tfidf_top_terms: both branches read the persisted tf frame — " +
      "the corpus is scanned and tokenized once, not once per branch") {
    // eager-materialize operator: the returned frame is a facade, the
    // real shapes live in the checkpoint executions (listener capture)
    val plans = allExecutedPlans("tfidf_top_terms")
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    assertOnlyConstsNestedLoop(plans)
    // each InMemoryTableScan prints its cached lineage (including the
    // original FileScan), so count CACHE scans, not parquet mentions
    val cacheScans = "InMemoryTableScan".r.findAllIn(plans).length
    assert(cacheScans >= 2,
      s"expected tf cache read by both join branches, got $cacheScans")
    assert(plans.contains("WindowGroupLimit"), plans.take(2000))
  }

  test("sim_topk_ivfpq: the candidate join is a keyed equijoin on " +
      "list_id against the broadcast probes; top-k is group-limited") {
    // eager-materialize operator: listener capture for the real shapes
    val plans = allExecutedPlans("sim_topk_ivfpq")
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    // unlike the deliberate quantized full scans (int8/pq), the
    // composed index must never fall back to an all-pairs nested loop
    assert(!plans.contains("BroadcastNestedLoopJoin"), plans.take(2000))
    assert("BroadcastHashJoin \\[list_id".r.findFirstIn(plans).isDefined,
      plans.linesIterator.filter(_.contains("Join")).mkString("\n").take(2000))
    assert(plans.contains("WindowGroupLimit"), plans.take(2000))
  }

  test("sim_topk_ivfpq_residual: same plan discipline as the raw form " +
      "— keyed list_id equijoin, no nested loop, group-limited top-k") {
    val plans = allExecutedPlans("sim_topk_ivfpq_residual")
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    assert(!plans.contains("BroadcastNestedLoopJoin"), plans.take(2000))
    assert("BroadcastHashJoin \\[list_id".r.findFirstIn(plans).isDefined,
      plans.linesIterator.filter(_.contains("Join")).mkString("\n").take(2000))
    assert(plans.contains("WindowGroupLimit"), plans.take(2000))
  }

  test("token_counts_bpe: the 2M-replace encode is a pure projection " +
      "— no join, no aggregation, the only exchange is the result sort") {
    val plan = executedPlan("token_counts_bpe")
    assert(!plan.contains("Join"), plan.take(2000))
    assert(!plan.contains("HashAggregate"), plan.take(2000))
    val exchanges = "Exchange \\w+partitioning".r.findAllIn(plan).toList
    assert(exchanges.size <= 1, // the orderBy's range exchange only
      s"expected at most the sort exchange, got $exchanges")
    // the whole 2M-deep replace chain must land in ONE Project over
    // the scan (codegen-friendliness follows: StringReplace is a
    // codegen expression and nothing breaks the stage)
    assert("replace\\(".r.findAllIn(plan).size >= 64, plan.take(1000))
    assert(plan.contains("FileScan parquet"), plan.take(1000))
  }

  test("neardup_index: no data-sized cartesian/nested-loop (the only " +
      "BNLJ is the manifest file-range probe over a broadcast of " +
      "O(files) metadata rows); the candidate-only shingle fetch " +
      "pushes a static IN(d) to the pruned sets scan") {
    val plans = allExecutedPlans("neardup_index")
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    // Merge.pruneRanged's range probe is a DELIBERATE nested loop
    // against the broadcast per-file (min,max) frame — bounded
    // metadata, never data; any other nested loop is a regression
    val bnlj = plans.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l => l.contains("__mn#")),
      s"data-sized nested loop:\n${bnlj.mkString("\n").take(2000)}")
    // the verify fetch reads the persisted sets frame with the
    // candidate-id predicate pushed into the parquet scan
    assert("PushedFilters: \\[In\\(d".r.findFirstIn(plans).isDefined,
      plans.linesIterator.filter(_.contains("PushedFilters"))
        .mkString("\n").take(2000))
  }

  test("pack_sequences: exactly one hash exchange, on the shard key") {
    val plan = executedPlan("pack_sequences")
    val hashEx = "Exchange hashpartitioning\\(([^,]+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(hashEx.size == 1 && hashEx.head.startsWith("shard"),
      s"expected one hash exchange on shard, got $hashEx")
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("asof_clicks_bucketed: carry-forward window clusters on " +
      "(key, bucket), never key alone") {
    val plan = executedPlan("asof_clicks_bucketed")
    assert(
      "windowspecdefinition\\(user_id[^,]*, __bkt".r.findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("windowspecdefinition"))
        .mkString("\n").take(2000))
  }

  test("semdedup: assignment is a projection; the pair self-join is " +
      "keyed on cluster_id — never all-pairs") {
    val plan = executedPlan("semdedup")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the candidate join must stay an equijoin on the cluster key (AQE
    // picks the physical form; the KEY is what's locked)
    assert(("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) " +
        "\\[cluster_id#\\d+L?\\]").r.findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("Join")).mkString("\n").take(2000))
  }

  test("chunk_docs: shuffle-free chunking — no hash exchange, no join, " +
      "no aggregate before the presentation sort") {
    val plan = executedPlan("chunk_docs")
    assert(!"Exchange hashpartitioning".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
    assert(plan.contains("Generate"), plan.take(2000))
  }

  test("unigram_logprob: the token→surprisal join broadcasts the " +
      "vocab-sized table; no cartesian") {
    val plan = executedPlan("unigram_logprob")
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // one row (total) and vocab-size tables both ride broadcast joins;
    // the corpus side never shuffles for the probability lookup
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("column pruning: analytics scans never read the fat props " +
      "column; bm25 reads only doc_id and text") {
    for (q <- Seq("vwap_daily", "gap_fill", "scd2_intervals",
        "max_drawdown", "pair_corr", "anomaly_mad")) {
      val plan = executedPlan(q)
      // props is the widest events column — reading it for a query
      // that never references it means pruning broke
      assert(!plan.contains("props"), s"$q reads props:\n" +
        plan.take(1500))
    }
    val bm25 = allExecutedPlans("bm25_search")
    for (c <- Seq("lang", "source", "n_chars"))
      assert(!bm25.contains(s"$c:"), s"bm25_search reads $c")
  }

  test("new analytics queries: no cartesian/nested-loop; rolling_corr " +
      "window is pair-partitioned, not global") {
    for (q <- Seq("funnel_stages", "cohort_retention", "ab_ttest",
        "trend_ols", "autocorr_daily", "event_transitions",
        "snapshot_diff")) {
      val plan = executedPlan(q)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q:\n" +
        plan.take(1500))
      assert(!plan.contains("CartesianProduct"), s"$q:\n" +
        plan.take(1500))
    }
    val rc = executedPlan("rolling_corr")
    // keyed on the pair's DATA columns (ka, kb) — a literal pair id
    // would be constant-folded out, collapsing to a global window
    assert("windowspecdefinition\\(ka".r.findFirstIn(rc).isDefined,
      rc.take(1500))
  }

  /** Like [[allExecutedPlans]] but returning the individual plan
    * strings, for per-segment assertions (e.g. "no global sort in the
    * SCORING plan" — the facade's orderBy of an already-materialized
    * top-k frame is a different, harmless segment).
    */
  private def allExecutedPlanList(name: String): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      graft.queries.Registry.byName(name).run(spark, sfDir).count()
      var last = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(200)
        if (plans.size == last) stable += 1 else { stable = 0; last = plans.size }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("bm25_multi: corpus tokenized once (cached tf), idf/query side " +
      "broadcast, per-query top-k is group-limited — no global sort " +
      "of scored rows") {
    val plans = allExecutedPlanList("bm25_multi")
    val all = plans.mkString("\n----\n")
    // tf is persisted and consumed from cache by dl, idf and scoring —
    // remove the persist and these nodes disappear (second tokenize)
    assert("InMemoryTableScan".r.findAllIn(all).size >= 2, all.take(2000))
    // term-keyed lookup joins (query terms, idf) broadcast — the
    // corpus-side tf frame never shuffles for them
    assert("BroadcastHashJoin \\[term#\\d+\\]".r.findFirstIn(all).isDefined,
      all.take(2000))
    assert(!all.contains("CartesianProduct"), all.take(2000))
    assertOnlyConstsNestedLoop(all)
    // the per-query rank is a group-limited window; the SCORING segment
    // must not globally sort (the facade's orderBy of the materialized
    // Q*k-row result is a separate segment and fine)
    val scoring = plans.filter(_.contains("WindowGroupLimit [query_id"))
    assert(scoring.nonEmpty, all.take(2000))
    for (p <- scoring)
      assert("Sort \\[[^\\]]*\\], true".r.findFirstIn(p).isEmpty,
        s"global sort in bm25 scoring plan:\n${p.take(2000)}")
  }

  test("rolling_corr: ONE pair-keyed exchange feeds the window; the " +
      "pair join sides broadcast") {
    val plan = executedPlan("rolling_corr")
    // exactly one hashpartitioning exchange on the pair key (ka, kb) —
    // the window's; a second would mean the join re-shuffles pair rows
    assert("Exchange hashpartitioning\\(ka#\\d+, kb#\\d+"
      .r.findAllIn(plan).size == 1, plan.take(2000))
    // pair assembly is broadcast-joined per-key series, never a
    // cartesian over the pair space
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("tfidf_top_terms: corpus tokenized once — tf cache feeds both " +
      "df and scoring; per-doc top-k is group-limited") {
    val plans = allExecutedPlanList("tfidf_top_terms")
    val all = plans.mkString("\n----\n")
    // both consumers (df aggregation, scored join) read the cached tf —
    // without the persist Catalyst re-tokenizes the corpus per branch
    assert("InMemoryTableScan".r.findAllIn(all).size >= 2, all.take(2000))
    val scoring = plans.filter(_.contains("WindowGroupLimit [doc_id"))
    assert(scoring.nonEmpty, all.take(2000))
    // scoring reads the cache, and its rank is group-limited (the only
    // global sort is the facade's doc-ordered output of top-3 rows)
    assert(scoring.exists(_.contains("InMemoryTableScan")),
      all.take(2000))
    assert(!all.contains("CartesianProduct"), all.take(2000))
    assertOnlyConstsNestedLoop(all)
  }

  test("shipping_priority: top-10 is a TakeOrdered (never a global " +
      "sort); segment dim broadcasts; no cartesian") {
    val plan = executedPlan("shipping_priority")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("regional_volume: six-table chain with no cartesian; the " +
      "customer join is keyed (equijoin), not a nested loop") {
    val plan = executedPlan("regional_volume")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("bigram_logprob: raw text parsed once (cached token arrays " +
      "feed all consumers); surprisal lookup is a keyed join") {
    val plans = allExecutedPlanList("bigram_logprob")
    val all = plans.mkString("\n----\n")
    // the tokenized-array frame is persisted; bigram counts, the doc
    // join, and the vocab scalar all read it from cache
    assert("InMemoryTableScan".r.findAllIn(all).size >= 2, all.take(2000))
    // the 1-row vocab scalar rides a broadcast nested-loop cross join
    // (the unigram_logprob precedent) — only a true cartesian over
    // data-sized frames is forbidden
    assert(!all.contains("CartesianProduct"), all.take(2000))
  }

  test("hybrid_topk: fusion is a keyed full-outer join of two top-k " +
      "frames; no cartesian anywhere") {
    val plans = allExecutedPlanList("hybrid_topk")
    val all = plans.mkString("\n----\n")
    // the dense arm's query side is a broadcast nested-loop by design
    // (tiny Q-row side, non-equi self-exclusion — the sim_topk shape);
    // a CartesianProduct anywhere would mean a corpus×corpus pair
    assert(!all.contains("CartesianProduct"), all.take(2000))
    // per-arm and fused ranks are group-limited windows
    assert(all.contains("WindowGroupLimit"), all.take(2000))
  }

  test("fuzzy_match: candidates ride the gram equijoin — never a " +
      "nested-loop over the name pairs") {
    val plan = executedPlan("fuzzy_match")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("Join") && plan.contains("__g"), plan.take(2000))
  }

  test("pagerank: every iteration joins keyed or broadcast — no " +
      "cartesian/nested-loop anywhere in the materialized chain") {
    val plans = allExecutedPlans("pagerank")
    assert(!plans.contains("BroadcastNestedLoopJoin"), plans.take(2000))
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
  }

  test("pair_corr: the series self-join is a keyed equijoin on bucket " +
      "— never a nested-loop over the pair space") {
    val plan = executedPlan("pair_corr")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the k1 < k2 pair cut rides the equijoin as a post-condition, not
    // a standalone theta-join
    assert(plan.contains("Join") && plan.contains("bucket"),
      plan.take(2000))
  }

  test("gap_fill: grid⋈observed is an equijoin and the carry-forward " +
      "window is keyed, not global") {
    val plan = executedPlan("gap_fill")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert("windowspecdefinition\\(k".r.findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("anomaly_mad: both stats joins broadcast the per-key frame — " +
      "the fact table never shuffles for a lookup") {
    val plan = executedPlan("anomaly_mad")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the dev branch is recomputed in the stats and fence passes, so
    // the med lookup appears twice plus the stats lookup — what matters
    // is that EVERY join is a broadcast lookup (the fact side never
    // shuffles): joins == broadcast joins
    val joins = "HashJoin|SortMergeJoin".r.findAllIn(plan).length
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(joins == bhj && bhj >= 2,
      s"expected all-broadcast joins, got $bhj/$joins:\n" + plan.take(2000))
  }

  test("max_drawdown: the cumulative-max window is keyed on the " +
      "instrument, never an empty-PARTITION-BY global window") {
    val plan = executedPlan("max_drawdown")
    assert("windowspecdefinition\\(event_type".r.findFirstIn(plan).isDefined,
      plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("bm25_search: the idf lookup broadcasts the query-sized frame; " +
      "no cartesian anywhere in the materialized pipeline") {
    val plans = allExecutedPlans("bm25_search")
    assertOnlyConstsNestedLoop(plans)
    assert(!plans.contains("CartesianProduct"), plans.take(2000))
    assert(plans.contains("BroadcastHashJoin"), plans.take(2000))
    // the persisted tf frame must actually feed the executed plan —
    // a silent cache loss would re-tokenize the corpus per branch
    assert(plans.contains("InMemoryTableScan"), plans.take(2000))
  }

  /** r17: the BM25/tfidf pipelines attach their ONE-ROW corpus-scalar
    * frame (`__ndocs`/`__sumdl`/`__avgdl`) via crossJoin(broadcast) —
    * the DataFrame spelling of a scalar subquery, linear by
    * construction, which plans as `BroadcastNestedLoopJoin BuildRight,
    * Cross`. This guard keeps the original property — no ACCIDENTAL
    * all-pairs join — while admitting exactly that shape: every
    * nested-loop join must be the broadcast-build cross form AND its
    * own build side must carry the consts columns, so an accidental
    * cross elsewhere in the plan can't hide behind the one legitimate
    * consts join.
    */
  private def assertOnlyConstsNestedLoop(plans: String): Unit = {
    val lines = plans.linesIterator.toIndexedSeq
    // tree depth of a plan line: one per 3-char ancestor column, plus
    // one for the `+- `/`:- ` child marker
    val Tree = """^((?:[ :|]  )*)([+:]- )?.*$""".r
    def depth(l: String): Int = l match {
      case Tree(cols, marker) => cols.length / 3 + (if (marker != null) 1 else 0)
      case _ => 0
    }
    def subtree(i: Int): Seq[String] = {
      val d = depth(lines(i))
      lines(i) +: lines.drop(i + 1).takeWhile(depth(_) > d)
    }
    for ((l, i) <- lines.zipWithIndex if l.contains("BroadcastNestedLoopJoin")) {
      assert(l.contains("BuildRight, Cross") || l.contains("BuildLeft, Cross"),
        s"non-consts nested loop shape:\n$l")
      // the build side is the last child (`+- `) for BuildRight, the
      // first (`:- `) for BuildLeft
      val marker = if (l.contains("BuildRight")) "+- " else ":- "
      val d = depth(l)
      val build = (i + 1 until lines.size)
        .takeWhile(j => depth(lines(j)) > d)
        .find(j => depth(lines(j)) == d + 1 &&
          lines(j).drop(3 * d).startsWith(marker))
      assert(build.exists(j => subtree(j).exists(t =>
          t.contains("__ndocs") || t.contains("__avgdl"))),
        s"nested loop whose build side is not the consts frame:\n" +
          subtree(i).mkString("\n").take(2000))
    }
  }

  test("the consts nested-loop allowance is per join: a cross join " +
      "elsewhere in a plan that also holds the consts join is rejected") {
    val consts = """   +- BroadcastExchange IdentityBroadcastMode, [plan_id=9]
                   |      +- *(2) HashAggregate(keys=[], functions=[count(1)], output=[__ndocs#11L, __avgdl#12])
                   |         +- LocalTableScan [dl#5L]""".stripMargin
    val ok = """*(3) Project [doc_id#1L, tf#3L, __ndocs#11L]
               |+- *(3) BroadcastNestedLoopJoin BuildRight, Cross
               |   :- *(3) Project [doc_id#1L, tf#3L]
               |   :  +- FileScan parquet [doc_id#1L,tf#3L]
               |""".stripMargin + consts
    assertOnlyConstsNestedLoop(ok)
    val stray = """*(3) Project [doc_id#1L, term#4, __ndocs#11L]
                  |+- *(3) BroadcastNestedLoopJoin BuildRight, Cross
                  |   :- *(3) BroadcastNestedLoopJoin BuildRight, Cross
                  |   :  :- *(3) Project [doc_id#1L, tf#3L]
                  |   :  :  +- FileScan parquet [doc_id#1L,tf#3L]
                  |   :  +- BroadcastExchange IdentityBroadcastMode, [plan_id=7]
                  |   :     +- *(1) Project [term#4]
                  |   :        +- FileScan parquet [term#4]
                  |""".stripMargin + consts
    intercept[org.scalatest.exceptions.TestFailedException](
      assertOnlyConstsNestedLoop(stray))
  }

  test("recent_slice: the ts range predicate reaches the parquet scan " +
      "as a pushed filter (no NTZ cast shadowing the column)") {
    val plan = executedPlan("recent_slice")
    // GreaterThanOrEqual(ts,...) is the data-source Filter rendering and
    // only appears inside the scan's PushedFilters — a post-scan cast on
    // ts (e.g. the TIMESTAMP_NTZ normalization applied per-column) would
    // keep the plan correct but drop the filter from the scan, losing
    // row-group skipping on the dominant time dimension at scale
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(ts"),
      "ts range filter not pushed to the scan:\n" + plan.take(2000))
    assert(!plan.toLowerCase.contains("timestamp_ntz"),
      "driver table surfaced as TIMESTAMP_NTZ:\n" + plan.take(2000))
  }

  test("bloom_join: the might_contain prefilter sits on the big side " +
      "below the join, and the join stays a hash equijoin") {
    val plan = executedPlan("bloom_join")
    assert(plan.contains("might_contain"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
    // the filter must be BELOW the join: in the bottom-up plan string
    // the join operator prints before its children, so might_contain
    // must appear AFTER the first join line
    val joinIdx = plan.indexOf("Join")
    assert(joinIdx >= 0 && plan.indexOf("might_contain") > joinIdx,
      plan.take(2000))
  }

  test("incr_revenue (serving): reads the materialized state only — " +
      "the orders table is never scanned") {
    val plan = executedPlan("incr_revenue")
    assert(!plan.contains("orders.parquet"),
      "serving path re-scanned the base table:\n" + plan.take(2000))
    assert(plan.contains("parquet"), plan.take(2000)) // state read
  }

  test("snapshot_timetravel / version_diff (serving): read manifest " +
      "data files only — the events table is never scanned") {
    Seq("snapshot_timetravel", "version_diff").foreach { q =>
      val plan = executedPlan(q)
      assert(!plan.contains("events.parquet"),
        s"$q serving path re-scanned events:\n" + plan.take(2000))
    }
  }

  test("heavy_hitters: the exact verify pass semi-joins a broadcast " +
      "candidate list — no shuffle of the token stream for the sketch") {
    val plan = executedPlan("heavy_hitters")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("triangle_count: wedge enumeration and closure are keyed " +
      "equijoins — no cartesian anywhere in any executed job") {
    // the operator eagerly materializes canon/oriented frames, so the
    // real join shapes live in the checkpoint executions
    val plans = allExecutedPlans("triangle_count")
    assert(!plans.contains("CartesianProduct"), plans.take(3000))
    // the final three single-row stat frames ARE allowed to cross-join
    // (1×1×1 nested loop); anything bigger must not
    assert(plans.contains("SortMergeJoin") || plans.contains("BroadcastHashJoin"),
      plans.take(3000))
  }

  test("image_neardup: band candidates ride a keyed equijoin on " +
      "(band index, band value); no cartesian, no nested loop") {
    val plan = executedPlan("image_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("audio_neardup: band candidates ride a keyed equijoin; no " +
      "cartesian, no nested loop") {
    val plan = executedPlan("audio_neardup")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("cep_pattern: one keyed window, no join of any kind") {
    val plan = executedPlan("cep_pattern")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("Window"), plan.take(3000))
  }

  test("cms_freq: probe lookups broadcast the O(w) cell frame; no " +
      "cartesian") {
    val plan = executedPlan("cms_freq")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("skyline_parts: dominance rides keyed joins over the reduced " +
      "frame — no one-task global window, no cartesian") {
    val plan = executedPlan("skyline_parts")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the prefix max is the range-shuffle two-pass, not a window
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("dsir_weights: both LM lookups broadcast the vocab-sized table; " +
      "the token stream never shuffles for the join") {
    val plan = executedPlan("dsir_weights")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("dup_spans: gram-keyed equijoin + per-doc window — no cartesian, " +
      "no nested loop, and the span merge never runs as one global task") {
    val plan = executedPlan("dup_spans")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the window is partitioned by doc id — a single-partition global
    // window would show as 'Window' fed by 'Exchange SinglePartition'
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      plan.take(3000))
  }

  test("dedup_substr: same keyed shapes as dup_spans — the canonical-" +
      "occurrence agg and the cut stay free of cartesians and " +
      "single-partition windows") {
    val plan = executedPlan("dedup_substr")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      plan.take(3000))
  }

  test("decontaminate_spans: the benchmark gram set broadcasts into " +
      "the corpus probe (no corpus shuffle for the semi-join), no " +
      "cartesian, no single-partition window") {
    val plan = executedPlan("decontaminate_spans")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftSemi"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      plan.take(3000))
  }

  test("dedup_substr_incremental: posting lookup + batch-doc windows " +
      "stay keyed — no cartesian, no nested loop, no single-partition " +
      "window, and the corpus TEXT is never scanned (only the gram " +
      "posting segments are)") {
    val plan = executedPlan("dedup_substr_incremental")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      plan.take(3000))
    // every parquet scan is either the documents table (the BATCH
    // side reads text) or a gram posting segment; the corpus text
    // contribution arrives exclusively through grams/seg-N reads
    val scans = plan.split("\n").filter(_.contains("Location:"))
    assert(scans.exists(_.contains("grams/seg-")),
      s"no posting-segment scan in plan:\n${plan.take(3000)}")
  }

  test("semdedup_index: the corpus probe BROADCASTS the micro-batch " +
      "side (no corpus shuffle, no skewed cluster equijoin) and the " +
      "vector segments scan with the touched-cluster partition filter") {
    val plan = executedPlan("semdedup_index")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // both the corpus probe and the mate join carry the broadcast
    // batch side, keyed on the cluster id
    assert("BroadcastHashJoin \\[list_id#\\d+L?\\]".r
        .findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("Join"))
        .mkString("\n").take(2000))
    // static list_id IN pruning reaches the partitioned segment scan
    // as a PartitionFilter (file-listing-time pruning, not a row
    // filter after the read)
    assert("PartitionFilters: \\[[^\\]]*list_id".r
        .findFirstIn(plan).isDefined,
      plan.linesIterator.filter(_.contains("PartitionFilters"))
        .mkString("\n").take(2000))
  }

  test("decontaminate_semantic: the whole corpus side is ONE codegen " +
      "projection — no join of any kind, no hash exchange (the only " +
      "exchange is the presentation sort's range partitioning)") {
    val plan = executedPlan("decontaminate_semantic")
    assert(!plan.contains("Join"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
    assert(plan.contains("max_cosine") || plan.contains("MaxCosine"),
      plan.take(3000))
  }

  test("ccnet_buckets: no per-language window anywhere — the grouped " +
      "two-pass rank owns the tile (a PARTITION BY lang window is one " +
      "task per language, and production CCNet's largest language is " +
      "~half the corpus)") {
    assert(!allExecutedPlans("ccnet_buckets").contains("Window ["))
  }

  test("cluster_sample: the rank<=k filter compiles to a map-side " +
      "WindowGroupLimit before the exchange — the reason this site " +
      "deliberately KEEPS the window form") {
    val plan = executedPlan("cluster_sample")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }
}
