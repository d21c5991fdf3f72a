package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

/** Physical-plan audits: every scale claim made in the operator scaladocs is
  * asserted against the actual Catalyst plan, so a regression that silently
  * un-pushes a filter, drops a broadcast, or turns an equi-join into a
  * cartesian product fails the suite — not a 100 TB run. The
  * no-CartesianProduct audit of every declared query reads PlanBudgetSpec's
  * one execution of the declared surface.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** Physical plans of every job `body` executes — the audit surface for
    * operators that finish their work eagerly at construction and hand back
    * a driver-local literal (graft.Local): their meaningful plans run under
    * `collect`/`count` inside the builder, not in the returned frame.
    */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.explainString(ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async — wait until the capture stops growing
      var last = -1
      var stableFor = 0
      var waitedMs = 0
      while (stableFor < 3 && waitedMs < 10000) {
        Thread.sleep(100); waitedMs += 100
        if (plans.size == last) stableFor += 1 else { stableFor = 0; last = plans.size }
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("q_filter_project: both predicates reach the parquet scan; schema pruned") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("GreaterThan(l_discount"), "discount filter not pushed")
    assert(p.contains("LessThan(l_shipdate"), "shipdate filter not pushed")
    // projection pruning: the 11-column table is read as ≤5 columns
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.count(_ == ',') <= 4, s"scan reads too many columns: $readSchema")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_quantity"))
  }

  test("q_tpch_q1: one scan, pushed shipdate filter, map-side partial aggregation") {
    val p = plan("q_tpch_q1")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      "pricing summary must be a single pass over the fact table")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("partial_sum"), "aggregation must combine map-side")
  }

  test("q_tpch_q6: all three predicates reach the parquet scan") {
    val p = plan("q_tpch_q6")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate lower bound not pushed")
    assert(p.contains("GreaterThanOrEqual(l_discount"), "discount range not pushed")
    assert(p.contains("LessThan(l_quantity"), "quantity filter not pushed")
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.count(_ == ',') <= 3, s"scan reads too many columns: $readSchema")
  }

  test("q_tpch_q5: dims broadcast, orderdate filter pushed, partial agg") {
    val p = plan("q_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "nation+region and supplier must broadcast, not shuffle")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "orderdate filter not pushed")
    assert(p.contains("partial_sum"), "revenue must combine map-side")
  }

  test("q_tpch_q18: qualifying keys broadcast; each table scanned once") {
    val p = plan("q_tpch_q18")
    assert(p.contains("BroadcastHashJoin"), "the 46-key HAVING result must broadcast")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 3,
      "lineitem/orders/customer must each be scanned exactly once")
    assert(p.contains("partial_sum"), "the HAVING aggregation must combine map-side")
  }

  test("q_tpch_q4: EXISTS plans as a LEFT SEMI join, orderdate filter pushed") {
    val p = plan("q_tpch_q4")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi join, not inner+distinct")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "orderdate filter not pushed")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2,
      "orders and lineitem each scanned exactly once")
  }

  test("q_tpch_q10: nation broadcasts, both fact filters pushed") {
    val p = plan("q_tpch_q10")
    assert(p.contains("BroadcastHashJoin"), "nation must broadcast")
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag filter not pushed")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "orderdate filter not pushed")
    assert(p.contains("partial_sum"), "revenue must combine map-side")
  }

  test("q_tpch_q12: shipdate window pushed; CASE folded into partial agg") {
    val p = plan("q_tpch_q12")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("partial_sum"), "CASE counts must combine map-side")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2)
  }

  test("q_tpch_q13: outer join preserves customers; both aggs partial") {
    val p = plan("q_tpch_q13")
    assert(p.contains("LeftOuter"), "customers without orders must survive the join")
    assert(p.contains("partial_count"), "counts must combine map-side")
  }

  test("q_tpch_q14: part broadcasts; the one-month shipdate range is pushed") {
    val p = plan("q_tpch_q14")
    assert(p.contains("BroadcastHashJoin"), "part must broadcast, not shuffle")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
  }

  test("q_tpch_q17: decorrelated via window — lineitem scanned exactly once") {
    val p = plan("q_tpch_q17")
    assert(p.contains("BroadcastHashJoin"), "the filtered part keys must broadcast")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 2,
      "lineitem once + part once: the correlated-avg rewrite must not rescan the fact")
    assert(p.contains("Window"), "per-part sums must come from a window, not a self-join")
  }

  test("q_tpch_q19: part broadcasts; the factored quantity envelope is pushed") {
    val p = plan("q_tpch_q19")
    assert(p.contains("BroadcastHashJoin"), "part must broadcast")
    assert(p.contains("LessThanOrEqual(l_quantity"),
      "the OR branches' common quantity bound must reach the scan")
  }

  test("q_tpch_q22: anti join for 'no recent orders'; 1-row average broadcast") {
    val p = plan("q_tpch_q22")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "orderdate filter not pushed")
    assert(p.contains("Broadcast"), "the 1-row aggregate must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q15: revenue view cached once; the scalar max broadcasts back") {
    val ps = executedPlans { SparkEntry.queries("q_tpch_q15")(spark, dir) }
    val argmax = ps.filter(_.contains("max_rev_c"))
    assert(argmax.nonEmpty, "the argmax job must run eagerly at construction")
    assert(argmax.exists(p =>
      p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage")),
      "the revenue view must be persisted, not recomputed per consumer")
    assert(argmax.exists(_.contains("Broadcast")), "the 1-row max must broadcast")
    assert(ps.forall(!_.contains("CartesianProduct")))
  }

  test("q_tpch_q21: decorrelated EXISTS — lineitem scanned exactly once") {
    val p = plan("q_tpch_q21")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 3,
      "lineitem/orders/supplier once each: both EXISTS must fold into " +
        "the one joined frame's window counts, never a lineitem self-join")
    assert(p.contains("Window"), "per-order supplier counts must come from a window")
    assert(p.contains("EqualTo(o_orderstatus,F)"), "status filter not pushed")
    assert(p.contains("BroadcastHashJoin"), "supplier must broadcast")
  }

  test("q_tpch_q7: role-played nation dims broadcast; shipdate pushed") {
    val p = plan("q_tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "both nation role copies and supplier must broadcast")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate filter not pushed")
    assert(p.contains("partial_sum"), "volume must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_tpch_q8: part/supplier/nation/region broadcast; both date+type filters pushed") {
    val p = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      "part, supplier, nation roles, and the region rollup must broadcast")
    assert(p.contains("EqualTo(p_type,MEDIUM)"), "part type filter not pushed")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "orderdate filter not pushed")
    assert(p.contains("partial_sum"), "volume must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_source_overlap: postings aggregate map-side; totals broadcast; no cartesian") {
    val p = plan("q_source_overlap")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "per-source totals must combine map-side")
    assert(p.contains("BroadcastHashJoin"), "per-source totals must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bigram_surprisal: one corpus pass; scored bigram table broadcast") {
    val p = plan("q_bigram_surprisal")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size <= 2,
      "documents must be scanned at most twice (bigram table + doc stream)")
    assert(p.contains("BroadcastHashJoin"), "the vocab²-bounded scores must broadcast")
    assert(p.contains("partial_sum"), "per-doc sums must combine map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_entity_match: pair space is a block-key equi-join; best-match is bounded GroupTopK") {
    val p = plan("q_entity_match")
    assert(p.contains("GroupTopKPartial") && p.contains("GroupTopKFinal"),
      "best-match-per-record must plan as the bounded top-1 pair, not a full window sort")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      "block pairing must be an equi-join on the block key")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_index_phrase: term predicates apply before the position joins; partial agg map-side") {
    val p = plan("q_index_phrase")
    // each postings leg filters to its query term directly after the
    // explode, so only query-term postings ever reach a join shuffle
    assert(p.contains(" = value)") && p.contains(" = table)"),
      "per-term filters must appear in the plan before the joins")
    assert(p.contains("partial_count"), "per-doc hit counts must combine map-side")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_pagerank: Pregel rounds partial-aggregate map-side") {
    val ps = executedPlans { SparkEntry.queries("q_pagerank")(spark, dir) }
    assert(ps.exists(_.contains("partial_sum")),
      "contribution sums must combine map-side")
    assert(ps.exists(p =>
      p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage")),
      "each round must read the previous round from cache, not replay it")
    assert(ps.forall(!_.contains("CartesianProduct")))
  }

  test("q_bpe_merges: recounts partial-aggregate; merge application is join-free") {
    val ps = executedPlans { SparkEntry.queries("q_bpe_merges")(spark, dir) }
    assert(ps.exists(_.contains("partial_sum")),
      "pair recount must combine map-side")
    // the winning pair is a driver literal, so the greedy merge application
    // is pure window arithmetic clustered by word — joins here would mean
    // the old keptAt/consumedAt self-join shape regressed back in
    val rebuilds = ps.filter(p => p.contains("row_number") && p.contains("collect_list"))
    assert(rebuilds.nonEmpty, "the state rebuild must execute during training")
    assert(rebuilds.forall(p =>
      !p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")),
      "merge application must be join-free window arithmetic")
    assert(ps.forall(!_.contains("CartesianProduct")))
  }

  test("exact percentiles: no full-value percentile() agg buffer in either plan") {
    // q_events_percentiles and q_hist_quantiles must compute their exact
    // quantiles via the histogram-guided two-pass rank — Spark's
    // percentile() TypedImperativeAggregate buffers EVERY group value in
    // the aggregation buffer, an OOM at 100 TB per-group volumes
    for (q <- Seq("q_events_percentiles", "q_hist_quantiles")) {
      val p = plan(q).toLowerCase
      assert(!p.contains("percentile"), s"$q plans a percentile agg buffer")
      // TypedImperativeAggregate plans as ObjectHashAggregate / SortAggregate
      // with object state; these plans should be pure hash aggs + windows
      assert(!p.contains("objecthashaggregate"), s"$q plans object-state aggregation")
    }
    // the eagerly-executed stats pass (graft.Local) must be clean too
    val eager = executedPlans {
      SparkEntry.queries("q_events_percentiles")(spark, dir).count()
      SparkEntry.queries("q_hist_quantiles")(spark, dir).count()
    }
    assert(eager.nonEmpty)
    eager.foreach(p => assert(!p.toLowerCase.contains("percentile"),
      "an eager pass still runs a percentile agg"))
  }

  test("hot paths stay inside whole-stage codegen") {
    // dropping out of codegen (a UDF, a non-codegen Expression) is a
    // silent 2-5x CPU regression at 100 TB — pin that the scan-heavy and
    // expression-heavy paths compile at least one whole-stage subtree
    // (q_sim_topk additionally exercises the custom VecDot's doGenCode)
    def subtrees(name: String): Int = {
      val s = SparkEntry.queries(name)(spark, dir).queryExecution
        .explainString(ExplainMode.fromString("codegen"))
      "Found (\\d+) WholeStageCodegen subtrees".r
        .findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)
    }
    // an unexecuted AdaptiveSparkPlan reports 0 subtrees (codegen is
    // inserted per stage at execution); audit the static plan instead —
    // per-stage codegen structure is the same
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Seq("q_tpch_q1", "q_filter_project", "q_text_tokens", "q_sim_topk").foreach { q =>
      assert(subtrees(q) >= 1, s"$q fell out of whole-stage codegen")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_join: the small dim is broadcast, never shuffled") {
    val p = plan("q_join")
    assert(p.contains("BroadcastHashJoin"), "nation join is not broadcast")
  }

  test("q_topk: TakeOrderedAndProject, not a full sort-shuffle") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(500))
    assert(!p.contains("rangepartitioning"), "top-k must not range-shuffle the table")
  }

  test("q_sort_total: exactly one range exchange (TeraSort shape)") {
    val p = plan("q_sort_total")
    assert("rangepartitioning\\(".r.findAllIn(p).size == 1, "expected exactly one range shuffle")
  }

  test("q_sort_runs: range partitioning includes the sort keys (no 16-run ceiling)") {
    val p = plan("q_sort_runs")
    val exchange = p.linesIterator.filter(_.contains("rangepartitioning")).mkString
    assert(exchange.contains("run_id"), exchange)
    assert(exchange.contains("l_extendedprice"),
      "range partitioning on run_id alone caps parallelism at the distinct-run count")
  }

  test("q_sim_topk: broadcast nested loop over the 5 query rows, no CartesianProduct") {
    val p = plan("q_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(500))
    assert(!p.contains("CartesianProduct"), "corpus x corpus cartesian is a scale-killer")
  }

  test("q_sim_lsh and q_embed_neardup: LSH turns similarity into equi-joins") {
    for (q <- Seq("q_sim_lsh", "q_embed_neardup")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
        s"$q: bucket join is not an equi-join")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q: LSH bucketing failed to produce an equi-join")
    }
  }

  test("q_kmv_intersect: both min-k passes run as bounded GroupTopK, pairing stays equi") {
    val p = plan("q_kmv_intersect")
    // per-source sketch AND per-pair union sketch both lower to the
    // bounded-heap pair — no full per-group WindowExec sort anywhere
    assert(p.contains("GroupTopKPartial") && p.contains("GroupTopKFinal"), p.take(400))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "source pairing must come from the in-array expansion, not a cross join")
  }

  test("q_label_prop: per-node argmax runs as bounded single-row heaps") {
    // the rounds execute inside the eager label-state checkpoint, so the
    // returned frame's own plan is just the checkpoint scan — capture the
    // construction-time jobs instead
    val ps = executedPlans { SparkEntry.queries("q_label_prop")(spark, dir) }
    assert(ps.exists(p => p.contains("GroupTopKPartial") && p.contains("GroupTopKFinal")),
      s"no captured plan ran the bounded heaps (${ps.size} plans captured)")
  }

  test("q_window: rank filter becomes the bounded GroupTopK operator pair") {
    // the GroupTopKRewrite rule replaces Filter+Window entirely: partial
    // bounded heaps before the exchange, final heaps + rank emission after
    val p = SparkEntry.queries("q_window")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("GroupTopKFinal") && p.contains("GroupTopKPartial"), p.take(400))
  }

  test("q_window with the rewrite gated off: Spark's WindowGroupLimit still engages") {
    // the stock path stays one conf away for A/B comparison — and must
    // retain Spark's own rank-limit pushdown when used
    spark.conf.set("spark.graft.topk.rewrite.enabled", "false")
    try {
      val p = SparkEntry.queries("q_window")(spark, dir)
        .queryExecution.executedPlan.toString
      assert(p.contains("WindowGroupLimit"), p.take(400))
    } finally spark.conf.unset("spark.graft.topk.rewrite.enabled")
  }

  test("q_embed_neardup: the normalize pipeline is planned once, not per join side") {
    // self-join on the bucket key: both sides repartition on bucket, so the
    // second side must reuse the first side's exchange instead of
    // re-scanning + re-normalizing the corpus
    val df = SparkEntry.queries("q_embed_neardup")(spark, dir)
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("TableCacheQueryStage"),
      s"expected exchange reuse in the near-dup self-join:\n${executed.take(600)}")
  }

  test("q_dedup_minhash: band-bucket join is an equi-join with partial aggregation") {
    val p = plan("q_dedup_minhash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "minhash signature aggregation should be partial+final")
  }

  test("q_dedup_verified: the doc-relation shuffle is reused, not recomputed") {
    // one groupBy produces sigs + shingle sets; bands and both verify
    // joins must share that exchange
    val df = SparkEntry.queries("q_dedup_verified")(spark, dir)
    df.collect() // finalize the adaptive plan on THIS query execution
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("TableCacheQueryStage"),
      s"expected exchange reuse in the verified-dedup plan:\n${executed.take(600)}")
  }

  test("aggregation queries use map-side partial aggregation") {
    for (q <- Seq("q_agg", "q_text_tokens", "q_chunk_stats")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q: no map-side combine in plan")
    }
  }

  test("q_hll_distinct: register aggregation combines map-side") {
    val p = plan("q_hll_distinct")
    assert(p.contains("partial_"), "HLL register max should fold before the exchange")
  }

  test("q_join_salted: the salted join is still an equi-join") {
    val p = plan("q_join_salted")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p.take(400))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "salt must join as an equality, not a residual condition")
  }

  test("q_textint_v2: scan is the custom DataSourceV2 BatchScan") {
    // q_textint_roundtrip reads the paper's format through the same source
    for (name <- Seq("q_textint_roundtrip", "q_textint_v2")) {
      val p = plan(name)
      assert(p.contains("BatchScan") && p.contains("textint"), s"$name: ${p.take(400)}")
    }
  }

  test("q_sample_stratified: sampling executes through the bounded GroupTopK pair") {
    val p = SparkEntry.queries("q_sample_stratified")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("GroupTopKFinal") && p.contains("GroupTopKPartial"), p.take(400))
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB the probe side of fact-join-filtered-dim is the dominant
    // scan; Spark's InjectRuntimeFilter turns the dim filter into a bloom
    // filter applied before the fact shuffle. Thresholds are sized for
    // production scans, so they are lowered here to prove the engine config
    // leaves the optimization reachable (it is on by default in
    // GraftSession).
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val part = spark.read.parquet(s"$dir/part.parquet").filter(col("p_size") === 1)
      val joined = li.join(part, col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey"), col("p_name"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") && optimized.contains("bloom_filter_agg"),
        s"runtime bloom filter not injected:\n${optimized.take(600)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("q_decontaminate: benchmark gram set broadcasts; training side never shuffles") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "the eval-set gram table must broadcast, not shuffle the corpus")
  }

  test("q_curate_pipeline: both selection stages are semi-joins") {
    val p = plan("q_curate_pipeline")
    assert(p.contains("LeftSemi"), p.take(400))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_bloom_join: every join is broadcast — the probe side never shuffles") {
    val p = plan("q_bloom_join")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "bloom bits/hits must broadcast; a shuffled probe defeats the reduction")
  }

  test("q_text_bm25: top-k is TakeOrderedAndProject; term filter applied map-side") {
    val p = plan("q_text_bm25")
    assert(p.contains("TakeOrderedAndProject"),
      "BM25 top-k must not be a global-window sort")
    // the isin(terms) predicate exists as a Filter (tokens drop before the
    // (doc, term) aggregation's exchange — Catalyst pushes it through the
    // Generate), and the tiny df/corpus sides broadcast
    assert(p.contains("IN (join,merge,sort)"), s"term filter missing:\n${p.take(600)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_pack_sequences: the per-doc running sum is partitioned by shard") {
    val p = plan("q_pack_sequences")
    // the corpus-wide window must be keyed on the shard column; a global
    // (partition-less) window over the corpus would serialize it through
    // one task — only the tiny shard-totals window may be global
    assert(p.contains("windowspecdefinition(shard"),
      s"no shard-partitioned window found:\n${p.take(600)}")
  }

  test("q_histogram and q_zorder: 1-row bounds broadcast back into the scan") {
    for (q <- Seq("q_histogram", "q_zorder")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$q bounds are not broadcast:\n${p.take(400)}")
      assert(!p.contains("CartesianProduct"))
    }
  }

  test("q_embed_pq: the codebook is broadcast; vectors never shuffle for assignment") {
    val p = plan("q_embed_pq")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"), "codebook must broadcast")
  }

  test("q_knn_graph: the cell self-join reuses one assignment pipeline") {
    // both self-join sides repartition on c_id, so the second side must
    // reuse the first's exchange — norms + cell rank computed once
    val df = SparkEntry.queries("q_knn_graph")(spark, dir)
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("TableCacheQueryStage"),
      s"expected exchange reuse in the knn-graph self-join:\n${executed.take(600)}")
  }

  test("q_knn_graph_hier: the cell self-join reuses one two-level assignment pipeline") {
    // hier assignment (supercenter fold + block join + block fold) feeds
    // both self-join sides through one c_id repartition — the second side
    // must reuse it, or the whole two-level pipeline runs twice
    val df = SparkEntry.queries("q_knn_graph_hier")(spark, dir)
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("TableCacheQueryStage"),
      s"expected exchange reuse in the hier knn-graph self-join:\n${executed.take(600)}")
  }

  test("q_embed_neardup_cells: assignment exchange reused by the self-join; no cartesian") {
    // the within-cell threshold pairing self-joins the SAME capped
    // assignment frame repartitioned on c_id — both sides must end in one
    // reused exchange (the nearDupPairs diamond discipline), member
    // re-attachment must stay equi-join on rep_id, and the centroid side
    // must ride a broadcast, never a shuffled corpus x centroid join
    val df = SparkEntry.queries("q_embed_neardup_cells")(spark, dir)
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("TableCacheQueryStage"),
      s"expected exchange reuse in the cell-pairing self-join:\n${executed.take(600)}")
    assert(!executed.contains("CartesianProduct"))
  }

  test("q_media_phash: rep-first plan reuses the decode/hash exchange; no cartesian") {
    // exact-dedup-first references the decoded hash table from several
    // branches (groups, member map, reps); the bands-keyed exchange must
    // be planned once and reused, and member re-attachment must stay
    // equi-join (rep_id), never a cartesian
    val df = SparkEntry.queries("q_media_phash")(spark, dir)
    df.collect() // finalize the adaptive plan
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange") || executed.contains("TableCacheQueryStage"),
      s"expected exchange reuse in the rep-first phash plan:\n${executed.take(600)}")
    assert(!executed.contains("CartesianProduct"))
  }

  test("q_tpch_q3: all three filters pushed; the segment dim broadcasts") {
    val p = plan("q_tpch_q3")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter not pushed")
    assert(p.contains("LessThan(o_orderdate"), "order-date filter not pushed")
    assert(p.contains("GreaterThan(l_shipdate"), "ship-date filter not pushed")
    assert(p.contains("BroadcastHashJoin"), "customer dim must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }

  test("q_sim_ivfpq: ADC tables and queries broadcast; candidate joins are equi") {
    val p = plan("q_sim_ivfpq")
    // the only nested-loop join allowed is the broadcast cellRank cross
    // (16 centroid rows); candidates meet codes/ADC/queries as hash joins
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin"), "cellRank cross must broadcast")
  }

  test("q_bpe_pairs and q_compact_plan: one partial+final aggregation, no sort shuffle") {
    val bpe = plan("q_bpe_pairs")
    assert(bpe.contains("TakeOrderedAndProject"), "pair top-k must not global-sort")
    assert(bpe.contains("HashAggregate"), bpe.take(300))
    val cp = plan("q_compact_plan")
    assert(cp.contains("HashAggregate"), cp.take(300))
    assert("partial_(count|sum)".r.findFirstIn(cp.toLowerCase).isDefined ||
      cp.contains("partial_count"), "compaction plan must partial-aggregate map-side")
  }

  test("q_profile: multi-distinct profiles in ONE scan (Expand, no per-column jobs)") {
    val p = plan("q_profile")
    // Catalyst plans multi-column count(distinct) as a single scan feeding
    // an Expand — the row fan-out happens map-side, not as repeated scans
    assert(p.contains("Expand"), p.take(400))
    // count node HEADERS — formatted explain prints each node in the tree
    // and again in the details section
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).size == 1,
      "column profiling must not rescan the table per column")
  }

  test("q_ivm_agg: both halves partial-aggregate before the merge") {
    val p = plan("q_ivm_agg")
    assert(p.toLowerCase.contains("partial_count") || p.contains("partial_"),
      s"rollup state must combine map-side:\n${p.take(400)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_merge_upsert: CDC apply is a broadcast anti-join, base never shuffles") {
    val p = plan("q_merge_upsert")
    assert(p.contains("LeftAnti"), p.take(400))
    assert(p.contains("BroadcastHashJoin"),
      "the change-key set must broadcast for the anti-join")
  }

  test("q_lm_surprisal: the vocabulary broadcasts onto the token stream") {
    val p = plan("q_lm_surprisal")
    assert(p.contains("BroadcastHashJoin"), p.take(400))
    assert(!p.contains("SortMergeJoin"),
      "vocab join must broadcast — shuffling the exploded tokens defeats the shape")
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // The salting operators (SkewOps) are the explicit hot-key mitigation;
    // this pins the IMPLICIT one: with AQE on (GraftSession default), a
    // runtime-detected oversized shuffle partition is split into sub-reads
    // and the join is marked skew=true — no query rewrite required.
    // Thresholds are production-sized, so they are lowered to make a
    // test-scale skew detectable.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      import spark.implicits._
      // 20k of 21k fact rows share key 0 -> one shuffle partition dwarfs
      // the median. The pad must SURVIVE column pruning (selected through
      // the join) and resist shuffle compression (md5, not a constant),
      // or the hot partition's compressed bytes stay under the threshold
      // and skew is legitimately not detected.
      val fact = spark.range(0, 21000)
        .select(org.apache.spark.sql.functions.when(col("id") < 20000, 0L)
          .otherwise(col("id")).as("key"),
          org.apache.spark.sql.functions.md5(col("id").cast("string")).as("pad"))
      val dim = spark.range(0, 2000).select(col("id").as("key"),
        org.apache.spark.sql.functions.lit(1L).as("d"))
      val joined = fact.join(dim, "key").select(col("key"), col("pad"), col("d"))
      // collect() executes THIS dataset's QueryExecution (a write would
      // plan a fresh one, leaving this adaptive plan un-finalized)
      assert(joined.collect().length == 20000) // only key 0 matches the dim
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${p.take(800)}")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
