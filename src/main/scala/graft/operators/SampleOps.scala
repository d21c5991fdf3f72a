package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.StableHash

/** Reproducible sampling — absent in the reference (its only "selection" is
  * the whole file), essential in a training-data pipeline: a sample taken
  * for eval/labeling must be REPRODUCIBLE across runs, machines, and
  * engines, which `TABLESAMPLE`/`rand()` are not. Both operators order by
  * the content-independent [[StableHash.hash60]] of the row id, so the
  * "random" choice is a pure function of the data.
  *
  * Scale shapes: [[hashSample]] is a pure filter (pushes to the scan side
  * of any plan, no shuffle); [[stratifiedSample]] is the `row_number <= n`
  * pattern, which the GroupTopK optimizer rule rewrites into a bounded
  * per-stratum aggregation — each map task keeps ≤ n rows per stratum
  * before the exchange, so the shuffle carries O(strata x n), not the
  * corpus.
  */
object SampleOps {

  /** Deterministic ~1/k row sample: keep rows where hash(id) ≡ 0 (mod k). */
  def hashSample(df: DataFrame, idCol: Column, k: Int): DataFrame =
    df.filter(pmod(StableHash.hash60(idCol.cast("string")), lit(k.toLong)) === 0)

  /** Corpus mix rebalancing — the "data mixing" step of a training
    * pipeline: given the observed per-stratum counts (language, domain,
    * source), emit the sampling multiplier that moves the corpus to a
    * UNIFORM target mix (weight = target share / observed share; > 1e4 bp
    * means upsample, < 1e4 bp means downsample). The multiplier feeds
    * [[hashSample]]-style rate selection downstream.
    *
    * One aggregation (strata-sized) + window totals over the tiny
    * aggregate — nothing here scales with corpus rows except the first
    * groupBy, which partial-aggregates map-side.
    */
  def mixWeights(df: DataFrame, strataCol: String): DataFrame = {
    val whole = Window.partitionBy()
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum(col("n_docs")).over(whole))
      .withColumn("n_strata", count(lit(1)).over(whole))
      .select(
        col(strataCol),
        col("n_docs"),
        TextOps.roundBp(col("total").cast("double") / col("n_strata") / col("n_docs"))
          .as("weight_bp"))
      .orderBy(col(strataCol))
  }

  /** Temperature-scaled mixture weights — the multilingual-LM standard
    * (mBERT/XLM-R style): target share ∝ observed^α, which UPSAMPLES the
    * tail strata less aggressively than [[mixWeights]]' uniform target
    * while still flattening the head. α is fixed at 1/2 because `sqrt` is
    * IEEE-correctly-rounded on BOTH engines (an arbitrary `pow` is libm-
    * dependent and would break the hash-exact oracle); the cross-stratum
    * double sum runs in explicit stratum order (the repo's element-
    * sequential reduction rule), so every output bit is reproducible.
    *
    * Output per stratum: observed count and share, the temperature target
    * share, and the resampling multiplier `weight_bp` (target/observed in
    * bp) that feeds [[weightedSample]]. Strata-sized state only.
    */
  def temperatureMix(df: DataFrame, strataCol: String): DataFrame = {
    val wOrd = Window.orderBy(col(strataCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("total", sum(col("n_docs")).over(wOrd))
      .withColumn("s", sqrt(col("n_docs").cast("double")))
      .withColumn("s_sum", sum(col("s")).over(wOrd))
      .select(
        col(strataCol),
        col("n_docs"),
        expr("(n_docs * 10000) div total").as("share_bp"),
        TextOps.roundBp(col("s") / col("s_sum")).as("target_bp"),
        TextOps.roundBp(col("s") * col("total") / (col("s_sum") * col("n_docs")))
          .as("weight_bp"))
      .orderBy(col(strataCol))
  }

  /** Quality-weighted reproducible downsampling — the "keep good docs
    * more often" step between scoring and training: a row with weight
    * `w` bp survives iff `hash60(id) mod 1e4 < w`, i.e. with probability
    * w/10000, but DETERMINISTICALLY — the same doc makes the same cut on
    * every run and engine (the [[hashSample]] contract, importance-
    * weighted). A pure filter: pushes to the scan, no shuffle, and the
    * weight column composes from any scorer ([[TextOps.qualityScore]],
    * [[TextOps.lmSurprisal]], a model score).
    */
  def weightedSample(df: DataFrame, weightBpCol: String, idCol: String): DataFrame =
    df.filter(
      pmod(StableHash.hash60(col(idCol).cast("string")), lit(10000L)) < col(weightBpCol))

  /** Fixed-size weighted sample WITHOUT replacement via priority sampling
    * (Duffield-Lund-Thorup): item i gets priority w_i / u_i with u_i a
    * uniform draw, and the k highest priorities are the sample. Where
    * [[weightedSample]] keeps a weight-PROPORTIONAL (and therefore
    * data-dependent-size) subset, this returns EXACTLY k rows, still
    * weight-biased — the "give me a 10k-doc quality-weighted dev slice"
    * operator.
    *
    * Determinism: u_i := (hash60(id)+1) / 2^60, so priority ordering is
    * `bp(w_i) · 2^60 div (h_i + 1)` — one decimal(38,0) integer division
    * per row ([[graft.operators.SketchOps.kmvSourceIntersect]]'s exactness
    * argument), totally ordered by (priority desc, id). Same sample every
    * run, every engine, every partition layout; monotone in the weights
    * (raising a row's weight can only pull it IN — spec-pinned).
    *
    * Weights are quantized to basis points ([[TextOps.roundBp]]) BEFORE the
    * decimal multiply: a raw decimal(38,0) cast would truncate fractional
    * weights (a quality score in (0, 0.5] would yield all-zero priorities
    * and silently degrade to id-hash order). Quantization keeps fractional
    * weights meaningful down to 1e-4 granularity; weights below 0.5e-4
    * round to bp 0 and rank purely by (0 div anything = 0, then id) — pass
    * pre-scaled weights if finer resolution matters.
    *
    * Scale: one scan computing a per-row priority + TakeOrderedAndProject
    * (per-partition k-row heaps, k-row driver merge) — no shuffle of the
    * data, no window. Output: (rank, id, weight), rank 1..k.
    *
    * Extreme-weight bound: `__num div __den` is an IntegralDivide whose
    * LONG result overflows (→ null under non-ANSI) when
    * `bp(w)·2^60 > (h+1)·(2^63−1)` — i.e. a row whose TRUE priority
    * exceeds Long.MaxValue, reachable only when bp(w) ≳ 8·(h+1), so for
    * sane weights only at adversarially small id-hashes (P ≈ 2^-60/row).
    * Such a row belongs at the TOP, not ranked last where null would
    * sort: priorities coalesce to Long.MaxValue, which preserves the
    * winner set exactly (any overflowed priority beats every
    * non-overflowed one; several overflowed rows fall back to the id
    * tie-break). The oracle SQL applies the same least(pri, Long.MaxValue)
    * clamp and [[graft.streaming.StreamingOps.prioritySampleStream]] caps
    * its exact BigInt priority at the same bound, so all three paths agree
    * on rank order even in the multi-overflow case.
    */
  def prioritySample(
      df: DataFrame, weightCol: String, idCol: String, k: Int): DataFrame = {
    SortOps.rankedTopK(
      df.select(col(idCol), col(weightCol),
          (TextOps.roundBp(col(weightCol)).cast("decimal(38,0)") *
            lit(1L << 60).cast("decimal(38,0)")).as("__num"),
          (StableHash.hash60(col(idCol).cast("string")) + lit(1L)).as("__den"))
        .withColumn("__pri", coalesce(expr("__num div __den"), lit(Long.MaxValue))),
      k, Seq(col("__pri").desc, col(idCol)), Seq(col(idCol), col(weightCol)))
  }

  /** Per-group exactly-k weighted sample — [[prioritySample]] stratified:
    * within every group the k highest priorities win, same integer-exact
    * priority `bp(w) · 2^60 div (hash60(id)+1)` and (priority desc, id)
    * total order. Declared via the row_number-window shape, which
    * [[graft.plans.GroupTopKRewrite]] lowers to bounded per-group heaps —
    * state k rows per group on both shuffle sides, no per-partition full
    * sort — so the "one dev slice per domain" cut costs one shuffle of
    * (group, id, weight, priority) rows. The batch anchor of
    * [[graft.streaming.StreamingOps.prioritySampleStream]]. Overflowed
    * priorities clamp to Long.MaxValue — [[prioritySample]]'s
    * extreme-weight bound, order-correct by the same argument.
    */
  def prioritySampleByGroup(
      df: DataFrame, groupCol: String, weightCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__pri").desc, col(idCol))
    df.select(col(groupCol), col(idCol), col(weightCol),
        (TextOps.roundBp(col(weightCol)).cast("decimal(38,0)") *
          lit(1L << 60).cast("decimal(38,0)")).as("__num"),
        (StableHash.hash60(col(idCol).cast("string")) + lit(1L)).as("__den"))
      .withColumn("__pri", coalesce(expr("__num div __den"), lit(Long.MaxValue)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(groupCol), col("rank"), col(idCol), col(weightCol))
      .orderBy(col(groupCol), col("rank"))
  }

  /** Realize a temperature mixture as actual rows — the step between
    * [[temperatureMix]]'s weights and a training run: per-stratum quota
    * `k_s = (total · target_bp) div 1e4` (floored; sub-bp strata get 0 —
    * the α=1/2 flattening is exactly what keeps real tails nonzero), then
    * the k_s smallest id-hashes within each stratum win. The result IS the
    * mixture: a fixed `≤ total`-row slice whose stratum shares follow the
    * temperature target, reproducible across runs and engines.
    *
    * Scale shape: quotas come from the strata-sized [[temperatureMix]]
    * aggregate, broadcast; the per-stratum ranking is declared as
    * `row_number ≤ total` with a CONSTANT bound, which
    * [[graft.plans.GroupTopKRewrite]] lowers to bounded per-stratum heaps
    * (≤ `total` rows per stratum cross the shuffle, never the corpus),
    * and the variable per-stratum quota is a residual filter on the
    * broadcast join after the heaps. Output: (strataCol, rank, idCol),
    * rank 1..k_s per stratum.
    */
  def realizeMixture(
      df: DataFrame, strataCol: String, idCol: String, total: Int): DataFrame = {
    val quotas = temperatureMix(df, strataCol)
      .select(col(strataCol), expr(s"($total * target_bp) div 10000").as("quota"))
    val h = StableHash.hash60(col(idCol).cast("string"))
    val w = Window.partitionBy(col(strataCol)).orderBy(h, col(idCol))
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= total) // constant bound -> GroupTopK heaps
      .join(broadcast(quotas), strataCol)
      .filter(col("rank") <= col("quota"))
      .select(col(strataCol), col("rank"), col(idCol))
      .orderBy(col(strataCol), col("rank"))
  }

  /** Deterministic n-per-stratum sample: the n smallest id-hashes within
    * each stratum (ties impossible: the hash is keyed by the unique id, and
    * the id itself tie-breaks). Output: (strataCol, rn, idCol).
    */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      n: Int): DataFrame = {
    val h = StableHash.hash60(col(idCol).cast("string"))
    val w = Window.partitionBy(col(strataCol)).orderBy(h, col(idCol))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col(strataCol), col("rn"), col(idCol))
      .orderBy(col(strataCol), col("rn"))
  }
}
