package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution statistics over numeric columns (north-star extension; the
  * reference computes no data statistics beyond task-latency averages,
  * `Server.java:240,421`).
  *
  * Everything here is one partial+final hash aggregation plus a 1-row
  * broadcast of the global bounds — no windows, no driver loops — so the
  * shapes hold unchanged at 100 TB.
  */
object StatsOps {

  /** Equi-width histogram: `nb` buckets spanning [min, max] of `valueCol`.
    *
    * Two jobs: a 1-row global min/max aggregate (broadcast back into the
    * scan — the same O(1) driver exchange Spark's own range partitioner
    * performs), then one partial+final count per bucket. Bucket index is
    * `floor((x - min) / width)` clamped to nb-1 so x = max lands in the last
    * bucket; all arithmetic is IEEE multiply/divide/floor, which Spark and
    * DuckDB compute bit-identically (the [[TextOps.roundBp]] rationale), so
    * bucket assignment — and the bp-rounded bucket bounds we emit — is
    * portable across engines.
    *
    * Scale: the histogram itself is `nb` rows of mergeable state (counts add
    * across partitions and across corpus shards) — the fixed-size-summary
    * family next to HLL/CMS in [[SketchOps]].
    */
  /** ANALYZE-style column profile: one row per profiled column with
    * min/max (bp), null count, and EXACT distinct count — the statistics
    * a cost-based optimizer and a data-quality gate both read. One pass
    * over the table: the multi-column `count(distinct)` makes Catalyst
    * plan an Expand (rows x columns map-side fan-out) feeding a single
    * partial+final aggregation — CPU-linear in columns, still one scan,
    * no per-column jobs. At 100 TB the distinct counts would swap to the
    * mergeable HLL registers in [[SketchOps]]; min/max/nulls are already
    * constant-size mergeable state.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c => Seq(
      TextOps.roundBp(min(col(c))).as(s"${c}__min"),
      TextOps.roundBp(max(col(c))).as(s"${c}__max"),
      count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__nd")))
    val stackArgs = cols
      .map(c => s"'$c', ${c}__min, ${c}__max, ${c}__nulls, ${c}__nd")
      .mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.length}, $stackArgs) " +
        "AS (col_name, min_bp, max_bp, n_nulls, n_distinct)"))
      .orderBy(col("col_name"))
  }

  def histogram(df: DataFrame, valueCol: String, nb: Int): DataFrame =
    histogramCore(df, valueCol, nb)
      .select(
        col("bucket"),
        TextOps.roundBp(col("lo") + col("w") * col("bucket").cast("double")).as("lo_bp"),
        TextOps.roundBp(col("lo") + col("w") * (col("bucket") + 1).cast("double")).as("hi_bp"),
        col("n_rows"))
      .orderBy(col("bucket"))

  /** (bucket, lo, w, n_rows) with unrounded bounds — the mergeable state
    * [[histogram]] projects to bp and [[histogramQuantiles]] ranks over.
    */
  private def histogramCore(df: DataFrame, valueCol: String, nb: Int): DataFrame =
    histogramCoreWith(df, valueCol, nb,
      df.agg(
        min(col(valueCol).cast("double")).as("lo"),
        max(col(valueCol).cast("double")).as("hi")))

  /** [[histogramCore]] against caller-supplied 1-row bounds (`lo`, `hi` —
    * extra columns are ignored), so a caller that already aggregates the
    * table once can reuse that pass instead of paying a second scan.
    */
  private def histogramCoreWith(
      df: DataFrame, valueCol: String, nb: Int, bounds: DataFrame): DataFrame = {
    require(nb > 0, "need at least one bucket")
    val width = (col("hi") - col("lo")) / lit(nb.toDouble)
    // null values must NOT form a bucket row: the guided-rank exact side
    // ([[histogramQuantiles]]) counts non-null rows only (bounds.n =
    // count(valueCol)), so a null bucket here would shift every cumulative
    // count and move exact percentiles to the wrong order statistic
    df.filter(col(valueCol).isNotNull)
      .crossJoin(broadcast(bounds.select(col("lo"), col("hi"))))
      .select(
        bucketExpr(col(valueCol).cast("double"), col("lo"), col("hi"), nb).as("bucket"),
        col("lo"), width.as("w"))
      .groupBy(col("bucket"), col("lo"), col("w"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** The one bucket-assignment expression every histogram consumer shares —
    * the guided-rank pass ([[exactPercentiles]]) must bucket rows
    * bit-identically to the counter pass or a value on a bucket edge is
    * counted in one bucket and ranked in another. Degenerate lo == hi
    * (all values equal) pins bucket 0 instead of the NaN the division
    * would produce.
    */
  private def bucketExpr(v: Column, lo: Column, hi: Column, nb: Int): Column = {
    val width = (hi - lo) / lit(nb.toDouble)
    val raw = floor((v - lo) / width)
    when(hi === lo, lit(0L))
      .otherwise(least(raw, lit(nb - 1).cast("double")).cast("long"))
  }

  /** EXACT per-group percentiles with BOUNDED memory — the 100 TB
    * replacement for Spark's `percentile()`, whose TypedImperativeAggregate
    * buffers every value of the group in the aggregation buffer (fine at
    * 600 K rows, OOM at petabyte per-group volumes). Same contract as
    * `percentile` / DuckDB `quantile_cont`: sorted linear interpolation at
    * position q·(n−1), replicated operation-for-operation (including the
    * integral-position and equal-neighbor short circuits) so results are
    * bit-identical to Spark's aggregate.
    *
    * Histogram-guided two-pass exact rank, three scans, no full-value state:
    *
    *  1. per-group (n, min, max) — constant-size mergeable aggregate;
    *  2. per-group `nb` bucket counters — a histogram pass; cumulative
    *     counts locate the ONE bucket containing each wanted order
    *     statistic (floor and ceil of q·(n−1) per quantile);
    *  3. rank ONLY inside candidate buckets: rows re-bucketed with the
    *     identical [[bucketExpr]], joined to the broadcast candidate list,
    *     and row_number'd per (group, quantile, index) — each window
    *     partition is one bucket's rows (~n/nb, spillable sort), never the
    *     group.
    *
    * Driver/broadcast state is O(groups × quantiles) — per-group percentile
    * output is inherently group-bounded (any plan must broadcast or collect
    * one row per group), so the per-group stats are [[graft.Local]]-ized
    * to keep the three passes from re-running the stats aggregation.
    *
    * `groupCols` empty ⇒ one global percentile per quantile.
    * Output: (groupCols..., qi 0-based, q, exact) — callers pivot/round.
    */
  private[graft] def exactPercentiles(
      df: DataFrame, valueCol: String, groupCols: Seq[String],
      qs: Seq[Double], nb: Int = 1024): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    require(nb > 0, "need at least one bucket")
    val keys = if (groupCols.isEmpty) Seq("__g") else groupCols
    val kcols = keys.map(col)
    val base0 = if (groupCols.isEmpty) df.withColumn("__g", lit(0)) else df
    val base = base0
      .select(kcols :+ col(valueCol).cast("double").as("v"): _*)
      .filter(col("v").isNotNull)
    // pass 1: constant-size per-group state, collected once (group-bounded)
    // so passes 2 and 3 read literals instead of re-aggregating
    val stats = graft.Local.localized(base.groupBy(kcols: _*).agg(
      count(lit(1)).as("n"), min(col("v")).as("glo"), max(col("v")).as("ghi")))
    // pass 2: nb counters per group; cumulative counts over COUNTER state
    val bucketed = base.join(broadcast(stats), keys)
      .select(kcols ++ Seq(col("v"),
        bucketExpr(col("v"), col("glo"), col("ghi"), nb).as("bucket")): _*)
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(kcols: _*).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val hist = bucketed.groupBy(kcols :+ col("bucket"): _*)
      .agg(count(lit(1)).as("bn"))
      .withColumn("cum", sum(col("bn")).over(wCum))
      .withColumn("cum_before", col("cum") - col("bn"))
    guidedRank(bucketed, hist, stats, keys, qs)
      .select(groupCols.map(col) ++ Seq(col("qi"), col("q"), col("exact")): _*)
  }

  /** The guided-rank tail shared by [[exactPercentiles]] (grouped) and
    * [[histogramQuantiles]] (global, reusing its sketch histogram):
    * locate each wanted order statistic's candidate bucket from the
    * cumulative counters, rank ONLY inside those buckets, interpolate with
    * Spark Percentile's exact arithmetic.
    *
    *  - `bucketed`: (keys..., v, bucket) — corpus-sized, scanned once here;
    *  - `hist`:     (keys..., bucket, bn, cum, cum_before) — counter state;
    *  - `stats`:    (keys..., n, ...) — 1 row per group, local/literal.
    *
    * Output: (keys..., qi 0-based, q, pos, exact).
    */
  private def guidedRank(
      bucketed: DataFrame, hist: DataFrame, stats: DataFrame,
      keys: Seq[String], qs: Seq[Double]): DataFrame = {
    val kcols = keys.map(col)
    // wanted order statistics: floor/ceil of Spark's position q·(n−1)
    val targets = stats
      .select(kcols :+ col("n") :+
        posexplode(array(qs.map(lit(_)): _*)).as(Seq("qi", "q")): _*)
      .withColumn("pos", col("q") * (col("n") - 1).cast("double"))
      .withColumn("idx",
        explode(array_distinct(array(floor(col("pos")), ceil(col("pos"))))))
      .select(kcols ++ Seq(col("qi"), col("q"), col("pos"), col("idx")): _*)
    // candidate bucket per wanted index: cum_before <= idx < cum
    val cand = targets.join(hist, keys)
      .filter(col("idx") >= col("cum_before") && col("idx") < col("cum"))
      .select(kcols ++ Seq(col("qi"), col("q"), col("pos"), col("idx"),
        col("bucket"), col("cum_before")): _*)
    // rank only inside candidate buckets; each window partition is ONE
    // bucket of one (group, quantile, index) — ~n/nb rows, spillable sort,
    // never the whole group
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(kcols ++ Seq(col("qi"), col("idx")): _*).orderBy(col("v"))
    val os = bucketed.join(broadcast(cand), keys :+ "bucket")
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === col("idx") - col("cum_before") + 1)
    // Spark Percentile's interpolation, operation-for-operation:
    // (higher − pos)·v_lo + (pos − lower)·v_hi, short-circuiting integral
    // positions and equal neighbor keys to v_lo
    os.groupBy(kcols ++ Seq(col("qi"), col("q"), col("pos")): _*)
      .agg(
        max(when(col("idx") === floor(col("pos")), col("v"))).as("vlo"),
        max(when(col("idx") === ceil(col("pos")), col("v"))).as("vhi"))
      .withColumn("exact",
        when(ceil(col("pos")) === floor(col("pos")), col("vlo"))
          .when(col("vhi") === col("vlo"), col("vlo"))
          .otherwise(
            (ceil(col("pos")).cast("double") - col("pos")) * col("vlo") +
              (col("pos") - floor(col("pos")).cast("double")) * col("vhi")))
  }

  /** Approximate quantiles FROM the histogram — the rank-query member of
    * the sketch family ([[SketchOps]]: HLL = distinct, CMS = frequency,
    * Bloom = membership; this = rank): the histogram's `nb` counters merge
    * across shards by addition, and any snapshot answers any quantile to
    * within one bucket width — where exact `percentile` must shuffle and
    * sort every value. Estimate: linear interpolation inside the first
    * bucket whose cumulative count reaches `q·N` (the equi-width analog of
    * the t-digest/KLL contract, exact enough for operational percentiles).
    *
    * Emits the exact percentile beside the estimate so the declared query
    * itself documents the sketch error. The exact baseline is NOT Spark's
    * `percentile()` aggregate (whose TypedImperativeAggregate buffers every
    * value in the agg buffer — an OOM at 100 TB group volumes): it is the
    * histogram-guided two-pass exact rank ([[exactPercentiles]]'s
    * machinery), REUSING this query's own sketch histogram as the guide —
    * bucket counters locate each order statistic's one candidate bucket,
    * and only that bucket's rows are ranked (a spillable ~n/nb-row sort).
    * Three scans total (bounds, counters, candidate ranks), constant-size
    * aggregation state throughout, bit-identical results to `percentile`
    * (same position q·(n−1) and interpolation arithmetic). All sketch
    * interpolation arithmetic is plain IEEE multiply/divide replicated in
    * the oracle; outputs are bp longs.
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, nb: Int, qs: Seq[Double]): DataFrame = {
    // 1-row global bounds (+ row count for the rank positions), collected
    // once as a driver-local literal (graft.Local) and broadcast into
    // every later pass — not a lazy persist the caller could never release
    val bounds = graft.Local.localized(df.agg(
      min(col(valueCol).cast("double")).as("lo"),
      max(col(valueCol).cast("double")).as("hi"),
      count(col(valueCol)).as("n")))
    val core = histogramCoreWith(df, valueCol, nb, bounds)
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
      .rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // nb rows: the windows here run over counter state, never the data —
    // and n_total comes from the SAME pass (a separate core.agg would
    // re-plan the whole histogram, doubling the table scans)
    val cum = core
      .withColumn("cum", sum(col("n_rows")).over(wCum))
      .withColumn("n_total", sum(col("n_rows")).over(wAll))
    val probes = explode(array(qs.map(q => lit(q)): _*)).as("q")
    val ranked = cum.select(col("*"), probes)
      .withColumn("r", col("q") * col("n_total").cast("double"))
      .filter(col("cum").cast("double") >= col("r"))
    val first = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q")).orderBy(col("bucket"))
    val est = col("lo") + col("w") *
      (col("bucket").cast("double") +
        (col("r") - (col("cum") - col("n_rows")).cast("double")) / col("n_rows").cast("double"))
    // exact side: guided rank over the SAME sketch histogram — `cum`
    // re-keyed to the shared (keys..., bucket, bn, cum, cum_before) shape,
    // rows re-bucketed with the identical bucketExpr, stats from `bounds`
    val histG = cum.select(lit(0).as("__g"), col("bucket"),
      col("n_rows").as("bn"), col("cum"),
      (col("cum") - col("n_rows")).as("cum_before"))
    val bucketedG = df
      .crossJoin(broadcast(bounds.select(col("lo"), col("hi"))))
      .select(lit(0).as("__g"), col(valueCol).cast("double").as("v"),
        bucketExpr(col(valueCol).cast("double"), col("lo"), col("hi"), nb)
          .as("bucket"))
      .filter(col("v").isNotNull)
    val statsG = bounds.select(lit(0).as("__g"), col("n"),
      col("lo").as("glo"), col("hi").as("ghi"))
    val exact = guidedRank(bucketedG, histG, statsG, Seq("__g"), qs)
      .select(
        TextOps.roundBp(col("q")).as("q_bp"),
        TextOps.roundBp(col("exact")).as("exact_bp"))
    ranked
      .withColumn("rn", row_number().over(first))
      .filter(col("rn") === 1)
      .select(TextOps.roundBp(col("q")).as("q_bp"), TextOps.roundBp(est).as("est_bp"))
      .join(broadcast(exact), "q_bp")
      .orderBy(col("q_bp"))
  }

  /** Association rules over co-ordered parts — the market-basket classic
    * (Agrawal & Srikant's support/confidence decomposition, plus lift):
    * which parts predict which other parts within an order. Output is the
    * top `k` directed rules ante → cons by lift, integer-exact in basis
    * points: conf_bp = n_ab*10000 div n_ante and lift_bp =
    * n_ab*n_orders*10000 div (n_ante*n_cons), so rank order is portable
    * across engines with no float summation anywhere.
    *
    * Scale shape: baskets are collected per order and paired IN-ARRAY (the
    * [[GraphOps.coOrderEdges]] shape) — per-basket fan-out is C(basket
    * size, 2), bounded by the largest order, never a corpus-sized
    * self-join; the oracle uses the equivalent relational self-join, which
    * a 100 TB run must not. Pair counts take one hash aggregation with the
    * `minSupport` filter applied before anything widens; per-item counts
    * (bounded by the part vocabulary) and the 1-row basket total broadcast
    * onto the surviving rules; the final top-k is an `orderBy+limit`
    * TakeOrderedAndProject — per-partition heaps, k-row driver merge.
    *
    * Output: (rank, ante, cons, n_ab, conf_bp, lift_bp), rank over
    * (lift_bp desc, ante, cons).
    */
  def basketRules(lineitem: DataFrame, minSupport: Long = 3L, k: Int = 30): DataFrame = {
    val b = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .distinct()
    val baskets = b.groupBy(col("okey")).agg(sort_array(collect_set(col("p"))).as("ps"))
    val nOrders = b.select(col("okey")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val itemN = b.groupBy(col("p")).agg(count(lit(1)).as("n_p"))
    val pairExprs = DedupOps.arrayPairs(col("ps"))((x, y) => struct(x.as("a"), y.as("b")))
    val pc = baskets
      .select(explode(pairExprs).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    // confidence is asymmetric: each surviving pair yields both directions.
    // In-row array explode, NOT `pc union pc.swapped`: a union's two
    // branches are two separate physical pipelines, so the whole
    // scan→baskets→pair-count chain (the query's heavy part) would
    // execute twice (plan-audited r14: 5 lineitem scans before, 3 after).
    val dir = pc.select(explode(array(
        struct(col("a").as("ante"), col("b").as("cons")),
        struct(col("b").as("ante"), col("a").as("cons")))).as("r"), col("n_ab"))
      .select(col("r.ante").as("ante"), col("r.cons").as("cons"), col("n_ab"))
    // both broadcasts ship the SAME (p, n_p) frame un-renamed: identical
    // canonicalized exchanges, so ReuseExchange builds the per-item count
    // table once and the second join reads the first broadcast (renaming
    // before the broadcast — the old shape — defeats the reuse and
    // re-runs the scan+distinct+agg pipeline per direction)
    val rules = dir
      .join(broadcast(itemN), col("ante") === itemN("p"))
      .select(col("ante"), col("cons"), col("n_ab"), col("n_p").as("n_ante"))
      .join(broadcast(itemN), col("cons") === itemN("p"))
      .select(col("ante"), col("cons"), col("n_ab"), col("n_ante"),
        col("n_p").as("n_cons"))
      .crossJoin(broadcast(nOrders))
      .select(col("ante"), col("cons"), col("n_ab"),
        // decimal(38,0) numerators/denominators (HUGEINT in the oracle):
        // n_ab * n_orders * 10000 overflows BIGINT once order counts reach
        // ~1e9 — the 100 TB shape must not ANSI-overflow. DIV on decimals
        // still yields BIGINT, so the output schema is unchanged.
        expr("CAST(n_ab AS DECIMAL(38,0)) * 10000 DIV n_ante").as("conf_bp"),
        expr("CAST(n_ab AS DECIMAL(38,0)) * n_orders * 10000 " +
          "DIV (CAST(n_ante AS DECIMAL(38,0)) * n_cons)").as("lift_bp"))
    SortOps.rankedTopK(rules, k, Seq(col("lift_bp").desc, col("ante"), col("cons")),
      Seq(col("ante"), col("cons"), col("n_ab"), col("conf_bp"), col("lift_bp")))
  }

  /** Mergeable correlation sufficient statistics per group: (n, Σx, Σy,
    * Σxy, Σx², Σy²) over bp-quantized longs, summed as decimal(38,0) so
    * no per-term product or partial sum can overflow at any scale. This
    * sextuple is the canonical mergeable-state summary for second-moment
    * statistics (counts add — the HLL-register/CMS-cell closure property
    * again), which is precisely why Spark/DuckDB's own `corr()` outputs
    * can never hash-match across engines: they accumulate FLOATS in
    * engine-specific order. Integer sufficient stats are
    * order-independent; [[corrByGroup]] finalizes them.
    */
  private[graft] def corrStats(
      df: DataFrame, groupCol: String, xCol: Column, yCol: Column): DataFrame = {
    val xq = TextOps.roundBp(xCol).cast("decimal(38,0)")
    val yq = TextOps.roundBp(yCol).cast("decimal(38,0)")
    df.select(col(groupCol), xq.as("xq"), yq.as("yq"))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xq")).as("sx"),
        sum(col("yq")).as("sy"),
        sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sx2"),
        sum(col("yq") * col("yq")).as("sy2"))
  }

  /** Pearson correlation per group from the integer sufficient statistics
    * — one partial+final hash aggregation, then per-group O(1) arithmetic.
    *
    * The finalization converts the EXACT integer moments to doubles only
    * at the last step (num, d1, d2 are exact decimals first; ::double of
    * an exact integer and IEEE sqrt/division are bit-identical across
    * engines — the [[histogram]] portability argument), so `corr_bp`
    * hash-matches the DuckDB oracle. Zero-variance groups emit NULL.
    *
    * Output: (group, n, mean_x_bp, mean_y_bp, corr_bp), ordered.
    */
  def corrByGroup(
      df: DataFrame, groupCol: String, xCol: Column, yCol: Column): DataFrame =
    corrStats(df, groupCol, xCol, yCol)
      .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
      .withColumn("d1", (col("n") * col("sx2") - col("sx") * col("sx")).cast("double"))
      .withColumn("d2", (col("n") * col("sy2") - col("sy") * col("sy")).cast("double"))
      .select(
        col(groupCol),
        col("n"),
        expr("CAST(sx div n AS BIGINT)").as("mean_x_bp"),
        expr("CAST(sy div n AS BIGINT)").as("mean_y_bp"),
        when(col("d1") > 0 && col("d2") > 0,
          floor(lit(10000.0) * col("num") / (sqrt(col("d1")) * sqrt(col("d2"))) + lit(0.5))
            .cast("long")).as("corr_bp"))
      .orderBy(col(groupCol))

  /** DuckDB SQL matching [[corrByGroup]] on `table` (HUGEINT sums mirror
    * the decimal(38,0) exactness).
    */
  def corrByGroupSql(
      table: String, groupCol: String, xExpr: String, yExpr: String): String = {
    val xq = TextOps.roundBpSql(xExpr)
    val yq = TextOps.roundBpSql(yExpr)
    s"WITH q AS (SELECT $groupCol, $xq AS xq, $yq AS yq FROM $table), " +
      s"st AS (SELECT $groupCol, CAST(count(*) AS BIGINT) AS n, " +
      "sum(xq::HUGEINT) AS sx, sum(yq::HUGEINT) AS sy, " +
      "sum(xq::HUGEINT * yq) AS sxy, sum(xq::HUGEINT * xq) AS sx2, " +
      "sum(yq::HUGEINT * yq) AS sy2 FROM q GROUP BY 1), " +
      "f AS (SELECT *, (n*sxy - sx*sy)::DOUBLE AS num, " +
      "(n*sx2 - sx*sx)::DOUBLE AS d1, (n*sy2 - sy*sy)::DOUBLE AS d2 FROM st) " +
      s"SELECT $groupCol, n, CAST(sx // n AS BIGINT) AS mean_x_bp, " +
      "CAST(sy // n AS BIGINT) AS mean_y_bp, " +
      "CASE WHEN d1 > 0 AND d2 > 0 THEN " +
      "CAST(floor(10000.0 * num / (sqrt(d1) * sqrt(d2)) + 0.5) AS BIGINT) " +
      s"ELSE NULL END AS corr_bp FROM f ORDER BY $groupCol"
  }

  /** Welch finalize fragments — ONE string each feeding both engines (the
    * [[cofactor]] discipline): every float step is a single IEEE op over
    * exact integer inputs or prior steps, so the chain is bit-identical
    * wherever the expression TREE is identical — which sharing the text
    * guarantees. `w_x` is the variance of side x's mean: the exact
    * integer numerator n·Σv² − (Σv)² cast to double once, then two
    * divisions (by n(n−1), then by n).
    */
  private[graft] val welchDm =
    "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
      "CAST(s_a * n_b - s_b * n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) " +
      "ELSE NULL END"
  private[graft] def welchW(sfx: String): String =
    s"CASE WHEN n_$sfx > 1 THEN " +
      s"CAST(n_$sfx * s2_$sfx - s_$sfx * s_$sfx AS DOUBLE) / " +
      s"(CAST(n_$sfx AS DOUBLE) * CAST(n_$sfx - 1 AS DOUBLE)) / CAST(n_$sfx AS DOUBLE) " +
      "ELSE NULL END"
  /** Side mean in bp: floor-of-double-quotient so negative Σv_bp agrees
    * across engines (Spark `div` truncates, DuckDB `//` floors — the
    * [[TextOps.floorDivSql]] rule).
    */
  private[graft] def welchMean(sfx: String): String =
    s"CASE WHEN n_$sfx > 0 THEN ${TextOps.floorDivSql(s"s_$sfx", s"n_$sfx")} ELSE NULL END"
  private[graft] val welchT =
    "CASE WHEN n_a > 1 AND n_b > 1 AND w_a + w_b > 0 THEN " +
      "CAST(floor(10000.0 * (dm / sqrt(w_a + w_b)) + 0.5) AS BIGINT) ELSE NULL END"
  private[graft] val welchDf =
    "CASE WHEN n_a > 1 AND n_b > 1 AND w_a * w_a + w_b * w_b > 0 THEN " +
      "CAST(floor(10000.0 * ((w_a + w_b) * (w_a + w_b) / " +
      "(w_a * w_a / CAST(n_a - 1 AS DOUBLE) + w_b * w_b / CAST(n_b - 1 AS DOUBLE))) " +
      "+ 0.5) AS BIGINT) ELSE NULL END"

  /** Welch's two-sample t-test — the A/B readout every event pipeline
    * ships: does `typeA`'s mean value differ from `typeB`'s, without
    * assuming equal variances? Sufficient statistics per side are the
    * exact integer (n, Σv_bp, Σv_bp²) — mergeable, one partial+final
    * aggregation over the event stream, the [[corrByGroup]] discipline —
    * and the t statistic and Welch–Satterthwaite df finalize in doubles
    * through the SHARED [[welchDm]]/[[welchW]]/[[welchT]]/[[welchDf]]
    * strings, so the oracle is hash-exact. Degenerate inputs (a side with
    * n ≤ 1, or zero variance on both) emit NULL, never a wrong statistic.
    *
    * Output (one row): (n_a, n_b, mean_a_bp, mean_b_bp, t_bp, df_bp).
    */
  def welchTTest(
      events: DataFrame, typeA: String = "view", typeB: String = "purchase",
      typeCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    def side(t: String, sfx: String) =
      events.filter(col(typeCol) === t)
        .select(TextOps.roundBp(col(valueCol)).cast("decimal(38,0)").as("v"))
        .agg(count(lit(1)).as(s"n_$sfx"), sum(col("v")).as(s"s_$sfx"),
          sum(col("v") * col("v")).as(s"s2_$sfx"))
    side(typeA, "a").crossJoin(broadcast(side(typeB, "b")))
      .withColumn("dm", expr(welchDm))
      .withColumn("w_a", expr(welchW("a")))
      .withColumn("w_b", expr(welchW("b")))
      .select(
        col("n_a"), col("n_b"),
        expr(welchMean("a")).as("mean_a_bp"),
        expr(welchMean("b")).as("mean_b_bp"),
        expr(welchT).as("t_bp"),
        expr(welchDf).as("df_bp"))
  }

  /** DuckDB SQL matching [[welchTTest]] on `table` — HUGEINT sufficient
    * statistics, then the IDENTICAL finalize strings.
    */
  def welchTTestSql(table: String, typeA: String, typeB: String): String = {
    val vq = TextOps.roundBpSql("value")
    s"WITH qa AS (SELECT $vq::HUGEINT AS v FROM $table WHERE event_type = '$typeA'), " +
      "a AS (SELECT CAST(count(*) AS BIGINT) AS n_a, sum(v) AS s_a, " +
      "sum(v * v) AS s2_a FROM qa), " +
      s"qb AS (SELECT $vq::HUGEINT AS v FROM $table WHERE event_type = '$typeB'), " +
      "b AS (SELECT CAST(count(*) AS BIGINT) AS n_b, sum(v) AS s_b, " +
      "sum(v * v) AS s2_b FROM qb), " +
      "j AS (SELECT * FROM a CROSS JOIN b), " +
      s"f AS (SELECT *, $welchDm AS dm, ${welchW("a")} AS w_a, ${welchW("b")} AS w_b FROM j) " +
      "SELECT n_a, n_b, " +
      s"${welchMean("a")} AS mean_a_bp, " +
      s"${welchMean("b")} AS mean_b_bp, " +
      s"$welchT AS t_bp, $welchDf AS df_bp FROM f"
  }

  /** Mann–Whitney U with midrank tie handling — [[welchTTest]]'s
    * nonparametric sibling and, via AUC = U/(n_a·n_b), the
    * ranking-quality readout (P(a > b) + ½P(a = b)): does one event
    * type's value distribution stochastically dominate the other's,
    * with no normality assumption and NO float anywhere — ranks are
    * carried in a ×2 integer scale so midranks of ties stay exact
    * (midrank2(v) = 2·(count below v) + count(v) + 1), and
    * R_a = Σ_v cntA(v)·midrank2(v) accumulates in decimal(38,0)
    * (HUGEINT in the oracle).
    *
    * Scale shape: never a per-row rank — the whole computation runs on
    * the VALUE HISTOGRAM (one conditional-sum aggregation over events,
    * distinct-value-bounded), cumulated with a window over that
    * histogram. U2_a = R_a2 − n_a(n_a+1) (pairs where A beats B, ×2);
    * auc_a_bp floors U2_a·10⁴ / (2·n_a·n_b). Output (one row): (n_a, n_b, u2_a, u2_b,
    * auc_a_bp) — u2_* are the ×2-scaled exact U statistics
    * (u2_a + u2_b = 2·n_a·n_b, the internal consistency check the spec
    * pins).
    */
  def mannWhitney(
      events: DataFrame, typeA: String = "view", typeB: String = "purchase",
      typeCol: String = "event_type", valueCol: String = "value"): DataFrame = {
    // NULL values must not enter the histogram: Spark's Window.orderBy
    // sorts NULLs first while DuckDB's ORDER BY defaults NULLS LAST, which
    // would shift every midrank on one engine only (and count NULL rows
    // into n_a/n_b while contributing no rankable value).
    val hist = events
      .filter(col(typeCol).isin(typeA, typeB) && col(valueCol).isNotNull)
      .select(TextOps.roundBp(col(valueCol)).as("v"),
        when(col(typeCol) === typeA, 1L).otherwise(0L).as("a"))
      .groupBy(col("v"))
      .agg(sum(col("a")).as("ca"), sum(lit(1L) - col("a")).as("cb"))
      .withColumn("before", TextOps.sumBefore(col("ca") + col("cb"),
        org.apache.spark.sql.expressions.Window.orderBy(col("v"))))
      .withColumn("mid2", lit(2L) * col("before") + col("ca") + col("cb") + 1L)
    hist.agg(
      sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"),
      sum(col("ca").cast("decimal(38,0)") * col("mid2")).as("ra2"))
      .select(col("n_a"), col("n_b"),
        expr("CAST(ra2 - n_a * (n_a + 1) AS BIGINT)").as("u2_a"),
        expr("CAST(2 * n_a * n_b + n_a * (n_a + 1) - ra2 AS BIGINT)").as("u2_b"),
        expr("CASE WHEN n_a > 0 AND n_b > 0 THEN " +
          "CAST((ra2 - n_a * (n_a + 1)) * 10000 div " +
          "(CAST(2 AS DECIMAL(38,0)) * n_a * n_b) AS BIGINT) ELSE NULL END").as("auc_a_bp"))
  }

  /** DuckDB SQL matching [[mannWhitney]] on `table`. */
  def mannWhitneySql(table: String, typeA: String, typeB: String): String = {
    val vq = TextOps.roundBpSql("value")
    s"WITH q AS (SELECT $vq AS v, " +
      s"CASE WHEN event_type = '$typeA' THEN 1 ELSE 0 END AS a " +
      s"FROM $table WHERE event_type IN ('$typeA', '$typeB') " +
      "AND value IS NOT NULL), " +
      "h AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca, " +
      "CAST(sum(1 - a) AS BIGINT) AS cb FROM q GROUP BY v), " +
      "c AS (SELECT *, coalesce(sum(ca + cb) OVER (ORDER BY v " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM h), " +
      "m AS (SELECT *, 2 * before + ca + cb + 1 AS mid2 FROM c), " +
      "s AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b, " +
      "sum(ca::HUGEINT * mid2) AS ra2 FROM m) " +
      "SELECT n_a, n_b, " +
      "CAST(ra2 - n_a * (n_a + 1) AS BIGINT) AS u2_a, " +
      "CAST(2 * n_a * n_b + n_a * (n_a + 1) - ra2 AS BIGINT) AS u2_b, " +
      "CASE WHEN n_a > 0 AND n_b > 0 THEN " +
      "CAST((ra2 - n_a * (n_a + 1)) * 10000 // " +
      "(2::HUGEINT * n_a * n_b) AS BIGINT) ELSE NULL END AS auc_a_bp " +
      "FROM s"
  }

  /** Cofactor expansion of a 3x3 determinant over named SQL columns — the
    * SAME string feeds Spark (decimal(38,0) operands) and DuckDB (HUGEINT
    * operands), so the two engines evaluate a structurally identical
    * expression tree over exact integers.
    */
  private def det3(r1: Seq[String], r2: Seq[String], r3: Seq[String]): String =
    s"(${r1(0)})*((${r2(1)})*(${r3(2)}) - (${r2(2)})*(${r3(1)})) " +
      s"- (${r1(1)})*((${r2(0)})*(${r3(2)}) - (${r2(2)})*(${r3(0)})) " +
      s"+ (${r1(2)})*((${r2(0)})*(${r3(1)}) - (${r2(1)})*(${r3(0)}))"

  /** The four Cramer determinants of the 3-feature normal equations
    * A·w = b, A = [[n,s1,s2],[s1,s11,s12],[s2,s12,s22]], b = [sy,s1y,s2y]:
    * (den, d0, d1, d2) with w_i = d_i / den.
    */
  private def cramer3: Seq[(String, String)] = Seq(
    "den" -> det3(Seq("n", "s1", "s2"), Seq("s1", "s11", "s12"), Seq("s2", "s12", "s22")),
    "d0" -> det3(Seq("sy", "s1", "s2"), Seq("s1y", "s11", "s12"), Seq("s2y", "s12", "s22")),
    "d1" -> det3(Seq("n", "sy", "s2"), Seq("s1", "s1y", "s12"), Seq("s2", "s2y", "s22")),
    "d2" -> det3(Seq("n", "s1", "sy"), Seq("s1", "s11", "s1y"), Seq("s2", "s12", "s2y")))

  /** EXACT closed-form least-squares fit of y ~ w0 + w1·x1 + w2·x2 — the
    * model-fitting step of a quality-classifier pipeline, done the way a
    * distributed engine should: ONE aggregation pass collects the integer
    * normal-equation moments (n, Σx, Σxxᵀ, Σxy — nine decimal(38,0) sums,
    * the [[corrStats]] discipline at d=3), then Cramer's rule on the 3x3
    * system yields each weight as an exact integer RATIONAL
    * (w_num_i, w_den) — no float solve, no iteration, hash-identical
    * across engines. Emitted as strings because the determinants exceed
    * int64 (decimal(38,0) ↔ DuckDB HUGEINT).
    *
    * Scale shape: the moments are a map-side-combined aggregate of the
    * feature pass — bytes of state regardless of row count; the solve is
    * O(1) on a 1-row frame. Exactness envelope: with features ≲ 1e3 and
    * y ≲ 1e4, determinant terms stay under 38 digits to ~1e7 rows; past
    * that, fit on a deterministic hash-sample (statistically equivalent
    * for 3 parameters) or rescale features. A singular system (collinear
    * features) emits den = 0 — the caller's recompute/regularize signal,
    * never a wrong weight.
    *
    * Output: (coef ∈ {intercept, x1, x2}, w_num, w_den) ordered by coef.
    */
  def linregFit(df: DataFrame, x1: Column, x2: Column, y: Column): DataFrame = {
    val dec = (c: Column) => c.cast("long").cast("decimal(38,0)")
    val st = df.select(dec(x1).as("x1"), dec(x2).as("x2"), dec(y).as("y"))
      .agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
        sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"),
        sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"))
    st.select(cramer3.map { case (name, e) => expr(e).as(name) }: _*)
      .selectExpr(
        "stack(3, 'intercept', d0, 'x1', d1, 'x2', d2) AS (coef, num)", "den")
      .select(col("coef"), col("num").cast("string").as("w_num"),
        col("den").cast("string").as("w_den"))
      .orderBy(col("coef"))
  }

  /** DuckDB SQL matching [[linregFit]]: `fromSql` must yield columns
    * (x1, x2, y); moments accumulate in HUGEINT, determinants come from
    * the SAME cofactor strings as the Spark plan.
    */
  def linregFitSql(fromSql: String): String = {
    val dets = cramer3.map { case (name, e) => s"$e AS $name" }.mkString(", ")
    s"WITH f AS ($fromSql), " +
      "st AS (SELECT count(*)::HUGEINT AS n, " +
      "sum(x1::HUGEINT) AS s1, sum(x2::HUGEINT) AS s2, " +
      "sum(x1::HUGEINT * x1) AS s11, sum(x1::HUGEINT * x2) AS s12, " +
      "sum(x2::HUGEINT * x2) AS s22, sum(y::HUGEINT) AS sy, " +
      "sum(x1::HUGEINT * y) AS s1y, sum(x2::HUGEINT * y) AS s2y FROM f), " +
      s"dets AS (SELECT $dets FROM st) " +
      "SELECT 'intercept' AS coef, CAST(d0 AS VARCHAR) AS w_num, " +
      "CAST(den AS VARCHAR) AS w_den FROM dets " +
      "UNION ALL SELECT 'x1', CAST(d1 AS VARCHAR), CAST(den AS VARCHAR) FROM dets " +
      "UNION ALL SELECT 'x2', CAST(d2 AS VARCHAR), CAST(den AS VARCHAR) FROM dets " +
      "ORDER BY coef"
  }
}
