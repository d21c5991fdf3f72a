package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators over the `events` table (batch form; the streaming
  * equivalents live in graft.streaming). The reference has no data-plane
  * time/stream surface — its only periodic behavior is the 5 s heartbeat
  * control loop (`Server.java:588-650`) — so these are north-star extensions.
  *
  * Scale: every operator here is a single hash-shuffle on its grouping key
  * (partial aggregation map-side); sessionization is one shuffle on `user_id`
  * followed by a per-partition sorted window — no driver-side state. Skewed
  * users/hours re-plan under AQE.
  */
object EventOps {

  /** Normalize `ts` to `TimestampType` across the three encodings real
    * parquet writers produce (SURVEY §7.4 — the portability hazard):
    *
    *  - ns-precision int64, surfaced as a raw nano LONG under
    *    `spark.sql.legacy.parquet.nanosAsLong`: truncate to µs — integer
    *    DIV, not `/`, because ns epochs (~1.7e18) exceed double's exact
    *    range — matching DuckDB's own ns→µs truncation.
    *  - µs `isAdjustedToUTC=false` (`TIMESTAMP_NTZ` — what pandas/pyarrow
    *    write by default): cast to `TimestampType`, an identity remapping
    *    of the stored micros under the UTC session timezone GraftSession
    *    pins.
    *  - µs UTC-adjusted (`TimestampType`): already normal.
    */
  def normalizeTs(events: DataFrame, tsCol: String = "ts"): DataFrame =
    events.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType =>
        events.withColumn(tsCol, expr(s"timestamp_micros($tsCol DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        events.withColumn(tsCol,
          col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
      case _ => events
    }

  /** Epoch-µs LONG projection of a timestamp expression, dispatching on the
    * column's dtype in the SOURCE frame (pass `df.schema("ts").dataType`).
    * The single place raw-encoding arithmetic is allowed: callers that
    * compare or subtract times as integers (as-of gaps, range-join buckets)
    * must route through this instead of inlining `ts div 1000` — which is
    * correct only for the ns-long encoding and an analysis error on the
    * other two. `sqlExpr` may be any SQL expression (e.g. `__asof.ts`).
    */
  def tsMicros(sqlExpr: String, dt: org.apache.spark.sql.types.DataType): Column =
    dt match {
      // integer `div`, not `/`: ns epochs (~1.7e18) exceed double's 2^53
      case org.apache.spark.sql.types.LongType => expr(s"($sqlExpr) div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        // identity remapping of stored micros under the pinned UTC session tz
        expr(s"unix_micros(cast(($sqlExpr) as timestamp))")
      case org.apache.spark.sql.types.TimestampType =>
        expr(s"unix_micros($sqlExpr)")
      case other =>
        throw new IllegalArgumentException(
          s"unsupported timestamp encoding for `$sqlExpr`: $other")
    }

  /** Tumbling-window aggregation: per (truncated time bucket, event type)
    * counts and sums. `date_trunc` keeps the bucket SQL-portable; the
    * Structured Streaming twin uses `window(ts, ...)` + watermark.
    */
  def tumblingAgg(events: DataFrame, unit: String): DataFrame =
    normalizeTs(events)
      .groupBy(date_trunc(unit, col("ts")).as("bucket"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** Sliding-window aggregation: `width`-second windows every `slide`
    * seconds (each event lands in width/slide windows). Buckets are emitted
    * as epoch SECONDS (long) — engine-independent, unlike timestamp dtypes.
    */
  def slidingAgg(events: DataFrame, widthSec: Long, slideSec: Long): DataFrame =
    normalizeTs(events)
      .groupBy(
        window(col("ts"), s"$widthSec seconds", s"$slideSec seconds"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        col("window.start").cast("long").as("bucket_s"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("bucket_s"), col("event_type"))

  /** Gap-filled hourly series — [[tumblingAgg]] densified so every
    * (event_type, hour) cell in the observed span exists, zeros where no
    * event landed: the resample/fill step every downstream charting,
    * anomaly-scoring, or forecasting consumer needs before it can assume a
    * regular grid (a missing hour and a zero hour are different facts; this
    * operator makes the distinction explicit).
    *
    * Scale shape: the aggregation is the same single hash-shuffle as
    * [[tumblingAgg]]; the grid is [[denseHours]]' generated spine over
    * that aggregate, O(types x hours) rows, which is microscopic next to
    * the event volume it indexes (a year of hours is 8,760 rows per
    * type). The fill join therefore joins two aggregate-sized frames, the
    * raw events feed only the aggregation, and nothing unbounded reaches
    * the driver.
    */
  def gapFillHourly(events: DataFrame): DataFrame =
    denseHours(normalizeTs(events)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value")),
      "n_events" -> lit(0L), "sum_value" -> lit(0.0))
      .select(col("bucket"), col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("bucket"), col("event_type"))

  /** The dense hourly grid under [[gapFillHourly]] and [[ewmaFromHourly]]:
    * every (event_type, bucket) of an hourly table's types × the hours
    * from its first to its last bucket, left-joined to the table with the
    * `fill` columns coalesced to their zeros. The span and type set come
    * from the hourly table itself (`date_trunc` is monotonic, so min/max
    * bucket equal the truncated min/max event ts; a type with any event
    * has a row here). The spine is generated, never scanned: a 1-row
    * (h0, h1) span broadcast onto the distinct types, exploded to
    * O(types × hours) rows.
    */
  private def denseHours(hourly: DataFrame, fill: (String, Column)*): DataFrame = {
    val span = hourly.agg(min(col("bucket")).as("h0"), max(col("bucket")).as("h1"))
    hourly.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("bucket"))
      .join(hourly, Seq("event_type", "bucket"), "left")
      .select(col("event_type") +: col("bucket") +:
        fill.map { case (c, zero) => coalesce(col(c), zero).as(c) }: _*)
  }

  /** Exponentially-weighted trailing mean over the gap-filled hourly grid —
    * the smoothing step a forecasting/alerting consumer runs right after
    * [[gapFillHourly]] (EWMA over a grid with HOLES silently re-weights
    * whenever an hour is missing; densify first, then decay).
    *
    * Decay is binary (weight 2^(span−1−i) for the value i hours back,
    * i < span): every weight is an exact power of two and every value a
    * bp-quantized long, so numerator and denominator are INTEGER-exact
    * under any evaluation order — the [[runningStats]] discipline applied
    * to weighted windows, where float EWMAs differ across engines in the
    * last ulp. The ratio is left to the consumer; the emitted
    * (ewma_num, ewma_den) pair is the exact rational.
    *
    * The trailing window is `span` fixed `lag` terms, not a variable
    * positional weight inside a frame (window sums cannot weight by
    * position): one window pass, O(span) state per row, codegen-friendly.
    * Grid edges keep partial windows honest — `ewma_den` sums only the
    * weights of hours that EXIST (the first grid hour has den = 2^(span−1),
    * not 2^span − 1), so the consumer's num/den ratio is unbiased from the
    * first row.
    *
    * Scale shape: the grid build is [[gapFillHourly]]'s (one hash shuffle +
    * a generated spine); the window is one shuffle on event_type over
    * grid-sized (not event-sized) rows. span is a compile-time constant —
    * the plan has no per-row loop.
    */
  def ewmaHourly(events: DataFrame, span: Int = 8): DataFrame =
    ewmaFromHourly(hourlySums(events), span)

  /** The per-(type, hour) bp-quantized sums [[ewmaHourly]] smooths — split
    * out so a maintenance loop (batch re-run or the streaming twin,
    * [[graft.streaming.StreamingOps.hourlySumsStream]]) can keep THIS
    * grid-sized table up to date and recompute the EWMA view from it
    * without touching raw events: the sums are the only event-volume pass.
    */
  def hourlySums(events: DataFrame): DataFrame =
    normalizeTs(events)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg(sum(TextOps.roundBp(col("value"))).as("v_bp"))

  /** Hour-of-day seasonal profile — the baseline a telemetry pipeline
    * compares live traffic against: per (event_type, hour-of-day 0–23),
    * the event count, the hour's share of the type's events, the mean
    * value, and the mean's deviation from the type's overall mean. Values
    * quantize to bp per event before summing ([[hourlySums]]' rule), so
    * every output is an integer ratio of exact sums — engine-identical.
    *
    * Shape: one event pass into a ≤ 24·|types| hash aggregate; the
    * per-type totals are windows OVER THAT AGGREGATE (24 rows per
    * partition), never a second event pass. Output: (event_type, hour,
    * n_events, share_bp, mean_bp, dev_bp) ordered by (type, hour).
    */
  /** [[seasonalProfile]] finalize fragments — ONE string each for both
    * engines. mean/dev use [[TextOps.floorDivSql]] because a v_bp sum goes
    * negative for negative event values, where Spark `div` (truncate) and
    * DuckDB `//` (floor) disagree; share's operands are counts (never
    * negative), but it shares the rule for uniformity.
    */
  private[graft] val seasonalShare = TextOps.floorDivSql("n_events * 10000", "t_events")
  private[graft] val seasonalMean = TextOps.floorDivSql("v_bp", "n_events")
  private[graft] val seasonalDev =
    s"${TextOps.floorDivSql("v_bp", "n_events")} - ${TextOps.floorDivSql("t_vbp", "t_events")}"

  def seasonalProfile(events: DataFrame): DataFrame =
    seasonalFromSums(seasonalSums(events))

  /** The per-(type, hour-of-day) sufficient statistics [[seasonalProfile]]
    * finalizes — split out (the [[hourlySums]]/[[ewmaFromHourly]]
    * discipline) so the streaming twin
    * ([[graft.streaming.StreamingOps.seasonalSumsStream]]) can maintain
    * THIS ≤ 24·|types|-row table in update mode and recompute the profile
    * without touching raw events: the sums are the only event-volume pass.
    */
  def seasonalSums(events: DataFrame): DataFrame =
    normalizeTs(events)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(TextOps.roundBp(col("value"))).as("v_bp"))

  /** [[seasonalProfile]]'s finalize half over a maintained [[seasonalSums]]
    * table: per-type totals as windows over the 24-row-per-type aggregate,
    * integer bp ratios via the shared [[seasonalShare]]/[[seasonalMean]]/
    * [[seasonalDev]] fragments.
    */
  def seasonalFromSums(sums: DataFrame): DataFrame = {
    val wType = Window.partitionBy(col("event_type"))
    sums
      .withColumn("t_events", sum(col("n_events")).over(wType))
      .withColumn("t_vbp", sum(col("v_bp")).over(wType))
      .select(col("event_type"), col("hour"), col("n_events"),
        expr(seasonalShare).as("share_bp"),
        expr(seasonalMean).as("mean_bp"),
        expr(seasonalDev).as("dev_bp"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** User-journey transition matrix — the first-order Markov model of
    * event types (view→purchase, click→view, …), the telemetry readout
    * behind funnel design and next-action prediction: per ordered pair of
    * consecutive event types WITHIN a user's timeline, the transition
    * count and its share of the source type's outgoing transitions in bp.
    * Consecutive-ness is `lag` over (user, ts, event_id) — a per-user
    * window, the sessionization scale shape (state bounded by a user's
    * events, users hash-partitioned); the matrix itself is
    * |types|²-bounded, so row totals are windows over the tiny aggregate.
    * Output: (from_type, to_type, n, p_bp) ordered.
    */
  def typeTransitions(events: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    transitionMatrix(normalizeTs(events)
      .withColumn("from_type", lag(col("event_type"), 1).over(wU))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("event_type").as("to_type")))
  }

  /** [[typeTransitions]]' matrix half, split out so the streaming twin
    * ([[graft.streaming.StreamingOps.typeTransitionsStream]]) can maintain
    * the per-user lag pairs incrementally and recompute THIS |types|²-sized
    * rollup from the emitted pair stream: counts per ordered pair, row
    * shares in bp via a window over the tiny aggregate.
    */
  def transitionMatrix(pairs: DataFrame): DataFrame = {
    val wFrom = Window.partitionBy(col("from_type"))
    pairs
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(wFrom))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 10000 div row_total").as("p_bp"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** [[ewmaHourly]]'s grid + decay half, computed from a maintained
    * [[hourlySums]] table instead of raw events: the [[denseHours]] grid
    * of the table (zero `v_bp` in empty hours), then the decay window —
    * identical output to the fused form, over grid-sized input.
    */
  def ewmaFromHourly(hourly: DataFrame, span: Int = 8): DataFrame = {
    require(span >= 1 && span <= 16, s"span must be in [1,16], got $span")
    val grid = denseHours(hourly, "v_bp" -> lit(0L))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val terms = (0 until span).map { i =>
      val wgt = lit(1L << (span - 1 - i))
      if (i == 0) (col("v_bp") * wgt, wgt)
      else (
        coalesce(lag(col("v_bp"), i).over(w), lit(0L)) * wgt,
        // lag(bucket) is null ONLY before the grid start (the grid is
        // dense): a missing trailing hour drops out of the denominator
        when(lag(col("bucket"), i).over(w).isNotNull, wgt).otherwise(lit(0L)))
    }
    grid.select(col("event_type"),
        col("bucket").cast("long").as("bucket_s"), col("v_bp"),
        terms.map(_._1).reduce(_ + _).as("ewma_num"),
        terms.map(_._2).reduce(_ + _).as("ewma_den"))
      .orderBy(col("bucket_s"), col("event_type"))
  }

  /** DuckDB SQL matching [[ewmaHourly]] on `events`. */
  def ewmaHourlySql(span: Int = 8): String = {
    val vbp = TextOps.roundBpSql("value")
    val numTerms = (0 until span).map { i =>
      val wgt = 1L << (span - 1 - i)
      if (i == 0) s"v_bp * $wgt"
      else s"coalesce(lag(v_bp, $i) OVER w, 0) * $wgt"
    }.mkString(" + ")
    val denTerms = (0 until span).map { i =>
      val wgt = 1L << (span - 1 - i)
      if (i == 0) s"$wgt"
      else s"CASE WHEN lag(bucket, $i) OVER w IS NULL THEN 0 ELSE $wgt END"
    }.mkString(" + ")
    s"WITH h AS (SELECT event_type, date_trunc('hour', ts) AS bucket, " +
      s"CAST(sum($vbp) AS BIGINT) AS v_bp FROM events GROUP BY 1, 2), " +
      "span AS (SELECT date_trunc('hour', min(ts)) AS h0, " +
      "date_trunc('hour', max(ts)) AS h1 FROM events), " +
      "ty AS (SELECT DISTINCT event_type FROM events), " +
      "spine AS (SELECT event_type, unnest(generate_series(h0, h1, " +
      "INTERVAL 1 HOUR)) AS bucket FROM ty CROSS JOIN span), " +
      "grid AS (SELECT spine.event_type, spine.bucket, " +
      "coalesce(v_bp, 0) AS v_bp FROM spine LEFT JOIN h " +
      "ON h.bucket = spine.bucket AND h.event_type = spine.event_type) " +
      "SELECT event_type, epoch_us(bucket) // 1000000 AS bucket_s, v_bp, " +
      s"CAST($numTerms AS BIGINT) AS ewma_num, " +
      s"CAST($denTerms AS BIGINT) AS ewma_den " +
      "FROM grid WINDOW w AS (PARTITION BY event_type ORDER BY bucket) " +
      "ORDER BY bucket_s, event_type"
  }

  /** Analytic window FRAMES — the running-state view of each user's event
    * stream: cumulative value (unbounded-preceding ROWS frame), previous
    * event's value (`lag`), and microseconds since it. Completes the
    * window-function surface next to the ranking windows (`q_window`) and
    * group limits (SURVEY §2.2 "ranking/analytic/frames").
    *
    * Running sums are over bp-quantized LONGS, not doubles: engines
    * evaluate running window sums with different association (segment
    * trees vs sequential accumulation), so float partials can differ in
    * the last ulp — integer sums are exact under any association. Frame
    * order is fully tie-broken by (ts, event_id).
    *
    * Scale: one hash shuffle on user_id + per-partition sort (the
    * sessionization shape); the ROWS frame is streaming — O(1) state per
    * row, unlike an unbounded-FOLLOWING frame which buffers the partition.
    */
  def runningStats(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val vBp = TextOps.roundBp(col("value"))
    normalizeTs(events)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("running_bp",
        sum(vBp).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_bp", coalesce(lag(vBp, 1).over(w), lit(0L)))
      .withColumn("gap_us",
        coalesce(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w), lit(0L)))
      .select(col("user_id"), col("event_id"), col("running_bp"),
        col("prev_bp"), col("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Exact percentiles per group (Spark's `percentile` contract = sorted
    * linear interpolation at q·(n−1), same as DuckDB `quantile_cont`), in
    * basis points for cross-engine hashing.
    *
    * NOT computed with the `percentile()` aggregate — its
    * TypedImperativeAggregate buffers every value of the group in the
    * aggregation buffer, which OOMs at 100 TB per-type volumes. Instead
    * [[StatsOps.exactPercentiles]]' histogram-guided two-pass exact rank:
    * constant-size counters locate each order statistic's candidate
    * bucket, only that bucket's rows are sorted (spillable, ~n/1024 rows),
    * and the interpolation replicates Spark's arithmetic bit-for-bit.
    */
  def percentiles(events: DataFrame): DataFrame =
    StatsOps.exactPercentiles(events, "value", Seq("event_type"), Seq(0.5, 0.95))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("qi") === 0, col("exact"))).as("p50"),
        max(when(col("qi") === 1, col("exact"))).as("p95"))
      .select(
        col("event_type"),
        TextOps.roundBp(col("p50")).as("p50_bp"),
        TextOps.roundBp(col("p95")).as("p95_bp"))
      .orderBy(col("event_type"))

  /** Mergeable per-type rollup STATE — (count, bp-integer value sum): the
    * incremental-view-maintenance building block. A 100 TB table is never
    * re-aggregated from scratch when a day lands; the new partition's
    * state merges into yesterday's by plain addition, which is exact ONLY
    * because the state is integer (count + bp-quantized sum — a stored
    * float sum would drift from the recompute by association order). The
    * same mergeability is why the state also works as a streaming sink or
    * a cube block. Finalize downstream: mean = value_bp / n_events.
    */
  def rollupState(events: DataFrame): DataFrame =
    normalizeTs(events)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(TextOps.roundBp(col("value"))).as("value_bp"))

  /** Merge rollup states (associative + commutative): union, re-add.
    * `mergeRollupStates(rollupState(a), rollupState(b)) ==
    * rollupState(a union b)` — the IVM contract, oracle-verified by
    * q_ivm_agg against a from-scratch aggregation of the whole table and
    * spec-pinned for arbitrary 3-way splits.
    */
  def mergeRollupStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("event_type"))
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("value_bp")).as("value_bp"))
      .orderBy(col("event_type"))

  /** Distinct-count view state — the multiplicity-counted support set
    * (group, value, multiplicity). COUNT(DISTINCT x) is not a mergeable
    * monoid on its own output (two partial distinct counts cannot be
    * added), so the maintainable state lives one level deeper: per-(group,
    * value) multiplicities, which DO merge by addition, with the distinct
    * count read off as the support-set size. This is the classic multiset-
    * semantics IVM treatment — a delete would decrement the multiplicity
    * and drop the row at zero, which a raw distinct count cannot express.
    * State is O(distinct (group, value)) — bounded by the cardinality
    * being measured, never by event volume; [[SketchOps]]' HLL is the
    * lossy fixed-size alternative when even that bound is too big.
    */
  def distinctState(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("mult"))

  /** Merge distinct-count states (associative + commutative): union,
    * re-add multiplicities. `mergeDistinctStates(distinctState(a),
    * distinctState(b)) == distinctState(a union b)` — the IVM contract,
    * oracle-verified by q_ivm_distinct against a from-scratch
    * COUNT(DISTINCT) of the whole table.
    */
  def mergeDistinctStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("event_type"), col("user_id"))
      .agg(sum(col("mult")).as("mult"))

  /** The maintained view, read off the state: exact distinct users and
    * total events per type — one aggregation over state-sized input.
    */
  def distinctView(state: DataFrame): DataFrame =
    state.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("mult")).as("n_events"))
      .orderBy(col("event_type"))

  /** MIN/MAX view state — the bounded extrema buffer. MIN/MAX under
    * DELETES is the textbook non-incrementalizable aggregate: deleting
    * the current minimum forces a full rescan unless the state remembers
    * runners-up. The maintainable state is the k smallest and k largest
    * DISTINCT bp-values per group with multiplicities — deletes decrement,
    * a value drops at zero, and the view reads min/max off the buffer.
    * Completes the IVM family's four textbook cases: SUM/COUNT
    * ([[rollupState]] — trivially mergeable), COUNT DISTINCT
    * ([[distinctState]] — support multiset), JOIN (deltaJoin), MIN/MAX
    * (this — bounded support buffer).
    *
    * Contract (documented, spec-pinned): within one rebuild epoch (state
    * built from base, deltas merged), the buffer answers exactly while
    * the relevant side holds ≥ 1 value surviving from the original
    * truncation; deleting ALL k buffered extremes drains the side and
    * its column goes NULL in the view — the recompute signal, never a
    * wrong answer. Values truncated away (beyond the k-th) are provably
    * non-extreme while a same-epoch survivor remains below them. Deletes
    * of never-buffered values net negative and are dropped — they sat in
    * the truncated middle, which cannot hold an extreme. (Adversarial
    * drain-then-refill across MANY epochs without rebuild can mask a
    * truncated value; production systems version the epoch and rebuild
    * on drain — the single-delta declared query and the spec stay inside
    * the sound envelope.)
    *
    * Scale: state is O(groups · 2k); building it is one partial+final
    * aggregation plus two bounded GroupTopK passes (`row_number ≤ k` on
    * ±v_bp); merging is state-sized, never event-sized.
    */
  def extremaState(events: DataFrame, k: Int = 8): DataFrame = {
    val m = normalizeTs(events)
      .groupBy(col("event_type"), TextOps.roundBp(col("value")).as("v_bp"))
      .agg(count(lit(1)).as("mult"))
      // each side tracks its own buffer: a drained LO side must make min
      // ABSENT, not fall back to some surviving high value
      .select(col("event_type"), col("v_bp"), col("mult"),
        explode(array(lit("lo"), lit("hi"))).as("side"))
    truncateExtrema(m, k)
  }

  /** Keep the k smallest (lo side) / k largest (hi side) distinct values
    * per group. `row_number ≤ k` — the bounded GroupTopK shape.
    */
  private def truncateExtrema(state: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("event_type"), col("side"))
      .orderBy(when(col("side") === "lo", col("v_bp")).otherwise(-col("v_bp")))
    state
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("event_type"), col("side"), col("v_bp"), col("mult"))
  }

  /** Apply a delta to the extrema state: `delta` rows carry mult = +n for
    * inserts, −n for deletes (state-shaped, i.e. already two-sided —
    * [[extremaState]] of the inserted rows, negated for deletes). Merge by
    * addition, drop non-positive multiplicities, re-truncate.
    */
  def mergeExtremaStates(state: DataFrame, delta: DataFrame, k: Int = 8): DataFrame =
    truncateExtrema(
      state.unionByName(delta)
        .groupBy(col("event_type"), col("side"), col("v_bp"))
        .agg(sum(col("mult")).as("mult"))
        .filter(col("mult") > 0),
      k)

  /** The maintained view: exact min (lo buffer) / max (hi buffer) per
    * group. A drained side yields NULL — the recompute signal; never a
    * wrong extreme.
    */
  def extremaView(state: DataFrame): DataFrame =
    state.groupBy(col("event_type"))
      .agg(
        min(when(col("side") === "lo", col("v_bp"))).as("min_bp"),
        max(when(col("side") === "hi", col("v_bp"))).as("max_bp"))
      .orderBy(col("event_type"))

  /** Trailing-window anomaly detection — the ops-side "did ingestion break
    * this hour?" monitor a pipeline runs over its own event volumes: an
    * (hour, event_type) cell is anomalous when its count deviates from the
    * trailing `trailing`-hour median by more than `madMult` x the trailing
    * MAD (median absolute deviation — robust to the very outliers being
    * hunted, unlike mean/stddev z-scores). Cells with fewer than `minHist`
    * trailing hours are warm-up and never flagged.
    *
    * Everything stays in integers: counts are longs, the median is the
    * LOWER median (element `(n+1) div 2` of the sorted window — no even-n
    * interpolation), and the MAD is the lower median of integer deviations,
    * so both engines compare exact longs. The trailing multiset is an
    * explicit `collect_list` over a ROWS frame: bounded at `trailing`
    * elements per row by construction, and the hourly table it windows over
    * is already aggregated — O(hours x types) rows, tiny at any corpus
    * scale; the corpus-sized work is the one hash aggregation producing it.
    */
  def hourlyAnomalies(
      events: DataFrame,
      trailing: Int = 24,
      madMult: Int = 3,
      minHist: Int = 12): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_s"))
      .rowsBetween(-trailing, -1)
    hourlyCounts(events)
      .withColumn("hist", array_sort(collect_list(col("n")).over(w)))
      .filter(size(col("hist")) >= minHist)
      .withColumn("med", expr("element_at(hist, CAST((size(hist) + 1) div 2 AS INT))"))
      .withColumn("mad", expr(
        "element_at(array_sort(transform(hist, x -> abs(x - med))), " +
          "CAST((size(hist) + 1) div 2 AS INT))"))
      .filter(abs(col("n") - col("med")) > col("mad") * madMult)
      .select(col("bucket_s"), col("event_type"), col("n"), col("med"), col("mad"))
      .orderBy(col("bucket_s"), col("event_type"))
  }

  /** Events per (hour, event_type), the grid [[hourlyAnomalies]] and
    * [[cusumShifts]] score: `bucket_s` is the hour's start in epoch
    * seconds, `n` its event count. One hash aggregation over the events.
    */
  private def hourlyCounts(events: DataFrame): DataFrame =
    normalizeTs(events)
      .groupBy(expr("(unix_micros(ts) div 3600000000) * 3600").as("bucket_s"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** CUSUM level-shift detection over hourly counts — the sustained-DRIFT
    * complement of [[hourlyAnomalies]] (which flags point outliers against
    * a trailing MAD): a source whose volume steps to a new level and stays
    * there — a scraper change, an upstream outage, a pipeline fork — raises
    * each hour's deviation only modestly, so no single hour trips a
    * point-outlier test, but the one-sided cumulative sums
    *
    *   s⁺_i = max(0, s⁺_{i-1} + (x_i − μ − κ)),
    *   s⁻_i = max(0, s⁻_{i-1} + (μ − κ − x_i))
    *
    * accumulate the drift and cross the decision threshold within a few
    * hours (Page 1954). Slack κ = μ/2 and threshold h = 2μ here: sustained
    * shifts beyond ±μ/2 accumulate, a full doubling/halving alarms in ~2–4
    * hours, and everything is a fixed multiple of μ so no tuning input.
    *
    * Integer-exact cross-engine: with S = Σx and C = grid size, scaling
    * the state by C clears the rational μ = S/C — per-hour drift becomes
    * `x·C − S − S div 2`, and the alarm σ > 2μ becomes `σ·C > 2·S`, i.e.
    * `s_hi > 2·S` on the scaled state — so both engines compare identical
    * BIGINTs. Honest int64 bound: the prefix sums below reach at most
    * grid-hours × max|drift| ≈ H² · x_max, so H = 1e4 grid hours tolerates
    * up to ~1e10 events/hour (products ~1e14, prefixes ~1e18 < 2^63);
    * beyond that, pre-divide the counts or shorten the grid — the xC
    * scaling trades range for exactness deliberately.
    *
    * The clipped recursion is NOT folded row-by-row: the classic identity
    * s⁺_i = P_i − min(0, min_{j≤i} P_j), with P the running sum of the
    * unclipped drifts (Page 1954 — each max(0,·) clip restarts the sum,
    * which is exactly "subtract the lowest prefix seen so far"), turns it
    * into two streaming window passes — a running sum and a running min —
    * over the already-aggregated grid. O(1) state per row, whole-stage
    * codegen, no per-row array (the previous `aggregate`-fold built the
    * output array by concat: O(hours²) copies per type).
    *
    * Scale: the corpus-sized work is ONE hash aggregation to the
    * (hour, type) grid; the windows shuffle grid-sized rows once on
    * event_type (thousands of cells, never corpus rows), and the per-type
    * (S, C) totals broadcast onto the grid. Output: every grid cell with
    * both CUSUM states and its alarm flag.
    */
  def cusumShifts(events: DataFrame): DataFrame = {
    val hourly = hourlyCounts(events)
    val totals = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("s"), count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket_s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hourly
      .join(broadcast(totals), Seq("event_type"))
      .withColumn("p_hi", sum(col("n") * col("c") - col("s") - expr("s div 2")).over(w))
      .withColumn("p_lo", sum(col("s") - expr("s div 2") - col("n") * col("c")).over(w))
      .select(
        col("event_type"),
        col("bucket_s"),
        col("n"),
        (col("p_hi") - least(lit(0L), min(col("p_hi")).over(w))).as("s_hi"),
        (col("p_lo") - least(lit(0L), min(col("p_lo")).over(w))).as("s_lo"),
        col("s"))
      .withColumn("alarm",
        col("s_hi") > lit(2) * col("s") || col("s_lo") > lit(2) * col("s"))
      .drop("s")
      .orderBy(col("event_type"), col("bucket_s"))
  }

  /** Gap-based sessionization: a new session starts when a user is idle
    * longer than `gapSeconds`. Ties on `ts` are broken by `event_id` so the
    * session assignment is fully deterministic.
    */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val us = unix_micros(col("ts"))
    val newSession = when(
      lag(us, 1).over(w).isNull ||
        us - lag(us, 1).over(w) > gapSeconds * 1000000L,
      1).otherwise(0)
    normalizeTs(events)
      .withColumn("is_new", newSession)
      .withColumn("session_seq", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Sessions rolled up per user: session count + event count. */
  def sessionStats(events: DataFrame, gapSeconds: Long): DataFrame =
    sessionize(events, gapSeconds)
      .groupBy(col("user_id"))
      .agg(
        max(col("session_seq")).cast("long").as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** [[sessionStats]] via Spark's NATIVE `session_window` operator — the
    * same rollup through the built-in merging-session machinery instead of
    * the lag/running-sum window formulation. Boundary semantics agree with
    * the lag form's `diff > gap` (touching windows MERGE — pinned by a
    * boundary test), so the two share one oracle. The trade: the per-user
    * shuffle happens once for the session merge and once for the rollup
    * (the lag form does both in one window pass) — the price of the
    * operator that also runs unchanged under Structured Streaming.
    */
  def sessionStatsNative(events: DataFrame, gapSeconds: Long): DataFrame =
    normalizeTs(events)
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(col("n")).cast("long").as("n_events"))
      .orderBy(col("user_id"))

  /** Ordered funnel analysis — the product-analytics staple: for each user,
    * the first time they completed stage 1, then the first stage-2 event
    * STRICTLY AFTER that, then the first stage-3 event after that, etc.
    * (so out-of-order completions don't count — a purchase before the first
    * view is not funnel progress). Emits one row per user: how far they got
    * plus the per-stage completion times (µs epoch, -1 when never reached).
    *
    * Shape: one aggregation per stage, each keyed on `user_id`. The join of
    * the big event table against the previous stage's per-user row is a
    * hash-shuffle equi-join on `user_id`, and every subsequent stage reuses
    * that partitioning — k stages cost k co-partitioned passes, never a
    * window over the user's whole history (which would buffer every event
    * per user; this buffers one timestamp). At 100 TB the per-stage state
    * is one row per user — the skinny side of every join.
    */
  def funnel(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "need at least one funnel stage")
    val e = normalizeTs(events).select(col("user_id"), col("event_type"), col("ts"))
    val users = e.select(col("user_id")).distinct()
    // stage 1: plain min; stage i+1: min ts after the user's stage-i ts
    val first = e.filter(col("event_type") === stages.head)
      .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as("t1_us"))
    val perStage = stages.zipWithIndex.tail.scanLeft(first) {
      case (prev, (stage, i)) =>
        e.filter(col("event_type") === stage)
          .join(prev.select(col("user_id"), col(s"t${i}_us")), Seq("user_id"))
          .filter(unix_micros(col("ts")) > col(s"t${i}_us"))
          .groupBy(col("user_id")).agg(min(unix_micros(col("ts"))).as(s"t${i + 1}_us"))
    }
    val joined = perStage.zipWithIndex.foldLeft(users) {
      case (acc, (st, i)) =>
        acc.join(st.select(col("user_id"), col(s"t${i + 1}_us")), Seq("user_id"), "left")
    }
    val reached = stages.indices
      .map(i => when(col(s"t${i + 1}_us").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    joined
      .select(
        (col("user_id") +: reached.as("stage_reached") +:
          stages.indices.map(i => coalesce(col(s"t${i + 1}_us"), lit(-1L)).as(s"t${i + 1}_us"))): _*)
      .orderBy(col("user_id"))
  }

  /** Cohort retention — the other product-analytics staple next to
    * [[funnel]]: users cohorted by their first active day; for each
    * (cohort day, day offset ≤ `maxOffset`) the number of cohort users
    * active that day. offset 0 is the cohort size itself, so downstream
    * divides n_users by the offset-0 row for the retention curve (emitted
    * as counts, not ratios — integers hash across engines).
    *
    * Shape: distinct (user, day) — one hash shuffle — then a per-user min
    * (co-partitioned with the distinct), a join back on user_id (both
    * sides keyed on user, exchange reusable), and a final small
    * aggregation on (cohort, offset). Nothing holds more than a day-set
    * per user, and the output is cohort-days x offsets — tiny at any
    * corpus scale.
    */
  def retentionCohorts(events: DataFrame, maxOffset: Int = 7): DataFrame = {
    val days = normalizeTs(events)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    days
      .join(cohorts, "user_id")
      // "day_offset", not "offset" — OFFSET is a reserved word in most
      // engines and the oracle must alias the same name unquoted
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(col("cohort_day").cast("string").as("cohort_day"),
        col("day_offset"), col("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Extract a numeric field from the JSON `props` column and aggregate.
    * Uses the codegen'd `get_json_object` path — no UDF.
    */
  def jsonFieldStats(events: DataFrame, field: String): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), s"$$.$field").cast("int"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .orderBy(col("event_type"))
}
