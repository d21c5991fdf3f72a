package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.StableHash

/** Distinct-count sketches — the capability a 100 TB pipeline uses where an
  * exact `COUNT(DISTINCT x)` would shuffle every distinct key. Absent in the
  * reference (SURVEY §2.2: "Distinct-count sketches: No"); first-class here.
  *
  * Spark ships `approx_count_distinct` (HyperLogLog++), but its register
  * layout and hash are Spark-private, so no other engine can reproduce its
  * estimate and the DuckDB oracle could never verify it. This is an explicit
  * HyperLogLog built from the cross-engine [[StableHash.hash60]] (md5) with
  * the registers, the bit arithmetic, and the estimator all in plain
  * relational algebra — both engines compute the identical integer register
  * table, so the final estimate hash-matches bit-for-bit.
  *
  * Scale shape: the only shuffle carries (group, register-index, rho) with
  * at most `m`=256 registers per group — constant per group, independent of
  * cardinality — and both aggregations are partial+final (map-side combine
  * folds each executor's rows into ≤ m registers before the exchange).
  * Register tables are also mergeable across batches by `max` — the
  * incremental-ingestion property exact distinct fundamentally lacks.
  *
  * Estimator: standard HLL (Flajolet et al. 2007): `E = α_m · m² / Σ 2^-M_j`
  * with linear counting `m·ln(m/V)` when `E ≤ 2.5m` and some register is
  * empty. All Σ terms are powers of two ≥ 2^-33, so the register sum is
  * EXACT (order-independent) in doubles — determinism needs no quantizing
  * here, unlike [[SimOps.refineCentroids]].
  */
object SketchOps {

  /** Register count m = 2^p. p=8 → 256 registers, ~6.5% standard error. */
  val P = 8
  val M: Int = 1 << P // 256

  /** Bit length of a 32-bit non-negative value — an exact 32-branch CASE
    * chain rather than `floor(log2(w))`: libm `log2` differs between
    * engines by ULPs exactly where it matters (w just below a power of 2).
    */
  private def bitLen32(w: Column): Column =
    (30 to 0 by -1).foldLeft(when(w >= lit(1L << 31), lit(32))) {
      case (acc, k) => acc.when(w >= lit(1L << k), lit(k + 1))
    }.otherwise(lit(0))

  /** DuckDB fragment matching [[bitLen32]]. */
  private def bitLen32Sql(w: String): String =
    (31 to 0 by -1).map(k => s"WHEN $w >= ${1L << k} THEN ${k + 1}")
      .mkString("CASE ", " ", " ELSE 0 END")

  /** Register index of a value: low [[P]] bits of the 60-bit stable hash. */
  def registerIndex(valueCol: Column): Column =
    StableHash.hash60(valueCol.cast("string")).bitwiseAND(lit((M - 1).toLong))

  /** rho of a value: leading-zero count + 1 over the 32-bit hash window
    * above the index bits (rho ∈ [1, 33]; an all-zero window gives 33).
    */
  def rho(valueCol: Column): Column =
    lit(33) - bitLen32(
      shiftright(StableHash.hash60(valueCol.cast("string")), P)
        .bitwiseAND(lit(4294967295L)))

  /** Sparse register table: per (group, idx) max rho. Mergeable: the
    * register table of a union of batches is the per-cell `max` of their
    * register tables — the property streaming/incremental ingestion needs
    * and exact COUNT(DISTINCT) fundamentally lacks
    * ([[graft.streaming.StreamingOps.hllRegisters]] exploits it).
    */
  def registers(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val h = StableHash.hash60(valueCol.cast("string"))
    df.select(
      col(groupCol),
      h.bitwiseAND(lit((M - 1).toLong)).as("idx"),
      (lit(33) - bitLen32(shiftright(h, P).bitwiseAND(lit(4294967295L)))).as("r"))
      .groupBy(col(groupCol), col("idx"))
      .agg(max(col("r")).as("rho"))
  }

  /** HLL estimate from a sparse register table (groupCol, idx, rho ≥ 1).
    * Registers never hit are completed as 0 so the estimator sees all m of
    * them (and V counts them). Output: (groupCol, outName), ordered.
    */
  def estimateFromRegisters(
      perReg: DataFrame,
      groupCol: String,
      outName: String = "est_distinct"): DataFrame = {
    // the dense side derives from perReg itself; aliasing to fresh column
    // names gives its output new attribute ids, so the left join below is
    // never a conflicting self-reference
    val dense = perReg.select(col(groupCol).as("__g")).distinct()
      .select(col("__g"), explode(sequence(lit(0), lit(M - 1))).as("__i"))
    val regs = dense.join(perReg,
      dense("__g") === perReg(groupCol) && dense("__i") === perReg("idx"), "left")
      .select(col("__g").as(groupCol), coalesce(col("rho"), lit(0)).as("mj"))
    val agg = regs.groupBy(col(groupCol)).agg(
      // 2^-mj as 1/(1<<mj): exact powers of two, so the sum is exact and
      // order-independent (each term is a multiple of 2^-33, total < 2^9)
      sum(lit(1.0) / expr("CAST(shiftleft(CAST(1 AS BIGINT), mj) AS DOUBLE)")).as("s"),
      count(when(col("mj") === 0, true)).as("v"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(M.toDouble))
    val eRaw = alpha * lit((M.toLong * M).toDouble) / col("s")
    val est = when(eRaw <= lit(2.5 * M) && col("v") > 0,
      lit(M.toDouble) * log(lit(M.toDouble) / col("v"))).otherwise(eRaw)
    agg
      .select(col(groupCol), floor(est + lit(0.5)).cast("long").as(outName))
      .orderBy(col(groupCol))
  }

  /** HLL distinct estimate of `valueCol` per `groupCol`.
    * Output: (groupCol, `outName`: bigint), ordered by group.
    *
    * Hash layout (60-bit md5 prefix): low 8 bits pick the register, the
    * next 32 bits feed rho.
    */
  def hllDistinct(
      df: DataFrame,
      groupCol: String,
      valueCol: Column,
      outName: String = "est_distinct"): DataFrame =
    estimateFromRegisters(registers(df, groupCol, valueCol), groupCol, outName)

  /** Count-Min depth (independent hash rows) and width (buckets per row). */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Count-Min sketch table: `depth x width` counters, counter (d, b) =
    * number of rows whose d-th seeded hash lands in bucket b. Pure integer
    * counting — exact in both engines with zero quantization care — and
    * mergeable by cell-wise `+` (the frequency-sketch counterpart of the
    * HLL registers' `max`). At 100 TB the shuffle carries ≤ depth*width
    * cells per partition after map-side combine, never the token
    * distribution itself.
    */
  def cmsTable(df: DataFrame, valueCol: Column): DataFrame = {
    val cells = (0 until CmsDepth).map { i =>
      struct(lit(i).as("d"),
        pmod(StableHash.seeded(valueCol, i), lit(CmsWidth.toLong)).as("bucket"))
    }
    df.select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.d").as("d"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-frequency estimates from a CMS table: est(x) = min over rows of
    * the counter x hashes to. Overestimates only (CMS guarantee: collisions
    * add, never subtract), which the spec pins against exact counts.
    * `probes` must have a `token` string column; the sketch table is tiny
    * (depth*width rows) and broadcasts.
    */
  def cmsEstimate(cms: DataFrame, probes: DataFrame): DataFrame = {
    val cells = (0 until CmsDepth).map { i =>
      struct(lit(i).as("d"),
        pmod(StableHash.seeded(col("token"), i), lit(CmsWidth.toLong)).as("bucket"))
    }
    probes.select(col("token"), explode(array(cells: _*)).as("c"))
      .select(col("token"), col("c.d").as("d"), col("c.bucket").as("bucket"))
      // LEFT join: a counter cell no row ever hashed to is 0, and the min
      // must see it (an inner join would silently overestimate)
      .join(broadcast(cms), Seq("d", "bucket"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_n"))
  }

  /** Bloom filter bit count (m) and hash count (k). m is deliberately small
    * (1024) so the declared query demonstrably exercises the false-positive
    * path at test scale; a production build sizes m ≈ -n·ln(p)/ln(2)².
    */
  val BloomBits = 1024L
  val BloomHashes = 3

  /** The k bit positions of a key: one md5 ([[StableHash.hash60]]) + k
    * affine family members mod m — the [[StableHash.familyOf]] pattern the
    * minhash signatures use (1 md5, not k).
    */
  def bloomPositions(keyCol: Column): Seq[Column] = {
    val h = StableHash.hash60(keyCol.cast("string"))
    (0 until BloomHashes).map(i => pmod(StableHash.familyOf(h, i), lit(BloomBits)))
  }

  /** Build side of a Bloom-filter semi-join reduction: the distinct set
    * bits of the build keys, as rows. ≤ m rows regardless of build size;
    * mergeable across batches/shards by plain UNION + DISTINCT (bitwise
    * OR in row form) — the [[registers]]/[[cmsTable]] property again.
    *
    * This is the explicit, oracle-verifiable counterpart of Spark's own
    * runtime `bloom_filter_agg` injection (which PlanSpec pins as
    * reachable but whose bit layout is Spark-private): at 100 TB you build
    * this once from the dim side, broadcast ≤ m rows, and drop probe rows
    * BEFORE they reach the join shuffle.
    */
  def bloomBits(build: DataFrame, keyCol: Column): DataFrame =
    build.select(explode(array(bloomPositions(keyCol): _*)).as("bit")).distinct()

  /** Probe keys that pass the filter (every one of their k bits is set) —
    * all true matches plus the false-positive residue the exact join
    * retires. Distinct probe keys explode to k rows, inner-join the
    * broadcast bit table, and survive on k hits; duplicate positions for
    * one key still count k because each exploded row matches
    * independently.
    */
  def bloomHitKeys(probe: DataFrame, keyCol: Column, bits: DataFrame): DataFrame =
    probe.select(keyCol.cast("long").as("key")).distinct()
      .select(col("key"), explode(array(bloomPositions(col("key")): _*)).as("bit"))
      .join(broadcast(bits), Seq("bit"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === BloomHashes)
      .select(col("key"))

  /** Semi-join reduction: probe rows whose key passes the filter, as a
    * pure per-row predicate — the bit table folds to ONE row holding a
    * sorted ≤ m-element array, broadcasts, and each probe row tests its k
    * positions with `array_contains`. No shuffle of the probe side at all;
    * the filter runs inside the scan stage (at 100 TB this is the point:
    * rows drop before any exchange). This form keeps the plan in portable
    * functions but pays O(set bits) per probe (`array_contains` scans);
    * [[bloomReducePacked]] is the production form — same plan shape, the
    * probe packed to one word read via the codegen'd
    * [[graft.functions.BitsetTest]].
    */
  def bloomReduce(probe: DataFrame, keyCol: Column, bits: DataFrame): DataFrame = {
    val bitArr = bits.agg(array_sort(collect_list(col("bit"))).as("__bitset"))
    probe.crossJoin(broadcast(bitArr))
      .filter(bloomPositions(keyCol).map(p => array_contains(col("__bitset"), p)).reduce(_ && _))
      .drop("__bitset")
  }

  /** The bit-position rows packed little-endian into `m/64` bigint words
    * (bit i → word i>>6, offset i&63): ONE row holding a fixed-size
    * `array<bigint>`, still mergeable across builds (word-wise `bit_or`).
    */
  def bloomPackedBits(bits: DataFrame): DataFrame = {
    val nWords = (BloomBits / 64).toInt
    bits
      .select(expr("CAST(bit DIV 64 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))").as("m"))
      .groupBy(col("w")).agg(expr("bit_or(m)").as("acc"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("acc")))).as("mp"))
      .select(transform(sequence(lit(0), lit(nWords - 1)),
        i => coalesce(element_at(col("mp"), i), lit(0L))).as("__words"))
  }

  /** [[bloomReduce]] with the packed-word bitset: each probe row tests its
    * k positions with `bitset_test` — one word read + shift per position,
    * O(1) regardless of build cardinality, inside whole-stage codegen.
    * Result rows are identical to [[bloomReduce]]'s (spec-pinned).
    *
    * The packed words come back to the driver as a LITERAL array — a
    * bounded m/64-long fetch (the [[SortOps]] min/max-bounds discipline),
    * NOT a corpus-dependent collect — so the probe side keeps a pure
    * per-row predicate on its scan: no join in the plan at all, and the
    * bitset words are constants in the generated code. (The broadcast
    * crossJoin form plans as a BroadcastNestedLoopJoin once Catalyst folds
    * the filter into the join condition — correct, but the predicate
    * leaves the scan stage.)
    */
  def bloomReducePacked(probe: DataFrame, keyCol: Column, bits: DataFrame): DataFrame = {
    val words = bloomPackedBits(bits).head().getSeq[Long](0)
    val wlit = array(words.map(lit): _*)
    probe.filter(bloomPositions(keyCol)
      .map(p => call_function("bitset_test", wlit, p)).reduce(_ && _))
  }

  /** KMV (k-minimum-values) sketch size. 64 → ~12.5% standard error on
    * union cardinality (1/√(k−2)); deliberately small so the declared query
    * demonstrably estimates (not memorizes) at test scale.
    */
  val KmvK = 64

  /** KMV distinct-INTERSECTION estimate between every pair of document
    * sources — the set operation HLL registers fundamentally cannot answer
    * (HLL unions by register-max; it has no intersection, and
    * inclusion-exclusion over HLL estimates compounds the error with set
    * count). KMV (Bar-Yossef et al. 2002, the theta-sketch ancestor) keeps
    * the k smallest distinct hash values per set; then
    *
    *  - the union sketch of (A, B) is the k smallest of the merged hash
    *    sets (KMV's mergeability — same closure property as the HLL
    *    register max and the CMS cell sum),
    *  - |A ∪ B| ≈ (k−1)·2^60 / h_(k) (the k-th smallest hash scaled to the
    *    60-bit hash space), exact count when the union sketch is
    *    unsaturated,
    *  - Jaccard ≈ |union sketch ∩ A ∩ B| / k  (the union sketch is a
    *    uniform sample of A ∪ B), so |A ∩ B| ≈ J · |A ∪ B|.
    *
    * Every estimator term is integer arithmetic on the shared 60-bit md5
    * hash ([[StableHash.hash60]]), so DuckDB reproduces the estimate
    * bit-for-bit; the exact token intersection rides along as the audit
    * column (the [[graft.operators.DedupOps.minhashErrorAudit]] discipline:
    * a sketch query that carries its own ground truth at test scale).
    *
    * Scale shape: the only corpus-sized work is the distinct (source,
    * hash) shuffle; the per-source min-k then folds through the GroupTopK
    * rewrite ([[graft.plans.GroupTopKRewrite]] — bounded k-row heaps map-
    * side, ≤ k rows per (mapper, source) shuffled, no full per-source
    * sort). Everything after operates on k·|sources| rows. The exact-
    * intersection audit is the [[graft.operators.DedupOps.sourceOverlap]]
    * postings shape (in-array pairing, never a token self-join diamond);
    * at 100 TB you drop that column and keep the sketch.
    *
    * Output per source pair (src_a < src_b): sketch sizes and the
    * integer-exact estimator columns
    * (n_sk_union, j_num, est_union, est_inter, jaccard_bp, exact_inter).
    */
  def kmvSourceIntersect(
      docs: DataFrame,
      k: Int = KmvK,
      textCol: String = "text",
      srcCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok2 = docs
      .select(col(srcCol).as("src"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .distinct()
    val hx = tok2
      .select(col("src"), StableHash.hash60(col("tok")).as("h"))
      .distinct()
    // per-source k smallest distinct hashes; row_number ≤ k is the exact
    // shape GroupTopKRewrite lowers to the bounded-heap exec
    val wSrc = Window.partitionBy(col("src")).orderBy(col("h"))
    val sk = hx.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= k).drop("rn")
    // source pairs from ONE collected row (sources are a bounded dimension;
    // the in-array pairing avoids a non-equi self-join)
    val srcArr = sk.select(col("src")).distinct()
      .agg(sort_array(collect_list(col("src"))).as("srcs"))
    val pairExpr = DedupOps.arrayPairs(col("srcs"))((x, y) => struct(x.as("a"), y.as("b")))
    val pairs = srcArr.select(explode(pairExpr).as("p"))
      .select(col("p.a").as("src_a"), col("p.b").as("src_b"))
    // merged per-pair hash sets, flagged by membership side
    val edA = pairs.join(sk.select(col("src").as("src_a"), col("h")), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("h"), lit(1).as("fa"), lit(0).as("fb"))
    val edB = pairs.join(sk.select(col("src").as("src_b"), col("h")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("h"), lit(0).as("fa"), lit(1).as("fb"))
    val g = edA.union(edB)
      .groupBy(col("src_a"), col("src_b"), col("h"))
      .agg(max(col("fa")).as("fa"), max(col("fb")).as("fb"))
    val wPair = Window.partitionBy(col("src_a"), col("src_b")).orderBy(col("h"))
    val u = g.withColumn("rn", row_number().over(wPair)).filter(col("rn") <= k)
    val ag = u.groupBy(col("src_a"), col("src_b")).agg(
      count(lit(1)).as("n_sk_union"),
      max(col("h")).as("kth"),
      sum(when(col("fa") === 1 && col("fb") === 1, 1L).otherwise(0L)).as("j_num"))
    // (k−1)·2^60 overflows a long; the decimal(38,0) product with integral
    // `div` is exact on both engines (DuckDB side: HUGEINT `//`)
    val est = ag.withColumn("est_union",
      when(col("n_sk_union") < k, col("n_sk_union"))
        .otherwise(expr(s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * " +
          s"CAST(${1L << 60} AS DECIMAL(38,0))) div kth AS BIGINT)")))
    // exact-intersection audit: postings + in-array pairing (sourceOverlap
    // shape); LEFT join keeps pairs whose sources share no token at all
    val postings = tok2.groupBy(col("tok"))
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
    val pExpr = DedupOps.arrayPairs(col("srcs"))((x, y) => struct(x.as("a"), y.as("b")))
    val cm = postings.select(explode(pExpr).as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(count(lit(1)).as("exact_inter"))
    est.join(cm, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_sk_union"), col("j_num"),
        col("est_union"),
        expr("(j_num * est_union) div n_sk_union").as("est_inter"),
        expr("(j_num * 10000) div n_sk_union").as("jaccard_bp"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** DuckDB SQL matching [[kmvSourceIntersect]] on `documents`.
    * `toksExpr` must be the same tokenizer fragment the other document
    * oracles use (SparkEntry's `duckToks`).
    */
  def kmvSourceIntersectSql(toksExpr: String, k: Int = KmvK): String = {
    val h = StableHash.hash60Sql("tok")
    s"WITH tk AS (SELECT source AS src, unnest($toksExpr) AS tok FROM documents), " +
      "tok2 AS (SELECT DISTINCT src, tok FROM tk), " +
      s"hx AS (SELECT DISTINCT src, $h AS h FROM tok2), " +
      "sk AS (SELECT src, h FROM (SELECT src, h, row_number() OVER " +
      s"(PARTITION BY src ORDER BY h) AS rn FROM hx) WHERE rn <= $k), " +
      "srcs AS (SELECT DISTINCT src FROM sk), " +
      "pr AS (SELECT a.src AS src_a, b.src AS src_b FROM srcs a " +
      "JOIN srcs b ON a.src < b.src), " +
      "ed AS (SELECT pr.src_a, pr.src_b, sk.h, 1 AS fa, 0 AS fb " +
      "FROM pr JOIN sk ON sk.src = pr.src_a " +
      "UNION ALL SELECT pr.src_a, pr.src_b, sk.h, 0, 1 " +
      "FROM pr JOIN sk ON sk.src = pr.src_b), " +
      "g AS (SELECT src_a, src_b, h, max(fa) AS fa, max(fb) AS fb " +
      "FROM ed GROUP BY 1, 2, 3), " +
      "u AS (SELECT * FROM (SELECT g.*, row_number() OVER " +
      "(PARTITION BY src_a, src_b ORDER BY h) AS rn FROM g) " +
      s"WHERE rn <= $k), " +
      "ag AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_sk_union, " +
      "max(h) AS kth, CAST(count(*) FILTER (WHERE fa = 1 AND fb = 1) AS BIGINT) " +
      "AS j_num FROM u GROUP BY 1, 2), " +
      s"est AS (SELECT src_a, src_b, n_sk_union, j_num, " +
      s"CASE WHEN n_sk_union < $k THEN n_sk_union " +
      s"ELSE CAST(${k - 1}::HUGEINT * (1::HUGEINT << 60) // kth AS BIGINT) END " +
      "AS est_union FROM ag), " +
      "cm AS (SELECT a.src AS src_a, b.src AS src_b, " +
      "CAST(count(*) AS BIGINT) AS exact_inter FROM tok2 a " +
      "JOIN tok2 b ON a.tok = b.tok AND a.src < b.src GROUP BY 1, 2) " +
      "SELECT est.src_a, est.src_b, n_sk_union, j_num, est_union, " +
      "(j_num * est_union) // n_sk_union AS est_inter, " +
      "(j_num * 10000) // n_sk_union AS jaccard_bp, " +
      "coalesce(exact_inter, 0) AS exact_inter " +
      "FROM est LEFT JOIN cm ON cm.src_a = est.src_a AND cm.src_b = est.src_b " +
      "ORDER BY est.src_a, est.src_b"
  }

  /** DuckDB SQL matching [[hllDistinct]] on table `table`. */
  def hllDistinctSql(
      table: String,
      groupCol: String,
      valueExpr: String,
      outName: String = "est_distinct"): String = {
    val h = StableHash.hash60Sql(s"CAST($valueExpr AS VARCHAR)")
    s"WITH hx AS (SELECT $groupCol, $h AS h FROM $table), " +
      s"b AS (SELECT $groupCol, h & 255 AS idx, (h >> $P) & 4294967295 AS w FROM hx), " +
      s"pr AS (SELECT $groupCol, idx, max(33 - (${bitLen32Sql("w")})) AS rho " +
      s"FROM b GROUP BY $groupCol, idx), " +
      s"dense AS (SELECT $groupCol, unnest(range(0, $M)) AS idx " +
      s"FROM (SELECT DISTINCT $groupCol FROM $table)), " +
      s"regs AS (SELECT dense.$groupCol, coalesce(pr.rho, 0) AS mj " +
      s"FROM dense LEFT JOIN pr ON dense.$groupCol = pr.$groupCol AND dense.idx = pr.idx), " +
      s"ag AS (SELECT $groupCol, sum(1.0 / CAST(1::BIGINT << mj AS DOUBLE)) AS s, " +
      s"count(*) FILTER (WHERE mj = 0) AS v FROM regs GROUP BY $groupCol), " +
      s"e AS (SELECT $groupCol, (0.7213 / (1.0 + 1.079 / ${M.toDouble})) * ${(M.toLong * M).toDouble} / s AS eraw, v FROM ag) " +
      s"SELECT $groupCol, CAST(floor((CASE WHEN eraw <= ${2.5 * M} AND v > 0 " +
      s"THEN ${M.toDouble} * ln(${M.toDouble} / v) ELSE eraw END) + 0.5) AS BIGINT) AS $outName " +
      s"FROM e ORDER BY $groupCol"
  }
}
