package graft.operators

import graft.Checkpoints

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Iterative graph analytics over tables — link-style centrality as a data
  * curation signal (PageRank over a hyperlink/co-occurrence graph is a
  * classic document-quality prior in pretraining pipelines; the reference
  * has no graph surface at all). Connected components already live in
  * [[DedupOps]]; this module adds the damped-iteration family.
  *
  * Determinism contract (the [[SimOps.refineCentroids]] rule applied to
  * graphs): rank mass is an integer in `scale` units, per-edge contribution
  * is integer division `r div deg` (both engines floor positive quotients),
  * and the damping update is integer arithmetic throughout — so iterated
  * ranks are bit-identical to the DuckDB oracle under ANY execution order,
  * which no double-precision PageRank can promise.
  */
object GraphOps {

  /** Distinct supplier-part co-purchase edges from `lineitem`, both
    * directions (the undirected bipartite graph as a symmetric directed
    * one). Part ids are offset by 1,000,000 into a disjoint node-id space.
    * One distinct-shuffle over the projected pair — at 100 TB the edge set
    * is bounded by |suppliers| x |parts|, not by fact rows.
    */
  def copurchaseEdges(lineitem: DataFrame): DataFrame = {
    val pairs = lineitem
      .select(col("l_suppkey").as("s"), (col("l_partkey") + 1000000L).as("p"))
      .distinct()
    pairs.select(col("s").as("u"), col("p").as("v"))
      .union(pairs.select(col("p").as("u"), col("s").as("v")))
  }

  /** Integer-exact damped PageRank (d = 0.85), `iters` rounds, top-`k`
    * nodes. Input: directed edge table (u, v) covering every node on both
    * sides (true for any symmetrized graph).
    *
    * Update rule, all in integer `scale` units:
    * `r'(v) = (15*scale) div (100*N)  +  (85 * Σ_u r(u) div deg(u)) div 100`
    *
    * Ranks are normalized to TOTAL mass ≈ `scale` (init `scale div N` per
    * node) — the teleport term assumes that normalization, and with it the
    * damping update conserves total mass exactly up to integer-floor loss
    * (GraphOpsSpec pins the bound: ≤ one unit per node per floor site plus
    * one per edge).
    *
    * Scale shape per round: the canonical two-shuffle Pregel step — join
    * ranks+degrees into edges on `u` (one hash shuffle keyed on the
    * source), aggregate contributions by `v` (one shuffle keyed on the
    * target), both with map-side partials. Each round is materialized
    * eagerly and its predecessor released — cached state lives for exactly
    * one round, not the session ([[graft.Local]] has the lifecycle
    * argument); the top-k result comes back as a driver-local literal so
    * `deg` and the final round can be released too. N comes from one
    * driver-side metadata count. Output: (rank, node, score).
    */
  def pageRank(
      edges: DataFrame,
      iters: Int = 3,
      k: Int = 20,
      scale: Long = 1000000000000L): DataFrame = {
    // the edge table is loop-INVARIANT but re-read every round, and with
    // eager per-round materialization there is no single-plan exchange
    // reuse to lean on — cache it for the loop's lifetime (released
    // below), PRE-PARTITIONED on the join key so the cached partitioning
    // satisfies every round's join distribution (deg inherits it, and each
    // round's rank state arrives hash-partitioned on the same key from its
    // groupBy) and rounds shuffle only the contribution aggregation
    val e = edges.repartition(col("u")).persist()
    val deg = e.groupBy(col("u")).agg(count(lit(1)).as("deg")).persist()
    val n = deg.count()
    val teleport = 15L * scale / (100L * n)
    // rank state is consumed EXACTLY once per round (the next round's
    // join), so the rounds stay lazy — no per-round persist/count jobs;
    // the one collect below runs the whole unrolled chain, reading cached
    // e/deg each round. (Contrast bpeTrain, where the per-round frame has
    // TWO consumers and eager materialization is the fix.)
    var ranks = deg.select(col("u").as("node"), lit(scale / n).as("r"))
    for (_ <- 1 to iters) {
      ranks = e
        .join(deg, "u")
        .join(ranks.withColumnRenamed("node", "u"), "u")
        .select(col("v"), expr("r div deg").as("c"))
        .groupBy(col("v"))
        .agg(sum(col("c")).as("sc"))
        .select(col("v").as("node"),
          (lit(teleport) + expr("(85 * sc) div 100")).as("r"))
    }
    val out = graft.Local.localized(SortOps.rankedTopK(ranks, k,
      Seq(col("r").desc, col("node")), Seq(col("node"), col("r").as("score"))))
    deg.unpersist(blocking = false)
    e.unpersist(blocking = false)
    out
  }

  /** Distinct part-part co-order edges: two parts are adjacent iff some
    * order contains both. Emitted as canonical undirected edges (a < b).
    * Per-order pairing is IN-ARRAY over the collected part set (orders
    * hold a bounded handful of lineitems — the same bucket-collect shape
    * as [[DedupOps.jaccardPairs]]' postings), so no self-join diamond and
    * per-row fan-out is C(items-per-order, 2), independent of corpus size.
    */
  /** Degree distribution with the tail counts a power-law read needs:
    * per distinct degree, the node count and the number of nodes of that
    * degree OR HIGHER (the complementary cumulative the log-log slope is
    * fit on — and the quantity that justifies this repo's O(√m)
    * degree-orientation bound empirically). Input: canonical (a < b)
    * undirected edges. One edge pass into a node-degree aggregate, one
    * degree-bounded histogram, a window over that histogram — never over
    * nodes. Output: (degree, n_nodes, n_nodes_ge) ordered by degree.
    */
  def degreeHistogram(edges: DataFrame): DataFrame = {
    val w = Window.orderBy(col("degree").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    edges.select(col("a").as("x")).unionByName(edges.select(col("b").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .withColumn("n_nodes_ge", sum(col("n_nodes")).over(w))
      .orderBy(col("degree"))
  }

  def coOrderEdges(lineitem: DataFrame): DataFrame = {
    val grouped = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("p"))
      .distinct()
      .groupBy(col("okey")).agg(sort_array(collect_set(col("p"))).as("ps"))
    val pairs = DedupOps.arrayPairs(col("ps"))((x, y) => struct(x.as("a"), y.as("b")))
    grouped.select(explode(pairs).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      .distinct()
  }

  /** Global triangle census over an undirected edge set (canonical a < b
    * rows): nodes, edges, oriented wedges, and triangles — the clustering
    * statistic community detection and spam/boilerplate graph analysis
    * start from.
    *
    * The algorithm is the degree-ordered orientation construction (the
    * MapReduce triangle-counting classic — Suri & Vassilvitskii 2011):
    * orient every edge from its (degree, id)-smaller endpoint to the
    * larger, which makes the edge set a DAG where every out-degree is
    * O(√m) regardless of hub size — a power-law hub of degree d generates
    * wedges at its LOW-degree neighbors instead of C(d, 2) at itself.
    * Triangles are then counted edge-iterator style: every triangle has a
    * unique (source → middle) edge in the DAG, and |N⁺(u) ∩ N⁺(v)| on
    * that edge counts it exactly once — the m^1.5-sized wedge set is never
    * materialized, the plan shuffles only O(m) edge/adjacency rows, and
    * the wedge count itself is degree arithmetic (Σ C(outdeg, 2)).
    *
    * Output: 1 row (n_nodes, n_edges, n_wedges, n_triangles).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    val (census, caches) = triangleCensus(edges)
    // the census is ONE row — collect it so e/oriented/adj (populated
    // once, during this action, and shared by all counting branches) can
    // be released instead of leaking for the session ([[graft.Local]])
    val out = graft.Local.localized(census)
    caches.foreach(_.unpersist(blocking = false))
    out
  }

  /** [[triangleStats]]'s counting pipeline BEFORE the one-row localize —
    * the pre-checkpoint plan PlanBudgetSpec pins (scans = 0: every branch
    * must read the shared caches, never re-derive parquet — the loop-body
    * re-execution trap class). Returns the census frame plus the persist
    * handles the caller releases once the census is materialized.
    */
  private[graft] def triangleCensus(edges: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val e = edges.persist()
    val deg = e.select(col("a").as("x")).unionByName(e.select(col("b").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
    val fwd = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    val oriented = e
      .join(deg.select(col("x").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("x").as("b"), col("d").as("db")), "b")
      .select(
        when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"))
      .persist()
    // Edge-iterator triangle counting: in the degree-ordered DAG every
    // triangle has a unique (source → middle) edge, and is counted by
    // |N⁺(u) ∩ N⁺(v)| on exactly that edge — so the m^1.5-sized wedge set
    // is NEVER materialized or shuffled. The plan moves O(m) rows (edges +
    // two adjacency-list joins, arrays bounded at O(√m) out-degree by the
    // orientation); the wedge-check work still happens, but inside the
    // per-edge sorted-array intersection, not as an exchange.
    val adj = oriented
      .groupBy(col("u")).agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .persist()
    // the wedge COUNT is pure degree arithmetic — Σ C(outdeg, 2)
    val nWedges = adj
      .select(size(col("nbrs")).cast("long").as("od"))
      .agg(coalesce(sum(expr("od * (od - 1) div 2")), lit(0L)).as("n_wedges"))
    val nTriangles = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"), "left")
      // sink-headed DAG edges (v has no out-neighbors) miss the left join;
      // substitute an empty array BEFORE size() so the expression is
      // config-independent — size(null) is null under ANSI but -1 under
      // legacy spark.sql.legacy.sizeOfNull, and a -1 would silently
      // subtract one triangle per sink-headed edge
      // slice(nu, 1, 0) = empty array of nu's element type, whatever the
      // caller's node-id type is
      //
      // r20 (guide §1.2 step 2 — per-task work): the intersection COUNT
      // over the sorted, distinct adjacency arrays runs through the
      // codegen'd two-pointer kernel ([[graft.functions
      // .SortedIntersectCount]]) instead of size(array_intersect(...)),
      // which builds a hash set + result array per edge — the suite's
      // hottest sampled compute. Bit-identical on these inputs
      // (spec-pinned in GraphOpsSpec).
      .select(call_function("sorted_intersect_count",
        col("nu"), coalesce(col("nv"), slice(col("nu"), 1, 0)))
        .cast("long").as("t"))
      .agg(coalesce(sum(col("t")), lit(0L)).as("n_triangles"))
    val census = deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(nWedges)
      .crossJoin(nTriangles)
    (census, Seq(e, oriented, adj))
  }

  /** Synchronous label propagation (Raghavan et al. 2007), `iters` fixed
    * rounds — community detection as a curation signal (a community of
    * mutually-linked domains/documents is a dedup/spam unit the pure
    * connected-components view cannot see: CC merges through ANY single
    * edge, LPA needs a neighborhood MAJORITY to pull a node over).
    * Completes the iterative-graph family next to CC (membership by
    * reachability), PageRank (centrality), and the triangle census
    * (local density).
    *
    * Determinism contract: the update is `label'(v) = argmax over neighbor
    * labels by (count, then SMALLEST label)` — integer counts and a total
    * tie order, so a fixed round count is bit-reproducible under any
    * execution order (the async/random-order LPA of the paper is
    * explicitly traded away; synchronous rounds are what an oracle can
    * verify). Nodes keep ≥ 1 neighbor by construction (symmetrized graph),
    * so every node re-labels every round.
    *
    * Scale shape per round: the two-shuffle Pregel step ([[pageRank]]'s
    * argument) — labels join into the cached pre-partitioned edges on the
    * source key, (target, label) counts aggregate with map-side partials,
    * and the per-target argmax is `row_number() = 1`, which
    * [[graft.plans.GroupTopKRewrite]] lowers to the bounded single-row
    * heaps (no per-node sort of the label multiset). Label state is
    * consumed exactly once per round → rounds stay lazy; the final state
    * is local-checkpointed (it is per-NODE, too big for the
    * [[graft.Local.localized]] literal route) so the loop-invariant edge
    * cache can be released — the checkpoint is the one by-design survivor,
    * the [[DedupOps.dedupClusters]] lifecycle.
    *
    * Output: (node, label, comm_size), ordered by node.
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.repartition(col("u")).persist()
    var labels = e.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) labels = lpRound(e, labels)
    // eager local checkpoint: materializes the 3-round chain (through the
    // cached edges) and truncates lineage, so the edge cache releases
    // without stranding the returned frame
    val cp = Checkpoints.cut(labels)
    e.unpersist(blocking = false)
    val sizes = cp.groupBy(col("label")).agg(count(lit(1)).as("comm_size"))
    cp.join(sizes, "label")
      .select(col("node"), col("label"), col("comm_size"))
      .orderBy(col("node"))
  }

  /** One [[labelPropagation]] round — the per-round plan PlanBudgetSpec
    * pins (scans = 0: a round reads the cached pre-partitioned edges and
    * the previous round's labels, never parquet). Pure: the loop's
    * persist/checkpoint lifecycle stays in the operator.
    */
  private[graft] def lpRound(e: DataFrame, labels: DataFrame): DataFrame = {
    val counted = e
      .join(labels.withColumnRenamed("node", "u"), "u")
      .groupBy(col("v"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("v")).orderBy(col("cnt").desc, col("label"))
    counted.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("v").as("node"), col("label"))
  }

  /** k-core peeling, `rounds` fixed synchronous rounds: repeatedly delete
    * nodes of degree < k (with every edge they carry), then report each
    * survivor's degree inside the surviving subgraph. The k-core — the
    * maximal subgraph of minimum degree ≥ k — is the classic
    * density/robustness signal (spam rings and boilerplate mirrors live in
    * high cores; pendant chains and one-off links peel away), completing
    * the iterative-graph family: reachability (CC), centrality
    * (PageRank), majority structure (LPA), local density (triangles),
    * global density (this).
    *
    * Bounded-round contract (the [[labelPropagation]] determinism trade):
    * true k-core iterates to a data-dependent fixpoint, which no unrolled
    * oracle can mirror; `rounds` synchronous peels are deterministic,
    * reach the fixpoint whenever the longest deletion cascade is shorter
    * than `rounds` (the spec pins a cascade that needs every round), and
    * otherwise UNDER-peel — survivors always contain the true core.
    *
    * Scale shape per round: one partial+final degree aggregation plus two
    * equi semi-joins of the edge set against the survivor list (keyed u,
    * then v) — edge-linear, no windows, no driver state. Each round's edge
    * set is persisted (it has TWO consumers: the next round's degree count
    * and its restriction join — without the persist the lineage would
    * re-derive round r-1 twice per round, a 2^R blowup) and materialized
    * by ONE driver-side `count` — the same tiny O(1)-result action the
    * terminal checkpoint used to trigger lazily, now run per round so the
    * loop can observe convergence: a peel that deletes NO edge (count
    * unchanged) is a fixpoint — every later peel recomputes identical
    * degrees over identical edges — so the remaining rounds' shuffles are
    * skipped outright. On an already-converged graph that removes
    * (rounds−1)/rounds of the whole query. The final core is
    * checkpointed, every round released — the [[labelPropagation]]
    * lifecycle.
    *
    * Output: (node, deg) of the surviving subgraph, ordered by node.
    */
  def kcore(edges: DataFrame, k: Int = 3, rounds: Int = 3): DataFrame =
    kcoreWithRounds(edges, k, rounds)._1

  /** [[kcore]] plus the number of peel rounds actually executed —
    * `< rounds` iff the early-exit fired at a fixpoint (spec-pinned both
    * ways). Results are identical either way: an early exit happens only
    * when the skipped rounds were provably no-ops, so the `rounds`-unrolled
    * oracle still matches.
    */
  private[graft] def kcoreWithRounds(
      edges: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    var e = edges.persist()
    val cached = scala.collection.mutable.Buffer(e)
    var prevEdges = e.count()
    var executed = 0
    var converged = false
    while (executed < rounds && !converged) {
      val (nextRaw, keep) = kcoreRound(e, k)
      val next = nextRaw.persist()
      cached += next
      val cnt = next.count()
      keep.unpersist(blocking = false)
      executed += 1
      converged = cnt == prevEdges
      prevEdges = cnt
      e = next
    }
    val core = e.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
    val cp = Checkpoints.cut(core)
    cached.foreach(_.unpersist(blocking = false))
    (cp.orderBy(col("node")), executed)
  }

  /** One synchronous [[kcore]] peel — the per-round plan PlanBudgetSpec
    * pins (scans = 0: a peel reads the cached previous edge set, never
    * parquet). `keep` is persisted here (it has TWO consumers, the u- and
    * v-side restriction joins — without the persist the degree
    * aggregation runs twice per round) and returned so the caller can
    * release it as soon as the round's edge set materializes.
    */
  private[graft] def kcoreRound(e: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val keep = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("u"))
      .persist()
    val next = e.join(keep, Seq("u"))
      .join(keep.withColumnRenamed("u", "v"), Seq("v"))
      .select(col("u"), col("v"))
    (next, keep)
  }

  /** DuckDB SQL matching [[kcore]] over [[copurchaseEdges]] of `lineitem`
    * (`rounds` unrolled peels).
    */
  def kcoreSql(k: Int = 3, rounds: Int = 3): String = {
    val peels = (1 to rounds).map { i =>
      val prev = s"e${i - 1}"
      s"k$i AS (SELECT u FROM $prev GROUP BY u HAVING count(*) >= $k), " +
        s"e$i AS (SELECT $prev.u, $prev.v FROM $prev " +
        s"JOIN k$i a ON $prev.u = a.u JOIN k$i b ON $prev.v = b.u)"
    }.mkString(", ")
    "WITH pr AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS p " +
      "FROM lineitem), " +
      "e0 AS (SELECT s AS u, p AS v FROM pr UNION ALL SELECT p, s FROM pr), " +
      peels + " " +
      s"SELECT u AS node, CAST(count(*) AS BIGINT) AS deg FROM e$rounds " +
      "GROUP BY u ORDER BY node"
  }

  /** DuckDB SQL matching [[labelPropagation]] over [[copurchaseEdges]] of
    * `lineitem` (`iters` unrolled rounds).
    */
  def labelPropagationSql(iters: Int = 3): String = {
    val rounds = (1 to iters).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"r$i AS (SELECT e.v, l.label, count(*) AS cnt FROM e " +
        s"JOIN $prev l ON l.node = e.u GROUP BY 1, 2), " +
        s"l$i AS (SELECT v AS node, label FROM (SELECT v, label, " +
        "row_number() OVER (PARTITION BY v ORDER BY cnt DESC, label) AS rn " +
        s"FROM r$i) WHERE rn = 1)"
    }.mkString(", ")
    "WITH pr AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS p " +
      "FROM lineitem), " +
      "e AS (SELECT s AS u, p AS v FROM pr UNION ALL SELECT p, s FROM pr), " +
      "l0 AS (SELECT DISTINCT u AS node, u AS label FROM e), " +
      rounds + ", " +
      s"sz AS (SELECT label, CAST(count(*) AS BIGINT) AS comm_size " +
      s"FROM l$iters GROUP BY label) " +
      s"SELECT node, l$iters.label AS label, comm_size FROM l$iters " +
      s"JOIN sz ON sz.label = l$iters.label ORDER BY node"
  }
}
