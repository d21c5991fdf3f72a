package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.expressions.Window

import graft.functions.StableHash
import graft.operators.{AsofOps, DedupOps, EventOps, GraphOps, MultimodalOps, SimOps, SketchOps, SortOps, StatsOps, TextOps}

/** Driver contract: the declared queries and their DuckDB oracles.
  *
  * Every key in `queries` has a matching DuckDB oracle in `oracleSql`; column
  * names and aliases are kept identical on both sides (the driver sorts
  * columns by name before hashing). Every query has a deterministic total
  * output order (ties broken by the table's unique key) or is an
  * order-insensitive aggregate with an explicit ORDER BY. A rule several
  * oracles share (an embedding's norm frame, the query side, a closure,
  * the packer) is one private `duck*` fragment that each oracle
  * interpolates, so a fix to it is made once.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // r20 (guide §2.5): the text corpus feeds every expensive per-row
    // derivation in the engine (tokenize→shingle→md5 chains, payload
    // plant+decode) and the fixture files are single-row-group parquet —
    // ONE scan task regardless of split config, so those maps ran on one
    // core of 32. Floor its scan parallelism once at the read
    // (GraftSession.widen — an exact no-op when the scan is already wide,
    // i.e. on any real multi-row-group table). Fact tables (lineitem,
    // events, embeddings) are left alone: their first real operator is a
    // shuffle/aggregation and q_sort_*'s one-range-shuffle plan contract
    // must hold.
    if (name == "documents") GraftSession.widen(df) else df
  }

  /** lineitem's unique key is (l_orderkey, l_linenumber) — used as tie-break
    * everywhere (FIXTURES.md §3).
    */
  private val liKeys = Seq("l_extendedprice", "l_orderkey", "l_linenumber")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_sort_total")(spark, "/root/testdata/sf0.001")

  /** The query names of a comma-separated list, trimmed, blanks dropped —
    * the list every tool main takes; fails naming each undeclared one.
    */
  def queryNames(list: String): Seq[String] =
    requireDeclared(list.split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** `names`, when every one is declared; fails naming those that are not. */
  def requireDeclared(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"not declared queries: ${unknown.mkString(", ")}")
    names
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O1/O6/O7 — total-order sort, the reference's entire query surface
    // (`ServerHandler.java:23-80`): one range-shuffle + partition sort.
    "q_sort_total" -> ((s, dir) => {
      SortOps.totalSort(t(s, dir, "lineitem"), liKeys.map(col))
    }),
    // O5 — per-chunk sorted runs (`sortChunk`, `NodeHandler.java:37-117`),
    // TeraSort-decomposed: deterministic run id, range partition, sort within.
    "q_sort_runs" -> ((s, dir) => {
      SortOps.rangeSortedRuns(
        t(s, dir, "lineitem"),
        pmod(col("l_orderkey"), lit(16)).as("run_id"),
        liKeys.map(col))
    }),
    // O6 — k-way merge of sorted runs ≡ duplicate-preserving sorted union-all
    // (`mergeSortedChunks`, `NodeHandler.java:204-290`). Runs are
    // range-disjoint on l_orderkey so each run's filter prunes parquet row
    // groups: total IO ≈ one scan (the r1 pmod version scanned 4x).
    "q_merge_union" -> ((s, dir) => {
      SortOps.mergeRangeRuns(t(s, dir, "lineitem"), col("l_orderkey"), 4, liKeys.map(col))
    }),
    // O1 generalization — top-k (`TakeOrderedAndProject`: per-partition heap,
    // k-sized driver merge; no full shuffle).
    "q_topk" -> ((s, dir) => {
      SortOps.topK(
        t(s, dir, "lineitem"), 100,
        Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))
    }),
    // O13 — per-chunk task statistics recast as per-bucket row counts
    // (`Server.java:29-48`).
    "q_chunk_stats" -> ((s, dir) => {
      SortOps.chunkStats(t(s, dir, "lineitem"), pmod(col("l_orderkey"), lit(16)))
    }),
    // O2/O4/O14 under the oracle — the reference's native format end to end:
    // dump ints to a space-delimited text file (partitioned TeraSort-order
    // sink, the scale path), read it back through the chunked text source,
    // total-sort. The oracle sees only the parquet table, so a format bug
    // anywhere in the round trip breaks the hash match.
    // CSV sink + source round trip on numeric columns (header + explicit
    // read schema); oracle sees only the parquet original.
    "q_csv_roundtrip" -> ((s, dir) => {
      val tmp = graft.Spill.newDir("graft_csv")
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .write.mode("overwrite").option("header", "true").csv(s"$tmp/li")
      s.read
        .schema("l_orderkey LONG, l_linenumber INT, l_quantity DOUBLE")
        .option("header", "true").csv(s"$tmp/li")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_orderkey"))
    }),
    // ORC sink + source round trip (columnar format #2 beside parquet):
    // predicate pushdown into the ORC scan on read-back, oracle sees only
    // the original parquet.
    "q_orc_roundtrip" -> ((s, dir) => {
      val tmp = graft.Spill.newDir("graft_orc")
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"), col("l_returnflag"))
        .write.mode("overwrite").orc(s"$tmp/li")
      s.read.orc(s"$tmp/li")
        .filter(col("l_returnflag") === "A")
        .groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("n_lines"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_partkey"))
    }),
    // JSON-lines sink + source round trip: documents (arbitrary text,
    // quoting/escaping in play) written as JSONL and read back with an
    // explicit schema; the oracle sees only the original parquet, so any
    // escaping infidelity breaks the hash match.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val tmp = graft.Spill.newDir("graft_jsonl")
      t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
        .write.mode("overwrite").json(s"$tmp/docs")
      s.read
        .schema("doc_id LONG, text STRING, lang STRING")
        .json(s"$tmp/docs")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"), col("lang"))
        .orderBy(col("doc_id"))
    }),
    // The paper's own pipeline: the unsorted ints as ONE space-joined file
    // (the reference's input), read back in 4 KiB chunks so most split
    // boundaries cut a token, then the reference's total-order sort.
    "q_textint_roundtrip" -> ((s, dir) => {
      val tmp = graft.Spill.newDir("graft_textint")
      val ints = t(s, dir, "lineitem").select(col("l_orderkey").cast("int").as("value"))
      ints.coalesce(1).write.format("textint").mode("overwrite").save(s"$tmp/ints")
      graft.sources.TextIntIO.sort(
        s.read.format("textint").option("chunkSize", 4 * 1024).load(s"$tmp/ints"))
    }),
    // The scale-path round trip through the same connector: range-sorted
    // part files (many inputs, not one) read back in 16 KiB chunks.
    // chunkSize forces many splits so the snap protocol is exercised, not
    // just planned.
    "q_textint_v2" -> ((s, dir) => {
      val tmp = graft.Spill.newDir("graft_textint_v2")
      val ints = t(s, dir, "lineitem").select(col("l_orderkey").cast("int").as("value"))
      // both halves of the connector: the V2 SINK writes range-partitioned
      // sorted parts (TeraSort contract), the V2 SCAN chunk-splits them back
      ints.repartitionByRange(8, col("value")).sortWithinPartitions("value")
        .write.format("textint").mode("overwrite").save(s"$tmp/ints")
      s.read.format("textint").option("chunkSize", 16 * 1024)
        .load(s"$tmp/ints").orderBy("value")
    }),

    // --- Relational support ops (SURVEY §2.2: absent in the reference,
    // --- added as the engine's general query surface) -------------------

    // Filter + projection; both reach the parquet scan (PushedFilters /
    // pruned ReadSchema — verified via explain in PlanSpec).
    "q_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),
    // Hash aggregation with map-side partial agg (TPC-H Q1 shape). Double
    // sums rounded identically on both sides for stable hash compare.
    "q_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // q_agg's semantics via explicit SALTED two-phase aggregation (SkewOps):
    // the hot-key mitigation, verified against the same oracle as a direct
    // groupBy would be. avg recombined as sum/count — salting only splits
    // algebraic aggregates.
    "q_agg_salted" -> ((s, dir) => {
      import graft.operators.SkewOps
      val salted = SkewOps.saltedSumCount(
        t(s, dir, "lineitem"),
        keys = Seq("l_returnflag", "l_linestatus"),
        sums = Seq(
          "qty" -> col("l_quantity"),
          "base" -> col("l_extendedprice"),
          "disc_price" -> (col("l_extendedprice") * (lit(1) - col("l_discount"))),
          "disc" -> col("l_discount")))
      salted.select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("qty"), 2).as("sum_qty"),
        round(col("base"), 2).as("sum_base_price"),
        round(col("disc_price"), 2).as("sum_disc_price"),
        round(col("disc") / col("n_rows"), 6).as("avg_disc"),
        col("n_rows").as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    // Salted shuffle join: a hot fact key's rows spread over 16 reducers,
    // the dim side replicated per salt — identical output to the plain
    // join (the oracle IS the plain join), for when the dim is too big to
    // broadcast and AQE can't split a single hot key.
    "q_join_salted" -> ((s, dir) => {
      import graft.operators.SkewOps
      SkewOps.saltedJoin(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")),
        "o_custkey", "c_custkey")
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          col("o_totalprice").as("price"))
        .orderBy(col("o_orderkey"))
    }),
    // Shuffle join on the fact keys + broadcast of the small dim (nation):
    // the 100 TB shape — never shuffle the small side.
    "q_join" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val customer = t(s, dir, "customer")
      val nation = t(s, dir, "nation")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("sum_totalprice"))
        .orderBy(col("n_name"), col("o_orderpriority"))
    }),
    // TPC-H Q3 shape — the classic 3-way selective join: filtered fact ⋈
    // filtered orders ⋈ broadcast customer segment, top-10 orders by
    // revenue. Revenue is summed in integer CENTS (floor(x*100+0.5) per
    // row) so the aggregate is associative-exact across engines — the
    // double product itself is row-wise identical, only its SUM order
    // isn't. Filters reach both parquet scans (plan-audited).
    "q_tpch_q3" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      // raw-timestamp comparisons, not to_date(col) wrappers: a filter on
      // a CAST of the column never reaches the parquet scan as a pushed
      // filter (the q_filter_project convention; plan-audited)
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).cast("string").as("o_date"),
          col("o_orderpriority"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * lit(100.0)
            + lit(0.5)).cast("long").as("rev_c"))
      SortOps.rankedTopK(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_date"), col("o_orderpriority"))
          .agg(sum(col("rev_c")).as("revenue_c")),
        10, Seq(col("revenue_c").desc, col("l_orderkey")),
        Seq(col("l_orderkey"), col("o_date"), col("o_orderpriority"), col("revenue_c")))
    }),
    // TPC-H Q1 shape — the scan-heavy pricing summary: ONE pass over the
    // fact table, map-side partial aggregation, shipdate filter pushed to
    // the scan. Money columns are summed in integer cents (row-wise
    // floor(x*100+0.5), associative-exact across engines); averages are
    // integer divisions of those sums (`div` on longs), never a double
    // mean whose rounding would depend on reduction order.
    "q_tpch_q1" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("base_c"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
            + 0.5).cast("long").as("disc_c"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")) * 100.0 + 0.5).cast("long").as("charge_c"),
          floor(col("l_discount") * 10000.0 + 0.5).cast("long").as("disc_bp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("qty")).as("sum_qty"),
          sum(col("base_c")).as("sum_base_c"),
          sum(col("disc_c")).as("sum_disc_c"),
          sum(col("charge_c")).as("sum_charge_c"),
          sum(col("disc_bp")).as("sum_disc_bp"),
          count(lit(1)).as("n_rows"))
        .withColumn("avg_qty_bp", expr("(10000 * sum_qty) div n_rows"))
        .withColumn("avg_price_c", expr("sum_base_c div n_rows"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    // TPC-H Q6 shape — pure scan-filter-aggregate: all three predicates
    // reach the parquet scan (raw-column comparisons, no cast wrappers),
    // one partial+final sum, a 1-row result. Revenue in integer
    // ten-thousandths: extendedprice*discount carries 4 decimals.
    "q_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
          && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
          && col("l_quantity") < 24.0)
        .agg(
          sum(floor(col("l_extendedprice") * col("l_discount") * 10000.0 + 0.5)
            .cast("long")).as("revenue_tb"),
          count(lit(1)).as("n_rows"))),
    // TPC-H Q5 shape — the 6-way join: region -> nation prefilter
    // broadcast into the fact chain, supplier broadcast with the
    // customer-nation co-residence condition, one shuffle join per fact
    // table. Revenue in associative-exact integer cents.
    "q_tpch_q5" -> ((s, dir) => {
      val asia = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name")))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
          .cast("long").as("rev_c"))
      val sup = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey")
          && col("s_nationkey") === col("c_nationkey"))
        .join(asia, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("rev_c")).as("revenue_c"))
        .orderBy(col("revenue_c").desc, col("n_name"))
    }),
    // TPC-H Q18 shape — large-volume orders (the HAVING pattern): one
    // lineitem aggregation filtered to 46 qualifying keys, broadcast into
    // the orders/customer chain — the fact table is scanned exactly once.
    "q_tpch_q18" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
        .filter(col("sum_qty") > 300)
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).cast("string").as("o_date"), col("o_totalprice"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val j = broadcast(big)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"), col("o_date"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("totalprice_c"),
          col("sum_qty"))
      val w = Window.orderBy(col("totalprice_c").desc, col("o_orderkey"))
      j.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 100)
        .select(col("rank"), col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_date"), col("totalprice_c"), col("sum_qty"))
        .orderBy(col("rank"))
    }),
    // TPC-H Q4 shape — the EXISTS semi-join with a non-equi residual:
    // orders in one quarter having at least one lineitem shipped more
    // than 60 days after the order date (the reference schema's
    // commitdate/receiptdate columns don't exist here, so "late" is
    // derived from shipdate vs orderdate). LEFT SEMI join: the probe
    // emits each order at most once regardless of how many lineitems
    // match — no post-join distinct needed, no row blowup at scale.
    "q_tpch_q4" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li, col("l_orderkey") === col("o_orderkey")
          && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))
    }),
    // TPC-H Q10 shape — returned-item ranking: quarter of orders ⋈
    // returnflag-filtered lineitem ⋈ customer ⋈ broadcast nation, revenue
    // summed per customer in associative-exact integer cents, top 20 by
    // lost revenue. Both fact filters reach the parquet scans.
    "q_tpch_q10" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
            + 0.5).cast("long").as("rev_c"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("acctbal_c"),
        col("c_nationkey"))
      SortOps.rankedTopK(
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("acctbal_c"), col("n_name"))
          .agg(sum(col("rev_c")).as("revenue_c")),
        20, Seq(col("revenue_c").desc, col("c_custkey")),
        Seq(col("c_custkey"), col("c_name"), col("acctbal_c"), col("n_name"),
          col("revenue_c")))
    }),
    // TPC-H Q12 shape — conditional (CASE) aggregation after a fact-fact
    // join: per linestatus, how many of the year's lineitems belong to
    // high- vs low-priority orders (the reference schema's shipmode column
    // doesn't exist here; linestatus plays its role). One shuffle join on
    // the order key, the CASE folded into the map-side partial aggregate.
    "q_tpch_q12" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"))
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_linestatus"))
    }),
    // TPC-H Q13 shape — customer order-count distribution: LEFT OUTER join
    // so order-less customers count as 0, then a second aggregation over
    // the per-customer counts. The outer join preserves every customer;
    // count(o_orderkey) ignores the null-extended rows.
    "q_tpch_q13" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_orderkey"), col("o_custkey"))
      t(s, dir, "customer").select(col("c_custkey"))
        .join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    }),
    // TPC-H Q14 shape — promo revenue share: one month of lineitem ⋈
    // broadcast part, both the PROMO-conditional and total revenue summed
    // in integer cents in ONE aggregate pass, the percentage an integer
    // basis-point division of the two sums (never a double ratio whose
    // rounding depends on reduction order).
    "q_tpch_q14" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-09-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
            + 0.5).cast("long").as("rev_c"))
      val part = broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_type")))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", col("rev_c")).otherwise(0L))
            .as("promo_c"),
          sum(col("rev_c")).as("total_c"))
        .withColumn("promo_bp", expr("(10000 * promo_c) div total_c"))
    }),
    // TPC-H Q17 shape — the correlated scalar subquery (lineitems below
    // 20% of their part's average quantity), decorrelated WITHOUT a second
    // fact scan: per-part sums come from a window over the already-joined
    // rows, and the avg comparison is cross-multiplied into integers
    // (5 * n * qty < sum_qty ⇔ qty < 0.2 * avg) so no division rounds.
    "q_tpch_q17" -> ((s, dir) => {
      val pf = broadcast(t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23" && col("p_size").between(1, 15))
        .select(col("p_partkey")))
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        floor(col("l_quantity") * 10000.0 + 0.5).cast("long").as("qty_bp"),
        floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("price_c"))
      val w = Window.partitionBy(col("l_partkey"))
      li.join(pf, col("l_partkey") === col("p_partkey"))
        .withColumn("sum_qty_bp", sum(col("qty_bp")).over(w))
        .withColumn("n_part", count(lit(1)).over(w))
        .filter(col("qty_bp") * 5L * col("n_part") < col("sum_qty_bp"))
        .agg(sum(col("price_c")).as("sum_price_c"),
          count(lit(1)).as("n_small"))
        .withColumn("avg_yearly_c", expr("sum_price_c div 7"))
    }),
    // TPC-H Q19 shape — the OR-of-conjunctions predicate: three
    // brand/size/quantity branches disjoined AFTER a broadcast part join,
    // with the branches' common envelope (quantity ≤ 30) factored out so
    // at least that much pushes into the fact scan.
    "q_tpch_q19" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_quantity") <= 30.0)
        .select(col("l_partkey"), col("l_quantity"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
            + 0.5).cast("long").as("rev_c"))
      val part = broadcast(t(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size")))
      li.join(part, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5)
            && col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10)
            && col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15)
            && col("l_quantity").between(20, 30)))
        .agg(sum(col("rev_c")).as("revenue_c"), count(lit(1)).as("n_rows"))
    }),
    // TPC-H Q22 shape — the global-scalar + anti-join pattern: customers
    // richer than the positive-balance average with no order since
    // 2000-01-01 (every customer here has SOME order, so the canonical
    // "never ordered" filter is time-bounded to stay non-empty). The
    // average is a 1-row aggregate broadcast back, compared by integer
    // cross-multiplication (acct * n > sum ⇔ acct > avg) — exact, no
    // division; the "no recent orders" is a LEFT ANTI join.
    "q_tpch_q22" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("acct_c"))
      val pos = cust.filter(col("acct_c") > 0L)
        .agg(sum(col("acct_c")).as("sum_pos_c"), count(lit(1)).as("n_pos"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey"))
      cust.crossJoin(broadcast(pos))
        .filter(col("acct_c") * col("n_pos") > col("sum_pos_c"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"), sum(col("acct_c")).as("total_acct_c"))
        .orderBy(col("c_nationkey"))
    }),
    // TPC-H Q15 shape — top supplier(s): per-supplier quarter revenue,
    // keep the rows equal to the global maximum. The revenue view is
    // persisted so the scalar-max subquery and the final filter share ONE
    // fact scan; the 1-row max broadcasts back (never a sort, never a
    // single-partition window over suppliers). The argmax result is a
    // handful of rows, so it comes back as a driver-local literal and the
    // cached revenue view is released instead of leaking (graft.Local).
    "q_tpch_q15" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-07-01").cast("timestamp")
          && col("l_shipdate") < lit("1996-10-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100.0 + 0.5).cast("long")).as("total_revenue_c"))
        .persist()
      val mx = rev.agg(max(col("total_revenue_c")).as("max_rev_c"))
      val out = graft.Local.localized(rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue_c") === col("max_rev_c"))
        .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_c"))
        .orderBy(col("s_suppkey")))
      rev.unpersist(blocking = false)
      out
    }),
    // TPC-H Q21 shape — "the only late supplier": for completed orders
    // with 2+ suppliers, the supplier whose lineitems were the ONLY late
    // ones (late = shipped 60+ days after the order date, standing in for
    // the schema's missing receipt/commit dates). The two correlated
    // EXISTS of the canonical form decorrelate into per-order distinct
    // counts over the SAME joined frame via one window partitioning —
    // lineitem is scanned once (plan-audited), no self-joins.
    "q_tpch_q21" -> ((s, dir) => {
      val ord = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val j = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1L)
            .otherwise(0L).as("late"))
      val w = Window.partitionBy(col("l_orderkey"))
      val waiting = j
        .withColumn("n_supps", size(collect_set(col("l_suppkey")).over(w)))
        .withColumn("n_late_supps",
          size(collect_set(when(col("late") === 1L, col("l_suppkey"))).over(w)))
        .filter(col("late") === 1L && col("n_supps") > 1 && col("n_late_supps") === 1)
      SortOps.rankedTopK(
        waiting
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey")),
        20, Seq(col("numwait").desc, col("s_name")),
        Seq(col("s_name"), col("s_suppkey"), col("numwait")))
    }),
    // TPC-H Q7 shape — two-nation shipping volume: revenue between a
    // nation pair in both directions, by supplier nation x customer nation
    // x ship year. The one join topology the suite lacked: the fact joined
    // to the SAME dimension twice under different roles. Both nation role
    // copies and supplier broadcast; the supplier-side nation filter lands
    // BEFORE the orders/customer shuffles, so only the two nations'
    // lineitems ever shuffle (2/25ths of the fact at uniform nations).
    "q_tpch_q7" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val n2 = broadcast(t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation")))
      val sup = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).cast("long").as("l_year"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long").as("volume_c"))
      li.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n1, col("s_nationkey") === col("s_nkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(n2, col("c_nationkey") === col("c_nkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(sum(col("volume_c")).as("revenue_c"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),
    // TPC-H Q8 shape — national market share: NATION_1 suppliers' slice of
    // MEDIUM-part volume sold to EUROPE customers, per order year, in
    // integer basis points (conditional sum over total, one aggregation).
    // Same role-played dimension topology as Q7 plus the region rollup.
    "q_tpch_q8" -> ((s, dir) => {
      val part = broadcast(t(s, dir, "part")
        .filter(col("p_type") === "MEDIUM").select(col("p_partkey")))
      val sup = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val supNation = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
      val euroKeys = broadcast(t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nkey")))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0 + 0.5)
            .cast("long").as("volume_c"))
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(supNation, col("s_nationkey") === col("s_nkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(euroKeys, col("c_nationkey") === col("c_nkey"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", col("volume_c")).otherwise(0L))
            .as("nation_volume_c"),
          sum(col("volume_c")).as("total_volume_c"))
        .select(col("o_year"), col("nation_volume_c"), col("total_volume_c"),
          expr("(nation_volume_c * 10000) div total_volume_c").as("mkt_share_bp"))
        .orderBy(col("o_year"))
    }),
    // TPC-H Q2 shape — minimum-cost supplier: the correlated-subquery
    // decorrelation (min per part, join back on the min). The schema has no
    // partsupp table, so the supply catalog is DERIVED: per (part, supplier)
    // the minimum observed unit price in lineitem — one keyed aggregation
    // of the fact table, then all remaining joins are broadcasts (filtered
    // part, EUROPE supplier roster). The per-part minimum is a window over
    // the already-aggregate-sized frame, never the fact table. Unit cost is
    // floor(extprice*100/qty + 0.5): pure IEEE double ops in source order,
    // bit-identical across engines before the floor.
    "q_tpch_q2" -> ((s, dir) => {
      val ps = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(floor(col("l_extendedprice") * 100.0 / col("l_quantity") + 0.5)
          .cast("long")).as("cost_c"))
      val part = broadcast(t(s, dir, "part")
        .filter(col("p_size").between(10, 20) && col("p_type") === "LARGE")
        .select(col("p_partkey"), col("p_brand")))
      val eu = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region").filter(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"),
          floor(col("s_acctbal") * 100.0 + 0.5).cast("long").as("acctbal_c"),
          col("n_name")))
      val j = ps
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(eu, col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_cost_c",
          min(col("cost_c")).over(Window.partitionBy(col("p_partkey"))))
        .filter(col("cost_c") === col("min_cost_c"))
      SortOps.rankedTopK(j, 100,
        Seq(col("acctbal_c").desc, col("s_name"), col("p_partkey")),
        Seq(col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
          col("acctbal_c"), col("cost_c")))
    }),
    // TPC-H Q9 shape — product-type profit by nation and year: the 5-way
    // join with an arithmetic measure spanning two tables. No partsupp, so
    // unit cost substitutes p_retailprice (broadcast with the name-filtered
    // part dim); profit per line = revenue cents − cost cents, both floored
    // row-wise so the group sums stay associative-exact. One shuffle join
    // per fact table; part/supplier/nation all broadcast.
    "q_tpch_q9" -> ((s, dir) => {
      val part = broadcast(t(s, dir, "part")
        .filter(col("p_name").like("%red%"))
        .select(col("p_partkey"), col("p_retailprice")))
      val sup = broadcast(t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey")))
      val nat = broadcast(t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name")))
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"))
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("n_name"), col("o_year"),
          (floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100.0
            + 0.5).cast("long")
            - floor(col("p_retailprice") * col("l_quantity") * 100.0 + 0.5)
              .cast("long")).as("amount_c"))
        .groupBy(col("n_name"), col("o_year"))
        .agg(sum(col("amount_c")).as("profit_c"))
        .orderBy(col("n_name"), col("o_year").desc)
    }),
    // TPC-H Q11 shape — value concentration with a scalar-subquery
    // threshold: per-part value among one nation's suppliers vs a fraction
    // of the total. The threshold is a 1-row aggregate broadcast-crossed
    // onto the per-part frame and compared by integer CROSS-MULTIPLY
    // (value*1000 > total), never a divided double. Supplier roster is a
    // broadcast semi-join into the fact scan.
    "q_tpch_q11" -> ((s, dir) => {
      val supN = broadcast(t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
      val perPart = t(s, dir, "lineitem")
        .join(supN, col("l_suppkey") === col("s_suppkey"), "left_semi")
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * 100.0 + 0.5).cast("long").as("val_c"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("val_c")).as("value_c"))
      val total = perPart.agg(sum(col("value_c")).as("total_c"))
      perPart.crossJoin(broadcast(total))
        .filter(col("value_c") * 1000 > col("total_c"))
        .select(col("l_partkey"), col("value_c"))
        .orderBy(col("value_c").desc, col("l_partkey"))
    }),
    // TPC-H Q16 shape — supplier counts per part descriptor with a NOT-IN
    // exclusion: distinct catalog pairs from the fact table (one shuffle,
    // the only fact-sized step), broadcast anti-join of the "complaint"
    // suppliers (negative balance stands in for the comment scan), then
    // COUNT(DISTINCT) per (brand, type, size) over catalog-sized rows.
    "q_tpch_q16" -> ((s, dir) => {
      val pairs = t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val part = broadcast(t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO"
          && col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
        .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size")))
      val complaints = broadcast(t(s, dir, "supplier")
        .filter(col("s_acctbal") < 0).select(col("s_suppkey")))
      pairs
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(complaints, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    }),
    // TPC-H Q20 shape — the nested-IN promotion query: suppliers holding a
    // DOMINANT share of a red part's 1996 volume (pair_qty*2 > part total —
    // the correlated half-of-sum threshold, availqty's role in the
    // reference schema). Inner aggregation is keyed on (part, supplier);
    // the per-part total is a window over that aggregate; the final
    // supplier projection is a semi-join — each level's input is one
    // aggregation smaller than the last.
    "q_tpch_q20" -> ((s, dir) => {
      val red = broadcast(t(s, dir, "part")
        .filter(col("p_name").like("red%")).select(col("p_partkey")))
      val perPair = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(red, col("l_partkey") === col("p_partkey"), "left_semi")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("qty")).as("pair_qty"))
      val dominant = perPair
        .withColumn("part_qty",
          sum(col("pair_qty")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("pair_qty") * 2 > col("part_qty"))
        .select(col("l_suppkey")).distinct()
      t(s, dir, "supplier")
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_name"), col("n_name"))
        .orderBy(col("s_name"))
    }),
    // Good-Turing count-of-counts over word bigrams — the smoothing
    // statistic (N_r, r*N_r) an n-gram LM reserves unseen mass from.
    "q_bigram_freqs" -> ((s, dir) =>
      TextOps.bigramFreqOfFreqs(t(s, dir, "documents"))),
    // MLE bigram LM table: P(w2|w1) in integer bp over true prefix mass —
    // the estimation step between q_bigram_freqs and an n-gram LM.
    "q_bigram_lm" -> ((s, dir) =>
      TextOps.bigramCondProb(t(s, dir, "documents"))),
    // Doc-level bigram-LM quality score: mean inverse transition
    // probability in bp — the KenLM-style filter unigram surprisal can't
    // replicate (it scores "the the the the" as maximally probable).
    "q_bigram_surprisal" -> ((s, dir) =>
      TextOps.bigramSurprisal(t(s, dir, "documents"))),
    // Interpolated Kneser–Ney bigram score: absolute discount D=3/4 plus
    // the continuation-count back-off term, exact rational in
    // decimal(38,0) floored to bp — the smoothed LM quality filter
    // production pipelines run where q_bigram_surprisal is the MLE strawman.
    "q_kn_score" -> ((s, dir) =>
      TextOps.kneserNeyScore(t(s, dir, "documents"))),
    // Multi-signal quality rank fusion per source: Borda-fused competition
    // ranks computed from (source, value) histograms — never a per-source
    // row window — calibrated to a per-source percentile in bp.
    "q_quality_fusion" -> ((s, dir) =>
      TextOps.qualityFusion(t(s, dir, "documents"))),
    // Triangle census over the part co-order graph (parts restricted to a
    // broadcast-filtered subset so the declared query stays bench-sized;
    // the operator itself is the degree-ordered orientation construction
    // whose out-degrees are O(sqrt m) even on power-law hubs).
    "q_triangles" -> ((s, dir) => {
      val small = t(s, dir, "part").filter(col("p_size") <= 5).select(col("p_partkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
      GraphOps.triangleStats(GraphOps.coOrderEdges(li))
    }),
    // Degree distribution of the same co-order graph with the tail
    // (degree-or-higher) counts a power-law read fits against — the graph
    // profile behind the O(sqrt m) orientation bound.
    "q_graph_degrees" -> ((s, dir) => {
      val small = t(s, dir, "part").filter(col("p_size") <= 5).select(col("p_partkey"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(small), col("l_partkey") === col("p_partkey"), "left_semi")
      GraphOps.degreeHistogram(GraphOps.coOrderEdges(li))
    }),
    // The FULL co-order graph — no bench-sizing part filter — so the
    // degree-ordered orientation's O(sqrt m) wedge bound is measured on
    // the whole graph (hubs included), not asserted on a subset.
    "q_triangles_full" -> ((s, dir) =>
      GraphOps.triangleStats(GraphOps.coOrderEdges(
        GraftSession.widen(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")))))),
    // Deterministic train/val/test split assignment — hash-bucket 80/10/10
    // by stable 60-bit md5, so membership is reproducible across runs,
    // engines, and table growth (a new doc never moves an old one).
    "q_split_assign" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("bucket", StableHash.hash60(col("doc_id").cast("string")) % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("split"))),
    // Full BPE tokenizer training (3 merge rounds): a driver loop where
    // each round is a vocab-bounded distributed recount + greedy merge —
    // the iterated form of q_bpe_pairs. See TextOps.bpeMerges.
    "q_bpe_merges" -> ((s, dir) =>
      TextOps.bpeMerges(t(s, dir, "documents"))),
    // Tokenizer APPLICATION: encode the corpus with the trained merges —
    // per-doc word and BPE token counts via a broadcast vocab join.
    "q_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(t(s, dir, "documents"))),
    // Unigram-LM tokenizer training (SentencePiece counterpart to BPE):
    // 2 EM rounds of enumerate-and-argmin Viterbi segmentation over the
    // distinct-word table under integer sixteenth-bit log2 costs.
    "q_unigram_lm" -> ((s, dir) =>
      TextOps.unigramLm(t(s, dir, "documents"))),
    // Integer-exact damped PageRank over the supplier-part co-purchase
    // graph, 3 Pregel-style rounds; link centrality as a curation prior.
    "q_pagerank" -> ((s, dir) => {
      val pr = GraphOps.pageRank(GraphOps.copurchaseEdges(
        GraftSession.widen(t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey")))))
      pr.select(col("rank"),
        when(col("node") < 1000000L, lit("supplier")).otherwise(lit("part")).as("kind"),
        (col("node") % 1000000L).as("key"),
        col("score"))
        .orderBy(col("rank"))
    }),
    // k-core peeling over the co-purchase graph: density-by-minimum-degree
    // after 3 synchronous delete rounds (survivors contain the true core).
    "q_kcore" -> ((s, dir) =>
      GraphOps.kcore(GraphOps.copurchaseEdges(
        GraftSession.widen(t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey")))), k = 16)),
    // Synchronous label propagation over the same co-purchase graph:
    // community membership by neighborhood MAJORITY (vs CC's any-edge
    // reachability), 3 deterministic min-tie-break rounds.
    "q_label_prop" -> ((s, dir) =>
      GraphOps.labelPropagation(GraphOps.copurchaseEdges(
        GraftSession.widen(t(s, dir, "lineitem").select(col("l_suppkey"), col("l_partkey")))))),
    // Window functions: top-3 lineitems per supplier by price, fully
    // tie-broken → deterministic.
    "q_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_suppkey"), col("rn"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),
    // Same result as q_window via the bounded top-k AGGREGATOR: map-side
    // partial aggregation keeps ≤k rows per group before the shuffle,
    // instead of shuffling + fully sorting every group. Shares q_window's
    // oracle SQL — two physical strategies, one semantic contract.
    "q_topk_groups" -> ((s, dir) => {
      import s.implicits._
      val rows = t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
        .as[(Long, Double, Long, Int)]
        .map { case (g, score, id1, id2) => (g, graft.functions.ScoredRow(score, id1, id2)) }
      val topk = rows.groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.TopKAgg(3).toColumn.name("top"))
      topk.flatMap { case (g, rs) =>
        rs.zipWithIndex.map { case (r, i) => (g, i + 1, r.id1, r.id2, r.score) }
      }.toDF("l_suppkey", "rn", "l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_suppkey"), col("rn"))
    }),
    // Distinct = hash aggregation without aggregates.
    "q_distinct" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"))
        .dropDuplicates()
        .orderBy(col("l_partkey"), col("l_suppkey"))
    }),
    // Pivot: wide per-status columns from the long fact table.
    "q_pivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
        // absent (flag, status) combos: Spark pivot yields null, the
        // oracle's FILTER count yields 0 — align on 0
        .na.fill(0)
        .orderBy(col("l_returnflag"))
    }),
    // Hierarchical aggregation (rollup = grouping sets): subtotal rows per
    // returnflag and a grand total; null group keys coalesced so the output
    // order is engine-independent (Spark sorts NULLS FIRST, DuckDB LAST).
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus"))
    }),
    // Full grouping-sets lattice (CUBE) — rollup's 3 sets plus the
    // (linestatus-only) slice.
    "q_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rflag"),
          coalesce(col("l_linestatus"), lit("(all)")).as("lstatus"),
          col("n_rows"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus"))
    }),
    // Set operations: INTERSECT and EXCEPT of two key sets, tagged and
    // unioned into one deterministic result.
    // CDC apply (MERGE INTO shape): a deterministic change batch — deletes
    // (key%10=0), whole-row updates (%10=1), inserts (%10=2, key+1e6) —
    // applied to customer via anti-join + union.
    "q_merge_upsert" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val m0 = base.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), lit("D").as("op"))
      val m1 = base.filter(col("c_custkey") % 10 === 1)
        .select(col("c_custkey"), concat(col("c_name"), lit("*")).as("c_name"),
          (col("c_acctbal") + lit(100.0)).as("c_acctbal"), lit("U").as("op"))
      val m2 = base.filter(col("c_custkey") % 10 === 2)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
          col("c_acctbal"), lit("I").as("op"))
      graft.operators.MergeOps.applyChanges(
        base, m0.unionByName(m1).unionByName(m2), "c_custkey")
        .orderBy(col("c_custkey"))
    }),
    // The SQL entry point: the same engine surface through spark.sql on a
    // registered view — GROUPING SETS picks a lattice neither rollup nor
    // cube expresses (pair + right-unit + grand total).
    "q_sql_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql(
        "SELECT coalesce(l_returnflag, '(all)') AS rflag, " +
          "coalesce(l_linestatus, '(all)') AS lstatus, " +
          "CAST(count(*) AS BIGINT) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
          "FROM lineitem_gs " +
          "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ()) " +
          "ORDER BY rflag, lstatus")
    }),
    "q_set_ops" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey").as("k")).distinct()
      val pa = t(s, dir, "part").filter(col("p_size") > 25).select(col("p_partkey").as("k"))
      li.intersect(pa).withColumn("src", lit("both"))
        .unionByName(li.except(pa).withColumn("src", lit("lineitem_only")))
        .select(col("src"), col("k"))
        .orderBy(col("src"), col("k"))
    }),
    // Left-semi join: customers with at least one order (EXISTS).
    "q_semi_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "leftsemi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    // Left-anti join: customers with no high-value order (NOT EXISTS).
    "q_anti_join" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
      t(s, dir, "customer")
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "leftanti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),
    // Date + math function surface: extraction, date arithmetic, sqrt in
    // basis points (floor-based — engine round() on doubles is not portable).
    "q_date_math" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01").cast("date")).as("days_since"),
        // ISO string, not a date: engines hand pandas different date dtypes
        date_add(to_date(col("o_orderdate")), 30).cast("string").as("deadline"),
        TextOps.roundBp(sqrt(col("o_totalprice"))).as("sqrt_price_bp"),
        pmod(col("o_orderkey"), lit(7)).as("bucket7"))
        .orderBy(col("o_orderkey"))
    }),

    // --- Text analysis over `documents` (north star; TextOps) -----------

    // Corpus token frequency: one explode + hash shuffle with map-side
    // partial aggregation — the canonical word-count shape.
    "q_text_tokens" -> ((s, dir) =>
      TextOps.tokenFrequency(t(s, dir, "documents"))),
    // Per-document token statistics incl. a BPE-ish subword count —
    // embarrassingly parallel projections, no shuffle except the final sort.
    "q_text_stats" -> ((s, dir) =>
      TextOps.tokenStats(t(s, dir, "documents"))),
    // Exact + near-dup fingerprints (md5 of token stream, min-hashed
    // 3-shingle) — the keys the dedup queries group on.
    "q_doc_fingerprints" -> ((s, dir) =>
      TextOps.fingerprints(t(s, dir, "documents"))),
    // Stopword-marker language ID heuristic (reproducible CASE ladder).
    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(t(s, dir, "documents"))),
    // Quality scoring: distinct ratio + stopword ratio + length saturation.
    "q_quality" -> ((s, dir) =>
      TextOps.qualityScore(t(s, dir, "documents"))),
    // Gopher-style repetition/quality rules: per-doc word-shape ratios,
    // repeated-n-gram ratios, top-2-gram char coverage, combined gate.
    "q_quality_gopher" -> ((s, dir) =>
      TextOps.gopherQuality(t(s, dir, "documents"))),
    // Exact closed-form least-squares fit of a quality regression
    // (n_chars ~ token count + stopword count): one aggregation pass for
    // the integer normal-equation moments, Cramer's rule for exact
    // rational weights — the model-fitting step of a quality-classifier
    // pipeline with zero float drift across engines.
    "q_quality_linreg" -> ((s, dir) => {
      val feats = t(s, dir, "documents")
        .select(TextOps.tokens(col("text")).as("tk"), col("n_chars"))
        .filter(size(col("tk")) > 0)
        .select(size(col("tk")).cast("long").as("x1"),
          size(filter(col("tk"), x => x.isInCollection(TextOps.stopwords))).cast("long")
            .as("x2"),
          col("n_chars").as("y"))
      StatsOps.linregFit(feats, col("x1"), col("x2"), col("y"))
    }),
    // DSIR-style importance scores (hashed-bigram likelihood ratio vs the
    // en-language target slice, integer bp) — the data-selection weight a
    // curation run resamples raw crawl against.
    "q_dsir_score" -> ((s, dir) =>
      TextOps.dsirScores(t(s, dir, "documents"), col("lang") === "en")),
    // Unigram-surprisal LM score (integer perplexity surrogate): corpus
    // vocab broadcast onto the token stream, per-doc integer mean.
    "q_lm_surprisal" -> ((s, dir) =>
      TextOps.lmSurprisal(t(s, dir, "documents"))),
    // Per-source quality scorecard: the gopher gate rolled up per source
    // (drop-a-source curation granularity).
    "q_source_stats" -> ((s, dir) =>
      TextOps.sourceScorecard(t(s, dir, "documents"))),
    // BM25 lexical ranking against a fixed query-term set (integer idf
    // surrogate, per-term bp rounding so totals are integer-exact).
    "q_text_bm25" -> ((s, dir) =>
      TextOps.bm25(t(s, dir, "documents"), bm25Terms)),
    // Positional inverted index + adjacent-token phrase query: per-term
    // postings shifted by phrase offset and intersected on (doc, pos) —
    // shuffle bounded by the query terms' frequency, not corpus size.
    "q_index_phrase" -> ((s, dir) =>
      TextOps.phraseSearch(t(s, dir, "documents"), phraseTerms)),
    // Skip-gram co-occurrence lift (integer-exact PMI surrogate) — the
    // collocation statistic a word2vec-style pipeline factorizes.
    "q_skipgram_lift" -> ((s, dir) =>
      TextOps.skipgramLift(t(s, dir, "documents"))),
    // Per-document token diversity: Simpson collision numerator, modal
    // count, duplicated-token bp — the repetition gate q_quality can't see.
    "q_token_diversity" -> ((s, dir) =>
      TextOps.tokenDiversity(t(s, dir, "documents"))),
    // Vocabulary coverage curve at fixed top-k cuts — the Zipf diagnostic
    // behind a tokenizer vocab-size decision.
    "q_vocab_coverage" -> ((s, dir) =>
      TextOps.vocabCoverage(t(s, dir, "documents"))),
    // BPE tokenizer-training step: top-20 adjacent char pairs within
    // tokens (the next merge rule); TakeOrderedAndProject, never a sort.
    "q_bpe_pairs" -> ((s, dir) =>
      TextOps.bpePairCounts(t(s, dir, "documents"))),
    // Training-sequence packing: docs to 512-token budget bins in id
    // order via a two-level (shard, in-shard) prefix sum.
    "q_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(t(s, dir, "documents"), budget = 512)),
    // Curriculum packing: the same two-level prefix-sum packer in
    // (quality desc, id) order — best documents fill the first context
    // windows, realized without a global sort.
    "q_pack_curriculum" -> ((s, dir) =>
      TextOps.packCurriculum(t(s, dir, "documents"), budget = 512)),
    // Takedown blast radius: which packed training sequences contain a
    // tombstoned doc (same rule as q_dedup_forget) and what regeneration
    // costs — the compliance query downstream of the dedup repair.
    "q_forget_blast" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.forgetBlastRadius(docs,
        docs.filter(col("doc_id") % 13 === 3).select(col("doc_id")),
        budget = 512)
    }),
    // The blast radius in POST-TOKENIZER units: the same takedown audit
    // over bpeEncode counts — training batches fill on BPE tokens, so
    // regeneration cost in whitespace tokens under-prices the real batch
    // budget (q_pack_bpe's composition, audited).
    "q_forget_blast_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.forgetBlastRadiusCounts(
        TextOps.bpeEncode(docs)
          .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
        docs.filter(col("doc_id") % 13 === 3).select(col("doc_id")),
        budget = 512)
    }),
    // Packing on the POST-BPE token budget — the composition an actual
    // batch assembler runs: trained-tokenizer counts (q_bpe_encode) feed
    // the two-level prefix-sum packer. Whitespace counts over-estimate
    // what fits; the post-BPE count is what fills a context window. The
    // materialized variant: the encode pipeline (explode + vocab join +
    // per-doc agg) runs ONCE behind a Spill barrier, not once per packer
    // scan.
    "q_pack_bpe" -> ((s, dir) =>
      TextOps.packCountsMaterialized(
        TextOps.bpeEncode(t(s, dir, "documents"))
          .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
        budget = 512)),
    // PII redaction over a corpus with deterministically planted emails/
    // phones/ids: match counts + md5 of the masked text.
    "q_text_redact" -> ((s, dir) =>
      TextOps.piiRedact(TextOps.plantedPii(t(s, dir, "documents")))),
    // Reproducible stratified sampling: 5 docs per language by id-hash
    // order — rand()-free, engine-portable, and (being a row_number<=k
    // shape) executed through the bounded GroupTopK rewrite.
    "q_sample_stratified" -> ((s, dir) =>
      graft.operators.SampleOps.stratifiedSample(
        t(s, dir, "documents"), "lang", "doc_id", n = 5)),
    // Priority sampling (Duffield-Lund-Thorup): EXACTLY k rows, weight-
    // biased without replacement, integer-exact priorities, heap top-k.
    "q_sample_priority" -> ((s, dir) =>
      graft.operators.SampleOps.prioritySample(
        t(s, dir, "documents"), "n_chars", "doc_id", k = 100)),
    // Per-SOURCE exactly-k weighted sample: the GroupTopK-lowered stratified
    // form of q_sample_priority (one dev slice per domain, one shuffle,
    // k-row heaps per group) — batch anchor of prioritySampleStream.
    "q_sample_priority_group" -> ((s, dir) =>
      graft.operators.SampleOps.prioritySampleByGroup(
        t(s, dir, "documents"), "source", "n_chars", "doc_id", k = 10)),
    // Data mixing: per-language sampling multipliers toward a uniform mix.
    "q_mix_weights" -> ((s, dir) =>
      graft.operators.SampleOps.mixWeights(t(s, dir, "documents"), "lang")),
    // Temperature-scaled mixture (target share ∝ sqrt(observed), the
    // mBERT/XLM-R α-sampling shape): flattens the head without the uniform
    // target's aggressive tail upsampling.
    "q_mix_temperature" -> ((s, dir) =>
      graft.operators.SampleOps.temperatureMix(t(s, dir, "documents"), "lang")),
    // Realize the temperature mixture as rows: per-lang quota from the
    // target shares, k_s smallest id-hashes win per stratum — the
    // GroupTopK-lowered cut that turns mixture weights into the actual
    // reproducible training slice.
    "q_mix_sample" -> ((s, dir) =>
      graft.operators.SampleOps.realizeMixture(
        t(s, dir, "documents"), "lang", "doc_id", total = 200)),
    // Quality-weighted reproducible downsampling: survive with
    // probability quality_bp/1e4, deterministically by id hash.
    "q_sample_weighted" -> ((s, dir) =>
      graft.operators.SampleOps.weightedSample(
        TextOps.qualityScore(t(s, dir, "documents")), "quality_bp", "doc_id")
        .select(col("doc_id"), col("quality_bp"))
        .orderBy(col("doc_id"))),
    // Top-3 terms per doc by integer-exact tf-idf weighting.
    "q_text_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"))),
    // HTML -> text extraction (the web-corpus first step): strip planted
    // markup, decode entities innermost-first, collapse whitespace; the
    // md5 witnesses byte-identical extraction cross-engine.
    "q_text_extract" -> ((s, dir) =>
      TextOps.htmlExtract(t(s, dir, "documents"))),
    // CCNet head/middle/tail perplexity terciles per language: competition
    // rank from the (lang, score) histogram — deterministic integer cut,
    // never a float quantile or a per-lang row window.
    "q_ccnet_buckets" -> ((s, dir) =>
      TextOps.perplexityBuckets(t(s, dir, "documents"))),
    // Context-window packing: 40-token chunks every 30 tokens.
    "q_text_chunks" -> ((s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents"), width = 40, stride = 30)),
    // Winnowing (MOSS) fingerprint sets: min hash per sliding window of 4
    // shingle hashes.
    "q_doc_winnow" -> ((s, dir) =>
      TextOps.winnow(t(s, dir, "documents"))),

    // --- Document dedup over a dup-planted corpus (north star; DedupOps).
    // --- Both engines construct the identical corpus (plantedCorpus /
    // --- the corpus CTE in the oracle), so results hash-compare.

    // Exact dedup: hash-groupBy on the content fingerprint.
    "q_dedup_docs" -> ((s, dir) =>
      DedupOps.exactDedup(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // MinHash + LSH banding: bucketed candidate generation, never all-pairs;
    // hot buckets capped (mirrored in the oracle's okb CTE).
    "q_dedup_minhash" -> ((s, dir) =>
      DedupOps.minhashBandPairs(DedupOps.plantedCorpus(t(s, dir, "documents")),
        maxBucket = DedupOps.DefaultMaxBucket)),
    // The RECALL side of the MinHash audit pair (q_cap_audit_minhash is
    // the cost side): exact anchor-sample Jaccard truth vs the verified
    // banding pipeline — band-miss + cap loss as one declared number.
    "q_recall_audit_minhash" -> ((s, dir) =>
      DedupOps.minhashRecallAudit(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // SimHash sketches + identical-sketch grouping.
    "q_dedup_simhash" -> ((s, dir) =>
      DedupOps.simhash(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // Hamming-ball SimHash: banded bit-slice LSH + popcount verify — finds
    // the near-copies (sketch distance 1..3) identical-sketch grouping
    // misses; full recall within the ball by pigeonhole (maxDist < bands).
    "q_dedup_simhash_ball" -> ((s, dir) =>
      DedupOps.simhashBallPairs(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // The ball's VERIFY stage: candidates rescored with exact 3-shingle
    // Jaccard, keep >= 0.8 — the r17 audit priced the raw ball at ~7.5x
    // truth volume; this is the leg production acts on.
    "q_dedup_simhash_verified" -> ((s, dir) =>
      DedupOps.simhashVerifiedNearDups(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // The SimHash leg of the text recall-audit family: the Hamming-ball
    // pairing scored against the SAME anchor-sample exact-Jaccard truth
    // as q_recall_audit_minhash — the two text sketches become directly
    // comparable declared numbers on one corpus.
    "q_recall_audit_simhash" -> ((s, dir) =>
      DedupOps.simhashRecallAudit(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // Exact 3-shingle Jaccard via inverted index (the verify step), with the
    // stop-shingle cutoff ENABLED (postings in > 64 docs dropped — the
    // boilerplate-shingle skew guard; mirrored in the oracle's zc CTE).
    "q_dedup_jaccard" -> ((s, dir) =>
      DedupOps.jaccardPairs(DedupOps.plantedCorpus(t(s, dir, "documents")),
        maxDocFreq = DedupOps.DefaultMaxBucket)),
    // Duplicate-SPAN pairs: docs sharing >= 2 winnowing fingerprints —
    // copied paragraphs inside otherwise-dissimilar documents.
    "q_dedup_spans" -> ((s, dir) =>
      DedupOps.dupSpanPairs(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // EXACT-substring spans: maximal verbatim repeated runs >= 20 tokens
    // with exact boundaries — the span you cut, vs q_dedup_spans' sampled
    // "share >= 2 fingerprints" signal. Finds each planted 60-token splice.
    // The edit pass over the span table: strike every repeated span's
    // non-canonical (higher-id) occurrences from the token stream and
    // md5 the surviving text — the step that actually rewrites the corpus.
    "q_dedup_strike" -> ((s, dir) =>
      DedupOps.substringStrike(DedupOps.plantedSpliceCorpus(t(s, dir, "documents")))),
    "q_dedup_substring" -> ((s, dir) =>
      DedupOps.exactSubstringSpans(DedupOps.plantedSpliceCorpus(t(s, dir, "documents")))),
    // Asymmetric n-gram CONTAINMENT: the quote/excerpt detector — a planted
    // 40%-prefix quote is ~fully contained in its parent at whole-doc
    // Jaccard ~0.4, so q_dedup_jaccard's threshold keeps both and the
    // excerpt trains twice; this query flags it (same postings core + cap).
    "q_dedup_contain" -> ((s, dir) =>
      DedupOps.containmentPairs(DedupOps.plantedQuoteCorpus(t(s, dir, "documents")),
        maxDocFreq = DedupOps.DefaultMaxBucket)),
    // --- Cap/recall telemetry ("no silent caps"): one standard audit
    // query per capped pairing family, reporting what the hot-bucket cap
    // drops on the SAME corpus its parent query pairs — n_dropped buckets,
    // entries and candidate pairs forgone, hottest bucket. The phash x100
    // collapse proved a cap can hide a total recall cliff behind a great
    // wall time; these make the trade a queryable number.
    "q_cap_audit_minhash" -> ((s, dir) =>
      DedupOps.minhashCapAudit(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    "q_cap_audit_jaccard" -> ((s, dir) =>
      DedupOps.jaccardCapAudit(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    "q_cap_audit_substring" -> ((s, dir) =>
      DedupOps.substringCapAudit(DedupOps.plantedSpliceCorpus(t(s, dir, "documents")))),
    "q_cap_audit_phash" -> ((s, dir) => {
      val m = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(t(s, dir, "documents")))
      MultimodalOps.phashCapAuditAuto(m)
    }),
    "q_cap_audit_neardup" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.nearDupCapAudit(planted, bits = SimOps.autoSignBits(planted))
    }),
    // The RECALL side of the near-dup audit pair: exact ground truth on a
    // ~64-anchor hash sample (O(anchors*reps), anchor side broadcast)
    // vs the declared bucket pairing — bucket-miss AND cap loss in one
    // oracle-verified number, at the derived bits.
    "q_recall_audit_neardup" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.nearDupRecallAudit(planted, bits = SimOps.autoSignBits(planted))
    }),
    // The cells leg of the recall-audit family: q_embed_neardup_cells_p2's
    // exact pairing scored against the SAME anchor-sample truth as the
    // sign-LSH audit — the oracle-verified form of the SKEW recall grid's
    // cells rows, making the sign-LSH -> cell-geometry handoff a declared
    // number on the same corpus.
    "q_recall_audit_cells" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellRecallAudit(planted,
        centroidPred = SimOps.hashCentroidPred(64), probes = 2)
    }),
    // The hier leg of the same audit: q_embed_neardup_cells_hier_p2's
    // pairing scored on the IDENTICAL anchor truth — flat-p2 vs hier-p2
    // recall becomes a declared, oracle-verified comparison on one corpus.
    "q_recall_audit_cells_hier" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellRecallAudit(planted,
        centroidPred = SimOps.hashCentroidPred(64), probes = 2, hier = true)
    }),
    // The semantic-dedup leg of the recall-audit family — the last
    // declared approximation without a recall row: q_semdedup's
    // cell-bounded ≥0.99 pairing scored against anchor-sample exact truth
    // at the same threshold, flat and hier quantizers side by side in one
    // oracle-verified result (cross-cell misses + cap loss per quantizer).
    "q_recall_audit_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the plant plus a doubled copy of every 10th vector (a distinct array
      // at cosine 1, ids offset past the plant): exact-dedup-first keeps
      // each copy as its own rep, so the 0.99 audit has pairs to find
      val doubled = emb.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 2 * DedupOps.plantStep(emb, "vec_id")).as("vec_id"),
          transform(col("embedding"), x => x * 2).as("embedding"), col("label"))
      val planted = SimOps.plantedVectors(emb).unionByName(doubled)
      val pred = SimOps.sqrtCentroidPred(planted)
      SimOps.semDedupRecallAudit(planted, centroidPred = pred)
        .withColumn("quantizer", lit("flat"))
        .unionByName(
          SimOps.semDedupRecallAudit(planted, centroidPred = pred, hier = true)
            .withColumn("quantizer", lit("hier")))
        .select("quantizer", "n_anchors", "n_truth", "n_found", "recall_bp")
        .orderBy("quantizer")
    }),
    // Cross-SOURCE contamination matrix: exact 3-shingle Jaccard between
    // every source pair via source-bounded postings — the rollup a mixture
    // designer reads before setting sampling weights.
    "q_source_overlap" -> ((s, dir) =>
      DedupOps.sourceOverlap(t(s, dir, "documents"))),
    // Blocked edit-distance entity resolution: prefix-block equi-join
    // bounds the pair space, codegen'd levenshtein on bounded titles,
    // best-match-per-record window on the join's own partitioning.
    "q_entity_match" -> ((s, dir) =>
      DedupOps.entityMatch(t(s, dir, "documents"))),
    // The production pipeline: LSH candidates → exact-Jaccard verify.
    "q_dedup_verified" -> ((s, dir) =>
      DedupOps.verifiedNearDups(DedupOps.plantedCorpus(t(s, dir, "documents")),
        maxBucket = DedupOps.DefaultMaxBucket)),
    // Sketch-error audit: the MinHash agreement estimate vs the exact
    // shingle Jaccard per candidate pair — decides whether numHashes
    // suffices before a full run trusts the sketch.
    "q_dedup_minhash_err" -> ((s, dir) =>
      DedupOps.minhashErrorAudit(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // Connected components over the verified pairs: the final dedup step
    // (cluster id = min reachable doc id; keep one doc per cluster).
    "q_dedup_clusters" -> ((s, dir) =>
      DedupOps.dedupClusters(
        DedupOps.verifiedNearDups(DedupOps.plantedCorpus(t(s, dir, "documents"))))),
    // The RETENTION policy after clustering — the step an actual dedup
    // pipeline runs last: per near-dup cluster, keep the highest-quality
    // member (ties -> lowest doc id). Clusters come from the full
    // LSH -> verify -> connected-components chain; quality is the declared
    // q_quality scorer over the same planted corpus. One window pass per
    // cluster (count + row_number share the cluster_id partitioning, one
    // shuffle); state is O(clustered docs), never the corpus — unclustered
    // docs are implicitly kept and never enter the shuffle.
    "q_dedup_keep_best" -> ((s, dir) => {
      val corpus = DedupOps.plantedCorpus(t(s, dir, "documents"))
      val clusters = DedupOps.dedupClusters(
        DedupOps.verifiedNearDups(corpus, maxBucket = DedupOps.DefaultMaxBucket))
      val qual = TextOps.qualityScore(corpus).select(col("doc_id"), col("quality_bp"))
      DedupOps.keepBest(clusters, qual)
    }),
    // Takedown / right-to-be-forgotten propagation: tombstoned docs leave
    // the pair graph and clusters are RE-DERIVED over surviving pairs
    // (a removed bridge doc can split its cluster — re-electing min(ids)
    // per old cluster would be wrong). Surviving members of affected
    // clusters report old/new labels + rep_changed/now_singleton flags.
    "q_dedup_forget" -> ((s, dir) => {
      val corpus = DedupOps.plantedCorpus(t(s, dir, "documents"))
      DedupOps.dedupForget(
        DedupOps.verifiedNearDups(corpus).select(col("id_a"), col("id_b")),
        corpus.filter(col("doc_id") % 13 === 3).select(col("doc_id")))
    }),
    // Incremental ingestion dedup: new batch (src0 + planted re-ingests of
    // existing docs) anti-joined against the existing corpus fingerprints.
    // The operators composed as a real curation pipeline: quality gate ->
    // exact dedup (keep representatives) -> per-language corpus stats.
    // Each stage is one of the declared operators; this query pins that
    // they compose (the library's actual usage mode).
    "q_curate_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val good = TextOps.qualityScore(docs)
        .filter(col("quality_bp") >= 4200).select(col("doc_id"))
      val kept = docs.join(good, Seq("doc_id"), "leftsemi")
      val reps = DedupOps.exactDedup(kept).select(col("keep_id").as("doc_id"))
      kept.join(reps, Seq("doc_id"), "leftsemi")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .orderBy(col("lang"))
    }),
    // The MULTIMODAL curation capstone — what a real 100 TB curation run
    // executes: the three dedup modalities composed into ONE joint keep
    // set with per-modality drop attribution over the same id universe
    // (doc_id = media_id = vec_id, 1:1 by fixture construction).
    //  - text: exact dedup over an IN-UNIVERSE quote plant (docs = 7 mod
    //    10 carry the text of doc_id - 7 — planted WITHIN the id range so
    //    all three modality keys stay aligned);
    //  - media: the q_media_phash chain closed into clusters (groups of 4
    //    consecutive ids share a planted base image);
    //  - embeddings: cell-geometry near-dup pairs over the RAW embedding
    //    table closed into clusters (natural cos >= 0.40 neighbors).
    // A doc survives iff NO modality drops it; each modality drops
    // non-representative cluster members (rep = min id, every leg's rule).
    "q_curate_multimodal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val base = docs.select(col("doc_id"), col("text"))
      val tq = base.as("d")
        .join(base.as("b"), col("d.doc_id") - 7 === col("b.doc_id"), "left")
        .select(col("d.doc_id").as("doc_id"),
          when(col("d.doc_id") % 10 === 7 && col("b.doc_id").isNotNull, col("b.text"))
            .otherwise(col("d.text")).as("text"))
      val tKeep = DedupOps.exactDedup(tq)
        .select(col("keep_id").as("doc_id"), lit(1L).as("tk"))
      val m = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(docs))
      // r20 (guide §2.6): the media and embedding cluster closures are
      // independent eager CC ladders — overlap them on two driver threads
      // (same frames, same checkpoints; only wall-clock overlap changes)
      val (mc, ec) = graft.Par.two(
        () => DedupOps.dedupClusters(
          MultimodalOps.phashPairsAuto(m)
            .select(col("id_a"), col("id_b")))
          .select(col("doc_id"), col("cluster_id").as("m_cl")),
        () => DedupOps.dedupClusters(
          SimOps.cellNearDupPairs(t(s, dir, "embeddings"),
            centroidPred = SimOps.hashCentroidPred(64))
            .select(col("id_a"), col("id_b")))
          .select(col("doc_id"), col("cluster_id").as("e_cl")))
      docs.select(col("doc_id"))
        .join(tKeep, Seq("doc_id"), "left")
        .join(mc, Seq("doc_id"), "left")
        .join(ec, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("tk").isNull, 1L).otherwise(0L).as("drop_text"),
          when(col("m_cl").isNotNull && col("m_cl") =!= col("doc_id"), 1L)
            .otherwise(0L).as("drop_media"),
          when(col("e_cl").isNotNull && col("e_cl") =!= col("doc_id"), 1L)
            .otherwise(0L).as("drop_embed"))
        .withColumn("kept",
          when(col("drop_text") + col("drop_media") + col("drop_embed") === 0, 1L)
            .otherwise(0L))
        .orderBy(col("doc_id"))
    }),
    // Benchmark decontamination: training docs sharing any word 3-gram
    // with the simulated eval set (every 97th doc), by gram-hash semi-join.
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.contaminated(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0))
    }),
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val step = DedupOps.plantStep(docs, "doc_id")
      val batch = docs.filter(col("source") === "src0").select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("source") === "src1" && col("doc_id") % 5 === 0)
          .select((col("doc_id") + 3 * step).as("doc_id"), col("text")))
      val existing = docs.filter(col("source") =!= "src0").select(col("doc_id"), col("text"))
      DedupOps.incrementalNew(batch, existing)
    }),

    // --- Similarity search over `embeddings` (north star; SimOps) -------

    // Brute-force cosine top-10 for 5 fixed query vectors (broadcast) —
    // the exact baseline every ANN variant is measured against.
    "q_sim_topk" -> ((s, dir) =>
      SimOps.bruteTopK(t(s, dir, "embeddings"), col("vec_id") < 5)),
    // Matryoshka truncated-dimension retrieval recall: top-10 by cosine
    // over only the first p dims vs the full-dimension truth, swept over
    // p — the quality/cost curve for prefix-retrieval serving (p-of-64
    // prefix = 64/p cheaper first pass before full re-rank). The corpus
    // goes through mrlWeighted (2^-(pos div 8) per-dim scaling, exact in
    // IEEE double) — the deterministic stand-in for an MRL-TRAINED
    // encoder, so the sweep reads a real curve strictly above the
    // random-direction ~p/d floor the flat fixture pins it to.
    "q_mrl_recall" -> ((s, dir) =>
      SimOps.mrlRecallSweep(
        SimOps.mrlWeighted(t(s, dir, "embeddings")), col("vec_id") < 5)),
    // SQ8 retrieval recall: top-10 over the decoded int8 codes vs
    // full-precision truth — the quality number behind q_embed_quant's
    // 4x compression (its err_bp rows are the reconstruction side).
    "q_sq_recall" -> ((s, dir) =>
      SimOps.sqRecall(t(s, dir, "embeddings"), col("vec_id") < 5)),
    // Binary (1-bit sign) quantization retrieval recall, all three
    // serving modes: symmetric Hamming top-10 over the 32x-compressed
    // codes, asymmetric distance (float query vs the ±1 decode — FAISS
    // ADC), and the production two-stage (Hamming top-40 candidates
    // re-ranked by exact float cosine — the BQ + rescore pipeline).
    "q_bq_recall" -> ((s, dir) =>
      SimOps.bqRecall(t(s, dir, "embeddings"), col("vec_id") < 5)),
    // Recall-per-table curve of the multi-table sign-LSH search — the
    // knob an LSH deployment tunes (each table ORs in another
    // sign-slice's buckets); monotone by the candidate-superset theorem.
    "q_lsh_recall" -> ((s, dir) =>
      SimOps.lshRecallSweep(t(s, dir, "embeddings"), col("vec_id") < 5)),
    // Sign-bucket LSH variant: equi-join on the bucket key, the 100 TB path.
    "q_sim_lsh" -> ((s, dir) =>
      SimOps.lshTopK(t(s, dir, "embeddings"), col("vec_id") < 5)),
    // IVF variant: sampled-centroid coarse quantizer, queries probe their
    // 4 nearest cells — the other standard ANN scale path.
    "q_sim_ivf" -> ((s, dir) =>
      SimOps.ivfTopK(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115))),
    // IVF search with the CORPUS assignment through the two-level
    // quantizer — the side that hits the flat broadcast limit; query
    // probe ranking stays exact over the 5 filtered queries.
    "q_sim_ivf_hier" -> ((s, dir) =>
      SimOps.ivfTopK(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115),
        hier = true)),
    // TRAINED-index recall audit: the same fixture seeds Lloyd-refined
    // through exact vs two-level (hier) assignment, both probed with the
    // identical exact flat probe — the recall delta prices the megacell
    // TRAINING approximation alone, oracle-verified (SKEW_scale.txt,
    // round 18, "megacell TRAINING quality + convergence" has this audit
    // at √N-seed scale + c2s-hier).
    "q_recall_audit_ivf_trained" -> ((s, dir) =>
      SimOps.ivfTrainedRecallAudit(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115))),
    // Per-class embedding prototypes: (label, dim) integer-exact mean
    // components via the bp-quantize-then-average rule — the
    // class-centroid audit of embedding quality.
    "q_embed_prototypes" -> ((s, dir) =>
      SimOps.classPrototypes(t(s, dir, "embeddings"))),
    // Embedding drift monitor: both snapshot halves (vec_id parity) are
    // assigned to the same fixed IVF cells; per-cell occupancy shares in
    // bp and their delta are the new-crawl alert surface.
    "q_embed_drift" -> ((s, dir) =>
      SimOps.cellDrift(t(s, dir, "embeddings"),
        oldPred = pmod(col("vec_id"), lit(2)) === 0,
        centroidPred = col("vec_id").between(100, 115))),
    // IVF with the sampled centroids Lloyd-refined first (one integer-exact
    // assign+average round) — the production coarse quantizer.
    "q_sim_ivf_kmeans" -> ((s, dir) =>
      SimOps.ivfKmeansTopK(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115))),
    // Recall@10 of IVF vs exact brute force swept over nProbe 1/2/4 —
    // the quality/cost tuning curve of the ANN index, integer-exact.
    "q_sim_recall" -> ((s, dir) =>
      SimOps.ivfRecallSweep(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115))),
    // Recall@10 of hier IVF SEARCH vs brute force swept over superProbes
    // 1/2 at nProbe 4 — the two-level quantizer's own quality/cost curve
    // (the supercell-boundary price a serving deployment tunes).
    "q_recall_audit_ivf_hier" -> ((s, dir) =>
      SimOps.ivfRecallSweepHier(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115))),
    // Per-vector dimension + L2 norm — the corpus shape check.
    "q_embed_norms" -> ((s, dir) =>
      SimOps.norms(t(s, dir, "embeddings"))),
    // Int8 scalar quantization: per-dim trained bounds, exact code
    // fingerprint + L1 reconstruction error per vector.
    "q_embed_quant" -> ((s, dir) =>
      SimOps.scalarQuantize(t(s, dir, "embeddings"))),
    // Product quantization: 4 subspaces x 8-entry codebooks (sampled from
    // vec_id < 8), packed 12-bit code word + bp-summed L2^2 error.
    "q_embed_pq" -> ((s, dir) =>
      SimOps.productQuantize(t(s, dir, "embeddings"), col("vec_id") < 8)),
    // PQ with Lloyd-refined codebooks (one integer-exact assign+average
    // round per subspace) — reconstruction error can only improve on
    // average vs the sampled books (SimOpsSpec pins the total).
    "q_embed_pq_refined" -> ((s, dir) =>
      SimOps.productQuantizeWith(t(s, dir, "embeddings"),
        SimOps.refinePqCodebooks(t(s, dir, "embeddings"), col("vec_id") < 8))),
    // OPQ-permutation PQ: dims variance-ranked and snake-allocated so each
    // subspace gets an equal share of the signal, then the same 4x8 chain.
    "q_embed_pq_opq" -> ((s, dir) =>
      SimOps.opqQuantize(t(s, dir, "embeddings"), col("vec_id") < 8)),
    // Residual PQ — the IVF-PQ encoding trick in isolation: quantize
    // v - coarse_centroid(v) at the same code budget. Beats raw PQ when
    // the coarse cells explain variance (SimOpsSpec pins it on planted
    // clusters; on this near-random fixture the error honestly rises).
    "q_embed_pq_residual" -> ((s, dir) =>
      SimOps.residualQuantize(t(s, dir, "embeddings"),
        centroidPred = col("vec_id").between(100, 115),
        codebookPred = col("vec_id") < 8)),
    // IVF-PQ: coarse cells route queries, PQ codes + per-query ADC tables
    // score candidates approximately, a 32-deep shortlist reranks exactly.
    "q_sim_ivfpq" -> ((s, dir) =>
      SimOps.ivfPqTopK(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115),
        codebookPred = col("vec_id") < 8)),
    // The full production composition: BOTH quantizers trained — coarse
    // cells AND PQ books each get one integer-exact Lloyd round.
    "q_sim_ivfpq_kmeans" -> ((s, dir) =>
      SimOps.ivfPqTopK(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115),
        codebookPred = col("vec_id") < 8,
        coarseIters = 1)),
    // End-to-end recall audit of the production composition itself:
    // recall@10 of ivfPqTopK (the declared operator, not a re-derivation)
    // vs brute truth, swept over the shortlist depth at nProbe=4 — the
    // quality/cost knob that prices the ADC approximation.
    "q_recall_audit_ivfpq" -> ((s, dir) =>
      SimOps.ivfPqRecallSweep(t(s, dir, "embeddings"),
        queryPred = col("vec_id") < 5,
        centroidPred = col("vec_id").between(100, 115),
        codebookPred = col("vec_id") < 8)),
    // k-NN majority-label prediction over the brute-force neighbors.
    "q_embed_knn" -> ((s, dir) =>
      SimOps.knnLabel(t(s, dir, "embeddings"), col("vec_id") < 5)),
    // Corpus-wide kNN graph: every vector's top-3 neighbors within its IVF
    // home cell — cell-partitioned self-join, exchange reused (no diamond).
    // Centroids are √N-SIZED (the faiss nlist ∝ √N rule, hash-sampled so
    // the oracle reproduces it): the declared shape IS the scale-safe one
    // — a fixed cell set at x100 data was a measured ~10,000x pair blowup,
    // and constant occupancy leaves assignment quadratic (SKEW_scale.txt,
    // round 12, "knnGraph OCCUPANCY-PRESERVING nlist").
    "q_knn_graph" -> ((s, dir) =>
      SimOps.knnGraph(t(s, dir, "embeddings"),
        centroidPred = SimOps.sqrtCentroidPred(t(s, dir, "embeddings")))),
    // Hard-negative mining over the PLANTED corpus (real duplicates to
    // exclude): the kNN graph's candidate stage band-filtered to
    // cos_bp < 9900 before ranking — similar-but-not-duplicate neighbors,
    // the contrastive-training data op (a duplicate labeled "negative"
    // poisons the loss; the exclusion rule is semDedup's own threshold).
    "q_hard_negatives" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.hardNegatives(planted, SimOps.sqrtCentroidPred(planted))
    }),
    // The TEXT member of the mining pair: per anchor doc, top-k most
    // LEXICALLY similar docs below the exact-Jaccard near-dup threshold —
    // retrieval training mines text negatives from lexical search; the
    // candidates and scores are the recall audits' anchor-postings truth
    // chain, band-filtered at q_dedup_verified's own >= 8000 bp verify
    // rule (what dedup collapses, mining never emits). Planted corpus so
    // real near-dups exist to exclude.
    "q_hard_negatives_text" -> ((s, dir) =>
      DedupOps.hardNegativesText(DedupOps.plantedCorpus(t(s, dir, "documents")))),
    // The kNN graph through the TWO-LEVEL coarse quantizer
    // (cellArgmaxHier): ~2·√nlist similarity evaluations per vector and
    // no broadcast array past √nlist entries — the shape that carries
    // IVF assignment beyond the flat fold's ~1M-centroid limit, declared
    // and oracle-mirrored (supercell selection, centroid->supercell
    // argmax, block-restricted assignment all replayed in SQL).
    "q_knn_graph_hier" -> ((s, dir) =>
      SimOps.knnGraphHier(t(s, dir, "embeddings"),
        centroidPred = SimOps.sqrtCentroidPred(t(s, dir, "embeddings")))),
    // The hier quantizer's RECALL KNOB as a declared shape: top-2
    // supercells per vector (fixture agreement with flat argmax 0.49 at
    // superProbes=1 -> 0.656 at 2, SKEW r13), block fan-out linear in
    // superProbes, no broadcast ever exceeding √nlist entries.
    "q_knn_graph_hier2" -> ((s, dir) =>
      SimOps.knnGraphHier(t(s, dir, "embeddings"),
        centroidPred = SimOps.sqrtCentroidPred(t(s, dir, "embeddings")),
        superProbes = 2)),
    // The CELL-boundary recall knob under the two-level quantizer
    // (cellArgTopPHier, the r15 lever): each source vector probes its 2
    // best in-block cells, candidates stay home — knnGraph's probes=2
    // carried past the flat broadcast limit.
    "q_knn_graph_hier_p2" -> ((s, dir) =>
      SimOps.knnGraphHier(t(s, dir, "embeddings"),
        centroidPred = SimOps.sqrtCentroidPred(t(s, dir, "embeddings")),
        probes = 2)),
    // The recall knob as a declared shape: each SOURCE vector probes its 2
    // nearest cells (candidates stay in their home cell, so pairs cannot
    // duplicate) — boundary neighbors probes=1 misses are recovered at
    // linear fan-out. Top-2 assignment rides the same zero-row-explosion
    // sorted-insert fold as every probe count (cellArgTopP), never the
    // O(N·nlist) window.
    "q_knn_graph_probe2" -> ((s, dir) =>
      SimOps.knnGraph(t(s, dir, "embeddings"),
        centroidPred = SimOps.sqrtCentroidPred(t(s, dir, "embeddings")),
        probes = 2)),
    // Embedding-cosine near-dup pairs within LSH buckets, over a corpus
    // with planted duplicate vectors. The bucket width is CORPUS-DERIVED
    // (SimOps.autoSignBits: 2^bits ≥ ⌈distinct-reps / cap⌉, the nlist ∝ N
    // rule applied to the sign-LSH key space) — no hand-tuned key space.
    "q_embed_neardup" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.nearDupPairs(planted, bits = SimOps.autoSignBits(planted))
    }),
    // Takedown on the EMBEDDING modality — the third member of the
    // forget family (text q_dedup_forget, media q_media_forget):
    // dedupForget over the sign-LSH near-dup pair graph with vector
    // tombstones; affected semantic clusters re-derived over surviving
    // pairs, the same bridge-doc rule as the other modalities.
    "q_embed_forget" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      val pairs = SimOps.nearDupPairs(planted, bits = SimOps.autoSignBits(planted))
        .select(col("id_a"), col("id_b"))
      // tombstone the planted ORIGINALS (the raw-table % 100 rule the
      // plant copies from): every planted cluster loses its min-id rep,
      // so survivors re-elect — the takedown fixture with teeth
      val tomb = t(s, dir, "embeddings").filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("doc_id"))
      DedupOps.dedupForget(pairs, tomb)
        .withColumnRenamed("doc_id", "vec_id")
    }),
    // SemDeDup: semantic dedup within IVF cells over a planted corpus —
    // cell-bounded pairing, exact copies always caught (same cell as
    // their original), survivors emitted with their cell. Centroids are
    // √N-sized (hash-sampled, the faiss nlist ∝ √N rule) — the same
    // cell-quadratic scale discipline as q_knn_graph.
    "q_semdedup" -> ((s, dir) =>
      SimOps.semDedup(SimOps.plantedVectors(t(s, dir, "embeddings")),
        centroidPred = SimOps.sqrtCentroidPred(
          SimOps.plantedVectors(t(s, dir, "embeddings"))))),
    // SemDeDup through the two-level quantizer — the flagship semantic
    // dedup's assignment carried past the flat fold's ~1M-centroid
    // broadcast limit (the same swap the cells pairing family made);
    // drop rule, cap, and survivor set construction unchanged.
    "q_semdedup_hier" -> ((s, dir) =>
      SimOps.semDedup(SimOps.plantedVectors(t(s, dir, "embeddings")),
        centroidPred = SimOps.sqrtCentroidPred(
          SimOps.plantedVectors(t(s, dir, "embeddings"))),
        hier = true)),
    // Composed embedding-curation pipeline: planted corpus → near-dup
    // pairs → drop the larger id of each pair → per-label scorecard.
    // The embedding twin of q_curate_pipeline's text chain.
    // OR-amplified multi-table near-dup pairs, FULLY CORPUS-DERIVED:
    // bits from autoSignBits (per-table caps stay idle), tables =
    // floor(dims / bits) (every embedding dimension hashes exactly once)
    // — recovers the boundary recall a single corpus-sized table trades
    // away (measured: 75% vs 5.4% of anchor-sample truth at sf0.1,
    // ~tables x amplification at every decade; SKEW_scale.txt, round 13,
    // "near-dup RECALL audit + OR-amplified remedy").
    "q_embed_neardup_multi" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      val bits = SimOps.autoSignBits(planted)
      val dim = SimOps.embDim(planted)
      SimOps.nearDupPairsMulti(planted, bits = bits,
        tables = math.max(1, dim / bits))
    }),
    // Embedding near-dup CLUSTERS: the pair stream closed into connected
    // components (large-star/small-star, the q_media_clusters machinery)
    // — completes the pairs -> clusters symmetry across modalities; min
    // id per component is the canonical representative.
    "q_embed_clusters" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      DedupOps.dedupClusters(
        SimOps.nearDupPairs(planted, bits = SimOps.autoSignBits(planted))
          .select(col("id_a"), col("id_b")))
        .withColumnRenamed("doc_id", "vec_id")
    }),
    // SemDeDup-style canonical selection inside those clusters: keep the
    // member most similar to the cluster's bp-mean vector (typicality
    // argmax — the selection rule when no text-quality signal exists).
    // Completes pairs → clusters → KEEP for the embedding modality, the
    // symmetry q_dedup_keep_best already gives text clusters.
    "q_embed_keep_best" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      val clusters = DedupOps.dedupClusters(
        SimOps.nearDupPairs(planted, bits = SimOps.autoSignBits(planted))
          .select(col("id_a"), col("id_b")))
        .withColumnRenamed("doc_id", "vec_id")
      SimOps.clusterKeepBest(planted, clusters)
    }),
    // Loose-threshold near-dup pairs through IVF CELL GEOMETRY — the
    // declared handoff the recall audits price: sign-LSH structurally
    // cannot serve cos >= 0.40 at scale (r13: 1.8% of anchor truth found
    // at x100 even OR-amplified), nearest-centroid co-location can.
    // Occupancy-preserving centroids (hash-sampled, nlist = N/64) keep
    // cell granularity constant as the corpus grows and the 256-cap idle
    // in expectation; pairing is knnGraph's cell-partitioned self-join
    // at a threshold instead of top-k.
    "q_embed_neardup_cells" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellNearDupPairs(planted, centroidPred = SimOps.hashCentroidPred(64))
    }),
    // The same cell pairing through the TWO-LEVEL quantizer
    // (cellArgmaxHier) — the assignment that survives past the flat
    // fold's ~1M-centroid broadcast limit, oracle-verified end to end:
    // the DuckDB mirror replays supercenter striding, centroid→supercell
    // argmax, block-restricted best cell, then the identical cap/pair/
    // re-attach chain. Recall price per growth mode is a measured number
    // (SKEW r14: cheap on clustered corpora, ~2x on structure-free).
    "q_embed_neardup_cells_hier" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), hier = true)
    }),
    // The flat cell pairing's BOUNDARY-RECALL knob: each source rep also
    // probes its 2nd-nearest cell (cellArgTopP — the knnGraph nProbe idea
    // at a threshold), candidates stay home, fan-out linear, unordered
    // pairs collapse. Recovers threshold pairs straddling a cell border.
    "q_embed_neardup_cells_p2" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), probes = 2)
    }),
    // The probes lever ON the two-level quantizer (cellArgTopPHier):
    // the boundary-recall knob carried past the flat fold's ~1M-centroid
    // broadcast limit — each rep keeps its 2 best cells across its home
    // supercell's block (block-restricted top-P fold, same linear
    // fan-out). The r14 gap this closes: hier's only knob was
    // superProbes, which recovered ~a sixth of what p2 buys (flat-p2 358
    // vs hier-sp2 94 on extent x100).
    "q_embed_neardup_cells_hier_p2" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), hier = true, probes = 2)
    }),
    // Both hier knobs composed (superProbes=2 x probes=2): sp2 fixes
    // SUPERCELL-assignment error, p2 fixes CELL-boundary loss — the r15
    // grid shows they are complementary and regime-split (extent x100:
    // 80 -> sp2 94 / p2 140 / both 205), so the composition is what a
    // structure-free corpus runs past the broadcast limit.
    "q_embed_neardup_cells_hier2_p2" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), hier = true,
        superProbes = 2, probes = 2)
    }),
    "q_embed_pipeline" -> ((s, dir) => {
      val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
      val dropIds = SimOps.nearDupPairs(planted, bits = SimOps.autoSignBits(planted))
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("dropped", lit(1L))
      planted
        .join(dropIds, Seq("vec_id"), "left")
        .groupBy(col("label"))
        .agg(
          count(lit(1)).as("n_total"),
          count(col("dropped")).as("n_dropped"),
          (count(lit(1)) - count(col("dropped"))).as("n_kept"))
        .orderBy(col("label"))
    }),

    // --- Multimodal binary columns (north star; MultimodalOps) ----------

    // Header sniff: length, fingerprint, magic bytes of opaque payloads.
    "q_media_meta" -> ((s, dir) =>
      MultimodalOps.mediaMeta(MultimodalOps.asMedia(t(s, dir, "documents")))),
    // Evenly-spaced frame/byte sampling from binary payloads.
    "q_media_frames" -> ((s, dir) =>
      MultimodalOps.frameSample(MultimodalOps.asMedia(t(s, dir, "documents")))),
    // Binary header parse: PNG-style planted dims read back out of the
    // payload bytes — the pre-decode resolution-filter step, codec-free.
    "q_media_dims" -> ((s, dir) =>
      MultimodalOps.mediaDims(
        MultimodalOps.plantDims(MultimodalOps.asMedia(t(s, dir, "documents"))))),
    // REAL compressed decode: RLE-encoded bitmap (GRFZ magic + big-endian
    // dims + (count,value) run pairs) planted into the payload; the typed
    // mapPartitions batch path runs an actual decompression loop — channel
    // means + compression metadata exist only in the decompressed stream.
    "q_media_features" -> ((s, dir) =>
      MultimodalOps.mediaFeatures(
        MultimodalOps.plantRle(MultimodalOps.asMedia(t(s, dir, "documents"))))),
    // REAL bitmap decode: magic + big-endian dims + raw RGB block planted
    // into the payload, per-channel means/extremes parsed back out of the
    // bytes in the typed mapPartitions batch path — nothing stubbed.
    "q_media_pixels" -> ((s, dir) =>
      MultimodalOps.mediaPixels(
        MultimodalOps.plantPixels(MultimodalOps.asMedia(t(s, dir, "documents"))))),
    // REAL nearest-neighbor resize of the planted bitmaps to 4x3: integer
    // index arithmetic over genuinely parsed pixel bytes, fingerprinted by
    // per-channel means + checksum of the resized matrix.
    "q_media_resize" -> ((s, dir) => {
      val m = MultimodalOps.plantPixels(MultimodalOps.asMedia(t(s, dir, "documents")))
      import s.implicits._
      MultimodalOps.resizePixels(m.as[operators.MediaRow], outW = 4, outH = 3)
    }),
    // Perceptual near-dup dedup over pixels: groups of 4 consecutive ids
    // share one planted base image, brightness-shifted per variant; the
    // average-hash is genuinely parsed out of the payload bytes at the
    // CORPUS-DERIVED grid (autoPhashGrid: probe-count the grid-8 hash
    // universe, re-hash at 16 when it outgrows 8·2^8 — the last fixed
    // key space closed), and Hamming-LSH banding (one byte-band bucket
    // join, hot buckets capped, popcount-of-XOR verify) pairs the
    // variants exact md5 dedup misses.
    "q_media_phash" -> ((s, dir) => {
      val m = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(t(s, dir, "documents")))
      MultimodalOps.phashPairsAuto(m)
    }),
    // The same pairing over the DENSE plant (the lowest 500 ids x8 before
    // the group derivation — baseCap pins the fixture at 4,000 media at
    // every SF, the r16 re-pricing: the uncapped expansion spent 8.5% of
    // the r15 bench re-decoding bitmaps for the same CASE arm): the
    // grid-8 probe universe crosses 8*2^8, so autoPhashGrid derives 16
    // and the 16x16 aHash + 16-band LSH path executes end to end, with
    // DuckDB deriving the same grid from the same probe count.
    "q_media_phash_dense" -> ((s, dir) => {
      val m = MultimodalOps.plantPhashCorpusDense(
        MultimodalOps.asMedia(t(s, dir, "documents")))
      MultimodalOps.phashPairsAuto(m)
    }),
    // Content-defined chunking storage dedup (rsync/FastCDC shape): cut
    // payloads at rolling-hash boundaries in a real per-byte executor
    // loop, then report chunk hashes held by >= 2 media items — the
    // byte-level, format-agnostic leg of the dedup family. Planted
    // verbatim/suffixed replicas share chunks without any alignment step.
    "q_media_cdc" -> ((s, dir) =>
      MultimodalOps.cdcDuplicateChunks(
        MultimodalOps.asMedia(DedupOps.plantedCorpus(t(s, dir, "documents"))))),
    // Media dedup end-to-end: phash pairs closed into connected
    // components (large-star/small-star, O(log n) rounds) — the media
    // mirror of the text pipeline's pairs -> clusters step; min id per
    // component is the canonical representative.
    "q_media_clusters" -> ((s, dir) => {
      val m = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(t(s, dir, "documents")))
      DedupOps.dedupClusters(
        MultimodalOps.phashPairsAuto(m)
          .select(col("id_a"), col("id_b")))
        .withColumnRenamed("doc_id", "media_id")
    }),
    // Takedown on the MEDIA modality: dedupForget is pair-set-generic —
    // the phash pair graph + media tombstones drive the same affected-
    // subgraph re-derivation as the text pass (a removed variant can be
    // the only bridge between two halves of its visual cluster; takedown
    // requests name images as often as text).
    "q_media_forget" -> ((s, dir) => {
      val m = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(t(s, dir, "documents")))
      val pairs = MultimodalOps.phashPairsAuto(m)
        .select(col("id_a"), col("id_b"))
      // r20: the pair-set materialization moved INSIDE dedupForget
      // (Checkpoints.cut — the recompute entry evaluates the pair set
      // twice, before-closure + surviving restriction), so the r19 Spill
      // round-trip here became a redundant second barrier and was
      // removed; the phash chain additionally materializes its sketch
      // once (phashPairsAuto), deleting the probe's duplicate decode.
      val tomb = m.filter(col("media_id") % 13 === 3)
        .select(col("media_id").as("doc_id"))
      DedupOps.dedupForget(pairs, tomb)
        .withColumnRenamed("doc_id", "media_id")
    }),
    // The COMPLIANCE CAPSTONE — the audit a takedown team actually files,
    // composing the forget family end-to-end the way q_curate_multimodal
    // composed curation: per modality, tombstones drive the affected-
    // subgraph cluster re-derivation (dedupForget over that modality's
    // declared pair graph), the re-election fallout joins the BPE-packed
    // training sequences (q_pack_bpe's packer), and the manifest prices
    // regeneration — which context windows must be rebuilt (they contain
    // a tombstoned doc OR a doc whose cluster representative changed,
    // i.e. whose dedup attribution is now stale) and at what cost in
    // post-tokenizer units. One row per modality:
    // (modality, n_tombstones, n_affected_survivors, n_rep_changed,
    //  n_now_singleton, n_seqs_rebuild, rebuild_tokens, tokens_lost).
    // Scale shape: every expensive intermediate (BPE counts, the packed
    // assignment, each modality's pair set) is Spill-materialized ONCE —
    // in production all four are STORED tables (dedupForgetWith's
    // rationale), so a takedown batch pays only the metadata joins plus
    // the affected-subgraph closures; the fixture rebuilds them inline
    // to stay self-contained. Single-row aggregates compose via
    // broadcast crossJoins (never a CartesianProduct).
    "q_forget_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = DedupOps.plantedCorpus(docs)
      val textTomb = corpus.filter(col("doc_id") % 13 === 3)
        .select(col("doc_id")).distinct()
      val m = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(docs))
      val mediaTomb = m.filter(col("media_id") % 13 === 3)
        .select(col("media_id").as("doc_id")).distinct()
      val embTomb = t(s, dir, "embeddings").filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("doc_id")).distinct()
      // r20 (guide §2.6 "overlap independent jobs"): the BPE sequence
      // build and the three modality forget chains are INDEPENDENT eager
      // sections — each a strictly sequential ladder of small jobs
      // (spill writes, CC closure rounds) that left most cores idle when
      // the driver ran them back to back. Four driver threads overlap
      // them; every section computes exactly the frames it computed
      // sequentially (r19 shape: three pair-table Spills were already
      // subsumed by dedupForget's internal Checkpoints.cut).
      val built = graft.Par.sections[org.apache.spark.sql.DataFrame](Seq(
        // the packed-sequence table in BPE units (budget 512), built once
        () => Spill.materialize(
          TextOps.packAssignments(
            Spill.materialize(TextOps.bpeEncode(docs)
              .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens")),
              "graft-audit-counts"),
            budget = 512),
          "graft-audit-assign"),
        () => DedupOps.dedupForget(
          DedupOps.verifiedNearDups(corpus).select(col("id_a"), col("id_b")),
          textTomb),
        () => DedupOps.dedupForget(
          MultimodalOps.phashPairsAuto(m).select(col("id_a"), col("id_b")),
          mediaTomb),
        () => {
          val planted = SimOps.plantedVectors(t(s, dir, "embeddings"))
          DedupOps.dedupForget(
            SimOps.nearDupPairs(planted, bits = SimOps.autoSignBits(planted))
              .select(col("id_a"), col("id_b")),
            embTomb)
        }))
      val Seq(seqs, textForget, mediaForget, embForget) = built
      val seqTotals = seqs.groupBy(col("seq_id"))
        .agg(sum(col("n_tokens")).as("seq_tokens"))
      def leg(name: String, f: org.apache.spark.sql.DataFrame,
          tomb: org.apache.spark.sql.DataFrame) = {
        val rebuild = tomb
          .unionByName(f.filter(col("rep_changed") === 1).select(col("doc_id")))
          .distinct()
        val affSeqs = seqs.join(rebuild, Seq("doc_id"), "leftsemi")
          .select(col("seq_id")).distinct()
        val rebuildAgg = seqTotals.join(affSeqs, Seq("seq_id"), "leftsemi")
          .agg(count(lit(1)).as("n_seqs_rebuild"),
            coalesce(sum(col("seq_tokens")), lit(0L)).as("rebuild_tokens"))
        val lost = seqs.join(tomb, Seq("doc_id"), "leftsemi")
          .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("tokens_lost"))
        val stats = f.agg(
          count(lit(1)).as("n_affected_survivors"),
          coalesce(sum(col("rep_changed")), lit(0L)).as("n_rep_changed"),
          coalesce(sum(col("now_singleton")), lit(0L)).as("n_now_singleton"))
        val ntomb = tomb.agg(count(lit(1)).as("n_tombstones"))
        stats.crossJoin(broadcast(ntomb))
          .crossJoin(broadcast(rebuildAgg))
          .crossJoin(broadcast(lost))
          .select(lit(name).as("modality"), col("n_tombstones"),
            col("n_affected_survivors"), col("n_rep_changed"),
            col("n_now_singleton"), col("n_seqs_rebuild"),
            col("rebuild_tokens"), col("tokens_lost"))
      }
      leg("embed", embForget, embTomb)
        .unionByName(leg("media", mediaForget, mediaTomb))
        .unionByName(leg("text", textForget, textTomb))
        .orderBy(col("modality"))
    }),

    // --- Time-series / events (north star; EventOps) --------------------

    "q_events_hourly" -> ((s, dir) =>
      EventOps.tumblingAgg(t(s, dir, "events"), "hour")),
    // Language-ID confusion matrix: langId's ladder crossed against the
    // ground-truth lang column, per-cell share of the actual row in bp
    // (diagonal = per-class recall) — one scan, |langs|^2 aggregate.
    "q_lang_confusion" -> ((s, dir) =>
      TextOps.langConfusion(t(s, dir, "documents"))),
    // Hour-of-day seasonal baseline: per (type, hour 0-23) counts, share
    // of the type's traffic, mean value, and deviation from the type
    // mean — all integer ratios of bp-exact sums, one event pass.
    "q_events_seasonal" -> ((s, dir) =>
      EventOps.seasonalProfile(t(s, dir, "events"))),
    // First-order Markov transitions between consecutive event types per
    // user (lag over the user timeline), row-share in bp — the
    // user-journey model behind funnel design.
    "q_events_markov" -> ((s, dir) =>
      EventOps.typeTransitions(t(s, dir, "events"))),
    // Gap-filled hourly grid: generated (type x hour) spine left-joined to
    // the aggregate — zeros where no event landed, raw table never rescanned.
    "q_events_gapfill" -> ((s, dir) =>
      EventOps.gapFillHourly(t(s, dir, "events"))),
    // Binary-decay EWMA over the dense hourly grid: integer-exact
    // (num, den) rational per cell, partial windows honest at grid edges.
    "q_events_ewma" -> ((s, dir) =>
      EventOps.ewmaHourly(t(s, dir, "events"))),
    // As-of join: each purchase matched to the user's latest prior click —
    // one shuffle + one window pass, never a range-condition nested loop.
    "q_asof_join" -> ((s, dir) =>
      AsofOps.lastEventBefore(t(s, dir, "events"), "purchase", "click")),
    // Range join: view -> purchase conversions within 1 hour, via
    // time-bucketed equi-join (RangeJoinOps) instead of an inequality NLJ.
    "q_range_join" -> ((s, dir) =>
      graft.operators.RangeJoinOps.withinWindowPairs(
        t(s, dir, "events"), "view", "purchase")),
    "q_events_sessions" -> ((s, dir) =>
      EventOps.sessionStats(t(s, dir, "events"), gapSeconds = 1800)),
    // The same rollup through Spark's native session_window operator;
    // boundary-equivalent to the lag form (shares its oracle SQL).
    "q_events_sessions_native" -> ((s, dir) =>
      EventOps.sessionStatsNative(t(s, dir, "events"), gapSeconds = 1800)),
    // Sliding windows: 1-hour windows every 30 minutes.
    "q_events_sliding" -> ((s, dir) =>
      EventOps.slidingAgg(t(s, dir, "events"), widthSec = 3600, slideSec = 1800)),
    // Analytic frames: per-user running totals (bp-exact), lag, gaps.
    "q_events_running" -> ((s, dir) =>
      EventOps.runningStats(t(s, dir, "events"))),
    // Exact per-group percentiles (sorted linear interpolation).
    "q_events_percentiles" -> ((s, dir) =>
      EventOps.percentiles(t(s, dir, "events"))),
    "q_events_json" -> ((s, dir) =>
      EventOps.jsonFieldStats(t(s, dir, "events"), "k")),
    // Ordered funnel view→click→purchase: per-user stage-completion times,
    // each stage's first event strictly after the previous stage's.
    "q_events_funnel" -> ((s, dir) =>
      EventOps.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))),
    // Cohort retention: users by first-active day, per-offset active
    // counts (offset 0 = cohort size).
    "q_events_retention" -> ((s, dir) =>
      EventOps.retentionCohorts(t(s, dir, "events"))),
    // Trailing-median/MAD anomaly flags over hourly event volumes — the
    // integer-exact robust outlier monitor (lower medians, long deviations).
    "q_events_anomaly" -> ((s, dir) =>
      EventOps.hourlyAnomalies(t(s, dir, "events"))),
    // CUSUM level-shift detection: the sustained-drift complement of the
    // MAD point-outlier test — one-sided cumulative sums over the hourly
    // grid, integer-exact in the xC scale, alarm at 2·mean drift.
    "q_events_cusum" -> ((s, dir) =>
      EventOps.cusumShifts(t(s, dir, "events"))),
    // Incremental view maintenance: the table split at a cutoff, each half
    // rolled to mergeable integer state, states merged — must equal the
    // oracle's from-scratch aggregation of the WHOLE table exactly.
    "q_ivm_agg" -> ((s, dir) => {
      val ev = EventOps.normalizeTs(t(s, dir, "events"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      EventOps.mergeRollupStates(
        EventOps.rollupState(ev.filter(col("ts") < cutoff)),
        EventOps.rollupState(ev.filter(col("ts") >= cutoff)))
    }),
    // DISTINCT-count IVM: count(distinct) is not mergeable on its own
    // output, so the state is the multiplicity-counted support set — split
    // at the same cutoff, states merged, view read off; must equal the
    // oracle's from-scratch COUNT(DISTINCT) over the whole table.
    "q_ivm_distinct" -> ((s, dir) => {
      val ev = EventOps.normalizeTs(t(s, dir, "events"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      EventOps.distinctView(EventOps.mergeDistinctStates(
        EventOps.distinctState(ev.filter(col("ts") < cutoff)),
        EventOps.distinctState(ev.filter(col("ts") >= cutoff))))
    }),
    // MIN/MAX IVM: the bounded extrema buffer — min/max under DELETES is
    // the textbook non-incrementalizable aggregate; the state keeps the k
    // smallest/largest distinct values with multiplicities. Base = events
    // before the cutoff; one delta inserts the rest and deletes every
    // event_id % 7 == 0 base row; must equal the oracle's from-scratch
    // min/max over the final multiset.
    "q_ivm_minmax" -> ((s, dir) => {
      val ev = EventOps.normalizeTs(t(s, dir, "events"))
      val cutoff = lit("2024-01-15").cast("timestamp")
      val base = ev.filter(col("ts") < cutoff)
      val delta = EventOps.extremaState(ev.filter(col("ts") >= cutoff))
        .unionByName(
          EventOps.extremaState(base.filter(col("event_id") % 7 === 0))
            .withColumn("mult", -col("mult")))
      EventOps.extremaView(
        EventOps.mergeExtremaStates(EventOps.extremaState(base), delta))
    }),
    // JOIN-view IVM: the orders-x-customer view is built on the OLD halves
    // only, then maintained by the three delta-join legs when the new
    // orders batch and the new customers batch land — must equal the
    // oracle's from-scratch join of the FULL tables (the IVM contract).
    "q_ivm_join" -> ((s, dir) => {
      import graft.operators.MergeOps
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          col("o_totalprice"), col("o_orderdate"))
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
      val cutoff = lit("1996-06-01").cast("timestamp")
      val (oOld, oNew) =
        (orders.filter(col("o_orderdate") < cutoff),
          orders.filter(col("o_orderdate") >= cutoff))
      val (cOld, cNew) =
        (cust.filter(pmod(col("c_custkey"), lit(10)) =!= 0),
          cust.filter(pmod(col("c_custkey"), lit(10)) === 0))
      val view = oOld.join(cOld, Seq("c_custkey"))
      MergeOps.maintainJoinView(view,
          MergeOps.deltaJoin(oOld, oNew, cOld, cNew, Seq("c_custkey")))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          col("o_totalprice").as("price"))
        .orderBy(col("o_orderkey"))
    }),
    // Equi-width histogram of lineitem prices: 1-row bounds broadcast +
    // one partial+final count per bucket (fixed-size mergeable summary).
    "q_histogram" -> ((s, dir) =>
      StatsOps.histogram(t(s, dir, "lineitem"), "l_extendedprice", 20)),
    // Market-basket association rules: in-array basket pairing (never a
    // corpus self-join), integer-exact confidence/lift, heap top-k.
    "q_basket_rules" -> ((s, dir) =>
      StatsOps.basketRules(t(s, dir, "lineitem"))),
    // Pearson correlation from mergeable integer sufficient statistics
    // (engine-native corr() floats can never hash-match across engines).
    "q_stats_corr" -> ((s, dir) =>
      StatsOps.corrByGroup(t(s, dir, "lineitem"), "l_returnflag",
        col("l_quantity"), col("l_extendedprice"))),
    // Welch two-sample t-test (view vs purchase values): exact integer
    // sufficient stats, shared finalize strings on both engines — the
    // A/B readout with NULL on degenerate inputs, never a wrong statistic.
    "q_stats_welch" -> ((s, dir) =>
      StatsOps.welchTTest(t(s, dir, "events"))),
    // Mann-Whitney U / AUC (view vs purchase): midrank-exact ranks in a
    // x2 integer scale computed on the VALUE HISTOGRAM — never a per-row
    // rank — the nonparametric A/B and ranking-quality readout.
    "q_stats_mannwhitney" -> ((s, dir) =>
      StatsOps.mannWhitney(t(s, dir, "events"))),
    // ANALYZE-style one-pass column profile: min/max/nulls/exact-distinct
    // per column via one Expand + one aggregation (the CBO-stats shape).
    "q_profile" -> ((s, dir) =>
      StatsOps.profile(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // Quantiles from the mergeable histogram state (rank sketch), with
    // the exact percentile beside the estimate to expose the error.
    "q_hist_quantiles" -> ((s, dir) =>
      StatsOps.histogramQuantiles(
        t(s, dir, "lineitem"), "l_extendedprice", 64, Seq(0.5, 0.95, 0.99))),
    // FULL OUTER join: per-customer order counts in 1996 vs 1997 — rows
    // survive from either side, the missing side coalesces to 0.
    "q_full_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val a = o.filter(year(col("o_orderdate")) === 1996)
        .groupBy(col("o_custkey").as("k1")).agg(count(lit(1)).as("n_1996"))
      val b = o.filter(year(col("o_orderdate")) === 1997)
        .groupBy(col("o_custkey").as("k2")).agg(count(lit(1)).as("n_1997"))
      a.join(b, col("k1") === col("k2"), "full")
        .select(
          coalesce(col("k1"), col("k2")).as("custkey"),
          coalesce(col("n_1996"), lit(0L)).as("n_1996"),
          coalesce(col("n_1997"), lit(0L)).as("n_1997"))
        .orderBy(col("custkey"))
    }),
    // HyperLogLog distinct-count sketch: per-type distinct event ids from
    // 256 explicit registers over the cross-engine md5 hash — fixed-size
    // state instead of shuffling every distinct key (SketchOps scaladoc).
    "q_hll_distinct" -> ((s, dir) =>
      SketchOps.hllDistinct(t(s, dir, "events"), "event_type", col("event_id"), "est_ids")),
    // KMV (k-minimum-values) sketch: distinct-INTERSECTION estimate per
    // source pair — the set operation HLL cannot answer — with the exact
    // intersection riding along as the audit column (SketchOps scaladoc).
    "q_kmv_intersect" -> ((s, dir) =>
      SketchOps.kmvSourceIntersect(t(s, dir, "documents"))),
    // Count-Min frequency sketch over corpus tokens: estimated vs exact
    // counts for a fixed probe set (est >= exact always — CMS guarantee).
    "q_cms_freq" -> ((s, dir) => {
      import s.implicits._
      val toks = t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
      val est = SketchOps.cmsEstimate(
        SketchOps.cmsTable(toks, col("token")), cmsProbes.toDF("token"))
      val exact = toks.filter(col("token").isin(cmsProbes: _*))
        .groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      est.join(exact, Seq("token"), "left")
        .select(col("token"), col("est_n"), coalesce(col("exact_n"), lit(0L)).as("exact_n"))
        .orderBy(col("token"))
    }),
    // Bloom-filter semi-join reduction: bits built from a selective dim
    // subset, probe keys tested against the broadcast bit table; per-
    // priority counts expose the false-positive residue (n_bloom >=
    // n_exact always; the gap is what the exact join retires).
    "q_bloom_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      val bits = SketchOps.bloomBits(cust, col("c_custkey"))
      val hits = SketchOps.bloomHitKeys(t(s, dir, "orders"), col("o_custkey"), bits)
      t(s, dir, "orders")
        .join(broadcast(hits.withColumn("bloom", lit(1L))),
          col("o_custkey") === col("key"), "left").drop("key")
        .join(broadcast(cust.select(col("c_custkey").as("ck"), lit(1L).as("exact"))),
          col("o_custkey") === col("ck"), "left").drop("ck")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          count(col("bloom")).as("n_bloom"),
          count(col("exact")).as("n_exact"))
        .orderBy(col("o_orderpriority"))
    }),
    // Z-order locality audit: Morton-interleaved (partkey, suppkey),
    // per-z-bucket row counts and (x, y) envelopes — the write-layout
    // that lets parquet stats prune scans on either column.
    "q_zorder" -> ((s, dir) =>
      graft.operators.LayoutOps.zorderStats(
        t(s, dir, "lineitem"), "l_partkey", "l_suppkey", nBuckets = 64)),
    // Small-files compaction plan: per-source byte estimate → target-sized
    // file counts + rows-per-file split (the OPTIMIZE planning step; pure
    // metadata aggregation, integer ceiling division throughout).
    "q_compact_plan" -> ((s, dir) =>
      graft.operators.LayoutOps.compactionPlan(
        t(s, dir, "documents"), "source", "n_chars", targetBytes = 16384L)),
    // Map-typed columns: JSON props parsed to map<string,string>, key-set
    // ops (sorted keys, cardinality) per event.
    "q_map_funcs" -> ((s, dir) =>
      t(s, dir, "events")
        .select(
          col("event_id"),
          from_json(col("props"), lit("map<string,string>")).as("m"))
        .select(
          col("event_id"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("keys_csv"),
          size(map_keys(col("m"))).cast("long").as("n_keys"))
        .orderBy(col("event_id"))),
  )

  /** Fixed probe tokens for the CMS query — frequent corpus tokens across
    * the count range, plus one guaranteed absent (the 0-estimate path).
    */
  private val cmsProbes =
    Seq("batch", "column", "filter", "hash", "join", "row", "scan", "the", "zzz_absent")

  /** DuckDB fragment computing exactly [[TextOps.tokens]] over `text`. */
  private val duckToks =
    "list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> length(t) > 0)"

  /** DuckDB mirror of [[graft.operators.TextOps.unigramLm]]: the EM loop
    * unrolled into one CTE block per round (costs from the previous
    * vocab, mask-enumerated Viterbi argmin, piece recount). `c16` is the
    * engine's sixteenth-bit fixed-point −log2 (floor-log2 via the binary
    * digit count + linear mantissa refinement) — integers end-to-end, so
    * the unrolled chain reproduces the driver loop exactly.
    */
  private def duckUnigramSql(
      rounds: Int, maxPieceLen: Int, seedVocab: Int, maxWordLen: Int): String = {
    def c16(x: String): String =
      s"(16 * (length(bin($x)) - 1) + " +
        s"($x * 16 // (1::BIGINT << (length(bin($x)) - 1)::INT)) - 16)"
    def roundCtes(r: Int, prev: String): String =
      s"n$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM $prev), " +
        s"cost$r AS (SELECT piece, ${c16(s"(SELECT n FROM n$r)")} - ${c16("cnt")} " +
        s"AS cost_s16 FROM $prev), " +
        s"sp$r AS (SELECT word, wf, mask, len(pieces) AS np, unnest(pieces) AS piece FROM seg), " +
        s"sc$r AS (SELECT s.word, s.wf, s.mask, s.np, count(*) AS nk, " +
        s"sum(c.cost_s16) AS total FROM sp$r s JOIN cost$r c ON s.piece = c.piece " +
        "GROUP BY 1, 2, 3, 4 HAVING count(*) = s.np), " +
        s"best$r AS (SELECT word, wf, mask FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY word ORDER BY total, np, mask) AS rn FROM sc$r) WHERE rn = 1), " +
        s"vocab$r AS (SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt FROM " +
        s"(SELECT s.wf, unnest(s.pieces) AS piece FROM best$r b " +
        s"JOIN seg s ON b.word = s.word AND b.mask = s.mask) GROUP BY piece)"
    val chain = (1 to rounds)
      .map(r => roundCtes(r, if (r == 1) "vocab0" else s"vocab${r - 1}"))
      .mkString(", ")
    "WITH words AS (SELECT t AS word, CAST(count(*) AS BIGINT) AS wf FROM " +
      s"(SELECT unnest($duckToks) AS t FROM documents) " +
      s"WHERE length(t) <= $maxWordLen GROUP BY 1), " +
      "cand AS (SELECT piece, CAST(sum(wf) AS BIGINT) AS cnt FROM (SELECT wf, unnest(" +
      "flatten(list_transform(range(1, length(word) + 1), " +
      s"s -> list_transform(range(1, least($maxPieceLen, length(word) - s + 1) + 1), " +
      "l -> substring(word, s::INT, l::INT))))) AS piece FROM words) GROUP BY piece), " +
      "vocab0 AS (SELECT piece, cnt FROM (SELECT piece, cnt, row_number() OVER " +
      s"(ORDER BY cnt DESC, piece) AS rn FROM cand) WHERE rn <= $seedVocab OR length(piece) = 1), " +
      "seg AS (SELECT word, wf, mask, list_transform(range(1, len(bounds)), " +
      "j -> substring(word, (bounds[j] + 1)::INT, (bounds[j+1] - bounds[j])::INT)) AS pieces FROM " +
      "(SELECT word, wf, mask, [0] || cuts || [length(word)] AS bounds FROM " +
      "(SELECT word, wf, mask, list_filter(range(1, length(word)), " +
      "i -> ((mask >> (i - 1)::INT) & 1) = 1) AS cuts FROM " +
      "(SELECT word, wf, unnest(range(0, 1 << (length(word) - 1)::INT)) AS mask FROM words)))), " +
      chain + ", " +
      s"nf AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM vocab$rounds) " +
      s"SELECT piece, cnt, CAST(${c16("(SELECT n FROM nf)")} - ${c16("cnt")} AS BIGINT) " +
      s"AS score_s16 FROM vocab$rounds ORDER BY cnt DESC, piece"
  }

  /** [[duckBpeCtes]] + the merges-file select — the q_bpe_merges oracle. */
  private def duckBpeSql(nMerges: Int): String = {
    val finals = (1 to nMerges)
      .map(i => s"SELECT $i AS step, a AS left_sym, b AS right_sym, " +
        s"a || b AS merged, n FROM t$i")
      .mkString(" UNION ALL ")
    duckBpeCtes(nMerges) + s" SELECT * FROM ($finals) ORDER BY step"
  }

  /** The BPE training loop unrolled into CTEs (mirrors TextOps.bpeTrain
    * and [[graft.operators.TextOps.bpeMerges]]): one CTE chain per merge
    * round (pair recount, 1-row winner, run-parity greedy application,
    * symbol rebuild), ending with the trained state
    * `s<nMerges>(word, cnt, syms)` and the per-round winners
    * `t1..t<nMerges>`. Positions are 1-based here vs posexplode's 0-based —
    * both appear only in intra-word window arithmetic, where a constant
    * shift cancels.
    */
  private def duckBpeCtes(nMerges: Int): String = {
    val init =
      s"WITH tk AS (SELECT unnest($duckToks) AS word FROM documents), " +
        "st AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY word), " +
        "s0 AS (SELECT word, cnt, list_transform(range(1, length(word)+1), " +
        "i -> substring(word, i, 1)) AS syms FROM st), "
    val iters = (1 to nMerges).map { i =>
      s"p$i AS (SELECT word, cnt, unnest(range(1, len(syms)+1)) AS pos, " +
        s"unnest(syms) AS sym FROM s${i - 1}), " +
        s"q$i AS (SELECT word, cnt, pos, sym, " +
        s"lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt FROM p$i), " +
        s"t$i AS (SELECT sym AS a, nxt AS b, CAST(sum(cnt) AS BIGINT) AS n FROM q$i " +
        "WHERE nxt IS NOT NULL GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1), " +
        s"m$i AS (SELECT q.word, q.pos FROM q$i q, t$i t WHERE q.sym = t.a AND q.nxt = t.b), " +
        s"r$i AS (SELECT word, pos, pos - row_number() OVER " +
        s"(PARTITION BY word ORDER BY pos) AS run FROM m$i), " +
        s"k$i AS (SELECT word, pos FROM (SELECT word, pos, row_number() OVER " +
        s"(PARTITION BY word, run ORDER BY pos) AS rn FROM r$i) WHERE rn % 2 = 1), " +
        s"n$i AS (SELECT q.word, q.cnt, q.pos, " +
        "CASE WHEN k1.pos IS NOT NULL THEN q.sym || q.nxt ELSE q.sym END AS sym " +
        s"FROM q$i q LEFT JOIN k$i k1 ON q.word = k1.word AND q.pos = k1.pos " +
        s"LEFT JOIN k$i k2 ON q.word = k2.word AND q.pos = k2.pos + 1 " +
        "WHERE k2.pos IS NULL), " +
        s"s$i AS (SELECT word, cnt, list(sym ORDER BY pos) AS syms FROM n$i " +
        "GROUP BY word, cnt), "
    }.mkString
    (init + iters).stripSuffix(", ")
  }

  /** [[duckBpeCtes]] at 3 merges plus each trained word's length in
    * BPE symbols `wl(word, wlen)` and every document's word stream
    * `dk(doc_id, word)`.
    */
  private def duckBpeWordCtes: String =
    duckBpeCtes(3) + ", " +
      "wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS wlen FROM s3), " +
      s"dk AS (SELECT doc_id, unnest($duckToks) AS word FROM documents)"

  /** [[duckBpeWordCtes]] plus each document's length in BPE symbols:
    * `d(doc_id, n_tokens)`, the packer's unit after [[TextOps.bpeEncode]].
    */
  private def duckBpeLenCtes(d: String): String =
    duckBpeWordCtes + s", $d AS (SELECT doc_id, CAST(sum(wlen) AS BIGINT) AS n_tokens " +
      "FROM dk JOIN wl USING (word) GROUP BY doc_id)"

  /** Each document's length in tokens: `d(doc_id, n_tokens)`. */
  private val duckTokenLenCte =
    s"d AS (SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS n_tokens FROM documents)"

  /** [[TextOps.packSequences]]' rule over the lengths `d(doc_id, n_tokens)`:
    * `r` the exclusive prefix sum in doc_id order, `b(doc_id, n_tokens,
    * seq_id)` its floor into budget-512 sequences (the oracle's single
    * global prefix sum equals the engine's two-level shard decomposition).
    * The window sum MUST be cast back to BIGINT: DuckDB's sum(BIGINT) is
    * HUGEINT, and HUGEINT // 512 stays HUGEINT — which the driver's hash
    * renders as a float ("0.0" vs Spark's "0") and flags as a mismatch.
    */
  private def duckPackCtes(d: String = "d", r: String = "r", b: String = "b"): String =
    s"$r AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id " +
      s"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS nbefore FROM $d), " +
      s"$b AS (SELECT doc_id, n_tokens, nbefore // 512 AS seq_id FROM $r)"

  /** The packed sequences `b` rolled up: documents, tokens, id range. */
  private val duckPackSelect =
    "SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
      "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
      "FROM b GROUP BY seq_id ORDER BY seq_id"

  /** [[TextOps.forgetBlastRadius]] over the packed sequences `b` and the
    * q_dedup_forget tombstones (doc_id % 13 = 3): the affected sequences.
    */
  private val duckBlastSql =
    "tb AS (SELECT DISTINCT doc_id FROM documents WHERE doc_id % 13 = 3), " +
      "j AS (SELECT b.seq_id, b.n_tokens, " +
      "CASE WHEN tb.doc_id IS NOT NULL THEN 1 ELSE 0 END AS tombed " +
      "FROM b LEFT JOIN tb ON b.doc_id = tb.doc_id) " +
      "SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(tombed) AS BIGINT) AS n_tombstoned, " +
      "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
      "CAST(coalesce(sum(CASE WHEN tombed = 1 THEN n_tokens END), 0) AS BIGINT) " +
      "AS tokens_lost " +
      "FROM j GROUP BY seq_id HAVING sum(tombed) > 0 ORDER BY seq_id"

  /** DuckDB mirror of [[graft.operators.GraphOps.pageRank]] over
    * [[graft.operators.GraphOps.copurchaseEdges]]: the Pregel rounds
    * unrolled, same integer update rule (`//` floors positive quotients
    * exactly like Spark's `div`).
    */
  private def duckPageRankSql(iters: Int, k: Int): String = {
    val scale = "1000000000000"
    val init =
      "WITH pairs AS (SELECT DISTINCT l_suppkey AS s, l_partkey + 1000000 AS p FROM lineitem), " +
        "edges AS (SELECT s AS u, p AS v FROM pairs UNION ALL SELECT p AS u, s AS v FROM pairs), " +
        "deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY u), " +
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg), " +
        s"r0 AS (SELECT u AS node, CAST($scale // nn.n AS BIGINT) AS r FROM deg, nn), "
    val rounds = (1 to iters).map { i =>
      s"c$i AS (SELECT e.v, CAST(sum(r.r // d.deg) AS BIGINT) AS sc FROM edges e " +
        s"JOIN deg d ON e.u = d.u JOIN r${i - 1} r ON e.u = r.node GROUP BY e.v), " +
        s"r$i AS (SELECT v AS node, CAST((15 * $scale) // (100 * nn.n) " +
        s"+ (85 * sc) // 100 AS BIGINT) AS r FROM c$i, nn), "
    }.mkString
    (init + rounds).stripSuffix(", ") +
      " SELECT * FROM (SELECT row_number() OVER (ORDER BY r DESC, node) AS rank, " +
      "CASE WHEN node < 1000000 THEN 'supplier' ELSE 'part' END AS kind, " +
      "node % 1000000 AS key, r AS score " +
      s"FROM r$iters ORDER BY r DESC, node LIMIT $k) ORDER BY rank"
  }

  /** DuckDB fragment for word 3-shingles of token list `t` ([[TextOps.shingles]]). */
  private val duckShingles3 =
    "CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t) - 1), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE CAST([] AS VARCHAR[]) END"

  /** DuckDB fragment for word 2-shingles of token list `t`. */
  private val duckShingles2 =
    "CASE WHEN len(t) >= 2 THEN list_transform(range(1, len(t)), " +
      "i -> t[i] || ' ' || t[i+1]) ELSE CAST([] AS VARCHAR[]) END"

  /** Fixed query terms for the BM25 ranking query. */
  private val bm25Terms = Seq("join", "merge", "sort")

  private val phraseTerms = Seq("value", "table")

  private def duckInList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  /** The lambda "token `x` is a stopword" ([[TextOps.stopwords]]). */
  private val duckIsStop = s"x -> x IN (${duckInList(TextOps.stopwords)})"

  /** The token lists `t` of the documents: `d(doc_id, t)`. */
  private val duckDocToks = s"d AS (SELECT doc_id, $duckToks AS t FROM documents)"

  /** The language-ID rule ([[TextOps.langId]]) over `d(<key>, t)`: `sc`
    * holds each language's marker hits, `m` adds their max `mx`, and
    * [[duckLangPred]] is the prediction over `m`.
    */
  private def duckLangScoreCtes(key: String): String = {
    val scores = TextOps.langMarkers.map { case (lang, ws) =>
      s"len(list_filter(t, x -> x IN (${duckInList(ws)}))) AS score_$lang"
    }.mkString(", ")
    val mx = TextOps.langMarkers.map { case (lang, _) => s"score_$lang" }
      .mkString("greatest(", ", ", ")")
    s"sc AS (SELECT $key, $scores FROM d), m AS (SELECT *, $mx AS mx FROM sc)"
  }

  /** The first language (in `langMarkers` order) whose score is the max, or
    * 'unknown' when no marker hits.
    */
  private val duckLangPred = TextOps.langMarkers
    .map { case (lang, _) => s"WHEN mx > 0 AND score_$lang = mx THEN '$lang'" }
    .mkString("CASE ", " ", " ELSE 'unknown' END")

  /** [[TextOps.qualityScore]]'s features over the token lists `t` of
    * `from`: `f(doc_id, n, nd, ns)` — tokens, distinct tokens and
    * stopwords, empty documents dropped; [[duckQualityBp]] is its score.
    */
  private def duckQualityCte(from: String): String =
    "f AS (SELECT doc_id, len(t)::DOUBLE AS n, " +
      "len(list_distinct(t))::DOUBLE AS nd, " +
      s"len(list_filter(t, $duckIsStop))::DOUBLE AS ns " +
      s"FROM $from WHERE len(t) > 0)"

  private val duckQualityBp =
    TextOps.roundBpSql("(nd / n) * 0.5 + (ns / n) * 0.2 + least(n / 100.0, 1.0) * 0.3")

  /** DuckDB SQL mirroring [[TextOps.gopherQuality]] — also the CTE body
    * of the q_source_stats rollup oracle.
    */
  private lazy val duckGopherSql: String =
    s"WITH d AS (SELECT doc_id, text, $duckToks AS t FROM documents), " +
        s"g AS (SELECT doc_id, text, t, $duckShingles2 AS g2, $duckShingles3 AS g3 " +
        "FROM d WHERE len(t) > 0), " +
        "sc AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, " +
        "CAST(length(text) AS BIGINT) AS n_chars, " +
        s"${TextOps.roundBpSql(
          "CAST(length(array_to_string(t, '')) AS DOUBLE) / CAST(len(t) AS DOUBLE)")} " +
        "AS mean_word_len_bp, " +
        s"${TextOps.roundBpSql(
          "CAST(len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / " +
            "CAST(len(t) AS DOUBLE)")} AS alpha_word_bp, " +
        s"${TextOps.roundBpSql(
          "CAST(len(list_filter(t, x -> regexp_matches(x, '[^a-z0-9]'))) AS DOUBLE) / " +
            "CAST(len(t) AS DOUBLE)")} AS symbol_word_bp, " +
        s"${TextOps.roundBpSql(
          "CASE WHEN len(g2) > 0 THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / " +
            "CAST(len(g2) AS DOUBLE) ELSE 0.0 END")} AS rep_2gram_bp, " +
        s"${TextOps.roundBpSql(
          "CASE WHEN len(g3) > 0 THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / " +
            "CAST(len(g3) AS DOUBLE) ELSE 0.0 END")} AS rep_3gram_bp, " +
        s"CAST(len(list_filter(t, $duckIsStop)) AS BIGINT) AS n_stop " +
        "FROM g), " +
        "gg AS (SELECT doc_id, unnest(g2) AS gram FROM g), " +
        "gc AS (SELECT doc_id, gram, count(*) AS cnt FROM gg GROUP BY 1, 2), " +
        "top AS (SELECT doc_id, cnt * length(gram) AS top2_chars FROM " +
        "(SELECT doc_id, gram, cnt, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY cnt DESC, gram) AS rn FROM gc) WHERE rn = 1), " +
        "j AS (SELECT sc.*, " +
        s"${TextOps.roundBpSql(
          "CAST(coalesce(top2_chars, 0) AS DOUBLE) / CAST(n_chars AS DOUBLE)")} " +
        "AS top_2gram_char_bp FROM sc LEFT JOIN top USING (doc_id)) " +
        "SELECT doc_id, n_tokens, mean_word_len_bp, alpha_word_bp, symbol_word_bp, " +
        "rep_2gram_bp, rep_3gram_bp, top_2gram_char_bp, n_stop, " +
        "CAST(CASE WHEN mean_word_len_bp >= 30000 AND mean_word_len_bp <= 100000 " +
        "AND alpha_word_bp >= 8000 AND symbol_word_bp <= 1000 " +
        "AND rep_2gram_bp < 2000 AND top_2gram_char_bp < 2000 " +
        "AND n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS gopher_pass " +
        "FROM j ORDER BY doc_id"

  /** The token lists `t(doc_id, t)` of the `corpus` CTE and their distinct
    * 3-shingle sets `sl(doc_id, shs)`.
    */
  private val duckShingleSetCtes =
    s"t AS (SELECT doc_id, $duckToks AS t FROM corpus), " +
      s"sl AS (SELECT doc_id, list_distinct($duckShingles3) AS shs FROM t)"

  /** The exact Jaccard of shingle sets `a` and `b` in bp. */
  private def duckJaccardBp(a: String, b: String): String =
    TextOps.roundBpSql(
      s"CAST(len(list_filter($a, e -> list_contains($b, e))) AS DOUBLE) / " +
        s"CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE)")

  /** The text anchor audits' exact side over `sl`: `anchd` the
    * hash-sampled anchor docs of `corpus`, `cidx` every doc sharing a
    * shingle with an anchor (through the inverted index `ashx` ⋈ `shx`),
    * and `scd(a_id, doc_id, jac_bp)` their exact Jaccard.
    */
  private val duckAnchorPostingsCtes =
    "anchd AS (SELECT doc_id AS a_id, shs AS a_shs FROM sl " +
      s"WHERE ${DedupOps.anchorPredSql("doc_id", "corpus")}), " +
      "ashx AS (SELECT a_id, unnest(a_shs) AS sx FROM anchd), " +
      "shx AS (SELECT doc_id, unnest(shs) AS sx FROM sl), " +
      "cidx AS (SELECT DISTINCT ashx.a_id, shx.doc_id FROM ashx " +
      "JOIN shx ON ashx.sx = shx.sx AND shx.doc_id <> ashx.a_id), " +
      s"scd AS (SELECT cidx.a_id, cidx.doc_id, ${duckJaccardBp("anchd.a_shs", "sl.shs")} AS jac_bp " +
      "FROM cidx JOIN anchd ON cidx.a_id = anchd.a_id " +
      "JOIN sl ON sl.doc_id = cidx.doc_id)"

  /** The text anchor truth: every anchor pair at Jaccard ≥ 0.8. */
  private val duckTextTruthCte =
    "tp AS (SELECT DISTINCT least(a_id, doc_id) AS pa, " +
      "greatest(a_id, doc_id) AS pb FROM scd WHERE jac_bp >= 8000)"

  /** The anchor-touching pairs `fa(pa, pb)` of `pairs(id_a, id_b)`. */
  private def duckTextFoundCte(pairs: String): String =
    s"fa AS (SELECT DISTINCT id_a AS pa, id_b AS pb FROM $pairs JOIN anchd " +
      s"ON $pairs.id_a = anchd.a_id OR $pairs.id_b = anchd.a_id)"

  /** [[DedupOps.simhashBallPairs]] (bits=32, bands=4 x 8-bit slices,
    * maxDist=3, hot-bucket cap 64) over [[duckSimhashCtes]]: `ballp(id_a,
    * id_b, hamming)`.
    */
  private def duckSimhashBallCtes: String = {
    val bandSelects = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, '$b:' || ((simhash >> ${b * 8}) & 255) AS bkey FROM s"
    }.mkString(" UNION ALL ")
    s"${duckSimhashCtes(32)}, " +
      s"bd AS ($bandSelects), " +
      "okb AS (SELECT bkey FROM bd GROUP BY bkey " +
      s"HAVING count(*) > 1 AND count(*) <= ${DedupOps.DefaultMaxBucket}), " +
      "ballp AS (SELECT id_a, id_b, hamming FROM (SELECT a.doc_id AS id_a, " +
      "b.doc_id AS id_b, CAST(min(bit_count(xor(a.simhash, b.simhash))) AS BIGINT) " +
      "AS hamming FROM bd a JOIN bd b ON a.bkey = b.bkey AND a.doc_id < b.doc_id " +
      "JOIN okb ON okb.bkey = a.bkey GROUP BY 1, 2) WHERE hamming <= 3)"
  }

  /** [[DedupOps.jaccardPairs]]' inverted index over the `corpus` query:
    * shingle postings `z` cut to shingles in 2..64 docs (`zc`, the
    * stop-shingle guard) and the pair intersections `p(id_a, id_b, n_a,
    * n_b, inter)`.
    */
  private def duckPostingsPairCtes(corpus: String): String =
    s"corpus AS ($corpus), $duckShingleSetCtes, " +
      "z AS (SELECT doc_id, len(shs) AS n, unnest(shs) AS sh FROM sl), " +
      "zc AS (SELECT sh FROM z GROUP BY sh " +
      s"HAVING count(*) > 1 AND count(*) <= ${DedupOps.DefaultMaxBucket}), " +
      "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b, " +
      "count(*) AS inter FROM z a JOIN z b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
      "JOIN zc ON zc.sh = a.sh " +
      "GROUP BY 1, 2, 3, 4)"

  /** The recursive connected-components closure over the pair set
    * `pairs(id_a, id_b)` (the oracle needs WITH RECURSIVE): `e` holds both
    * directions of every pair, `nodes` every endpoint, and `reach(id, lab)`
    * every label reachable from `id`, so min(lab) per id is its
    * component's min-id label — the [[DedupOps.dedupClusters]] rule. `pfx`
    * and `sfx` wrap the three CTE names (word-boundary rename) so several
    * closures share one WITH.
    */
  private def duckReachCtes(pairs: String, pfx: String = "", sfx: String = ""): String =
    (s"e AS (SELECT id_a AS src, id_b AS dst FROM $pairs " +
      s"UNION SELECT id_b AS src, id_a AS dst FROM $pairs), " +
      "nodes AS (SELECT DISTINCT src AS id FROM e), " +
      "reach AS (SELECT id, id AS lab FROM nodes " +
      "UNION SELECT e.src AS id, reach.lab FROM e JOIN reach ON e.dst = reach.id)")
      .replaceAll("\\b(e|nodes|reach)\\b", s"$pfx$$1$sfx")

  /** [[DedupOps.dedupForget]] over the pair set `pairs(id_a, id_b)` and
    * the tombstones `tomb(doc_id)`: `cl(doc_id, cluster_id)` the closure
    * over every pair, `sp` the pairs with no tombstoned end and
    * `cl2(doc_id, nc)` their closure, `aff` the clusters holding a
    * tombstone, and `out` every surviving member of an affected cluster
    * with its old and new label, whether its rep changed and whether it is
    * now a singleton. `pfx` prefixes every CTE name; the labels, the kept
    * pairs and `out` are MATERIALIZED, each being read several times.
    */
  private def duckForgetCtes(pairs: String, tomb: String, pfx: String = ""): String = {
    val (cl, cl2, sp) = (s"${pfx}cl", s"${pfx}cl2", s"${pfx}sp")
    s"${duckReachCtes(pairs, pfx)}, " +
      s"$cl AS MATERIALIZED (SELECT id AS doc_id, min(lab) AS cluster_id " +
      s"FROM ${pfx}reach GROUP BY id), " +
      s"$sp AS MATERIALIZED (SELECT id_a, id_b FROM $pairs " +
      s"WHERE id_a NOT IN (SELECT doc_id FROM $tomb) " +
      s"AND id_b NOT IN (SELECT doc_id FROM $tomb)), " +
      s"${duckReachCtes(sp, pfx, "2")}, " +
      s"$cl2 AS MATERIALIZED (SELECT id AS doc_id, min(lab) AS nc " +
      s"FROM ${pfx}reach2 GROUP BY id), " +
      s"${pfx}aff AS (SELECT DISTINCT cluster_id FROM $cl " +
      s"WHERE doc_id IN (SELECT doc_id FROM $tomb)), " +
      s"${pfx}out AS MATERIALIZED (SELECT $cl.doc_id, $cl.cluster_id AS old_cluster, " +
      s"coalesce($cl2.nc, $cl.doc_id) AS new_cluster, " +
      s"CAST(CASE WHEN coalesce($cl2.nc, $cl.doc_id) <> $cl.cluster_id " +
      "THEN 1 ELSE 0 END AS BIGINT) AS rep_changed, " +
      s"CAST(CASE WHEN $cl2.nc IS NULL THEN 1 ELSE 0 END AS BIGINT) AS now_singleton " +
      s"FROM $cl LEFT JOIN $cl2 USING (doc_id) " +
      s"WHERE $cl.cluster_id IN (SELECT cluster_id FROM ${pfx}aff) " +
      s"AND $cl.doc_id NOT IN (SELECT doc_id FROM $tomb))"
  }

  /** The forget audits' report columns after the id: old and new label,
    * rep change and singleton flags, from [[duckForgetCtes]]' `out`.
    */
  private val duckForgetCols = "old_cluster, new_cluster, rep_changed, now_singleton"

  /** Shared CTE chain for the MinHash oracles: planted corpus → token lists
    * → distinct-shingle lists (`sl`) → exploded shingles → 8-hash signature
    * → 4 band keys → `okb`, the band buckets that survive the hot-bucket
    * cap (2..[[DedupOps.DefaultMaxBucket]] docs). Mirrors
    * [[DedupOps.minhashBandPairs]] (numHashes=8, bands=4, maxBucket=64).
    */
  private lazy val duckMinhashCtes: String = {
    val numHashes = 8; val bands = 4; val r = numHashes / bands
    // one md5 per shingle (hh), 8 affine family members derived from it —
    // mirrors DedupOps.minhashSigs after its seeded→familyOf switch
    val sigCols = (0 until numHashes)
      .map(i => s"min(${StableHash.familyOfSql("hh", i)}) AS s$i").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val parts = (s"'$b'" +: (0 until r).map(j => s"s${b * r + j}")).mkString(", ")
      s"SELECT doc_id, concat_ws(':', $parts) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"corpus AS ($duckCorpus), $duckShingleSetCtes, " +
      "sh AS (SELECT doc_id, unnest(shs) AS s FROM sl), " +
      s"shh AS (SELECT doc_id, s, ${StableHash.hash60Sql("s")} AS hh FROM sh), " +
      s"sig AS (SELECT doc_id, $sigCols FROM shh GROUP BY doc_id), " +
      s"bands AS ($bandSelects), " +
      "okb AS (SELECT bkey FROM bands GROUP BY bkey " +
      s"HAVING count(*) > 1 AND count(*) <= ${DedupOps.DefaultMaxBucket})"
  }

  /** CTE chain computing the `bits`-bit SimHash sketch per planted-corpus
    * doc (`s(doc_id, simhash)`), mirroring [[DedupOps.simhashSketch]].
    */
  private def duckSimhashCtes(bits: Int): String = {
    val votes = (0 until bits)
      .map(k => s"CAST(sum(((h >> $k) & 1) * 2 - 1) AS BIGINT) AS b$k").mkString(", ")
    val sketch = (0 until bits)
      .map(k => s"(CASE WHEN b$k > 0 THEN CAST(${1L << k} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")
    s"corpus AS ($duckCorpus), " +
      s"tk AS (SELECT doc_id, unnest($duckToks) AS tok FROM corpus), " +
      s"h AS (SELECT doc_id, ${StableHash.hash60Sql("tok")} AS h FROM tk), " +
      s"v AS (SELECT doc_id, $votes FROM h GROUP BY doc_id), " +
      s"s AS (SELECT doc_id, $sketch AS simhash FROM v)"
  }

  /** `cte(<key>, e, nrm)`: the embeddings of `from` as `DOUBLE[]` and
    * their L2 norm, the frame every cosine below reads. `key` is the
    * leading column list (`rep AS vec_id` over the exact-dedup groups).
    * `list_dot_product` over `DOUBLE[]` folds left-to-right like Spark's
    * `aggregate(zip_with(...))`, so the doubles are bit-identical.
    */
  private def duckNormCte(cte: String, from: String, key: String = "vec_id"): String =
    s"$cte AS (SELECT $key, embedding::DOUBLE[] AS e, " +
      s"sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM $from)"

  /** Centroid frame `cte(c_id, ce, cn)`: the vectors of norm frame `from`
    * that `pred` samples.
    */
  private def duckSeedCte(cte: String, from: String, pred: String): String =
    s"$cte AS (SELECT vec_id AS c_id, e AS ce, nrm AS cn FROM $from WHERE $pred)"

  /** The 16 fixed fixture cells: seeds `vec_id` 100..115. */
  private val duckFixtureCells = "vec_id BETWEEN 100 AND 115"

  /** The fixture cells `c` over `n`. */
  private val duckFixtureCellCte = duckSeedCte("c", "n", duckFixtureCells)

  /** The query side of every top-k and recall oracle: `q(q_id, qe, qn)`,
    * the vectors `vec_id < 5` of `n`.
    */
  private val duckQueryCte = "q AS (SELECT vec_id AS q_id, e AS qe, nrm AS qn FROM n WHERE vec_id < 5)"

  /** The exact top-10 truth `bt(q_id, vec_id)` of the queries `q` over `n`
    * (ties to the lower id) that every recall sweep counts hits against.
    */
  private val duckBruteTruthCtes =
    "bp AS (SELECT q.q_id, n.vec_id, " +
      "list_dot_product(qe, e) / (qn * nrm) AS cos FROM n JOIN q ON n.vec_id <> q.q_id), " +
      "bt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM bp) WHERE rnk <= 10)"

  /** Flat assignment of `n` to the centroids `c`: `rk` ranks each vector's
    * cells by cosine (ties to the lower c_id), `asg` keeps the best.
    */
  private val duckFlatAssignCtes =
    "cs AS (SELECT n.vec_id, n.e, n.nrm, c.c_id, " +
      "list_dot_product(n.e, c.ce) / (n.nrm * c.cn) AS csim FROM n CROSS JOIN c), " +
      "rk AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY csim DESC, c_id) AS crn FROM cs), " +
      "asg AS (SELECT vec_id, e, nrm, c_id FROM rk WHERE crn = 1)"

  /** The IVF probe list `pr(q_id, c_id)`: each query's 4 nearest cells,
    * read off the flat ranking `rk`.
    */
  private val duckProbeCte = "pr AS (SELECT vec_id AS q_id, c_id FROM rk WHERE vec_id < 5 AND crn <= 4)"

  /** The same probe list ranked over every cell on its own (`qrk`), for
    * chains whose corpus assignment is two-level: the query side never
    * rides the approximation.
    */
  private val duckQueryProbeCtes =
    "qcs AS (SELECT n.vec_id, n.e, n.nrm, c.c_id, " +
      "list_dot_product(n.e, c.ce) / (n.nrm * c.cn) AS csim " +
      "FROM n CROSS JOIN c WHERE n.vec_id < 5), " +
      "qrk AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY csim DESC, c_id) AS crn FROM qcs), " +
      "pr AS (SELECT vec_id AS q_id, c_id FROM qrk WHERE crn <= 4)"

  /** The two-level quantizer's supercells over centroid frame `cells`
    * (SimOps.superCents: distributed id-hash stride + min-id guard): `sup`
    * the supercenters, `c2s` each centroid's best supercell.
    */
  private def duckSuperCtes(cells: String): String =
    "per AS (SELECT greatest(2, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS p, " +
      s"min(c_id) AS mn FROM $cells), " +
      s"sup AS (SELECT c_id AS sc_id, ce AS sce, cn AS scn FROM $cells " +
      s"WHERE ${StableHash.hash60Sql("CAST(c_id AS VARCHAR)")} % " +
      "(SELECT p FROM per) = 0 OR c_id = (SELECT mn FROM per)), " +
      s"css AS (SELECT $cells.c_id AS cid0, sup.sc_id, " +
      s"list_dot_product($cells.ce, sup.sce) / ($cells.cn * sup.scn) AS s FROM $cells CROSS JOIN sup), " +
      "c2s AS (SELECT cid0, sc_id FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY cid0 ORDER BY s DESC, sc_id) AS rn FROM css) WHERE rn = 1)"

  /** `cte(vec_id, c_id)`: each vector of `n`'s best cell of `cells` by
    * cosine, ties to the lower c_id.
    */
  private def duckArgmaxCte(cte: String, cells: String): String =
    s"$cte AS (SELECT vec_id, c_id FROM (SELECT n.vec_id, $cells.c_id, " +
      "row_number() OVER (PARTITION BY n.vec_id " +
      s"ORDER BY list_dot_product(n.e, $cells.ce) / (n.nrm * $cells.cn) DESC, $cells.c_id) AS crn " +
      s"FROM n CROSS JOIN $cells) WHERE crn = 1)"

  /** One bp-integer Lloyd round of the seeds `c0` over assignment
    * `assign(vec_id, c_id)`: per-cell sums of bp-rounded components, one
    * division per dimension, an empty cell keeping its seed. Yields
    * `c<sfx>(c_id, ce, cn)`.
    */
  private def duckLloydCtes(assign: String, sfx: String = ""): String =
    s"z$sfx AS (SELECT $assign.c_id, unnest(n.e) AS v, unnest(range(1, len(n.e) + 1)) AS pos " +
      s"FROM $assign JOIN n USING (vec_id)), " +
      s"sm$sfx AS (SELECT c_id, pos, sum(CAST(floor(v * 10000.0 + 0.5) AS BIGINT)) AS s, " +
      s"count(*) AS cnt FROM z$sfx GROUP BY c_id, pos), " +
      s"c1$sfx AS (SELECT c_id, list(CAST(s AS DOUBLE) / (cnt * 10000.0) ORDER BY pos) AS ce " +
      s"FROM sm$sfx GROUP BY c_id), " +
      s"c$sfx AS (SELECT c0.c_id, coalesce(c1$sfx.ce, c0.ce) AS ce, " +
      s"coalesce(sqrt(list_dot_product(c1$sfx.ce, c1$sfx.ce)), c0.cn) AS cn " +
      s"FROM c0 LEFT JOIN c1$sfx USING (c_id))"

  /** The head of the recall sweeps: the norm frame `n` of the corpus, the
    * queries `q` and their exact truth `bt`.
    */
  private val duckRecallHead = s"${duckNormCte("n", "embeddings")}, $duckQueryCte, $duckBruteTruthCtes"

  /** `r`: the candidates `from(q_id, vec_id, cos)` ranked per query. */
  private def duckRankCte(from: String): String =
    "r AS (SELECT q_id, vec_id, cos, row_number() OVER " +
      s"(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank FROM $from)"

  private val duckTopKSelect =
    s"SELECT q_id, rank, vec_id, ${TextOps.roundBpSql("cos")} AS cos_bp " +
      "FROM r WHERE rank <= 10 ORDER BY q_id, rank"

  /** The k-NN graph pairs `p(id_a, id_b, cos)`: each vector of `aSide`
    * against the vectors assigned (`asg`) to the same cell.
    */
  private def duckKnnPairsCte(aSide: String): String =
    "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
      "list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos " +
      s"FROM $aSide a JOIN asg b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id)"

  /** The k-NN graph's top-3 neighbours per source over pairs `from`. */
  private def duckKnnTopSql(from: String): String =
    "r AS (SELECT id_a, id_b, cos, row_number() OVER (PARTITION BY id_a " +
      s"ORDER BY cos DESC, id_b) AS rank FROM $from) " +
      s"SELECT id_a, rank, id_b, ${TextOps.roundBpSql("cos")} AS cos_bp " +
      "FROM r WHERE rank <= 3 ORDER BY id_a, rank"

  /** The bp-rounded cosine of the pair `a`, `b` (both norm frames). */
  private val duckPairCosBp = TextOps.roundBpSql("list_dot_product(a.e, b.e) / (a.nrm * b.nrm)")

  /** [[SimOps.plantedVectors]]: the embeddings (columns `vec_id, <cols>`)
    * plus an exact copy of every 100th vector above every real id.
    */
  private def duckPlantedVectors(cols: String): String =
    s"SELECT vec_id, $cols FROM embeddings " +
      s"UNION ALL SELECT vec_id + ${DedupOps.plantStepSql("embeddings", "vec_id")} " +
      s"AS vec_id, $cols FROM embeddings WHERE vec_id % 100 = 0"

  /** Over the corpus `base`: `nall` its norm frame, `c` the centroids
    * `pred` samples from the FULL corpus, and `egrp` the exact-dedup groups
    * (identical arrays collapse to their min-id `rep`).
    */
  private def duckRepGroupCtes(pred: String): String =
    s"${duckNormCte("nall", "base")}, ${duckSeedCte("c", "nall", pred)}, " +
      "egrp AS (SELECT embedding, min(vec_id) AS rep FROM base GROUP BY embedding)"

  /** `emem(vec_id, rep)`: every row of `base` and its exact-dedup rep. */
  private val duckMemberCte =
    "emem AS (SELECT b.vec_id AS vec_id, egrp.rep AS rep " +
      "FROM base b JOIN egrp ON b.embedding = egrp.embedding)"

  /** The member re-attach of rep pairs `rp<sfx>(ra, rb, cos_bp)`: cross
    * pairs at the rep cosine, intra-group pairs at 10000.
    */
  private def duckReattachCtes(sfx: String): String =
    s"crossp$sfx AS (SELECT least(ma.vec_id, mb.vec_id) AS id_a, " +
      s"greatest(ma.vec_id, mb.vec_id) AS id_b, cos_bp FROM rp$sfx " +
      s"JOIN emem ma ON rp$sfx.ra = ma.rep JOIN emem mb ON rp$sfx.rb = mb.rep), " +
      s"intra$sfx AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, " +
      "CAST(10000 AS BIGINT) AS cos_bp FROM emem x JOIN emem y " +
      "ON x.rep = y.rep AND x.vec_id < y.vec_id)"

  /** The maxCell participation cap ([[SimOps.DefaultMaxCell]], by id rank)
    * on the assignment `asg`: `p(vec_id, e, nrm, c_id)`.
    */
  private val duckCellCapCte =
    "p AS (SELECT vec_id, e, nrm, c_id FROM (SELECT *, row_number() " +
      "OVER (PARTITION BY c_id ORDER BY vec_id) AS rk FROM asg) " +
      s"WHERE rk <= ${SimOps.DefaultMaxCell})"

  /** The embedding anchor truth shared by the rep-pair recall audits:
    * `anch` the hash-sampled anchors of rep frame `reps`, `tp` every rep
    * within `minBp` of an anchor, `fa` the anchor-touching rep pairs of
    * `pairs(ra, rb)`. [[duckRecallSql]] divides `fa` into `tp`.
    */
  private def duckVecAnchorCtes(reps: String, pairs: String, minBp: Int): String =
    s"anch AS (SELECT vec_id AS a_id, e AS ae, nrm AS an FROM $reps " +
      s"WHERE ${DedupOps.anchorPredSql("vec_id", reps)}), " +
      "tp AS (SELECT DISTINCT least(n.vec_id, a.a_id) AS pa, " +
      s"greatest(n.vec_id, a.a_id) AS pb FROM $reps n CROSS JOIN anch a " +
      "WHERE n.vec_id <> a.a_id AND " +
      s"${TextOps.roundBpSql("list_dot_product(n.e, a.ae) / (n.nrm * a.an)")} >= $minBp), " +
      s"fa AS (SELECT DISTINCT ra AS pa, rb AS pb FROM $pairs JOIN anch " +
      s"ON $pairs.ra = anch.a_id OR $pairs.rb = anch.a_id)"

  /** `⌊count(num) · 10⁴ / count(den)⌋`, or 10000 when `den` is empty: the
    * recall (and precision) rule of every audit.
    */
  private def duckShareBp(num: String, den: String): String =
    s"CASE WHEN (SELECT count(*) FROM $den) > 0 THEN " +
      TextOps.floorDivSql(s"(SELECT count(*) FROM $num) * 10000", s"(SELECT count(*) FROM $den)") +
      " ELSE 10000 END"

  /** The anchor audits' report up to `n_truth`: anchors and truth pairs `tp`. */
  private def duckAnchorCounts(anchors: String): String =
    s"SELECT (SELECT count(*) FROM $anchors) AS n_anchors, (SELECT count(*) FROM tp) AS n_truth, "

  /** The anchor audits' one-row report: anchors, truth pairs `tp`, found
    * pairs `found`, and the recall of `found` in `tp`.
    */
  private def duckRecallSql(anchors: String, found: String): String =
    duckAnchorCounts(anchors) + s"(SELECT count(*) FROM $found) AS n_found, " +
      duckShareBp(found, "tp") + " AS recall_bp"

  /** Shared CTE chain for the brute-force similarity oracles, mirroring
    * [[SimOps.bruteTopK]] (queries = vec_id < 5, k = 10).
    */
  private def duckSimCtes: String =
    s"${duckNormCte("n", "embeddings", "vec_id, label")}, $duckQueryCte, " +
      "p AS (SELECT q_id, n.vec_id AS vec_id, " +
      "list_dot_product(qe, e) / (qn * nrm) AS cos " +
      s"FROM n JOIN q ON n.vec_id <> q.q_id), ${duckRankCte("p")}"

  /** The bucket keys of the first `nTables` LSH tables (4 sign bits over
    * dims [4t, 4t+4)) of every vector of `n`: rows (vec_id, e, nrm, tb).
    */
  private def duckLshTables(nTables: Int): String =
    (0 until nTables).map { t =>
      val bucket = (0 until 4)
        .map(i => s"(CASE WHEN e[${t * 4 + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT vec_id, e, nrm, '$t:' || ($bucket) AS tb FROM n"
    }.mkString(" UNION ALL ")

  /** CTE chain mirroring the multi-table [[SimOps.lshTopK]] (8 tables,
    * queries = vec_id < 5): per-table bucket keys, equi-join on the key,
    * duplicate collisions collapsed before ranking.
    */
  private def duckLshCtes: String =
    s"${duckNormCte("n", "embeddings")}, tb AS (${duckLshTables(8)}), " +
      "q AS (SELECT vec_id AS q_id, qe, qn, tb FROM (SELECT vec_id, e AS qe, nrm AS qn, tb " +
      "FROM tb) WHERE vec_id < 5), " +
      "p0 AS (SELECT q_id, c.vec_id AS vec_id, " +
      "list_dot_product(qe, e) / (qn * nrm) AS cos " +
      "FROM tb c JOIN q ON c.tb = q.tb AND c.vec_id <> q.q_id), " +
      "p AS (SELECT q_id, vec_id, min(cos) AS cos FROM p0 GROUP BY q_id, vec_id), " +
      duckRankCte("p")

  /** DuckDB CTE matching [[MultimodalOps.asMedia]] — payload handled as a
    * hex string because DuckDB 1.0 has no BLOB substr/md5; `md5(text)`
    * hashes the UTF-8 bytes, i.e. exactly Spark's `md5(payload)`.
    */
  private val duckMedia =
    "media AS (SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
      "ELSE 'video' END AS kind, text, hex(encode(text)) AS h, " +
      "octet_length(encode(text)) AS n FROM documents)"

  /** CTE yielding the verified near-dup pairs `vp(id_a, id_b, jac_bp)` —
    * appended after [[duckMinhashCtes]]; mirrors
    * [[DedupOps.verifiedNearDups]] (threshold 8000 bp).
    */
  private lazy val duckVerifiedPairsCte: String =
    s"$duckMinhashCandCte, " +
      s"vp AS (SELECT * FROM (SELECT id_a, id_b, ${duckJaccardBp("x.shs", "y.shs")} AS jac_bp FROM cand " +
      "JOIN sl x ON x.doc_id = cand.id_a JOIN sl y ON y.doc_id = cand.id_b) " +
      "WHERE jac_bp >= 8000)"

  /** The band candidates `cand(id_a, id_b)` of [[duckMinhashCtes]]: doc
    * pairs sharing a band bucket that survives the cap.
    */
  private val duckMinhashCandCte =
    "cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a " +
      "JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id " +
      "JOIN okb ON okb.bkey = a.bkey GROUP BY 1, 2)"

  /** One aHash pass of the phash oracle at grid `g`: cells →
    * nearest-neighbor-sampled gray → total → per-row band bytes → hash
    * vector, all suffixed `sfx` so the probe pass (fixed grid 8) and the
    * pairing pass (derived grid) coexist in one WITH chain. The grid
    * rides as a materialized COLUMN `gg` (for the derived pass,
    * `extraFrom` cross-joins the one-row `pgrid` CTE) — a scalar
    * subquery in the cell/bit expressions would be re-evaluated per row,
    * recomputing the whole probe pipeline each time.
    */
  private def duckPhashHashCtes(
      sfx: String, g: String, extraFrom: String = "", stride: String = "7"): String = {
    // one sampled channel byte of the quadratic-ring ramp (the
    // MultimodalOps.plantPhashCorpus r17 formula): byte index `idx` =
    // channel ch of grid cell j's nearest-neighbor source pixel
    def px(ch: Int): String = {
      val idx = s"((((j//gg)*h//gg)*w + (j%gg)*w//gg)*3 + $ch)"
      s"(grp*31 + $idx*($stride) + $idx*$idx*s2 + shift) % 256"
    }
    s"cells$sfx AS (SELECT media_id, grp, shift, s2, w, h, ($g) AS gg, " +
      s"unnest(range(0, ($g)*($g))) AS j FROM d$extraFrom), " +
      s"gray$sfx AS (SELECT media_id, j, gg, " +
      s"${px(0)} + ${px(1)} + ${px(2)} AS g " +
      s"FROM cells$sfx), " +
      s"tot$sfx AS (SELECT media_id, sum(g) AS total FROM gray$sfx GROUP BY media_id), " +
      s"bands$sfx AS (SELECT gray$sfx.media_id, j // gg AS k, " +
      "sum(CASE WHEN gg*gg * g > total THEN 1 << (j % gg) ELSE 0 END) AS bval " +
      s"FROM gray$sfx JOIN tot$sfx ON gray$sfx.media_id = tot$sfx.media_id GROUP BY 1, 2), " +
      s"hv$sfx AS (SELECT media_id, list(bval ORDER BY k) AS hsh FROM bands$sfx " +
      "GROUP BY media_id)"
  }

  /** DuckDB mirror of SimOps.cellNearDupPairs over the planted embedding
    * corpus: exact-dedup-first reps, occupancy-64 hash-sampled centroids
    * from the FULL corpus, cell assignment (flat argmax, or the two-level
    * quantizer when `hier` — the duckKnnHierSql construction), id-rank
    * 256-cap per cell, within-cell threshold pairing, member re-attach.
    */
  private def duckCellsSql(hier: Boolean, probes: Int = 1, superProbes: Int = 1): String =
    s"${duckCellsCtes(hier, probes, superProbes)} " +
      "SELECT id_a, id_b, cos_bp FROM " +
      "(SELECT * FROM crossp UNION ALL SELECT * FROM intra) " +
      "ORDER BY id_a, id_b"

  /** Cell-assignment CTE fragment over rep frame `n` and centroid frame
    * `c` (both must already be defined in the enclosing WITH): emits
    * `asg` (each vector's best cell) and, when `probes` > 1, `asg2`
    * (its `probes` best). Flat = the ranked cross join; hier = the
    * two-level quantizer with the probes knob riding the block-restricted
    * ranking `bsr`: each vector's candidate cells across the union of its
    * `superProbes` best supercells' blocks (blocks partition the
    * centroids, so no cell duplicates) — crn <= probes is
    * cellArgTopPHier, crn = 1 is cellArgmaxHier. Shared by the cells
    * pairing chain, the semdedup oracle and the hier k-NN graph.
    */
  private def duckCellAssignCtes(
      hier: Boolean, probes: Int = 1, superProbes: Int = 1): String = {
    val (ranked, rank) = if (hier) ("bsr", "rn") else ("rk", "crn")
    (if (!hier) duckFlatAssignCtes
    else
      duckSuperCtes("c") + ", " +
        "vs0 AS (SELECT n.vec_id, n.e, n.nrm, sup.sc_id, " +
        "list_dot_product(n.e, sup.sce) / (n.nrm * sup.scn) AS s FROM n CROSS JOIN sup), " +
        "vs AS (SELECT vec_id, e, nrm, sc_id FROM (SELECT *, row_number() OVER " +
        s"(PARTITION BY vec_id ORDER BY s DESC, sc_id) AS rn FROM vs0) WHERE rn <= $superProbes), " +
        "bs AS (SELECT v.vec_id, v.e, v.nrm, c.c_id, " +
        "list_dot_product(v.e, c.ce) / (v.nrm * c.cn) AS s " +
        "FROM vs v JOIN c2s ON v.sc_id = c2s.sc_id JOIN c ON c.c_id = c2s.cid0), " +
        "bsr AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY s DESC, c_id) AS rn FROM bs), " +
        "asg AS (SELECT vec_id, e, nrm, c_id FROM bsr WHERE rn = 1)") + ", " +
      (if (probes > 1)
        s"asg2 AS (SELECT vec_id, e, nrm, c_id FROM $ranked WHERE $rank <= $probes), "
      else "")
  }

  /** Mirror of SimOps.ivfTopK over the centroid chain `coarse` (yielding
    * `c` from `n`): corpus assignment flat or, when `hier`, through the
    * shared two-level fragment; each of the 5 queries probes its 4 nearest
    * cells (an exact ranking over all cells — the query side never rides
    * the approximation), brute force within probed cells, top-10.
    */
  private def duckSimIvfSql(coarse: String, hier: Boolean = false): String =
    s"WITH ${duckNormCte("n", "embeddings")}, $coarse, " +
      (if (!hier) s"$duckFlatAssignCtes, $duckProbeCte, "
      else duckCellAssignCtes(hier = true) + duckQueryProbeCtes + ", ") +
      s"$duckQueryCte, " +
      "p AS (SELECT pr.q_id, a.vec_id, " +
      "list_dot_product(q.qe, a.e) / (q.qn * a.nrm) AS cos " +
      "FROM pr JOIN asg a ON pr.c_id = a.c_id JOIN q ON q.q_id = pr.q_id " +
      s"WHERE a.vec_id <> pr.q_id), ${duckRankCte("p")} $duckTopKSelect"

  /** Mirror of SimOps.semDedup over the corpus query `base`:
    * exact-dedup-first (identical embeddings collapse to a min-id rep;
    * members never survive), √N-sized hash-sampled centroids over the FULL
    * corpus, rep-only cell assignment (flat, or the shared two-level
    * fragment when `hier`), id-rank maxCell cap, and `rp(ra, rb)` the
    * within-cell rep pairs at cosine ≥ 0.99 (the higher rep drops).
    */
  private def duckSemDedupCtes(hier: Boolean, base: String): String =
    s"WITH base AS ($base), ${duckRepGroupCtes(SimOps.sqrtCentroidPredSql("base"))}, " +
      s"${duckNormCte("n", "egrp", "rep AS vec_id")}, " +
      duckCellAssignCtes(hier) + duckCellCapCte + ", " +
      "rp AS (SELECT a.vec_id AS ra, b.vec_id AS rb FROM p a JOIN p b " +
      s"ON a.c_id = b.c_id AND a.vec_id < b.vec_id WHERE $duckPairCosBp >= 9900)"

  private def duckSemDedupSql(hier: Boolean): String =
    duckSemDedupCtes(hier, duckPlantedVectors("embedding")) + ", " +
      "d AS (SELECT DISTINCT rb AS vec_id FROM rp) " +
      "SELECT vec_id, c_id FROM asg " +
      "WHERE vec_id NOT IN (SELECT vec_id FROM d) ORDER BY vec_id"

  /** The q_recall_audit_semdedup corpus: the planted vectors plus a doubled
    * copy (a distinct array at cosine 1) of every 10th vector, ids offset
    * past the plant — near-duplicates exact-dedup-first keeps as reps, so
    * the 0.99 audit has pairs to find.
    */
  private val duckSemDedupAuditBase =
    duckPlantedVectors("embedding") +
      s" UNION ALL SELECT vec_id + 2 * ${DedupOps.plantStepSql("embeddings", "vec_id")} " +
      "AS vec_id, list_transform(embedding, x -> x * 2) AS embedding " +
      "FROM embeddings WHERE vec_id % 10 = 0"

  /** Mirror of SimOps.semDedupRecallAudit at the given quantizer over
    * [[duckSemDedupAuditBase]]: the semdedup chain's capped within-cell
    * ≥ 0.99 rep pairs (`rp`) divided into the anchor truth built over
    * its rep frame `n` at the same threshold.
    */
  private def duckSemDedupRecallAuditSql(hier: Boolean): String =
    duckSemDedupCtes(hier, duckSemDedupAuditBase) + ", " +
      s"${duckVecAnchorCtes("n", "rp", 9900)} ${duckRecallSql("anch", "fa")}"

  /** The [[duckCellsSql]] CTE chain without the final member-pair SELECT
    * over the corpus query `base` (the planted vectors by default) —
    * shared with the cells recall-audit oracle, which scores the `rp`
    * rep-pair CTE (the rep-rep restriction of the declared output)
    * against the anchor truth instead of emitting the re-attached pairs.
    */
  private def duckCellsCtes(
      hier: Boolean, probes: Int = 1, superProbes: Int = 1,
      base: String = duckPlantedVectors("embedding")): String =
    s"WITH base AS ($base), ${duckRepGroupCtes(SimOps.hashCentroidPredSql(64))}, " +
      s"$duckMemberCte, ${duckNormCte("n", "egrp", "rep AS vec_id")}, " +
      duckCellAssignCtes(hier, probes, superProbes) + duckCellCapCte + ", " +
      (if (probes == 1)
        "rp AS (SELECT * FROM (SELECT a.vec_id AS ra, b.vec_id AS rb, " +
          s"$duckPairCosBp AS cos_bp " +
          "FROM p a JOIN p b ON a.c_id = b.c_id AND a.vec_id < b.vec_id) " +
          "WHERE cos_bp >= 4000), "
      else
        // a-side: probe rows of home-cap survivors; unordered pairs collapse
        "pa AS (SELECT a2.vec_id, a2.e, a2.nrm, a2.c_id FROM asg2 a2 " +
          "JOIN (SELECT DISTINCT vec_id FROM p) ok ON a2.vec_id = ok.vec_id), " +
          "rp AS (SELECT DISTINCT * FROM (SELECT least(a.vec_id, b.vec_id) AS ra, " +
          "greatest(a.vec_id, b.vec_id) AS rb, " +
          s"$duckPairCosBp AS cos_bp " +
          "FROM pa a JOIN p b ON a.c_id = b.c_id AND a.vec_id <> b.vec_id) " +
          "WHERE cos_bp >= 4000), ") +
      duckReattachCtes("")

  /** DuckDB mirror of SimOps.knnGraphHier at `superProbes`: √nlist-strided
    * supercenters, centroid→supercell argmax, each vector's top-`superProbes`
    * supercells' blocks scanned, best cell across the union ((s desc, c_id)
    * — a two-stage max equals the global max under that tie order), then
    * the within-cell top-3 ranking. superProbes = 1 is the declared
    * q_knn_graph_hier; 2 is the recall knob declared as q_knn_graph_hier2.
    */
  private def duckKnnHierSql(superProbes: Int, probes: Int = 1): String =
    s"WITH ${duckNormCte("n", "embeddings")}, " +
      s"${duckSeedCte("c", "n", SimOps.sqrtCentroidPredSql("embeddings"))}, " +
      duckCellAssignCtes(hier = true, probes, superProbes) +
      // probes > 1: the a-side unions each vector's top-`probes` in-block
      // cells (cellArgTopPHier); candidates (b-side) stay home-only
      s"${duckKnnPairsCte(if (probes > 1) "asg2" else "asg")}, ${duckKnnTopSql("p")}"

  /** DuckDB CTE chain mirroring MultimodalOps.plantPhashCorpus +
    * phashBands + phashPairs AT THE CORPUS-DERIVED GRID: generative pixel
    * formula → grid-8 PROBE hash → `pgrid` (MultimodalOps.autoPhashGrid's
    * rule over the probe's distinct-hash count) → aHash at the derived
    * grid via nearest-neighbor sampling and the strict-mean bit rule →
    * EXACT-DEDUP FIRST (identical hash vectors collapse to a min-id
    * representative) → byte-band LSH over representatives with the
    * bucket-64 cap (counted in distinct hashes) → popcount-of-XOR Hamming
    * verify → member re-attachment (cross-group pairs at the rep
    * distance, intra-group pairs at hamming 0). Ends in `pp` = the
    * verified pair set (id_a < id_b, hamming ≤ 6) — shared by
    * q_media_phash and the q_media_clusters closure.
    */
  private val duckPhashCtes = duckPhashCtesFor(
    "m AS (SELECT doc_id AS media_id, doc_id // 4 AS grp, " +
      "(doc_id % 4) * 9 AS shift FROM documents)")

  /** [[duckPhashCtes]] over the DENSE plant
    * (MultimodalOps.plantPhashCorpusDense: the lowest 500 ids × 8 before
    * the group/shift derivation — the baseCap bound) — the corpus whose
    * grid-8 probe universe crosses 8·2^8, so `pgrid` derives 16 and the
    * WHOLE chain (16×16 aHash parse, 16-band LSH, the CASE's 16 arm)
    * executes under the oracle.
    */
  private val duckPhashDenseCtes = duckPhashCtesFor(
    "m AS (SELECT doc_id * 8 + r AS media_id, (doc_id * 8 + r) // 4 AS grp, " +
      "((doc_id * 8 + r) % 4) * 9 AS shift FROM documents " +
      "CROSS JOIN (SELECT unnest(range(0, 8)) AS r) WHERE doc_id < 500)",
    stride = "7 + grp % 23")

  /** Mirror of SimOps.cellRecallAudit at the given quantizer/knobs: the
    * cells CTE chain's rep-pair set `rp` (the rep-rep restriction of the
    * declared member output) anchor-restricted and divided into the same
    * anchor truth as the q_recall_audit_neardup oracle, built over the
    * cells chain's rep frame `n`.
    */
  private def duckCellRecallAuditSql(
      hier: Boolean, probes: Int, superProbes: Int = 1): String =
    s"${duckCellsCtes(hier, probes, superProbes)}, " +
      s"${duckVecAnchorCtes("n", "rp", 4000)} ${duckRecallSql("anch", "fa")}"

  /** Suffix the phash chain's tail CTE names (rp/crossp/intra/pp) so the
    * chain composes with the cells chain — whose own rp/crossp/intra —
    * inside ONE WITH (the q_curate_multimodal oracle). Word-boundary
    * replace: `grp`/`pgrid` etc. are untouched.
    */
  private def suffixPhash(ctes: String, ns: String): String =
    ctes.replaceAll("\\brp\\b", s"rp$ns")
      .replaceAll("\\bcrossp\\b", s"crossp$ns")
      .replaceAll("\\bintra\\b", s"intra$ns")
      .replaceAll("\\bpp\\b", s"pp$ns")

  private def duckPhashCtesFor(mCte: String, stride: String = "7"): String =
    mCte + ", " +
      "d AS (SELECT media_id, grp, shift, (grp*3+2)%9+2 AS w, " +
      "(grp*5+1)%7+2 AS h, " +
      s"${StableHash.hash60Sql("CAST(grp AS VARCHAR)")} % 256 AS s2 FROM m), " +
      duckPhashHashCtes("8", "8", stride = stride) + ", " +
      s"pgrid AS ${MultimodalOps.autoPhashGridSql("hv8")}, " +
      duckPhashHashCtes("", "pgrid.g", " CROSS JOIN pgrid", stride = stride) + ", " +
      "grpv AS (SELECT hsh, min(media_id) AS rep FROM hv GROUP BY hsh), " +
      "mem AS (SELECT hv.media_id AS media_id, grpv.rep AS rep " +
      "FROM hv JOIN grpv ON hv.hsh = grpv.hsh), " +
      "rb AS (SELECT b.media_id, b.k, b.bval FROM bands b " +
      "JOIN grpv ON b.media_id = grpv.rep), " +
      "bsize AS (SELECT k, bval, count(*) AS n FROM rb GROUP BY 1, 2), " +
      "kept AS (SELECT b.* FROM rb b JOIN bsize s ON b.k = s.k " +
      "AND b.bval = s.bval WHERE s.n > 1 AND s.n <= 64), " +
      "cand AS (SELECT DISTINCT a.media_id AS ra, b.media_id AS rbid " +
      "FROM kept a JOIN kept b ON a.k = b.k AND a.bval = b.bval " +
      "AND a.media_id < b.media_id), " +
      "ham AS (SELECT c.ra, c.rbid, " +
      "sum(bit_count(xor(x.bval, y.bval))) AS hamming FROM cand c " +
      "JOIN rb x ON x.media_id = c.ra " +
      "JOIN rb y ON y.media_id = c.rbid AND y.k = x.k " +
      "GROUP BY c.ra, c.rbid), " +
      "rp AS (SELECT ra, rbid, CAST(hamming AS BIGINT) AS hamming " +
      "FROM ham WHERE hamming <= 6), " +
      "crossp AS (SELECT least(ma.media_id, mb.media_id) AS id_a, " +
      "greatest(ma.media_id, mb.media_id) AS id_b, hamming FROM rp " +
      "JOIN mem ma ON rp.ra = ma.rep JOIN mem mb ON rp.rbid = mb.rep), " +
      "intra AS (SELECT x.media_id AS id_a, y.media_id AS id_b, " +
      "CAST(0 AS BIGINT) AS hamming FROM mem x JOIN mem y " +
      "ON x.rep = y.rep AND x.media_id < y.media_id), " +
      "pp AS (SELECT * FROM crossp UNION ALL SELECT * FROM intra)"

  /** CTE chain mirroring [[SimOps.nearDupPairs]] over plantedVectors:
    * exact-dedup-first on the raw embedding list, sign-bucket the
    * representatives with the CORPUS-DERIVED width (`nbits` mirrors
    * `SimOps.autoSignBits` — integer compare ladder over
    * ⌈count(DISTINCT embedding)/cap⌉, so both engines derive the same
    * `bits` from the same corpus), participation-cap each bucket at
    * DedupOps.DefaultMaxBucket lowest-id reps, pair + threshold, then
    * re-attach members (cross pairs at the rep cosine, intra-group pairs
    * at cos_bp = 10000). Keeps `base` in scope; ends in
    * `vp2(id_a, id_b, cos_bp)` — shared by q_embed_neardup and the
    * q_embed_pipeline drop-set.
    */
  private lazy val duckNearDupCtes: String = {
    val bucket = SimOps.signBucketSql("e", "(SELECT b FROM nbits)")
    s"base AS (${duckPlantedVectors("embedding, label")}), " +
      s"nbits AS ${SimOps.autoSignBitsSql("base")}, " +
      "egrp AS (SELECT embedding, min(vec_id) AS rep FROM base GROUP BY embedding), " +
      s"$duckMemberCte, ${duckNormCte("nrep", "egrp", "rep AS vec_id")}, " +
      s"nb AS (SELECT *, $bucket AS bucket FROM nrep), " +
      "ncap AS (SELECT vec_id, e, nrm, bucket FROM (SELECT *, row_number() " +
      "OVER (PARTITION BY bucket ORDER BY vec_id) AS rk FROM nb) " +
      s"WHERE rk <= ${DedupOps.DefaultMaxBucket}), " +
      "rp2 AS (SELECT * FROM (SELECT a.vec_id AS ra, b.vec_id AS rb, " +
      s"$duckPairCosBp AS cos_bp " +
      "FROM ncap a JOIN ncap b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) " +
      s"WHERE cos_bp >= 4000), ${duckReattachCtes("2")}, " +
      "vp2 AS (SELECT * FROM crossp2 UNION ALL SELECT * FROM intra2)"
  }

  /** Corpus-derived plant stride mirror (DedupOps.plantStep): planted ids
    * sit above every real id at any corpus scale — the r13 ×20+ replica
    * collision fix, mirrored on both engines.
    */
  private val duckDocStep = DedupOps.plantStepSql("documents", "doc_id")

  /** DuckDB CTE body matching [[DedupOps.plantedCorpus]]. */
  private val duckCorpus =
    "SELECT doc_id, text FROM documents " +
      s"UNION ALL SELECT doc_id + $duckDocStep AS doc_id, text FROM documents WHERE doc_id % 10 = 0 " +
      s"UNION ALL SELECT doc_id + 2 * $duckDocStep AS doc_id, text || ' graftdup' AS text " +
      "FROM documents WHERE doc_id % 10 = 5"

  /** DuckDB CTE body matching [[DedupOps.plantedSpliceCorpus]]: documents
    * plus a (10 filler + parent tokens 4..63 + 5 filler) splice doc for
    * every doc ≡ 7 (mod 10) with ≥ 63 tokens.
    */
  private val duckSpliceCorpus =
    "SELECT doc_id, text FROM documents " +
      s"UNION ALL SELECT pid + 4 * $duckDocStep AS doc_id, array_to_string(" +
      "list_transform(range(1, 11), i -> 'zqa' || pid || 'x' || i) || " +
      "t[4:63] || " +
      "list_transform(range(1, 6), i -> 'zqb' || pid || 'x' || i), ' ') AS text " +
      s"FROM (SELECT doc_id AS pid, $duckToks AS t FROM documents WHERE doc_id % 10 = 7) " +
      "WHERE len(t) >= 63"

  /** DuckDB CTE chain mirroring DedupOps.exactSubstringSpans over the
    * splice corpus: 20-gram positional hashes, occurrence-capped postings,
    * cross-doc pairing, diagonal run coalescing. Ends in `s` = the
    * maximal-span table (id_a, id_b, pos_a, pos_b, span_len), and keeps
    * `t` (doc_id, token list) in scope — shared by q_dedup_substring and
    * the q_dedup_strike edit pass.
    */
  private val duckSubstringCtes =
    s"corpus AS ($duckSpliceCorpus), " +
      s"t AS (SELECT doc_id, $duckToks AS t FROM corpus), " +
      "gr AS (SELECT doc_id, " +
      "unnest(range(1, greatest(len(t) - 18, 1))) AS pos, " +
      "unnest(list_transform(range(1, greatest(len(t) - 18, 1)), " +
      "i -> array_to_string(t[i:i+19], ' '))) AS g FROM t), " +
      s"gh AS (SELECT doc_id, pos, ${StableHash.hash60Sql("g")} AS gh FROM gr), " +
      "ok AS (SELECT gh FROM gh GROUP BY gh " +
      s"HAVING count(*) > 1 AND count(*) <= ${DedupOps.DefaultMaxBucket}), " +
      "m AS (SELECT a.doc_id AS id_a, a.pos AS pos_a, " +
      "b.doc_id AS id_b, b.pos AS pos_b " +
      "FROM gh a JOIN gh b ON a.gh = b.gh AND a.doc_id < b.doc_id " +
      "JOIN ok ON ok.gh = a.gh), " +
      "r AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b, " +
      "pos_a - pos_b ORDER BY pos_a) AS rn FROM m), " +
      "s AS (SELECT id_a, id_b, min(pos_a) AS pos_a, min(pos_b) AS pos_b, " +
      "CAST(count(*) + 19 AS BIGINT) AS span_len " +
      "FROM r GROUP BY id_a, id_b, pos_a - pos_b, pos_a - rn)"

  /** DuckDB mirror of [[graft.operators.DedupOps.plantedQuoteCorpus]]:
    * [[duckCorpus]] plus the first ⌊2n/5⌋-token prefix (min 1) of every doc
    * ≡ 3 (mod 10) as a planted quote (id + 3·plantStep).
    */
  private val duckQuoteCorpus =
    duckCorpus +
      s" UNION ALL SELECT doc_id + 3 * $duckDocStep AS doc_id, " +
      "array_to_string(list_slice(t, 1, greatest(1, CAST(floor(len(t) * 2.0 / 5) AS INT))), ' ') AS text " +
      s"FROM (SELECT doc_id, $duckToks AS t FROM documents WHERE doc_id % 10 = 3)"

  /** The PQ squared distance of subvector `v.sub` to codeword `c.ce`, in
    * the engine's `x·x − 2x·c + c·c` expansion.
    */
  private val duckPqD2 =
    "list_dot_product(v.sub, v.sub) - 2.0 * list_dot_product(v.sub, c.ce) " +
      "+ list_dot_product(c.ce, c.ce)"

  /** [[SimOps.productQuantizeWith]]'s encoding of subvectors
    * `subs(vec_id, s, sub)` against codebook `cb(s, c_id, ce)`: `r` ranks
    * each subvector's codewords by squared distance (ties to the lower id).
    */
  private def duckPqEncodeCtes(subs: String): String =
    s"p AS (SELECT v.vec_id, v.s, c.c_id, $duckPqD2 AS d2 " +
      s"FROM $subs v JOIN cb c ON v.s = c.s), " +
      "r AS (SELECT vec_id, s, c_id, d2, row_number() OVER (PARTITION BY vec_id, s " +
      "ORDER BY d2, c_id) AS rn FROM p)"

  /** Per vector: its subvector count, the 3-bit-per-subspace code word and
    * the bp-summed squared reconstruction error, over [[duckPqEncodeCtes]].
    */
  private val duckPqCodeSelect =
    "SELECT vec_id, CAST(count(*) AS BIGINT) AS n_subs, " +
      "CAST(sum(c_id * (1::BIGINT << (3 * s))) AS BIGINT) AS code_word, " +
      s"CAST(sum(${TextOps.roundBpSql("d2")}) AS BIGINT) AS l2sq_err_bp " +
      "FROM r WHERE rn = 1 GROUP BY vec_id"

  /** DuckDB CTE chain matching [[SimOps.refinePqCodebooks]] (m=4, subDim=16,
    * seed `vec_id < 8`, one Lloyd round): yields `sb(vec_id, s, sub)` —
    * every vector's subvectors — and the refined codebook `cb(s, c_id, ce)`.
    * Mirrors the engine's bp-integer sums + single division exactly.
    */
  private val duckPqRefineCtes =
    "ee AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings), " +
      "ss AS (SELECT unnest(range(0, 4)) AS s), " +
      "sb AS (SELECT vec_id, s, list_slice(ev, s * 16 + 1, s * 16 + 16) AS sub FROM ee, ss), " +
      "cb0 AS (SELECT s, vec_id AS c_id, list_slice(ev, s * 16 + 1, s * 16 + 16) AS ce " +
      "FROM ee, ss WHERE vec_id < 8), " +
      s"pq0 AS (SELECT v.vec_id, v.s, c.c_id, v.sub, $duckPqD2 AS d2 " +
      "FROM sb v JOIN cb0 c ON v.s = c.s), " +
      "pqa0 AS (SELECT s, c_id, sub FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY vec_id, s ORDER BY d2, c_id) AS rn FROM pq0) WHERE rn = 1), " +
      "pqz AS (SELECT s, c_id, unnest(sub) AS v, unnest(range(1, len(sub) + 1)) AS pos FROM pqa0), " +
      "pqsm AS (SELECT s, c_id, pos, sum(CAST(floor(v * 10000.0 + 0.5) AS BIGINT)) AS sm, " +
      "count(*) AS cnt FROM pqz GROUP BY s, c_id, pos), " +
      "cb1 AS (SELECT s, c_id, list(CAST(sm AS DOUBLE) / (cnt * 10000.0) ORDER BY pos) AS ce " +
      "FROM pqsm GROUP BY s, c_id), " +
      "cb AS (SELECT cb0.s, cb0.c_id, coalesce(cb1.ce, cb0.ce) AS ce " +
      "FROM cb0 LEFT JOIN cb1 ON cb0.s = cb1.s AND cb0.c_id = cb1.c_id)"

  /** Shared IVF-PQ oracle CTE chain through the ADC scores `sc(q_id,
    * vec_id, adc_bp)`, parameterized by the CTE chain that produces the
    * coarse centroid table `c(c_id, ce, cn)` from `n` — the sampled
    * one-liner for q_sim_ivfpq, the Lloyd-refinement chain for
    * q_sim_ivfpq_kmeans. Probe, PQ refinement via [[duckPqRefineCtes]],
    * codes and ADC are shared; the shortlist cut + exact rerank tail
    * differs between the top-k queries ([[duckIvfPqSql]]) and the
    * recall audit (q_recall_audit_ivfpq, which sweeps the cut).
    */
  private def duckIvfPqScoreCtes(coarseCtes: String): String =
    s"WITH ${duckNormCte("n", "embeddings")}, $coarseCtes, " +
      s"$duckFlatAssignCtes, $duckProbeCte, $duckPqRefineCtes, " +
      "codes AS (SELECT vec_id, s, c_id AS pq_id FROM (SELECT v.vec_id, v.s, c.c_id, " +
      s"row_number() OVER (PARTITION BY v.vec_id, v.s ORDER BY $duckPqD2, c.c_id) AS rn " +
      "FROM sb v JOIN cb c ON v.s = c.s) WHERE rn = 1), " +
      "adc AS (SELECT v.vec_id AS q_id, v.s, c.c_id AS pq_id, " +
      "list_dot_product(v.sub, c.ce) AS ip FROM sb v JOIN cb c ON v.s = c.s " +
      s"WHERE v.vec_id < 5), $duckQueryCte, " +
      "sc AS (SELECT pr.q_id, a.vec_id, " +
      s"CAST(sum(${TextOps.roundBpSql("adc.ip / (q.qn * a.nrm)")}) AS BIGINT) AS adc_bp " +
      "FROM pr JOIN asg a ON pr.c_id = a.c_id " +
      "JOIN codes ON codes.vec_id = a.vec_id " +
      "JOIN adc ON adc.q_id = pr.q_id AND adc.s = codes.s AND adc.pq_id = codes.pq_id " +
      "JOIN q ON q.q_id = pr.q_id WHERE a.vec_id <> pr.q_id " +
      "GROUP BY pr.q_id, a.vec_id)"

  /** Full IVF-PQ top-k oracle SQL: [[duckIvfPqScoreCtes]] + the fixed
    * 32-deep shortlist cut and exact-cosine rerank.
    */
  private def duckIvfPqSql(coarseCtes: String): String =
    duckIvfPqScoreCtes(coarseCtes) + ", " +
      "sl AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER (PARTITION BY q_id " +
      "ORDER BY adc_bp DESC, vec_id) AS srn FROM sc) WHERE srn <= 32), " +
      "pp AS (SELECT sl.q_id, sl.vec_id, " +
      "list_dot_product(q.qe, n.e) / (q.qn * n.nrm) AS cos " +
      s"FROM sl JOIN n USING (vec_id) JOIN q ON q.q_id = sl.q_id), ${duckRankCte("pp")} " +
      duckTopKSelect

  /** The q_sim_ivf_kmeans coarse-refinement chain, reused by
    * q_sim_ivfpq_kmeans: one bp-integer Lloyd round over the sampled
    * centroids, yielding the refined `c(c_id, ce, cn)`.
    */
  private val duckKmeansCoarseCtes =
    s"${duckSeedCte("c0", "n", duckFixtureCells)}, " +
      s"${duckArgmaxCte("a0", "c0")}, ${duckLloydCtes("a0")}"

  /** lineitem in total (price, order, line) order. */
  private val duckTotalOrderSql =
    "SELECT * FROM lineitem ORDER BY l_extendedprice, l_orderkey, l_linenumber"

  /** The three highest-priced lines per supplier. */
  private val duckTop3PerSupplierSql =
    "SELECT l_suppkey, rn, l_orderkey, l_linenumber, l_extendedprice FROM (" +
      "SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, " +
      "row_number() OVER (PARTITION BY l_suppkey " +
      "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn " +
      "FROM lineitem) WHERE rn <= 3 ORDER BY l_suppkey, rn"

  /** Orders joined to their customers, in order-key order. */
  private val duckOrderCustomerSql =
    "SELECT o_orderkey, c_custkey, c_name, o_totalprice AS price " +
      "FROM orders JOIN customer ON o_custkey = c_custkey " +
      "ORDER BY o_orderkey"

  /** Sessions per user: a new session after a gap over 30 minutes. */
  private val duckSessionsSql =
    "WITH e AS (SELECT user_id, epoch_us(ts) AS us, " +
      "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
      "FROM events), " +
      "s AS (SELECT user_id, CASE WHEN prev IS NULL OR us - prev > 1800000000 " +
      "THEN 1 ELSE 0 END AS is_new FROM e) " +
      "SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, " +
      "CAST(count(*) AS BIGINT) AS n_events " +
      "FROM s GROUP BY user_id ORDER BY user_id"

  /** The order keys as the int file's sorted values. */
  private val duckTextIntSql = "SELECT CAST(l_orderkey AS INT) AS value FROM lineitem ORDER BY value"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. A rule several oracles state is one
    * fragment above, interpolated by each.
    */
  def oracleSql: Map[String, String] = Map(
    "q_sort_total" -> duckTotalOrderSql,
    "q_sort_runs" ->
      ("SELECT *, l_orderkey % 16 AS run_id FROM lineitem " +
        "ORDER BY run_id, l_extendedprice, l_orderkey, l_linenumber"),
    // Range-disjoint runs cover every row exactly once, so the merged result
    // is the full table in total order.
    "q_merge_union" -> duckTotalOrderSql,
    "q_topk" ->
      ("SELECT * FROM lineitem " +
        "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100"),
    "q_chunk_stats" ->
      ("SELECT l_orderkey % 16 AS bucket, CAST(count(*) AS BIGINT) AS n_rows " +
        "FROM lineitem GROUP BY bucket ORDER BY bucket"),
    "q_textint_roundtrip" -> duckTextIntSql,
    "q_textint_v2" -> duckTextIntSql,
    "q_orc_roundtrip" ->
      ("SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_lines, " +
        "round(sum(l_quantity), 2) AS sum_qty FROM lineitem " +
        "WHERE l_returnflag = 'A' GROUP BY l_partkey ORDER BY l_partkey"),
    "q_jsonl_roundtrip" ->
      "SELECT doc_id, length(text) AS n_chars, lang FROM documents ORDER BY doc_id",
    "q_csv_roundtrip" ->
      ("SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines, " +
        "round(sum(l_quantity), 2) AS sum_qty FROM lineitem " +
        "GROUP BY l_orderkey ORDER BY l_orderkey"),
    "q_filter_project" ->
      ("SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem " +
        "WHERE l_shipdate < TIMESTAMP '1998-01-01' AND l_discount > 0.05 " +
        "ORDER BY l_orderkey, l_linenumber"),
    "q_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
        "round(avg(l_discount), 6) AS avg_disc, " +
        "CAST(count(*) AS BIGINT) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    // same shape as q_agg; n_rows/count recombined from salted partials
    "q_agg_salted" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
        "round(sum(l_discount) / count(*), 6) AS avg_disc, " +
        "CAST(count(*) AS BIGINT) AS count_order " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    "q_join" ->
      ("SELECT n_name, o_orderpriority, " +
        "CAST(count(*) AS BIGINT) AS n_orders, " +
        "round(sum(o_totalprice), 2) AS sum_totalprice " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY n_name, o_orderpriority ORDER BY n_name, o_orderpriority"),
    // the salt routes rows but never reaches the result, so the oracle is
    // simply the unsalted join
    "q_join_salted" -> duckOrderCustomerSql,
    "q_window" -> duckTop3PerSupplierSql,
    "q_distinct" ->
      ("SELECT DISTINCT l_partkey, l_suppkey FROM lineitem " +
        "ORDER BY l_partkey, l_suppkey"),
    // identical semantics to q_window — deliberately the same oracle
    "q_topk_groups" -> duckTop3PerSupplierSql,
    "q_pivot" ->
      ("SELECT l_returnflag, " +
        "CAST(count(*) FILTER (l_linestatus = 'F') AS BIGINT) AS F_n, " +
        "round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'F'), 0), 2) AS F_qty, " +
        "CAST(count(*) FILTER (l_linestatus = 'O') AS BIGINT) AS O_n, " +
        "round(coalesce(sum(l_quantity) FILTER (l_linestatus = 'O'), 0), 2) AS O_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q_rollup" ->
      ("SELECT coalesce(l_returnflag, '(all)') AS rflag, " +
        "coalesce(l_linestatus, '(all)') AS lstatus, " +
        "CAST(count(*) AS BIGINT) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
        "ORDER BY rflag, lstatus"),
    "q_cube" ->
      ("SELECT coalesce(l_returnflag, '(all)') AS rflag, " +
        "coalesce(l_linestatus, '(all)') AS lstatus, " +
        "CAST(count(*) AS BIGINT) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
        "ORDER BY rflag, lstatus"),
    // mirrors q_merge_upsert: change keys own their rows; D drops, U/I add
    "q_merge_upsert" ->
      ("WITH base AS (SELECT c_custkey, c_name, c_acctbal FROM customer), " +
        "chg AS (" +
        "SELECT c_custkey, c_name, c_acctbal, 'D' AS op FROM base WHERE c_custkey % 10 = 0 " +
        "UNION ALL SELECT c_custkey, c_name || '*' AS c_name, c_acctbal + 100.0 AS c_acctbal, " +
        "'U' AS op FROM base WHERE c_custkey % 10 = 1 " +
        "UNION ALL SELECT c_custkey + 1000000 AS c_custkey, " +
        "'new_' || CAST(c_custkey AS VARCHAR) AS c_name, c_acctbal, 'I' AS op " +
        "FROM base WHERE c_custkey % 10 = 2) " +
        "SELECT c_custkey, c_name, c_acctbal FROM base " +
        "WHERE c_custkey NOT IN (SELECT c_custkey FROM chg) " +
        "UNION ALL SELECT c_custkey, c_name, c_acctbal FROM chg WHERE op <> 'D' " +
        "ORDER BY c_custkey"),
    "q_sql_grouping_sets" ->
      ("SELECT coalesce(l_returnflag, '(all)') AS rflag, " +
        "coalesce(l_linestatus, '(all)') AS lstatus, " +
        "CAST(count(*) AS BIGINT) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ()) " +
        "ORDER BY rflag, lstatus"),
    "q_set_ops" ->
      ("WITH li AS (SELECT DISTINCT l_partkey AS k FROM lineitem), " +
        "pa AS (SELECT p_partkey AS k FROM part WHERE p_size > 25) " +
        "SELECT 'both' AS src, k FROM (SELECT k FROM li INTERSECT SELECT k FROM pa) " +
        "UNION ALL " +
        "SELECT 'lineitem_only' AS src, k FROM (SELECT k FROM li EXCEPT SELECT k FROM pa) " +
        "ORDER BY src, k"),
    "q_semi_join" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "ORDER BY c_custkey"),
    "q_anti_join" ->
      ("SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders " +
        "WHERE o_custkey = c_custkey AND o_totalprice > 300000) " +
        "ORDER BY c_custkey"),
    "q_date_math" ->
      ("SELECT o_orderkey, year(o_orderdate) AS yr, month(o_orderdate) AS mo, " +
        "day(o_orderdate) AS dom, " +
        "date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS days_since, " +
        "(o_orderdate::DATE + 30)::VARCHAR AS deadline, " +
        s"${TextOps.roundBpSql("sqrt(o_totalprice)")} AS sqrt_price_bp, " +
        "o_orderkey % 7 AS bucket7 " +
        "FROM orders ORDER BY o_orderkey"),
    "q_text_tokens" ->
      (s"WITH tok AS (SELECT unnest($duckToks) AS token FROM documents) " +
        "SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok " +
        "GROUP BY token ORDER BY token"),
    "q_text_stats" ->
      (s"SELECT doc_id, len($duckToks) AS n_tokens, " +
        s"len(list_distinct($duckToks)) AS n_distinct_tokens, " +
        "length(text) AS n_chars_raw, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS n_bpeish_tokens " +
        "FROM documents ORDER BY doc_id"),
    "q_doc_fingerprints" ->
      (s"WITH d AS (SELECT doc_id, $duckToks AS t FROM documents) " +
        "SELECT doc_id, md5(array_to_string(t, ' ')) AS fp_md5, " +
        s"list_min(list_transform($duckShingles3, s -> ${StableHash.hash60Sql("s")})) " +
        "AS fp_min_shingle FROM d ORDER BY doc_id"),
    "q_lang_id" ->
      (s"WITH $duckDocToks, ${duckLangScoreCtes("doc_id")} " +
        s"SELECT doc_id, $duckLangPred AS lang_pred FROM m ORDER BY doc_id"),
    // mirrors TextOps.langConfusion: the q_lang_id ladder with the actual
    // lang carried through, matrix shares in bp
    "q_lang_confusion" -> (
      s"WITH d AS (SELECT lang, $duckToks AS t FROM documents), ${duckLangScoreCtes("lang")}, " +
        s"p AS (SELECT lang AS lang_actual, $duckLangPred AS lang_pred FROM m), " +
        "g AS (SELECT lang_actual, lang_pred, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM p GROUP BY lang_actual, lang_pred), " +
        "w AS (SELECT *, CAST(sum(n_docs) OVER (PARTITION BY lang_actual) AS BIGINT) " +
        "AS total FROM g) " +
        "SELECT lang_actual, lang_pred, n_docs, " +
        "CAST(n_docs * 10000 // total AS BIGINT) AS share_bp " +
        "FROM w ORDER BY lang_actual, lang_pred"),
    // mirrors SimOps.classPrototypes: range-indexed unnest, bp-quantized
    // component means as integer division
    "q_embed_prototypes" ->
      ("WITH ex AS (SELECT CAST(label AS BIGINT) AS label, " +
        "embedding::DOUBLE[] AS e, unnest(range(1, len(embedding) + 1)) AS dim " +
        "FROM embeddings), " +
        s"q AS (SELECT label, CAST(dim AS BIGINT) AS dim, " +
        s"${TextOps.roundBpSql("e[dim]")} AS x_bp FROM ex) " +
        "SELECT label, dim, CAST(count(*) AS BIGINT) AS n_vecs, " +
        "CAST(floor(sum(x_bp)::DOUBLE / count(*)) AS BIGINT) AS mean_bp " +
        "FROM q GROUP BY label, dim ORDER BY label, dim"),
    "q_quality" ->
      (s"WITH $duckDocToks, ${duckQualityCte("d")} " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        s"${TextOps.roundBpSql("nd / n")} AS distinct_bp, " +
        s"${TextOps.roundBpSql("ns / n")} AS stopword_bp, " +
        s"$duckQualityBp AS quality_bp FROM f ORDER BY doc_id"),
    // mirrors TextOps.packCurriculum: the q_quality scorer feeding a
    // running token offset in (quality desc, doc_id) order, floored into
    // budget-512 sequences (the oracle's single global window IS the
    // order the engine realizes with the two-level decomposition)
    "q_pack_curriculum" ->
      (s"WITH $duckDocToks, ${duckQualityCte("d")}, " +
        s"q AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, $duckQualityBp AS quality_bp FROM f), " +
        "p AS (SELECT *, coalesce(sum(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before FROM q), " +
        "s AS (SELECT *, CAST(before // 512 AS BIGINT) AS seq_id FROM p) " +
        "SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(max(quality_bp) AS BIGINT) AS max_quality_bp, " +
        "CAST(min(quality_bp) AS BIGINT) AS min_quality_bp " +
        "FROM s GROUP BY seq_id ORDER BY seq_id"),
    // mirrors q_quality_linreg: HUGEINT normal-equation moments, the same
    // Cramer cofactor strings as the Spark plan, weights as exact
    // rational strings
    "q_quality_linreg" -> StatsOps.linregFitSql(
      s"SELECT len(t) AS x1, len(list_filter(t, $duckIsStop)) AS x2, " +
        s"n_chars AS y FROM (SELECT $duckToks AS t, n_chars FROM documents) WHERE len(t) > 0"),
    // mirrors q_dsir_score: same hashed-bigram bucket models, HUGEINT
    // cross-products, floored bp division, [1, 10x] clamp
    "q_dsir_score" -> TextOps.dsirScoresSql("lang = 'en'"),
    "q_mix_weights" ->
      ("WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY lang) " +
        "SELECT lang, n_docs, " +
        s"${TextOps.roundBpSql("CAST(sum(n_docs) OVER () AS DOUBLE) / (count(*) OVER ()) / n_docs")} " +
        "AS weight_bp FROM c ORDER BY lang"),
    // mirrors SampleOps.temperatureMix: sqrt is IEEE-exact on both
    // engines; the cross-stratum double sum runs in explicit lang order
    "q_mix_temperature" ->
      ("WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY lang), " +
        "w AS (SELECT lang, n_docs, " +
        "CAST(sum(n_docs) OVER () AS BIGINT) AS total, " +
        "sqrt(CAST(n_docs AS DOUBLE)) AS s, " +
        "sum(sqrt(CAST(n_docs AS DOUBLE))) OVER (ORDER BY lang " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s_sum FROM c) " +
        "SELECT lang, n_docs, " +
        "CAST(n_docs * 10000 // total AS BIGINT) AS share_bp, " +
        s"${TextOps.roundBpSql("s / s_sum")} AS target_bp, " +
        s"${TextOps.roundBpSql("s * total / (s_sum * n_docs)")} AS weight_bp " +
        "FROM w ORDER BY lang"),
    // mirrors SampleOps.realizeMixture: temperatureMix quotas (floored
    // bp share of total=200) gating the per-lang id-hash ranking
    "q_mix_sample" ->
      ("WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM documents GROUP BY lang), " +
        "w AS (SELECT lang, n_docs, " +
        "sqrt(CAST(n_docs AS DOUBLE)) AS s, " +
        "sum(sqrt(CAST(n_docs AS DOUBLE))) OVER (ORDER BY lang " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS s_sum FROM c), " +
        s"q AS (SELECT lang, (200 * ${TextOps.roundBpSql("s / s_sum")}) // 10000 " +
        "AS quota FROM w), " +
        "h AS (SELECT lang, doc_id, " +
        s"${StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h FROM documents), " +
        "r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY h, doc_id) AS rank FROM h) " +
        "SELECT r.lang, CAST(rank AS BIGINT) AS rank, doc_id " +
        "FROM r JOIN q ON r.lang = q.lang WHERE rank <= quota " +
        "ORDER BY r.lang, rank"),
    "q_sample_stratified" ->
      (s"WITH h AS (SELECT lang, doc_id, " +
        s"${StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} AS h FROM documents), " +
        "r AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang " +
        "ORDER BY h, doc_id) AS rn FROM h) " +
        "SELECT lang, rn, doc_id FROM r WHERE rn <= 5 ORDER BY lang, rn"),
    // mirrors SampleOps.prioritySample (bp(w)·2^60 div (h+1) priorities —
    // weights quantized to basis points so fractional scores stay nonzero);
    // least(pri, Long.MaxValue) mirrors the engine's overflow clamp so even
    // the multi-overflow rank order agrees across all three paths
    "q_sample_priority" ->
      (s"WITH p AS (SELECT doc_id, n_chars, " +
        s"least((${TextOps.roundBpSql("n_chars")}::HUGEINT * (1::HUGEINT << 60)) // " +
        s"(${StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} + 1), " +
        "9223372036854775807::HUGEINT) AS pri " +
        "FROM documents), " +
        "r AS (SELECT doc_id, n_chars, row_number() OVER " +
        "(ORDER BY pri DESC, doc_id) AS rank FROM p) " +
        "SELECT rank, doc_id, n_chars FROM r WHERE rank <= 100 ORDER BY rank"),
    // mirrors SampleOps.prioritySampleByGroup: same priority, ranked per source
    "q_sample_priority_group" ->
      (s"WITH p AS (SELECT source, doc_id, n_chars, " +
        s"least((${TextOps.roundBpSql("n_chars")}::HUGEINT * (1::HUGEINT << 60)) // " +
        s"(${StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} + 1), " +
        "9223372036854775807::HUGEINT) AS pri " +
        "FROM documents), " +
        "r AS (SELECT source, doc_id, n_chars, row_number() OVER " +
        "(PARTITION BY source ORDER BY pri DESC, doc_id) AS rank FROM p) " +
        "SELECT source, rank, doc_id, n_chars FROM r WHERE rank <= 10 " +
        "ORDER BY source, rank"),
    // mirrors SampleOps.weightedSample over the q_quality scorer
    "q_sample_weighted" ->
      (s"WITH $duckDocToks, ${duckQualityCte("d")}, " +
        s"q AS (SELECT doc_id, $duckQualityBp AS quality_bp FROM f) " +
        "SELECT doc_id, quality_bp FROM q " +
        s"WHERE ${StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 10000 < quality_bp " +
        "ORDER BY doc_id"),
    // mirrors TextOps.piiRedact over TextOps.plantedPii: same regexes
    // (RE2 ∩ Java dialect), same replacement order, 'g' for global
    "q_text_redact" ->
      ("WITH pc AS (SELECT doc_id, CASE WHEN doc_id % 50 = 0 " +
        "THEN text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com call 555-123-4567 acct 900123456780' " +
        "ELSE text END AS text FROM documents) " +
        "SELECT doc_id, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones, " +
        s"CAST(len(regexp_extract_all(text, '${TextOps.IdRe}')) AS BIGINT) AS n_ids, " +
        "md5(regexp_replace(regexp_replace(regexp_replace(text, " +
        s"'${TextOps.EmailRe}', '<EMAIL>', 'g'), " +
        s"'${TextOps.PhoneRe}', '<PHONE>', 'g'), " +
        s"'${TextOps.IdRe}', '<ID>', 'g')) AS fp_md5 " +
        "FROM pc ORDER BY doc_id"),
    // mirrors TextOps.gopherQuality: scalar rules from the token list,
    // top-2-gram coverage via unnest + per-doc top-1 window
    "q_quality_gopher" -> duckGopherSql,
    // mirrors TextOps.lmSurprisal
    "q_lm_surprisal" ->
      (s"WITH tok AS (SELECT doc_id, unnest($duckToks) AS tok FROM documents), " +
        "v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok), " +
        "n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v), " +
        "sp AS (SELECT doc_id, (n_total * 10000) // cnt AS s " +
        "FROM tok JOIN v USING (tok) CROSS JOIN n) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum(s) // count(*) AS BIGINT) AS avg_surprisal_bp " +
        "FROM sp GROUP BY doc_id ORDER BY doc_id"),
    // mirrors TextOps.sourceScorecard: the gopher oracle as a CTE, rolled
    // up per source with integer-div means
    "q_source_stats" ->
      (s"WITH gq AS ($duckGopherSql) " +
        "SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(gq.n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(sum(gopher_pass) AS BIGINT) AS n_pass, " +
        "CAST(sum(mean_word_len_bp) // count(*) AS BIGINT) AS mean_word_len_bp, " +
        "CAST(sum(rep_2gram_bp) // count(*) AS BIGINT) AS mean_rep_2gram_bp " +
        "FROM gq JOIN documents d ON gq.doc_id = d.doc_id " +
        "GROUP BY d.source ORDER BY d.source"),
    // mirrors TextOps.bigramSurprisal: corpus bigram table + prefix mass,
    // inverse conditional in bp, per-doc integer mean
    "q_bigram_surprisal" ->
      (s"WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        s"b AS (SELECT doc_id, unnest($duckShingles2) AS bg FROM tk), " +
        "c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n12 FROM b GROUP BY bg), " +
        "cw AS (SELECT bg, n12, string_split(bg, ' ')[1] AS w1 FROM c), " +
        "p AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM cw GROUP BY w1), " +
        "s AS (SELECT bg, (n1 * 10000) // n12 AS s FROM cw JOIN p USING (w1)) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(s) // count(*) AS BIGINT) AS avg_surprisal_bp " +
        "FROM b JOIN s USING (bg) GROUP BY doc_id ORDER BY doc_id"),
    // mirrors TextOps.perplexityBuckets: lmSurprisal's per-doc score
    // carried with lang, tercile cut by competition rank (SQL rank(),
    // which the histogram-rank computes exactly)
    "q_ccnet_buckets" ->
      (s"WITH tok AS (SELECT doc_id, lang, unnest($duckToks) AS tok FROM documents), " +
        "v AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY tok), " +
        "n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v), " +
        "sp AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens, " +
        "CAST(sum((n_total * 10000) // cnt) // count(*) AS BIGINT) AS surprisal_bp " +
        "FROM tok JOIN v USING (tok) CROSS JOIN n GROUP BY doc_id, lang), " +
        "r AS (SELECT *, CAST(rank() OVER (PARTITION BY lang ORDER BY surprisal_bp) " +
        "AS BIGINT) AS rnk, CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) " +
        "AS n_lang FROM sp) " +
        "SELECT lang, doc_id, n_tokens, surprisal_bp, " +
        "CASE WHEN rnk * 3 <= n_lang THEN 'head' " +
        "WHEN rnk * 3 <= n_lang * 2 THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM r ORDER BY lang, doc_id"),
    // mirrors TextOps.plantHtml + htmlExtract: identical wrapper rebuilt
    // from (id, text); strip tags ('g' flag — Spark's regexp_replace is
    // global by default), decode entities innermost-first, collapse
    // whitespace, md5 the result
    "q_text_extract" ->
      ("WITH h AS (SELECT doc_id, '<html><head><title>doc ' || doc_id || " +
        "'</title></head><body><h1>Doc ' || doc_id || '</h1><p>' || " +
        "replace(text, ' merge ', ' <b>merge</b> ') || " +
        "'</p><footer>copy &amp; share &lt;freely&gt;</footer></body></html>' " +
        "AS html FROM documents), " +
        "s AS (SELECT doc_id, html, " +
        "regexp_replace(html, '<[^>]*>', ' ', 'g') AS stripped FROM h), " +
        "c AS (SELECT doc_id, html, trim(regexp_replace(" +
        "replace(replace(replace(stripped, '&lt;', '<'), '&gt;', '>'), '&amp;', '&'), " +
        "'\\s+', ' ', 'g')) AS clean FROM s) " +
        "SELECT doc_id, CAST(length(clean) AS BIGINT) AS clean_len, " +
        "CAST(length(html) - length(replace(html, '<', '')) AS BIGINT) AS n_tags, " +
        "md5(clean) AS clean_md5 FROM c ORDER BY doc_id"),
    // mirrors TextOps.kneserNeyScore: interpolated KN with D=3/4, the
    // exact rational carried in HUGEINT (Spark: decimal(38,0)) floored
    // to bp; n1r/n1l are distinct-follower/predecessor counts off the
    // same bigram table, T the distinct-type total
    "q_kn_score" ->
      (s"WITH tk AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        s"b AS (SELECT doc_id, unnest($duckShingles2) AS bg FROM tk), " +
        "c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n12 FROM b GROUP BY bg), " +
        "cw AS (SELECT bg, n12, string_split(bg, ' ')[1] AS w1, " +
        "string_split(bg, ' ')[2] AS w2 FROM c), " +
        "p AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1, " +
        "CAST(count(*) AS BIGINT) AS n1r FROM cw GROUP BY w1), " +
        "q AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1l FROM cw GROUP BY w2), " +
        "tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM c), " +
        "s AS (SELECT bg, CAST(((4*n12 - 3)::HUGEINT * t_types + " +
        "3::HUGEINT * n1r * n1l) * 10000 // (4::HUGEINT * n1 * t_types) " +
        "AS BIGINT) AS kn_bp FROM cw JOIN p USING (w1) JOIN q USING (w2) " +
        "CROSS JOIN tt) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, " +
        "CAST(sum(kn_bp) // count(*) AS BIGINT) AS avg_kn_bp " +
        "FROM b JOIN s USING (bg) GROUP BY doc_id ORDER BY doc_id"),
    // mirrors TextOps.qualityFusion: competition ranks are SQL rank()
    // exactly (ties share; Spark computes the same from value histograms),
    // Borda sum, per-source percentile of the fused rank in bp
    "q_quality_fusion" ->
      (s"WITH sig AS (SELECT source, doc_id, " +
        s"CAST(len($duckToks) AS BIGINT) AS n_tok, " +
        s"CAST(len(list_distinct($duckToks)) AS BIGINT) AS n_div, " +
        "CAST(length(text) AS BIGINT) AS n_chars FROM documents), " +
        "r AS (SELECT source, doc_id, " +
        "CAST(rank() OVER (PARTITION BY source ORDER BY n_tok DESC) AS BIGINT) AS r_tokens, " +
        "CAST(rank() OVER (PARTITION BY source ORDER BY n_div DESC) AS BIGINT) AS r_distinct, " +
        "CAST(rank() OVER (PARTITION BY source ORDER BY n_chars DESC) AS BIGINT) AS r_chars " +
        "FROM sig), " +
        "f AS (SELECT source, doc_id, r_tokens, r_distinct, r_chars, " +
        "r_tokens + r_distinct + r_chars AS borda FROM r), " +
        "g AS (SELECT *, CAST(rank() OVER (PARTITION BY source ORDER BY borda) - 1 " +
        "AS BIGINT) AS better_cnt, " +
        "CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src FROM f) " +
        "SELECT source, doc_id, r_tokens, r_distinct, r_chars, " +
        "CAST(borda AS BIGINT) AS borda, " +
        "CAST((n_src - better_cnt) * 10000 // n_src AS BIGINT) AS pct_bp " +
        "FROM g ORDER BY source, doc_id"),
    // mirrors TextOps.skipgramLift (window=2, minCount=5, k=30): offset
    // pairs via 1-based list indexing, lift in HUGEINT (Spark side:
    // decimal(38,0)) so frequent pairs can't overflow
    "q_skipgram_lift" ->
      (s"WITH tk AS (SELECT $duckToks AS toks FROM documents), " +
        "ex AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM tk), " +
        "pr AS (SELECT toks[i] AS x, toks[i + 1] AS y FROM ex WHERE i + 1 <= len(toks) " +
        "UNION ALL SELECT toks[i] AS x, toks[i + 2] AS y FROM ex WHERE i + 2 <= len(toks)), " +
        "cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM pr GROUP BY x, y), " +
        "cx AS (SELECT x, CAST(sum(c_xy) AS BIGINT) AS c_x FROM cxy GROUP BY x), " +
        "cy AS (SELECT y, CAST(sum(c_xy) AS BIGINT) AS c_y FROM cxy GROUP BY y), " +
        "nt AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_pairs FROM cxy) " +
        "SELECT x, y, c_xy, " +
        "CAST((c_xy::HUGEINT * n_pairs * 10000) // (c_x::HUGEINT * c_y) AS BIGINT) " +
        "AS lift_bp " +
        "FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN nt " +
        "WHERE c_xy >= 5 ORDER BY lift_bp DESC, x, y LIMIT 30"),
    // mirrors TextOps.tokenDiversity: per-(doc, token) counts re-aggregated;
    // empty docs come back via the left join as all-zero rows
    "q_token_diversity" ->
      (s"WITH tk AS (SELECT doc_id, $duckToks AS toks FROM documents), " +
        "ex AS (SELECT doc_id, unnest(toks) AS tok FROM tk), " +
        "c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM ex " +
        "GROUP BY doc_id, tok), " +
        "agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(count(*) AS BIGINT) AS n_distinct, " +
        "CAST(sum(c * c) AS BIGINT) AS sum_c2, " +
        "CAST(max(c) AS BIGINT) AS top_count FROM c GROUP BY doc_id) " +
        "SELECT tk.doc_id, CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(n_distinct, 0) AS BIGINT) AS n_distinct, " +
        "CAST(coalesce(sum_c2, 0) AS BIGINT) AS sum_c2, " +
        "CAST(coalesce(top_count, 0) AS BIGINT) AS top_count, " +
        "CAST(CASE WHEN coalesce(n_tokens, 0) = 0 THEN 0 " +
        "ELSE (n_tokens - n_distinct) * 10000 // n_tokens END AS BIGINT) AS rep_bp " +
        "FROM tk LEFT JOIN agg ON tk.doc_id = agg.doc_id ORDER BY tk.doc_id"),
    // mirrors TextOps.vocabCoverage (ks = 1,2,5,10,20,30): rank + running
    // sum over the vocab only, deterministic (n DESC, tok) tie-break
    "q_vocab_coverage" ->
      (s"WITH v AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM " +
        s"(SELECT unnest($duckToks) AS tok FROM documents) GROUP BY tok), " +
        "r AS (SELECT tok, n, " +
        "CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS k, " +
        "CAST(sum(n) OVER (ORDER BY n DESC, tok ROWS UNBOUNDED PRECEDING) AS BIGINT) " +
        "AS cum_n FROM v), " +
        "tot AS (SELECT CAST(sum(n) AS BIGINT) AS total_n FROM v) " +
        "SELECT k, tok AS kth_token, cum_n, total_n, " +
        "CAST(cum_n * 10000 // total_n AS BIGINT) AS coverage_bp " +
        "FROM r CROSS JOIN tot WHERE k IN (1, 2, 5, 10, 20, 30) ORDER BY k"),
    // mirrors TextOps.bm25 (k1=1.2, b=0.75, integer idf surrogate,
    // per-term bp rounding, top 20)
    "q_text_bm25" -> {
      val terms = duckInList(bm25Terms)
      val score = TextOps.roundBpSql(
        "CAST((n_docs * 10000) // df AS DOUBLE) * " +
          "((CAST(tf AS DOUBLE) * 2.2) / " +
          "(CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl))))")
      s"WITH d AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        "dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM d), " +
        "corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl FROM dl), " +
        "tok AS (SELECT doc_id, unnest(t) AS term FROM d), " +
        s"tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok " +
        s"WHERE term IN ($terms) GROUP BY 1, 2), " +
        "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        s"pt AS (SELECT tf.doc_id, $score AS term_bp FROM tf " +
        "JOIN dfreq USING (term) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN corpus), " +
        "sc AS (SELECT doc_id, CAST(sum(term_bp) AS BIGINT) AS score_bp FROM pt " +
        "GROUP BY doc_id ORDER BY score_bp DESC, doc_id LIMIT 20) " +
        "SELECT row_number() OVER (ORDER BY score_bp DESC, doc_id) AS rank, " +
        "doc_id, score_bp FROM sc ORDER BY rank"
    },
    // mirrors TextOps.phraseSearch: positional postings via the zipped
    // unnest/generate_subscripts pair (1-based), per-term position shift,
    // intersection on (doc, pos).
    "q_index_phrase" -> {
      val words = phraseTerms
      val joins = words.zipWithIndex.drop(1).map { case (w, i) =>
        s"JOIN tp p$i ON p$i.doc_id = p0.doc_id AND p$i.pos = p0.pos + $i " +
          s"AND p$i.term = '$w' "
      }.mkString
      s"WITH d AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        "tp AS (SELECT doc_id, unnest(t) AS term, " +
        "generate_subscripts(t, 1) AS pos FROM d) " +
        "SELECT p0.doc_id AS doc_id, CAST(count(*) AS BIGINT) AS n_hits, " +
        s"min(p0.pos) AS first_pos FROM tp p0 $joins" +
        s"WHERE p0.term = '${words.head}' GROUP BY 1 ORDER BY doc_id"
    },
    // mirrors TextOps.packSequences (budget 512)
    "q_pack_sequences" -> s"WITH $duckTokenLenCte, ${duckPackCtes()} $duckPackSelect",
    // mirrors TextOps.forgetBlastRadius: the q_pack_sequences assignment
    // chain joined to the q_dedup_forget tombstone rule, affected
    // sequences only
    "q_forget_blast" -> s"WITH $duckTokenLenCte, ${duckPackCtes()}, $duckBlastSql",
    // mirrors q_forget_blast_bpe: the q_pack_bpe count CTEs feeding the
    // q_forget_blast tombstone tail — same packer rule, post-BPE units
    "q_forget_blast_bpe" -> s"${duckBpeLenCtes("d")}, ${duckPackCtes()}, $duckBlastSql",
    // mirrors q_forget_audit — the compliance capstone: the four proven
    // oracle families combined in ONE WITH RECURSIVE (BPE counts + flat
    // packer from q_forget_blast_bpe, minhash+verified pairs with
    // bands/cand renamed to dodge the phash family's CTE names, the
    // phash pair chain, the sign-LSH pair chain), each modality running
    // the q_dedup_forget recursive closure tail, manifest aggregated per
    // modality
    "q_forget_audit" -> {
      // MATERIALIZED on every multiply-referenced expensive CTE: DuckDB
      // inlines CTEs by default, so without the hints each closure's 4
      // references to its pair source re-EXECUTE the whole upstream
      // chain (measured: >16 min for this oracle at sf0.01 inlined;
      // seconds materialized)
      val mh = (duckMinhashCtes + ", " + duckVerifiedPairsCte)
        .replaceAll("\\bbands\\b", "mhbands")
        .replaceAll("\\bcand\\b", "mhcand")
        .replace("vp AS (", "vp AS MATERIALIZED (")
      // the q_dedup_forget tail per modality, then the rebuild set
      // (tombstones ∪ rep-changed survivors) joined to the packed sequences
      def closure(pfx: String, pairSrc: String, tombCte: String): String =
        s"${duckForgetCtes(pairSrc, tombCte, pfx)}, " +
          s"${pfx}reb AS (SELECT doc_id FROM $tombCte " +
          s"UNION SELECT doc_id FROM ${pfx}out WHERE rep_changed = 1), " +
          s"${pfx}seqs AS MATERIALIZED (SELECT DISTINCT seq_id FROM fbb " +
          s"WHERE doc_id IN (SELECT doc_id FROM ${pfx}reb))"
      def row(name: String, pfx: String, tombCte: String): String =
        s"SELECT '$name' AS modality, " +
          s"CAST((SELECT count(*) FROM $tombCte) AS BIGINT) AS n_tombstones, " +
          s"CAST((SELECT count(*) FROM ${pfx}out) AS BIGINT) AS n_affected_survivors, " +
          s"CAST((SELECT coalesce(sum(rep_changed), 0) FROM ${pfx}out) AS BIGINT) " +
          "AS n_rep_changed, " +
          s"CAST((SELECT coalesce(sum(now_singleton), 0) FROM ${pfx}out) AS BIGINT) " +
          "AS n_now_singleton, " +
          s"CAST((SELECT count(*) FROM ${pfx}seqs) AS BIGINT) AS n_seqs_rebuild, " +
          "CAST((SELECT coalesce(sum(seq_tokens), 0) FROM fbseq " +
          s"WHERE seq_id IN (SELECT seq_id FROM ${pfx}seqs)) AS BIGINT) " +
          "AS rebuild_tokens, " +
          "CAST((SELECT coalesce(sum(n_tokens), 0) FROM fbb " +
          s"WHERE doc_id IN (SELECT doc_id FROM $tombCte)) AS BIGINT) AS tokens_lost"
      duckBpeLenCtes("fbd").replaceFirst("WITH ", "WITH RECURSIVE ")
        .replace("fbd AS (", "fbd AS MATERIALIZED (") + ", " +
        duckPackCtes("fbd", "fbr", "fbb").replace("fbb AS (", "fbb AS MATERIALIZED (") + ", " +
        "fbseq AS MATERIALIZED (SELECT seq_id, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens " +
        "FROM fbb GROUP BY seq_id), " +
        mh + ", " +
        "xtb AS MATERIALIZED (SELECT DISTINCT doc_id FROM corpus WHERE doc_id % 13 = 3), " +
        closure("x", "vp", "xtb") + ", " +
        duckPhashCtes.replace("pp AS (", "pp AS MATERIALIZED (") + ", " +
        "ytb AS MATERIALIZED (SELECT DISTINCT media_id AS doc_id FROM m WHERE media_id % 13 = 3), " +
        closure("y", "pp", "ytb") + ", " +
        duckNearDupCtes.replace("vp2 AS (", "vp2 AS MATERIALIZED (") + ", " +
        "ztb AS MATERIALIZED (SELECT DISTINCT vec_id AS doc_id FROM embeddings " +
        "WHERE vec_id % 100 = 0), " +
        closure("z", "vp2", "ztb") + " " +
        row("embed", "z", "ztb") + " UNION ALL " +
        row("media", "y", "ytb") + " UNION ALL " +
        row("text", "x", "xtb") +
        " ORDER BY modality"
    },
    // mirrors q_pack_bpe: the q_bpe_encode counts feeding the same flat
    // prefix-sum packer (budget 512)
    "q_pack_bpe" -> s"${duckBpeLenCtes("d")}, ${duckPackCtes()} $duckPackSelect",
    "q_text_tfidf" ->
      (s"WITH tk AS (SELECT doc_id, unnest($duckToks) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tk GROUP BY 1, 2), " +
        "dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf), " +
        "s AS (SELECT tf.doc_id, tf.token, tf.tf * ((n.n_docs * 10000) // dfreq.df) AS score " +
        "FROM tf JOIN dfreq USING (token) CROSS JOIN n), " +
        "r AS (SELECT doc_id, token, score, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, token) AS rank FROM s) " +
        "SELECT doc_id, rank, token, score FROM r WHERE rank <= 3 ORDER BY doc_id, rank"),
    "q_doc_winnow" ->
      (s"WITH t AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        s"h AS (SELECT doc_id, list_transform($duckShingles3, " +
        s"s -> ${StableHash.hash60Sql("s")}) AS hs FROM t), " +
        "wd AS (SELECT doc_id, CASE WHEN len(hs) >= 4 THEN " +
        "list_transform(range(1, len(hs) - 2), " +
        "i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3])) " +
        "WHEN len(hs) > 0 THEN [list_min(hs)] ELSE CAST([] AS BIGINT[]) END AS ws FROM h) " +
        "SELECT doc_id, unnest(list_distinct(ws)) AS fp FROM wd ORDER BY doc_id, fp"),
    // DuckDB list_slice is END-INCLUSIVE (start..end), Spark slice takes a
    // LENGTH — start*stride+1 .. start*stride+width on the DuckDB side
    "q_text_chunks" ->
      (s"WITH t AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        "p AS (SELECT doc_id, t, len(t) AS n, " +
        "CASE WHEN len(t) <= 40 THEN 1 ELSE ((len(t) - 40 + 29) // 30) + 1 END AS nc " +
        "FROM t WHERE len(t) > 0), " +
        "c AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_id, t FROM p), " +
        "s AS (SELECT doc_id, chunk_id, " +
        "list_slice(t, chunk_id * 30 + 1, chunk_id * 30 + 40) AS l FROM c) " +
        "SELECT doc_id, chunk_id, CAST(len(l) AS BIGINT) AS n_tokens, " +
        "md5(array_to_string(l, ' ')) AS chunk_md5 " +
        "FROM s ORDER BY doc_id, chunk_id"),
    // mirrors q_curate_multimodal: the three modality CTE families
    // composed in ONE WITH RECURSIVE — the phash chain (CTE names
    // suffixed _m where they collide with the cells chain's rp/crossp/
    // intra), the raw-base cells chain, the in-universe quote plant +
    // exact-dedup text leg, and two recursive min-label closures
    "q_curate_multimodal" -> {
      val phash = suffixPhash(duckPhashCtes, "_m")
      val cells = duckCellsCtes(hier = false, base = "SELECT vec_id, embedding FROM embeddings")
        .stripPrefix("WITH ")
      s"WITH RECURSIVE $phash, " +
        // media components over pp_m (the q_media_clusters closure)
        s"${duckReachCtes("pp_m", "m")}, " +
        "mclust AS (SELECT id, min(lab) AS cl FROM mreach GROUP BY id), " +
        s"$cells, " +
        // embedding components over the cells pairs (crossp + intra)
        "ep AS (SELECT id_a, id_b FROM crossp UNION ALL SELECT id_a, id_b FROM intra), " +
        s"${duckReachCtes("ep", "e")}, " +
        "eclust AS (SELECT id, min(lab) AS cl FROM ereach GROUP BY id), " +
        // text leg: the in-universe quote plant + exact-dedup keep set
        "tq AS (SELECT d0.doc_id, CASE WHEN d0.doc_id % 10 = 7 AND b0.doc_id IS NOT NULL " +
        "THEN b0.text ELSE d0.text END AS text FROM documents d0 " +
        "LEFT JOIN documents b0 ON b0.doc_id = d0.doc_id - 7), " +
        s"tfp AS (SELECT doc_id, md5(array_to_string($duckToks, ' ')) AS fp_md5 FROM tq), " +
        "tkeep AS (SELECT min(doc_id) AS keep_id FROM tfp GROUP BY fp_md5) " +
        "SELECT u.doc_id, " +
        "CAST(CASE WHEN tkeep.keep_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS drop_text, " +
        "CAST(CASE WHEN mclust.cl IS NOT NULL AND mclust.cl <> u.doc_id THEN 1 ELSE 0 END AS BIGINT) AS drop_media, " +
        "CAST(CASE WHEN eclust.cl IS NOT NULL AND eclust.cl <> u.doc_id THEN 1 ELSE 0 END AS BIGINT) AS drop_embed, " +
        "CAST(CASE WHEN tkeep.keep_id IS NOT NULL " +
        "AND (mclust.cl IS NULL OR mclust.cl = u.doc_id) " +
        "AND (eclust.cl IS NULL OR eclust.cl = u.doc_id) THEN 1 ELSE 0 END AS BIGINT) AS kept " +
        "FROM documents u " +
        "LEFT JOIN tkeep ON tkeep.keep_id = u.doc_id " +
        "LEFT JOIN mclust ON mclust.id = u.doc_id " +
        "LEFT JOIN eclust ON eclust.id = u.doc_id " +
        "ORDER BY u.doc_id"
    },
    // mirrors the composed pipeline: q_quality's gate -> md5 dedup
    // representatives -> per-lang rollup
    "q_curate_pipeline" ->
      (s"WITH $duckDocToks, ${duckQualityCte("d")}, " +
        s"good AS (SELECT doc_id FROM f WHERE $duckQualityBp >= 4200), " +
        "kept AS (SELECT doc_id, text, lang FROM documents " +
        "WHERE doc_id IN (SELECT doc_id FROM good)), " +
        s"fp AS (SELECT doc_id, md5(array_to_string($duckToks, ' ')) AS fp_md5 FROM kept), " +
        "reps AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp_md5) " +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars FROM kept " +
        "WHERE doc_id IN (SELECT doc_id FROM reps) " +
        "GROUP BY lang ORDER BY lang"),
    // mirrors DedupOps.contaminated (k=3): distinct gram hashes per doc,
    // eval set = every 97th doc, inner join on the hash
    "q_decontaminate" ->
      (s"WITH t AS (SELECT doc_id, $duckToks AS t FROM documents), " +
        s"sh AS (SELECT doc_id, list_distinct($duckShingles3) AS gs FROM t), " +
        "z AS (SELECT doc_id, unnest(gs) AS gram FROM sh), " +
        s"zh AS (SELECT doc_id, ${StableHash.hash60Sql("gram")} AS g FROM z), " +
        "b AS (SELECT DISTINCT g FROM zh WHERE doc_id % 97 = 0), " +
        "tr AS (SELECT doc_id, g FROM zh WHERE doc_id % 97 <> 0) " +
        "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits " +
        "FROM tr JOIN b USING (g) GROUP BY doc_id ORDER BY doc_id"),
    "q_dedup_incremental" ->
      ("WITH b AS (SELECT doc_id, text FROM documents WHERE source = 'src0' " +
        s"UNION ALL SELECT doc_id + 3 * $duckDocStep AS doc_id, text FROM documents " +
        "WHERE source = 'src1' AND doc_id % 5 = 0), " +
        "ex AS (SELECT doc_id, text FROM documents WHERE source <> 'src0'), " +
        s"fb AS (SELECT doc_id, md5(array_to_string($duckToks, ' ')) AS fp_md5 FROM b), " +
        s"fe AS (SELECT md5(array_to_string($duckToks, ' ')) AS fp_md5 FROM ex) " +
        "SELECT doc_id, fp_md5 FROM fb " +
        "WHERE fp_md5 NOT IN (SELECT fp_md5 FROM fe) ORDER BY doc_id"),
    "q_dedup_docs" ->
      (s"WITH corpus AS ($duckCorpus), " +
        s"fp AS (SELECT doc_id, md5(array_to_string($duckToks, ' ')) AS fp_md5 FROM corpus) " +
        "SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies, fp_md5 " +
        "FROM fp GROUP BY fp_md5 ORDER BY keep_id"),
    "q_dedup_minhash" ->
      (s"WITH $duckMinhashCtes " +
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared_bands " +
        "FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id " +
        "JOIN okb ON okb.bkey = a.bkey " +
        "GROUP BY id_a, id_b ORDER BY id_a, id_b"),
    "q_dedup_verified" ->
      (s"WITH $duckMinhashCtes, $duckVerifiedPairsCte " +
        "SELECT id_a, id_b, jac_bp FROM vp ORDER BY id_a, id_b"),
    // mirrors DedupOps.minhashRecallAudit: ~64 hash-chosen anchor docs,
    // exact anchor-side Jaccard truth through the inverted shingle index,
    // the verified pipeline's anchor-touching pairs divided in
    "q_recall_audit_minhash" ->
      (s"WITH $duckMinhashCtes, $duckVerifiedPairsCte, $duckAnchorPostingsCtes, " +
        s"$duckTextTruthCte, ${duckTextFoundCte("vp")} ${duckRecallSql("anchd", "fa")}"),
    // mirrors DedupOps.minhashErrorAudit: same capped candidates, the
    // signature-agreement estimate joined to the exact shingle Jaccard
    "q_dedup_minhash_err" -> {
      val agree = (0 until 8)
        .map(i => s"(CASE WHEN sa.s$i = sb.s$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"WITH $duckMinhashCtes, $duckMinhashCandCte, " +
        s"est AS (SELECT id_a, id_b, CAST(($agree) * 10000 // 8 AS BIGINT) AS est_bp " +
        "FROM cand JOIN sig sa ON sa.doc_id = cand.id_a " +
        "JOIN sig sb ON sb.doc_id = cand.id_b), " +
        s"ex AS (SELECT id_a, id_b, ${duckJaccardBp("x.shs", "y.shs")} AS exact_bp FROM cand " +
        "JOIN sl x ON x.doc_id = cand.id_a JOIN sl y ON y.doc_id = cand.id_b) " +
        "SELECT est.id_a AS id_a, est.id_b AS id_b, est_bp, exact_bp, " +
        "abs(est_bp - exact_bp) AS abs_err_bp " +
        "FROM est JOIN ex ON est.id_a = ex.id_a AND est.id_b = ex.id_b " +
        "ORDER BY id_a, id_b"
    },
    "q_dedup_clusters" ->
      (s"WITH RECURSIVE $duckMinhashCtes, $duckVerifiedPairsCte, ${duckReachCtes("vp")} " +
        "SELECT id AS doc_id, min(lab) AS cluster_id FROM reach " +
        "GROUP BY id ORDER BY doc_id"),
    // mirrors q_dedup_keep_best: clusters (recursive CC) joined to the
    // q_quality scorer over the same planted corpus, best kept per cluster
    "q_dedup_keep_best" ->
      (s"WITH RECURSIVE $duckMinhashCtes, $duckVerifiedPairsCte, ${duckReachCtes("vp")}, " +
        "cl AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id), " +
        s"${duckQualityCte("t")}, " +
        s"q AS (SELECT doc_id, $duckQualityBp AS quality_bp FROM f), " +
        "j AS (SELECT cl.cluster_id, cl.doc_id, q.quality_bp FROM cl " +
        "JOIN q ON q.doc_id = cl.doc_id), " +
        "r AS (SELECT *, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) " +
        "AS n_docs, row_number() OVER (PARTITION BY cluster_id " +
        "ORDER BY quality_bp DESC, doc_id) AS rn FROM j) " +
        "SELECT cluster_id, n_docs, doc_id AS keep_id, " +
        "quality_bp AS keep_quality_bp FROM r WHERE rn = 1 ORDER BY cluster_id"),
    // mirrors DedupOps.dedupForget: the q_dedup_clusters recursive
    // closure run TWICE — over all verified pairs and over the pairs
    // surviving the tombstone filter (doc_id % 13 = 3 on the planted
    // corpus) — then surviving members of affected clusters labeled
    "q_dedup_forget" ->
      (s"WITH RECURSIVE $duckMinhashCtes, $duckVerifiedPairsCte, " +
        "tb AS (SELECT DISTINCT doc_id FROM corpus WHERE doc_id % 13 = 3), " +
        s"${duckForgetCtes("vp", "tb")} SELECT doc_id, $duckForgetCols FROM out ORDER BY doc_id"),
    "q_dedup_simhash" ->
      (s"WITH ${duckSimhashCtes(16)} " +
        "SELECT doc_id, simhash, min(doc_id) OVER (PARTITION BY simhash) AS keep_id " +
        "FROM s ORDER BY doc_id"),
    // mirrors DedupOps.simhashBallPairs
    "q_dedup_simhash_ball" ->
      s"WITH $duckSimhashBallCtes SELECT id_a, id_b, hamming FROM ballp ORDER BY id_a, id_b",
    // mirrors DedupOps.simhashRecallAudit: the ball chain's pair set
    // anchor-restricted and divided into the q_recall_audit_minhash
    // anchor truth (same anchors, same jac >= 0.8 threshold)
    "q_recall_audit_simhash" ->
      (s"WITH $duckSimhashBallCtes, $duckShingleSetCtes, $duckAnchorPostingsCtes, " +
        s"$duckTextTruthCte, ${duckTextFoundCte("ballp")}, " +
        "hit AS (SELECT fa.pa, fa.pb FROM fa JOIN tp " +
        "ON fa.pa = tp.pa AND fa.pb = tp.pb) " +
        duckAnchorCounts("anchd") +
        "(SELECT count(*) FROM fa) AS n_candidates, " +
        "(SELECT count(*) FROM hit) AS n_found, " +
        s"${duckShareBp("hit", "tp")} AS recall_bp, ${duckShareBp("hit", "fa")} AS precision_bp"),
    // mirrors DedupOps.simhashVerifiedNearDups: the q_dedup_simhash_ball
    // candidate chain rescored with exact 3-shingle Jaccard (the
    // q_dedup_verified construction), keep jac >= 0.8
    "q_dedup_simhash_verified" ->
      (s"WITH $duckSimhashBallCtes, $duckShingleSetCtes " +
        s"SELECT id_a, id_b, hamming, jac_bp FROM " +
        s"(SELECT id_a, id_b, hamming, ${duckJaccardBp("x.shs", "y.shs")} AS jac_bp FROM ballp " +
        "JOIN sl x ON x.doc_id = ballp.id_a JOIN sl y ON y.doc_id = ballp.id_b) " +
        "WHERE jac_bp >= 8000 ORDER BY id_a, id_b"),
    "q_dedup_jaccard" ->
      (s"WITH ${duckPostingsPairCtes(duckCorpus)} " +
        "SELECT * FROM (SELECT id_a, id_b, " +
        s"${TextOps.roundBpSql("CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE)")} AS jac_bp " +
        "FROM p) WHERE jac_bp >= 8000 ORDER BY id_a, id_b"),
    // cap/recall telemetry mirrors: the same bucket-size CTEs as each
    // family's pairing oracle, rolled up by DedupOps.capAuditSql
    "q_cap_audit_minhash" ->
      (s"WITH $duckMinhashCtes, " +
        "bs AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM bands GROUP BY bkey) " +
        DedupOps.capAuditSql(DedupOps.DefaultMaxBucket, "minhash_band")),
    "q_cap_audit_jaccard" ->
      (s"WITH corpus AS ($duckCorpus), $duckShingleSetCtes, " +
        "z AS (SELECT doc_id, unnest(shs) AS sh FROM sl), " +
        "bs AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM z GROUP BY sh) " +
        DedupOps.capAuditSql(DedupOps.DefaultMaxBucket, "jaccard_postings")),
    "q_cap_audit_substring" ->
      (s"WITH $duckSubstringCtes, " +
        "bs AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM gh GROUP BY gh.gh) " +
        DedupOps.capAuditSql(DedupOps.DefaultMaxBucket, "substring_postings")),
    "q_cap_audit_phash" ->
      (s"WITH $duckPhashCtes, " +
        "bs AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM rb GROUP BY k, bval) " +
        DedupOps.capAuditSql(DedupOps.DefaultMaxBucket, "phash_band")),
    // participation-cap arithmetic (nothing dropped wholesale): kept =
    // C(min(sz, cap), 2), forgone = the quadratic remainder
    "q_cap_audit_neardup" -> {
      val cap = DedupOps.DefaultMaxBucket
      val kept = s"least(sz, $cap) * (least(sz, $cap) - 1) // 2"
      s"WITH $duckNearDupCtes, " +
        "bs AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM nb GROUP BY bucket) " +
        "SELECT 'neardup_signbucket' AS bucket_kind, " +
        "CAST(count(*) AS BIGINT) AS n_buckets, " +
        s"CAST(coalesce(sum(CASE WHEN sz > $cap THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_dropped, " +
        s"CAST(coalesce(sum(CASE WHEN sz > $cap THEN sz - $cap ELSE 0 END), 0) AS BIGINT) AS entries_dropped, " +
        s"CAST(coalesce(sum($kept), 0) AS BIGINT) AS pairs_kept, " +
        s"CAST(coalesce(sum(sz * (sz - 1) // 2 - ($kept)), 0) AS BIGINT) AS pairs_forgone, " +
        "CAST(coalesce(max(sz), 0) AS BIGINT) AS hottest, " +
        "'participation' AS cap_semantics FROM bs"
    },
    // mirrors DedupOps.containmentPairs over plantedQuoteCorpus: same
    // inverted-index CTE chain as q_dedup_jaccard, asymmetric final select
    "q_dedup_contain" ->
      (s"WITH ${duckPostingsPairCtes(duckQuoteCorpus)} " +
        "SELECT * FROM (SELECT id_a, id_b, " +
        s"${TextOps.roundBpSql("CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE)")} AS jac_bp, " +
        s"${TextOps.roundBpSql("CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE)")} AS cont_a_bp, " +
        s"${TextOps.roundBpSql("CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE)")} AS cont_b_bp " +
        "FROM p) WHERE greatest(cont_a_bp, cont_b_bp) >= 8000 ORDER BY id_a, id_b"),
    // mirrors DedupOps.sourceOverlap: distinct (source, shingle), pair
    // hits = intersections, unions by inclusion-exclusion
    "q_source_overlap" ->
      (s"WITH tk AS (SELECT source AS src, $duckToks AS t FROM documents), " +
        s"sh AS (SELECT DISTINCT src, unnest($duckShingles3) AS sh FROM tk), " +
        "ps AS (SELECT src, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY src), " +
        "cm AS (SELECT a.src AS src_a, b.src AS src_b, " +
        "CAST(count(*) AS BIGINT) AS n_common FROM sh a " +
        "JOIN sh b ON a.sh = b.sh AND a.src < b.src GROUP BY 1, 2) " +
        "SELECT src_a, src_b, pa.n_sh AS n_a, pb.n_sh AS n_b, n_common, " +
        "CAST(n_common * 10000 // (pa.n_sh + pb.n_sh - n_common) AS BIGINT) " +
        "AS jaccard_bp " +
        "FROM cm JOIN ps pa ON pa.src = cm.src_a JOIN ps pb ON pb.src = cm.src_b " +
        "ORDER BY src_a, src_b"),
    "q_entity_match" ->
      ("WITH t AS (SELECT doc_id, source, left(text, 40) AS title, " +
        "left(text, 12) AS blk FROM documents), " +
        "p AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, " +
        "a.source AS a_source, b.source AS b_source, " +
        "levenshtein(a.title, b.title) AS lev_dist " +
        "FROM t a JOIN t b ON a.blk = b.blk AND a.source < b.source), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY a_doc_id " +
        "ORDER BY lev_dist, b_doc_id) AS rn FROM p WHERE lev_dist <= 10) " +
        "SELECT a_doc_id, b_doc_id, a_source, b_source, lev_dist " +
        "FROM r WHERE rn = 1 ORDER BY a_doc_id"),
    "q_sim_topk" -> s"WITH $duckSimCtes $duckTopKSelect",
    // mirrors SimOps.mrlRecallSweep over SimOps.mrlWeighted: the corpus
    // is first rescaled by 2^-((pos-1) // 8) per dimension (exact IEEE
    // power-of-two multiply — bit-identical to Spark's), then
    // prefix-sliced cosine top-10 per prefix_dims (array_slice both
    // sides) vs the full-dim brute truth; hit counts LEFT-join the
    // swept-dims list so a zero-hit prefix still emits its row
    "q_mrl_recall" ->
      ("WITH w0 AS (SELECT vec_id, embedding::DOUBLE[] AS e0 FROM embeddings), " +
        "wd AS (SELECT vec_id, unnest(e0) AS x, " +
        "unnest(range(1, len(e0) + 1)) AS pos FROM w0), " +
        "we AS (SELECT vec_id, list(x * (1.0 / CAST(1 << ((pos - 1) // 8) AS DOUBLE)) " +
        "ORDER BY pos) AS e FROM wd GROUP BY vec_id), " +
        "n AS (SELECT vec_id, e, " +
        s"sqrt(list_dot_product(e, e)) AS nrm FROM we), $duckQueryCte, $duckBruteTruthCtes, " +
        "pv AS (SELECT unnest([4, 8, 16, 32]) AS prefix_dims), " +
        "np AS (SELECT pv.prefix_dims, n.vec_id, " +
        "array_slice(n.e, 1, pv.prefix_dims) AS pe FROM n CROSS JOIN pv), " +
        "np2 AS (SELECT prefix_dims, vec_id, pe, " +
        "sqrt(list_dot_product(pe, pe)) AS pn FROM np), " +
        "qp AS (SELECT prefix_dims, vec_id AS q_id, pe AS qpe, pn AS qpn " +
        "FROM np2 WHERE vec_id < 5), " +
        "pp AS (SELECT np2.prefix_dims, qp.q_id, np2.vec_id, " +
        "list_dot_product(qp.qpe, np2.pe) / (qp.qpn * np2.pn) AS cos " +
        "FROM np2 JOIN qp ON np2.prefix_dims = qp.prefix_dims " +
        "AND np2.vec_id <> qp.q_id), " +
        "it AS (SELECT prefix_dims, q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY prefix_dims, q_id ORDER BY cos DESC, vec_id) AS rnk FROM pp) " +
        "WHERE rnk <= 10), " +
        "h AS (SELECT it.prefix_dims, CAST(count(*) AS BIGINT) AS n_hits FROM it " +
        "JOIN bt ON it.q_id = bt.q_id AND it.vec_id = bt.vec_id " +
        "GROUP BY it.prefix_dims) " +
        "SELECT pv.prefix_dims, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, " +
        "CAST((coalesce(h.n_hits, 0) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM pv LEFT JOIN h USING (prefix_dims) ORDER BY prefix_dims"),
    // mirrors SimOps.sqRecall: q_embed_quant's bounds/code/decode chain
    // reassembled into decoded vectors (list ordered by pos), cosine
    // top-10 vs the full-precision brute truth
    "q_sq_recall" ->
      (s"WITH $duckRecallHead, " +
        "d AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM n), " +
        "b AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM d GROUP BY pos), " +
        "dc AS (SELECT vec_id, pos, CASE WHEN hi - lo = 0 THEN lo " +
        "ELSE lo + CAST(CAST(floor((x - lo) / (hi - lo) * 255.0 + 0.5) AS BIGINT) AS DOUBLE) " +
        "/ 255.0 * (hi - lo) END AS dx FROM d JOIN b USING (pos)), " +
        "dv AS (SELECT vec_id, list(dx ORDER BY pos) AS de FROM dc GROUP BY vec_id), " +
        "dn AS (SELECT vec_id, de, sqrt(list_dot_product(de, de)) AS dnrm FROM dv), " +
        "dq AS (SELECT vec_id AS q_id, de AS qde, dnrm AS qdn FROM dn WHERE vec_id < 5), " +
        "dp AS (SELECT dq.q_id, dn.vec_id, " +
        "list_dot_product(qde, de) / (qdn * dnrm) AS cos " +
        "FROM dn JOIN dq ON dn.vec_id <> dq.q_id), " +
        "dt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM dp) WHERE rnk <= 10) " +
        "SELECT CAST(count(*) AS BIGINT) AS n_hits, " +
        "CAST((count(*) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM dt JOIN bt USING (q_id, vec_id)"),
    // mirrors SimOps.bqRecall: sign bits packed 32 per BIGINT word
    // (DuckDB's range-checked << rejects the 64-bit sign position),
    // Hamming = sum of bit_count(xor) over words, both serving legs
    // against the float brute truth
    "q_bq_recall" ->
      (s"WITH $duckRecallHead, " +
        "d AS (SELECT vec_id, unnest(e) AS x, unnest(range(0, len(e))) AS pos FROM n), " +
        "c AS (SELECT vec_id, pos // 32 AS word, " +
        "bit_or(CASE WHEN x > 0.0 THEN (1::BIGINT << (pos % 32)) " +
        "ELSE 0::BIGINT END) AS code FROM d GROUP BY vec_id, pos // 32), " +
        "qc AS (SELECT vec_id AS q_id, word, code AS qcode FROM c WHERE vec_id < 5), " +
        "hp AS (SELECT qc.q_id, c.vec_id, " +
        "CAST(sum(bit_count(xor(c.code, qc.qcode))) AS BIGINT) AS ham " +
        "FROM c JOIN qc ON c.word = qc.word AND c.vec_id <> qc.q_id " +
        "GROUP BY qc.q_id, c.vec_id), " +
        "hr AS (SELECT q_id, vec_id, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY ham, vec_id) AS rnk FROM hp), " +
        "ht AS (SELECT q_id, vec_id FROM hr WHERE rnk <= 10), " +
        "cd AS (SELECT hr.q_id, hr.vec_id, " +
        "list_dot_product(q.qe, n.e) / (q.qn * n.nrm) AS cos " +
        "FROM hr JOIN n ON n.vec_id = hr.vec_id JOIN q ON q.q_id = hr.q_id " +
        "WHERE hr.rnk <= 40), " +
        "rt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk2 FROM cd) WHERE rnk2 <= 10), " +
        "sv AS (SELECT vec_id, list_transform(e, x -> " +
        "CASE WHEN x > 0.0 THEN 1.0 ELSE -1.0 END) AS sv FROM n), " +
        "ap AS (SELECT q.q_id, sv.vec_id, list_dot_product(q.qe, sv.sv) AS s " +
        "FROM sv JOIN q ON sv.vec_id <> q.q_id), " +
        "at AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY q_id ORDER BY s DESC, vec_id) AS rnk3 FROM ap) WHERE rnk3 <= 10), " +
        "hh AS (SELECT 'hamming' AS variant, CAST(count(*) AS BIGINT) AS h " +
        "FROM ht JOIN bt USING (q_id, vec_id) " +
        "UNION ALL SELECT 'rerank' AS variant, CAST(count(*) AS BIGINT) AS h " +
        "FROM rt JOIN bt USING (q_id, vec_id) " +
        "UNION ALL SELECT 'asym' AS variant, CAST(count(*) AS BIGINT) AS h " +
        "FROM at JOIN bt USING (q_id, vec_id)), " +
        "v AS (SELECT unnest(['asym', 'hamming', 'rerank']) AS variant) " +
        "SELECT v.variant, CAST(coalesce(hh.h, 0) AS BIGINT) AS n_hits, " +
        "CAST((coalesce(hh.h, 0) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM v LEFT JOIN hh USING (variant) ORDER BY variant"),
    // mirrors SimOps.lshRecallSweep: the q_sim_lsh multi-table chain
    // instantiated per swept table count, hits vs the brute truth
    "q_lsh_recall" -> {
      def leg(s: Int): String =
        s"tb$s AS (${duckLshTables(s)}), " +
          s"lq$s AS (SELECT vec_id AS q_id, qe, qn, tb FROM " +
          s"(SELECT vec_id, e AS qe, nrm AS qn, tb FROM tb$s) WHERE vec_id < 5), " +
          s"lp$s AS (SELECT q_id, vec_id, min(cos) AS cos FROM " +
          s"(SELECT lq$s.q_id, c.vec_id, list_dot_product(qe, e) / (qn * nrm) AS cos " +
          s"FROM tb$s c JOIN lq$s ON c.tb = lq$s.tb AND c.vec_id <> lq$s.q_id) " +
          "GROUP BY q_id, vec_id), " +
          s"lt$s AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM lp$s) " +
          "WHERE rnk <= 10), " +
          s"lh$s AS (SELECT $s AS n_tables, CAST(count(*) AS BIGINT) AS h " +
          s"FROM lt$s JOIN bt USING (q_id, vec_id))"
      s"WITH $duckRecallHead, " +
        Seq(1, 4, 8).map(leg).mkString(", ") + ", " +
        "v AS (SELECT unnest([1, 4, 8]) AS n_tables), " +
        "hh AS (SELECT * FROM lh1 UNION ALL SELECT * FROM lh4 UNION ALL SELECT * FROM lh8) " +
        "SELECT v.n_tables, CAST(coalesce(hh.h, 0) AS BIGINT) AS n_hits, " +
        "CAST((coalesce(hh.h, 0) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM v LEFT JOIN hh USING (n_tables) ORDER BY n_tables"
    },
    // mirrors SimOps.ivfTrainedRecallAudit: one bp-integer Lloyd round
    // from the fixture seeds through EXACT assignment (the
    // q_sim_ivf_kmeans chain) and through the TWO-LEVEL assignment (the
    // hier chain at the superCents stride), each trained set probed with
    // the identical exact flat probe (corpus argmax + query top-4 cells,
    // the q_sim_ivf shape), hits counted against one brute truth
    "q_recall_audit_ivf_trained" -> {
      def probe(sfx: String): String =
        s"${duckArgmaxCte(s"asg$sfx", s"c$sfx")}, " +
          s"pr$sfx AS (SELECT q_id, c_id FROM (SELECT q.q_id, c$sfx.c_id, " +
          "row_number() OVER (PARTITION BY q.q_id " +
          s"ORDER BY list_dot_product(q.qe, c$sfx.ce) / (q.qn * c$sfx.cn) DESC, c$sfx.c_id) AS crn " +
          s"FROM q CROSS JOIN c$sfx) WHERE crn <= 4), " +
          s"p$sfx AS (SELECT pr$sfx.q_id, n.vec_id, " +
          "list_dot_product(q.qe, n.e) / (q.qn * n.nrm) AS cos " +
          s"FROM pr$sfx JOIN asg$sfx ON asg$sfx.c_id = pr$sfx.c_id " +
          s"JOIN n ON n.vec_id = asg$sfx.vec_id " +
          s"JOIN q ON q.q_id = pr$sfx.q_id WHERE n.vec_id <> pr$sfx.q_id), " +
          s"t$sfx AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk FROM p$sfx) " +
          "WHERE rnk <= 10), " +
          s"h$sfx AS (SELECT CAST(count(*) AS BIGINT) AS h FROM t$sfx " +
          "JOIN bt USING (q_id, vec_id))"
      s"WITH $duckRecallHead, ${duckSeedCte("c0", "n", duckFixtureCells)}, " +
        // exact-assign Lloyd round (the q_sim_ivf_kmeans chain)
        s"${duckArgmaxCte("aE", "c0")}, ${duckLloydCtes("aE", "E")}, " +
        // hier-assign Lloyd round: the two-level chain over the SEEDS,
        // superProbes = 1
        s"${duckSuperCtes("c0")}, " +
        "vsup AS (SELECT vec_id, e, nrm, sc_id FROM (SELECT n.vec_id, n.e, n.nrm, " +
        "sup.sc_id, row_number() OVER (PARTITION BY n.vec_id " +
        "ORDER BY list_dot_product(n.e, sup.sce) / (n.nrm * sup.scn) DESC, sup.sc_id) AS rn " +
        "FROM n CROSS JOIN sup) WHERE rn = 1), " +
        "bsH AS (SELECT v.vec_id, c0.c_id, " +
        "list_dot_product(v.e, c0.ce) / (v.nrm * c0.cn) AS s " +
        "FROM vsup v JOIN c2s ON v.sc_id = c2s.sc_id JOIN c0 ON c0.c_id = c2s.cid0), " +
        "aH AS (SELECT vec_id, c_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY s DESC, c_id) AS rn FROM bsH) WHERE rn = 1), " +
        duckLloydCtes("aH", "H") + ", " +
        probe("E") + ", " + probe("H") + ", " +
        "nqk AS (SELECT count(*) * 10 AS d FROM q) " +
        "SELECT * FROM (" +
        "SELECT 'exact' AS variant, (SELECT h FROM hE) AS n_hits, " +
        "CAST(((SELECT h FROM hE) * 10000) // (SELECT d FROM nqk) AS BIGINT) AS recall_bp " +
        "UNION ALL " +
        "SELECT 'hier' AS variant, (SELECT h FROM hH) AS n_hits, " +
        "CAST(((SELECT h FROM hH) * 10000) // (SELECT d FROM nqk) AS BIGINT) AS recall_bp" +
        ") ORDER BY variant"
    },
    "q_sim_lsh" -> s"WITH $duckLshCtes $duckTopKSelect",
    // mirrors SimOps.cellDrift: same nearest-cell assignment as q_sim_ivf,
    // parity split, per-cell shares in bp with a 1-row totals cross join
    "q_embed_drift" ->
      (s"WITH ${duckNormCte("n", "embeddings")}, $duckFixtureCellCte, $duckFlatAssignCtes, " +
        "f AS (SELECT c_id, CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_old FROM asg), " +
        "g AS (SELECT c_id, CAST(sum(is_old) AS BIGINT) AS n_old, " +
        "CAST(sum(1 - is_old) AS BIGINT) AS n_new FROM f GROUP BY c_id), " +
        "t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old, " +
        "CAST(sum(n_new) AS BIGINT) AS t_new FROM g) " +
        "SELECT c_id AS cell_id, n_old, n_new, " +
        "CAST(n_old * 10000 // t_old AS BIGINT) AS share_old_bp, " +
        "CAST(n_new * 10000 // t_new AS BIGINT) AS share_new_bp, " +
        "CAST(n_new * 10000 // t_new - n_old * 10000 // t_old AS BIGINT) AS delta_bp " +
        "FROM g CROSS JOIN t ORDER BY cell_id"),
    "q_sim_ivf" -> duckSimIvfSql(duckFixtureCellCte),
    // the corpus assignment through the shared two-level fragment; query
    // probes (crn <= 4 over all cells) unchanged
    "q_sim_ivf_hier" -> duckSimIvfSql(duckFixtureCellCte, hier = true),
    // mirrors SimOps.ivfRecallSweep: the q_sim_ivf probe chain evaluated
    // at nProbe 1/2/4 against the exact brute-force top-10; hit counts
    // LEFT-join the swept nProbe list, so a zero-hit nProbe still emits
    // its row (the shared recall-sweep rollup)
    "q_sim_recall" ->
      (s"WITH $duckRecallHead, $duckFixtureCellCte, $duckFlatAssignCtes, " +
        "pv AS (SELECT unnest([1, 2, 4]) AS n_probe), " +
        "pr AS (SELECT pv.n_probe, rk.vec_id AS q_id, rk.c_id FROM rk, pv " +
        "WHERE rk.vec_id < 5 AND rk.crn <= pv.n_probe), " +
        "p AS (SELECT pr.n_probe, pr.q_id, a.vec_id, " +
        "list_dot_product(q.qe, a.e) / (q.qn * a.nrm) AS cos " +
        "FROM pr JOIN asg a ON pr.c_id = a.c_id JOIN q ON q.q_id = pr.q_id " +
        "WHERE a.vec_id <> pr.q_id), " +
        "it AS (SELECT n_probe, q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY n_probe, q_id ORDER BY cos DESC, vec_id) AS rnk FROM p) " +
        "WHERE rnk <= 10), " +
        "h AS (SELECT it.n_probe, CAST(count(*) AS BIGINT) AS n_hits FROM it " +
        "JOIN bt ON it.q_id = bt.q_id AND it.vec_id = bt.vec_id GROUP BY it.n_probe) " +
        "SELECT pv.n_probe, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, " +
        "CAST((coalesce(h.n_hits, 0) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM pv LEFT JOIN h USING (n_probe) ORDER BY n_probe"),
    // mirrors SimOps.ivfRecallSweepHier: the q_sim_ivf_hier chain with the
    // superProbes knob as a cross-joined sweep dimension (sp rides every
    // CTE after the supercenter ranking, so each sp value gets its own
    // block-union assignment), scored against the same brute-force top-10;
    // hit counts LEFT-join the swept list (a zero-hit value keeps its row)
    "q_recall_audit_ivf_hier" ->
      (s"WITH $duckRecallHead, $duckFixtureCellCte, ${duckSuperCtes("c")}, " +
        "vs0 AS (SELECT n.vec_id, n.e, n.nrm, sup.sc_id, " +
        "list_dot_product(n.e, sup.sce) / (n.nrm * sup.scn) AS s FROM n CROSS JOIN sup), " +
        "vsr AS (SELECT *, row_number() OVER (PARTITION BY vec_id " +
        "ORDER BY s DESC, sc_id) AS rn FROM vs0), " +
        "spv AS (SELECT unnest([1, 2]) AS sp), " +
        "vs AS (SELECT spv.sp, vsr.vec_id, vsr.e, vsr.nrm, vsr.sc_id " +
        "FROM vsr CROSS JOIN spv WHERE vsr.rn <= spv.sp), " +
        "bs AS (SELECT v.sp, v.vec_id, v.e, v.nrm, c.c_id, " +
        "list_dot_product(v.e, c.ce) / (v.nrm * c.cn) AS s " +
        "FROM vs v JOIN c2s ON v.sc_id = c2s.sc_id JOIN c ON c.c_id = c2s.cid0), " +
        "bsr AS (SELECT *, row_number() OVER (PARTITION BY sp, vec_id " +
        "ORDER BY s DESC, c_id) AS rn FROM bs), " +
        s"asg AS (SELECT sp, vec_id, e, nrm, c_id FROM bsr WHERE rn = 1), $duckQueryProbeCtes, " +
        "p AS (SELECT a.sp, pr.q_id, a.vec_id, " +
        "list_dot_product(q.qe, a.e) / (q.qn * a.nrm) AS cos " +
        "FROM pr JOIN asg a ON pr.c_id = a.c_id JOIN q ON q.q_id = pr.q_id " +
        "WHERE a.vec_id <> pr.q_id), " +
        "it AS (SELECT sp, q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY sp, q_id ORDER BY cos DESC, vec_id) AS rnk FROM p) " +
        "WHERE rnk <= 10), " +
        "h AS (SELECT it.sp, CAST(count(*) AS BIGINT) AS n_hits FROM it " +
        "JOIN bt ON it.q_id = bt.q_id AND it.vec_id = bt.vec_id GROUP BY it.sp) " +
        "SELECT spv.sp AS super_probes, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits, " +
        "CAST((coalesce(h.n_hits, 0) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM spv LEFT JOIN h USING (sp) ORDER BY super_probes"),
    // mirrors SimOps.ivfKmeansTopK (iters=1): one Lloyd round with
    // bp-quantized integer sums (exact in both engines), then the same
    // probe chain as q_sim_ivf over the refined centroid table
    "q_sim_ivf_kmeans" -> duckSimIvfSql(duckKmeansCoarseCtes),
    // mirrors SimOps.scalarQuantize: per-dim min/max bounds, affine int8
    // encode, bp-quantized L1 reconstruction error
    "q_embed_quant" ->
      ("WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), " +
        "d AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM n), " +
        "b AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM d GROUP BY pos), " +
        "qc AS (SELECT vec_id, x, lo, hi, " +
        "CASE WHEN hi - lo = 0 THEN 0 " +
        "ELSE CAST(floor((x - lo) / (hi - lo) * 255.0 + 0.5) AS BIGINT) END AS code " +
        "FROM d JOIN b USING (pos)), " +
        "rc AS (SELECT vec_id, code, " +
        "abs(x - (lo + CAST(code AS DOUBLE) / 255.0 * (hi - lo))) AS err FROM qc) " +
        "SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dims, " +
        "CAST(sum(code) AS BIGINT) AS code_sum, " +
        s"CAST(sum(${TextOps.roundBpSql("err")}) AS BIGINT) AS l1_err_bp " +
        "FROM rc GROUP BY vec_id ORDER BY vec_id"),
    // mirrors SimOps.productQuantize (m=4, subDim=16, codebook vec_id<8):
    // same x·x - 2x·c + c·c expansion, same bp-per-subspace error sum
    "q_embed_pq" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), " +
        "ss AS (SELECT unnest(range(0, 4)) AS s), " +
        "sub AS (SELECT vec_id, s, list_slice(e, s * 16 + 1, s * 16 + 16) AS sub FROM e, ss), " +
        "cb AS (SELECT vec_id AS c_id, s, list_slice(e, s * 16 + 1, s * 16 + 16) AS ce " +
        s"FROM e, ss WHERE vec_id < 8), ${duckPqEncodeCtes("sub")} $duckPqCodeSelect ORDER BY vec_id"),
    // mirrors SimOps.productQuantizeWith over refinePqCodebooks (one Lloyd
    // round per subspace, bp-integer means)
    "q_embed_pq_refined" ->
      s"WITH $duckPqRefineCtes, ${duckPqEncodeCtes("sb")} $duckPqCodeSelect ORDER BY vec_id",
    // mirrors SimOps.opqQuantize: integer-exact per-dim variance scores
    // (n·Σxb² − (Σxb)², bp longs — DuckDB sums BIGINT into HUGEINT, Spark
    // uses decimal(38,0): same integers), snake allocation, then the
    // q_embed_pq chain over the permuted subvectors
    "q_embed_pq_opq" ->
      ("WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), " +
        "d AS (SELECT vec_id, unnest(e) AS x, unnest(range(1, len(e) + 1)) AS pos FROM n), " +
        s"vs AS (SELECT pos, count(*) * sum(xb * xb) - sum(xb) * sum(xb) AS var_num " +
        s"FROM (SELECT pos, ${TextOps.roundBpSql("x")} AS xb FROM d) GROUP BY pos), " +
        "rk AS (SELECT pos, row_number() OVER (ORDER BY var_num DESC, pos) - 1 AS rnk FROM vs), " +
        "sn AS (SELECT pos, rnk, CASE WHEN (rnk // 4) % 2 = 0 THEN rnk % 4 " +
        "ELSE 3 - rnk % 4 END AS s FROM rk), " +
        "sp AS (SELECT pos, s, row_number() OVER (PARTITION BY s ORDER BY rnk) AS spos FROM sn), " +
        "sb AS (SELECT d.vec_id, sp.s, list(d.x ORDER BY sp.spos) AS sub " +
        "FROM d JOIN sp USING (pos) GROUP BY d.vec_id, sp.s), " +
        "cb AS (SELECT s, vec_id AS c_id, sub AS ce FROM sb WHERE vec_id < 8), " +
        s"${duckPqEncodeCtes("sb")} $duckPqCodeSelect ORDER BY vec_id"),
    // mirrors SimOps.residualQuantize: coarse home cell by cosine (ties to
    // the smaller c_id), DOUBLE residual, then the q_embed_pq chain on rv
    "q_embed_pq_residual" ->
      (s"WITH ${duckNormCte("n", "embeddings")}, ${duckSeedCte("c0", "n", duckFixtureCells)}, " +
        "rk AS (SELECT n.vec_id, c0.c_id, c0.ce, row_number() OVER " +
        "(PARTITION BY n.vec_id " +
        "ORDER BY list_dot_product(n.e, c0.ce) / (n.nrm * c0.cn) DESC, c0.c_id) AS crn " +
        "FROM n CROSS JOIN c0), " +
        "hm AS (SELECT vec_id, c_id AS cell_id, ce FROM rk WHERE crn = 1), " +
        "rs AS (SELECT n.vec_id, hm.cell_id, " +
        "list_transform(range(1, len(n.e) + 1), i -> n.e[i] - hm.ce[i]) AS rv " +
        "FROM n JOIN hm USING (vec_id)), " +
        "ss AS (SELECT unnest(range(0, 4)) AS s), " +
        "sb AS (SELECT vec_id, s, list_slice(rv, s * 16 + 1, s * 16 + 16) AS sub " +
        "FROM rs, ss), " +
        "cb AS (SELECT vec_id AS c_id, s, list_slice(rv, s * 16 + 1, s * 16 + 16) AS ce " +
        s"FROM rs, ss WHERE vec_id < 8), ${duckPqEncodeCtes("sb")}, g AS ($duckPqCodeSelect) " +
        "SELECT g.vec_id, hm.cell_id, g.n_subs, g.code_word, g.l2sq_err_bp " +
        "FROM g JOIN hm USING (vec_id) ORDER BY vec_id"),
    // mirrors SimOps.ivfPqTopK: coarse probe (q_sim_ivf chain) + refined PQ
    // codes + per-query ADC tables + bp-summed approximate scores +
    // 32-deep exact-cosine rerank
    "q_sim_ivfpq" -> duckIvfPqSql(duckFixtureCellCte),
    // the full production composition: the same chain with the coarse
    // quantizer Lloyd-refined first (q_sim_ivf_kmeans's refinement CTEs)
    "q_sim_ivfpq_kmeans" -> duckIvfPqSql(duckKmeansCoarseCtes),
    // mirrors SimOps.ivfPqRecallSweep: the q_sim_ivfpq ADC-score chain with
    // the shortlist cut as a cross-joined sweep dimension, each cut's
    // exact-cosine top-10 scored against the brute-force top-10 (zero-hit
    // sweep rows preserved by the left join)
    "q_recall_audit_ivfpq" ->
      (duckIvfPqScoreCtes(duckFixtureCellCte) + ", " +
        "sw AS (SELECT unnest([8, 32]) AS shortlist), " +
        "slr AS (SELECT *, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY adc_bp DESC, vec_id) AS srn FROM sc), " +
        "sl AS (SELECT sw.shortlist, slr.q_id, slr.vec_id FROM slr, sw " +
        "WHERE slr.srn <= sw.shortlist), " +
        "pp AS (SELECT sl.shortlist, sl.q_id, sl.vec_id, " +
        "list_dot_product(q.qe, n.e) / (q.qn * n.nrm) AS cos " +
        "FROM sl JOIN n USING (vec_id) JOIN q ON q.q_id = sl.q_id), " +
        "it AS (SELECT shortlist, q_id, vec_id FROM (SELECT *, row_number() OVER " +
        "(PARTITION BY shortlist, q_id ORDER BY cos DESC, vec_id) AS rnk FROM pp) " +
        s"WHERE rnk <= 10), $duckBruteTruthCtes, " +
        "h AS (SELECT it.shortlist, CAST(count(*) AS BIGINT) AS n_hits FROM it " +
        "JOIN bt ON it.q_id = bt.q_id AND it.vec_id = bt.vec_id GROUP BY it.shortlist) " +
        "SELECT sw.shortlist, coalesce(h.n_hits, 0) AS n_hits, " +
        "CAST((coalesce(h.n_hits, 0) * 10000) // 50 AS BIGINT) AS recall_bp " +
        "FROM sw LEFT JOIN h USING (shortlist) ORDER BY shortlist"),
    // mirrors DedupOps.dupSpanPairs over the planted corpus: the
    // q_doc_winnow fingerprint chain, then capped postings pairing with a
    // shared-fingerprint threshold
    "q_dedup_spans" ->
      (s"WITH corpus AS ($duckCorpus), " +
        s"t AS (SELECT doc_id, $duckToks AS t FROM corpus), " +
        s"h AS (SELECT doc_id, list_transform($duckShingles3, " +
        s"s -> ${StableHash.hash60Sql("s")}) AS hs FROM t), " +
        "wd AS (SELECT doc_id, CASE WHEN len(hs) >= 4 THEN " +
        "list_transform(range(1, len(hs) - 2), " +
        "i -> least(hs[i], hs[i+1], hs[i+2], hs[i+3])) " +
        "WHEN len(hs) > 0 THEN [list_min(hs)] ELSE CAST([] AS BIGINT[]) END AS ws FROM h), " +
        "fp AS (SELECT doc_id, unnest(list_distinct(ws)) AS fp FROM wd), " +
        "okf AS (SELECT fp FROM fp GROUP BY fp " +
        s"HAVING count(*) > 1 AND count(*) <= ${DedupOps.DefaultMaxBucket}), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
        "CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id " +
        "JOIN okf ON okf.fp = a.fp GROUP BY 1, 2) " +
        "SELECT id_a, id_b, n_shared FROM p WHERE n_shared >= 2 " +
        "ORDER BY id_a, id_b"),
    // mirrors DedupOps.exactSubstringSpans: 20-token gram hashes, postings
    // capped at 64 OCCURRENCES, cross-doc matches coalesced to maximal
    // spans per (pair, diagonal) via gaps-and-islands (pos_a - rn)
    "q_dedup_substring" ->
      (s"WITH $duckSubstringCtes " +
        "SELECT id_a, id_b, pos_a, pos_b, span_len FROM s " +
        "ORDER BY id_a, id_b, pos_a, pos_b"),
    // mirrors DedupOps.substringStrike: the same span CTE, strike
    // positions exploded from the higher-id side, tokens anti-joined,
    // survivors reassembled in order and md5'd
    "q_dedup_strike" ->
      (s"WITH $duckSubstringCtes, " +
        "st AS (SELECT DISTINCT id_b AS doc_id, " +
        "unnest(range(pos_b, pos_b + span_len)) AS pos FROM s), " +
        "tp AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, " +
        "unnest(t) AS tok FROM t), " +
        "kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp " +
        "LEFT JOIN st ON tp.doc_id = st.doc_id AND tp.pos = st.pos " +
        "WHERE st.pos IS NULL), " +
        "ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
        "string_agg(tok, ' ' ORDER BY pos) AS clean FROM kept GROUP BY doc_id) " +
        "SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens, " +
        "CAST(len(t.t) - coalesce(ag.n_kept, 0) AS BIGINT) AS n_struck, " +
        "md5(coalesce(ag.clean, '')) AS clean_md5 " +
        "FROM t LEFT JOIN ag ON t.doc_id = ag.doc_id ORDER BY t.doc_id"),
    // mirrors SimOps.knnGraph: √N-sized hash-sampled centroids
    // (hash60(id) % max(4, ceil(sqrt(count))) == 0), coarse assignment,
    // then a within-cell self-join ranked per source vector
    "q_knn_graph" ->
      (s"WITH ${duckNormCte("n", "embeddings")}, " +
        s"${duckSeedCte("c", "n", SimOps.sqrtCentroidPredSql("embeddings"))}, " +
        s"$duckFlatAssignCtes, ${duckKnnPairsCte("asg")}, ${duckKnnTopSql("p")}"),
    // mirrors SimOps.hardNegatives over plantedVectors: the q_knn_graph
    // chain on the planted corpus, pairs band-filtered to the bp-rounded
    // cosine < 9900 (semDedup's near-dup rule) before ranking
    "q_hard_negatives" ->
      (s"WITH base AS (${duckPlantedVectors("embedding")}), ${duckNormCte("n", "base")}, " +
        s"${duckSeedCte("c", "n", SimOps.sqrtCentroidPredSql("base"))}, " +
        s"$duckFlatAssignCtes, ${duckKnnPairsCte("asg")}, " +
        s"f AS (SELECT * FROM p WHERE ${TextOps.roundBpSql("cos")} < 9900), ${duckKnnTopSql("f")}"),
    // mirrors q_hard_negatives_text: the recall audits' anchor-postings
    // exact-Jaccard chain (anchd/ashx/shx/cidx), scored per candidate,
    // band-filtered below the q_dedup_verified >= 8000 bp rule, ranked
    // per anchor
    "q_hard_negatives_text" ->
      (s"WITH corpus AS ($duckCorpus), $duckShingleSetCtes, $duckAnchorPostingsCtes, " +
        "r AS (SELECT a_id, doc_id, jac_bp, row_number() OVER (PARTITION BY a_id " +
        "ORDER BY jac_bp DESC, doc_id) AS rank FROM scd WHERE jac_bp < 8000) " +
        "SELECT a_id, rank, doc_id, jac_bp FROM r WHERE rank <= 3 " +
        "ORDER BY a_id, rank"),
    // mirrors q_knn_graph_probe2: the SOURCE side takes its 2 nearest
    // cells (crn <= 2), candidates stay in their home cell (crn = 1)
    "q_knn_graph_probe2" ->
      (s"WITH ${duckNormCte("n", "embeddings")}, " +
        s"${duckSeedCte("c", "n", SimOps.sqrtCentroidPredSql("embeddings"))}, " +
        s"$duckFlatAssignCtes, pr AS (SELECT vec_id, e, nrm, c_id FROM rk WHERE crn <= 2), " +
        s"${duckKnnPairsCte("pr")}, ${duckKnnTopSql("p")}"),
    // mirrors SimOps.knnGraphHier: every per-th centroid (by c_id rank,
    // per = max(2, ceil(sqrt(nlist)))) is a supercenter; centroids argmax
    // into supercells; vectors argmax over supercenters then over ONLY
    // their supercell's centroid block; pairing as q_knn_graph
    "q_knn_graph_hier" -> duckKnnHierSql(1),
    // mirrors knnGraphHier at superProbes = 2: each vector's TOP-2
    // supercells' blocks both scan, best cell across the union — the
    // declared recall knob on the two-stage quantizer (fixture agreement
    // vs flat argmax 0.49 at superProbes=1, 0.656 at 2; SKEW r13)
    "q_knn_graph_hier2" -> duckKnnHierSql(2),
    // the probes knob under the hier quantizer: a-side = rn <= 2 over the
    // block-restricted ranking, b-side home-only
    "q_knn_graph_hier_p2" -> duckKnnHierSql(1, probes = 2),
    // mirrors TextOps.bpePairCounts (k=20): DuckDB range(1, n) == Spark
    // sequence(1, n-1); both substring(tok, i, 2) 1-based
    "q_bpe_pairs" ->
      (s"WITH tk AS (SELECT unnest($duckToks) AS tok FROM documents), " +
        "t2 AS (SELECT tok FROM tk WHERE length(tok) >= 2), " +
        "p AS (SELECT unnest(list_transform(range(1, length(tok)), " +
        "i -> substring(tok, i, 2))) AS pair FROM t2), " +
        "g AS (SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair " +
        "ORDER BY n DESC, pair LIMIT 20) " +
        "SELECT row_number() OVER (ORDER BY n DESC, pair) AS rank, pair, n " +
        "FROM g ORDER BY rank"),
    // mirrors the q_tpch_q3 declaration: integer-cents revenue so the sum
    // is associative-exact in both engines
    "q_tpch_q3" ->
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        "o AS (SELECT o_orderkey, o_custkey, " +
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, o_orderpriority " +
        "FROM orders WHERE o_orderdate < TIMESTAMP '1995-03-15'), " +
        "l AS (SELECT l_orderkey, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS rev_c " +
        "FROM lineitem WHERE l_shipdate > TIMESTAMP '1995-03-15'), " +
        "g AS (SELECT l_orderkey, o_date, o_orderpriority, " +
        "CAST(sum(rev_c) AS BIGINT) AS revenue_c " +
        "FROM l JOIN o ON l.l_orderkey = o.o_orderkey " +
        "JOIN c ON o.o_custkey = c.c_custkey " +
        "GROUP BY 1, 2, 3 ORDER BY revenue_c DESC, l_orderkey LIMIT 10) " +
        "SELECT row_number() OVER (ORDER BY revenue_c DESC, l_orderkey) AS rank, " +
        "l_orderkey, o_date, o_orderpriority, revenue_c FROM g ORDER BY rank"),
    // mirrors q_tpch_q1: integer-cent sums, integer-division averages
    "q_tpch_q1" ->
      ("WITH c AS (SELECT l_returnflag, l_linestatus, " +
        "CAST(l_quantity AS BIGINT) AS qty, " +
        "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS base_c, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) AS disc_c, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100.0 + 0.5) AS BIGINT) AS charge_c, " +
        "CAST(floor(l_discount * 10000.0 + 0.5) AS BIGINT) AS disc_bp " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01'), " +
        "g AS (SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(qty) AS BIGINT) AS sum_qty, " +
        "CAST(sum(base_c) AS BIGINT) AS sum_base_c, " +
        "CAST(sum(disc_c) AS BIGINT) AS sum_disc_c, " +
        "CAST(sum(charge_c) AS BIGINT) AS sum_charge_c, " +
        "CAST(sum(disc_bp) AS BIGINT) AS sum_disc_bp, " +
        "CAST(count(*) AS BIGINT) AS n_rows FROM c GROUP BY 1, 2) " +
        "SELECT l_returnflag, l_linestatus, sum_qty, sum_base_c, sum_disc_c, " +
        "sum_charge_c, sum_disc_bp, n_rows, " +
        "(10000 * sum_qty) // n_rows AS avg_qty_bp, " +
        "sum_base_c // n_rows AS avg_price_c " +
        "FROM g ORDER BY l_returnflag, l_linestatus"),
    // mirrors q_tpch_q6: revenue summed in integer ten-thousandths
    "q_tpch_q6" ->
      ("SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 10000.0 + 0.5) " +
        "AS BIGINT)) AS BIGINT) AS revenue_tb, CAST(count(*) AS BIGINT) AS n_rows " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24.0"),
    // mirrors TextOps.bpeMerges: the 3-round driver loop unrolled into CTEs
    "q_bpe_merges" -> duckBpeSql(3),
    // mirrors TextOps.unigramLm: EM unrolled, integer sixteenth-bit costs
    "q_unigram_lm" -> duckUnigramSql(2, 4, 60, 12),
    // mirrors TextOps.bpeEncode: trained state s3 -> word segment counts,
    // doc token stream joined against them
    "q_bpe_encode" ->
      (s"$duckBpeWordCtes SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words, " +
        "CAST(sum(wlen) AS BIGINT) AS n_bpe_tokens " +
        "FROM dk JOIN wl USING (word) GROUP BY doc_id ORDER BY doc_id"),
    // mirrors GraphOps.pageRank (3 rounds, top-20, integer mass updates)
    "q_pagerank" -> duckPageRankSql(3, 20),
    // mirrors GraphOps.labelPropagation (3 unrolled synchronous rounds)
    "q_label_prop" -> GraphOps.labelPropagationSql(3),
    // mirrors GraphOps.kcore (k=16, 3 unrolled peels)
    "q_kcore" -> GraphOps.kcoreSql(16, 3),
    // mirrors GraphOps.triangleStats over coOrderEdges of the p_size<=5
    // subgraph: same degree-ordered orientation, wedge + closing-edge count
    // mirrors GraphOps.degreeHistogram over the q_triangles edge CTE:
    // node degrees, degree histogram, reverse-cumulative tail counts
    "q_graph_degrees" ->
      ("WITH sp AS (SELECT p_partkey FROM part WHERE p_size <= 5), " +
        "lp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS p " +
        "FROM lineitem JOIN sp ON l_partkey = p_partkey), " +
        "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM lp x " +
        "JOIN lp y ON x.okey = y.okey AND x.p < y.p), " +
        "dg AS (SELECT x, CAST(count(*) AS BIGINT) AS degree FROM " +
        "(SELECT a AS x FROM e UNION ALL SELECT b AS x FROM e) GROUP BY x), " +
        "h AS (SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes FROM dg GROUP BY degree) " +
        "SELECT degree, n_nodes, " +
        "CAST(sum(n_nodes) OVER (ORDER BY degree DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_nodes_ge " +
        "FROM h ORDER BY degree"),
    "q_triangles" ->
      ("WITH sp AS (SELECT p_partkey FROM part WHERE p_size <= 5), " +
        "lp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS p " +
        "FROM lineitem JOIN sp ON l_partkey = p_partkey), " +
        "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM lp x " +
        "JOIN lp y ON x.okey = y.okey AND x.p < y.p), " +
        "dg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM " +
        "(SELECT a AS x FROM e UNION ALL SELECT b AS x FROM e) GROUP BY x), " +
        "o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.a ELSE e.b END AS u, " +
        "CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.b ELSE e.a END AS v " +
        "FROM e JOIN dg da ON da.x = e.a JOIN dg db ON db.x = e.b), " +
        "w AS (SELECT o1.v AS v1, o2.v AS v2 FROM o o1 " +
        "JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles FROM w JOIN o " +
        "ON (o.u = w.v1 AND o.v = w.v2) OR (o.u = w.v2 AND o.v = w.v1)) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM dg) AS n_nodes, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges, " +
        "t.n_triangles FROM t"),
    // mirrors q_triangles_full: the same census CTE chain over the
    // UNFILTERED co-order graph
    "q_triangles_full" ->
      ("WITH lp AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS p " +
        "FROM lineitem), " +
        "e AS (SELECT DISTINCT x.p AS a, y.p AS b FROM lp x " +
        "JOIN lp y ON x.okey = y.okey AND x.p < y.p), " +
        "dg AS (SELECT x, CAST(count(*) AS BIGINT) AS d FROM " +
        "(SELECT a AS x FROM e UNION ALL SELECT b AS x FROM e) GROUP BY x), " +
        "o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.a ELSE e.b END AS u, " +
        "CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) " +
        "THEN e.b ELSE e.a END AS v " +
        "FROM e JOIN dg da ON da.x = e.a JOIN dg db ON db.x = e.b), " +
        "w AS (SELECT o1.v AS v1, o2.v AS v2 FROM o o1 " +
        "JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v), " +
        // two equi-joins, not one OR-join (which nested-loops on the full
        // graph) — disjoint by the DAG orientation, so the sum is exact
        "t AS (SELECT CAST((SELECT count(*) FROM w JOIN o " +
        "ON o.u = w.v1 AND o.v = w.v2) + (SELECT count(*) FROM w JOIN o " +
        "ON o.u = w.v2 AND o.v = w.v1) AS BIGINT) AS n_triangles) " +
        "SELECT (SELECT CAST(count(*) AS BIGINT) FROM dg) AS n_nodes, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges, " +
        "(SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges, " +
        "t.n_triangles FROM t"),
    // mirrors q_tpch_q5: integer-cent revenue, nation names via region
    "q_tpch_q5" ->
      ("SELECT n_name, CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) " +
        "* 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_c " +
        "FROM customer, orders, lineitem, supplier, nation, region " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey " +
        "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue_c DESC, n_name"),
    // mirrors q_tpch_q7: both nation roles constrained to the pair, both
    // directions kept, revenue in cents by (supp_nation, cust_nation, year)
    "q_tpch_q7" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) " +
        "AS BIGINT)) AS BIGINT) AS revenue_c " +
        "FROM lineitem, supplier, orders, customer, nation n1, nation n2 " +
        "WHERE l_suppkey = s_suppkey AND l_orderkey = o_orderkey " +
        "AND o_custkey = c_custkey AND s_nationkey = n1.n_nationkey " +
        "AND c_nationkey = n2.n_nationkey " +
        "AND n1.n_name IN ('NATION_1', 'NATION_2') " +
        "AND n2.n_name IN ('NATION_1', 'NATION_2') AND n1.n_name <> n2.n_name " +
        "AND l_shipdate >= TIMESTAMP '1995-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    // mirrors q_tpch_q8: NATION_1 share of MEDIUM-part volume in EUROPE in
    // integer bp (conditional sum * 10000 // total, both engines floor)
    "q_tpch_q8" ->
      ("WITH v AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "n2.n_name AS supp_nation, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) " +
        "AS volume_c " +
        "FROM lineitem, part, supplier, orders, customer, nation n1, nation n2, region " +
        "WHERE l_partkey = p_partkey AND p_type = 'MEDIUM' " +
        "AND l_suppkey = s_suppkey AND s_nationkey = n2.n_nationkey " +
        "AND l_orderkey = o_orderkey AND o_custkey = c_custkey " +
        "AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey " +
        "AND r_name = 'EUROPE' " +
        "AND o_orderdate >= TIMESTAMP '1995-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01') " +
        "SELECT o_year, " +
        "CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_c ELSE 0 END) " +
        "AS BIGINT) AS nation_volume_c, " +
        "CAST(sum(volume_c) AS BIGINT) AS total_volume_c, " +
        "CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_c ELSE 0 END) " +
        "* 10000 // sum(volume_c) AS BIGINT) AS mkt_share_bp " +
        "FROM v GROUP BY o_year ORDER BY o_year"),
    // mirrors q_tpch_q2: derived supply catalog (min observed unit price
    // per (part, supplier) pair), per-part min via window, EUROPE roster,
    // rank over (acctbal desc, s_name, p_partkey), top 100
    "q_tpch_q2" ->
      ("WITH ps AS (SELECT l_partkey, l_suppkey, " +
        "CAST(min(CAST(floor(l_extendedprice * 100.0 / l_quantity + 0.5) " +
        "AS BIGINT)) AS BIGINT) AS cost_c FROM lineitem GROUP BY 1, 2), " +
        "eu AS (SELECT s_suppkey, s_name, " +
        "CAST(floor(s_acctbal * 100.0 + 0.5) AS BIGINT) AS acctbal_c, n_name " +
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'), " +
        "j AS (SELECT p_partkey, p_brand, s_name, n_name, acctbal_c, cost_c, " +
        "min(cost_c) OVER (PARTITION BY p_partkey) AS min_cost_c " +
        "FROM ps JOIN part ON l_partkey = p_partkey " +
        "JOIN eu ON l_suppkey = s_suppkey " +
        "WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'), " +
        "top AS (SELECT * FROM j WHERE cost_c = min_cost_c " +
        "ORDER BY acctbal_c DESC, s_name, p_partkey LIMIT 100) " +
        "SELECT row_number() OVER (ORDER BY acctbal_c DESC, s_name, p_partkey) " +
        "AS rank, s_name, n_name, p_partkey, p_brand, acctbal_c, cost_c " +
        "FROM top ORDER BY rank"),
    // mirrors q_tpch_q9: profit = revenue cents - retailprice-cost cents,
    // floored row-wise, by (nation, year)
    "q_tpch_q9" ->
      ("WITH j AS (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) " +
        "- CAST(floor(p_retailprice * l_quantity * 100.0 + 0.5) AS BIGINT) " +
        "AS amount_c FROM lineitem " +
        "JOIN part ON l_partkey = p_partkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE p_name LIKE '%red%') " +
        "SELECT n_name, o_year, CAST(sum(amount_c) AS BIGINT) AS profit_c " +
        "FROM j GROUP BY 1, 2 ORDER BY n_name, o_year DESC"),
    // mirrors q_tpch_q11: per-part value vs total/1000, integer
    // cross-multiplied threshold
    "q_tpch_q11" ->
      ("WITH li AS (SELECT l_partkey, " +
        "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS val_c " +
        "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey WHERE n_name = 'NATION_7')), " +
        "pp AS (SELECT l_partkey, CAST(sum(val_c) AS BIGINT) AS value_c " +
        "FROM li GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c FROM pp) " +
        "SELECT l_partkey, value_c FROM pp, tot WHERE value_c * 1000 > total_c " +
        "ORDER BY value_c DESC, l_partkey"),
    // mirrors q_tpch_q16: distinct catalog pairs, negative-balance
    // suppliers excluded, COUNT(DISTINCT) per part descriptor
    "q_tpch_q16" ->
      ("WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), " +
        "ok AS (SELECT l_partkey, l_suppkey FROM pairs WHERE l_suppkey NOT IN " +
        "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) " +
        "SELECT p_brand, p_type, p_size, " +
        "CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt " +
        "FROM ok JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
        "AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22) " +
        "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"),
    // mirrors q_tpch_q20: dominant-share suppliers of red parts' 1996
    // volume (pair_qty*2 > per-part total), nested semi-joins
    "q_tpch_q20" ->
      ("WITH li AS (SELECT l_partkey, l_suppkey, CAST(l_quantity AS BIGINT) " +
        "AS qty FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' AND l_partkey IN " +
        "(SELECT p_partkey FROM part WHERE p_name LIKE 'red%')), " +
        "pp AS (SELECT l_partkey, l_suppkey, CAST(sum(qty) AS BIGINT) " +
        "AS pair_qty FROM li GROUP BY 1, 2), " +
        "dom AS (SELECT DISTINCT l_suppkey FROM (SELECT l_suppkey, pair_qty, " +
        "sum(pair_qty) OVER (PARTITION BY l_partkey) AS part_qty FROM pp) " +
        "WHERE pair_qty * 2 > part_qty) " +
        "SELECT s_name, n_name FROM supplier " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE s_suppkey IN (SELECT l_suppkey FROM dom) ORDER BY s_name"),
    // mirrors q_tpch_q18 (HAVING sum_qty > 300, rank by totalprice cents)
    "q_tpch_q18" ->
      ("WITH big AS (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty " +
        "FROM lineitem GROUP BY l_orderkey " +
        "HAVING CAST(sum(l_quantity) AS BIGINT) > 300), " +
        "j AS (SELECT c_name, c_custkey, o_orderkey, " +
        "CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_date, " +
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS totalprice_c, sum_qty " +
        "FROM big JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey), " +
        "r AS (SELECT *, row_number() OVER (ORDER BY totalprice_c DESC, o_orderkey) " +
        "AS rank FROM j) " +
        "SELECT rank, c_name, c_custkey, o_orderkey, o_date, totalprice_c, sum_qty " +
        "FROM r WHERE rank <= 100 ORDER BY rank"),
    // mirrors q_tpch_q4: EXISTS with the 60-day late-ship residual
    "q_tpch_q4" ->
      ("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders " +
        "FROM orders WHERE o_orderdate >= TIMESTAMP '1996-07-01' " +
        "AND o_orderdate < TIMESTAMP '1996-10-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // mirrors q_tpch_q10: integer-cent revenue and acctbal, top 20
    "q_tpch_q10" ->
      ("WITH g AS (SELECT c_custkey, c_name, " +
        "CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acctbal_c, n_name, " +
        "CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) " +
        "AS BIGINT)) AS BIGINT) AS revenue_c " +
        "FROM customer, orders, lineitem, nation " +
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey " +
        "AND c_nationkey = n_nationkey AND l_returnflag = 'R' " +
        "AND o_orderdate >= TIMESTAMP '1996-07-01' " +
        "AND o_orderdate < TIMESTAMP '1996-10-01' " +
        "GROUP BY 1, 2, 3, 4 ORDER BY revenue_c DESC, c_custkey LIMIT 20) " +
        "SELECT row_number() OVER (ORDER BY revenue_c DESC, c_custkey) AS rank, " +
        "c_custkey, c_name, acctbal_c, n_name, revenue_c FROM g ORDER BY rank"),
    // mirrors q_tpch_q12: high/low priority line counts per linestatus
    "q_tpch_q12" ->
      ("SELECT l_linestatus, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') " +
        "THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY l_linestatus ORDER BY l_linestatus"),
    // mirrors q_tpch_q13: order-count distribution via LEFT OUTER join
    "q_tpch_q13" ->
      ("WITH pc AS (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count " +
        "FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey " +
        "AND o_orderpriority <> '1-URGENT' GROUP BY c_custkey) " +
        "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM pc " +
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"),
    // mirrors q_tpch_q14: promo and total cents in one pass, bp division
    "q_tpch_q14" ->
      ("WITH j AS (SELECT p_type, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT) " +
        "AS rev_c FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01' " +
        "AND l_shipdate < TIMESTAMP '1996-10-01'), " +
        "g AS (SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_c ELSE 0 END) " +
        "AS BIGINT) AS promo_c, CAST(sum(rev_c) AS BIGINT) AS total_c FROM j) " +
        "SELECT promo_c, total_c, (10000 * promo_c) // total_c AS promo_bp FROM g"),
    // mirrors q_tpch_q17: cross-multiplied 20%-of-avg filter, cents sums
    "q_tpch_q17" ->
      ("WITH j AS (SELECT l_partkey, " +
        "CAST(floor(l_quantity * 10000.0 + 0.5) AS BIGINT) AS qty_bp, " +
        "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_c " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15), " +
        "w AS (SELECT qty_bp, price_c, " +
        "CAST(sum(qty_bp) OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_qty_bp, " +
        "CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS n_part FROM j), " +
        "g AS (SELECT CAST(sum(price_c) AS BIGINT) AS sum_price_c, " +
        "CAST(count(*) AS BIGINT) AS n_small FROM w " +
        "WHERE qty_bp * 5 * n_part < sum_qty_bp) " +
        "SELECT sum_price_c, n_small, sum_price_c // 7 AS avg_yearly_c FROM g"),
    // mirrors q_tpch_q19: three OR'd brand/size/quantity branches
    "q_tpch_q19" ->
      ("SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0 " +
        "+ 0.5) AS BIGINT)) AS BIGINT) AS revenue_c, " +
        "CAST(count(*) AS BIGINT) AS n_rows " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_quantity <= 30.0 AND (" +
        "(p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 " +
        "AND l_quantity BETWEEN 1 AND 11) OR " +
        "(p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 " +
        "AND l_quantity BETWEEN 10 AND 20) OR " +
        "(p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 " +
        "AND l_quantity BETWEEN 20 AND 30))"),
    // mirrors q_tpch_q22: integer cross-multiplied global avg + anti join
    "q_tpch_q22" ->
      ("WITH c AS (SELECT c_custkey, c_nationkey, " +
        "CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS acct_c FROM customer), " +
        "p AS (SELECT CAST(sum(acct_c) AS BIGINT) AS sum_pos_c, " +
        "CAST(count(*) AS BIGINT) AS n_pos FROM c WHERE acct_c > 0) " +
        "SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust, " +
        "CAST(sum(acct_c) AS BIGINT) AS total_acct_c FROM c, p " +
        "WHERE acct_c * n_pos > sum_pos_c " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01') " +
        "GROUP BY c_nationkey ORDER BY c_nationkey"),
    // mirrors q_tpch_q15: quarter revenue per supplier, global-max filter
    "q_tpch_q15" ->
      ("WITH rev AS (SELECT l_suppkey, CAST(sum(CAST(floor(l_extendedprice " +
        "* (1.0 - l_discount) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS total_revenue_c " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-07-01' " +
        "AND l_shipdate < TIMESTAMP '1996-10-01' GROUP BY l_suppkey), " +
        "m AS (SELECT max(total_revenue_c) AS max_rev_c FROM rev) " +
        "SELECT s_suppkey, s_name, total_revenue_c FROM rev, m " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE total_revenue_c = max_rev_c ORDER BY s_suppkey"),
    // mirrors q_tpch_q21: the two correlated EXISTS as per-order distinct
    // counts, 60-day late rule, top 20 by wait count
    "q_tpch_q21" ->
      ("WITH j AS (SELECT l_orderkey, l_suppkey, " +
        "CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END AS late " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderstatus = 'F'), " +
        "g AS (SELECT l_orderkey, count(DISTINCT l_suppkey) AS ns, " +
        "count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS nl " +
        "FROM j GROUP BY l_orderkey), " +
        "f AS (SELECT j.l_suppkey FROM j JOIN g ON j.l_orderkey = g.l_orderkey " +
        "WHERE j.late = 1 AND g.ns > 1 AND g.nl = 1), " +
        "c AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS numwait FROM f " +
        "GROUP BY l_suppkey), " +
        "t AS (SELECT s_name, s_suppkey, numwait FROM c " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "ORDER BY numwait DESC, s_name LIMIT 20) " +
        "SELECT row_number() OVER (ORDER BY numwait DESC, s_name) AS rank, " +
        "s_name, s_suppkey, numwait FROM t ORDER BY rank"),
    // mirrors TextOps.bigramFreqOfFreqs (word bigrams via 2-shingles)
    "q_bigram_freqs" ->
      (s"WITH tk AS (SELECT $duckToks AS t FROM documents), " +
        "bg AS (SELECT unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) AS bigram FROM tk), " +
        "c AS (SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg GROUP BY bigram) " +
        "SELECT n AS freq, CAST(count(*) AS BIGINT) AS n_types, " +
        "CAST(n * count(*) AS BIGINT) AS mass FROM c GROUP BY n ORDER BY freq"),
    // mirrors TextOps.bigramCondProb: prefix mass from the bigram table,
    // integer-bp conditional, top 20 by (count desc, w1, w2)
    "q_bigram_lm" ->
      (s"WITH tk AS (SELECT $duckToks AS t FROM documents), " +
        "bg AS (SELECT unnest(list_transform(range(1, len(t)), " +
        "i -> t[i] || ' ' || t[i+1])) AS bg FROM tk), " +
        "c AS (SELECT bg, CAST(count(*) AS BIGINT) AS n12 FROM bg GROUP BY bg), " +
        "s AS (SELECT string_split(bg, ' ')[1] AS w1, " +
        "string_split(bg, ' ')[2] AS w2, n12 FROM c), " +
        "p AS (SELECT w1, CAST(sum(n12) AS BIGINT) AS n1 FROM s GROUP BY w1), " +
        "t2 AS (SELECT s.w1, s.w2, s.n12, p.n1, (s.n12 * 10000) // p.n1 AS cond_bp " +
        "FROM s JOIN p USING (w1) ORDER BY n12 DESC, w1, w2 LIMIT 20) " +
        "SELECT row_number() OVER (ORDER BY n12 DESC, w1, w2) AS rank, " +
        "w1, w2, n12, n1, cond_bp FROM t2 ORDER BY rank"),
    // mirrors q_split_assign (80/10/10 hash-bucket split)
    "q_split_assign" ->
      (s"WITH b AS (SELECT source, ${StableHash.hash60Sql("CAST(doc_id AS VARCHAR)")} % 100 " +
        "AS bucket FROM documents), " +
        "sp AS (SELECT source, CASE WHEN bucket < 80 THEN 'train' " +
        "WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split FROM b) " +
        "SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs " +
        "FROM sp GROUP BY 1, 2 ORDER BY source, split"),
    // mirrors StatsOps.corrByGroup (bp quantization, HUGEINT moments)
    "q_stats_corr" -> StatsOps.corrByGroupSql(
      "lineitem", "l_returnflag", "l_quantity", "l_extendedprice"),
    // mirrors StatsOps.welchTTest — identical finalize strings
    "q_stats_welch" -> StatsOps.welchTTestSql("events", "view", "purchase"),
    // mirrors StatsOps.mannWhitney — histogram midranks, HUGEINT rank sum
    "q_stats_mannwhitney" -> StatsOps.mannWhitneySql("events", "view", "purchase"),
    // mirrors StatsOps.profile over the four lineitem numeric columns
    "q_profile" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"SELECT '$c' AS col_name, ${TextOps.roundBpSql(s"min($c)")} AS min_bp, " +
          s"${TextOps.roundBpSql(s"max($c)")} AS max_bp, " +
          s"CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS n_nulls, " +
          s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct FROM lineitem"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")
    },
    // mirrors LayoutOps.compactionPlan (target 16384 bytes, ceil division)
    "q_compact_plan" ->
      ("WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows, " +
        "CAST(sum(n_chars) AS BIGINT) AS est_bytes FROM documents GROUP BY source), " +
        "f AS (SELECT source, n_rows, est_bytes, " +
        "greatest(CAST(1 AS BIGINT), (est_bytes + 16383) // 16384) AS n_files FROM g) " +
        "SELECT source, n_rows, est_bytes, n_files, " +
        "(n_rows + n_files - 1) // n_files AS rows_per_file FROM f ORDER BY source"),
    // mirrors q_ivm_join: from-scratch join of the FULL tables — equality
    // proves the delta-join maintenance reproduced the recompute exactly
    "q_ivm_join" -> duckOrderCustomerSql,
    // mirrors q_ivm_agg: the oracle aggregates the WHOLE table from
    // scratch — equality proves the split+merge maintained the view
    "q_ivm_agg" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, " +
        s"CAST(sum(${TextOps.roundBpSql("value")}) AS BIGINT) AS value_bp " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // mirrors q_ivm_minmax: from-scratch min/max over the FINAL multiset
    // (base minus the %7 deletes plus the post-cutoff inserts) — equality
    // proves the bounded extrema buffer absorbed inserts AND deletes
    "q_ivm_minmax" ->
      ("WITH fin AS (SELECT event_type, " +
        s"${TextOps.roundBpSql("value")} AS v_bp FROM events " +
        "WHERE NOT (ts < TIMESTAMP '2024-01-15' AND event_id % 7 = 0)) " +
        "SELECT event_type, min(v_bp) AS min_bp, max(v_bp) AS max_bp " +
        "FROM fin GROUP BY event_type ORDER BY event_type"),
    // mirrors q_ivm_distinct: from-scratch COUNT(DISTINCT) — equality
    // proves the multiplicity state merged into the exact distinct view
    "q_ivm_distinct" ->
      ("SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "CAST(count(*) AS BIGINT) AS n_events " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    // mirrors EventOps.hourlyAnomalies (24 h trailing, lower medians,
    // MAD x 3, 12-hour warm-up)
    "q_events_anomaly" ->
      ("WITH h AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_s, event_type, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "w AS (SELECT bucket_s, event_type, n, list_sort(list(n) OVER " +
        "(PARTITION BY event_type ORDER BY bucket_s " +
        "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) AS hist FROM h), " +
        "f AS (SELECT * FROM w WHERE len(hist) >= 12), " +
        "m AS (SELECT *, hist[(len(hist) + 1) // 2] AS med FROM f), " +
        "d AS (SELECT *, list_sort(list_transform(hist, x -> abs(x - med)))" +
        "[(len(hist) + 1) // 2] AS mad FROM m) " +
        "SELECT bucket_s, event_type, n, med, mad FROM d " +
        "WHERE abs(n - med) > mad * 3 ORDER BY bucket_s, event_type"),
    // mirrors EventOps.cusumShifts: the per-type recursion as a recursive
    // CTE over the hour index (rn), identical xC-scaled BIGINT arithmetic
    "q_events_cusum" ->
      ("WITH RECURSIVE h AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_s, " +
        "event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "hr AS (SELECT h.*, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY bucket_s) AS rn FROM h), " +
        "st AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS s, " +
        "CAST(count(*) AS BIGINT) AS c FROM h GROUP BY 1), " +
        "rec AS (" +
        "SELECT hr.event_type, hr.rn, hr.bucket_s, hr.n, " +
        "greatest(0, hr.n * st.c - st.s - st.s // 2) AS s_hi, " +
        "greatest(0, st.s - st.s // 2 - hr.n * st.c) AS s_lo " +
        "FROM hr JOIN st USING (event_type) WHERE hr.rn = 1 " +
        "UNION ALL " +
        "SELECT hr.event_type, hr.rn, hr.bucket_s, hr.n, " +
        "greatest(0, r.s_hi + (hr.n * st.c - st.s - st.s // 2)), " +
        "greatest(0, r.s_lo + (st.s - st.s // 2 - hr.n * st.c)) " +
        "FROM rec r JOIN hr ON hr.event_type = r.event_type AND hr.rn = r.rn + 1 " +
        "JOIN st ON st.event_type = hr.event_type) " +
        "SELECT r.event_type, r.bucket_s, r.n, r.s_hi, r.s_lo, " +
        "(r.s_hi > 2 * st.s OR r.s_lo > 2 * st.s) AS alarm " +
        "FROM rec r JOIN st ON st.event_type = r.event_type " +
        "ORDER BY r.event_type, r.bucket_s"),
    "q_embed_norms" ->
      ("SELECT vec_id, label, len(embedding) AS dim, " +
        s"${TextOps.roundBpSql("sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))")} AS norm_bp " +
        "FROM embeddings ORDER BY vec_id"),
    "q_embed_knn" ->
      (s"WITH $duckSimCtes, " +
        "t AS (SELECT q_id, vec_id FROM r WHERE rank <= 10), " +
        "v AS (SELECT q_id, label, CAST(count(*) AS BIGINT) AS n_votes " +
        "FROM t JOIN embeddings USING (vec_id) GROUP BY q_id, label), " +
        "rr AS (SELECT *, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY n_votes DESC, label) AS rn FROM v) " +
        "SELECT q_id, label AS pred_label, n_votes FROM rr WHERE rn = 1 ORDER BY q_id"),
    "q_embed_neardup" ->
      (s"WITH $duckNearDupCtes " +
        "SELECT id_a, id_b, cos_bp FROM vp2 ORDER BY id_a, id_b"),
    // mirrors q_embed_forget: the vp2 pair set under the q_dedup_forget
    // recursive tail (before-closure, tombstone-filtered after-closure,
    // affected-cluster restriction) keyed on vector ids
    "q_embed_forget" ->
      (s"WITH RECURSIVE $duckNearDupCtes, " +
        "tb AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings WHERE vec_id % 100 = 0), " +
        s"${duckForgetCtes("vp2", "tb")} " +
        s"SELECT doc_id AS vec_id, $duckForgetCols FROM out ORDER BY vec_id"),
    // mirrors SimOps.nearDupRecallAudit: ~64 hash-chosen anchor reps
    // scored exactly against every rep (truth), the rp2 bucket pairing's
    // anchor-touching pairs divided in (found)
    "q_recall_audit_neardup" ->
      (s"WITH $duckNearDupCtes, ${duckVecAnchorCtes("nrep", "rp2", 4000)} " +
        duckRecallSql("anch", "fa")),
    // mirrors SimOps.nearDupPairsMulti at the DERIVED configuration:
    // floor(dim / nbits) tables of nbits bits over disjoint dim blocks,
    // per-(t, bucket) participation cap, pair dedup on (ra, rb, cos_bp),
    // member re-attach via the shared emem/intra2 CTEs
    "q_embed_neardup_multi" ->
      (s"WITH $duckNearDupCtes, " +
        "tt AS (SELECT unnest(range(0, greatest(1, " +
        s"${SimOps.embDimSql("base")} // (SELECT b FROM nbits)))) AS t), " +
        // the bit width joins in as a COLUMN (DuckDB lambdas reject
        // subqueries but accept outer column references)
        "mk AS (SELECT n.vec_id, n.e, n.nrm, tt.t, " +
        "list_sum(list_transform(range(1, nbits.b + 1), i -> " +
        "CASE WHEN n.e[CAST(tt.t * nbits.b + i AS BIGINT)] >= 0 " +
        "THEN (1 << (i - 1)) ELSE 0 END)) AS bval " +
        "FROM nrep n CROSS JOIN tt CROSS JOIN nbits), " +
        "mcap AS (SELECT vec_id, e, nrm, t, bval FROM (SELECT *, row_number() " +
        "OVER (PARTITION BY t, bval ORDER BY vec_id) AS rk FROM mk) " +
        s"WHERE rk <= ${DedupOps.DefaultMaxBucket}), " +
        "rpm AS (SELECT DISTINCT ra, rb, cos_bp FROM (SELECT a.vec_id AS ra, " +
        s"b.vec_id AS rb, $duckPairCosBp AS cos_bp " +
        "FROM mcap a JOIN mcap b ON a.t = b.t AND a.bval = b.bval " +
        "AND a.vec_id < b.vec_id) WHERE cos_bp >= 4000), " +
        "crossm AS (SELECT least(ma.vec_id, mb.vec_id) AS id_a, " +
        "greatest(ma.vec_id, mb.vec_id) AS id_b, cos_bp FROM rpm " +
        "JOIN emem ma ON rpm.ra = ma.rep JOIN emem mb ON rpm.rb = mb.rep) " +
        "SELECT id_a, id_b, cos_bp FROM " +
        "(SELECT * FROM crossm UNION ALL SELECT * FROM intra2) " +
        "ORDER BY id_a, id_b"),
    // mirrors q_embed_clusters: the near-dup pair CTE closed under the
    // recursive min-label reachability (the q_media_clusters pattern)
    "q_embed_clusters" ->
      (s"WITH RECURSIVE $duckNearDupCtes, ${duckReachCtes("vp2")} " +
        "SELECT id AS vec_id, min(lab) AS cluster_id FROM reach " +
        "GROUP BY id ORDER BY vec_id"),
    // mirrors q_embed_keep_best / SimOps.clusterKeepBest: the cluster CTE
    // closed as above, then the bp-quantize-then-average mean per cluster
    // (integer bp sums, one double division per dimension — the
    // refineCentroids rule), cosine of every member against its cluster
    // mean, and the per-cluster argmax (cos DESC, vec_id)
    "q_embed_keep_best" ->
      (s"WITH RECURSIVE $duckNearDupCtes, ${duckReachCtes("vp2")}, " +
        "cl AS (SELECT id AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY id), " +
        "mv AS (SELECT cl.cluster_id, cl.vec_id, b.embedding::DOUBLE[] AS e " +
        "FROM cl JOIN base b USING (vec_id)), " +
        "ex AS (SELECT cluster_id, e, unnest(range(1, len(e) + 1)) AS dim FROM mv), " +
        s"qd AS (SELECT cluster_id, CAST(dim AS BIGINT) AS dim, " +
        s"${TextOps.roundBpSql("e[dim]")} AS x_bp FROM ex), " +
        "ms AS (SELECT cluster_id, dim, sum(x_bp) AS s, count(*) AS cnt " +
        "FROM qd GROUP BY cluster_id, dim), " +
        "cm AS (SELECT cluster_id, list(s::DOUBLE / (cnt * 10000.0) ORDER BY dim) AS ce " +
        "FROM ms GROUP BY cluster_id), " +
        "sc AS (SELECT mv.cluster_id, mv.vec_id, " +
        "list_dot_product(mv.e, cm.ce) / " +
        "(sqrt(list_dot_product(mv.e, mv.e)) * sqrt(list_dot_product(cm.ce, cm.ce))) AS cos " +
        "FROM mv JOIN cm USING (cluster_id)), " +
        "rk AS (SELECT cluster_id, vec_id, cos, " +
        "count(*) OVER (PARTITION BY cluster_id) AS n_vecs, " +
        "row_number() OVER (PARTITION BY cluster_id ORDER BY cos DESC, vec_id) AS rn " +
        "FROM sc) " +
        s"SELECT cluster_id, n_vecs, vec_id AS keep_id, " +
        s"${TextOps.roundBpSql("cos")} AS keep_cos_bp " +
        "FROM rk WHERE rn = 1 ORDER BY cluster_id"),
    // mirrors SimOps.cellNearDupPairs: exact-dedup-first, occupancy-64
    // hash-sampled centroids over the FULL planted corpus, rep argmax
    // cell assignment, id-rank 256-cap per cell, within-cell threshold
    // pairing, member re-attach (cross at rep cosine, intra at 10000)
    "q_embed_neardup_cells" -> duckCellsSql(hier = false),
    // same chain with the two-level quantizer's assignment middle
    // (supercenter stride, centroid→supercell argmax, block-restricted
    // best cell — the duckKnnHierSql construction over the cells corpus)
    "q_embed_neardup_cells_hier" -> duckCellsSql(hier = true),
    // flat chain at probes=2: a-side = top-2 cells of home-cap survivors,
    // b-side = capped home membership, DISTINCT on the unordered pair
    "q_embed_neardup_cells_p2" -> duckCellsSql(hier = false, probes = 2),
    // the probes knob on the two-level quantizer: crn <= 2 over the
    // block-restricted ranking (bsr), same cap/pair/re-attach chain
    "q_embed_neardup_cells_hier_p2" -> duckCellsSql(hier = true, probes = 2),
    // both knobs composed: vs rn <= 2 over TWO scanned blocks' union
    "q_embed_neardup_cells_hier2_p2" ->
      duckCellsSql(hier = true, probes = 2, superProbes = 2),
    // mirrors SimOps.cellRecallAudit at probes = 2: the cells CTE chain's
    // rep-pair set `rp` (the rep-rep restriction of the declared member
    // output) anchor-restricted and divided into the same anchor truth
    // as the q_recall_audit_neardup oracle, built over the cells chain's
    // rep frame `n`
    "q_recall_audit_cells" -> duckCellRecallAuditSql(hier = false, probes = 2),
    // the hier leg of the same audit: the q_embed_neardup_cells_hier_p2
    // pairing scored on the identical anchor truth — the declared form of
    // the SKEW grid's hier-p2 rows
    "q_recall_audit_cells_hier" -> duckCellRecallAuditSql(hier = true, probes = 2),
    "q_recall_audit_semdedup" ->
      ("SELECT 'flat' AS quantizer, * FROM " +
        s"(${duckSemDedupRecallAuditSql(hier = false)}) " +
        "UNION ALL SELECT 'hier' AS quantizer, * FROM " +
        s"(${duckSemDedupRecallAuditSql(hier = true)}) ORDER BY quantizer"),
    // mirrors SimOps.semDedup: exact-dedup-first (identical embeddings
    // collapse to a min-id rep; members never survive), √N-sized
    // hash-sampled centroids over the FULL planted corpus, rep-only cell
    // assignment, within-cell cosine >= 0.99 drops the higher rep id
    "q_semdedup" -> duckSemDedupSql(hier = false),
    // the hier quantizer under SemDeDup: same cap/pair/survivor chain,
    // assignment through the shared two-level fragment
    "q_semdedup_hier" -> duckSemDedupSql(hier = true),
    // mirrors the q_embed_pipeline composition: the q_embed_neardup pair
    // chain feeding a drop-set left join and per-label rollup
    "q_embed_pipeline" ->
      (s"WITH $duckNearDupCtes, " +
        "d AS (SELECT DISTINCT id_b FROM vp2) " +
        "SELECT label, CAST(count(*) AS BIGINT) AS n_total, " +
        "CAST(count(d.id_b) AS BIGINT) AS n_dropped, " +
        "CAST(count(*) - count(d.id_b) AS BIGINT) AS n_kept " +
        "FROM base LEFT JOIN d ON base.vec_id = d.id_b " +
        "GROUP BY label ORDER BY label"),
    "q_media_meta" ->
      (s"WITH $duckMedia " +
        "SELECT media_id, kind, n AS n_bytes, md5(text) AS fp_md5, " +
        "lower(substr(h, 1, 8)) AS magic FROM media ORDER BY media_id"),
    "q_media_frames" -> {
      val parts = (0 until 8).map(j => s"substr(h, $j * step * 2 + 1, 2)").mkString(", ")
      s"WITH $duckMedia, m2 AS (SELECT *, n // 8 AS step FROM media WHERE n >= 8) " +
        s"SELECT media_id, kind, n AS n_bytes, lower(concat($parts)) AS frame_hex " +
        "FROM m2 ORDER BY media_id"
    },
    // mirrors MultimodalOps.plantDims + mediaDims at the hex-string level
    // (DuckDB blob surgery is limited; hex is the shared representation)
    "q_media_dims" ->
      (s"WITH $duckMedia, " +
        "pm AS (SELECT media_id, kind, h, " +
        "(media_id * 37 + 64) % 4096 + 1 AS w, " +
        "(media_id * 53 + 48) % 2160 + 1 AS hh FROM media), " +
        "ph AS (SELECT media_id, kind, '89504e47' || " +
        "lpad(lower(to_hex(w)), 8, '0') || lpad(lower(to_hex(hh)), 8, '0') || " +
        "lower(h) AS p FROM pm) " +
        "SELECT media_id, kind, " +
        "('0x' || substr(p, 9, 8))::BIGINT AS width, " +
        "('0x' || substr(p, 17, 8))::BIGINT AS height, " +
        "CAST(length(p) // 2 - 12 AS BIGINT) AS body_bytes " +
        "FROM ph ORDER BY media_id"),
    // mirrors MultimodalOps.plantRle + decodeFeatures: the oracle replays
    // the generative run formula (decompressed byte i = value of run
    // i div R) for ground truth; the Spark side only ever reads the
    // compressed binary and genuinely decompresses it.
    "q_media_features" ->
      ("WITH px AS (SELECT doc_id AS media_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image' " +
        "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "((doc_id * 3 + 2) % 9) + 2 AS w, " +
        "((doc_id * 5 + 1) % 7) + 2 AS h, " +
        "(doc_id % 5) + 3 AS r FROM documents), " +
        "d AS (SELECT *, w * h * 3 AS n, (w * h * 3 + r - 1) // r AS k FROM px), " +
        "u AS (SELECT media_id, kind, w, h, n, k, r, " +
        "unnest(range(0, n)) AS i FROM d), " +
        "b AS (SELECT media_id, kind, w, h, n, k, " +
        "(media_id * 31 + (i // r) * 7) % 256 AS v, i % 3 AS ch FROM u) " +
        "SELECT media_id, kind, CAST(w AS BIGINT) AS width, " +
        "CAST(h AS BIGINT) AS height, " +
        "CAST(w * h AS BIGINT) AS n_px, CAST(k AS BIGINT) AS n_runs, " +
        "CAST(12 + 2 * k AS BIGINT) AS comp_bytes, " +
        "CAST((12 + 2 * k) * 10000 // (12 + n) AS BIGINT) AS ratio_bp, " +
        "CAST(sum(v) FILTER (WHERE ch = 0) // (w * h) AS BIGINT) AS r_mean, " +
        "CAST(sum(v) FILTER (WHERE ch = 1) // (w * h) AS BIGINT) AS g_mean, " +
        "CAST(sum(v) FILTER (WHERE ch = 2) // (w * h) AS BIGINT) AS b_mean " +
        "FROM b GROUP BY media_id, kind, w, h, n, k ORDER BY media_id"),
    // mirrors MultimodalOps.plantPixels + decodePixels: the oracle computes
    // ground truth from the generative pixel formula; the Spark side
    // genuinely parses the same values back out of the planted binary.
    "q_media_pixels" ->
      ("WITH px AS (SELECT doc_id AS media_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image' " +
        "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "((doc_id * 3 + 2) % 9) + 2 AS width, " +
        "((doc_id * 5 + 1) % 7) + 2 AS height FROM documents), " +
        "u AS (SELECT media_id, kind, width, height, " +
        "unnest(range(0, width * height * 3)) AS i FROM px), " +
        "b AS (SELECT media_id, kind, width, height, " +
        "(media_id * 31 + i * 7) % 256 AS v, i % 3 AS ch FROM u) " +
        "SELECT media_id, kind, CAST(width AS BIGINT) AS width, " +
        "CAST(height AS BIGINT) AS height, " +
        "CAST(width * height AS BIGINT) AS n_px, " +
        "CAST(sum(v) FILTER (WHERE ch = 0) // (width * height) AS BIGINT) AS r_mean, " +
        "CAST(sum(v) FILTER (WHERE ch = 1) // (width * height) AS BIGINT) AS g_mean, " +
        "CAST(sum(v) FILTER (WHERE ch = 2) // (width * height) AS BIGINT) AS b_mean, " +
        "CAST(min(v) FILTER (WHERE ch = 0) AS BIGINT) AS r_min, " +
        "CAST(max(v) FILTER (WHERE ch = 0) AS BIGINT) AS r_max, " +
        "CAST(min(v) FILTER (WHERE ch = 1) AS BIGINT) AS g_min, " +
        "CAST(max(v) FILTER (WHERE ch = 1) AS BIGINT) AS g_max, " +
        "CAST(min(v) FILTER (WHERE ch = 2) AS BIGINT) AS b_min, " +
        "CAST(max(v) FILTER (WHERE ch = 2) AS BIGINT) AS b_max " +
        "FROM b GROUP BY media_id, kind, width, height ORDER BY media_id"),
    // mirrors MultimodalOps.resizePixels (4x3): the oracle replays the
    // nearest-neighbor index arithmetic on the generative pixel formula;
    // j enumerates (y, x, ch) of the 36 sampled bytes
    "q_media_resize" ->
      ("WITH px AS (SELECT doc_id AS media_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image' " +
        "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
        "((doc_id * 3 + 2) % 9) + 2 AS w, " +
        "((doc_id * 5 + 1) % 7) + 2 AS h FROM documents), " +
        "g AS (SELECT media_id, kind, w, h, unnest(range(0, 36)) AS j FROM px), " +
        "s AS (SELECT media_id, kind, j % 3 AS ch, " +
        "(media_id * 31 + ((((j // 12) * h // 3) * w + ((j % 12) // 3) * w // 4) * 3 " +
        "+ j % 3) * 7) % 256 AS v FROM g) " +
        "SELECT media_id, kind, CAST(4 AS BIGINT) AS width, " +
        "CAST(3 AS BIGINT) AS height, " +
        "CAST(sum(v) FILTER (WHERE ch = 0) // 12 AS BIGINT) AS r_mean, " +
        "CAST(sum(v) FILTER (WHERE ch = 1) // 12 AS BIGINT) AS g_mean, " +
        "CAST(sum(v) FILTER (WHERE ch = 2) // 12 AS BIGINT) AS b_mean, " +
        "CAST(sum(v) AS BIGINT) AS checksum " +
        "FROM s GROUP BY media_id, kind ORDER BY media_id"),
    // mirrors MultimodalOps.plantPhashCorpus + phashBands + phashPairs:
    // the oracle replays the generative pixel formula through the SAME
    // 8x8 nearest-neighbor sample, strict-mean bit rule, byte-band LSH
    // (bucket cap 64 mirrored), and popcount-of-XOR verify; the Spark
    // side only ever reads the planted binary.
    "q_media_phash" ->
      (s"WITH $duckPhashCtes " +
        "SELECT id_a, id_b, hamming, " +
        "CAST(id_a // 4 = id_b // 4 AS BIGINT) AS same_src " +
        "FROM pp ORDER BY id_a, id_b"),
    // the dense plant's chain: identical machinery, but pgrid derives 16
    // (probe universe > 2048) so the 16-arm of the CASE and the 16x16
    // hash replay are what actually run
    "q_media_phash_dense" ->
      (s"WITH $duckPhashDenseCtes " +
        "SELECT id_a, id_b, hamming, " +
        "CAST(id_a // 4 = id_b // 4 AS BIGINT) AS same_src " +
        "FROM pp ORDER BY id_a, id_b"),
    // mirrors q_media_clusters: the same phash pair CTE closed under the
    // recursive min-label reachability (the q_dedup_clusters pattern)
    "q_media_clusters" ->
      (s"WITH RECURSIVE $duckPhashCtes, ${duckReachCtes("pp")} " +
        "SELECT id AS media_id, min(lab) AS cluster_id FROM reach " +
        "GROUP BY id ORDER BY media_id"),
    // mirrors q_media_forget: the phash pair CTE + the q_dedup_forget
    // recursive tail (before-closure, tombstone-filtered after-closure,
    // affected-cluster restriction) keyed on media ids
    "q_media_forget" ->
      (s"WITH RECURSIVE $duckPhashCtes, " +
        "tb AS (SELECT DISTINCT media_id AS doc_id FROM m WHERE media_id % 13 = 3), " +
        s"${duckForgetCtes("pp", "tb")} " +
        s"SELECT doc_id AS media_id, $duckForgetCols FROM out ORDER BY media_id"),
    // mirrors MultimodalOps.cdcChunks + cdcDuplicateChunks on the planted
    // dedup corpus: the oracle replays the rolling 4-byte window hash
    // (b0*27+b1*9+b2*3+b3 ≡ 0 mod 32, interior cuts only) over the SAME
    // ASCII payload text, segments via lead(), and md5s each chunk — the
    // Spark side runs the real per-byte chunker on the binary.
    // ASCII-CORPUS ASSUMPTION: the oracle walks CHARACTERS via
    // ascii()/substring()/length() while the operator walks UTF-8 BYTES;
    // the two coincide only because the documents fixture is pure ASCII
    // (verified: octet_length(encode(text)) = length(text) for every row
    // at every SF). A multibyte corpus needs an octet-level oracle
    // (replay over encode(text)) instead.
    "q_media_cdc" ->
      (s"WITH m AS ($duckCorpus), " +
        "d AS (SELECT doc_id, text, length(text) AS n FROM m), " +
        "bpos AS (SELECT doc_id, text, n, unnest(range(4, n + 1)) AS p FROM d), " +
        "cut0 AS (SELECT doc_id, p FROM bpos WHERE p < n AND " +
        "(ascii(substring(text, p-3, 1))*27 + ascii(substring(text, p-2, 1))*9 " +
        "+ ascii(substring(text, p-1, 1))*3 + ascii(substring(text, p, 1))) % 32 = 0), " +
        "cuts AS (SELECT doc_id, text, 0 AS cut FROM d " +
        "UNION ALL SELECT c.doc_id, d.text, c.p AS cut FROM cut0 c JOIN d ON c.doc_id = d.doc_id " +
        "UNION ALL SELECT doc_id, text, n AS cut FROM d), " +
        "seg AS (SELECT doc_id, text, cut AS s, lead(cut) OVER " +
        "(PARTITION BY doc_id ORDER BY cut) AS e FROM cuts), " +
        "ch AS (SELECT doc_id, e - s AS len, " +
        "md5(substring(text, CAST(s + 1 AS INT), CAST(e - s AS INT))) AS chunk_md5 " +
        "FROM seg WHERE e IS NOT NULL) " +
        "SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_media, " +
        "CAST(count(*) AS BIGINT) AS n_occ, " +
        "CAST(min(len) AS BIGINT) AS chunk_bytes, " +
        "CAST((count(*) - 1) * min(len) AS BIGINT) AS saved_bytes " +
        "FROM ch GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2 " +
        "ORDER BY chunk_md5"),
    // DuckDB has native ASOF JOIN — the right side is pre-deduped per
    // (user, ts) to the max event_id, matching AsofOps' tie-break.
    "q_asof_join" ->
      ("WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'), " +
        "r0 AS (SELECT event_id, user_id, ts, row_number() OVER " +
        "(PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn " +
        "FROM events WHERE event_type = 'click'), " +
        "r AS (SELECT event_id, user_id, ts FROM r0 WHERE rn = 1) " +
        "SELECT l.event_id AS l_event_id, l.user_id, r.event_id AS r_event_id, " +
        "epoch_us(l.ts) - epoch_us(r.ts) AS gap_us " +
        "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts " +
        "ORDER BY l_event_id"),
    "q_range_join" ->
      ("SELECT l.event_id AS l_event_id, r.event_id AS r_event_id, l.user_id, " +
        "epoch_us(r.ts) - epoch_us(l.ts) AS gap_us " +
        "FROM events l JOIN events r ON l.user_id = r.user_id " +
        "AND epoch_us(r.ts) > epoch_us(l.ts) " +
        "AND epoch_us(r.ts) <= epoch_us(l.ts) + 3600000000 " +
        "WHERE l.event_type = 'view' AND r.event_type = 'purchase' " +
        "ORDER BY l_event_id, r_event_id"),
    // mirrors EventOps.typeTransitions: lag over (user, ts, event_id),
    // |types|^2 matrix, row shares in bp
    "q_events_markov" ->
      ("WITH p AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS from_type FROM events), " +
        "g AS (SELECT from_type, event_type AS to_type, " +
        "CAST(count(*) AS BIGINT) AS n FROM p WHERE from_type IS NOT NULL " +
        "GROUP BY from_type, event_type), " +
        "w AS (SELECT *, CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) " +
        "AS row_total FROM g) " +
        "SELECT from_type, to_type, n, " +
        "CAST(n * 10000 // row_total AS BIGINT) AS p_bp " +
        "FROM w ORDER BY from_type, to_type"),
    // mirrors EventOps.seasonalProfile: bp-quantized per-event values,
    // per-type totals as windows over the 24-row-per-type aggregate
    "q_events_seasonal" ->
      (s"WITH a AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour, " +
        "CAST(count(*) AS BIGINT) AS n_events, " +
        s"CAST(sum(${TextOps.roundBpSql("value")}) AS BIGINT) AS v_bp " +
        "FROM events GROUP BY event_type, hour(ts)), " +
        "w AS (SELECT *, CAST(sum(n_events) OVER (PARTITION BY event_type) AS BIGINT) AS t_events, " +
        "CAST(sum(v_bp) OVER (PARTITION BY event_type) AS BIGINT) AS t_vbp FROM a) " +
        "SELECT event_type, hour, n_events, " +
        s"${EventOps.seasonalShare} AS share_bp, " +
        s"${EventOps.seasonalMean} AS mean_bp, " +
        s"${EventOps.seasonalDev} AS dev_bp " +
        "FROM w ORDER BY event_type, hour"),
    "q_events_hourly" ->
      ("SELECT date_trunc('hour', ts) AS bucket, event_type, " +
        "CAST(count(*) AS BIGINT) AS n_events, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type"),
    "q_events_gapfill" ->
      ("WITH h AS (SELECT event_type, date_trunc('hour', ts) AS bucket, " +
        "CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS sum_value " +
        "FROM events GROUP BY 1, 2), " +
        "span AS (SELECT date_trunc('hour', min(ts)) AS h0, " +
        "date_trunc('hour', max(ts)) AS h1 FROM events), " +
        "ty AS (SELECT DISTINCT event_type FROM events), " +
        "spine AS (SELECT event_type, unnest(generate_series(h0, h1, " +
        "INTERVAL 1 HOUR)) AS bucket FROM ty CROSS JOIN span) " +
        "SELECT spine.bucket AS bucket, spine.event_type AS event_type, " +
        "coalesce(n_events, 0) AS n_events, " +
        "coalesce(sum_value, 0) AS sum_value " +
        "FROM spine LEFT JOIN h ON h.bucket = spine.bucket " +
        "AND h.event_type = spine.event_type " +
        "ORDER BY bucket, event_type"),
    // mirrors EventOps.ewmaHourly (span 8, power-of-two weights, bp longs)
    "q_events_ewma" -> EventOps.ewmaHourlySql(),
    "q_events_sessions" -> duckSessionsSql,
    // mirrors EventOps.runningStats: bp-quantized integer running sums
    // (window sum association differs between engines on doubles)
    "q_events_running" -> {
      val over = "OVER (PARTITION BY user_id ORDER BY ts, event_id"
      s"WITH w AS (SELECT user_id, event_id, " +
        s"CAST(sum(${TextOps.roundBpSql("value")}) $over " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_bp, " +
        s"coalesce(lag(${TextOps.roundBpSql("value")}) $over), 0) AS prev_bp, " +
        s"coalesce(epoch_us(ts) - lag(epoch_us(ts)) $over), 0) AS gap_us " +
        "FROM events) " +
        "SELECT user_id, event_id, running_bp, prev_bp, gap_us FROM w " +
        "ORDER BY user_id, event_id"
    },
    // session_window merges touching windows — boundary-identical to the
    // lag formulation, so the oracle is q_events_sessions' SQL verbatim
    "q_events_sessions_native" -> duckSessionsSql,
    // each event lands in 2 windows (width 3600s, slide 1800s): starts
    // floor(t/1800)*1800 and that minus 1800
    "q_events_sliding" ->
      ("WITH e AS (SELECT event_type, value, " +
        "(epoch_us(ts) // 1800000000) * 1800 AS b1 FROM events), " +
        "w AS (SELECT event_type, value, unnest([b1 - 1800, b1]) AS bucket_s FROM e) " +
        "SELECT bucket_s, event_type, CAST(count(*) AS BIGINT) AS n_events, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM w GROUP BY bucket_s, event_type ORDER BY bucket_s, event_type"),
    "q_events_percentiles" ->
      ("SELECT event_type, " +
        s"${TextOps.roundBpSql("quantile_cont(value, 0.5)")} AS p50_bp, " +
        s"${TextOps.roundBpSql("quantile_cont(value, 0.95)")} AS p95_bp " +
        "FROM events GROUP BY event_type ORDER BY event_type"),
    "q_map_funcs" ->
      ("SELECT event_id, array_to_string(list_sort(json_keys(props)), ',') AS keys_csv, " +
        "CAST(len(json_keys(props)) AS BIGINT) AS n_keys " +
        "FROM events ORDER BY event_id"),
    "q_events_json" ->
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(sum(k) AS BIGINT) AS sum_k, round(avg(k), 4) AS avg_k FROM (" +
        "SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k " +
        "FROM events) GROUP BY event_type ORDER BY event_type"),
    "q_hll_distinct" ->
      SketchOps.hllDistinctSql("events", "event_type", "event_id", "est_ids"),
    // mirrors SketchOps.kmvSourceIntersect (k = 64, shared 60-bit md5 hash)
    "q_kmv_intersect" -> SketchOps.kmvSourceIntersectSql(duckToks),
    // mirrors SketchOps.cmsTable/cmsEstimate (depth 4, width 256) over
    // corpus tokens, probes from cmsProbes
    "q_cms_freq" -> {
      def cellRows(src: String): String = (0 until SketchOps.CmsDepth).map { i =>
        s"SELECT token, $i AS d, (${StableHash.seededSql("token", i)}) % ${SketchOps.CmsWidth} AS bucket FROM $src"
      }.mkString(" UNION ALL ")
      val probeValues = cmsProbes.map(t => s"('$t')").mkString(", ")
      s"WITH tok AS (SELECT unnest($duckToks) AS token FROM documents), " +
        s"cells AS (${cellRows("tok")}), " +
        "cms AS (SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt " +
        "FROM cells GROUP BY d, bucket), " +
        s"probes(token) AS (VALUES $probeValues), " +
        s"pc AS (${cellRows("probes")}), " +
        "pj AS (SELECT pc.token, coalesce(cms.cnt, 0) AS cnt " +
        "FROM pc LEFT JOIN cms ON pc.d = cms.d AND pc.bucket = cms.bucket), " +
        "est AS (SELECT token, min(cnt) AS est_n FROM pj GROUP BY token), " +
        "ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_n FROM tok GROUP BY token) " +
        "SELECT est.token, est_n, coalesce(ex.exact_n, 0) AS exact_n " +
        "FROM est LEFT JOIN ex ON est.token = ex.token ORDER BY est.token"
    },
    // mirrors the q_bloom_join pipeline: same md5+affine positions mod
    // 1024, k=3, HAVING count(*)=3 membership, per-priority flag counts
    "q_bloom_join" -> {
      def fams(h: String) = (0 until SketchOps.BloomHashes)
        .map(i => s"(${StableHash.familyOfSql(h, i)}) % ${SketchOps.BloomBits}")
        .mkString(", ")
      s"WITH bk AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000), " +
        s"bh AS (SELECT ${StableHash.hash60Sql("CAST(k AS VARCHAR)")} AS h FROM bk), " +
        s"bbits AS (SELECT DISTINCT bit FROM (SELECT unnest([${fams("h")}]) AS bit FROM bh)), " +
        "pk AS (SELECT DISTINCT o_custkey AS key FROM orders), " +
        s"ph AS (SELECT key, ${StableHash.hash60Sql("CAST(key AS VARCHAR)")} AS h FROM pk), " +
        s"pp AS (SELECT key, unnest([${fams("h")}]) AS bit FROM ph), " +
        "hits AS (SELECT key FROM pp JOIN bbits USING (bit) GROUP BY key " +
        s"HAVING count(*) = ${SketchOps.BloomHashes}) " +
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, " +
        "CAST(count(*) FILTER (o_custkey IN (SELECT key FROM hits)) AS BIGINT) AS n_bloom, " +
        "CAST(count(*) FILTER (o_custkey IN (SELECT k FROM bk)) AS BIGINT) AS n_exact " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    },
    // mirrors LayoutOps.zorderStats(l_partkey, l_suppkey, 64): identical
    // integer normalize + bit-interleave arithmetic
    "q_zorder" -> {
      val bucketWidth = (1L << 32) / 64
      s"WITH b AS (SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi, " +
        "min(l_suppkey) AS ylo, max(l_suppkey) AS yhi FROM lineitem), " +
        "n AS (SELECT l_partkey, l_suppkey, " +
        "((l_partkey - xlo) * 65535) // greatest(xhi - xlo, 1) AS xb, " +
        "((l_suppkey - ylo) * 65535) // greatest(yhi - ylo, 1) AS yb " +
        "FROM lineitem, b), " +
        s"z AS (SELECT l_partkey, l_suppkey, " +
        s"(${graft.operators.LayoutOps.interleave16Sql("xb", "yb")}) // $bucketWidth " +
        "AS zbucket FROM n) " +
        "SELECT zbucket, CAST(count(*) AS BIGINT) AS n_rows, " +
        "min(l_partkey) AS min_x, max(l_partkey) AS max_x, " +
        "min(l_suppkey) AS min_y, max(l_suppkey) AS max_y " +
        "FROM z GROUP BY zbucket ORDER BY zbucket"
    },
    // mirrors EventOps.funnel(view, click, purchase): each stage's min ts
    // strictly after the user's previous-stage ts
    "q_events_funnel" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "u AS (SELECT DISTINCT user_id FROM e), " +
        "s1 AS (SELECT user_id, min(us) AS t1_us FROM e " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(us) AS t2_us FROM e " +
        "JOIN s1 ON e.user_id = s1.user_id AND e.us > s1.t1_us " +
        "WHERE event_type = 'click' GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(us) AS t3_us FROM e " +
        "JOIN s2 ON e.user_id = s2.user_id AND e.us > s2.t2_us " +
        "WHERE event_type = 'purchase' GROUP BY e.user_id) " +
        "SELECT u.user_id, " +
        "CAST(CASE WHEN t1_us IS NULL THEN 0 ELSE 1 END " +
        "+ CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END " +
        "+ CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END AS BIGINT) AS stage_reached, " +
        "coalesce(t1_us, -1) AS t1_us, coalesce(t2_us, -1) AS t2_us, " +
        "coalesce(t3_us, -1) AS t3_us " +
        "FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) " +
        "LEFT JOIN s3 USING (user_id) ORDER BY u.user_id"),
    // mirrors EventOps.retentionCohorts (maxOffset 7)
    "q_events_retention" ->
      ("WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id), " +
        "j AS (SELECT d.user_id, cohort_day, " +
        "date_diff('day', cohort_day, day) AS day_offset " +
        "FROM d JOIN c ON d.user_id = c.user_id) " +
        "SELECT CAST(cohort_day AS VARCHAR) AS cohort_day, " +
        "CAST(day_offset AS BIGINT) AS day_offset, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM j WHERE day_offset <= 7 GROUP BY cohort_day, day_offset " +
        "ORDER BY cohort_day, day_offset"),
    // mirrors StatsOps.histogramQuantiles(64 buckets, q = .5/.95/.99):
    // same cumulative-rank interpolation, exact side via quantile_cont
    "q_hist_quantiles" -> {
      val qs = Seq(0.5, 0.95, 0.99)
      val exactRows = qs.map(q =>
        s"SELECT ${TextOps.roundBpSql(q.toString)} AS q_bp, " +
          s"${TextOps.roundBpSql(s"quantile_cont(CAST(l_extendedprice AS DOUBLE), $q)")} " +
          "AS exact_bp FROM lineitem").mkString(" UNION ALL ")
      val est = TextOps.roundBpSql(
        "lo + w * (CAST(bucket AS DOUBLE) + " +
          "(r - CAST(cum - n_rows AS DOUBLE)) / CAST(n_rows AS DOUBLE))")
      s"WITH b AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo, " +
        "max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem), " +
        "rr AS (SELECT CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - lo) / " +
        "((hi - lo) / 64.0)), 63.0) AS BIGINT) AS bucket, lo, (hi - lo) / 64.0 AS w " +
        "FROM lineitem, b), " +
        "g AS (SELECT bucket, lo, w, CAST(count(*) AS BIGINT) AS n_rows " +
        "FROM rr GROUP BY bucket, lo, w), " +
        "cum AS (SELECT *, sum(n_rows) OVER (ORDER BY bucket ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, sum(n_rows) OVER () AS n_total " +
        "FROM g), " +
        s"q(q) AS (VALUES ${qs.map(q => s"($q)").mkString(", ")}), " +
        "p AS (SELECT q, bucket, lo, w, n_rows, cum, " +
        "q * CAST(n_total AS DOUBLE) AS r FROM cum, q " +
        "WHERE CAST(cum AS DOUBLE) >= q * CAST(n_total AS DOUBLE)), " +
        "f AS (SELECT *, row_number() OVER (PARTITION BY q ORDER BY bucket) AS rn FROM p), " +
        s"est AS (SELECT ${TextOps.roundBpSql("q")} AS q_bp, $est AS est_bp " +
        "FROM f WHERE rn = 1), " +
        s"ex AS ($exactRows) " +
        "SELECT est.q_bp, est_bp, exact_bp FROM est JOIN ex ON est.q_bp = ex.q_bp " +
        "ORDER BY est.q_bp"
    },
    // mirrors the q_full_join full-outer aggregate join
    "q_full_join" ->
      ("WITH a AS (SELECT o_custkey AS k1, CAST(count(*) AS BIGINT) AS n_1996 " +
        "FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey), " +
        "b AS (SELECT o_custkey AS k2, CAST(count(*) AS BIGINT) AS n_1997 " +
        "FROM orders WHERE year(o_orderdate) = 1997 GROUP BY o_custkey) " +
        "SELECT coalesce(k1, k2) AS custkey, coalesce(n_1996, 0) AS n_1996, " +
        "coalesce(n_1997, 0) AS n_1997 FROM a FULL JOIN b ON k1 = k2 " +
        "ORDER BY custkey"),
    // mirrors StatsOps.histogram(l_extendedprice, 20): identical IEEE
    // (x - lo) / ((hi - lo) / 20.0) floor/least arithmetic on both engines
    "q_histogram" -> {
      val lo = "CAST(l_extendedprice AS DOUBLE) - lo"
      s"WITH b AS (SELECT min(CAST(l_extendedprice AS DOUBLE)) AS lo, " +
        "max(CAST(l_extendedprice AS DOUBLE)) AS hi FROM lineitem), " +
        s"r AS (SELECT CAST(least(floor(($lo) / ((hi - lo) / 20.0)), 19.0) AS BIGINT) " +
        "AS bucket, lo, (hi - lo) / 20.0 AS w FROM lineitem, b), " +
        "g AS (SELECT bucket, lo, w, CAST(count(*) AS BIGINT) AS n_rows " +
        "FROM r GROUP BY bucket, lo, w) " +
        s"SELECT bucket, ${TextOps.roundBpSql("lo + w * CAST(bucket AS DOUBLE)")} AS lo_bp, " +
        s"${TextOps.roundBpSql("lo + w * CAST(bucket + 1 AS DOUBLE)")} AS hi_bp, " +
        "n_rows FROM g ORDER BY bucket"
    },
    // mirrors StatsOps.basketRules (minSupport 3, top 30 by lift): the
    // oracle pairs via the relational self-join the Spark side must avoid
    "q_basket_rules" ->
      ("WITH b AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS p FROM lineitem), " +
        "n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM b), " +
        "ip AS (SELECT p, CAST(count(*) AS BIGINT) AS n_p FROM b GROUP BY p), " +
        "pc AS (SELECT x.p AS a, y.p AS b2, CAST(count(*) AS BIGINT) AS n_ab " +
        "FROM b x JOIN b y ON x.okey = y.okey AND x.p < y.p " +
        "GROUP BY 1, 2 HAVING count(*) >= 3), " +
        "dir AS (SELECT a AS ante, b2 AS cons, n_ab FROM pc " +
        "UNION ALL SELECT b2 AS ante, a AS cons, n_ab FROM pc), " +
        "r AS (SELECT ante, cons, n_ab, " +
        "CAST(n_ab::HUGEINT * 10000 // na.n_p AS BIGINT) AS conf_bp, " +
        "CAST(n_ab::HUGEINT * n_orders * 10000 // (na.n_p::HUGEINT * nb.n_p) AS BIGINT) AS lift_bp " +
        "FROM dir JOIN ip na ON na.p = ante JOIN ip nb ON nb.p = cons CROSS JOIN n), " +
        "t AS (SELECT * FROM r ORDER BY lift_bp DESC, ante, cons LIMIT 30) " +
        "SELECT row_number() OVER (ORDER BY lift_bp DESC, ante, cons) AS rank, " +
        "ante, cons, n_ab, conf_bp, lift_bp FROM t ORDER BY rank"),
  )
}
