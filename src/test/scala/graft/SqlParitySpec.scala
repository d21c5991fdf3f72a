package graft

/** SQL-text entry-path parity: the same query TEXT the DuckDB oracle runs is
  * fed through `spark.sql` over registered temp views and must produce
  * row-identical results to the declared DataFrame form — exercising the
  * parser/analyzer surface (only `q_sql_grouping_sets` touched it before)
  * on seven TPC-H shapes plus three non-relational shapes (two iterative
  * unrolled-CTE graph queries, one named-window gap-fill/EWMA) for free,
  * since the oracle SQL is already written in portable ANSI. Dialect gaps
  * are mechanical: integer division (`//` vs `div`), series generation
  * (`unnest(generate_series(...))` vs `explode(sequence(...))`), and epoch
  * extraction (`epoch_us` vs `unix_micros`).
  *
  * This is a three-way agreement once CORRECTNESS runs: DataFrame form ==
  * Spark SQL text == DuckDB on the same text — a parser/analyzer bug, a
  * Catalyst rewrite bug, or an oracle-SQL transcription bug each break a
  * different leg.
  */
class SqlParitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val tables =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents")
  // the declared queries whose oracle SQL is Spark-parseable modulo the
  // mechanical dialect swaps below (q3 casts to bare VARCHAR, a DuckDB-ism
  // — excluded): 7 TPC-H shapes + the 3-round unrolled k-core peel, the
  // 3-round unrolled label propagation, and the named-window binary-decay
  // EWMA over a generated hourly spine
  private val parityQueries = Seq(
    "q_tpch_q1", "q_tpch_q5", "q_tpch_q6", "q_tpch_q7",
    "q_tpch_q12", "q_tpch_q13", "q_tpch_q14",
    "q_kcore", "q_label_prop", "q_events_ewma")

  private def sparkSqlText(name: String): String =
    SparkEntry.oracleSql(name)
      .replace(" // ", " div ")
      .replace("unnest(generate_series(", "explode(sequence(")
      .replace("epoch_us(", "unix_micros(")

  test("SQL text == DataFrame form: identical columns and rows, 10 shapes") {
    tables.foreach { t =>
      // the events view needs the same ts normalization the DataFrame path
      // applies (nanos-as-long parquet reads back BIGINT; DuckDB sees
      // TIMESTAMP_NS natively, so its view needs no cast)
      val base = spark.read.parquet(s"$dir/$t.parquet")
      val df = if (t == "events") graft.operators.EventOps.normalizeTs(base) else base
      df.createOrReplaceTempView(t)
    }
    var nonEmpty = 0
    for (q <- parityQueries) {
      val viaSql = spark.sql(sparkSqlText(q))
      val viaDf = SparkEntry.queries(q)(spark, dir)
      assert(viaSql.columns.toSeq == viaDf.columns.toSeq,
        s"$q column mismatch: ${viaSql.columns.toSeq} vs ${viaDf.columns.toSeq}")
      val a = viaSql.collect().map(_.toSeq.map(String.valueOf)).toSeq
      val b = viaDf.collect().map(_.toSeq.map(String.valueOf)).toSeq
      if (a.nonEmpty) nonEmpty += 1
      assert(a == b, s"$q SQL/DataFrame row mismatch:\nSQL: ${a.take(3)}\nDF:  ${b.take(3)}")
    }
    // q7's nation pair may be empty at sf0.001 (both legs agree on empty);
    // the parity evidence must still rest on real rows for most shapes
    assert(nonEmpty >= 8, s"only $nonEmpty parity queries had rows at sf0.001")
  }

  test("every declared query has an oracle and every oracle a declared query") {
    val (declared, oracles) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    val noOracle = (declared -- oracles).toSeq.sorted
    val noQuery = (oracles -- declared).toSeq.sorted
    assert(noOracle.isEmpty && noQuery.isEmpty,
      s"declared with no oracle: ${noOracle.mkString(", ")}; " +
        s"oracle with no declared query: ${noQuery.mkString(", ")}")
  }

  test("SQL text path optimizes like the DataFrame path: filters still pushed") {
    tables.foreach(t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))
    // the parser/analyzer entry must not cost the optimizer anything: the
    // same pushed-scan-filter evidence PlanSpec pins on the DataFrame form
    for (q <- Seq("q_tpch_q1", "q_tpch_q6")) {
      val p = spark.sql(sparkSqlText(q)).queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
        s"$q via spark.sql lost the pushed shipdate filter")
    }
  }
}
