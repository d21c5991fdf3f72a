package graft

import graft.tools.ScaleCheck

class ScaleCheckSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("ScaleCheck returns one result per query and directory, with the query's own row count") {
    val names = Seq("q_tpch_q6", "q_cap_audit_minhash")
    val results = ScaleCheck.run(spark, names, Seq(dir))
    assert(results.map(r => (r.query, r.dir)) == names.map((_, dir)))
    results.foreach { r =>
      assert(r.rows == SparkEntry.queries(r.query)(spark, dir).count(), r.query)
      assert(r.wallS > 0, r.query)
      assert(r.stats.tasksCompleted > 0, r.query)
    }
    val audit = results.find(_.query == "q_cap_audit_minhash").get
    assert(audit.rows == 1)
    assert(audit.small == SparkEntry.queries("q_cap_audit_minhash")(spark, dir).collect().toSeq)
  }

  test("ScaleCheck rejects an undeclared query name before any job runs") {
    val stats = JobStats.attach(spark)
    try {
      val e = intercept[IllegalArgumentException] {
        ScaleCheck.run(spark, Seq("q_tpch_q6", "q_no_such_query"), Seq(dir))
      }
      assert(e.getMessage.contains("q_no_such_query"))
      val s = stats.snapshot
      assert(s.tasksCompleted == 0 && s.tasksFailed == 0, s"jobs ran: $s")
    } finally stats.close()
  }

  test("queryNames: trims, drops blanks, and names every undeclared query") {
    assert(SparkEntry.queryNames(" q_tpch_q6, ,q_sort_total,") == Seq("q_tpch_q6", "q_sort_total"))
    val e = intercept[IllegalArgumentException] {
      SparkEntry.queryNames("q_tpch_q6,q_no_such_query,q_nor_this")
    }
    assert(e.getMessage.contains("q_no_such_query, q_nor_this"), e.getMessage)
  }
}
