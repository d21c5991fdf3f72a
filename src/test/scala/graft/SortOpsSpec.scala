package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._

import graft.operators.SortOps

class SortOpsSpec extends SparkSpec {
  import spark.implicits._

  test("totalSort produces a globally ordered result") {
    val got = SortOps
      .totalSort(sf("lineitem"), Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
      .select("l_extendedprice").as[Double].collect()
    assert(got.sameElements(got.sorted))
    assert(got.length > 1000)
  }

  test("totalSort preserves duplicates (bag semantics, like the reference merge)") {
    val xs = Seq(5, 3, 5, 5, 1, 3)
    val got = SortOps.totalSort(xs.toDF("value"), Seq(col("value"))).as[Int].collect()
    assert(got.toSeq == xs.sorted)
  }

  test("values >= 999999 sort correctly (reference sentinel-bug regression)") {
    // The reference merge corrupts values >= 999,999 (NodeHandler.java:223,238)
    val xs = Seq(1000000, 999999, 5, Int.MaxValue, 999998, Int.MinValue)
    val got = SortOps.totalSort(xs.toDF("value"), Seq(col("value"))).as[Int].collect()
    assert(got.toSeq == xs.sorted)
  }

  test("rangeSortedRuns: concatenation in partition order is the total order") {
    val df = SortOps.rangeSortedRuns(
      sf("lineitem"), pmod(col("l_orderkey"), lit(16)), Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
    val got = df.select("run_id", "l_extendedprice").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.sameElements(got.sortBy(identity)))
  }

  test("sortedRuns: each run is internally sorted") {
    val df = SortOps.sortedRuns(
      sf("lineitem"), pmod(col("l_orderkey"), lit(8)), Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")))
    val perPart = df
      .select(spark_partition_id().as("pid"), col("run_id"), col("l_extendedprice"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    perPart.groupBy(t => (t._1, t._2)).values.foreach { run =>
      val vals = run.map(_._3)
      assert(vals.sameElements(vals.sorted))
    }
  }

  test("mergeRuns of k sorted runs equals one total sort (O6 equivalence)") {
    val li = sf("lineitem")
    val keys = Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val runs = (0 until 4).map(i => li.filter(pmod(col("l_orderkey"), lit(4)) === i))
    val merged = SortOps.mergeRuns(runs, keys).select("l_orderkey", "l_linenumber").collect()
    val direct = SortOps.totalSort(li, keys).select("l_orderkey", "l_linenumber").collect()
    assert(merged.sameElements(direct))
  }

  test("empty partitions do not affect results (reference 'dummy' chunk case)") {
    val xs = Seq(9, 1, 4, 7, 2, 8, 3, 6, 5, 0)
    val got = SortOps
      .totalSort(xs.toDF("value").repartition(64), Seq(col("value")))
      .as[Int].collect()
    assert(got.toSeq == xs.sorted)
  }

  test("topK equals sort-then-take") {
    val li = sf("lineitem")
    val keys = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    val topk = SortOps.topK(li, 50, keys).select("l_orderkey", "l_linenumber").collect()
    val full = SortOps.totalSort(li, keys).select("l_orderkey", "l_linenumber").limit(50).collect()
    assert(topk.sameElements(full))
  }

  test("rankedTopK: ranks 1..min(k, n) in key order, later keys break ties") {
    val df = Seq((3L, "b"), (5L, "a"), (3L, "a"), (1L, "c"), (5L, "b")).toDF("v", "s")
    val keys = Seq(col("v").desc, col("s"))
    def ranked(k: Int) = SortOps.rankedTopK(df, k, keys, Seq(col("s"), col("v")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(ranked(3) == Seq((1, "a", 5L), (2, "b", 5L), (3, "a", 3L)))
    // k past the row count returns every row, still numbered in key order
    assert(ranked(10) == Seq((1, "a", 5L), (2, "b", 5L), (3, "a", 3L), (4, "b", 3L), (5, "c", 1L)))
    assert(SortOps.rankedTopK(df, 2, keys, Seq(col("v"))).columns.toSeq == Seq("rank", "v"))
  }

  test("sort survives injected first-attempt task failure (checkFail parity)") {
    val xs = (1 to 1000).map(i => (i * 37) % 991)
    val flaky = xs.toDF("value").repartition(4).rdd.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.attemptNumber() == 0 && tc.partitionId() == 0)
        throw new RuntimeException("injected fault (Server.java:87-96 parity)")
      it
    }
    val df = spark.createDataFrame(flaky, xs.toDF("value").schema)
    val got = SortOps.totalSort(df, Seq(col("value"))).as[Int].collect()
    assert(got.toSeq == xs.sorted)
  }
}
