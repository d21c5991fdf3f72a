package graft

import org.apache.spark.sql.functions._

/** The date-column edition of [[TsEncodingSpec]]'s fixture-drift contract.
  *
  * `o_orderdate` / `l_shipdate` / `l_commitdate` / `l_receiptdate` arrive
  * today as µs parquet timestamps (midnight-aligned — asserted below, the
  * precondition for DATE truncation to be lossless). A regeneration could
  * plausibly re-encode them as plain parquet DATE — the same class of
  * drift that broke the event surface in round 9 when `ts` flipped
  * encodings. This suite rewrites the date-bearing tables with every
  * date column cast to DATE and re-runs the date-sensitive TPC-H queries
  * against the re-encoded copy, asserting results identical to the
  * original: the declared surface must not care which of the two
  * encodings the fixture carries.
  */
class DateEncodingSpec extends SparkSpec {

  private val dateCols = Map(
    "lineitem" -> Seq("l_shipdate", "l_commitdate", "l_receiptdate"),
    "orders" -> Seq("o_orderdate"))

  // date-sensitive queries whose OUTPUT carries no raw date column (so
  // equality is exact) and whose input tables are covered above + part
  private val queries =
    Seq("q_tpch_q1", "q_tpch_q4", "q_tpch_q6", "q_tpch_q12", "q_tpch_q14")

  test("fixture date columns are midnight-aligned (DATE truncation lossless)") {
    for ((t, cols) <- dateCols; c <- cols.filter(sf(t).columns.contains)) {
      val off = sf(t).filter(col(c) =!= date_trunc("day", col(c))).count()
      assert(off == 0L, s"$t.$c carries sub-day time components")
    }
  }

  test("TPC-H date surface is invariant under TIMESTAMP -> DATE re-encoding") {
    val dir = Spill.newDir("date-enc")
    for (t <- Seq("lineitem", "orders", "part")) {
      val base = sf(t)
      val recoded = dateCols.getOrElse(t, Nil).filter(base.columns.contains)
        .foldLeft(base)((df, c) => df.withColumn(c, col(c).cast("date")))
      recoded.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    assert(spark.read.parquet(s"$dir/lineitem.parquet")
      .schema("l_shipdate").dataType == org.apache.spark.sql.types.DateType)
    for (q <- queries) {
      val orig = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect().toSeq
      val dated = SparkEntry.queries(q)(spark, dir).collect().toSeq
      assert(orig.nonEmpty, s"$q: empty baseline defeats the check")
      assert(dated == orig, s"$q diverged under DATE-encoded fixtures")
    }
  }
}
