package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.operators.{AsofOps, EventOps, RangeJoinOps}

/** The fixture-encoding contract, pinned (VERDICT r9 regression: the driver
  * regenerated `events.parquet` with `ts` as µs `TIMESTAMP_NTZ` where the
  * old files were ns int64, and 8 event/asof/range queries died at analysis
  * because nothing had ever exercised a non-ns-long file).
  *
  * Real parquet writers produce three `ts` encodings, which Spark (under
  * GraftSession's `nanosAsLong` + UTC session tz) surfaces as three dtypes:
  *
  *   - ns-precision int64            → `LongType` (raw nanos)
  *   - µs `isAdjustedToUTC=false`    → `TimestampNTZType` (pandas default)
  *   - µs UTC-adjusted               → `TimestampType`
  *
  * This suite WRITES a tiny events table in all three encodings, re-reads
  * each (so the parquet round-trip — not an in-memory frame — is what's
  * tested), pins the dtype each file comes back as, and sweeps the whole
  * event/asof/range surface over each, asserting results identical to the
  * ns-long baseline. Any future fixture-encoding drift fails here first.
  */
class TsEncodingSpec extends SparkSpec {
  import spark.implicits._

  // ~3 days of events, µs epochs: 3 users, 4 types, irregular spacing with
  // same-µs ties (the asof tie-break path) and an idle gap (sessionization).
  private val baseUs: Seq[(Long, Long, Long, String, Double)] = {
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in µs
    val rows = for {
      i <- 0 until 240
    } yield {
      val user = i % 3 + 1L
      val typ = Seq("view", "click", "purchase", "scroll")(i % 4)
      // irregular spacing: bursts, then an 2.5 h gap every 40 events
      val us = t0 + i * 137000000L + (i / 40) * 9000000000L
      (i.toLong, user, us, typ, (i % 7) * 1.25)
    }
    // same-µs tie: two clicks at one instant for user 1, then a purchase
    rows ++ Seq(
      (1000L, 1L, rows.last._3 + 1000000L, "click", 1.0),
      (1001L, 1L, rows.last._3 + 1000000L, "click", 2.0),
      (1002L, 1L, rows.last._3 + 2000000L, "purchase", 3.0))
  }

  private def writeEncoded(dir: String): Map[String, String] = {
    val base = baseUs.toDF("event_id", "user_id", "us", "event_type", "value")
    def emit(name: String, tsCol: org.apache.spark.sql.Column): String = {
      val path = s"$dir/$name"
      base.select(
        col("event_id"), tsCol.as("ts"), col("user_id"),
        col("event_type"), col("value")).coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    }
    Map(
      "ns_long" -> emit("ns_long", (col("us") * 1000).cast(LongType)),
      "us_ntz" -> emit("us_ntz", timestamp_micros(col("us")).cast(TimestampNTZType)),
      "us_utc" -> emit("us_utc", timestamp_micros(col("us"))))
  }

  test("the three parquet ts encodings round-trip to the expected dtypes") {
    val dir = Spill.newDir("ts-enc")
    val paths = writeEncoded(dir)
    assert(spark.read.parquet(paths("ns_long")).schema("ts").dataType == LongType)
    assert(spark.read.parquet(paths("us_ntz")).schema("ts").dataType == TimestampNTZType)
    assert(spark.read.parquet(paths("us_utc")).schema("ts").dataType == TimestampType)
  }

  test("event/asof/range surface is encoding-invariant across all three") {
    val dir = Spill.newDir("ts-enc")
    val paths = writeEncoded(dir)
    val surface: Seq[(String, DataFrame => DataFrame)] = Seq(
      "tumblingAgg" -> (e => EventOps.tumblingAgg(e, "hour")),
      "slidingAgg" -> (e => EventOps.slidingAgg(e, 3600, 1800)),
      "gapFillHourly" -> (e => EventOps.gapFillHourly(e)),
      "ewmaHourly" -> (e => EventOps.ewmaHourly(e)),
      "runningStats" -> (e => EventOps.runningStats(e)),
      "percentiles" -> (e => EventOps.percentiles(e)),
      "sessionStats" -> (e => EventOps.sessionStats(e, 1800)),
      "sessionStatsNative" -> (e => EventOps.sessionStatsNative(e, 1800)),
      "funnel" -> (e => EventOps.funnel(e, Seq("view", "click", "purchase"))),
      "retentionCohorts" -> (e => EventOps.retentionCohorts(e)),
      "hourlyAnomalies" -> (e => EventOps.hourlyAnomalies(e, trailing = 6, minHist = 3)),
      "cusumShifts" -> (e => EventOps.cusumShifts(e)),
      "rollupState" -> (e => EventOps.rollupState(e).orderBy("event_type")),
      "asofJoin" -> (e => AsofOps.lastEventBefore(e, "purchase", "click")),
      "rangeJoin" -> (e => RangeJoinOps.withinWindowPairs(e, "view", "purchase")))
    val frames = paths.view.mapValues(spark.read.parquet(_)).toMap
    for ((opName, op) <- surface) {
      val results = frames.map { case (enc, df) =>
        enc -> op(df).collect().toSeq
      }
      val baseline = results("ns_long")
      assert(baseline.nonEmpty, s"$opName: empty baseline defeats the sweep")
      for (enc <- Seq("us_ntz", "us_utc")) {
        assert(results(enc) == baseline,
          s"$opName: encoding $enc diverged from ns_long baseline")
      }
    }
  }
}
