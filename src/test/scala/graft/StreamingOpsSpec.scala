package graft

import java.sql.Timestamp

// Spark 4.x moved MemoryStream under execution.streaming.runtime
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{EventOps, SimOps}
import graft.streaming.{AsofMatch, EmbedItem, EmbedPairRow, ExtremaDelta, ExtremaRow, ForgetEvent, ForgetEventRow, MinhashPairRow, PhashForgetEvent, PhashItem, PhashPairRow, StreamEvent, StreamIdEvent, StreamingOps, TransitionRow}

class StreamingOpsSpec extends SparkSpec {
  import spark.implicits._
  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2026-01-01 $hhmm:00")

  private val sample = Seq(
    StreamEvent(ts("10:05"), 1L, "click", 1.0),
    StreamEvent(ts("10:15"), 2L, "click", 2.0),
    StreamEvent(ts("10:45"), 1L, "view", 3.0),
    StreamEvent(ts("11:05"), 1L, "click", 4.0),
    StreamEvent(ts("11:30"), 3L, "view", 5.0))

  test("hourlyCounts(stream) == the same aggregation over the batch") {
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.hourlyCounts(input.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("complete").start()
    try {
      input.addData(sample.take(3))
      q.processAllAvailable()
      input.addData(sample.drop(3))
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .select("bucket", "event_type", "n_events", "sum_value")
        .collect().map(_.toSeq).toSet
      val batch = StreamingOps.hourlyCounts(sample.toDF())
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.size == 4) // (10h click, 10h view, 11h click, 11h view)
    } finally q.stop()
  }

  test("hourlyCounts parity with the batch EventOps rollup shape") {
    // same grouping keys and counts as EventOps.tumblingAgg over raw-long ts
    val batchDf = sample.toDF()
      .select(unix_timestamp(col("ts")).cast("long").multiply(1000000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit(0L).as("event_id"), lit("{}").as("props"))
    val viaEventOps = EventOps.tumblingAgg(batchDf, "hour")
      .select("event_type", "n_events").as[(String, Long)].collect().toSet
    val viaStreamingDef = StreamingOps.hourlyCounts(sample.toDF())
      .select("event_type", "n_events").as[(String, Long)].collect().toSet
    assert(viaEventOps == viaStreamingDef)
  }

  test("asofJoinStream: matches the batch as-of under out-of-order arrival") {
    // views at 10:00/10:30/11:00 for user 1; purchases at 09:50/10:20;
    // user 2 has a view with NO prior purchase
    val evs = Seq(
      StreamIdEvent(10L, ts("10:00"), 1L, "view"),
      StreamIdEvent(11L, ts("10:30"), 1L, "view"),
      StreamIdEvent(12L, ts("11:00"), 1L, "view"),
      StreamIdEvent(20L, ts("09:50"), 1L, "purchase"),
      StreamIdEvent(21L, ts("10:20"), 1L, "purchase"),
      StreamIdEvent(30L, ts("10:15"), 2L, "view"))
    val input = MemoryStream[StreamIdEvent]
    // 2 h watermark: the out-of-order arrivals below stay INSIDE the
    // horizon (an arrival later than the watermark is legitimately
    // droppable — that contract is the append-mode test's subject)
    val q = StreamingOps.asofJoinStream(input.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("asof").outputMode("append").start()
    try {
      // deliberately out of order ACROSS batches: the 09:50 purchase
      // arrives after the 10:00 and 10:30 views
      input.addData(evs(0), evs(1))
      q.processAllAvailable()
      input.addData(evs(3), evs(4), evs(5))
      q.processAllAvailable()
      input.addData(evs(2)) // advances watermark to 10:50 -> flushes 10:00-10:30
      q.processAllAvailable()
      // close the stream: one far-future event pushes the watermark past 11:00
      input.addData(StreamIdEvent(99L, ts("23:00"), 9L, "view"))
      q.processAllAvailable()
      input.addData(StreamIdEvent(98L, ts("23:59"), 9L, "purchase"))
      q.processAllAvailable()
      val got = spark.table("asof").as[AsofMatch].collect()
        .filter(_.user_id <= 2L).sortBy(_.l_event_id)
        .map(m => (m.l_event_id, m.r_event_id, m.gap_ms))
      // 10:00 view -> 09:50 purchase; 10:30 -> 10:20; 11:00 -> 10:20;
      // user 2's view -> no prior purchase
      assert(got.toSeq == Seq(
        (10L, 20L, 600000L),
        (11L, 21L, 600000L),
        (12L, 21L, 2400000L),
        (30L, -1L, -1L)), s"got: ${got.mkString(", ")}")
      // and the batch operator agrees on every matched pair
      val batchDf = evs.toDF()
        .select(col("event_id"),
          (unix_timestamp(col("ts")) * 1000000000L).as("ts"),
          col("user_id"), col("event_type"), lit(0.0).as("value"), lit("{}").as("props"))
      val batch = graft.operators.AsofOps.lastEventBefore(batchDf, "view", "purchase")
        .select("l_event_id", "r_event_id", "gap_us")
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2) / 1000L)).toSeq
      assert(batch == got.toSeq, s"batch: ${batch.mkString(", ")}")
    } finally q.stop()
  }

  test("asofJoinStream: right-side buffer collapses to one settled cell") {
    // only purchases, far apart: state must not accumulate them
    val input = MemoryStream[StreamIdEvent]
    val q = StreamingOps.asofJoinStream(input.toDS(), watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("asof_trim").outputMode("append").start()
    try {
      input.addData(StreamIdEvent(1L, ts("10:00"), 1L, "purchase"))
      q.processAllAvailable()
      input.addData(StreamIdEvent(2L, ts("11:00"), 1L, "purchase"))
      q.processAllAvailable()
      input.addData(StreamIdEvent(3L, ts("12:00"), 1L, "view"))
      q.processAllAvailable()
      input.addData(StreamIdEvent(4L, ts("13:00"), 1L, "view"))
      q.processAllAvailable()
      // the 12:00 view flushed once the 13:00 view advanced the watermark;
      // it must match the LATEST prior purchase even though the older one
      // was trimmed from state long before
      val got = spark.table("asof_trim").as[AsofMatch].collect()
        .filter(_.l_event_id == 3L).map(m => (m.r_event_id, m.gap_ms)).toSeq
      assert(got == Seq((2L, 3600000L)), s"got: ${got.mkString(", ")}")
    } finally q.stop()
  }

  test("sessionize: event-time timeout closes sessions across micro-batches") {
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // session 1: two events 10 min apart
      input.addData(
        StreamEvent(ts("10:00"), 1L, "click", 1.0),
        StreamEvent(ts("10:10"), 1L, "click", 1.0))
      q.processAllAvailable()
      // batch 2 advances event time far past session1 end + gap
      input.addData(StreamEvent(ts("12:00"), 1L, "view", 1.0))
      q.processAllAvailable()
      // batch 3: watermark (11:50) now exceeds 10:10 + 30min -> timeout fires
      input.addData(StreamEvent(ts("12:01"), 2L, "view", 1.0))
      q.processAllAvailable()
      val closed = spark.table("sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val expected = (1L, ts("10:00").getTime, ts("10:10").getTime, 2L)
      assert(closed.contains(expected), s"got: ${closed.mkString(", ")}")
    } finally q.stop()
  }

  test("sessionize: a batch-internal gap closes the earlier session immediately") {
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionize(input.toDS(), gapMs = 5L * 60 * 1000)
      .writeStream.format("memory").queryName("sessions2").outputMode("append").start()
    try {
      input.addData(
        StreamEvent(ts("09:00"), 7L, "click", 1.0),
        StreamEvent(ts("09:02"), 7L, "click", 1.0),
        StreamEvent(ts("10:00"), 7L, "click", 1.0)) // > 5 min after 09:02
      q.processAllAvailable()
      val closed = spark.table("sessions2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(closed.toSeq == Seq((7L, ts("09:00").getTime, ts("09:02").getTime, 2L)))
    } finally q.stop()
  }

  test("sessionize parity: closed sessions equal EventOps.sessionStats per user") {
    // the batch/stream parity contract already asserted for hourly counts,
    // extended to sessionization: same events, same gap -> same per-user
    // (n_sessions, n_events) once every streaming session has closed
    val events = Seq(
      StreamEvent(ts("09:00"), 1L, "click", 1.0),
      StreamEvent(ts("09:10"), 1L, "view", 1.0),
      StreamEvent(ts("10:30"), 1L, "click", 1.0), // 80 min gap -> session 2
      StreamEvent(ts("09:05"), 2L, "click", 1.0),
      StreamEvent(ts("11:00"), 2L, "view", 1.0),  // session 2
      StreamEvent(ts("11:20"), 2L, "view", 1.0),  // same session (20 min)
      StreamEvent(ts("09:30"), 3L, "click", 1.0))
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_parity").outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // two far-future batches: the first advances the watermark past every
      // open session's end + gap, the second gives the timeouts a batch to fire
      input.addData(StreamEvent(ts("23:00"), 999L, "view", 1.0))
      q.processAllAvailable()
      input.addData(StreamEvent(ts("23:30"), 999L, "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("sessions_parity")
        .filter(col("user_id") < 900)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      val batchDf = events.zipWithIndex.toDF("e", "event_id")
        .select(col("e.ts").as("ts"), col("e.user_id").as("user_id"),
          col("e.event_type").as("event_type"), col("e.value").as("value"),
          col("event_id").cast("long").as("event_id"))
      val batch = EventOps.sessionStats(batchDf, gapSeconds = 1800)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.map(_._1) == Set(1L, 2L, 3L))
    } finally q.stop()
  }

  test("hourlyCounts append mode: events later than the watermark are dropped") {
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.hourlyCounts(input.toDF(), watermarkDelay = "30 minutes")
      .writeStream.format("memory").queryName("late_drop").outputMode("append").start()
    try {
      input.addData(
        StreamEvent(ts("10:00"), 1L, "click", 1.0),
        StreamEvent(ts("10:10"), 2L, "click", 1.0))
      q.processAllAvailable()
      // advance event time: watermark 12:30 finalizes and emits the 10:00 window
      input.addData(StreamEvent(ts("13:00"), 3L, "view", 1.0))
      q.processAllAvailable()
      // a straggler for the already-finalized window: must be DROPPED
      input.addData(StreamEvent(ts("10:20"), 4L, "click", 9.0))
      q.processAllAvailable()
      input.addData(StreamEvent(ts("14:30"), 5L, "view", 1.0))
      q.processAllAvailable()
      val hour10 = spark.table("late_drop")
        .filter(col("bucket") === ts("10:00")).select("n_events", "sum_value")
        .as[(Long, Double)].collect().toSeq
      // finalized exactly once, without the late event's count or value
      assert(hour10 == Seq((2L, 2.0)), s"got $hour10")
    } finally q.stop()
  }

  test("hllRegisters: streamed registers merge to the batch sketch exactly") {
    import graft.operators.SketchOps
    val events = (1L to 120L).map(u =>
      StreamEvent(ts(f"10:${u % 60}%02d"), u % 40, "click", 1.0)) // 40 distinct users
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.hllRegisters(input.toDF())
      .writeStream.format("memory").queryName("hll_regs").outputMode("complete").start()
    try {
      input.addData(events.take(60))
      q.processAllAvailable()
      input.addData(events.drop(60)) // same users again: registers must not move
      q.processAllAvailable()
      val streamed = spark.table("hll_regs")
        .groupBy(col("event_type"), col("idx")).agg(max(col("rho")).as("rho"))
      val batch = SketchOps.registers(events.toDF(), "event_type", col("user_id"))
      assert(streamed.collect().map(_.toSeq).toSet == batch.collect().map(_.toSeq).toSet)
      // finalizing the streamed snapshot gives the batch estimate
      val streamedEst = SketchOps.estimateFromRegisters(streamed, "event_type", "est")
        .as[(String, Long)].head()._2
      val batchEst = SketchOps.hllDistinct(events.toDF(), "event_type", col("user_id"), "est")
        .as[(String, Long)].head()._2
      assert(streamedEst == batchEst)
      assert(math.abs(streamedEst - 40.0) / 40.0 < 0.25, s"est $streamedEst far from 40")
    } finally q.stop()
  }

  test("kmvSketchStream: maintained sketch equals the batch sketch of all data") {
    import graft.functions.StableHash
    // 90 distinct users > k=32, split so batch 2 carries users whose hashes
    // undercut batch 1's k-th minimum — the union-merge must evict
    val events = (1L to 180L).map(u =>
      StreamEvent(ts(f"10:${u % 60}%02d"), u % 90, "click", 1.0))
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.kmvSketchStream(input.toDF(), k = 32)
      .writeStream.format("memory").queryName("kmv_sk").outputMode("complete").start()
    try {
      input.addData(events.take(80))
      q.processAllAvailable()
      val after1 = spark.table("kmv_sk").select("kmins")
        .as[Seq[Long]].head()
      input.addData(events.drop(80))
      q.processAllAvailable()
      val streamed = spark.table("kmv_sk").select("kmins")
        .as[Seq[Long]].head()
      // batch truth: the 32 smallest distinct hashes over ALL users
      val batchSketch = events.map(_.user_id).distinct.toDF("u")
        .select(StableHash.hash60(col("u").cast("string")).as("h"))
        .distinct().orderBy(col("h")).limit(32).as[Long].collect().toSeq
      assert(streamed == batchSketch)
      // batch 2 really moved the sketch (merge evicted, not just appended)
      assert(after1 != streamed)
      // bounded state: the sketch never exceeds k entries
      assert(streamed.length == 32 && after1.length == 32)
    } finally q.stop()
  }

  test("dedupIngest: repeats within the watermark horizon collapse to first arrival") {
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.dedupIngest(input.toDF())
      .writeStream.format("memory").queryName("dedup_ingest").outputMode("append").start()
    try {
      input.addData(
        StreamEvent(ts("10:00"), 1L, "click", 1.0),
        StreamEvent(ts("10:00"), 1L, "click", 1.0), // in-batch dup
        StreamEvent(ts("10:05"), 2L, "view", 2.0))
      q.processAllAvailable()
      input.addData(
        StreamEvent(ts("10:01"), 1L, "click", 9.0), // cross-batch dup of (1, click)
        StreamEvent(ts("10:30"), 1L, "view", 3.0))  // new key
      q.processAllAvailable()
      val got = spark.table("dedup_ingest")
        .select("user_id", "event_type").as[(Long, String)].collect().toSeq
      // exactly one row per (user, type); the duplicate arrivals are dropped
      assert(got.sorted == Seq((1L, "click"), (1L, "view"), (2L, "view")))
    } finally q.stop()
  }

  test("conversionPairs: stream-stream interval join equals its batch run") {
    val events = Seq(
      StreamEvent(ts("10:00"), 1L, "view", 0.0),
      StreamEvent(ts("10:30"), 1L, "purchase", 5.0),  // within 1h of the view
      StreamEvent(ts("12:00"), 1L, "purchase", 7.0),  // too late for any view
      StreamEvent(ts("09:00"), 2L, "purchase", 9.0),  // no prior view
      StreamEvent(ts("11:40"), 3L, "view", 0.0),
      StreamEvent(ts("11:45"), 3L, "purchase", 2.0))  // within 5 min
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.conversionPairs(input.toDF())
      .writeStream.format("memory").queryName("conversions").outputMode("append").start()
    try {
      // split across micro-batches: the view arrives a batch before its purchase
      input.addData(events.take(1))
      q.processAllAvailable()
      input.addData(events.drop(1))
      q.processAllAvailable()
      val streamed = spark.table("conversions").collect().map(_.toSeq).toSet
      val batch = StreamingOps.conversionPairs(events.toDF()).collect().map(_.toSeq).toSet
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      assert(streamed.map(r => (r(0), r(3))) == Set((1L, 5.0), (3L, 2.0)))
    } finally q.stop()
  }

  test("conversionPairsOuter: unmatched views emit nulls after the watermark") {
    val events = Seq(
      StreamEvent(ts("10:00"), 1L, "view", 0.0),
      StreamEvent(ts("10:30"), 1L, "purchase", 5.0), // converts
      StreamEvent(ts("10:05"), 2L, "view", 0.0)) // never purchases
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.conversionPairsOuter(input.toDF(), watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("conv_outer").outputMode("append").start()
    try {
      input.addData(events)
      q.processAllAvailable()
      // only the matched pair can emit yet: "never purchased" is unprovable
      // until the watermark passes view_ts + window
      val early = spark.table("conv_outer").collect()
      assert(early.map(r => (r.getLong(0), r.isNullAt(2))).toSet == Set((1L, false)))
      // advance event time far past 10:05 + 1h window + 10 min delay on
      // BOTH branches: each side's watermark advances only on events that
      // survive its own filter, and the global watermark is their MIN
      input.addData(
        StreamEvent(ts("13:00"), 9L, "view", 0.0),
        StreamEvent(ts("13:05"), 9L, "purchase", 0.0))
      q.processAllAvailable()
      input.addData(
        StreamEvent(ts("14:00"), 8L, "view", 0.0),
        StreamEvent(ts("14:05"), 8L, "purchase", 0.0))
      q.processAllAvailable()
      val late = spark.table("conv_outer").collect()
        .map(r => (r.getLong(0), r.isNullAt(2))).toSet
      // user 2's view now emitted WITH null purchase — the drop-off row
      assert(late.contains((2L, true)), s"got $late")
    } finally q.stop()
  }

  test("runningUserCounts: state accumulates across micro-batches") {
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.runningUserCounts(input.toDS())
      .toDF("user_id", "n_events")
      .writeStream.format("memory").queryName("running").outputMode("update").start()
    try {
      input.addData(sample.take(3)) // user1 x2, user2 x1
      q.processAllAvailable()
      input.addData(sample.drop(3)) // user1 +1, user3 +1
      q.processAllAvailable()
      val last = spark.table("running").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).max }
      assert(last == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("checkpoint recovery: a restarted query resumes state, no loss, no double count") {
    // THE streaming fault-tolerance parity with the reference (its bulk is
    // surviving worker death mid-job): kill the query between micro-
    // batches, feed more data while it is down, restart from the SAME
    // checkpoint — the recovered state store must carry the pre-crash
    // counts exactly once and the offsets must replay the downtime data.
    val ckpt = Spill.newDir("graft-recovery")
    val input = MemoryStream[StreamEvent]
    val counts = input.toDF().groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    def start() = counts.writeStream.format("memory").queryName("recov")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(sample.take(3)) // user1 x2, user2 x1
      q1.processAllAvailable()
    } finally q1.stop() // crash
    input.addData(sample.drop(3)) // user1 +1, user3 +1 arrive while down
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got = spark.table("recov").as[(Long, Long)].collect().toMap
      assert(got == Map(1L -> 3L, 2L -> 1L, 3L -> 1L),
        s"recovered state must be exactly-once: $got")
    } finally q2.stop()
  }

  test("stream-static join: dim enrichment inside a streaming agg equals batch") {
    // the enrichment shape: an unbounded stream joins a small STATIC dim
    // (broadcast; re-read per micro-batch, no stream-stream state at all)
    val dim = Seq(("click", 2.0), ("view", 1.0)).toDF("event_type", "mult")
    def weighted(df: org.apache.spark.sql.DataFrame) =
      df.join(broadcast(dim), "event_type")
        .groupBy(col("event_type"))
        .agg(round(sum(col("value") * col("mult")), 2).as("weighted"))
    val input = MemoryStream[StreamEvent]
    val q = weighted(input.toDF())
      .writeStream.format("memory").queryName("enrich").outputMode("complete").start()
    try {
      input.addData(sample.take(2))
      q.processAllAvailable()
      input.addData(sample.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("enrich").collect().map(_.toSeq).toSet
      val batch = weighted(sample.toDF()).collect().map(_.toSeq).toSet
      assert(streamed == batch)
      assert(streamed.map(_.head) == Set("click", "view"))
    } finally q.stop()
  }

  test("streaming file sink -> compactParquet: the OPTIMIZE maintenance loop") {
    import graft.operators.LayoutOps
    val base = Spill.newDir("graft-compact")
    val (ingest, compacted) = (s"$base/ingest", s"$base/compacted")
    val input = MemoryStream[StreamEvent]
    // append sink: every micro-batch commits its own part-files -> the
    // small-files problem compaction exists to fix
    val q = input.toDF()
      .writeStream.format("parquet")
      .option("path", ingest)
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    try {
      sample.foreach { e => input.addData(e); q.processAllAvailable() }
    } finally q.stop()
    def parts(dir: String) = new java.io.File(dir)
      .listFiles.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts(ingest) >= sample.size,
      s"expected one small file per micro-batch, got ${parts(ingest)}")
    // a generous byte target folds everything into a single file
    val n = LayoutOps.compactParquet(spark, ingest, compacted, targetBytes = 1L << 30)
    assert(n == 1L && parts(compacted) == 1)
    val before = spark.read.parquet(ingest).collect().map(_.toSeq).toSet
    val after = spark.read.parquet(compacted).collect().map(_.toSeq).toSet
    assert(after == before && after.size == sample.size)
  }

  test("foreachBatch CDC: streamed change batches maintain the base table") {
    import graft.operators.MergeOps
    import graft.streaming.ChangeRow
    val base = Spill.newDir("graft-cdc")
    val tbl = s"$base/table"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(tbl)
    val input = MemoryStream[ChangeRow]
    // the streaming MERGE INTO maintenance loop: each micro-batch applies
    // its changes to the current table version and publishes the next one
    // (write to a fresh version dir, then republish — never overwrite the
    // files a job is reading)
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ChangeRow], id: Long) =>
        val next = MergeOps.applyChanges(spark.read.parquet(tbl), batch.toDF(), "k")
        next.write.mode("overwrite").parquet(s"$base/v$id")
        spark.read.parquet(s"$base/v$id").write.mode("overwrite").parquet(tbl)
      }
      .start()
    try {
      input.addData(ChangeRow(2L, "b", 21.0, "U"), ChangeRow(4L, "d", 40.0, "I"))
      q.processAllAvailable()
      input.addData(ChangeRow(1L, "", 0.0, "D"), ChangeRow(4L, "d", 41.0, "U"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    // upsert of 2 and insert of 4 from batch 0; delete of 1 and second
    // upsert of 4 from batch 1 — applied in arrival order
    assert(got == Set((2L, "b", 21.0), (3L, "c", 30.0), (4L, "d", 41.0)))
  }

  test("foreachBatch join-view IVM: streamed inserts maintain the join by append") {
    import graft.operators.MergeOps
    import graft.streaming.JoinDelta
    val base = Spill.newDir("graft-ivmjoin")
    val (aDir, bDir, vDir) = (s"$base/a", s"$base/b", s"$base/view")
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "a_v").write.parquet(aDir)
    Seq((1L, "x"), (3L, "y")).toDF("k", "b_w").write.parquet(bDir)
    // seed the materialization with the from-scratch join of the snapshots;
    // after this the view is only ever APPENDED to — the streaming twin of
    // q_ivm_join's batch contract
    spark.read.parquet(aDir).join(spark.read.parquet(bDir), Seq("k"))
      .write.parquet(vDir)
    val input = MemoryStream[JoinDelta]
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[JoinDelta], id: Long) =>
        // snapshot listings are fixed at read time, and the delta legs are
        // materialized (written) before either side table advances
        val aOld = spark.read.parquet(aDir)
        val bOld = spark.read.parquet(bDir)
        val dA = batch.filter(col("side") === "A").select(col("k"), col("a_v"))
        val dB = batch.filter(col("side") === "B").select(col("k"), col("b_w"))
        MergeOps.deltaJoin(aOld, dA, bOld, dB, Seq("k"))
          .write.mode("append").parquet(vDir)
        dA.write.mode("append").parquet(aDir)
        dB.write.mode("append").parquet(bDir)
      }
      .start()
    try {
      input.addData(JoinDelta("A", 3L, 30.0, ""), JoinDelta("B", 2L, 0.0, "z"))
      q.processAllAvailable()
      input.addData(JoinDelta("A", 2L, 21.0, ""), JoinDelta("B", 3L, 0.0, "w"))
      q.processAllAvailable()
    } finally q.stop()
    def bag(df: org.apache.spark.sql.DataFrame) = df
      .select("k", "a_v", "b_w").collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val maintained = bag(spark.read.parquet(vDir))
    val scratch = bag(
      spark.read.parquet(aDir).join(spark.read.parquet(bDir), Seq("k")))
    // multiset equality: k=2 legitimately fans out (two A-rows after batch 2)
    assert(maintained == scratch)
    assert(maintained.values.sum == 5)
  }

  test("foreachBatch gap-fill/EWMA: maintained grid view equals batch ewmaHourly") {
    val base = Spill.newDir("graft-ewma")
    val hourlyDir = s"$base/hourly"
    // empty maintained hourly table with the operator's schema
    Seq.empty[(String, Timestamp, Long)].toDF("event_type", "bucket", "v_bp")
      .write.parquet(hourlyDir)
    val input = MemoryStream[StreamEvent]
    // update-mode agg -> foreachBatch: each batch's re-aggregated cell
    // totals replace the stale cells in the maintained table (never a
    // delta-add — re-delivery of a total is idempotent), then the EWMA
    // view recomputes from the grid-sized table alone
    val q = StreamingOps.hourlySumsStream(input.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val next = StreamingOps.upsertGridCells(
          spark.read.parquet(hourlyDir), batch)
        next.write.mode("overwrite").parquet(s"$base/v$id")
        spark.read.parquet(s"$base/v$id").write.mode("overwrite").parquet(hourlyDir)
      }
      .start()
    try {
      // out of order ACROSS batches: hour 11 first, then hour 10 — and the
      // (10h, click) cell is split across batches so its total must be
      // REPLACED (3.0), not doubled, by the second upsert
      input.addData(sample(3), sample(4), sample(0))
      q.processAllAvailable()
      input.addData(sample(1), sample(2))
      q.processAllAvailable()
    } finally q.stop()
    val maintained = spark.read.parquet(hourlyDir)
    // the maintained table IS the batch hourlySums of everything streamed
    val hourlyBatch = EventOps.hourlySums(sample.toDF())
    assert(maintained.collect().map(_.toSeq).toSet ==
      hourlyBatch.collect().map(_.toSeq).toSet)
    // and the recomputed view equals batch ewmaHourly, rationals included
    val got = EventOps.ewmaFromHourly(maintained, span = 4)
      .collect().map(_.toSeq).toSeq
    val want = EventOps.ewmaHourly(sample.toDF(), span = 4)
      .collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("foreachBatch seasonal loop: maintained cells recompute batch seasonalProfile") {
    val base = Spill.newDir("graft-seasonal")
    val cellDir = s"$base/cells"
    Seq.empty[(String, Long, Long, Long)]
      .toDF("event_type", "hour", "n_events", "v_bp")
      .write.parquet(cellDir)
    val input = MemoryStream[StreamEvent]
    val q = StreamingOps.seasonalSumsStream(input.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // replace-by-key upsert on the (type, hour) grid key
        val grid = spark.read.parquet(cellDir)
        val next = grid.join(batch.select(col("event_type"), col("hour")),
            Seq("event_type", "hour"), "left_anti")
          .unionByName(batch)
        next.write.mode("overwrite").parquet(s"$base/v$id")
        spark.read.parquet(s"$base/v$id").write.mode("overwrite").parquet(cellDir)
      }
      .start()
    try {
      // the (10h, click) cell is split across batches: its total must be
      // REPLACED by the second upsert, not doubled
      input.addData(sample(1), sample(4))
      q.processAllAvailable()
      input.addData(sample(0), sample(2), sample(3))
      q.processAllAvailable()
    } finally q.stop()
    val maintained = spark.read.parquet(cellDir)
    assert(maintained.collect().map(_.toSeq).toSet ==
      EventOps.seasonalSums(sample.toDF()).collect().map(_.toSeq).toSet)
    // the recomputed profile equals the batch operator exactly
    val got = EventOps.seasonalFromSums(maintained).collect().map(_.toSeq).toSeq
    val want = EventOps.seasonalProfile(sample.toDF()).collect().map(_.toSeq).toSeq
    assert(got == want && got.nonEmpty)
  }

  test("topKPerKey: bounded state matches the batch GroupTopK formulation") {
    import graft.streaming.ScoredEvent
    val b1 = Seq(
      ScoredEvent(1L, "a", 1.0), ScoredEvent(2L, "a", 5.0),
      ScoredEvent(3L, "a", 3.0), ScoredEvent(10L, "b", 2.0))
    val b2 = Seq(ScoredEvent(4L, "a", 4.0))
    val input = MemoryStream[ScoredEvent]
    val q = StreamingOps.topKPerKey(input.toDS(), k = 2)
      .toDF("event_type", "rank", "event_id", "value")
      .writeStream.format("memory").queryName("topk").outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      val gen1 = spark.table("topk").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(gen1 == Set(("a", 1, 2L, 5.0), ("a", 2, 3L, 3.0), ("b", 1, 10L, 2.0)))
      val n1 = gen1.size
      input.addData(b2)
      q.processAllAvailable()
      // only key "a" saw data, so only its block re-emits — and it now
      // equals the batch window top-2 (value desc, id asc) over ALL a-rows
      val gen2 = spark.table("topk").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3))).drop(n1).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      val batch = (b1 ++ b2).toDF()
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= 2)
        .filter(col("event_type") === "a")
        .select(col("event_type"), col("rank"), col("event_id"), col("value"))
        .as[(String, Int, Long, Double)].collect().toSet
      assert(gen2 == batch)
      assert(gen2 == Set(("a", 1, 2L, 5.0), ("a", 2, 4L, 4.0)))
    } finally q.stop()
  }

  test("prioritySampleStream: maintained per-group sample matches batch priority sampling") {
    import graft.operators.SampleOps
    // two micro-batches; s0 accumulates 4 candidates (k=2 must evict), s1
    // grows from 1 to 2; the 2.0-weight late arrival must displace a member
    val b1 = Seq((1L, "s0", 0.9), (2L, "s0", 0.5), (3L, "s0", 0.8), (10L, "s1", 0.3))
    val b2 = Seq((4L, "s0", 2.0), (11L, "s1", 0.7))
    val input = MemoryStream[(Long, String, Double)]
    val q = StreamingOps.prioritySampleStream(
        input.toDS().toDF("doc_id", "source", "quality"),
        groupCol = "source", idCol = "doc_id", weightCol = "quality", k = 2)
      .writeStream.format("memory").queryName("prisample").outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      // update sink appends per batch: last emission per (group, rank) wins
      val rows = spark.table("prisample")
        .as[graft.streaming.PriSampleRow].collect().zipWithIndex
      val streamView = rows.groupBy(r => (r._1.group, r._1.rank))
        .map { case (k2, rs) => k2 -> { val r = rs.maxBy(_._2)._1; (r.id, r.w_bp) } }
      // batch replay: prioritySample over each group's cumulative rows
      val all = b1 ++ b2
      val batchView = all.map(_._2).distinct.flatMap { g =>
        val df = all.filter(_._2 == g).toDF("doc_id", "source", "quality")
        SampleOps.prioritySample(df, "quality", "doc_id", k = 2)
          .as[(Int, Long, Double)].collect()
          .map { case (rank, id, w) =>
            (g, rank) -> ((id, math.floor(w * 10000.0 + 0.5).toLong))
          }
      }.toMap
      assert(streamView == batchView, s"stream $streamView vs batch $batchView")
      // the heavy late arrival made it in
      assert(streamView.exists { case (_, (id, _)) => id == 4L })
    } finally q.stop()
  }

  test("extremaStream: MIN/MAX under deletes matches the batch extrema buffer") {
    // k=2 buffers; batch 1 builds, batch 2 deletes the ENTIRE lo buffer of
    // "a" (min must go None — the recompute signal, exactly the batch
    // drained-side contract) and one of two copies of b's single value
    val b1 = Seq(
      ExtremaDelta("a", 10000L, 1L), ExtremaDelta("a", 20000L, 1L),
      ExtremaDelta("a", 30000L, 1L), ExtremaDelta("a", 90000L, 1L),
      ExtremaDelta("b", 50000L, 2L))
    val b2 = Seq(
      ExtremaDelta("a", 10000L, -1L), ExtremaDelta("a", 20000L, -1L),
      ExtremaDelta("b", 50000L, -1L))
    val input = MemoryStream[ExtremaDelta]
    val q = StreamingOps.extremaStream(input.toDS(), k = 2)
      .writeStream.format("memory").queryName("extrema").outputMode("update").start()
    try {
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      // update sink appends per batch: the LAST row per key is the view
      val rows = spark.table("extrema").as[ExtremaRow].collect()
      val streamView = rows.zipWithIndex.groupBy(_._1.event_type)
        .map { case (t, rs) => t -> { val r = rs.maxBy(_._2)._1; (r.min_bp, r.max_bp) } }
      // batch replay: the same two delta batches through the batch IVM
      // operators (state-shaped = each value a candidate on BOTH sides)
      def shaped(ds: Seq[ExtremaDelta]) = ds
        .flatMap(d => Seq("lo", "hi").map(s => (d.event_type, s, d.v_bp, d.mult)))
        .toDF("event_type", "side", "v_bp", "mult")
      val empty = Seq.empty[(String, String, Long, Long)]
        .toDF("event_type", "side", "v_bp", "mult")
      val st1 = EventOps.mergeExtremaStates(empty, shaped(b1), k = 2)
      val st2 = EventOps.mergeExtremaStates(st1, shaped(b2), k = 2)
      val batchView = EventOps.extremaView(st2).collect().map { r =>
        r.getString(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1))),
          (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      }.toMap
      assert(streamView == batchView, s"stream $streamView vs batch $batchView")
      assert(streamView("a") == ((None, Some(90000L))))
      assert(streamView("b") == ((Some(50000L), Some(50000L))))
    } finally q.stop()
  }

  test("cdcIngestStream: only first-seen chunks admitted; a replica adds zero rows") {
    import graft.operators.{MediaRow, MultimodalOps}
    val a = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6).getBytes("UTF-8")
    val b = ("one two three four five six seven eight nine ten eleven " * 6).getBytes("UTF-8")
    val input = MemoryStream[MediaRow]
    val q = StreamingOps.cdcIngestStream(input.toDS())
      .writeStream.format("memory").queryName("cdcingest").outputMode("append").start()
    try {
      input.addData(MediaRow(1L, "image", a))
      q.processAllAvailable()
      val afterA = spark.table("cdcingest").collect()
      val distinctA = MultimodalOps.cdcChunks(Seq(MediaRow(1L, "image", a)).toDS())
        .collect().map(_.chunk_md5).distinct.toSet
      assert(afterA.map(_.getAs[String]("chunk_md5")).toSet == distinctA)
      // batch 2: a byte-identical replica plus new content
      input.addData(MediaRow(2L, "image", a.clone()), MediaRow(3L, "image", b))
      q.processAllAvailable()
      val all = spark.table("cdcingest").collect()
      val distinctB = MultimodalOps.cdcChunks(Seq(MediaRow(3L, "image", b)).toDS())
        .collect().map(_.chunk_md5).distinct.toSet
      assert(all.map(_.getAs[String]("chunk_md5")).toSet == distinctA ++ distinctB)
      // the replica's chunks were all suppressed: no row carries media_id 2
      assert(!all.exists(_.getAs[Long]("media_id") == 2L))
    } finally q.stop()
  }

  test("phashPairsStream: emitted pairs match batch phashPairs over the streamed corpus") {
    import graft.operators.{MediaRow, MultimodalOps}
    val docs = (0 until 24).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(docs))
    val decoded = MultimodalOps.phashBands(media.as[MediaRow])
      .collect().map(p => PhashItem(p.media_id, p.bands))
    // split mid-corpus so cross-batch pairs exercise the seen-set state
    val (b1, b2) = decoded.sortBy(_.media_id).splitAt(10)
    val input = MemoryStream[PhashItem]
    val q = StreamingOps.phashPairsStream(input.toDS())
      .writeStream.format("memory").queryName("phashpairs").outputMode("update").start()
    try {
      input.addData(b1.toSeq)
      q.processAllAvailable()
      input.addData(b2.toSeq)
      q.processAllAvailable()
      // multi-band collisions emit once per band: distinct is the dedup
      val streamed = spark.table("phashpairs")
        .as[PhashPairRow].collect().map(p => (p.id_a, p.id_b, p.hamming)).toSet
      val batch = MultimodalOps.phashPairs(media, maxBucket = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("minhashPairsStream: event counts match batch minhashBandPairs under shuffled cross-batch arrival") {
    // the text near-dup twin: planted corpus (exact copies + " graftdup"
    // near-copies), arrival shuffled and split across three micro-batches
    // so cross-batch pairs exercise the per-bucket registries; grouped
    // event counts must equal the batch (id_a, id_b, n_shared_bands) rows
    val corpus = graft.operators.DedupOps.plantedCorpus(sf("documents"))
    val rows = corpus.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.minhashPairsStream(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("minhashpairs").outputMode("update").start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val events = spark.table("minhashpairs").as[MinhashPairRow].collect()
      // each unordered pair emits exactly once per shared band
      assert(events.distinct.length == events.length)
      val streamed = events.groupBy(p => (p.id_a, p.id_b))
        .map { case (k, v) => (k._1, k._2, v.length.toLong) }.toSet
      val batch = graft.operators.DedupOps.minhashBandPairs(corpus, maxBucket = 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("minhashPairsStream: cap freezes cross-pairing; exact-text recall unconditional") {
    // frozen-cap invariants at maxBucket=1: capped events are a subset of
    // the uncapped event multiset, the cap demonstrably drops cross
    // events, and every identical-text pair still lands at the full
    // bands-fold multiplicity (frozen groups keep intra emission)
    val corpus = graft.operators.DedupOps.plantedCorpus(sf("documents"))
    val rows = corpus.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val input = MemoryStream[(Long, String)]
    val q = StreamingOps.minhashPairsStream(input.toDS().toDF("doc_id", "text"),
      maxBucket = 1)
      .writeStream.format("memory").queryName("minhashcap").outputMode("update").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      Seq(b1, b2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val capped = spark.table("minhashcap").as[MinhashPairRow].collect()
        .groupBy(p => (p.id_a, p.id_b)).map { case (k, v) => (k, v.length.toLong) }
      val uncapped = graft.operators.DedupOps.minhashBandPairs(corpus, maxBucket = 0)
        .as[(Long, Long, Long)].collect()
        .map { case (a, b, n) => ((a, b), n) }.toMap
      capped.foreach { case (k, n) =>
        assert(uncapped.getOrElse(k, 0L) >= n, s"pair $k over batch multiplicity") }
      assert(capped.values.sum < uncapped.values.sum, "cap never bit")
      val exactPairs = corpus.select(col("text"), col("doc_id"))
        .as[(String, Long)].collect().groupBy(_._1).values.filter(_.length > 1)
        .flatMap { g =>
          val ids = g.map(_._2).sorted
          for { i <- ids.indices; j <- (i + 1) until ids.length } yield (ids(i), ids(j))
        }
      assert(exactPairs.nonEmpty, "fixture must contain exact-text dups")
      exactPairs.foreach { p =>
        assert(capped.getOrElse(p, 0L) == 4L, s"exact pair $p lost under cap") }
    } finally q.stop()
  }

  test("phashPairsForgetStream: takedown edits the perceptual registry — post-forget arrivals pair as if tombstones never ingested") {
    import graft.operators.{MediaRow, MultimodalOps}
    // planted phash corpus (groups of brightness variants); ingest 60%,
    // tombstone a few paired items, ingest the rest plus a re-admission
    // (new id, a tombstoned item's exact hash). Post-takedown emission
    // must equal batch phashPairs over (survivors ∪ late) restricted to
    // pairs involving a late item, and never touch a tombstone.
    val docs24 = (0 until 24).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(docs24))
    val decoded = MultimodalOps.phashBands(media.as[MediaRow])
      .collect().map(p => PhashItem(p.media_id, p.bands)).sortBy(_.media_id)
    val (initial, late0) = decoded.splitAt(14)
    def batchPairs(items: Seq[PhashItem]) = {
      // brute-force truth over replayed hashes (the phashPairsStream
      // parity spec's rule: maxDist 6 < 8 bands -> LSH recall is 1)
      (for {
        i <- items.indices; j <- (i + 1) until items.length
        a = items(i); b = items(j)
        d = a.bands.zip(b.bands).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
        if d <= 6
      } yield (math.min(a.media_id, b.media_id), math.max(a.media_id, b.media_id), d)).toSet
    }
    val initialIds = initial.map(_.media_id).toSet
    // one tombstone per variant group (media_id / 4), so the re-admitted
    // hash still has surviving same-group partners to pair with
    val tombIds = batchPairs(initial.toIndexedSeq).flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains)
      .groupBy(_ / 4).values.map(_.min).toSeq.sorted.take(3).toSet
    assert(tombIds.size == 3, "fixture must have >= 3 paired initial groups")
    val bandsOf = decoded.map(p => p.media_id -> p.bands).toMap
    val readmit = PhashItem(decoded.map(_.media_id).max + 1L, bandsOf(tombIds.head))
    val late = late0 :+ readmit
    val input = MemoryStream[PhashForgetEvent]
    val q = StreamingOps.phashPairsForgetStream(input.toDS())
      .writeStream.format("memory").queryName("phforget").outputMode("update").start()
    try {
      input.addData(initial.map(p => PhashForgetEvent("ingest", p.media_id, p.bands)).toSeq)
      q.processAllAvailable()
      val phase1 = spark.table("phforget").as[PhashPairRow].collect().toSeq
      input.addData(tombIds.toSeq.map(id => PhashForgetEvent("forget", id, bandsOf(id))))
      q.processAllAvailable()
      val phase2 = spark.table("phforget").as[PhashPairRow].collect().toSeq
      assert(phase2.size == phase1.size, "a takedown emitted pair events")
      input.addData(late.map(p => PhashForgetEvent("ingest", p.media_id, p.bands)).toSeq)
      q.processAllAvailable()
      // multi-band collisions emit once per band: distinct is the dedup
      // (the phashPairsStream parity rule)
      val newEvents = spark.table("phforget").as[PhashPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.hamming)).toSet -- phase2.map(p => (p.id_a, p.id_b, p.hamming))
      assert(newEvents.forall(p => !tombIds.contains(p._1) && !tombIds.contains(p._2)),
        "a post-takedown event touched a tombstoned id")
      val lateIds = late.map(_.media_id).toSet
      val survivors = initial.filterNot(p => tombIds.contains(p.media_id)) ++ late
      val expected = batchPairs(survivors.toIndexedSeq)
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2))
      assert(newEvents == expected,
        s"post-takedown stream ${newEvents.size} vs survivor batch ${expected.size}")
      assert(newEvents.nonEmpty)
      assert(newEvents.exists(p => p._1 == readmit.media_id || p._2 == readmit.media_id),
        "re-admitted content emitted nothing")
    } finally q.stop()
  }

  test("phashPairsForgetStream: resumed registry carries takedowns across a checkpoint restart") {
    import graft.operators.{MediaRow, MultimodalOps}
    // the takedown contract is precisely the thing that must survive a
    // restart (r19 verdict #3): same fixture as the live pin, but the
    // query CRASHES after the takedown commits, the late batch arrives
    // while it is down, and the restarted query recovers the band state
    // from the checkpoint — post-restart emission must equal the
    // survivor-batch expectation, tombstones already excluded.
    val docs24 = (0 until 24).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(docs24))
    val decoded = MultimodalOps.phashBands(media.as[MediaRow])
      .collect().map(p => PhashItem(p.media_id, p.bands)).sortBy(_.media_id)
    val (initial, late0) = decoded.splitAt(14)
    def batchPairs(items: Seq[PhashItem]) = {
      (for {
        i <- items.indices; j <- (i + 1) until items.length
        a = items(i); b = items(j)
        d = a.bands.zip(b.bands).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
        if d <= 6
      } yield (math.min(a.media_id, b.media_id), math.max(a.media_id, b.media_id), d)).toSet
    }
    val initialIds = initial.map(_.media_id).toSet
    val tombIds = batchPairs(initial.toIndexedSeq).flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains)
      .groupBy(_ / 4).values.map(_.min).toSeq.sorted.take(3).toSet
    assert(tombIds.size == 3, "fixture must have >= 3 paired initial groups")
    val bandsOf = decoded.map(p => p.media_id -> p.bands).toMap
    val readmit = PhashItem(decoded.map(_.media_id).max + 1L, bandsOf(tombIds.head))
    val late = late0 :+ readmit
    val ckpt = Spill.newDir("graft-phforget")
    val outDir = Spill.newDir("graft-phforget-out")
    val input = MemoryStream[PhashForgetEvent]
    // memory sink cannot recover from a checkpoint — foreachBatch (a
    // replayable sink) records every emission with its batch id, so the
    // post-restart slice is mechanically separable
    def start() = StreamingOps.phashPairsForgetStream(input.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[PhashPairRow], id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir): Unit
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(initial.map(p => PhashForgetEvent("ingest", p.media_id, p.bands)).toSeq)
      q1.processAllAvailable()
      input.addData(tombIds.toSeq.map(id => PhashForgetEvent("forget", id, bandsOf(id))))
      q1.processAllAvailable()
    } finally q1.stop() // crash after the takedown committed
    val preCrashMax = spark.read.parquet(outDir)
      .agg(max(col("batch_id"))).as[Long].collect().head
    input.addData(late.map(p => PhashForgetEvent("ingest", p.media_id, p.bands)).toSeq)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .filter(col("batch_id") > preCrashMax)
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet
      assert(streamed.forall(p => !tombIds.contains(p._1) && !tombIds.contains(p._2)),
        "a post-restart event touched a tombstoned id")
      val lateIds = late.map(_.media_id).toSet
      val survivors = initial.filterNot(p => tombIds.contains(p.media_id)) ++ late
      val expected = batchPairs(survivors.toIndexedSeq)
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2))
      assert(streamed == expected,
        s"resumed stream ${streamed.size} vs survivor batch ${expected.size}")
      assert(streamed.nonEmpty)
      assert(streamed.exists(p => p._1 == readmit.media_id || p._2 == readmit.media_id),
        "re-admitted content emitted nothing after the restart")
    } finally q2.stop()
  }

  test("minhashPairsForgetStream: takedown edits the band registry — post-forget arrivals pair as if tombstones never ingested") {
    // the near-dup registry made deletable: ingest 60% of the planted
    // corpus, tombstone a few paired docs, then ingest the rest plus a
    // RE-ADMISSION doc (new id, a tombstoned doc's text). Everything
    // emitted after the takedown must equal the batch operator over
    // (survivors ∪ late) restricted to pairs involving a late doc —
    // including the re-admitted content pairing like a fresh arrival —
    // and no post-takedown event may touch a tombstoned id.
    val corpus = graft.operators.DedupOps.plantedCorpus(sf("documents"))
    val rows = corpus.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val (initial, late0) = rows.splitAt(rows.length * 3 / 5)
    val batchAll = graft.operators.DedupOps.minhashBandPairs(corpus, maxBucket = 0)
      .as[(Long, Long, Long)].collect()
    val initialIds = initial.map(_._1).toSet
    // tombstones: initial-phase docs that demonstrably pair in batch
    val tombIds = batchAll.flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains).distinct.sorted.take(5).toSet
    assert(tombIds.size == 5, "fixture must have >= 5 paired initial docs")
    val textOf = rows.toMap
    val readmit = (rows.map(_._1).max + 1L, textOf(tombIds.head))
    val late = late0 :+ readmit
    val input = MemoryStream[ForgetEvent]
    val q = StreamingOps.minhashPairsForgetStream(input.toDS())
      .writeStream.format("memory").queryName("mhforget").outputMode("update").start()
    try {
      input.addData(initial.map { case (id, t) => ForgetEvent("ingest", id, t) }.toSeq)
      q.processAllAvailable()
      val phase1 = spark.table("mhforget").as[MinhashPairRow].collect().toSet
      input.addData(tombIds.toSeq.map(id => ForgetEvent("forget", id, textOf(id))))
      q.processAllAvailable()
      val phase2 = spark.table("mhforget").as[MinhashPairRow].collect().toSet
      assert(phase2 == phase1, "a takedown emitted pair events")
      input.addData(late.map { case (id, t) => ForgetEvent("ingest", id, t) }.toSeq)
      q.processAllAvailable()
      val newEvents = spark.table("mhforget").as[MinhashPairRow].collect().toSet -- phase2
      assert(newEvents.forall(p => !tombIds.contains(p.id_a) && !tombIds.contains(p.id_b)),
        "a post-takedown event touched a tombstoned id")
      val streamed = newEvents.groupBy(p => (p.id_a, p.id_b))
        .map { case (k, v) => (k._1, k._2, v.size.toLong) }.toSet
      val lateIds = late.map(_._1).toSet
      val survivors = spark.createDataset(
        (initial.filterNot(r => tombIds.contains(r._1)) ++ late).toIndexedSeq)
        .toDF("doc_id", "text")
      val expected = graft.operators.DedupOps.minhashBandPairs(survivors, maxBucket = 0)
        .as[(Long, Long, Long)].collect()
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2)).toSet
      assert(streamed == expected,
        s"post-takedown stream ${streamed.size} vs survivor batch ${expected.size}")
      assert(streamed.nonEmpty)
      // the re-admitted content genuinely pairs (purge re-opened the sig)
      assert(streamed.exists(p => p._1 == readmit._1 || p._2 == readmit._1),
        "re-admitted content emitted nothing")
    } finally q.stop()
  }

  test("minhashPairsForgetStream: resumed registry carries takedowns across a checkpoint restart") {
    // the resumed-registry twin: ingest + takedown, crash, feed the late
    // batch while down, restart from the SAME checkpoint — the recovered
    // band state must already exclude the tombstones, so post-restart
    // emission equals the survivor-batch expectation of the live test.
    val ckpt = Spill.newDir("graft-mhforget")
    val corpus = graft.operators.DedupOps.plantedCorpus(sf("documents"))
    val rows = corpus.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val (initial, late) = rows.splitAt(rows.length * 3 / 5)
    val batchAll = graft.operators.DedupOps.minhashBandPairs(corpus, maxBucket = 0)
      .as[(Long, Long, Long)].collect()
    val initialIds = initial.map(_._1).toSet
    val tombIds = batchAll.flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains).distinct.sorted.take(5).toSet
    val textOf = rows.toMap
    val outDir = Spill.newDir("graft-mhforget-out")
    val input = MemoryStream[ForgetEvent]
    // memory sink cannot recover from a checkpoint — foreachBatch (a
    // replayable sink) records every emission with its batch id, so the
    // post-restart slice is mechanically separable
    def start() = StreamingOps.minhashPairsForgetStream(input.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[MinhashPairRow], id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir): Unit
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(initial.map { case (id, t) => ForgetEvent("ingest", id, t) }.toSeq)
      q1.processAllAvailable()
      input.addData(tombIds.toSeq.map(id => ForgetEvent("forget", id, textOf(id))))
      q1.processAllAvailable()
    } finally q1.stop() // crash after the takedown committed
    val preCrashMax = spark.read.parquet(outDir)
      .agg(max(col("batch_id"))).as[Long].collect().head
    input.addData(late.map { case (id, t) => ForgetEvent("ingest", id, t) }.toSeq)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .filter(col("batch_id") > preCrashMax)
        .as[(Long, Long, Int, Long)].collect()
        .groupBy(p => (p._1, p._2))
        .map { case (k, v) => (k._1, k._2, v.size.toLong) }.toSet
      val lateIds = late.map(_._1).toSet
      val survivors = spark.createDataset(
        (initial.filterNot(r => tombIds.contains(r._1)) ++ late).toIndexedSeq)
        .toDF("doc_id", "text")
      val expected = graft.operators.DedupOps.minhashBandPairs(survivors, maxBucket = 0)
        .as[(Long, Long, Long)].collect()
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2)).toSet
      assert(streamed == expected,
        s"resumed stream ${streamed.size} vs survivor batch ${expected.size}")
      assert(streamed.nonEmpty)
    } finally q2.stop()
  }

  test("forgetStream: admit/suppress/re-elect/purge lifecycle; purged content re-admits; batch parity") {
    // content A streamed as docs 5, then {3, 9}; forgetting 3, 5, 9 in
    // turn walks rep 3 -> 5 -> 9 -> purged, and doc 7 then RE-ADMITS the
    // same content (the right-to-be-forgotten contract: once every copy
    // is gone the registry must not remember the fingerprint); content B
    // is untouched. Final reps must equal batch exactDedup over the
    // surviving docs.
    val tA = "alpha beta gamma delta"
    val tB = "omega psi chi phi"
    val input = MemoryStream[ForgetEvent]
    val q = StreamingOps.forgetStream(input.toDS())
      .writeStream.format("memory").queryName("forget1").outputMode("update").start()
    try {
      Seq(
        Seq(ForgetEvent("ingest", 5L, tA), ForgetEvent("ingest", 100L, tB)),
        Seq(ForgetEvent("ingest", 3L, tA), ForgetEvent("ingest", 9L, tA)),
        Seq(ForgetEvent("forget", 3L, tA)),
        Seq(ForgetEvent("forget", 5L, tA)),
        Seq(ForgetEvent("forget", 9L, tA)),
        Seq(ForgetEvent("ingest", 7L, tA)),
        Seq(ForgetEvent("forget", 42L, tB)) // id B never had: noop
      ).foreach { b => input.addData(b); q.processAllAvailable() }
      val evs = spark.table("forget1").as[ForgetEventRow].collect().toSeq
      val aFp = evs.find(_.doc_id == 5L).get.fp_md5
      val aSeq = evs.filter(_.fp_md5 == aFp)
        .map(e => (e.doc_id, e.action, e.rep))
      assert(aSeq == Seq(
        (5L, "admitted", Some(5L)),
        (3L, "suppressed", Some(3L)), // smaller id takes over as rep
        (9L, "suppressed", Some(3L)),
        (3L, "forgotten", Some(5L)),
        (5L, "forgotten", Some(9L)),
        (9L, "purged", None),
        (7L, "admitted", Some(7L))), s"content A lifecycle: $aSeq")
      assert(evs.exists(e => e.doc_id == 42L && e.action == "noop" &&
        e.rep == Some(100L)), s"noop row missing: $evs")
      // batch parity: last rep per fp == exactDedup keep_id over survivors
      val survivors = Seq((7L, tA), (100L, tB)).toDF("doc_id", "text")
      val batch = graft.operators.DedupOps.exactDedup(survivors)
        .select("fp_md5", "keep_id").as[(String, Long)].collect().toMap
      val finalRep = evs.groupBy(_.fp_md5)
        .map { case (fp, es) => fp -> es.last.rep }
      batch.foreach { case (fp, keep) =>
        assert(finalRep(fp) == Some(keep), s"final rep for $fp: ${finalRep(fp)} vs batch $keep")
      }
    } finally q.stop()
  }

  test("forgetStream: capped registry keeps the SMALLEST ids — rep exact under eviction, untracked deletes, and degrade") {
    // maxMembers = 2. Content X: tracked {5}, {5,6}, then 1 arrives and
    // EVICTS 6 to the untracked count (tracked holds the smallest ids,
    // which is what keeps min(tracked) == global min under any
    // interleaving); forgetting 5 re-elects 1, forgetting 6 hits the
    // untracked count (rep provably unchanged), forgetting 1 purges.
    // Content Y exhausts its tracked set while an untracked copy is
    // alive -> degraded + cleared, and the next arrival re-admits.
    val tX = "xray yankee zulu quebec"
    val tY = "lima mike november oscar"
    val input = MemoryStream[ForgetEvent]
    val q = StreamingOps.forgetStream(input.toDS(), maxMembers = 2)
      .writeStream.format("memory").queryName("forget2").outputMode("update").start()
    try {
      Seq(
        Seq(ForgetEvent("ingest", 5L, tX)),
        Seq(ForgetEvent("ingest", 6L, tX)),
        Seq(ForgetEvent("ingest", 1L, tX)),
        Seq(ForgetEvent("forget", 5L, tX)),
        Seq(ForgetEvent("forget", 6L, tX)),
        Seq(ForgetEvent("forget", 1L, tX)),
        Seq(ForgetEvent("ingest", 10L, tY), ForgetEvent("ingest", 11L, tY),
          ForgetEvent("ingest", 12L, tY)),
        Seq(ForgetEvent("forget", 10L, tY)),
        Seq(ForgetEvent("forget", 11L, tY)),
        Seq(ForgetEvent("ingest", 13L, tY))
      ).foreach { b => input.addData(b); q.processAllAvailable() }
      val evs = spark.table("forget2").as[ForgetEventRow].collect().toSeq
      val xFp = evs.find(_.doc_id == 5L).get.fp_md5
      val xSeq = evs.filter(_.fp_md5 == xFp).map(e => (e.doc_id, e.action, e.rep))
      assert(xSeq == Seq(
        (5L, "admitted", Some(5L)),
        (6L, "suppressed", Some(5L)),
        (1L, "suppressed", Some(1L)), // 6 evicted to the untracked count
        (5L, "forgotten", Some(1L)),
        (6L, "forgotten_untracked", Some(1L)),
        (1L, "purged", None)), s"content X lifecycle: $xSeq")
      val yFp = evs.find(_.doc_id == 10L).get.fp_md5
      val ySeq = evs.filter(_.fp_md5 == yFp).map(e => (e.doc_id, e.action, e.rep))
      assert(ySeq == Seq(
        (10L, "admitted", Some(10L)),
        (11L, "suppressed", Some(10L)),
        (12L, "suppressed", Some(10L)), // over cap: counted, not tracked
        (10L, "forgotten", Some(11L)),
        (11L, "degraded", None), // tracked exhausted, copy 12 untracked
        (13L, "admitted", Some(13L))), s"content Y lifecycle: $ySeq")
    } finally q.stop()
  }

  test("forgetStream: same-batch ingest+forget of one doc — the takedown wins") {
    // op-ordering pin: within a micro-batch, ingest applies BEFORE a
    // forget of the same doc_id (alphabetically 'forget' < 'ingest', so
    // a naive (doc_id, op) sort would apply the forget to pre-ingest
    // state — a silently lost takedown). Doc 4 ingested and taken down
    // in ONE batch must end forgotten; doc 2 stays as rep.
    val t = "sierra tango uniform victor"
    val input = MemoryStream[ForgetEvent]
    val q = StreamingOps.forgetStream(input.toDS())
      .writeStream.format("memory").queryName("forget3").outputMode("update").start()
    try {
      input.addData(Seq(ForgetEvent("ingest", 2L, t)))
      q.processAllAvailable()
      input.addData(Seq(
        ForgetEvent("forget", 4L, t), ForgetEvent("ingest", 4L, t)))
      q.processAllAvailable()
      // same-batch admit-then-takedown on a FRESH fingerprint: must end
      // purged (re-admission open), not admitted
      val t2 = "whiskey xray yankee zulu"
      input.addData(Seq(
        ForgetEvent("forget", 8L, t2), ForgetEvent("ingest", 8L, t2)))
      q.processAllAvailable()
      input.addData(Seq(ForgetEvent("ingest", 9L, t2)))
      q.processAllAvailable()
      val evs = spark.table("forget3").as[ForgetEventRow].collect().toSeq
      val fp1 = evs.find(_.doc_id == 2L).get.fp_md5
      val s1 = evs.filter(_.fp_md5 == fp1).map(e => (e.doc_id, e.action, e.rep))
      assert(s1 == Seq(
        (2L, "admitted", Some(2L)),
        (4L, "suppressed", Some(2L)),  // ingest first...
        (4L, "forgotten", Some(2L))),  // ...then the takedown wins
        s"same-batch ingest+forget: $s1")
      val fp2 = evs.find(_.doc_id == 9L).get.fp_md5
      val s2 = evs.filter(_.fp_md5 == fp2).map(e => (e.doc_id, e.action, e.rep))
      assert(s2 == Seq(
        (8L, "admitted", Some(8L)),
        (8L, "purged", None),          // forget landed AFTER the ingest
        (9L, "admitted", Some(9L))),   // fp fully forgotten: re-admits
        s"fresh-fp same-batch: $s2")
    } finally q.stop()
  }

  test("forgetStream: capped — re-opened tracked slot never admits an id above a live untracked copy") {
    // The soundness trap the untrackedMin bound exists for: cap 2,
    // tracked {7,8}, copies 9 and 10 go to the untracked count. A
    // takedown of 7 re-opens a slot; ingest 12 must NOT enter tracked
    // (12 > untracked 9,10 — tracking it would let a later takedown of
    // 8 elect rep 12 while copies 9,10 are alive, a WRONG min). With
    // the bound, 12 joins the count and the takedown of 8 degrades —
    // the safe handoff, never a wrong rep.
    val t = "golf hotel india juliet"
    val input = MemoryStream[ForgetEvent]
    val q = StreamingOps.forgetStream(input.toDS(), maxMembers = 2)
      .writeStream.format("memory").queryName("forget4").outputMode("update").start()
    try {
      Seq(
        Seq(ForgetEvent("ingest", 7L, t)),
        Seq(ForgetEvent("ingest", 8L, t)),
        Seq(ForgetEvent("ingest", 9L, t)),
        Seq(ForgetEvent("ingest", 10L, t)),
        Seq(ForgetEvent("forget", 7L, t)),
        Seq(ForgetEvent("ingest", 12L, t)),
        Seq(ForgetEvent("forget", 8L, t))
      ).foreach { b => input.addData(b); q.processAllAvailable() }
      val evs = spark.table("forget4").as[ForgetEventRow].collect().toSeq
      val s = evs.map(e => (e.doc_id, e.action, e.rep))
      assert(s == Seq(
        (7L, "admitted", Some(7L)),
        (8L, "suppressed", Some(7L)),
        (9L, "suppressed", Some(7L)),   // over cap: counted (bound 9)
        (10L, "suppressed", Some(7L)),  // counted (bound stays 9)
        (7L, "forgotten", Some(8L)),    // slot re-opens
        (12L, "suppressed", Some(8L)),  // 12 ≥ bound: counted, NOT tracked
        (8L, "degraded", None)),        // never "forgotten rep 12"
        s"re-opened-slot lifecycle: $s")
    } finally q.stop()
  }

  test("typeTransitionsStream: matrix recomputed from emitted pairs equals batch") {
    // three users' interleaved timelines, split mid-user so the stored
    // tail carries a lag pair across the batch boundary
    val evs = Seq(
      StreamIdEvent(1L, ts("10:00"), 7L, "click"), StreamIdEvent(2L, ts("10:05"), 7L, "view"),
      StreamIdEvent(3L, ts("10:01"), 8L, "click"), StreamIdEvent(4L, ts("10:02"), 8L, "view"),
      StreamIdEvent(5L, ts("10:10"), 7L, "purchase"),
      StreamIdEvent(6L, ts("10:11"), 9L, "view"), StreamIdEvent(7L, ts("10:12"), 9L, "click"),
      StreamIdEvent(8L, ts("10:20"), 8L, "purchase"))
    val input = MemoryStream[StreamIdEvent]
    val q = StreamingOps.typeTransitionsStream(input.toDS())
      .writeStream.format("memory").queryName("transitions").outputMode("append").start()
    try {
      input.addData(evs.take(4))
      q.processAllAvailable()
      input.addData(evs.drop(4))
      q.processAllAvailable()
      // flush: a far-future single event (user 99 emits no pair itself)
      // pushes the watermark past every real timestamp
      input.addData(StreamIdEvent(999L, ts("23:00"), 99L, "view"))
      q.processAllAvailable()
      input.addData(StreamIdEvent(998L, ts("23:30"), 98L, "view"))
      q.processAllAvailable()
      val pairs = spark.table("transitions").as[TransitionRow].collect().toSeq
      // the cross-batch lag pairs exist: user 7 view->purchase, 8 view->purchase
      assert(pairs.contains(TransitionRow(7L, "view", "purchase")))
      assert(pairs.contains(TransitionRow(8L, "view", "purchase")))
      val streamedMatrix = EventOps.transitionMatrix(
        pairs.toDF().select(col("from_type"), col("to_type")))
        .collect().map(_.toSeq).toSeq
      val batchMatrix = EventOps.typeTransitions(
        evs.map(e => (e.event_id, e.ts, e.user_id, e.event_type, 0.0))
          .toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(_.toSeq).toSeq
      assert(streamedMatrix == batchMatrix)
    } finally q.stop()
  }

  test("typeTransitionsStream: cross-batch DISORDER still matches batch pairs") {
    // the same timeline as the parity test but delivered out of order
    // ACROSS batches: user 7's 10:10 purchase lands a batch BEFORE its
    // 10:05 view, and user 8's 10:02 view before its 10:01 click. r12's
    // last-event-state version paired against the stored tail here; the
    // watermark-bound buffer must reconstruct the true (ts, id) order.
    val evs = Seq(
      StreamIdEvent(1L, ts("10:00"), 7L, "click"), StreamIdEvent(2L, ts("10:05"), 7L, "view"),
      StreamIdEvent(3L, ts("10:01"), 8L, "click"), StreamIdEvent(4L, ts("10:02"), 8L, "view"),
      StreamIdEvent(5L, ts("10:10"), 7L, "purchase"),
      StreamIdEvent(8L, ts("10:20"), 8L, "purchase"))
    val input = MemoryStream[StreamIdEvent]
    val q = StreamingOps.typeTransitionsStream(input.toDS(), watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("transitions_ooo").outputMode("append").start()
    try {
      input.addData(evs(0), evs(4), evs(3)) // 10:00 click7, 10:10 purchase7, 10:02 view8
      q.processAllAvailable()
      input.addData(evs(1), evs(2), evs(5)) // 10:05 view7, 10:01 click8, 10:20 purchase8
      q.processAllAvailable()
      input.addData(StreamIdEvent(999L, ts("23:00"), 99L, "view")) // flush
      q.processAllAvailable()
      input.addData(StreamIdEvent(998L, ts("23:30"), 98L, "view"))
      q.processAllAvailable()
      val pairs = spark.table("transitions_ooo").as[TransitionRow].collect().toSeq
        .map(p => (p.user_id, p.from_type, p.to_type)).sorted
      val batch = Seq(
        (7L, "click", "view"), (7L, "view", "purchase"),
        (8L, "click", "view"), (8L, "view", "purchase")).sorted
      assert(pairs == batch, s"disorder broke lag pairing: $pairs")
    } finally q.stop()
  }

  test("phashPairsStream: cap counts distinct hashes — exact-dup floods keep pairing") {
    // 10 items share one hash, then a near-dup (d=1) arrives; cap=3. Under
    // raw-item capping the bucket froze at the 3rd arrival and the near-dup
    // never paired (the measured x100 recall death); group-capping holds 2
    // groups, so every intra pair and all 10 cross pairs are emitted.
    val h1 = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    val h2 = Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L, 8L) // band 0 differs by 1 bit
    val input = MemoryStream[PhashItem]
    val q = StreamingOps.phashPairsStream(input.toDS(), maxBucket = 3)
      .writeStream.format("memory").queryName("phashcap").outputMode("update").start()
    try {
      input.addData((0L until 10L).map(id => PhashItem(id, h1)))
      q.processAllAvailable()
      input.addData(PhashItem(100L, h2))
      q.processAllAvailable()
      val got = spark.table("phashcap")
        .as[PhashPairRow].collect().map(p => (p.id_a, p.id_b, p.hamming)).toSet
      val intra = (for (a <- 0L until 10L; b <- (a + 1) until 10L) yield (a, b, 0L)).toSet
      val cross = (0L until 10L).map(id => (id, 100L, 1L)).toSet
      assert(got == intra ++ cross)
    } finally q.stop()
  }

  test("embedNearDupStream: matches uncapped batch nearDupPairs under shuffled arrival") {
    val planted = SimOps.plantedVectors(sf("embeddings"))
    // deterministic shuffle: dup copies arrive BEFORE their originals for
    // some groups, and batch boundaries cut through groups
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.embedNearDupStream(input.toDS())
      .writeStream.format("memory").queryName("embedndp").outputMode("update").start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("embedndp").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      val batch = SimOps.nearDupPairs(planted, maxBucket = 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("embedForgetStream: takedown edits the embedding registry — post-forget arrivals pair as if tombstones never ingested") {
    import graft.streaming.EmbedForgetEvent
    // the third streaming registry made deletable: ingest 60% of the
    // planted vectors, tombstone a few paired ones, ingest the rest plus
    // a re-admission (new id, a tombstoned vector's exact embedding).
    // Post-takedown emission must equal batch nearDupPairs over
    // (survivors ∪ late) restricted to pairs involving a late vector.
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val (initial, late0) = rows.splitAt(rows.length * 3 / 5)
    def batchPairs(items: Seq[(Long, Seq[Float])]) = {
      val df = spark.createDataset(items.toIndexedSeq).toDF("vec_id", "embedding")
      SimOps.nearDupPairs(df, maxBucket = 0).as[(Long, Long, Long)].collect().toSet
    }
    val initialIds = initial.map(_._1).toSet
    val tombIds = batchPairs(initial.toIndexedSeq).flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains)
      // one per planted group (originals are % 100 == 0; copies are
      // original + plantStep): keying on id % 100000 spreads picks so
      // the re-admitted vector keeps surviving partners
      .groupBy(_ % 97).values.map(_.min).toSeq.distinct.sorted.take(3).toSet
    assert(tombIds.size == 3, "fixture must have >= 3 paired initial vectors")
    val embOf = rows.toMap
    val readmit = (rows.map(_._1).max + 1L, embOf(tombIds.head))
    val late = late0 :+ readmit
    val input = MemoryStream[EmbedForgetEvent]
    val q = StreamingOps.embedForgetStream(input.toDS())
      .writeStream.format("memory").queryName("embforget").outputMode("update").start()
    try {
      input.addData(initial.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
      q.processAllAvailable()
      val phase1 = spark.table("embforget").as[EmbedPairRow].collect().toSeq
      input.addData(tombIds.toSeq.map(id => EmbedForgetEvent("forget", id, embOf(id))))
      q.processAllAvailable()
      val phase2 = spark.table("embforget").as[EmbedPairRow].collect().toSeq
      assert(phase2.size == phase1.size, "a takedown emitted pair events")
      input.addData(late.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
      q.processAllAvailable()
      val newEvents = spark.table("embforget").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet --
        phase2.map(p => (p.id_a, p.id_b, p.cos_bp))
      assert(newEvents.forall(p => !tombIds.contains(p._1) && !tombIds.contains(p._2)),
        "a post-takedown event touched a tombstoned id")
      val lateIds = late.map(_._1).toSet
      val survivors = initial.filterNot(r => tombIds.contains(r._1)) ++ late
      val expected = batchPairs(survivors.toIndexedSeq)
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2))
      assert(newEvents == expected,
        s"post-takedown stream ${newEvents.size} vs survivor batch ${expected.size}")
      assert(newEvents.nonEmpty)
    } finally q.stop()
  }

  test("embedForgetStream: resumed registry carries takedowns across a checkpoint restart") {
    import graft.streaming.EmbedForgetEvent
    // r19 verdict #3: the sign-LSH registry's takedowns must survive a
    // restart. Same fixture as the live pin; crash after the takedown
    // commits, late vectors arrive while down, restart from the SAME
    // checkpoint — recovered state must already exclude the tombstones.
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val (initial, late0) = rows.splitAt(rows.length * 3 / 5)
    def batchPairs(items: Seq[(Long, Seq[Float])]) = {
      val df = spark.createDataset(items.toIndexedSeq).toDF("vec_id", "embedding")
      SimOps.nearDupPairs(df, maxBucket = 0).as[(Long, Long, Long)].collect().toSet
    }
    val initialIds = initial.map(_._1).toSet
    val tombIds = batchPairs(initial.toIndexedSeq).flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains)
      .groupBy(_ % 97).values.map(_.min).toSeq.distinct.sorted.take(3).toSet
    assert(tombIds.size == 3, "fixture must have >= 3 paired initial vectors")
    val embOf = rows.toMap
    val readmit = (rows.map(_._1).max + 1L, embOf(tombIds.head))
    val late = late0 :+ readmit
    val ckpt = Spill.newDir("graft-embforget")
    val outDir = Spill.newDir("graft-embforget-out")
    val input = MemoryStream[EmbedForgetEvent]
    def start() = StreamingOps.embedForgetStream(input.toDS())
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EmbedPairRow], id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir): Unit
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(initial.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
      q1.processAllAvailable()
      input.addData(tombIds.toSeq.map(id => EmbedForgetEvent("forget", id, embOf(id))))
      q1.processAllAvailable()
    } finally q1.stop() // crash after the takedown committed
    val preCrashMax = spark.read.parquet(outDir)
      .agg(max(col("batch_id"))).as[Long].collect().head
    input.addData(late.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .filter(col("batch_id") > preCrashMax)
        .select("id_a", "id_b", "cos_bp").as[(Long, Long, Long)].collect().toSet
      assert(streamed.forall(p => !tombIds.contains(p._1) && !tombIds.contains(p._2)),
        "a post-restart event touched a tombstoned id")
      val lateIds = late.map(_._1).toSet
      val survivors = initial.filterNot(r => tombIds.contains(r._1)) ++ late
      val expected = batchPairs(survivors.toIndexedSeq)
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2))
      assert(streamed == expected,
        s"resumed stream ${streamed.size} vs survivor batch ${expected.size}")
      assert(streamed.nonEmpty)
    } finally q2.stop()
  }

  test("embedNearDupStream: cap freezes new groups to intra-only emission") {
    // one sign bucket; cap=1: e1 founds the only unfrozen group, e2
    // arrives over cap (cos(e1,e2) ~ 0.997 would pair if allowed) and is
    // recorded FROZEN; exact dups of BOTH groups still emit intra pairs,
    // and no cross pair ever involves the frozen group
    val e1 = Seq(1f, 1f, 1f, 1f)
    val e2 = Seq(0.9f, 1f, 1f, 1f)
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.embedNearDupStream(input.toDS(), maxBucket = 1)
      .writeStream.format("memory").queryName("embedndpcap").outputMode("update").start()
    try {
      input.addData(EmbedItem(1L, e1), EmbedItem(2L, e2))
      q.processAllAvailable()
      input.addData(EmbedItem(3L, e2), EmbedItem(4L, e1))
      q.processAllAvailable()
      val got = spark.table("embedndpcap").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      assert(got == Set((2L, 3L, 10000L), (1L, 4L, 10000L)), s"got: $got")
    } finally q.stop()
  }

  test("rebucketRegistry: resumed stream at derived bits equals fresh-bits batch for new arrivals") {
    // the offline re-shard contract: half the corpus is the registry, bits
    // re-derived with a tightened cap so the re-shard is GENUINE (4 -> 5
    // bits, not a no-op), state rebuilt at the new width, stream resumed
    // from it; everything the resumed stream emits must equal the uncapped
    // batch pairs of the FULL corpus minus those of the registry alone
    // (old-vs-old never re-emits; old-vs-new and new-vs-new land once)
    val all = SimOps.plantedVectors(sf("embeddings"))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val (oldItems, newItems) = all.splitAt(all.length / 2)
    val registry = spark.createDataset(oldItems.toIndexedSeq)
    val bits2 = SimOps.autoSignBits(registry.toDF(), maxBucket = 8)
    assert(bits2 != 4, "fixture must force a real re-shard")
    val init = StreamingOps.rebucketRegistry(registry, bits2)
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.embedNearDupStream(input.toDS(), bits = bits2,
      initialState = Some(init))
      .writeStream.format("memory").queryName("rebucket").outputMode("update").start()
    try {
      val (b1, b2) = newItems.splitAt(newItems.length / 2)
      Seq(b1, b2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("rebucket").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      def batch(items: Seq[EmbedItem]) =
        SimOps.nearDupPairs(spark.createDataset(items.toIndexedSeq).toDF(),
          bits = bits2, maxBucket = 0)
          .as[(Long, Long, Long)].collect().toSet
      val expected = batch(all.toSeq) -- batch(oldItems.toSeq)
      assert(streamed == expected,
        s"stream ${streamed.size} vs full-minus-old ${expected.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("cellNearDupStream: matches uncapped batch cellNearDupPairs under shuffled arrival") {
    // the loose-threshold twin: same corpus, centroid snapshot pinned to
    // the batch operator's own centroid set (hashCentroidPred over the
    // full corpus), batch boundaries cutting through exact-dup groups
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val snap = planted.filter(SimOps.hashCentroidPred(64))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStream(input.toDS(), snap)
      .writeStream.format("memory").queryName("cellndp").outputMode("update").start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("cellndp").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      val batch = SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(64), maxCell = 0)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("cellForgetStream: takedown edits the cell registry — post-forget arrivals pair as if tombstones never ingested") {
    import graft.streaming.EmbedForgetEvent
    // the fourth and last streaming near-dup registry made deletable:
    // same construction as the embedForgetStream pin, under the
    // cell-geometry keying with the batch operator's own centroid set
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val snap = planted.filter(SimOps.hashCentroidPred(64))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val (initial, late0) = rows.splitAt(rows.length * 3 / 5)
    def batchPairs(items: Seq[(Long, Seq[Float])]) = {
      val df = spark.createDataset(items.toIndexedSeq).toDF("vec_id", "embedding")
      SimOps.cellNearDupPairs(df,
        centroidPred = col("vec_id").isInCollection(snap.map(_._1)), maxCell = 0)
        .as[(Long, Long, Long)].collect().toSet
    }
    val initialIds = initial.map(_._1).toSet
    val tombIds = batchPairs(initial.toIndexedSeq).flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains)
      .groupBy(_ % 97).values.map(_.min).toSeq.distinct.sorted.take(3).toSet
    assert(tombIds.size == 3, "fixture must have >= 3 paired initial vectors")
    val embOf = rows.toMap
    val readmit = (rows.map(_._1).max + 1L, embOf(tombIds.head))
    val late = late0 :+ readmit
    val input = MemoryStream[EmbedForgetEvent]
    val q = StreamingOps.cellForgetStream(input.toDS(), snap)
      .writeStream.format("memory").queryName("cellforget").outputMode("update").start()
    try {
      input.addData(initial.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
      q.processAllAvailable()
      val phase1 = spark.table("cellforget").as[EmbedPairRow].collect().toSeq
      input.addData(tombIds.toSeq.map(id => EmbedForgetEvent("forget", id, embOf(id))))
      q.processAllAvailable()
      val phase2 = spark.table("cellforget").as[EmbedPairRow].collect().toSeq
      assert(phase2.size == phase1.size, "a takedown emitted pair events")
      input.addData(late.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
      q.processAllAvailable()
      val newEvents = spark.table("cellforget").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet --
        phase2.map(p => (p.id_a, p.id_b, p.cos_bp))
      assert(newEvents.forall(p => !tombIds.contains(p._1) && !tombIds.contains(p._2)),
        "a post-takedown event touched a tombstoned id")
      val lateIds = late.map(_._1).toSet
      val survivors = initial.filterNot(r => tombIds.contains(r._1)) ++ late
      val expected = batchPairs(survivors.toIndexedSeq)
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2))
      assert(newEvents == expected,
        s"post-takedown stream ${newEvents.size} vs survivor batch ${expected.size}")
      assert(newEvents.nonEmpty)
    } finally q.stop()
  }

  test("cellForgetStream: resumed registry carries takedowns across a checkpoint restart") {
    import graft.streaming.EmbedForgetEvent
    // r19 verdict #3, last registry: cell-geometry takedowns across a
    // restart. Crash after the takedown commits, late vectors arrive
    // while down, restart from the SAME checkpoint (same centroid
    // snapshot — the snapshot is part of the query definition).
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val snap = planted.filter(SimOps.hashCentroidPred(64))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
    val (initial, late0) = rows.splitAt(rows.length * 3 / 5)
    def batchPairs(items: Seq[(Long, Seq[Float])]) = {
      val df = spark.createDataset(items.toIndexedSeq).toDF("vec_id", "embedding")
      SimOps.cellNearDupPairs(df,
        centroidPred = col("vec_id").isInCollection(snap.map(_._1)), maxCell = 0)
        .as[(Long, Long, Long)].collect().toSet
    }
    val initialIds = initial.map(_._1).toSet
    val tombIds = batchPairs(initial.toIndexedSeq).flatMap(p => Seq(p._1, p._2))
      .filter(initialIds.contains)
      .groupBy(_ % 97).values.map(_.min).toSeq.distinct.sorted.take(3).toSet
    assert(tombIds.size == 3, "fixture must have >= 3 paired initial vectors")
    val embOf = rows.toMap
    val readmit = (rows.map(_._1).max + 1L, embOf(tombIds.head))
    val late = late0 :+ readmit
    val ckpt = Spill.newDir("graft-cellforget")
    val outDir = Spill.newDir("graft-cellforget-out")
    val input = MemoryStream[EmbedForgetEvent]
    def start() = StreamingOps.cellForgetStream(input.toDS(), snap)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[EmbedPairRow], id: Long) =>
        df.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(outDir): Unit
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try {
      input.addData(initial.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
      q1.processAllAvailable()
      input.addData(tombIds.toSeq.map(id => EmbedForgetEvent("forget", id, embOf(id))))
      q1.processAllAvailable()
    } finally q1.stop() // crash after the takedown committed
    val preCrashMax = spark.read.parquet(outDir)
      .agg(max(col("batch_id"))).as[Long].collect().head
    input.addData(late.map { case (id, e) => EmbedForgetEvent("ingest", id, e) }.toSeq)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .filter(col("batch_id") > preCrashMax)
        .select("id_a", "id_b", "cos_bp").as[(Long, Long, Long)].collect().toSet
      assert(streamed.forall(p => !tombIds.contains(p._1) && !tombIds.contains(p._2)),
        "a post-restart event touched a tombstoned id")
      val lateIds = late.map(_._1).toSet
      val survivors = initial.filterNot(r => tombIds.contains(r._1)) ++ late
      val expected = batchPairs(survivors.toIndexedSeq)
        .filter(p => lateIds.contains(p._1) || lateIds.contains(p._2))
      assert(streamed == expected,
        s"resumed stream ${streamed.size} vs survivor batch ${expected.size}")
      assert(streamed.nonEmpty)
    } finally q2.stop()
  }

  test("cellNearDupStream: cap freezes new groups to intra-only emission") {
    // one centroid -> one cell; cap=1: e1 founds the only unfrozen group,
    // e2 arrives over cap (cos ~ 0.997 would pair) and is frozen; exact
    // dups of both groups still emit intra pairs, no cross pair ever
    val e1 = Seq(1f, 1f, 1f, 1f)
    val e2 = Seq(0.9f, 1f, 1f, 1f)
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStream(input.toDS(), Seq((0L, e1)), maxCell = 1)
      .writeStream.format("memory").queryName("cellndpcap").outputMode("update").start()
    try {
      input.addData(EmbedItem(1L, e1), EmbedItem(2L, e2))
      q.processAllAvailable()
      input.addData(EmbedItem(3L, e2), EmbedItem(4L, e1))
      q.processAllAvailable()
      val got = spark.table("cellndpcap").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      assert(got == Set((2L, 3L, 10000L), (1L, 4L, 10000L)), s"got: $got")
    } finally q.stop()
  }

  test("cellNearDupStreamHier: cap freezes per CELL inside the supercell state") {
    // sc-keyed state holds several cells' registries; the cap must count
    // unfrozen groups PER CELL, not per supercell. Four near-orthogonal
    // centroids in one supercell (nlist=4 -> per=2 -> sups {c0,c2}, both
    // blocks 2-wide); cap=1: each cell's first founder is unfrozen, a
    // second distinct vector in the SAME cell freezes (intra-only), but a
    // founder in a DIFFERENT cell of the same supercell is NOT blocked
    val c0 = Seq(1f, 0f, 0f, 0f)
    val c1 = Seq(0f, 1f, 0f, 0f)
    val e0b = Seq(1f, 0.05f, 0f, 0f)   // cell c0, cos ~ 0.999 vs c0 founder
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStreamHier(input.toDS(),
      Seq((0L, c0), (1L, c1), (2L, Seq(0f, 0f, 1f, 0f)), (3L, Seq(0f, 0f, 0f, 1f))),
      maxCell = 1)
      .writeStream.format("memory").queryName("cellndphcap").outputMode("update").start()
    try {
      input.addData(EmbedItem(10L, c0), EmbedItem(11L, e0b), EmbedItem(12L, c1))
      q.processAllAvailable()
      // 11 froze over cap in cell 0 (no cross pair vs 10); 12 founded
      // cell 1 unfrozen despite sharing 10's supercell; exact dups of
      // the frozen group still emit intra
      input.addData(EmbedItem(13L, e0b), EmbedItem(14L, c1))
      q.processAllAvailable()
      val got = spark.table("cellndphcap").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      assert(got == Set((11L, 13L, 10000L), (12L, 14L, 10000L)), s"got: $got")
    } finally q.stop()
  }

  test("recellRegistry: resumed stream at a new snapshot equals fresh-snapshot batch for new arrivals") {
    // the offline re-centroid contract, cell-keyed rebucketRegistry: half
    // the corpus is the registry, the NEW snapshot is drawn from the
    // registry (production re-centroids from what it has ingested), state
    // rebuilt per cell, stream resumed; emitted = uncapped batch pairs of
    // the full corpus minus the registry's, BOTH at the pinned snapshot
    // (explicit centroid-id predicate so the two batch runs share it)
    val all = SimOps.plantedVectors(sf("embeddings"))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val (oldItems, newItems) = all.splitAt(all.length / 2)
    val registry = spark.createDataset(oldItems.toIndexedSeq)
    val snap = registry.toDF().filter(SimOps.hashCentroidPred(64))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    assert(snap.nonEmpty, "fixture must yield registry centroids")
    val snapIds = snap.map(_._1)
    val init = StreamingOps.recellRegistry(registry, snap)
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStream(input.toDS(), snap,
      initialState = Some(init))
      .writeStream.format("memory").queryName("recell").outputMode("update").start()
    try {
      val (b1, b2) = newItems.splitAt(newItems.length / 2)
      Seq(b1, b2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("recell").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      def batch(items: Seq[EmbedItem]) =
        SimOps.cellNearDupPairs(spark.createDataset(items.toIndexedSeq).toDF(),
          centroidPred = col("vec_id").isin(snapIds: _*), maxCell = 0)
          .as[(Long, Long, Long)].collect().toSet
      val expected = batch(all.toSeq) -- batch(oldItems.toSeq)
      assert(streamed == expected,
        s"stream ${streamed.size} vs full-minus-old ${expected.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("nearestCellHier: equals batch cellArgmaxHier on every fixture vector") {
    // the streaming two-level snapshot (r16) is the batch hier
    // assignment's executor-side mirror — same stride rule, same
    // strict->/c_id-asc tie-breaks at both levels: pin per-vector
    // equality through the DataFrame fold itself
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val snap = planted.filter(SimOps.hashCentroidPred(4))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    assert(snap.size >= 4, s"fixture must yield several centroids, got ${snap.size}")
    val hsnap = StreamingOps.centSnapshotHier(snap)
    val n = SimOps.normalized(planted, "vec_id", "embedding")
    val cents = n.filter(SimOps.hashCentroidPred(4))
      .select(col("vec_id").as("c_id"), col("e").as("ce"), col("nrm").as("cn"))
    val batch = SimOps.cellArgmaxHier(n, cents, "vec_id")
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    rows.foreach { case (id, e) =>
      val k = StreamingOps.nearestCellHier(hsnap, e)
      assert(batch.getOrElse(id, -1L) == k,
        s"vec $id: snapshot $k vs batch ${batch.get(id)}")
    }
  }

  test("cellNearDupStreamHier: matches uncapped batch cellNearDupPairs(hier) under shuffled arrival") {
    // the two-level keying twin — sc-keyed state, blocks distributed via
    // the initial state, only the sup array in closures (r17): pair parity
    // against the batch operator at hier=true on the same pinned snapshot
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val snap = planted.filter(SimOps.hashCentroidPred(4))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStreamHier(input.toDS(), snap)
      .writeStream.format("memory").queryName("cellndph").outputMode("update").start()
    try {
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      Seq(b1, b2, b3).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("cellndph").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      val batch = SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(4), maxCell = 0, hier = true)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("cellNearDupStream: non-assignable vectors key to the reserved -1 cell, intra-only parity") {
    // zero-norm vectors have no finite centroid similarity: batch drops
    // them before cell pairing but still emits their exact-dup intra
    // pairs from the registry; the stream's reserved -1 cell reproduces
    // both halves (the r15 ADVICE parity edge), flat and hier alike
    val z = Seq(0f, 0f, 0f, 0f)
    val a = Seq(1f, 0.5f, 0f, 0.25f)
    val items = Seq(EmbedItem(1L, z), EmbedItem(2L, a), EmbedItem(3L, z), EmbedItem(4L, a))
    val batch = SimOps.cellNearDupPairs(
      spark.createDataset(items.toIndexedSeq).toDF(),
      centroidPred = col("vec_id") === 2L, maxCell = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == Set((1L, 3L, 10000L), (2L, 4L, 10000L)), s"batch: $batch")
    for (hier <- Seq(false, true)) {
      val input = MemoryStream[EmbedItem]
      val name = s"cellndpz$hier"
      val q = (if (hier) StreamingOps.cellNearDupStreamHier(input.toDS(), Seq((2L, a)))
        else StreamingOps.cellNearDupStream(input.toDS(), Seq((2L, a))))
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      try {
        input.addData(items.take(2)); q.processAllAvailable()
        input.addData(items.drop(2)); q.processAllAvailable()
        val got = spark.table(name).as[EmbedPairRow].collect()
          .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
        assert(got == batch, s"hier=$hier got: $got")
      } finally q.stop()
    }
  }

  test("hierStreamIndex: distributed construction equals the driver snapshot; stream runs through it") {
    // the megacell entry: same stride, same strict->/c_id-asc sup
    // assignment, same c_id-asc block order as centSnapshotHier — then a
    // fresh stream keyed through the index must reproduce batch hier
    // pairs exactly like the Seq-built path
    val planted = SimOps.plantedVectors(sf("embeddings"))
    val centsDs = planted.filter(SimOps.hashCentroidPred(4))
      .select("vec_id", "embedding").as[(Long, Seq[Float])]
    val snapSeq = centsDs.collect().toSeq
    val idx = StreamingOps.hierStreamIndex(centsDs)
    val driver = StreamingOps.centSnapshotHier(snapSeq)
    assert(idx.sups == driver.sups, "sup arrays diverged")
    val distBlocks = idx.state.collect().toMap
    assert(distBlocks.keySet == driver.blocks.keySet, "block key sets diverged")
    driver.blocks.foreach { case (sc, ms) =>
      assert(distBlocks(sc).block == ms.toList, s"block $sc diverged")
      assert(distBlocks(sc).cells.isEmpty)
    }
    val rows = planted.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStreamHier(input.toDS(), idx, 4000, 0)
      .writeStream.format("memory").queryName("cellndphidx").outputMode("update").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      Seq(b1, b2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("cellndphidx").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      val batch = SimOps.cellNearDupPairs(planted,
        centroidPred = SimOps.hashCentroidPred(4), maxCell = 0, hier = true)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch, s"stream ${streamed.size} vs batch ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("recellRegistryHier: resumed two-level stream equals fresh hier batch for new arrivals") {
    // the offline re-centroid contract under sc-keyed two-level state —
    // registry cogrouped with the distributed blocks, stream resumed:
    // emitted = uncapped hier batch pairs of full corpus minus registry's
    val all = SimOps.plantedVectors(sf("embeddings"))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      .sortBy { case (id, _) => (id * 2654435761L) % 1000003L }
      .map { case (id, e) => EmbedItem(id, e) }
    val (oldItems, newItems) = all.splitAt(all.length / 2)
    val registry = spark.createDataset(oldItems.toIndexedSeq)
    val snap = registry.toDF().filter(SimOps.hashCentroidPred(16))
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toSeq
    assert(snap.nonEmpty, "fixture must yield registry centroids")
    val snapIds = snap.map(_._1)
    val init = StreamingOps.recellRegistryHier(registry, snap)
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.cellNearDupStreamHier(input.toDS(), snap,
      initialState = Some(init))
      .writeStream.format("memory").queryName("recellh").outputMode("update").start()
    try {
      val (b1, b2) = newItems.splitAt(newItems.length / 2)
      Seq(b1, b2).foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
      val streamed = spark.table("recellh").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b, p.cos_bp)).toSet
      def batch(items: Seq[EmbedItem]) =
        SimOps.cellNearDupPairs(spark.createDataset(items.toIndexedSeq).toDF(),
          centroidPred = col("vec_id").isin(snapIds: _*), maxCell = 0, hier = true)
          .as[(Long, Long, Long)].collect().toSet
      val expected = batch(all.toSeq) -- batch(oldItems.toSeq)
      assert(streamed == expected,
        s"stream ${streamed.size} vs full-minus-old ${expected.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("embedNearDupStream capped-mode delta: arrival-order cap vs the batch id-rank cap") {
    // the family's documented delta pinned to exact pairs: one bucket
    // (all components non-negative -> bucket 15 at bits=4), three distinct
    // pairwise-similar vectors, cap 2, arrival order 3, 2, 1 (one
    // micro-batch each — the stream sorts WITHIN a batch by id).
    //   stream: 3 founds, 2 pairs with 3 and founds, 1 arrives over cap ->
    //           frozen registry entry, never cross-pairs -> {(2,3)}
    //   batch:  id-rank cap keeps the LOWEST ids {1,2}      -> {(1,2)}
    // so the two cap disciplines agree on the pair COUNT but differ in
    // which ids survive: earliest arrivals vs lowest ids; (1,3) is found
    // by neither.
    val e1 = Seq(1f, 0f, 0f, 0f)
    val e2 = Seq(1f, 0.05f, 0f, 0f)
    val e3 = Seq(1f, 0f, 0.05f, 0f)
    val input = MemoryStream[EmbedItem]
    val q = StreamingOps.embedNearDupStream(input.toDS(), maxBucket = 2)
      .writeStream.format("memory").queryName("capdelta").outputMode("update").start()
    try {
      Seq(EmbedItem(3L, e3), EmbedItem(2L, e2), EmbedItem(1L, e1)).foreach { it =>
        input.addData(it); q.processAllAvailable()
      }
      val streamed = spark.table("capdelta").as[EmbedPairRow].collect()
        .map(p => (p.id_a, p.id_b)).toSet
      val batch = SimOps.nearDupPairs(
        Seq((1L, e1), (2L, e2), (3L, e3)).toDF("vec_id", "embedding"),
        maxBucket = 2).as[(Long, Long, Long)].collect().map(p => (p._1, p._2)).toSet
      assert(streamed == Set((2L, 3L)), s"streamed: $streamed")
      assert(batch == Set((1L, 2L)), s"batch: $batch")
      assert((streamed & batch).isEmpty,
        "delta must be total: no shared pair under this fixture")
    } finally q.stop()
  }

  test("phashPairsStream: group founded past the band-0 cap still emits exact-dup pairs") {
    // cap=2; hashes hA/hB fill the shared band-0 bucket first, then hC
    // lands in the SAME band-0 bucket over cap. r12 dropped hC's group
    // entirely there (its exact duplicate at id 11 then paired nowhere —
    // all bands saturated the same way); the frozen-group fix records hC
    // in band 0 so (10, 11, 0) still emits, while hC never cross-pairs.
    // hA/hB/hC share bands 0-6 (each shared bucket is at cap=2 once
    // hA+hB land); band 7 is distinct for all three, so band-7 buckets
    // are singletons. hC sits at hamming 1 from hA and 3 from hB — both
    // within maxDist=4 — so ANY bucket that let the frozen group
    // cross-pair would emit a (·, 10, ·) pair.
    val hA = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)
    val hB = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 8L)
    val hC = Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 6L)
    val input = MemoryStream[PhashItem]
    val q = StreamingOps.phashPairsStream(input.toDS(), maxDist = 4, maxBucket = 2)
      .writeStream.format("memory").queryName("phashfrozen").outputMode("update").start()
    try {
      input.addData(PhashItem(0L, hA), PhashItem(1L, hB))
      q.processAllAvailable()
      input.addData(PhashItem(10L, hC)) // founds FROZEN in band 0 (cap reached)
      q.processAllAvailable()
      input.addData(PhashItem(11L, hC)) // exact duplicate of the frozen group
      q.processAllAvailable()
      val got = spark.table("phashfrozen")
        .as[PhashPairRow].collect().map(p => (p.id_a, p.id_b, p.hamming)).toSet
      // exactly: the in-cap hA-hB cross pair and the frozen group's
      // exact-dup pair — no cross pair touches the frozen group
      assert(got == Set((0L, 1L, 4L), (10L, 11L, 0L)), s"got: $got")
    } finally q.stop()
  }

  /** Feeds `batches` through a streaming operator one micro-batch at a
    * time and returns the rows each micro-batch emitted, in batch order.
    */
  private def emittedPerBatch[E: org.apache.spark.sql.Encoder, R](
      op: org.apache.spark.sql.Dataset[E] => org.apache.spark.sql.Dataset[R],
      batches: Seq[Seq[E]]): Seq[Seq[R]] = {
    val input = MemoryStream[E]
    val rows = scala.collection.mutable.ArrayBuffer.empty[R]
    val q = op(input.toDS()).writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[R], _: Long) =>
        val got = df.collect()
        rows.synchronized(rows ++= got): Unit
      }
      .outputMode("update").start()
    try batches.map { b =>
      val before = rows.synchronized(rows.length)
      input.addData(b)
      q.processAllAvailable()
      rows.synchronized(rows.drop(before).toSeq)
    } finally q.stop()
  }

  /** The four streaming forget operators behind one signature:
    * (cap, micro-batches of (op, id, content label)) → the (id_a, id_b)
    * pairs each micro-batch emitted. Labels a–d name four distinct
    * contents, each near every other:
    *  - phash: hashes sharing bands 0–6, band 7 = 7/8/6/9 (Hamming ≤ 4);
    *  - minhash: one sentence with a different last word, picked so that
    *    signature bands 1–3 are shared by all four and band 0 differs
    *    for each (any bucket holding c or d also holds a and b);
    *  - embed and cell: 4-d vectors in one sign bucket and one cell,
    *    pairwise cosine ≥ 0.99.
    */
  private lazy val forgetOps: Seq[(String, (Int, Seq[Seq[(String, Long, Char)]]) => Seq[Set[(Long, Long)]])] = {
    import graft.streaming.EmbedForgetEvent
    val hash = Map('a' -> 7L, 'b' -> 8L, 'c' -> 6L, 'd' -> 9L)
      .map { case (l, last) => l -> ((0L to 6L) :+ last) }
    val text = Map('a' -> "bravo", 'b' -> "charlie", 'c' -> "delta", 'd' -> "whiskey")
      .map { case (l, w) => l -> s"the takedown request names a photo of the old harbour at dusk $w" }
    val vec = Map('a' -> Seq(1f, 0f, 0f, 0f), 'b' -> Seq(1f, 0.05f, 0f, 0f),
      'c' -> Seq(1f, 0f, 0.05f, 0f), 'd' -> Seq(1f, 0.1f, 0f, 0f))
    def embedEvents(bs: Seq[Seq[(String, Long, Char)]]) =
      bs.map(_.map { case (op, id, l) => EmbedForgetEvent(op, id, vec(l)) })
    def embedPairs(rows: Seq[Seq[EmbedPairRow]]) = rows.map(_.map(p => (p.id_a, p.id_b)).toSet)
    Seq(
      "phashPairsForgetStream" -> { (cap: Int, bs: Seq[Seq[(String, Long, Char)]]) =>
        emittedPerBatch[PhashForgetEvent, PhashPairRow](
          StreamingOps.phashPairsForgetStream(_, maxBucket = cap),
          bs.map(_.map { case (op, id, l) => PhashForgetEvent(op, id, hash(l)) }))
          .map(_.map(p => (p.id_a, p.id_b)).toSet)
      },
      "minhashPairsForgetStream" -> { (cap: Int, bs: Seq[Seq[(String, Long, Char)]]) =>
        emittedPerBatch[ForgetEvent, MinhashPairRow](
          StreamingOps.minhashPairsForgetStream(_, maxBucket = cap),
          bs.map(_.map { case (op, id, l) => ForgetEvent(op, id, text(l)) }))
          .map(_.map(p => (p.id_a, p.id_b)).toSet)
      },
      "embedForgetStream" -> { (cap: Int, bs: Seq[Seq[(String, Long, Char)]]) =>
        embedPairs(emittedPerBatch[EmbedForgetEvent, EmbedPairRow](
          StreamingOps.embedForgetStream(_, maxBucket = cap), embedEvents(bs)))
      },
      "cellForgetStream" -> { (cap: Int, bs: Seq[Seq[(String, Long, Char)]]) =>
        embedPairs(emittedPerBatch[EmbedForgetEvent, EmbedPairRow](
          StreamingOps.cellForgetStream(_, Seq((0L, Seq(1f, 1f, 1f, 1f))), maxCell = cap),
          embedEvents(bs)))
      })
  }

  test("forget operators: a capped takedown frees its slot; the frozen group still never pairs") {
    // cap 2: a and b found the two unfrozen groups and pair; c, near
    // both, arrives over the cap and is recorded frozen, emitting no
    // pair. Forgetting a purges its group and frees a slot, so d, near
    // b and c, founds an unfrozen group and pairs with b alone. Without
    // the forget d is over the cap and pairs with no one.
    forgetOps.foreach { case (name, run) =>
      val ab = Seq(("ingest", 1L, 'a'), ("ingest", 2L, 'b'))
      val c = Seq(("ingest", 3L, 'c'))
      val d = Seq(("ingest", 4L, 'd'))
      val forgot = run(2, Seq(ab, c, Seq(("forget", 1L, 'a')), d))
      assert(forgot == Seq(Set((1L, 2L)), Set(), Set(), Set((2L, 4L))), s"$name: $forgot")
      val control = run(2, Seq(ab, c, d))
      assert(control == Seq(Set((1L, 2L)), Set(), Set()), s"$name without the forget: $control")
      // the slot is free within the takedown's own micro-batch too (the
      // batch applies id-ascending: forget 1 before ingest 4)
      val sameBatch = run(2, Seq(ab, c, Seq(("forget", 1L, 'a'), ("ingest", 4L, 'd'))))
      assert(sameBatch == Seq(Set((1L, 2L)), Set(), Set((2L, 4L))), s"$name same batch: $sameBatch")
    }
  }

  test("forget operators: same-batch ingest+forget of one id — the takedown wins") {
    forgetOps.foreach { case (name, run) =>
      val got = run(0, Seq(
        // listed forget-first: the batch applies in (id, ingest-before-
        // forget) order, so id 1 ends forgotten whatever the arrival order
        Seq(("forget", 1L, 'a'), ("ingest", 1L, 'a')),
        // an exact duplicate of the forgotten content founds a new group
        Seq(("ingest", 2L, 'a')),
        // a second ingest of the live id 2 does nothing
        Seq(("ingest", 2L, 'a')),
        // a third copy pairs with 2 only: 1 is not a member
        Seq(("ingest", 3L, 'a'))))
      assert(got == Seq(Set(), Set(), Set(), Set((2L, 3L))), s"$name: $got")
    }
  }

  test("phashPairsStream: exact multiplicities — hamming-0 pairs once, near pairs once per shared band") {
    import graft.operators.{MediaRow, MultimodalOps}
    val docs = (0 until 24).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val media = MultimodalOps.plantPhashCorpus(MultimodalOps.asMedia(docs))
    val planted = MultimodalOps.phashBands(media.as[MediaRow])
      .collect().map(p => PhashItem(p.media_id, p.bands)).sortBy(_.media_id).toSeq
    // plus an exact copy of the first item, so hamming-0 pairs exist
    val items = planted :+ PhashItem(planted.map(_.media_id).max + 1L, planted.head.bands)
    val (b1, b2) = items.splitAt(10)
    val got = emittedPerBatch[PhashItem, PhashPairRow](
      StreamingOps.phashPairsStream(_, maxDist = 6), Seq(b1, b2)).flatten
      .groupBy(p => (p.id_a, p.id_b, p.hamming)).map { case (k, v) => k -> v.length }
    val expected = (for {
      i <- items.indices; j <- (i + 1) until items.length
      a = items(i); b = items(j)
      d = a.bands.zip(b.bands).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
      if d <= 6
      shared = a.bands.zip(b.bands).count { case (x, y) => x == y }
    } yield (math.min(a.media_id, b.media_id), math.max(a.media_id, b.media_id), d) ->
      (if (d == 0) 1 else shared)).toMap
    assert(expected.keys.exists(_._3 == 0) && expected.keys.exists(_._3 > 0))
    assert(got == expected, s"stream ${got.size} vs brute force ${expected.size}")
  }

  test("near-dup registry state schemas are pinned: a change breaks checkpoint resume") {
    import org.apache.spark.sql.Encoders
    import graft.streaming.{EmbedBucket, HierCellState, MinhashBucket, PhashBucket}
    val bandGroups = "{\"type\":\"struct\",\"fields\":[{\"name\":\"groups\",\"type\":{\"type\":\"array\",\"elementType\":{\"type\":\"struct\",\"fields\":[{\"name\":\"_1\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_2\",\"type\":{\"type\":\"array\",\"elementType\":\"long\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_3\",\"type\":{\"type\":\"array\",\"elementType\":\"long\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_4\",\"type\":\"boolean\",\"nullable\":false,\"metadata\":{}}]},\"containsNull\":true},\"nullable\":true,\"metadata\":{}}]}"
    assert(Encoders.product[PhashBucket].schema.json == bandGroups)
    assert(Encoders.product[MinhashBucket].schema.json == bandGroups)
    assert(Encoders.product[EmbedBucket].schema.json == "{\"type\":\"struct\",\"fields\":[{\"name\":\"groups\",\"type\":{\"type\":\"array\",\"elementType\":{\"type\":\"struct\",\"fields\":[{\"name\":\"_1\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_2\",\"type\":{\"type\":\"array\",\"elementType\":\"float\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_3\",\"type\":\"double\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_4\",\"type\":{\"type\":\"array\",\"elementType\":\"long\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_5\",\"type\":\"boolean\",\"nullable\":false,\"metadata\":{}}]},\"containsNull\":true},\"nullable\":true,\"metadata\":{}}]}")
    assert(Encoders.product[HierCellState].schema.json == "{\"type\":\"struct\",\"fields\":[{\"name\":\"block\",\"type\":{\"type\":\"array\",\"elementType\":{\"type\":\"struct\",\"fields\":[{\"name\":\"_1\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_2\",\"type\":{\"type\":\"array\",\"elementType\":\"float\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_3\",\"type\":\"double\",\"nullable\":false,\"metadata\":{}}]},\"containsNull\":true},\"nullable\":true,\"metadata\":{}},{\"name\":\"cells\",\"type\":{\"type\":\"array\",\"elementType\":{\"type\":\"struct\",\"fields\":[{\"name\":\"_1\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_2\",\"type\":{\"type\":\"struct\",\"fields\":[{\"name\":\"groups\",\"type\":{\"type\":\"array\",\"elementType\":{\"type\":\"struct\",\"fields\":[{\"name\":\"_1\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_2\",\"type\":{\"type\":\"array\",\"elementType\":\"float\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_3\",\"type\":\"double\",\"nullable\":false,\"metadata\":{}},{\"name\":\"_4\",\"type\":{\"type\":\"array\",\"elementType\":\"long\",\"containsNull\":false},\"nullable\":true,\"metadata\":{}},{\"name\":\"_5\",\"type\":\"boolean\",\"nullable\":false,\"metadata\":{}}]},\"containsNull\":true},\"nullable\":true,\"metadata\":{}}]},\"nullable\":true,\"metadata\":{}}]},\"containsNull\":true},\"nullable\":true,\"metadata\":{}}]}")
  }
}
