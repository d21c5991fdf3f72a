package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — the driver's per-round BENCH_r{N}.json source.
  *
  * Executes every declared query with a `noop`-format write (NOT `count()`:
  * Catalyst's `EliminateSorts` removes an `orderBy` under an aggregate, so a
  * count-based harness would skip the very sorts this engine exists to
  * measure — the full physical plan, range shuffle + sort included, only runs
  * when every row is consumed by a sink). A warm-up pass at sf0.001 absorbs
  * JVM/codegen warm-up so the first timed query isn't charged ~7 s of JIT.
  * Failures are never swallowed: a failed query reports `-1` and the error
  * goes to stderr.
  *
  * TWO PROTOCOLS in one artifact:
  *
  *  - "suite": every declared query back-to-back in ONE session — the
  *    end-to-end number, interference (GC pressure, broadcast cleanup,
  *    shared-JVM contention) included. Fast, but round-over-round deltas
  *    on individual queries are polluted by whatever else the suite grew.
  *  - "solo": each query in a FRESH SparkContext (same JVM — which is what
  *    a warm executor reuse looks like on a cluster anyway; JIT state
  *    persists, Spark-side state does not). No caches, no broadcasts, no
  *    accumulated session debris from other queries. Round-over-round
  *    per-query comparisons should cite SOLO numbers; the suite total
  *    remains the workload-level number.
  *
  * By default the suite runs in full and the `SPARK_GRAFT_BENCH_SOLO`
  * heaviest queries (default 12, by suite time; "all" for a full sweep,
  * "none"/"0" to skip) re-run solo — bounding the added wall-clock while
  * covering exactly the queries whose regressions matter.
  *
  * LOAD GATE: each pass estimates the box's EXTERNAL load (mean sampled
  * loadavg minus this JVM's own measured core usage); a pass above
  * `SPARK_GRAFT_BENCH_LOAD_BOUND` (default 4) is contended, and if every
  * pass is, up to `SPARK_GRAFT_BENCH_LOAD_RETRIES` (default 2) extra
  * passes chase a clean one. Per-query mins come from clean passes when
  * any exist; otherwise the artifact carries `"contended": true`. Solo
  * re-runs are gated the same way (500 ms sampling — their sections are
  * seconds, not minutes), each row carrying its own estimate + flag; an
  * estimate needs ≥ 2 samples or it reports unmeasurable (-1, warned).
  *
  * IN-JVM GATE (r17: the committed closing run carried 28-34 GB pass
  * peak heaps — a 5x inherited-JVM signature its own solo rows
  * contradicted — yet read contended:false): a pass whose own GC seconds
  * exceed `SPARK_GRAFT_BENCH_GC_BOUND` (default 30) or whose peak heap
  * exceeds `SPARK_GRAFT_BENCH_HEAP_BOUND_MB` (default 20000, ~3x the
  * clean-box closing profile) is contended exactly like an external-load
  * pass; the retry after a JVM-contended pass rebuilds the SparkSession
  * first. The artifact records per-pass flags + both bounds.
  *
  * SELF-CLEANING (r18: the gate above DETECTED the driver's official run
  * as contended — inherited-JVM heap 24-35 GB from whatever ran
  * correctness first — but the artifact of record still documented a
  * polluted JVM): `main` now inspects the JVM it woke up in, and when it
  * is not the clean calibration profile (max heap beyond
  * `SPARK_GRAFT_BENCH_FORK_MAXHEAP_MB`, default 12288, or post-GC used
  * heap already beyond `SPARK_GRAFT_BENCH_FORK_USED_MB`, default 4096 —
  * a fresh 8 GB bench JVM starts under 1 GB), it RELAUNCHES itself in a
  * fresh child JVM sized to the clean profile (`-Xmx$SPARK_DRIVER_MEM`,
  * default 8g, same module opens as build.sbt) and relays the child's
  * stdout/artifact/exit code. `SPARK_GRAFT_BENCH_FORK` = auto (default)
  * | always | never; the artifact records `forked_fresh`. An
  * sbt-forked closing run skips the fork (it IS the clean profile); a
  * driver run inheriting a correctness JVM cannot produce a contended
  * official artifact anymore — the measurement never runs in that JVM.
  *
  * TIMEOUT-PROOFING (r19: the driver's official run hit its external time
  * budget — rc 124 — and because the artifact was written only at the very
  * END and the compact line printed only after all passes + solos, the
  * round's artifact of record was `parsed: null`; the retry ladder could
  * even GROW the run under contention, exactly when the box is slow).
  * Four mechanisms, layered so ANY termination leaves a parseable record:
  *
  *  1. DEADLINE (`SPARK_GRAFT_BENCH_DEADLINE_SEC`, default 2400): a
  *     wall-clock budget measured from `main` entry. Every optional
  *     section — passes after the first, contention retries, each solo —
  *     is SKIPPED when its estimated cost (last pass's wall; 3x suite
  *     time + 15 s per solo) exceeds the remaining budget. The protocol
  *     only ever SHRINKS under deadline pressure, never extends; the
  *     artifact records `deadline_sec`, `deadline_hit`, `solo_skipped`.
  *     The self-fork forwards the REMAINING budget to the child.
  *  2. INCREMENTAL ARTIFACT: `bench_full.json` is (re)written after every
  *     completed pass and every solo, not only at the end — a killed run
  *     leaves the artifact of its last completed section on disk.
  *  3. SIGTERM FLUSH: a shutdown hook writes the artifact + prints the
  *     compact stdout line from whatever completed (including the
  *     in-flight pass's per-query results) when the JVM dies before the
  *     normal finish. The self-fork parent relays SIGTERM to the child
  *     (destroy → SIGTERM on Linux) and waits a bounded window so the
  *     child's own hook can land its artifact.
  *  4. WATCHDOG: a daemon thread that fires at deadline+30 s — if the
  *     main thread is WEDGED inside one long Spark job (where no
  *     per-section check runs), it flushes the artifact + compact line
  *     itself without waiting for the external kill.
  *
  * STDOUT: the budget-sized compact `{"metric":"total",...}` line is
  * (re)printed after EVERY completed pass and solo — not only at the end —
  * because the SIGTERM delivery race (sbt's stdout relay can die before a
  * shutdown hook's println crosses the pipe; observed in the r20 kill
  * test) means a single final line can be lost exactly when it matters.
  * The driver's 2,000-char tail therefore contains a recent
  * standalone-parseable result line no matter when a kill lands, and on a
  * normal finish the final compact line is still the last stdout write.
  * Harness log spam (the benign MapPartitionsRDD localCheckpoint WARNs
  * that filled the driver's whole 2000-char tail in r19) is silenced via
  * [[GraftSession.quietHarnessLogs]].
  */
object Bench {

  /** build.sbt's jdk17AddOpens, duplicated for self-relaunch — Spark 4.x
    * on JDK 17 needs them when SparkSession is created outside
    * spark-submit.
    */
  private val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Relaunch the bench in a fresh clean-profile JVM when this one is
    * polluted (or always/never per SPARK_GRAFT_BENCH_FORK). Returns the
    * child's exit code, or None when no fork is needed.
    *
    * `remainingDeadlineSec` is the parent's unspent wall-clock budget at
    * fork time — it becomes the child's whole budget (the parent's JVM
    * startup seconds are already gone from the external clock).
    */
  private def relaunchFresh(remainingDeadlineSec: Double): Option[Int] = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK", "auto")
    if (mode == "never") return None
    def polluted: Boolean = {
      System.gc()
      val rt = Runtime.getRuntime
      val usedMb = (rt.totalMemory - rt.freeMemory) >> 20
      val maxMb = rt.maxMemory >> 20
      val maxBound =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK_MAXHEAP_MB", "12288").toLong
      val usedBound =
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FORK_USED_MB", "4096").toLong
      val p = maxMb > maxBound || usedMb > usedBound
      if (p) System.err.println(s"[bench] JVM not the clean profile " +
        s"(maxHeap ${maxMb} MB, post-GC used ${usedMb} MB) — relaunching fresh")
      p
    }
    if (mode != "always" && !polluted) return None
    val javaBin = java.nio.file.Paths
      .get(System.getProperty("java.home"), "bin", "java").toString
    // ADVICE r19: forward EVERY spark.* system property set on this
    // driver JVM, not just two hardcoded ones — env vars survive the
    // fork automatically, -D config silently did not.
    val sparkProps = sys.props.toSeq.sortBy(_._1).collect {
      case (k, v) if k.startsWith("spark.") => s"-D$k=$v"
    }
    val defaults = Seq(
      "spark.ui.enabled=false", "spark.sql.session.timeZone=UTC")
      .filterNot(d => sys.props.contains(d.takeWhile(_ != '=')))
      .map("-D" + _)
    val cmd = Seq(javaBin) ++ jdk17AddOpens ++ defaults ++ sparkProps ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
      "-cp", System.getProperty("java.class.path"),
      "graft.Bench")
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_FORK", "never") // recursion guard
    pb.environment().put("SPARK_GRAFT_BENCH_FORKED", "1")   // artifact marker
    // the child's deadline is what's LEFT of the parent's budget
    pb.environment().put("SPARK_GRAFT_BENCH_DEADLINE_SEC",
      math.max(60L, remainingDeadlineSec.round).toString)
    pb.inheritIO()
    val proc = pb.start()
    // SIGTERM relay: when the driver's timeout kills THIS JVM, destroy()
    // the child (SIGTERM on Linux) so the CHILD's flush hook can land the
    // artifact + compact line, and hold the parent open briefly for it.
    val relay = new Thread(() => {
      if (proc.isAlive) {
        proc.destroy()
        proc.waitFor(12, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    }, "bench-child-sigterm-relay")
    Runtime.getRuntime.addShutdownHook(relay)
    val code = proc.waitFor()
    try Runtime.getRuntime.removeShutdownHook(relay)
    catch { case _: IllegalStateException => () } // already shutting down
    Some(code)
  }

  private def execute(
      spark: SparkSession, name: String, dir: String): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        Left(e.getClass.getSimpleName)
    }
  }

  private def minOf(
      a: Either[String, Double], b: Either[String, Double]): Either[String, Double] =
    (a, b) match {
      case (Right(x), Right(y)) => Right(math.min(x, y))
      case (Left(e), _) => Left(e)
      case (_, Left(e)) => Left(e)
    }

  def main(args: Array[String]): Unit = {
    val t0Main = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - t0Main) / 1e9
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "2400").toDouble
    // budget reserved for the final artifact write + session stop
    val reserveSec = 20.0
    def remainingSec: Double = deadlineSec - reserveSec - elapsedSec

    relaunchFresh(deadlineSec - elapsedSec).foreach { code =>
      // the child produced the official line + artifact; propagate only
      // failure (callers that continue after Bench.main keep running)
      if (code != 0) sys.exit(code)
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def newSession(): SparkSession = GraftSession.harness("graft")
    var spark = newSession()

    // optional comma-separated subset for isolated profiling runs; the
    // driver sets no filter and measures everything
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // Flush accumulated session debris OUTSIDE timed sections: the
    // warm-up pass leaves thousands of weak-referenced broadcasts/shuffles
    // whose ContextCleaner reclamation otherwise fires mid-measurement —
    // observed as a wandering ~16x spike on whichever heavy query the
    // first post-warm-up GC lands on (r9: q_label_prop 64.8 s vs 3.5 solo;
    // r10 pre-fix: q_pack_bpe 107.9 s vs 6.6 on pass 2).
    def settle(): Unit = { System.gc(); Thread.sleep(2000); System.gc() }

    // ----- shared mutable state (guarded by `lock`) so the flush hook /
    // watchdog can snapshot a consistent artifact at ANY moment -----
    val lock = new Object
    val passRowsB =
      scala.collection.mutable.ArrayBuffer.empty[Map[String, Either[String, Double]]]
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val passExternal = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passGcSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passPeakHeapMb = scala.collection.mutable.ArrayBuffer.empty[Long]
    val passWallSec = scala.collection.mutable.ArrayBuffer.empty[Double]
    // per-query results of the IN-FLIGHT pass — concurrent so the flush
    // hook can read mid-pass without waiting on the measurement thread
    val inflight =
      new java.util.concurrent.ConcurrentHashMap[String, Either[String, Double]]()
    val soloRes =
      scala.collection.mutable.LinkedHashMap.empty[String, Either[String, Double]]
    val soloExternal = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val soloContended = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    val soloGcSec = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val soloSkipped = scala.collection.mutable.ArrayBuffer.empty[String]
    @volatile var deadlineHit = false
    @volatile var warmupDone = 0
    val flushedFinal = new java.util.concurrent.atomic.AtomicBoolean(false)

    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(2)
    // host-contention discriminator: 1-minute system load average sampled
    // at each pass's start and end, recorded in the artifact — the r10/
    // r12/r13 whole-run contention signature (uniform suite inflation with
    // no code change) becomes mechanically separable from a plan
    // regression (which moves one query, not the box)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg(): Double = math.rint(osBean.getSystemLoadAverage * 100) / 100
    // Our own suite drives loadavg toward the cpu count (r14 committed
    // closing passes read 17/14 at pass end on an otherwise-IDLE box), so
    // raw loadavg cannot gate a pass. EXTERNAL load can: sample loadavg
    // every 2 s DURING the pass and subtract the cores this JVM actually
    // consumed (Δ getProcessCpuTime / wall) — on an idle box the two
    // track and the difference sits near 0; a competing driver run shows
    // up as the gap (r14: passes at load ~30 with 32 of our threads =
    // external ≈ the other run's appetite).
    def processCpuNs(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    // Reusable external-load estimator: samples loadavg every `periodMs`
    // for the lifetime of one measured section, then reports mean sampled
    // load minus this JVM's own consumed cores. FEWER THAN 2 SAMPLES is
    // unmeasurable (one sample of a 1-minute EWMA says nothing about the
    // section) — reported as -1 with a stderr warning, so a "clean"
    // verdict from an under-sampled section is at least visible instead
    // of silent. Solo sections (seconds, not minutes) sample at 500 ms.
    final class LoadSampler(periodMs: Long) {
      private val samples =
        new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      @volatile private var sampling = true
      private val cpu0 = processCpuNs()
      private val w0 = System.nanoTime()
      private val th = new Thread(() => {
        while (sampling) {
          val l = osBean.getSystemLoadAverage
          if (l >= 0) samples.add(l)
          Thread.sleep(periodMs)
        }
      }, "bench-load-sampler")
      th.setDaemon(true)
      th.start()
      /** external-load estimate, -1 when unmeasurable (warned). */
      def stop(tag: String): Double = {
        sampling = false
        th.join(3000)
        val wall = (System.nanoTime() - w0) / 1e9
        val ownCores =
          if (cpu0 >= 0) (processCpuNs() - cpu0) / 1e9 / wall else -1.0
        var s = 0.0; var k = 0
        val it = samples.iterator()
        while (it.hasNext) { s += it.next(); k += 1 }
        if (k < 2 || ownCores < 0) {
          System.err.println(s"[bench] $tag external load UNMEASURABLE " +
            s"($k samples, ownCores=$ownCores) — treated as clean")
          -1.0
        } else math.rint(math.max(0.0, s / k - ownCores) * 100) / 100
      }
    }
    // IN-JVM stall eyes (r16 verdict: the load gate measures EXTERNAL load
    // only and was blind to the r9-class GC ghost — q_label_prop's 139.7 s
    // pass-1 on an externally-CLEAN pass). Per measured section record the
    // JVM's own GC time (GarbageCollectorMXBean collection-time delta) and
    // the peak heap reached (MemoryPoolMXBean peak usage, reset at section
    // start) so a pass inflated from INSIDE the JVM is attributable
    // mechanically: high gc_sec with flat external load = GC ghost, not a
    // plan regression and not a neighbor.
    import scala.jdk.CollectionConverters._
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcTimeMs(): Long =
      gcBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetHeapPeaks(): Unit =
      heapPools.foreach(p => if (p.isValid) p.resetPeakUsage())
    def peakHeapMb(): Long =
      heapPools.map(p => if (p.isValid) p.getPeakUsage.getUsed else 0L).sum >> 20
    final class GcMeter {
      private val gc0 = gcTimeMs()
      resetHeapPeaks()
      /** (gc seconds in section, peak heap MiB in section) */
      def stop(): (Double, Long) =
        (math.rint((gcTimeMs() - gc0) / 10.0) / 100.0, peakHeapMb())
    }

    val loadBound = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_BOUND", "4.0").toDouble
    val maxExtra = sys.env.getOrElse("SPARK_GRAFT_BENCH_LOAD_RETRIES", "2").toInt
    val gcBound = sys.env.getOrElse("SPARK_GRAFT_BENCH_GC_BOUND", "30.0").toDouble
    val heapBound = sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAP_BOUND_MB", "20000").toLong
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val mode = if (only.isDefined) "subset" else "suite"

    // ----- artifact builder: safe to call at ANY moment (hook/watchdog);
    // snapshots the shared state under `lock` -----
    def laJson(x: Double): String = if (x < 0) "null" else x.toString
    def secOrNull(e: Either[String, Double]): String = e.fold(_ => "-1", _.toString)
    def fmt(kvs: Seq[(String, Either[String, Double])]): String =
      kvs.map {
        case (k, Right(v)) => s"\"$k\":$v"
        case (k, Left(_)) => s"\"$k\":-1"
      }.mkString("{", ",", "}")
    /** (compact stdout line, full artifact json) from the current state. */
    def buildArtifact(flushReason: Option[String]): (String, String) =
      lock.synchronized {
        val passes = passRowsB.toSeq
        def jvmCont(i: Int): Boolean =
          passGcSec(i) > gcBound || passPeakHeapMb(i) > heapBound
        def cont(i: Int): Boolean = passExternal(i) > loadBound || jvmCont(i)
        val cleanIdx = passes.indices.filterNot(cont)
        val allContended = passes.nonEmpty && cleanIdx.isEmpty
        val minIdx =
          if (passes.isEmpty) Seq.empty[Int]
          else if (cleanIdx.isEmpty) passes.indices
          else cleanIdx
        val inflightMap = inflight.asScala.toMap
        // per-query results: min over clean complete passes; before the
        // first pass completes, the in-flight pass's finished queries are
        // the only (partial) data and the artifact says so
        val partialOnly = passes.isEmpty
        val results: Seq[(String, Either[String, Double])] =
          if (!partialOnly)
            names.map(n => n -> minIdx.map(i => passes(i)(n)).reduce(minOf))
          else names.flatMap(n => inflightMap.get(n).map(n -> _))
        val solo = soloRes.toSeq
        val failed =
          (results ++ solo).collect { case (k, Left(err)) => s"\"$k\":\"$err\"" }
        val total = results.collect { case (_, Right(v)) => v }.sum
        val protocol =
          if (partialOnly) s"partial-pass-1-${results.size}-of-${names.size}-queries"
          else s"min-of-${minIdx.size}-clean-of-${passes.size}"
        val errJson =
          if (failed.isEmpty) ""
          else s""","errors":${failed.distinct.mkString("{", ",", "}")}"""
        val soloJson = if (solo.isEmpty) "" else s""","solo":${fmt(solo)}"""
        // STDOUT CONTRACT: the driver keeps only the last ~2000 chars of
        // stdout and json-parses them — but 180 query NAMES alone exceed
        // 2000 chars, so a full per-query map can never survive the window
        // (r11's BENCH artifact landed as an unparseable tail-string).
        // ONE compact line, sized under the window: headline total + the
        // heaviest queries (3-decimal secs, every failure always included)
        // greedily filled to budget; the complete map/passes/solo live in
        // the on-disk artifact named by the line's "artifact" field.
        val budget = 1900
        val flushJson = flushReason.map(r => s""""flush":"$r",""").getOrElse("")
        val compactHead =
          s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},""" +
            s""""unit":"sec","protocol":"$protocol","n_queries":${names.size},""" +
            s""""n_measured":${results.size},""" +
            s""""n_failed":${failed.distinct.size},"contended":$allContended,""" +
            s""""deadline_hit":$deadlineHit,$flushJson""" +
            s""""elapsed_sec":${math.rint(elapsedSec * 10) / 10},""" +
            s""""artifact":"$outFile","sf":"$sfDir","queries":{"""
        val ranked =
          results.collect { case (k, Left(_)) => s"\"$k\":-1" } ++
            results.collect { case (k, Right(v)) => (k, v) }
              .sortBy { case (k, v) => (-v, k) }
              .map { case (k, v) => s"\"$k\":${math.rint(v * 1000) / 1000}" }
        val kept = scala.collection.mutable.ArrayBuffer.empty[String]
        var used = compactHead.length + 3 // closing "}}" + newline headroom
        for (e <- ranked if used + e.length + 1 <= budget) {
          kept += e; used += e.length + 1
        }
        val compact = compactHead + kept.mkString(",") + "}}"
        // PROTOCOL (the single source of claimed numbers): the on-disk
        // artifact records ALL raw passes next to the min, plus the run
        // mode — "suite" (every declared query, interference included) vs
        // "subset" (SPARK_GRAFT_BENCH_ONLY, the solo protocol) — and, when
        // solo re-runs ran, their min beside the suite numbers. Any number
        // quoted in a commit message or doc must cite this artifact, mode
        // included; a solo number and a suite number are DIFFERENT
        // measurements and the artifact keeps them distinguishable.
        val passesJson = names
          .filter(n => passes.headOption.exists(_.contains(n)))
          .map(n => s""""$n":[${passes.map(p => secOrNull(p(n))).mkString(",")}]""")
          .mkString("{", ",", "}")
        val loadJson = passLoads
          .map { case (a, b) => s"[${laJson(a)},${laJson(b)}]" }
          .mkString("[", ",", "]")
        val extJson = passExternal.map(laJson).mkString("[", ",", "]")
        val contJson = passes.indices.map(cont).mkString("[", ",", "]")
        val soloExtJson =
          if (solo.isEmpty) ""
          else soloExternal.map { case (k, v) => s""""$k":${laJson(v)}""" }
            .mkString(""","solo_external_load":{""", ",", "}") +
            soloContended.map { case (k, v) => s""""$k":$v""" }
              .mkString(""","solo_contended":{""", ",", "}") +
            soloGcSec.map { case (k, v) => s""""$k":$v""" }
              .mkString(""","solo_gc_sec":{""", ",", "}")
        val gcJson = passGcSec.mkString("[", ",", "]")
        val peakJson = passPeakHeapMb.mkString("[", ",", "]")
        val wallJson = passWallSec
          .map(w => math.rint(w * 100) / 100).mkString("[", ",", "]")
        val jvmContJson = passes.indices.map(jvmCont).mkString("[", ",", "]")
        val soloSkipJson = soloSkipped.map(n => s""""$n"""").mkString("[", ",", "]")
        val inflightJson =
          if (partialOnly || inflightMap.isEmpty) ""
          else s""","inflight_pass":${fmt(
              names.flatMap(n => inflightMap.get(n).map(n -> _)))}"""
        val full =
          s"""{"metric":"total","value":$total,"unit":"sec","protocol":"$protocol","queries":${fmt(results)}$soloJson$errJson,"sf":"$sfDir"""" +
            s""","mode":"$mode",""" +
            s""""loadavg":$loadJson,"pass_external_load":$extJson,""" +
            s""""pass_gc_sec":$gcJson,"pass_peak_heap_mb":$peakJson,""" +
            s""""pass_wall_sec":$wallJson,""" +
            s""""pass_jvm_contended":$jvmContJson,""" +
            s""""gc_bound":$gcBound,"heap_bound_mb":$heapBound,""" +
            s""""pass_contended":$contJson,"load_bound":$loadBound,""" +
            s""""forked_fresh":${sys.env.contains("SPARK_GRAFT_BENCH_FORKED")},""" +
            s""""deadline_sec":$deadlineSec,"deadline_hit":$deadlineHit,""" +
            s""""elapsed_sec":${math.rint(elapsedSec * 10) / 10},""" +
            s""""warmup_done":$warmupDone,""" +
            s""""solo_skipped":$soloSkipJson,""" +
            s""""flush_reason":${flushReason.map(r => s""""$r"""").getOrElse("null")},""" +
            s""""partial":$partialOnly$inflightJson,""" +
            s""""contended":$allContended$soloExtJson,"passes":$passesJson}"""
        (compact, full)
      }
    /** Write the artifact AND print the current compact line. Called at
      * every section boundary (pass/solo complete) as well as at the end
      * and from the flush hook/watchdog: the SIGTERM delivery race (sbt's
      * stdout relay can die before a hook's println crosses the pipe —
      * observed in the r20 kill test) means the LAST stdout write cannot
      * be the only parseable one; with a budget-sized compact line after
      * every section, the driver's 2,000-char tail contains a recent
      * standalone-parseable result line no matter when a kill lands.
      */
    def flushArtifact(reason: Option[String]): Unit = {
      val (compact, full) = buildArtifact(reason)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outFile), full.getBytes("UTF-8"))
      println(compact)
      System.out.flush()
    }
    // mechanism 3: SIGTERM flush — the driver's `timeout` kill lands here
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (flushedFinal.compareAndSet(false, true)) {
        System.err.println(
          "[bench] terminated before completion — flushing partial artifact")
        try flushArtifact(Some("sigterm"))
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] flush hook failed: ${e.getMessage}")
        }
      }
    }, "bench-sigterm-flush"))
    // mechanism 4: watchdog — fires only when the main thread is wedged
    // inside one Spark job past the deadline (no per-section check runs
    // there); flushes without waiting for the external kill
    val watchdog = new Thread(() => {
      try {
        val waitMs = ((deadlineSec + 30 - elapsedSec) * 1000).toLong
        if (waitMs > 0) Thread.sleep(waitMs)
        if (!flushedFinal.get) {
          System.err.println(s"[bench] watchdog: deadline ${deadlineSec}s " +
            "exceeded with run still in flight — flushing artifact")
          deadlineHit = true
          flushArtifact(Some("watchdog"))
        }
      } catch { case _: InterruptedException => () }
    }, "bench-deadline-watchdog")
    watchdog.setDaemon(true)
    watchdog.start()

    // Warm-up at the smallest SF: JIT + codegen caches, not data volume.
    // Deadline-guarded (pathological safety): never let warm-up alone eat
    // more than 35% of the budget — a truncated warm-up costs timing
    // quality, an untruncated one can cost the whole artifact.
    val warmupCutSec = 0.35 * deadlineSec
    names.foreach { n =>
      if (elapsedSec < warmupCutSec) { execute(spark, n, "/root/testdata/sf0.001"); warmupDone += 1 }
    }
    if (warmupDone < names.size)
      System.err.println(s"[bench] warm-up truncated at $warmupDone/${names.size} " +
        s"(${math.rint(elapsedSec)}s elapsed vs ${warmupCutSec}s cut)")
    settle()
    // N timed passes (default 3), per-query MIN: single-pass numbers on a
    // shared box randomly attribute multi-second contention spikes to
    // whichever query was running; the min of N runs is the standard
    // suppression (r10 autopsy: the spikes are HOST contention — they
    // wander across queries and passes run-to-run, never reproduce in
    // subset mode, and -Xlog:gc capped every pause at 278 ms while a 42 s
    // spike landed).
    def runPass(): Boolean = {
      val la0 = loadAvg()
      val sampler = new LoadSampler(2000)
      val gc = new GcMeter
      val pw0 = System.nanoTime()
      var complete = true
      var sinceFlush = 0
      for (n <- names if complete) {
        // mid-pass deadline check: only abandon when a COMPLETE pass
        // already exists (a finished pass 1 beats a fuller partial one)
        if (passRowsB.nonEmpty && remainingSec < 0) {
          complete = false
          deadlineHit = true
          System.err.println(s"[bench] deadline hit mid-pass at $n — abandoning pass")
        } else {
          inflight.put(n, execute(spark, n, sfDir))
          // mid-pass checkpoint: pass 1 of a full suite is minutes long —
          // a kill landing inside it would otherwise leave no parseable
          // line at all; a partial compact line every 40 queries bounds
          // the loss to <40 queries of measurement
          sinceFlush += 1
          if (sinceFlush >= 40 && passRowsB.isEmpty) {
            sinceFlush = 0
            flushArtifact(None)
          }
        }
      }
      val (gcs, peak) = gc.stop()
      val ext = sampler.stop(s"suite pass ${passWallSec.size + 1}")
      val wall = (System.nanoTime() - pw0) / 1e9
      if (complete) lock.synchronized {
        passRowsB += inflight.asScala.toMap
        passGcSec += gcs
        passPeakHeapMb += peak
        passExternal += ext
        passLoads += ((la0, loadAvg()))
        passWallSec += wall
        inflight.clear()
      }
      settle()
      // mechanism 2: the artifact + a parseable stdout line survive a
      // kill after any pass
      if (complete) flushArtifact(None)
      complete
    }
    // mechanism 1: deadline gate — a pass beyond the first is skipped when
    // the last pass's wall doesn't fit the remaining budget
    def passFits: Boolean =
      passWallSec.isEmpty || remainingSec >= passWallSec.min
    var abandoned = false
    while (passRowsB.size < nPasses && !abandoned) {
      if (passRowsB.nonEmpty && !passFits) {
        deadlineHit = true
        abandoned = true
        System.err.println(s"[bench] deadline: skipping passes ${passRowsB.size + 1}..$nPasses " +
          s"(${math.rint(remainingSec)}s left < ${math.rint(passWallSec.min)}s pass)")
      } else abandoned = !runPass()
    }
    // LOAD GATE retry ladder (the r14 protocol gap) — now ALSO
    // deadline-gated: the ladder can no longer grow the run past its
    // budget, which is exactly the r19 driver-timeout mechanism (a slow
    // contended box triggering EXTRA passes)
    def jvmContendedIdx(i: Int): Boolean =
      passGcSec(i) > gcBound || passPeakHeapMb(i) > heapBound
    def contendedIdx(i: Int): Boolean =
      passExternal(i) > loadBound || jvmContendedIdx(i)
    /** Per-query results from the current state: min over clean complete
      * passes (all passes when none are clean); before the first complete
      * pass, the in-flight pass's finished queries.
      */
    def currentResults(): Seq[(String, Either[String, Double])] =
      lock.synchronized {
        val passes = passRowsB.toSeq
        if (passes.isEmpty)
          names.flatMap(n => Option(inflight.get(n)).map(n -> _))
        else {
          val cleanIdx = passes.indices.filterNot(contendedIdx)
          val minIdx = if (cleanIdx.isEmpty) passes.indices else cleanIdx
          names.map(n => n -> minIdx.map(i => passes(i)(n)).reduce(minOf))
        }
      }
    var extras = 0
    while (passRowsB.nonEmpty && passRowsB.indices.forall(contendedIdx) &&
        extras < maxExtra && !abandoned && passFits) {
      val last = passRowsB.size - 1
      System.err.println(s"[bench] all ${passRowsB.size} passes contended " +
        s"(external > $loadBound, or gc > $gcBound s / peak heap > $heapBound MB " +
        s"in-JVM) — re-running")
      if (jvmContendedIdx(last)) { spark.stop(); spark = newSession() }
      extras += 1
      abandoned = !runPass()
    }

    // Solo re-runs: fresh SparkContext per query, its own warm-up + two
    // timed passes. Defaults to the 12 heaviest by suite time (subset runs
    // default to none — SPARK_GRAFT_BENCH_ONLY is already the solo
    // protocol); "all" sweeps everything. Each solo is deadline-gated at
    // ~3x its suite time + 15 s session overhead; a skipped solo is
    // recorded in `solo_skipped`, and later (cheaper) solos still get
    // their chance.
    val resultsNow = currentResults()
    val soloSpec = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_SOLO", if (only.isDefined) "none" else "12")
    val soloNames: Seq[String] = soloSpec match {
      case "none" | "0" => Nil
      case "all" => names
      case n => resultsNow.collect { case (k, Right(v)) => (k, v) }
        .sortBy { case (k, v) => (-v, k) }.take(n.toInt).map(_._1)
    }
    val suiteTime = resultsNow.collect { case (k, Right(v)) => k -> v }.toMap
    for (n <- soloNames) {
      val estSec = 3 * suiteTime.getOrElse(n, 5.0) + 15
      if (remainingSec < estSec) {
        deadlineHit = true
        lock.synchronized { soloSkipped += n }
        System.err.println(s"[bench] deadline: skipping solo $n " +
          s"(${math.rint(remainingSec)}s left < ${math.rint(estSec)}s est)")
      } else {
        spark.stop()
        spark = newSession()
        execute(spark, n, "/root/testdata/sf0.001")
        settle()
        // Solo sections are load-gated like suite passes (the r13
        // q_label_prop 65.5 s ghost came from an ungated solo): each
        // two-pass timed section carries its own external-load estimate; a
        // contended section is re-run up to the same retry budget chasing a
        // clean one, and the artifact records the estimate + flag per row.
        def timedSection(): (Either[String, Double], Double, Double) = {
          val sampler = new LoadSampler(500)
          val gc = new GcMeter
          val r = minOf(execute(spark, n, sfDir), execute(spark, n, sfDir))
          (r, sampler.stop(s"solo $n"), gc.stop()._1)
        }
        var (r, ext, gcs) = timedSection()
        var tries = 0
        while (ext > loadBound && tries < maxExtra && remainingSec >= estSec / 2) {
          System.err.println(s"[bench] solo $n contended (external $ext) — re-running")
          tries += 1
          settle()
          val (r2, ext2, gcs2) = timedSection()
          // a clean re-run replaces the contended min outright (contended
          // walls only inflate); two contended sections keep whichever
          // section's WALL won, with THAT section's load/gc estimates — the
          // recorded estimate always describes the section the number came
          // from (r16 ADVICE: the old elementwise min could pair one
          // section's wall with the other's load)
          if (ext2 <= loadBound) { r = r2; ext = ext2; gcs = gcs2 }
          else {
            val secondWins = (r, r2) match {
              case (Right(x), Right(y)) => y < x
              case (Right(_), Left(_)) => true // failure still propagates (minOf rule)
              case _ => false
            }
            if (secondWins) { r = r2; ext = ext2; gcs = gcs2 }
          }
        }
        lock.synchronized {
          soloExternal(n) = ext
          soloContended(n) = ext > loadBound
          soloGcSec(n) = gcs
          soloRes(n) = r
        }
        flushArtifact(None)
      }
    }

    // normal finish: final artifact + compact line (the LAST stdout write)
    val anyFailed = currentResults().exists(_._2.isLeft) ||
      lock.synchronized(soloRes.values.exists(_.isLeft))
    if (flushedFinal.compareAndSet(false, true))
      flushArtifact(None)
    spark.stop()
    if (anyFailed) sys.exit(1)
  }
}
