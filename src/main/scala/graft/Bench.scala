package graft

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark main: times every declared query and reports the suite total.
  *
  * Each query runs into a `noop`-format write, not `count()`: Catalyst's
  * `EliminateSorts` removes an `orderBy` under an aggregate, so a count-based
  * harness would skip the very sorts this engine exists to measure. The
  * physical plan, range shuffle and sort included, only runs when a sink
  * consumes every row.
  *
  * Protocol ([[run]]), in one session:
  *  - a warm-up pass at sf0.001 (the `sf0.001` sibling of the measured
  *    directory) absorbs JIT and codegen warm-up;
  *  - [[Passes]] timed passes run the queries back to back, with a GC
  *    settle before each so one pass's debris is not charged to the next;
  *  - a pass is contended when the box's external load exceeds
  *    [[LoadBound]] (mean sampled loadavg minus this JVM's own cores,
  *    [[LoadSampler]]), or when its own GC seconds or peak heap exceed
  *    [[GcBoundSec]] or [[HeapBoundMb]] ([[GcMeter]]);
  *  - a query's result is its min over the clean passes, or over all
  *    passes with `"contended": true` when none is clean ([[minOverClean]]).
  *
  * A failed query reports `-1`, its exception class goes to `errors` and its
  * message to stderr, and `main` exits 1.
  *
  * Output: the artifact (`bench_full.json`, or `SPARK_GRAFT_BENCH_OUT`)
  * holds every pass, every gate and the bounds. It is rewritten after each
  * pass and every [[FlushEvery]] queries of pass 1, and each rewrite prints
  * the compact `{"metric":"total",...}` line ([[compactLine]]). That line
  * fits [[LineBudget]] characters, so a 2,000-character output tail always
  * holds a parseable one; on a normal finish it is the last stdout write.
  * When the JVM is terminated mid-run, a shutdown hook flushes what has
  * completed, the in-flight pass included, with `"flush_reason":"sigterm"`.
  *
  * Settings: `SPARK_GRAFT_SF_DIR` (default sf0.1), `SPARK_GRAFT_BENCH_OUT`,
  * and `SPARK_GRAFT_BENCH_ONLY`, a comma-separated subset of query names
  * (an undeclared name counts as a failed query).
  */
object Bench {

  val Passes = 3
  val LoadBound = 4.0
  val GcBoundSec = 30.0
  val HeapBoundMb = 20000L
  val LineBudget = 1900
  val FlushEvery = 40

  /** One query's wall seconds, or the class of the exception it threw. */
  type Result = Either[String, Double]

  /** One completed timed pass and its gates. */
  private final case class Pass(
      rows: Map[String, Result],
      loadAvg: (Double, Double),
      externalLoad: Double,
      gcSec: Double,
      peakHeapMb: Long,
      wallSec: Double) {
    def jvmContended: Boolean = gcSec > GcBoundSec || peakHeapMb > HeapBoundMb
    def contended: Boolean = externalLoad > LoadBound || jvmContended
  }

  /** Per-query min over the clean passes, or over every pass when none is
    * clean, and whether none was. A failure in a counted pass fails the
    * query.
    */
  private def minOverClean(
      names: Seq[String], passes: Seq[Pass]): (Seq[(String, Result)], Boolean) = {
    val clean = passes.filterNot(_.contended)
    val counted = if (clean.isEmpty) passes else clean
    (names.map(n => n -> counted.map(_.rows(n)).reduce(minOf)),
      passes.nonEmpty && clean.isEmpty)
  }

  private def minOf(a: Result, b: Result): Result =
    for (x <- a; y <- b) yield math.min(x, y)

  /** Measure `names` on `spark` and return each query's result. */
  def run(
      spark: SparkSession, names: Seq[String], sfDir: String,
      outFile: String): Seq[(String, Result)] = {
    val progress = new Progress(names, sfDir, outFile)
    active.set(progress)
    val warmupDir = Paths.get(sfDir).resolveSibling("sf0.001").toString
    names.foreach(execute(spark, _, warmupDir))
    for (p <- 1 to Passes) {
      settle()
      val la0 = loadAvg()
      val sampler = new LoadSampler
      val gc = new GcMeter
      val w0 = System.nanoTime()
      for ((n, i) <- names.zipWithIndex) {
        progress.inflight.put(n, execute(spark, n, sfDir))
        if (p == 1 && (i + 1) % FlushEvery == 0) progress.flush(None)
      }
      val (gcSec, peakMb) = gc.stop()
      progress.complete(Pass(progress.inflight.asScala.toMap, (la0, loadAvg()),
        sampler.stop(s"pass $p"), gcSec, peakMb, (System.nanoTime() - w0) / 1e9))
      if (p < Passes) progress.flush(None)
    }
    if (active.compareAndSet(progress, null)) progress.flush(None)
    progress.results()
  }

  /** The run in flight, flushed by `main`'s shutdown hook; null once its
    * final flush has been claimed.
    */
  private val active = new AtomicReference[Progress]()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq.distinct.sorted)
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val spark = GraftSession.harness("graft")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Option(active.getAndSet(null)).foreach { p =>
        System.err.println("[bench] terminated before completion, flushing partial artifact")
        p.flush(Some("sigterm"))
      }, "bench-sigterm-flush"))
    val results = run(spark, names, sfDir, outFile)
    spark.stop()
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }

  private def execute(spark: SparkSession, name: String, dir: String): Result = {
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

  /** Reclaim the previous section's broadcasts and shuffles outside timed
    * work: left to the ContextCleaner, their reclamation lands on whichever
    * query runs when the first GC fires.
    */
  private def settle(): Unit = { System.gc(); Thread.sleep(2000); System.gc() }

  /** What a run has measured so far. [[flush]] is safe from any thread. */
  private final class Progress(names: Seq[String], sfDir: String, outFile: String) {
    private val t0 = System.nanoTime()
    private val mode =
      if (names.sorted == SparkEntry.queries.keys.toSeq.sorted) "suite" else "subset"
    private val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    /** finished queries of the pass in flight */
    val inflight = new ConcurrentHashMap[String, Result]()

    def complete(pass: Pass): Unit = synchronized { passes += pass; inflight.clear() }

    def results(): Seq[(String, Result)] = synchronized(minOverClean(names, passes.toSeq)._1)

    /** Rewrite the artifact and print the compact line. Before pass 1
      * completes, the in-flight queries are the only (partial) results.
      */
    def flush(reason: Option[String]): Unit = synchronized {
      val done = passes.toSeq
      val partial = done.isEmpty
      val inflightRows = names.flatMap(n => Option(inflight.get(n)).map(n -> _))
      val (results, contended) =
        if (partial) (inflightRows, false) else minOverClean(names, done)
      val failed = results.collect { case (n, Left(err)) => n -> err }
      val total = results.flatMap(_._2.toOption).sum
      val counted = done.count(!_.contended) match { case 0 => done.size; case c => c }
      val protocol =
        if (partial) s"partial-pass-1-${results.size}-of-${names.size}-queries"
        else s"min-of-$counted-clean-of-${done.size}"
      val elapsedSec = math.rint((System.nanoTime() - t0) / 1e8) / 10
      val compact = compactLine(Seq(
        "metric" -> "total", "value" -> round3(total), "unit" -> "sec",
        "protocol" -> protocol, "n_queries" -> names.size,
        "n_measured" -> results.size, "n_failed" -> failed.size,
        "contended" -> contended) ++ reason.map("flush" -> _) ++ Seq(
        "elapsed_sec" -> elapsedSec, "artifact" -> outFile, "sf" -> sfDir), results)
      val full = Json.obj(Seq(
        "metric" -> "total", "value" -> total, "unit" -> "sec",
        "protocol" -> protocol, "queries" -> Json.Obj(results)) ++
        Option.when(failed.nonEmpty)("errors" -> Json.Obj(failed)) ++ Seq(
        "sf" -> sfDir, "mode" -> mode,
        "loadavg" -> done.map { p => (nonNegative(p.loadAvg._1), nonNegative(p.loadAvg._2)) },
        "pass_external_load" -> done.map(p => nonNegative(p.externalLoad)),
        "pass_gc_sec" -> done.map(_.gcSec),
        "pass_peak_heap_mb" -> done.map(_.peakHeapMb),
        "pass_wall_sec" -> done.map(p => math.rint(p.wallSec * 100) / 100),
        "pass_jvm_contended" -> done.map(_.jvmContended),
        "gc_bound" -> GcBoundSec, "heap_bound_mb" -> HeapBoundMb,
        "pass_contended" -> done.map(_.contended), "load_bound" -> LoadBound,
        "elapsed_sec" -> elapsedSec, "flush_reason" -> reason, "partial" -> partial) ++
        Option.when(!partial && inflightRows.nonEmpty)(
          "inflight_pass" -> Json.Obj(inflightRows)) ++ Seq(
        "contended" -> contended,
        "passes" -> Json.Obj(done.headOption.toSeq.flatMap { first =>
          names.filter(first.rows.contains).map(n => n -> done.map(_.rows(n)))
        })))
      Files.write(Paths.get(outFile), full.getBytes(UTF_8))
      println(compact)
      Console.out.flush()
    }
  }

  /** The compact stdout line: the `head` fields, then under `queries` every
    * failure (as `-1`) and the heaviest successes, each kept while the line
    * stays within [[LineBudget]] characters.
    */
  private[graft] def compactLine(
      head: Seq[(String, Any)], results: Seq[(String, Result)]): String = {
    val ranked = results.filter(_._2.isLeft) ++
      results.collect { case (n, Right(s)) => (n, Right(round3(s))) }
        .sortBy { case (n, s) => (-s.value, n) }
    // the empty line's length, plus one for the newline
    var used = Json.obj(head :+ ("queries" -> Json.Obj(Nil))).length + 1
    val kept = ranked.filter { case (n, r) =>
      val len = Json.write(n).length + Json.write(r).length + 2
      used + len <= LineBudget && { used += len; true }
    }
    Json.obj(head :+ ("queries" -> Json.Obj(kept)))
  }

  private def round3(x: Double): Double = math.rint(x * 1000) / 1000

  /** A load estimate, or None (JSON null) when it was unmeasurable (< 0). */
  private def nonNegative(x: Double): Option[Double] = Option.when(x >= 0)(x)

  /** Just enough JSON for the artifact: objects keep their field order, a
    * failed [[Result]] is `-1`, None is `null`.
    */
  private object Json {
    final case class Obj(fields: Seq[(String, Any)])
    def obj(fields: Seq[(String, Any)]): String = write(Obj(fields))
    def write(v: Any): String = v match {
      case None => "null"
      case Some(x) => write(x)
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
      case Right(x) => write(x)
      case Left(_) => "-1"
      case Obj(fields) =>
        fields.map { case (k, x) => write(k) + ":" + write(x) }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
      case (a, b) => write(Seq(a, b))
      case x => x.toString
    }
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean

  private def loadAvg(): Double = math.rint(osBean.getSystemLoadAverage * 100) / 100

  private def processCpuNs(): Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** The box's external load over one pass. Our own suite drives loadavg
    * toward the core count, so raw loadavg cannot gate a pass; sampled
    * every 2 s and less the cores this JVM consumed (process CPU time over
    * wall), it sits near 0 on an idle box and shows a competing run as the
    * gap. [[stop]] takes one more sample after the thread ends, so a pass
    * shorter than the interval still has two. Fewer than 2 samples (no
    * loadavg on this OS) are unmeasurable: -1, warned on stderr, treated
    * as clean.
    */
  private final class LoadSampler {
    private val samples = new ConcurrentLinkedQueue[java.lang.Double]()
    private val cpu0 = processCpuNs()
    private val w0 = System.nanoTime()
    private def sample(): Unit = {
      val l = osBean.getSystemLoadAverage
      if (l >= 0) samples.add(l)
    }
    private val th = new Thread(() =>
      try {
        while (true) {
          sample()
          Thread.sleep(2000)
        }
      } catch { case _: InterruptedException => () },
      "bench-load-sampler")
    th.setDaemon(true)
    th.start()

    def stop(tag: String): Double = {
      th.interrupt()
      th.join()
      sample()
      val wall = (System.nanoTime() - w0) / 1e9
      val ownCores = if (cpu0 >= 0) (processCpuNs() - cpu0) / 1e9 / wall else -1.0
      val k = samples.size
      if (k < 2 || ownCores < 0) {
        System.err.println(s"[bench] $tag external load UNMEASURABLE " +
          s"($k samples, ownCores=$ownCores), treated as clean")
        -1.0
      } else
        math.rint(math.max(0.0, samples.asScala.map(_.doubleValue).sum / k - ownCores) * 100) / 100
    }
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def gcTimeMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  /** This JVM's GC seconds and peak heap over one pass: a pass inflated
    * from inside the JVM (high GC with flat external load) is contended,
    * not a plan regression.
    */
  private final class GcMeter {
    private val gc0 = gcTimeMs()
    heapPools.foreach(p => if (p.isValid) p.resetPeakUsage())

    /** (GC seconds, peak heap MiB) since construction */
    def stop(): (Double, Long) = (
      math.rint((gcTimeMs() - gc0) / 10.0) / 100.0,
      heapPools.map(p => if (p.isValid) p.getPeakUsage.getUsed else 0L).sum >> 20)
  }
}
