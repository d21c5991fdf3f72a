package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

import graft.GraftSession

final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: File, work: File, cores: Int)

/** Runs one workload: `--workload W --seed N --seconds S --trace 0|1
  * --root <checkout> --work <scratch dir> [--cores C]`. Prints a summary
  * on stderr and the result as one JSON line on stdout.
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = Config(opt("workload"), opt("seed").toLong, opt("seconds").toInt,
      opt("trace") == "1", new File(opt("root")), new File(opt("work")),
      opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    val line = new Runner(cfg, Workload(cfg)).run()
    System.out.println(line)
    System.out.flush()
  }

  def session(cores: Int, work: File): SparkSession = {
    // local[N,F]: plain local[N] never retries a failed task
    val s = GraftSession
      .builder(master = s"local[$cores,4]", shufflePartitions = cores, appName = "perfbench")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.quietHarnessLogs()
    // every injected fault would log a stack trace twice; the benchmark
    // reports failed ops itself
    Seq("org.apache.spark.executor.Executor", "org.apache.spark.scheduler.TaskSetManager")
      .foreach(Configurator.setLevel(_, Level.OFF))
    s
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

final case class OpResult(op: Op, tag: String, start: Double, built: Double, end: Double,
    error: Option[String], persistedLeft: Int, tmpLeft: Int) {
  def seconds: Double = (end - start) / 1e3
}

final case class Section(results: Seq[OpResult], start: Double, end: Double, cpuS: Double,
    gcS: Double, peakHeapMb: Double, faults: Long, sinkBytes: Long, sinkFiles: Long) {
  def wallS: Double = (end - start) / 1e3
  def failed: Int = results.count(_.error.isDefined)
}

final class Runner(cfg: Config, w: Workload) {
  private val trace = new Trace
  private val tmpDir = new File(System.getProperty("java.io.tmpdir"))
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def tmpEntries: Int = Option(tmpDir.list()).map(_.length).getOrElse(0)

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** One closed-loop pass over the workload's ops, with one client: each
    * op starts when the previous one has finished. Outputs are checked
    * after the timed part.
    */
  private def section(spark: SparkSession, prefix: String): Section = {
    val sc = spark.sparkContext
    heapPools.foreach(_.resetPeakUsage())
    val (cpu0, gc0, faults0) = (os.getProcessCpuTime, gcMs, Faults.injected.get)
    val start = trace.now
    val results = w.ops.zipWithIndex.map { case (op, i) =>
      val tag = f"$prefix$i%03d-${op.name}"
      sc.setJobGroup(tag, op.name)
      val (persisted0, tmp0) = (sc.getPersistentRDDs.size, tmpEntries)
      val t0 = trace.now
      var built = Double.NaN
      val error =
        try {
          val df = op.construct(spark)
          built = trace.now
          op.action(df, tag)
          None
        } catch { case e: Throwable => Some(e.toString.take(300)) }
      val t1 = trace.now
      OpResult(op, tag, t0, if (built.isNaN) t1 else built, t1, error,
        sc.getPersistentRDDs.size - persisted0, tmpEntries - tmp0)
    }
    val end = trace.now
    sc.clearJobGroup()
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    val faults = Faults.injected.get - faults0
    val (bytes0, files0) = (w.sinkBytes, w.sinkFiles)
    val checked = results.map(r =>
      if (r.error.isDefined) r else r.copy(error = r.op.check(r.tag)))
    checked.filter(_.error.isDefined).foreach(r => log(s"FAILED ${r.tag}: ${r.error.get}"))
    Section(checked, start, end, cpuS, gcS, peakMb, faults,
      w.sinkBytes - bytes0, w.sinkFiles - files0)
  }

  def run(): String = {
    w.prepare()
    var spark: SparkSession = null
    val setups = (1 to Main.SetupRepeats).map { _ =>
      if (spark != null) spark.stop()
      val t0 = trace.now
      spark = Main.session(cfg.cores, cfg.work)
      val t1 = trace.now
      w.warmup(spark)
      (t0, t1, trace.now)
    }
    val setupS = Main.median(setups.map { case (a, _, c) => (c - a) / 1e3 })
    val untraced = section(spark, "u")
    // A traced run repeats the section twice more, traced and then
    // untraced again, so that the tracing overhead compares two passes
    // that both find the ops' generated code and JIT state warm.
    val traced = if (!cfg.trace) None else {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      val s = section(spark, "t")
      rec.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
      Some((s, rec, section(spark, "r")))
    }
    spark.stop()

    val sections = untraced +: traced.toSeq.flatMap { case (s, _, r) => Seq(s, r) }
    val attempted = sections.map(_.results.size).sum
    val failed = sections.map(_.failed).sum
    val opS = untraced.results.map(_.seconds)
    log(f"${cfg.workload} seed ${cfg.seed}: ${opS.size} ops in ${untraced.wallS}%.2f s, " +
      f"set-up ${setupS}%.2f s, ${untraced.faults} injected faults, $failed failed")
    w.summary(untraced.wallS, opS.size).foreach(log)

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", untraced.wallS, "s"),
        ("op_p50_s", Main.median(opS), "s"),
        ("cpu_s", untraced.cpuS, "s"))
      case Some((s, rec, again)) =>
        val m = Layers.metrics(cfg, w, trace, setups, again, s, rec)
        val file = new File(cfg.work, s"trace-${cfg.workload}-${cfg.seed}.json")
        trace.write(file, Map("workload" -> cfg.workload, "seed" -> cfg.seed.toString) ++
          m.map { case (k, v, u) => k -> s"${Json.num(v)} $u" })
        log(s"trace written to $file")
        m
    }
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
