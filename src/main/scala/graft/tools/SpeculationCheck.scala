package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}

/** End-to-end observation of speculative execution — the reference's
  * single most-emphasized feature (redundant task copies with
  * first-winner-kills-the-rest, `Server.java:194-259, 431-508`; its Test
  * Cases doc §3). `GraftSession` pins the Spark equivalent
  * (`spark.speculation` + multiplier/quantile), and this tool proves the
  * conf actually FIRES: one deliberately stalled straggler task gets a
  * speculative second attempt that finishes the stage.
  *
  * Spark's `TaskSchedulerImpl` never starts the speculation scheduler under
  * a `local[n]` master, and the same-host exclusion in
  * `dequeueSpeculativeTask` means `local-cluster` (every worker on one
  * hostname) can request but never LAUNCH a copy — so this runs a real
  * standalone master + two workers registered under string-distinct
  * loopback aliases ([[org.apache.spark.deploy.graftshim.DualHostCluster]]),
  * real executor JVMs, the minimal topology where speculation can complete.
  * It is a separate main that SpeculationSpec forks into its own JVM (one
  * driver per JVM). Exit 0 = a speculative attempt launched and the job's
  * result was correct; 2 = it never fired; 1 = crash. The workers' work
  * directory (executor logs) is a [[graft.Spill]] directory, printed as
  * `WORK_DIR=…` and deleted when the JVM exits.
  */
object SpeculationCheck {

  def main(args: Array[String]): Unit = {
    val clusterConf = new org.apache.spark.SparkConf()
      .set("spark.ui.enabled", "false")
    val workDir = graft.Spill.newDir("graft-speculation-work")
    println(s"WORK_DIR=$workDir")
    val masterUrl = org.apache.spark.deploy.graftshim.DualHostCluster
      .start(clusterConf, coresPerWorker = 2, memMbPerWorker = 1536,
        workDirRoot = workDir)
    val spark = graft.GraftSession
      .builder(master = masterUrl, shufflePartitions = 4)
      // ship the forked JVM's full classpath to the executor JVMs (the
      // same mechanism spark.testing uses in Spark's own suites)
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.memory", "1024m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val speculative = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) speculative.incrementAndGet()
    })
    val code = try {
      // 16 tasks on 4 cores: 15 finish in milliseconds, partition 3's FIRST
      // attempt stalls far past multiplier*median. Once >= quantile (14/16)
      // have finished, the scheduler launches a speculative copy (attempt 1,
      // which skips the stall) on a free core; its success completes the
      // stage and kills the straggler — the reference's first-winner rule.
      val result = spark.sparkContext.parallelize(1 to 16, 16).map { i =>
        val ctx = TaskContext.get()
        if (ctx.partitionId() == 3 && ctx.attemptNumber() == 0) {
          val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
          while (System.nanoTime() < deadline && !ctx.isInterrupted())
            Thread.sleep(50)
        }
        i * 2
      }.collect()
      assert(result.sorted.toSeq == (1 to 16).map(_ * 2), "wrong job result")
      // the listener bus is async — give the TaskStart event time to land
      val waitUntil = System.currentTimeMillis() + 30000
      while (speculative.get() == 0 && System.currentTimeMillis() < waitUntil)
        Thread.sleep(100)
      println(s"SPECULATIVE_ATTEMPTS=${speculative.get()}")
      if (speculative.get() >= 1) 0 else 2
    } finally spark.stop()
    sys.exit(code)
  }
}
