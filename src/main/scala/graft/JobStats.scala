package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Job statistics — the reference's metrics surface (`Server.java:29-48`:
  * per-node good/bad/redundant task counters and running-average sort/merge
  * latencies, reported at `ServerHandler.java:66-75`) recast on Spark's
  * listener bus. Spark already tracks far more per task; this collector
  * surfaces the same shape the reference prints: task counts, failures,
  * total task time, bytes read.
  */
final class JobStats private (listener: SparkListener, spark: SparkSession) {
  private[graft] val tasksCompleted = new AtomicInteger
  private[graft] val tasksFailed = new AtomicInteger
  private[graft] val taskTimeMs = new AtomicLong
  private[graft] val bytesRead = new AtomicLong

  /** The counters once every event posted so far has been delivered: the
    * listener bus is async, so the last tasks of a job that has just
    * returned may not have reached the listener yet.
    */
  def snapshot: JobStats.Snapshot = {
    org.apache.spark.deploy.graftshim.ListenerBus.drain(spark.sparkContext)
    JobStats.Snapshot(tasksCompleted.get, tasksFailed.get, taskTimeMs.get, bytesRead.get)
  }

  /** Detach from the listener bus. */
  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object JobStats {

  case class Snapshot(tasksCompleted: Int, tasksFailed: Int, taskTimeMs: Long, bytesRead: Long)

  /** Attach a collector to the session's listener bus. Counters cover all
    * jobs run while attached (the reference's stats are likewise global per
    * `sortFile` call and cleared in `Server.clearState`, `Server.java:62-73`
    * — here, detach-and-reattach is the clear).
    */
  def attach(spark: SparkSession): JobStats = {
    var stats: JobStats = null
    val listener = new SparkListener {
      override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
        if (taskEnd.taskInfo.successful) stats.tasksCompleted.incrementAndGet()
        else stats.tasksFailed.incrementAndGet()
        val m = taskEnd.taskMetrics
        if (m != null) {
          stats.taskTimeMs.addAndGet(m.executorRunTime)
          stats.bytesRead.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    }
    stats = new JobStats(listener, spark)
    spark.sparkContext.addSparkListener(listener)
    stats
  }
}
