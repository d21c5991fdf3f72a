package perfbench

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task counters summed over the tasks of one stage attempt (or more). */
final class TaskAgg {
  var tasks, failed, killed, speculative = 0L
  var runMs, gcMs, overheadMs, fetchWaitMs, scanRunMs = 0L
  var cpuNs, shuffleWriteNs = 0L
  var bytesRead, recordsRead, shuffleWriteBytes, shuffleReadBytes, shuffleRecords, spillBytes = 0L

  def add(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (e.taskInfo.speculative) speculative += 1
    e.reason match {
      case Success =>
      case _: TaskKilled => killed += 1
      case _ => failed += 1
    }
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      // deserialize + scheduler delay + result serialize: the task's life
      // outside its run method
      overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      bytesRead += m.inputMetrics.bytesRead
      recordsRead += m.inputMetrics.recordsRead
      if (m.inputMetrics.recordsRead > 0) scanRunMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleWriteNs += m.shuffleWriteMetrics.writeTime
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.diskBytesSpilled
    }
  }

  def addAll(o: TaskAgg): Unit = {
    tasks += o.tasks; failed += o.failed; killed += o.killed; speculative += o.speculative
    runMs += o.runMs; gcMs += o.gcMs; overheadMs += o.overheadMs
    fetchWaitMs += o.fetchWaitMs; scanRunMs += o.scanRunMs
    cpuNs += o.cpuNs; shuffleWriteNs += o.shuffleWriteNs
    bytesRead += o.bytesRead; recordsRead += o.recordsRead
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
  }

  def attrs: Map[String, Double] = Map[String, Double](
    "tasks" -> tasks.toDouble, "task_failed" -> failed.toDouble, "task_killed" -> killed.toDouble,
    "run_s" -> runMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "task_overhead_s" -> overheadMs / 1e3, "bytes_read" -> bytesRead.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "spill_bytes" -> spillBytes.toDouble)
}

/** Collects Spark's listener events for the ops of a traced section. Ops
  * are told apart by the job group the benchmark sets around each of them;
  * the SQL executions, jobs and stages they start carry that group. Events
  * arrive on Spark's listener thread; read the recorder only after
  * [[drain]].
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  final class Sql(val id: Long, val group: String, val start: Long) {
    var end: Long = start
  }
  /** The planning phases of one query execution, and when they began. */
  final case class Plan(start: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final class Job(val id: Int, val group: String, val sql: Long, val start: Long,
      val stageIds: Seq[Int]) {
    var end: Long = start
  }
  final class Stage(val id: Int, val group: String, val submit: Long) {
    var end: Long = submit
    val agg = new TaskAgg
  }

  val sqls = mutable.LinkedHashMap.empty[Long, Sql]
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  val plans = mutable.ArrayBuffer.empty[Plan]
  /** (stage, partition) pairs that some task attempt completed. */
  val usefulTasks = mutable.Set.empty[(Int, Int)]
  private val drained = new CountDownLatch(1)

  private def group(p: Properties): String =
    Option(p).flatMap(q => Option(q.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sql = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, group(e.properties), sql, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      if (j.group == SentinelGroup) drained.countDown()
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = new Stage(i.stageId, group(e.properties),
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(s =>
      s.end = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach(_.agg.add(e))
    if (e.reason == Success) usefulTasks += ((e.stageId, e.taskInfo.index))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = new Sql(s.executionId, s.jobGroupId.getOrElse(""), s.time)
      case s: SparkListenerSQLExecutionEnd =>
        sqls.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  /** A query execution listener is not told the job group, so its phases
    * are attributed to ops later, by when they began.
    */
  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty)
      plans += Plan(ph.values.map(_.startTimeMs).min, ms("analysis"), ms("optimization"),
        ms("planning"))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = phases(qe)

  /** Runs a marker job and waits until this recorder has seen it end, so
    * every event posted before it has been delivered.
    */
  def drain(sc: org.apache.spark.SparkContext): Unit = {
    sc.setJobGroup(SentinelGroup, "drain listener events")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    if (!drained.await(60, TimeUnit.SECONDS))
      System.err.println("[perfbench] listener events not drained within 60 s")
  }
}

object Recorder {
  val SentinelGroup = "perfbench-drain"
}
