package graft.tools

import graft.{GraftSession, JobStats}
import graft.sources.TextIntIO

/** CLI mirroring the reference's client (`Client.java:20-34`): submit a
  * "sort this file" job and get back the sorted output path, the elapsed
  * time and the job's [[graft.JobStats]] (`ServerHandler.java:66-75`).
  *
  * Usage: SortFileApp <input.txt> <output> [chunkBytes] [--single-file]
  *
  * `chunkBytes` maps the reference's `chunkSize` knob (`Client.java:21`) to
  * `spark.sql.files.maxPartitionBytes`. The reference's `mergeJobs` fan-in
  * knob has no analog: Spark's sort needs exactly one shuffle round, so the
  * merge-tree arity it controls (`Server.java:300`) does not exist here.
  * Default output is TeraSort-style part files (scale path); `--single-file`
  * writes the reference's exact single-file format.
  */
object SortFileApp {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: SortFileApp <input.txt> <output> [chunkBytes] [--single-file]")
      sys.exit(2)
    }
    val Array(in, out) = args.take(2)
    val chunkBytes = args.drop(2).find(_.forall(_.isDigit)).map(_.toLong)
    val single = args.contains("--single-file")
    val spark = GraftSession.harness("graft-sortfile")
    chunkBytes.foreach(b => spark.conf.set("spark.sql.files.maxPartitionBytes", b.toString))
    val stats = JobStats.attach(spark)
    val t0 = System.nanoTime()
    val df = TextIntIO.read(spark, in)
    if (single) TextIntIO.writeSingleFile(df, out)
    else TextIntIO.writePartitioned(df, out)
    val ms = (System.nanoTime() - t0) / 1000000
    val s = stats.snapshot
    println(s"Processed File: $out ($ms ms elapsed)")
    println(s"tasks=${s.tasksCompleted} failed_attempts=${s.tasksFailed} " +
      f"task_s=${s.taskTimeMs / 1000.0}%.1f bytes_read=${s.bytesRead}")
    spark.stop()
  }
}
