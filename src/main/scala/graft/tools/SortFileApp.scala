package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, JobStats}
import graft.sources.TextIntIO

/** CLI mirroring the reference's client (`Client.java:20-34`): submit a
  * "sort this file" job and get back the sorted output path, the elapsed
  * time and the job's [[graft.JobStats]] (`ServerHandler.java:66-75`).
  *
  * Usage: SortFileApp <input.txt> <output> [chunkBytes] [--single-file]
  *
  * The input is read through the `textint` byte-range source, and
  * `chunkBytes` is its `chunkSize` option: the reference's `chunkSize` knob
  * (`Client.java:21`), one scan task per `chunkBytes` of input, whatever
  * the file's line layout. The reference's `mergeJobs` fan-in knob has no
  * analog: Spark's sort needs exactly one shuffle round, so the merge-tree
  * arity it controls (`Server.java:300`) does not exist here. Default
  * output is TeraSort-style part files (scale path); `--single-file`
  * writes the reference's exact single-file format.
  */
object SortFileApp {

  /** One sort: its wall time and the [[JobStats]] of every job it ran. */
  final case class Result(elapsedMs: Long, stats: JobStats.Snapshot)

  def run(spark: SparkSession, in: String, out: String,
      chunkBytes: Option[Long], single: Boolean): Result = {
    val stats = JobStats.attach(spark)
    try {
      val t0 = System.nanoTime()
      val reader = spark.read.format("textint")
      val df = chunkBytes.fold(reader)(reader.option("chunkSize", _)).load(in)
      if (single) TextIntIO.writeSingleFile(df, out)
      else TextIntIO.writePartitioned(df, out)
      Result((System.nanoTime() - t0) / 1000000, stats.snapshot)
    } finally stats.close()
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: SortFileApp <input.txt> <output> [chunkBytes] [--single-file]")
      sys.exit(2)
    }
    val Array(in, out) = args.take(2)
    val chunkBytes = args.drop(2).find(_.forall(_.isDigit)).map(_.toLong)
    val single = args.contains("--single-file")
    val spark = GraftSession.harness("graft-sortfile")
    val r = run(spark, in, out, chunkBytes, single)
    val s = r.stats
    println(s"Processed File: $out (${r.elapsedMs} ms elapsed)")
    println(s"tasks=${s.tasksCompleted} failed_attempts=${s.tasksFailed} " +
      f"task_s=${s.taskTimeMs / 1000.0}%.1f bytes_read=${s.bytesRead}")
    spark.stop()
  }
}
