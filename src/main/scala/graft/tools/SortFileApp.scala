package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, JobStats, Spill}
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
  * arity it controls (`Server.java:300`) does not exist here. The sorted
  * values go out through the `textint` sink: by default `<output>` is a
  * directory of space-joined `part-NNNNN.txt` files whose name order is the
  * total order (scale path); `--single-file` makes `<output>` one file in
  * the reference's exact format (`NodeHandler.java:79-85`).
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
      val sorted = TextIntIO.sort(chunkBytes.fold(reader)(reader.option("chunkSize", _)).load(in))
      if (single) writeSingleFile(spark, sorted, out)
      else sorted.write.format("textint").mode("overwrite").save(out)
      Result((System.nanoTime() - t0) / 1000000, stats.snapshot)
    } finally stats.close()
  }

  /** The reference's single output file without a driver collect: the sink
    * writes the sorted parts to a scratch directory, and their name order is
    * the total order, so streaming them into `out` with one `' '` between
    * non-empty parts yields exactly `sorted.mkString(" ")`. The scratch
    * directory is deleted afterwards.
    */
  private def writeSingleFile(spark: SparkSession, sorted: DataFrame, out: String): Unit = {
    val parts = new Path(Spill.newDir("graft_sortfile_parts"))
    val fs = parts.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      sorted.write.format("textint").mode("overwrite").save(parts.toString)
      val sink = new java.io.BufferedOutputStream(Files.newOutputStream(Paths.get(out)), 64 * 1024)
      try {
        fs.listStatus(parts)
          .filter(s => s.getPath.getName.startsWith("part-") && s.getLen > 0)
          .sortBy(_.getPath.getName)
          .zipWithIndex.foreach { case (part, k) =>
            if (k > 0) sink.write(' ')
            val src = fs.open(part.getPath)
            try src.transferTo(sink) finally src.close()
          }
      } finally sink.close()
    } finally fs.delete(parts, true): Unit
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
