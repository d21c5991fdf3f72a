package graft.tools

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, JobStats, SparkEntry}

/** Decade probe over declared queries: how each query's wall, output and
  * task volume grow across scale-factor directories (the testdata SFs, or
  * the `ScaleGen` replicas of one). Usage:
  *
  * {{{
  *   runMain graft.tools.ScaleCheck <q1,q2,...> <dir1>[,<dir2>...]
  * }}}
  *
  * Protocol: one warm-up of each query at sf0.001; then, for each query
  * and directory, the min of 2 noop-write walls (not `count()`, under
  * which Catalyst prunes unobserved columns and elides ordering: Bench's
  * reason for the noop sink), the [[JobStats]] snapshot of those two
  * timed runs, and an untimed row count. Results of at most 16 rows are
  * printed whole, which is how the `q_cap_audit_*` and `q_recall_audit_*`
  * rollups read out per decade. Decades measured so far are in
  * `SKEW_scale.txt`.
  */
object ScaleCheck {

  /** One (query, directory) cell. `wallS` is the min of the two timed
    * runs, `stats` covers both; `small` holds the result rows when there
    * are at most 16 of them, else it is empty.
    */
  final case class Result(
      query: String,
      dir: String,
      wallS: Double,
      rows: Long,
      stats: JobStats.Snapshot,
      small: Seq[Row])

  /** The smallest fixture scale factor (TESTDATA.md), used for warm-up. */
  private val WarmupDir = "/root/testdata/sf0.001"

  def run(spark: SparkSession, names: Seq[String], dirs: Seq[String]): Seq[Result] = {
    SparkEntry.requireDeclared(names)
    val queries = SparkEntry.queries
    def once(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(once(_, WarmupDir))
    for (name <- names; dir <- dirs) yield {
      val stats = JobStats.attach(spark)
      val (wall, snap) =
        try (math.min(once(name, dir), once(name, dir)), stats.snapshot)
        finally stats.close()
      val df = queries(name)(spark, dir)
      val rows = df.count()
      val small = if (rows <= 16) df.collect().toSeq else Nil
      println(f"[scalecheck] $name%-24s ${new java.io.File(dir).getName}%-14s " +
        f"$wall%7.2f s (min of 2), rows=$rows, tasks=${snap.tasksCompleted}, " +
        f"failed=${snap.tasksFailed}, task_s=${snap.taskTimeMs / 1000.0}%.1f")
      small.foreach(row => println(s"[scalecheck]   $row"))
      Result(name, dir, wall, rows, snap, small)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleCheck <q1,q2,...> <dir1>[,<dir2>...]")
    val names = SparkEntry.queryNames(args(0))
    val dirs = args(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.harness("graft-scalecheck")
    try run(spark, names, dirs) finally spark.stop()
  }
}
