package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Session-temp MATERIALIZATION BARRIER storage.
  *
  * The third point of the cache-lifecycle triangle ([[Local]] collects tiny
  * results; persist+unpersist bounds loop state): when an operator must read
  * an EXPENSIVE upstream frame more than once, the frame is data-sized (so
  * [[Local]] is out), and the result is handed back to the caller (so a lazy
  * persist could never be released — the leak [[Local]]'s scaladoc
  * describes), the remaining correct move is the one every production
  * pipeline makes at 100 TB: materialize the intermediate to storage once
  * and re-scan the files. Spark's own shuffle files and AQE query-stage
  * boundaries are exactly this barrier; `Dataset.checkpoint` is the API
  * twin, but its files outlive the session unless cleaner conf is set and
  * its lineage cut hides the provenance from `explain`. An explicit parquet
  * spill keeps the lifecycle in THIS repo's hands: written once, read
  * cheaply (columnar, pushdown-able), deleted on JVM exit.
  *
  * SCRATCH ROOT (r19 verdict #5a — previously `java.io.tmpdir` was
  * hard-coded and "on a cluster point at DFS scratch" was doc-only): the
  * root is the `graft.spill.dir` system property, else `java.io.tmpdir`.
  * Two path classes:
  *
  *  - a LOCAL path (no scheme, or `file:`): created via java.nio, deleted
  *    recursively on JVM exit. In local mode, and on a cluster whose
  *    scratch is a shared mount (NFS/Lustre/fuse object store), this is
  *    the whole story — point the knob at the mount.
  *  - a REMOTE URI (`hdfs://…`, `s3a://…`): created and deleted through
  *    the Hadoop FileSystem of the ACTIVE SparkSession's conf — the same
  *    filesystem the executors' parquet writes resolve, so a 100×
  *    deployment sets one knob and the barrier lands on DFS scratch.
  *    Requires an active session at first `newDir` call (operators always
  *    have one — they are invoked on DataFrames).
  */
object Spill {

  private val dirs = new ConcurrentLinkedQueue[File]
  private val remote =
    new ConcurrentLinkedQueue[(org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path)]

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      dirs.forEach(deleteRecursively(_))
      remote.forEach { case (fs, p) =>
        try { fs.delete(p, true); () }
        catch { case _: Throwable => () } // best-effort; scratch dirs age out
      }
    }, "graft-spill-cleanup"))
    true
  }

  private def deleteRecursively(f: File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Resolved scratch root (see scaladoc). */
  private[graft] def root: String =
    sys.props.get("graft.spill.dir")
      .map(_.trim).filter(_.nonEmpty)
      .getOrElse(System.getProperty("java.io.tmpdir"))

  /** A fresh scratch directory under [[root]], deleted (recursively) on
    * JVM exit.
    */
  def newDir(prefix: String): String = {
    require(hookInstalled)
    val r = root
    val scheme = new java.net.URI(r).getScheme
    if (scheme != null && scheme != "file") {
      // DFS scratch: resolve through the active session's Hadoop conf so
      // credentials/endpoints match what the executors will use
      val conf = org.apache.spark.sql.SparkSession.active
        .sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(
        r, s"$prefix-${java.util.UUID.randomUUID()}")
      val fs = p.getFileSystem(conf)
      fs.mkdirs(p)
      remote.add((fs, p))
      p.toString
    } else {
      val rootPath = Paths.get(r)
      Files.createDirectories(rootPath)
      val d = Files.createTempDirectory(rootPath, prefix).toFile
      dirs.add(d)
      d.getAbsolutePath
    }
  }

  /** The barrier itself: writes `df` ONCE to a fresh [[newDir]] and
    * returns a frame that scans those files.
    */
  private[graft] def materialize(df: DataFrame, prefix: String): DataFrame = {
    val p = newDir(prefix)
    df.write.mode("overwrite").parquet(p)
    // explicit schema: skips footer inference AND keeps the zero-row
    // degenerate case readable (a rowless write leaves no part files)
    df.sparkSession.read.schema(df.schema).parquet(p)
  }
}
