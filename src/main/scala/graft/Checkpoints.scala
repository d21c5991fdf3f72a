package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cut policy for the iterative closures (connected components,
  * label propagation, k-core, IVF assignment reuse).
  *
  * Each round of an iterative operator must cut its lineage (otherwise the
  * plan nests exponentially) and release the superseded round's blocks.
  * `Dataset.localCheckpoint` is the right default in local mode and on a
  * healthy cluster: executor-memory/disk blocks, no DFS round-trip. But a
  * locally-checkpointed RDD CANNOT be recomputed — lose an executor and
  * the partitions it held are gone, failing the query (r19 verdict #5b:
  * acceptable in local[32], not at 100× where executor loss is routine —
  * spot reclamation, OOM kills, node drains are weekly events on a
  * 1000-executor fleet).
  *
  * The opt-in RELIABLE mode switches every iterative cut in the engine to
  * `Dataset.checkpoint` — files under the Spark checkpoint dir, readable
  * by any executor, recomputable... not needed: re-READABLE after executor
  * loss, which is the point. Enable by setting the runtime conf
  * `spark.graft.checkpoint.dir` on the session to a DFS path every
  * executor can reach (`hdfs://…/scratch`, a shared mount). The first
  * cut sets `sc.setCheckpointDir` to it if unset; an already-set
  * checkpoint dir is respected (first writer wins — the knob never
  * relocates files mid-job). Cost: one DFS write + read per
  * round instead of a local block write — the standard durability trade,
  * priced per round, which is why it is a switch and not the default.
  *
  * Release semantics are unchanged at the call sites: `unpersist` on a
  * reliably-checkpointed plan's RDD is a no-op on the FILES (Spark's
  * `spark.cleaner.referenceTracking.cleanCheckpoints` governs those), so
  * superseded rounds keep their files until session end — bounded by
  * rounds × frame size, on scratch storage sized for exactly that.
  */
object Checkpoints {

  /** Runtime conf key enabling reliable checkpoints (value = DFS dir). */
  val ConfKey = "spark.graft.checkpoint.dir"

  /** The configured reliable-checkpoint dir, if any. */
  private[graft] def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(ConfKey).map(_.trim).filter(_.nonEmpty)

  /** Cut lineage: `localCheckpoint` by default, reliable `checkpoint`
    * when the knob is set. Always eager — every call site materializes
    * the round before releasing its predecessor.
    */
  def cut(df: DataFrame): DataFrame = reliableDir(df) match {
    case None => df.localCheckpoint(true)
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
      df.checkpoint(true)
  }

  /** Release a [[cut]] frame's blocks, non-blocking: unpersist the
    * checkpointed RDDs its own plan reads (a cut rewrites the plan to a
    * `LogicalRDD` whose `rdd` holds the blocks, and frames derived from it
    * with narrow projections read the same one). Never a global
    * `getPersistentRDDs` delta, which under concurrent queries on a shared
    * session could unpersist another query's local checkpoint, a loss no
    * recompute repairs.
    */
  def release(cut: DataFrame): Unit =
    cut.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
      .foreach(_.unpersist(blocking = false))
}
