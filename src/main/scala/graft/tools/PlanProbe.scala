package graft.tools

import org.apache.spark.sql.DataFrame

/** Executed-plan inspector for declared queries — the round-audit loop's
  * "is there a duplicate scan / missed exchange reuse here?" question,
  * answered mechanically instead of by eyeballing `.explain` dumps.
  *
  * Usage: `PlanProbe <sfDir> <q1,q2,...|all> [full]`
  *
  * Runs each named query to completion (adaptive plans finalize only on
  * execution — the PlanSpec lesson), then prints one summary line per
  * query: counts of parquet scans, shuffle exchanges, reused exchanges/
  * subqueries, broadcast exchanges, sort-merge joins, and
  * whole-stage-codegen spans, plus the scan file names. `full` dumps the
  * whole executed plan after each summary.
  *
  * The counting logic lives in [[PlanProbe.budget]] so PlanBudgetSpec can
  * PIN the counts for the expensive declared queries — the r14 sweep
  * found three redundant-pipeline shapes (5→3 lineitem scans, a duplicate
  * tokenize pass, 24→18 corpus scans) and the ×100 ReuseExchange failure
  * by running this tool BY HAND; a budget a spec asserts fails in CI the
  * day a renamed column before an exchange or a new pushdown-
  * de-canonicalized consumer regresses the plan, not a round later.
  */
object PlanProbe {

  /** Budget-relevant node counts of ONE executed plan. `scanFiles` maps
    * each scanned parquet file name (e.g. "lineitem.parquet") to how many
    * separate scan nodes read it — the duplicate-pipeline smell.
    */
  final case class Budget(
      scans: Int,
      shuffles: Int,
      reusedExch: Int,
      reusedSubq: Int,
      bcast: Int,
      smj: Int,
      codegenSpans: Int,
      scanFiles: Map[String, Int]) {
    override def toString: String = {
      val files = scanFiles.toSeq.sorted.map { case (k, v) => s"$k×$v" }.mkString(" ")
      s"scans=$scans shuffles=$shuffles reusedExch=$reusedExch " +
        s"reusedSubq=$reusedSubq bcast=$bcast smj=$smj codegenSpans=$codegenSpans :: $files"
    }
  }

  /** Executes `df` (collect — a write spawns its OWN QueryExecution,
    * leaving this one un-executed with isFinalPlan=false; adaptive plans
    * only finalize — and reuse only materializes — on execution, the
    * PlanSpec pattern) and counts nodes in the FINAL adaptive plan tree.
    */
  def budget(df: DataFrame): Budget = {
    df.collect()
    // Counted on the plan TREE, not its string (r16): the toString form
    // INLINES every InMemoryRelation's cached plan (with its own
    // FileScan/Exchange/Initial-Plan sections, at an indentation that
    // RESETS for nested caches) and embeds the reused exchange's
    // description in each ReusedExchange line -- both classes of phantom
    // counts a string sweep can only approximate away. The walk descends
    // through adaptive plans and materialized query stages (leaves to
    // TreeNode.collect), into subquery plans, and deliberately NOT into
    // ReusedExchange targets (the original is counted where it lives) or
    // InMemoryTableScan relations (cached -- a scan inside one is not a
    // live scan of this query).
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
    val nodes = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      nodes += p
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _: InMemoryTableScanExec => Nil
        case o => o.children
      }
      kids.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    // Both reader generations count as scans: FileSourceScanExec (DSv1 —
    // today's parquet path) AND BatchScanExec (DSv2 — the custom V2
    // sources now, and every parquet scan the day
    // spark.sql.sources.useV1SourceList changes). Without the v2 arm a
    // reader switch would turn every scans==0 round-budget pin vacuously
    // green instead of failing loudly.
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
    val scans = nodes.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.headOption
        .map(_.getName).getOrElse("?")
      case b: BatchScanExec => b.scan match {
        case fs: FileScan => fs.fileIndex.rootPaths.headOption
          .map(_.getName).getOrElse("?")
        case s => s.getClass.getSimpleName
      }
    }.toSeq
    Budget(
      scans = scans.size,
      shuffles = nodes.count {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case _: HashPartitioning | _: RangePartitioning => true
          case _ => false
        }
        case _ => false
      },
      reusedExch = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      reusedSubq = nodes.count(_.isInstanceOf[ReusedSubqueryExec]),
      bcast = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      codegenSpans = nodes.count(_.isInstanceOf[WholeStageCodegenExec]),
      scanFiles = scans.groupBy(identity).map { case (k, v) => k -> v.size })
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanProbe <sfDir> <q1,q2,...|all> [full]")
    val dir = args(0)
    // "all" sweeps every declared query — the per-round snapshot artifact
    val names =
      if (args(1) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else graft.SparkEntry.queryNames(args(1))
    val full = args.length > 2 && args(2) == "full"
    val spark = graft.GraftSession.harness("graft-planprobe")
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      println(s"[planprobe] $n ${budget(df)}")
      if (full) println(df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head)
    }
    spark.stop()
  }
}
