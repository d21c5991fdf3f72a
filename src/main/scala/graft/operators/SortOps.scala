package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sort operators — the reference engine's entire query surface, Spark-first.
  *
  * The reference computes a total-order sort as: chunked scan
  * (`ServerHandler.java:43-52`) → per-chunk in-memory sort
  * (`NodeHandler.java:77`) → multi-round k-way merge (`Server.java:290-405`,
  * `NodeHandler.java:204-290`). On Spark the whole pipeline is one declarative
  * `orderBy`: Catalyst plans `Sort(global=true)` as a range-partitioning
  * exchange (sampled split points) followed by per-partition sort — the
  * TeraSort shape. The merge *tree* disappears: one shuffle round replaces
  * `ceil(log_mergeNumber(numChunks))` merge rounds, and spill-merge inside
  * `UnsafeExternalSorter` does the per-partition k-way merging with a real
  * priority queue (the reference uses an O(k) linear scan per element,
  * `NodeHandler.java:247-257`).
  *
  * Scale: range partitioning keeps every partition independently sorted and
  * lexicographically ordered across partitions, so a 100 TB sort never
  * single-threads; the output is globally ordered as (partition index, row
  * index) without any final merge. Skewed keys are handled by AQE; sampling
  * for range bounds is O(partitions), not O(rows).
  */
object SortOps {

  /** Total-order sort — the reference's `sortFile` (`ServerHandler.java:23-80`).
    * One range-shuffle + per-partition sort; no driver-side merging.
    */
  def totalSort(df: DataFrame, keys: Seq[Column]): DataFrame =
    df.orderBy(keys: _*)

  /** Per-partition sorted runs — the reference's map phase (`sortChunk`,
    * `NodeHandler.java:37-117`). Rows are bucketed by a deterministic run id
    * (the analog of the chunk number) and sorted within each run; no global
    * shuffle ordering is imposed beyond the run id itself.
    *
    * `runId` must be a deterministic expression over the row (NOT
    * `spark_partition_id()`) so results are reproducible and oracle-checkable.
    */
  def sortedRuns(df: DataFrame, runId: Column, keys: Seq[Column]): DataFrame =
    df.withColumn("run_id", runId)
      .repartition(col("run_id"))
      .sortWithinPartitions(col("run_id") +: keys: _*)

  /** TeraSort decomposition: range-partition on the run id, then sort within
    * each partition. Because partitions cover disjoint ascending key ranges,
    * the concatenation of partitions in index order IS the total order — the
    * reference needs `log_k(n)` merge rounds to get there
    * (`Server.java:293-297,400`); this needs zero. This is exactly how
    * Catalyst executes `orderBy`, written out as its two physical halves.
    */
  def rangeSortedRuns(df: DataFrame, runId: Column, keys: Seq[Column]): DataFrame =
    df.withColumn("run_id", runId)
      // Range-partition on (run_id, keys), not run_id alone: a
      // low-cardinality run id (the reference uses ceil(fileSize/chunkSize)
      // chunks, `ServerHandler.java:43-52`) would cap the partition count at
      // the number of distinct run ids — at 100 TB all sorting would funnel
      // through those few tasks. Including the sort keys lets the range
      // sampler split WITHIN a run, so parallelism scales with data while
      // partition concatenation order still yields (run_id, keys) order.
      .repartitionByRange(col("run_id") +: keys: _*)
      .sortWithinPartitions(col("run_id") +: keys: _*)

  /** K-way merge of sorted runs — the reference's reduce phase
    * (`mergeSortedChunks`, `NodeHandler.java:204-290`). A merge of sorted runs
    * is exactly a duplicate-preserving sorted union-all, so: union the runs and
    * let the range-shuffle sort re-establish the total order. Spark needs no
    * multi-round merge tree (`Server.java:290-405`): fan-in is bounded by the
    * shuffle, not by an RPC parameter.
    */
  def mergeRuns(runs: Seq[DataFrame], keys: Seq[Column]): DataFrame =
    runs.reduce(_ unionByName _).orderBy(keys: _*)

  /** [[mergeRuns]] over k RANGE-disjoint runs of one table — the
    * scale-efficient formulation of "merge k sorted run files"
    * (`NodeHandler.java:204-290`). The r1 version split runs with mod
    * predicates, which cannot prune parquet, so k runs cost k full scans.
    * Range predicates on a min/max-indexed key DO prune row groups
    * (PushedFilters: GreaterThanOrEqual/LessThan), so the k filtered scans
    * read disjoint row-group subsets — total IO ≈ one scan. The one-row
    * min/max aggregate to compute the split points is the same O(1) driver
    * exchange Spark's own range-bounds sampling performs.
    */
  def mergeRangeRuns(df: DataFrame, splitKey: Column, nRuns: Int, keys: Seq[Column]): DataFrame = {
    val Array(lo, hi) = df.agg(min(splitKey).cast("long"), max(splitKey).cast("long"))
      .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
    val step = math.max(1L, (hi - lo) / nRuns + 1)
    val runs = (0 until nRuns).map { i =>
      val (l, h) = (lo + i * step, lo + (i + 1) * step)
      df.filter(splitKey >= l && splitKey < h)
    }
    mergeRuns(runs, keys)
  }

  /** Top-k: the natural generalization of the reference's full sort. Catalyst
    * plans `TakeOrderedAndProject` — per-partition heap of k then a k-sized
    * driver merge; no full shuffle at any scale.
    */
  def topK(df: DataFrame, k: Int, keys: Seq[Column]): DataFrame =
    df.orderBy(keys: _*).limit(k)

  /** [[topK]] numbered: the first `k` rows by `keys` as (rank, `cols`…),
    * rank 1..min(k, n) in key order, ordered by rank. The keys are given
    * once, so the sort and the rank cannot disagree; the rank window runs
    * over the k survivors only, never a global single-partition window.
    */
  private[graft] def rankedTopK(df: DataFrame, k: Int, keys: Seq[Column],
      cols: Seq[Column]): DataFrame =
    topK(df, k, keys)
      .withColumn("rank", row_number().over(Window.orderBy(keys: _*)))
      .select(col("rank") +: cols: _*)
      .orderBy(col("rank"))

  /** Per-chunk statistics — the reference's job-statistics surface
    * (`Server.java:29-48`, `ServerHandler.java:66-75`) recast over data: row
    * counts per deterministic bucket (the analog of per-chunk task counters).
    * Partial aggregation makes this one light shuffle of `numBuckets` rows per
    * mapper regardless of input size.
    */
  def chunkStats(df: DataFrame, bucket: Column): DataFrame =
    df.groupBy(bucket.as("bucket")).agg(count(lit(1)).as("n_rows"))
      .orderBy(col("bucket"))
}
