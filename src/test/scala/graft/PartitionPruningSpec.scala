package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Partition pruning — the #1 scan reducer at 100 TB (a date/lang/source
  * partitioned lake is the default layout, and a pruned scan reads only
  * the matching directories). Two layers pinned here:
  *
  *  - STATIC pruning: a literal filter on the partition column reaches the
  *    file index as a `PartitionFilters` entry and the scan's selected
  *    partition set shrinks to exactly the matching directories — before
  *    any task launches;
  *  - DYNAMIC pruning (DPP): when the filter lives on a joined dimension
  *    (the star-schema case — `WHERE dim.pred` with fact partitioned on
  *    the join key), Catalyst injects a `dynamicpruning` subquery filter
  *    so the fact scan is pruned at RUNTIME by the dim's build side.
  *
  * Complements BucketingSpec (shuffle elimination) — together they are the
  * layout story: bucket the join keys, partition the filter keys.
  */
class PartitionPruningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Spill.newDir("graft_part")
    sf("documents").write.mode("overwrite").partitionBy("lang").parquet(d)
    d
  }

  private def docScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec =
    df.queryExecution.executedPlan.collectFirst {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.toString.contains("graft_part")) => f
    }.get

  test("static pruning: a partition-column literal filter scans only its directory") {
    val all = spark.read.parquet(dir)
    val langs = all.select("lang").distinct().as[String].collect()
    assert(langs.length > 1, "fixture needs multiple partitions")
    val one = all.filter(col("lang") === langs.head)
    val scan = docScan(one)
    // the filter reached the partition index, not the row pipeline
    assert(scan.partitionFilters.nonEmpty, "partition filter missing from scan")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition, got ${scan.selectedPartitions.partitionCount}")
    // and an unfiltered scan sees them all
    assert(docScan(all.filter(col("n_chars") >= 0)).selectedPartitions.partitionCount == langs.length)
    // correctness of the pruned read
    assert(one.count() == sf("documents").filter(col("lang") === langs.head).count())
  }

  test("dynamic partition pruning: a dimension filter prunes the fact scan at runtime") {
    // DPP's benefit heuristic compares estimated pruned bytes against the
    // filter cost and rightly refuses on a KB-sized fixture — force the
    // fallback estimate so the mechanism itself is what's under test
    val conf = spark.conf
    val prevStats = conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    val prevRatio = conf.get("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio")
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "100000")
    try {
      val fact = spark.read.parquet(dir)
      val langs = fact.select("lang").distinct().as[String].collect().sorted
      // the dim must be a real scan: a literal filter over a local
      // relation constant-folds away (ConvertToLocalRelation) and the
      // DPP rule then sees no selective filter to reuse
      val dimDir = Spill.newDir("graft_dim")
      langs.map(l => (l, s"name_$l")).toSeq.toDF("lang", "lang_name")
        .write.mode("overwrite").parquet(dimDir)
      val dim = spark.read.parquet(dimDir)
      val joined = fact.join(dim.filter(col("lang_name") === s"name_${langs.head}"), "lang")
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("dynamicpruning"),
        s"expected a dynamicpruning subquery in the fact scan:\n${planStr.take(2000)}")
      // runtime result equals the statically-filtered equivalent
      assert(joined.count() ==
        sf("documents").filter(col("lang") === langs.head).count())
    } finally {
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", prevRatio)
    }
  }
}
