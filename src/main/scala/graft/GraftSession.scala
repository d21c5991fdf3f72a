package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's tuned defaults.
  *
  * The reference (uk27/MapReduce-Framework-For-MergeSort) exposes two physical
  * knobs: `chunkSize` (bytes per map task, `Client.java:21`) and `mergeJobs`
  * (merge fan-in, `Server.java:300`). Their Spark equivalents are
  * `spark.sql.files.maxPartitionBytes` (scan split size) and
  * `spark.sql.shuffle.partitions` (reduce fan-in); both are set here and
  * overridable per-session. Fault tolerance (the bulk of the reference's code:
  * heartbeats `Server.java:588-650`, retry `Server.java:183-188`, speculation
  * `Server.java:194-259`) maps to Spark conf, not code: `spark.task.maxFailures`,
  * `spark.speculation`, `spark.network.timeout`.
  *
  * Scale notes (100 TB / 1000 executors): AQE is on so skewed shuffles re-plan
  * at runtime (`skewJoin`, partition coalescing); shuffle partition count here
  * is a local[32] default — a real cluster wants ~2-3x total cores or AQE's
  * `spark.sql.adaptive.coalescePartitions.initialPartitionNum` sized to
  * data/128MB.
  *
  * Minimum-partition rule: AQE coalesces a shuffle to no fewer than
  * `4 × shufflePartitions` partitions (`coalescePartitions.minPartitionNum`,
  * a constant beside `initialPartitionNum` at 8×), unless that would make them
  * smaller than `minPartitionSize`. Every session the repository builds sets
  * `shufflePartitions` to its core count, so that is four waves per core,
  * which bound the tail a retried or straggling task adds to its stage to
  * about a quarter; at Spark's default of one partition per core, the paper
  * sort's final stage ran a second wave for its one injected fault. The rule
  * is scale-neutral: the advisory size still caps every partition (which
  * governs at 100 TB), and the 64k `minPartitionSize` floor still governs
  * shuffles too small to fill the cores.
  */
object GraftSession {

  def builder(
      master: String = "local[32]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // engine extensions: codegen'd vector kernels (GraftExtensions)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // bucketed-table demos write here, never into the repo working dir
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Shuffles START at 8x the base partition count and AQE coalesces
      // DOWN to the advisory size — without this, `shuffle.partitions` is a
      // hard ceiling AQE can never raise, and any shuffle whose data
      // outgrows base-count × executor-memory spills (measured: the 100x
      // q_dedup_jaccard postings shuffle went super-linear at 32
      // partitions). At small SF the coalesce collapses the extra
      // partitions, so local runs keep their plans; override via
      // SPARK_GRAFT_INIT_PARTITIONS (a real cluster wants ~data/128MB).
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTITIONS",
          (shufflePartitions * 8).toString))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // r20 (guide §2.5/§2.6 idle capacity): AQE's coalescing floor.
      // With parallelismFirst=true (default) AQE targets
      // max(bytes/maxParallelism, minPartitionSize) per post-shuffle
      // partition; the default 1 MB floor collapses the engine's
      // COMPUTE-heavy, byte-light shuffles (shingle postings, sketch
      // buckets, adjacency arrays — kilobytes per row-group but tens of
      // ms of expression work per row) onto a handful of cores. A lower
      // floor only affects shuffles small enough to hit it — at 100 TB
      // bytes/maxParallelism dominates and the value is irrelevant, so
      // this is scale-neutral, not a local[32] tune. A/B-measured at
      // sf0.1 over the 12 heaviest queries (min-of-3-clean, same set):
      // 1m (default) 54.9 s → 128k 44.1 → 64k 40.4 → 16k 48.2 —
      // 64k is the optimum and the tail is flat across all four
      // (q_agg 0.39/0.38, q_window 0.31/0.32, q_tpch_q6 0.17/0.18).
      // Overridable for cluster profiles (SPARK_GRAFT_MIN_PARTITION_SIZE).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"))
      // Minimum-partition rule (scaladoc above): AQE's coalescing target is
      // max(min(advisory, bytes / (4 × shufflePartitions)), minPartitionSize)
      // instead of Spark's default bytes / defaultParallelism.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        (shufflePartitions * 4).toString)
      // r20 (guide §2.2 "fewer, larger partitions"): let AQE coalesce the
      // LAST stage of cached plans too. By default Spark pins a cached
      // plan's output partitioning (canChangeCachedPlanOutputPartitioning
      // = false), so every `persist()` inside the iterative graph loops
      // (k-core, LPA, PageRank, triangle census) materialized its cache at
      // the un-coalesced initialPartitionNum (8x cores, above) and every
      // downstream round ran ~256-task stages over kilobyte partitions —
      // measured q_kcore: 5,928 tasks / 219 s executor time at sf0.1,
      // ~35 ms/task of pure per-task overhead. With coalescing the cache
      // materializes at AQE's advisory-sized partitioning — the same
      // scale-adaptive rule every uncached shuffle already follows (at
      // 100 TB the advisory size yields MORE partitions, not fewer; this
      // is not a local-only constant).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        sys.env.getOrElse("SPARK_GRAFT_CACHE_COALESCE", "true"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries ns-precision timestamps, which Spark's parquet
      // reader rejects ([PARQUET_TYPE_ILLEGAL]); read them as raw nano longs
      // and convert explicitly (EventOps.normalizeTs).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // mirrors the reference's task retry (`Server.java:183-188`)
      .config("spark.task.maxFailures", "4")
      // mirrors the reference's proactive redundant execution
      // (`Server.java:194-259,431-508`: same task on NumForRedundantTasks
      // nodes, first winner kills the rest). Spark's version is reactive —
      // only stragglers past the quantile/multiplier get a second copy —
      // which the reference's own Performance Evaluation argues for: its
      // proactive mode measured ~3x SLOWER than single-fault mode (PDF p.4).
      .config("spark.speculation", "true")
      .config("spark.speculation.multiplier", "3")
      .config("spark.speculation.quantile", "0.9")

  def get(): SparkSession = builder().getOrCreate()

  /** The one session the harness mains (Bench, Verify and the tools) run
    * in: `local[n]` with `n` shuffle partitions, where `n` is
    * `SPARK_GRAFT_CPUS` (default 4), WARN logging and
    * [[quietHarnessLogs]]. Per-run conf goes through `spark.conf.set`
    * after the session is built.
    */
  def harness(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = builder(master = s"local[$cpus]", shufflePartitions = cpus,
      appName = appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    quietHarnessLogs()
    spark
  }

  /** Silence benign-but-floody loggers in HARNESS sessions (Bench/Verify).
    *
    * The iterative closures (connected components, label propagation,
    * k-core) cut lineage with `localCheckpoint`; when ContextCleaner later
    * unpersists those RDDs, every one logs a WARN ("RDD n was locally
    * checkpointed, its lineage has been truncated and cannot be recomputed
    * after unpersisting") under its concrete class logger
    * (`MapPartitionsRDD` et al). Benign here — the RDDs are finished with
    * by construction — but r19 showed the spam filling the driver's entire
    * 2,000-char output tail and evicting the bench's compact result line.
    * Demote the whole `org.apache.spark.rdd` package to ERROR for the
    * session; call AFTER `setLogLevel` (which resets the root level).
    * Harness-only: library users keep Spark's default logging.
    */
  def quietHarnessLogs(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

  /** Load one of the standard test tables from a scale-factor directory. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** SCAN-PARALLELISM FLOOR (r20, guide §2.5 "input skew — one huge
    * unsplittable file … repartition immediately after the read"): when a
    * source's split count is far below the session's parallelism, fan it
    * out ONCE so every downstream map-side derivation runs wide; when the
    * scan is already wide (the 100 TB case: thousands of row groups), this
    * is an exact no-op — no shuffle, no plan change.
    *
    * Why it exists: parquet scan parallelism is bounded by row-group
    * layout, not by `spark.sql.files.maxPartitionBytes` — a single-row-
    * group file yields ONE scan task no matter the split config (the
    * fixture tables are exactly that, and a real pipeline meets the same
    * shape in gzip logs, dimension exports, single-writer dumps). Measured
    * at sf0.1/local[32] before this floor: the suite's heaviest stage
    * (q_dedup_strike's tokenize→20-gram→md5 map) ran 3.4 s on one core
    * with 31 idle.
    *
    * The floor only ever fires where the added exchange is provably
    * cheap relative to what it parallelizes: callers apply it to the
    * narrow text/payload corpus feeding expensive per-row derivations,
    * never to wide fact scans whose first real operator is already a
    * shuffle. The 4x margin keeps it off when the scan is within a small
    * factor of the core count (a shuffle to gain < 4x concurrency is
    * noise either way).
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 4 <= target) df.repartition(target) else df
  }
}
