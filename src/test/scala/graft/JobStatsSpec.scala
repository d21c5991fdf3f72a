package graft

import org.apache.spark.sql.functions._

class JobStatsSpec extends SparkSpec {

  // Each test reads ONE snapshot taken right after its action: `snapshot`
  // drains the async listener bus itself, so no polling is needed.

  test("JobStats counts tasks, time, and bytes for work run while attached") {
    val stats = JobStats.attach(spark)
    try {
      sf("lineitem").groupBy("l_returnflag").count().collect()
      val s = stats.snapshot
      assert(s.tasksCompleted > 0)
      assert(s.tasksFailed == 0)
      assert(s.bytesRead > 0, "parquet scan bytes should be counted")
    } finally stats.close()
  }

  test("JobStats counts failed attempts under injected faults (reference stats parity)") {
    import org.apache.spark.TaskContext
    import spark.implicits._
    val stats = JobStats.attach(spark)
    try {
      val xs = (1 to 100).toDF("value").repartition(4).rdd.mapPartitions { it =>
        val tc = TaskContext.get()
        if (tc.attemptNumber() == 0 && tc.partitionId() == 0)
          throw new RuntimeException("injected fault (checkFail parity)")
        it
      }
      assert(xs.count() == 100)
      val s = stats.snapshot
      assert(s.tasksFailed >= 1, "the injected first-attempt failure must be counted")
      assert(s.tasksCompleted >= 4)
    } finally stats.close()
  }
}
