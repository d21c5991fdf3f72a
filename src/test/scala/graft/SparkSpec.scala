package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites. `local[8,2]` enables in-task retry
  * (maxTaskFailures=2) so fault-tolerance parity tests can inject a
  * first-attempt failure — the moral equivalent of the reference's
  * `checkFail` fault injection (`Server.java:87-96`). Logs at WARN with
  * [[GraftSession.quietHarnessLogs]], as the harness session does.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(master = "local[8,2]", shufflePartitions = 8).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftSession.quietHarnessLogs()
    s
  }
  def sf(name: String, dir: String = "/root/testdata/sf0.001") =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `run`'s result and the ids of the RDDs it left persisted: persisted
    * after it and not before it. Ids, not a count: the context cleaner may
    * unpersist an earlier test's garbage-collected RDD during `run`, and a
    * count difference would net that against a leak.
    */
  def persistedBy[T](run: => T): (T, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = run
    (out, (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet)
  }
}
