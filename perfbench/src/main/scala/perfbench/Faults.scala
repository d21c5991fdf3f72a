package perfbench

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame

final class InjectedFault(msg: String) extends RuntimeException(msg)

/** The paper's fault model: a task fails with probability `pct`% and is
  * retried. Here each stage fails exactly `pct`% of its tasks (rounded, at
  * least one): those whose partitions rank lowest under a hash of (seed,
  * stage tag, partition). One seed thus fails the same tasks on every run,
  * and every seed fails as many. Only a task's first attempt fails, so
  * every retry succeeds. A chosen task consumes its whole input before it
  * throws: the work it did is lost, as it was in the reference.
  */
final class Faults(seed: Long, pct: Int) extends Serializable {

  def chosen(tag: String, partition: Int, partitions: Int): Boolean = {
    def key(p: Int): Long = IntFile.mix(IntFile.mix(seed) ^ tag.hashCode ^ (p.toLong << 32))
    val k = math.max(1, math.round(partitions * pct / 100.0).toInt)
    val mine = key(partition)
    (0 until partitions).count(q => java.lang.Long.compareUnsigned(key(q), mine) < 0) < k
  }

  /** `df` (one int column `value`) with first-attempt failures injected
    * into the tasks of the stage that computes it.
    */
  def inject(df: DataFrame, tag: String): DataFrame = {
    import df.sparkSession.implicits._
    val self = this
    df.as[Int].mapPartitions { it =>
      val ctx = TaskContext.get()
      val fail = ctx.attemptNumber() == 0 &&
        self.chosen(tag, ctx.partitionId(), ctx.numPartitions())
      if (!fail) it
      else new Iterator[Int] {
        override def hasNext: Boolean = it.hasNext || {
          Faults.injected.incrementAndGet()
          throw new InjectedFault(s"injected fault: $tag partition ${ctx.partitionId()}")
        }
        override def next(): Int = it.next()
      }
    }.toDF(df.columns: _*)
  }
}

object Faults {
  /** Faults thrown so far. Tasks run inside this JVM (local mode), and an
    * accumulator would drop the updates of the very tasks that failed.
    */
  val injected = new java.util.concurrent.atomic.AtomicLong()
}
