package perfbench

import java.io.File

import graft.SparkEntry

/** Runs each named query once, in one session over the sf0.1 fixtures, and
  * prints `query<TAB>seconds<TAB>pin`: the columns of `suites.tsv` after
  * the suite name. Used to pin the suites, and to re-pin a query whose
  * result a change alters on purpose. Run through `run.py --pin q_a,q_b`.
  */
object Pin {
  def main(args: Array[String]): Unit = {
    val Array(root, work, names) = args
    val fixtures = new File(root, "perfbench/fixtures/sf0.1").getPath
    val spark = Main.session(Runtime.getRuntime.availableProcessors, new File(work))
    for (q <- names.split(',')) {
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, fixtures)
        .write.format(classOf[FingerprintSink].getName).option("id", q).mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$q\t$s%.3f\t${FingerprintSink.take(q).get.render}")
    }
    spark.stop()
  }
}
