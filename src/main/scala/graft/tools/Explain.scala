package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan-audit tool: print the formatted physical plan of one or more
  * declared queries without executing them — the `.explain("formatted")`
  * loop the build workflow runs after every new operator (is the filter
  * pushed? is the small side broadcast? any cartesian?). Usage:
  *
  * {{{
  *   runMain graft.tools.Explain <sfDir> <query>[,<query>...]
  * }}}
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Explain <sfDir> <q1>[,<q2>...]")
    val names = SparkEntry.queryNames(args(1))
    val spark = GraftSession.harness("graft-explain")
    names.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, args(0)).explain("formatted")
    }
    spark.stop()
  }
}
