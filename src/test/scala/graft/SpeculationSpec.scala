package graft

import scala.sys.process._

/** End-to-end speculation parity with the reference's redundant-task
  * execution (`Server.java:194-259, 431-508`): GraftSession pins
  * `spark.speculation` + multiplier/quantile, and this spec proves the conf
  * FIRES — a stalled straggler gets a speculative second attempt whose
  * success completes the stage (first-winner, the reference's kill rule).
  *
  * Runs [[graft.tools.SpeculationCheck]] in a forked JVM because the check
  * needs its own SparkContext on a standalone dual-host mini-cluster
  * (speculation never starts under `local[n]`, and never *launches* when
  * every worker shares one hostname — see the tool's scaladoc).
  */
class SpeculationSpec extends SparkSpec {

  test("a stalled straggler gets a speculative attempt that wins the stage") {
    val javaBin = sys.props("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"),
      "graft.tools.SpeculationCheck")
    val out = new StringBuilder
    val code = Process(cmd, None,
      "SPARK_HOME" -> "/opt/spark",
      "SPARK_SCALA_VERSION" -> "2.13")
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    assert(code === 0, s"SpeculationCheck exited $code; tail:\n${out.takeRight(4000)}")
    assert(out.toString.contains("SPECULATIVE_ATTEMPTS="))
    // the workers' work dir (executor logs) goes with the forked JVM
    val workDir = out.toString.linesIterator.find(_.startsWith("WORK_DIR="))
      .map(_.stripPrefix("WORK_DIR="))
    assert(workDir.isDefined, s"no WORK_DIR line; tail:\n${out.takeRight(4000)}")
    assert(!new java.io.File(workDir.get).exists(), s"${workDir.get} outlived the JVM")
  }
}
