package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.sources.TextIntIO
import graft.tools.SortFileApp

/** The paper's sort pipeline as `SortFileApp` runs it: the `textint` source,
  * then [[TextIntIO.sort]], then the `textint` sink (or `--single-file`'s
  * concatenation of its parts). The source and sink on their own are
  * covered by TextIntSourceSpec.
  */
class TextIntIOSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Spill.newDir(prefix)

  private def writeInput(xs: Seq[Int]): String = writeText(xs.mkString(" "))

  private def writeText(s: String): String = {
    val f = Paths.get(tmp("textint"), "input.txt")
    Files.write(f, s.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private def readSorted(in: String, chunkSize: Long): Seq[Int] =
    TextIntIO.sort(spark.read.format("textint").option("chunkSize", chunkSize).load(in))
      .as[Int].collect().toSeq

  /** `SortFileApp --single-file` at 8-byte chunks (several scan tasks even
    * for a few ints): the output file's text, after checking that the
    * scratch parts directory is gone.
    */
  private def sortToSingleFile(in: String): String = {
    val scratch = Paths.get(tmp("graft_sortfile_scratch"))
    val out = Paths.get(tmp("textint"), "out.txt")
    sys.props("graft.spill.dir") = scratch.toString
    try SortFileApp.run(spark, in, out.toString, Some(8L), single = true)
    finally sys.props.remove("graft.spill.dir")
    assert(scratch.toFile.list().isEmpty, scratch.toFile.list().mkString(","))
    Files.readString(out, StandardCharsets.US_ASCII)
  }

  test("read: lenient mode drops malformed tokens, strict mode raises") {
    val in = writeText("1 2 oops 4")
    assert(sortToSingleFile(in) == "1 2 4")
    val ex = intercept[Exception] {
      TextIntIO.sort(spark.read.format("textint").option("lenient", false).load(in)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("oops")), messages(ex).mkString(" | "))
  }

  test("round-trip: read → sort → single-file write matches reference format") {
    val xs = Seq(42, 7, 999, 7, -3, 100000)
    val got = sortToSingleFile(writeInput(xs))
    assert(got == xs.sorted.mkString(" ") && got == "-3 7 7 42 999 100000")
  }

  test("chunk boundaries mid-token are handled (preprocessStart/End parity)") {
    // tiny chunks so tokens straddle split boundaries
    val xs = (1 to 5000).map(i => (i * 7919) % 100003 - 50000)
    assert(readSorted(writeInput(xs), 1024) == xs.sorted)
  }

  test("property: engine sort == JVM sort, full Int range incl. sentinel values") {
    val rng = new scala.util.Random(42)
    val sentinels = Seq(999999, 999998, 1000000, 999999999, 0, -1,
      Int.MaxValue, Int.MinValue)
    for (trial <- 1 to 8) {
      val n = 1 + rng.nextInt(2000)
      val xs = Seq.fill(n)(rng.nextInt()) ++ rng.shuffle(sentinels).take(trial)
      assert(readSorted(writeInput(xs), 4096) == xs.sorted, s"trial $trial")
    }
  }

  test("empty input file yields empty result") {
    val in = writeInput(Seq.empty)
    assert(readSorted(in, 8).isEmpty)
    assert(sortToSingleFile(in) == "")
  }

  test("single element") {
    assert(sortToSingleFile(writeInput(Seq(7))) == "7")
  }

  test("partitioned write: lexicographic part order is global order") {
    val xs = (1 to 10000).map(i => (i * 104729) % 999983)
    val outDir = Paths.get(tmp("textint-out"), "parts")
    SortFileApp.run(spark, writeInput(xs), outDir.toString, Some(4096L), single = false)
    val parts = outDir.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val got = parts.toSeq.flatMap(f =>
      Files.readString(f.toPath, StandardCharsets.US_ASCII).split(" ").filter(_.nonEmpty).map(_.toInt))
    assert(got == xs.sorted)
  }
}
