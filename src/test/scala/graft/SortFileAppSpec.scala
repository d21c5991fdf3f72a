package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.tools.SortFileApp

class SortFileAppSpec extends SparkSpec {

  private def ints(file: java.io.File): Seq[Int] =
    new String(Files.readAllBytes(file.toPath), StandardCharsets.US_ASCII)
      .split("\\s+").toSeq.filter(_.nonEmpty).map(_.toInt)

  test("SortFileApp sorts the reference's one-line file reading each chunk about once") {
    val rng = new scala.util.Random(5)
    val xs = Seq(Int.MinValue, Int.MaxValue, 999999, 1000000) ++
      Seq.fill(200000 - 4)(rng.nextInt())
    val dir = Paths.get(Spill.newDir("graft_sortfile"))
    val in = dir.resolve("in.txt")
    Files.write(in, xs.mkString(" ").getBytes(StandardCharsets.US_ASCII))
    val size = Files.size(in)

    // the range sort reads its input twice (sampling, then the scan), each
    // 50,000-byte chunk in one read of about its own length
    def check(r: SortFileApp.Result, got: Seq[Int], label: String): Unit = {
      assert(got == xs.sorted, label)
      assert(r.stats.bytesRead >= 2 * size && r.stats.bytesRead <= 2.1 * size,
        s"$label: read ${r.stats.bytesRead} bytes of a $size-byte file")
    }

    val parts = dir.resolve("parts")
    val rp = SortFileApp.run(spark, in.toString, parts.toString, Some(50000L), single = false)
    val files = parts.toFile.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    check(rp, files.toSeq.flatMap(ints), "part files")

    val single = dir.resolve("single.txt")
    val rs = SortFileApp.run(spark, in.toString, single.toString, Some(50000L), single = true)
    check(rs, ints(single.toFile), "single file")
    assert(files.length > 1 &&
      Files.readString(single, StandardCharsets.US_ASCII) == xs.sorted.mkString(" "))
  }
}
