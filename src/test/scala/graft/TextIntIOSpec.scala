package graft

import java.nio.file.{Files, Paths}

import graft.sources.TextIntIO

class TextIntIOSpec extends SparkSpec {

  test("read: lenient mode drops malformed tokens, strict mode raises") {
    val tmp = Paths.get(Spill.newDir("graft_bad")).resolve("f.txt")
    java.nio.file.Files.writeString(tmp, "1 2 oops 4")
    import spark.implicits._
    val lenientVals = graft.sources.TextIntIO.read(spark, tmp.toString)
      .as[Int].collect().sorted
    assert(lenientVals.toSeq == Seq(1, 2, 4))
    val strict = graft.sources.TextIntIO.read(spark, tmp.toString, lenient = false)
    val ex = intercept[Exception](strict.collect())
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(m => m.contains("oops") || m.contains("CAST_INVALID_INPUT")),
      messages(ex).mkString(" | "))
  }

  private def tmp(prefix: String): String = Spill.newDir(prefix)

  private def writeInput(xs: Seq[Int]): String = {
    val dir = tmp("textint")
    val f = Paths.get(dir, "input.txt")
    Files.write(f, xs.mkString(" ").getBytes("UTF-8"))
    f.toString
  }

  test("round-trip: read → sort → single-file write matches reference format") {
    val xs = Seq(42, 7, 999, 7, -3, 100000)
    val in = writeInput(xs)
    val out = Paths.get(tmp("textint"), "out.txt").toString
    TextIntIO.writeSingleFile(TextIntIO.read(spark, in), out)
    val got = new String(Files.readAllBytes(Paths.get(out)), "UTF-8")
    assert(got == "-3 7 7 42 999 100000")
  }

  test("chunk boundaries mid-token are handled (preprocessStart/End parity)") {
    // Force many tiny input splits so tokens straddle split boundaries.
    val xs = (1 to 5000).map(i => (i * 7919) % 100003 - 50000)
    val in = writeInput(xs)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      val got = TextIntIO.read(spark, in)
      import spark.implicits._
      assert(got.as[Int].collect().sorted.toSeq == xs.sorted)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("property: engine sort == JVM sort, full Int range incl. sentinel values") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val sentinels = Seq(999999, 999998, 1000000, 999999999, 0, -1,
      Int.MaxValue, Int.MinValue)
    for (trial <- 1 to 8) {
      val n = 1 + rng.nextInt(2000)
      val xs = Seq.fill(n)(rng.nextInt()) ++ rng.shuffle(sentinels).take(trial)
      val in = writeInput(xs)
      val got = TextIntIO.sort(TextIntIO.read(spark, in)).as[Int].collect()
      assert(got.toSeq == xs.sorted, s"trial $trial")
    }
  }

  test("empty input file yields empty result") {
    val in = writeInput(Seq.empty)
    assert(TextIntIO.read(spark, in).count() == 0)
  }

  test("single element") {
    val in = writeInput(Seq(7))
    val out = Paths.get(tmp("textint"), "out.txt").toString
    TextIntIO.writeSingleFile(TextIntIO.read(spark, in), out)
    assert(new String(Files.readAllBytes(Paths.get(out)), "UTF-8") == "7")
  }

  test("partitioned write: lexicographic part order is global order") {
    import spark.implicits._
    val xs = (1 to 10000).map(i => (i * 104729) % 999983)
    val in = writeInput(xs)
    val outDir = tmp("textint-out")
    TextIntIO.writePartitioned(TextIntIO.read(spark, in), outDir)
    val parts = new java.io.File(outDir).listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    val got = parts.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().map(_.toInt))
    assert(got.toSeq == xs.sorted)
  }
}
