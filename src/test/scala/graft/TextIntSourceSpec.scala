package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

class TextIntSourceSpec extends SparkSpec {
  import spark.implicits._

  private def writeTemp(content: String): String = {
    val dir = Paths.get(Spill.newDir("graft_textint_v2"))
    Files.write(dir.resolve("part-00000.txt"), content.getBytes(StandardCharsets.UTF_8))
    dir.toString
  }

  private def readV2(path: String, chunkSize: Long): Seq[Int] =
    spark.read.format("textint")
      .option("chunkSize", chunkSize)
      .load(path)
      .as[Int].collect().toSeq

  test("every chunkSize yields the same multiset: no token split or double-read") {
    // tokens of varying width, multi-space runs, newlines — every boundary
    // position in this content is hit by some chunkSize below
    val content = "7 42  999999 3\n1000000 5 -12  8 123456789 0"
    val expected = Seq(7, 42, 999999, 3, 1000000, 5, -12, 8, 123456789, 0)
    val path = writeTemp(content)
    (1L to content.length + 2).foreach { cs =>
      val got = readV2(path, cs)
      assert(got.sorted == expected.sorted, s"chunkSize=$cs got $got")
    }
  }

  test("split planning: ceil(len/chunkSize) partitions, metadata only") {
    val content = "1 2 3 4 5 6 7 8 9 10"
    val path = writeTemp(content)
    val df = spark.read.format("textint").option("chunkSize", 7).load(path)
    assert(df.rdd.getNumPartitions == (content.length + 6) / 7)
    assert(df.as[Int].collect().sorted.toSeq == (1 to 10))
  }

  test("lenient default drops malformed tokens; strict mode names them") {
    val path = writeTemp("1 x2x 3")
    assert(readV2(path, 100).sorted == Seq(1, 3))
    val strict = spark.read.format("textint")
      .option("lenient", false).load(path)
    val e = intercept[org.apache.spark.SparkException] { strict.collect() }
    assert(e.getCause.getMessage.contains("x2x"))
  }

  test("empty file and whitespace-only file read as zero rows") {
    assert(readV2(writeTemp(""), 10).isEmpty)
    assert(readV2(writeTemp("   \n  "), 3).isEmpty)
  }

  test("values beyond the reference's 999999 sentinel survive (bug not inherited)") {
    val ints = Seq(999998, 999999, 1000000, Int.MaxValue, Int.MinValue)
    val path = writeTemp(ints.mkString(" "))
    (1L to 12L).foreach { cs =>
      assert(readV2(path, cs).sorted == ints.sorted, s"chunkSize=$cs")
    }
  }

  test("a scan in chunks shorter than the reader's buffer reads each byte about once") {
    val rng = new scala.util.Random(3)
    val path = writeTemp(Seq.fill(20000)(rng.nextInt()).mkString(" "))
    val size = Files.size(Paths.get(path, "part-00000.txt"))
    val stats = JobStats.attach(spark)
    val read = try {
      spark.read.format("textint").option("chunkSize", 4096).load(path)
        .write.format("noop").mode("overwrite").save()
      stats.snapshot.bytesRead
    } finally stats.close()
    assert(read >= size && read <= 1.05 * size, s"read $read bytes of a $size-byte file")
  }

  test("directory input: all part files read, underscore/dot files skipped") {
    val dir = Paths.get(Spill.newDir("graft_textint_dir"))
    Files.write(dir.resolve("a.txt"), "1 2".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("b.txt"), "3 4".getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("_SUCCESS"), "99".getBytes(StandardCharsets.UTF_8))
    assert(readV2(dir.toString, 100).sorted == Seq(1, 2, 3, 4))
  }

  test("V2 write: round trip preserves the multiset; files are space-joined") {
    val tmp = Spill.newDir("graft_v2w") + "/out"
    val xs = Seq(5, -3, 999999, 0, 1000000, 42)
    xs.toDF("value").coalesce(2).write.format("textint").mode("append").save(tmp)
    assert(readV2(tmp, 16).sorted == xs.sorted)
    // visible files are committed parts only — no temp residue (hidden
    // .crc checksums are Hadoop LocalFS artifacts, invisible to readers)
    // — and the content is the reference's exact format (single spaces,
    // no trailing delimiter)
    val files = new java.io.File(tmp).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(files.nonEmpty && files.forall(_.startsWith("part-")), files.mkString(","))
    val body = new String(Files.readAllBytes(
      new java.io.File(tmp, files.head).toPath), StandardCharsets.UTF_8)
    assert(!body.startsWith(" ") && !body.endsWith(" ") && !body.contains("  "))
  }

  test("V2 write: overwrite truncates old parts atomically in the commit") {
    val tmp = Spill.newDir("graft_v2o") + "/out"
    Seq(1, 2, 3).toDF("value").write.format("textint").mode("append").save(tmp)
    Seq(9, 8).toDF("value").write.format("textint").mode("overwrite").save(tmp)
    assert(readV2(tmp, 64).sorted == Seq(8, 9))
  }

  test("V2 write of a range-partitioned sort: part concat IS the total order") {
    val tmp = Spill.newDir("graft_v2s") + "/out"
    val ints = sf("lineitem").select(col("l_orderkey").cast("int").as("value"))
    ints.repartitionByRange(4, col("value")).sortWithinPartitions("value")
      .write.format("textint").mode("append").save(tmp)
    // concatenating part files in name order must already be sorted —
    // the TeraSort contract, no post-sort read needed
    val dir = new java.io.File(tmp)
    val concat = dir.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .flatMap(f => new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        .split("\\s+").filter(_.nonEmpty).map(_.toInt)).toSeq
    assert(concat == concat.sorted && concat.sorted == ints.as[Int].collect().toSeq.sorted)
  }

  test("end-to-end: V2 scan of a TeraSort-partitioned write, totally sorted") {
    val ints = sf("lineitem").select(col("l_orderkey").cast("int").as("value"))
    val tmp = Spill.newDir("graft_textint_rt")
    graft.sources.TextIntIO.sort(ints).write.format("textint").mode("overwrite").save(s"$tmp/ints")
    val back = spark.read.format("textint").option("chunkSize", 4096)
      .load(s"$tmp/ints").orderBy("value").as[Int].collect().toSeq
    val expected = ints.as[Int].collect().toSeq.sorted
    assert(back == expected)
  }

  /** Seeded ints → `textint` source → [[graft.sources.TextIntIO.sort]] →
    * `textint` sink; returns the part files' values in name order and the
    * number of part files.
    */
  private def sortRoundTrip(xs: Seq[Int]): (Seq[Int], Int) = {
    val in = writeTemp(xs.mkString(" "))
    val out = Paths.get(Spill.newDir("graft_v2_sort")).resolve("out")
    graft.sources.TextIntIO.sort(
      spark.read.format("textint").option("chunkSize", 1L << 20).load(in))
      .write.format("textint").mode("append").save(out.toString)
    val parts = out.toFile.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val concat = parts.toSeq.flatMap(f =>
      new String(Files.readAllBytes(f.toPath), StandardCharsets.US_ASCII)
        .split(" ").filter(_.nonEmpty).map(_.toInt))
    (concat, parts.length)
  }

  test("a sort big enough to fill every core writes four partitions per core") {
    val rng = new scala.util.Random(23)
    val xs = Seq.fill(2000000)(rng.nextInt())
    val (concat, files) = sortRoundTrip(xs)
    // minPartitionNum = 4 × the spec session's 8 shuffle partitions
    assert(files >= 4 * 8, s"$files part files")
    assert(concat == xs.sorted)
  }

  test("a small sort still coalesces to at most one partition per core") {
    val rng = new scala.util.Random(29)
    val xs = Seq.fill(10000)(rng.nextInt())
    val (concat, files) = sortRoundTrip(xs)
    assert(files <= 8, s"$files part files")
    assert(concat == xs.sorted)
  }

  // The reader parses BYTES: Integer.parseInt of the token's bytes read as
  // ISO-8859-1 chars is its exact oracle. (parseInt of the decoded string
  // would accept non-ASCII digits such as U+0663 '٣'; the reader must not.)
  private def parseIntOfBytes(t: String): Option[Int] = scala.util.Try(Integer.parseInt(
    new String(t.getBytes(StandardCharsets.UTF_8), StandardCharsets.ISO_8859_1))).toOption

  test("byte-level parse matches Integer.parseInt token for token, any chunkSize") {
    val tokens = Seq("+7", "-0", "007", "-", "+", "2147483647", "2147483648",
      "-2147483648", "-2147483649", "0" * 28 + "42", "9" * 25, "٣", "12")
    val delims = Seq(" ", "\r\n", "\t", "  \n")
    val content = tokens.zipWithIndex.map { case (t, k) => t + delims(k % delims.size) }.mkString
    val expected = tokens.flatMap(parseIntOfBytes)
    assert(expected == Seq(7, 0, 7, Int.MaxValue, Int.MinValue, 42, 12))
    val path = writeTemp(content)
    (1L to 40L).foreach { cs =>
      assert(readV2(path, cs) == expected, s"chunkSize=$cs")
    }
    val strict = spark.read.format("textint").option("lenient", false).load(path)
    val e = intercept[org.apache.spark.SparkException](strict.collect())
    assert(e.getCause.getMessage.contains("unparseable token '-' "), e.getCause.getMessage)
  }

  test("tokens straddling the reader's buffer refill parse whole") {
    import graft.sources.v2.TextIntPartitionReader.BufBytes
    // split 0 refills at BufBytes and 2*BufBytes: one good and one bad
    // token straddle those two offsets
    val pad = "7 " * ((BufBytes - 4) / 2)
    val mid = " 5" * ((BufBytes - 12) / 2)
    val content = pad + "-2147483648" + mid + " 12x34567 3"
    assert(content.indexOf("-2147483648") < BufBytes &&
      content.indexOf("-2147483648") + 11 > BufBytes)
    assert(content.indexOf("12x34567") < 2 * BufBytes &&
      content.indexOf("12x34567") + 8 > 2 * BufBytes)
    val expected = content.split(" ").toSeq.filter(_.nonEmpty).flatMap(parseIntOfBytes)
    val path = writeTemp(content)
    Seq(4L * BufBytes, BufBytes - 3L, BufBytes.toLong, BufBytes + 1L, 40000L).foreach { cs =>
      assert(readV2(path, cs) == expected, s"chunkSize=$cs")
    }
    val strict = spark.read.format("textint").option("lenient", false).load(path)
    val e = intercept[org.apache.spark.SparkException](strict.collect())
    assert(e.getCause.getMessage.contains("unparseable token '12x34567' "),
      e.getCause.getMessage)
  }

  test("a token running to end of file ends the scan when the last read fills the buffer") {
    import graft.sources.v2.TextIntPartitionReader.BufBytes
    Seq(BufBytes, 2 * BufBytes).foreach { len =>
      val content = ("123 " * (len / 4)).dropRight(1) + "9" // ends in a digit, no delimiter
      assert(content.length == len)
      val expected = content.split(" ").toSeq.map(_.toInt)
      val path = writeTemp(content)
      // BufBytes + 1 starts the last split of the 2*BufBytes file at BufBytes + 1,
      // so that split reads exactly BufBytes bytes from start - 1
      Seq(4L * BufBytes, BufBytes.toLong, BufBytes + 1L, BufBytes - 3L, 40000L).foreach { cs =>
        assert(readV2(path, cs) == expected, s"len=$len chunkSize=$cs")
      }
    }
  }

  test("V2 write: a part file is byte-identical to mkString(\" \") across flushes") {
    val rng = new scala.util.Random(11)
    val xs = Seq(Int.MinValue, Int.MaxValue, 0, -1, 9, 10, 99, 100, 999999999,
      1000000000, -1000000000) ++ Seq.fill(100000)(rng.nextInt())
    val out = Paths.get(Spill.newDir("graft_v2b")).resolve("out")
    xs.toDF("value").coalesce(1).write.format("textint").mode("append").save(out.toString)
    val parts = out.toFile.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(","))
    val body = Files.readAllBytes(parts.head.toPath)
    assert(body.length > 8 * 64 * 1024) // many flushes of the writer's 64 KiB buffer
    assert(java.util.Arrays.equals(body, xs.mkString(" ").getBytes(StandardCharsets.US_ASCII)))
  }
}
