package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.sources.TextIntIO

/** One operation of a timed section: construction returns the DataFrame,
  * the action runs it, and the check judges what the action left behind.
  */
trait Op {
  def name: String
  def construct(spark: SparkSession): DataFrame
  def action(df: DataFrame, tag: String): Unit
  /** None when the output written under `tag` is right, else why not. */
  def check(tag: String): Option[String]
}

trait Workload {
  /** Makes the inputs; not part of the timed set-up. */
  def prepare(): Unit = ()
  def warmup(spark: SparkSession): Unit
  /** The ops of one timed section, in run order. */
  def ops: Seq[Op]
  /** Bytes of source input one op reads in a single pass. */
  def inputBytesPerOp: Long
  /** Bytes and files of the sink's outputs checked so far (0 without a
    * file sink).
    */
  def sinkBytes: Long = 0L
  def sinkFiles: Long = 0L
  /** Lines for the human-readable summary on stderr. */
  def summary(wallS: Double, nOps: Int): Seq[String] = Nil
}

object Workload {
  val Names: Seq[String] = Seq("paper_sort_20m", "suite_light")

  def apply(cfg: Config): Workload = cfg.workload match {
    case "paper_sort_20m" => new PaperSort(cfg)
    case "suite_light" => Suite(cfg, "suite_light")
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }
}

/** The paper's experiment: sort 20M space-delimited ints read in 10 MB
  * chunks, with 10% of first task attempts failing, and write the sorted
  * ints back as text part files.
  */
final class PaperSort(cfg: Config) extends Workload {
  val Ints = 20000000
  val ChunkBytes = 10000000L
  val WarmInts = 200000
  val WarmChunkBytes = 50000L
  val FaultPct = 10
  /** Seconds one sort takes on the box the benchmark was sized on. */
  val NominalOpS = 10.0

  private val dataDir = new File(cfg.work, s"data/paper-${cfg.seed}")
  private val input = new File(dataDir, "input.txt")
  private val warmInput = new File(dataDir, "warmup.txt")
  private val statsFile = new File(dataDir, "stats.txt")
  private val outRoot = new File(cfg.work, "out")
  private val faults = new Faults(cfg.seed, FaultPct)
  private var stats: IntStats = _
  private var warmStats: IntStats = _
  private var written = 0L
  private var files = 0L

  override def prepare(): Unit = {
    // keep the inputs of one seed only: each is ~220 MB
    Option(new File(cfg.work, "data").listFiles()).getOrElse(Array.empty[File])
      .filter(d => d.getName.startsWith("paper-") && d != dataDir).foreach(Main.deleteTree)
    if (statsFile.isFile) {
      val Array(a, b) = new String(Files.readAllBytes(statsFile.toPath), UTF_8).trim.split('\n')
      stats = IntStats.parse(a)
      warmStats = IntStats.parse(b)
    } else {
      dataDir.mkdirs()
      stats = IntFile.generate(input, Ints, cfg.seed)
      warmStats = IntFile.generate(warmInput, WarmInts, cfg.seed ^ 0x5DEECE66DL)
      Files.write(statsFile.toPath, s"${stats.render}\n${warmStats.render}\n".getBytes(UTF_8))
    }
  }

  private def sortOp(in: File, chunk: Long, expect: IntStats): Op = new Op {
    val name = "sort"
    def construct(spark: SparkSession): DataFrame = {
      val scanned = spark.read.format("textint").option("chunkSize", chunk).load(in.getPath)
      faults.inject(TextIntIO.sort(faults.inject(scanned, "scan")), "sort")
    }
    def action(df: DataFrame, tag: String): Unit =
      df.write.format("textint").mode("overwrite").save(new File(outRoot, tag).getPath)
    def check(tag: String): Option[String] = {
      val dir = new File(outRoot, tag)
      val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("part-"))
      written += parts.map(_.length).sum
      files += parts.length
      val res = IntFile.readSorted(dir) match {
        case Left(why) => Some(why)
        case Right(got) if got != expect =>
          Some(s"output multiset ${got.render} differs from input ${expect.render}")
        case Right(_) => None
      }
      Main.deleteTree(dir)
      res
    }
  }

  def warmup(spark: SparkSession): Unit = {
    val op = sortOp(warmInput, WarmChunkBytes, warmStats)
    op.action(op.construct(spark), "warmup")
    op.check("warmup").foreach(why => throw new IllegalStateException(s"warm-up sort: $why"))
    written = 0L
    files = 0L
  }

  lazy val ops: Seq[Op] = {
    val n = math.max(1, math.round(cfg.seconds / NominalOpS).toInt)
    Seq.fill(n)(sortOp(input, ChunkBytes, stats))
  }

  def inputBytesPerOp: Long = input.length
  override def sinkBytes: Long = written
  override def sinkFiles: Long = files

  override def summary(wallS: Double, nOps: Int): Seq[String] = Seq(
    f"ints_per_s ${Ints.toDouble * nOps / wallS}%.0f (the paper's 20M row: " +
      "2,294,569 ms with 59 faults, about 8,716 ints/s, on other hardware)")
}

/** A pinned declared query of a suite: its nominal time orders the strata
  * the suite is sampled from, and its pin is the row count and ordered
  * hash of its result on the sf0.1 fixtures.
  */
final case class SuiteQuery(name: String, nominalS: Double, pin: String)

/** Declared queries over the sf0.1 fixtures, each written to the
  * fingerprint sink and checked against its pin. `warm` are run by every
  * set-up, untimed.
  */
final class Suite(cfg: Config, queries: Seq[SuiteQuery], warm: Seq[SuiteQuery])
    extends Workload {
  private val fixtures = new File(cfg.root, "perfbench/fixtures/sf0.1")

  def warmup(spark: SparkSession): Unit = warm.foreach { q =>
    val op = queryOp(q)
    op.action(op.construct(spark), "warmup")
    op.check("warmup").foreach(why => throw new IllegalStateException(s"warm-up ${q.name}: $why"))
  }

  /** A fixed sample sized to the run: the queries, ordered by nominal time,
    * are cut into as many contiguous strata as ops fit in `--seconds` at
    * their mean nominal time, and the middle query of each stratum is
    * taken. The seed sets only the order they run in, so every seed
    * measures the same queries.
    */
  val ops: Seq[Op] = {
    val sorted = queries.sortBy(q => (q.nominalS, q.name))
    val mean = sorted.map(_.nominalS).sum / sorted.size
    val n = math.min(sorted.size, math.max(1, math.round(cfg.seconds / mean).toInt))
    val picked = (0 until n).map(i => sorted((2 * i + 1) * sorted.size / (2 * n)))
    new scala.util.Random(cfg.seed).shuffle(picked).map(queryOp)
  }

  private def queryOp(q: SuiteQuery): Op = new Op {
    val name: String = q.name
    def construct(spark: SparkSession): DataFrame =
      SparkEntry.queries(q.name)(spark, fixtures.getPath)
    def action(df: DataFrame, tag: String): Unit =
      df.write.format(classOf[FingerprintSink].getName).option("id", tag)
        .mode("overwrite").save()
    def check(tag: String): Option[String] = FingerprintSink.take(tag) match {
      case None => Some("no fingerprint recorded")
      case Some(fp) if fp.render != q.pin => Some(s"fingerprint ${fp.render} != pin ${q.pin}")
      case _ => None
    }
  }

  lazy val inputBytesPerOp: Long =
    Option(fixtures.listFiles()).getOrElse(Array.empty[File]).map(_.length).sum
}

object Suite {
  /** Reads `perfbench/suites.tsv`: suite, query, nominal seconds, pin;
    * the suite `warmup` lists the set-up's queries.
    */
  def apply(cfg: Config, suite: String): Suite = {
    val lines = Files.readAllLines(new File(cfg.root, "perfbench/suites.tsv").toPath, UTF_8)
      .asScala.filterNot(l => l.startsWith("#") || l.trim.isEmpty)
    def listed(name: String): Seq[SuiteQuery] = lines.map(_.split('\t')).collect {
      case Array(`name`, q, nominal, pin) => SuiteQuery(q, nominal.toDouble, pin)
    }.toSeq
    val (qs, warm) = (listed(suite), listed("warmup"))
    require(qs.nonEmpty, s"no queries listed for $suite")
    (qs ++ warm).foreach(q =>
      require(SparkEntry.queries.contains(q.name), s"unknown query ${q.name}"))
    new Suite(cfg, qs, warm)
  }
}
