package graft.sources.v2

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** DataSourceV2 connector for the reference's native format: flat text of
  * whitespace-delimited base-10 integers. This is the connector-level
  * re-expression of the reference's scan pipeline, split by split:
  *
  *  - chunk planning `ceil(fileSize/chunkSize)` byte ranges →
  *    [[TextIntScan.planInputPartitions]] (reference `ServerHandler.java:43-52`;
  *    the `chunkSize` option is the V2 spelling of `Client.java:21`'s knob);
  *  - boundary snapping so no token is split or double-read →
  *    [[TextIntPartitionReader]]'s start-minus-one discard protocol
  *    (reference `preprocessStart`/`preprocessEnd`, `NodeHandler.java:119-200`);
  *  - tokenize + parse → the reader's scan loop (`NodeHandler.java:65-70`),
  *    with the reference's crash-on-malformed behavior behind
  *    `lenient=false` and drop-malformed as the default.
  *
  * This is the engine's only reader and writer of the format: byte-range
  * `InputPartition`s are planned from file metadata only, each reader opens
  * and scans exactly its range plus at most one spilled token, so a 100 TB
  * directory fans out to `size/chunkSize` independent tasks with no
  * driver-side data movement, whatever the file's line layout.
  *
  * Ownership rule (equivalent to LineRecordReader's): a token belongs to the
  * split containing the delimiter immediately before it (split 0 owns the
  * first token). Readers with `start > 0` begin at `start-1` and discard
  * through the first delimiter — a clean boundary discards only that
  * delimiter — and every reader finishes the token it is inside when it
  * crosses `end`. Each token is emitted exactly once, for every chunkSize.
  *
  * Usage: `spark.read.format("textint").option("chunkSize", n).load(path)`
  * (registered via META-INF/services as `textint`).
  */
class TextIntSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "textint"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TextIntTable.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new TextIntTable(properties.get("path"))
}

object TextIntTable {
  val Schema: StructType =
    StructType(Seq(StructField("value", IntegerType, nullable = false)))

  /** The active session's Hadoop conf: what the driver plans and commits
    * with, and what [[broadcastConf]] ships to the tasks.
    */
  def hadoopConf(): Configuration = SparkSession.active.sessionState.newHadoopConf()

  /** [[hadoopConf]], broadcast once per scan or write so every task
    * resolves the same filesystem as the driver, without re-parsing
    * `core-default.xml` per task.
    */
  def broadcastConf(): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(hadoopConf()))
}

class TextIntTable(path: String) extends Table with SupportsRead with SupportsWrite {
  require(path != null && path.nonEmpty, "textint source requires a path")

  override def name(): String = s"textint($path)"
  override def schema(): StructType = TextIntTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TextIntScanBuilder(path, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TextIntWriteBuilder(path, info)
}

/** Write side of the connector — the V2 spelling of the reference's sorted
  * text sink (`NodeHandler.java:79-85`: space-joined tokens). Tasks stream
  * rows to HIDDEN temp files (`.`-prefixed, invisible to both readers); the
  * driver's job commit renames them to `part-NNNNN.txt` in partition order
  * — so a failed or speculative task attempt leaves nothing visible, and
  * `mode("overwrite")` (TRUNCATE capability) removes old parts only inside
  * the same commit. Partition order is preserved: writing a
  * range-partitioned, partition-sorted frame yields lexicographic part
  * files whose concatenation IS the total order — the TeraSort output
  * contract, owned end-to-end by the connector.
  */
class TextIntWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  require(info.schema().fields.length == 1 &&
    info.schema().fields(0).dataType == IntegerType,
    s"textint sink writes a single int column, got ${info.schema().catalogString}")
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new TextIntWrite(path, doTruncate, info.queryId())
}

case class TextIntCommitMessage(partitionId: Int, tmpPath: String) extends WriterCommitMessage

class TextIntWrite(path: String, doTruncate: Boolean, queryId: String)
    extends Write with BatchWrite {
  override def toBatch: BatchWrite = this
  override def description(): String = s"textint sink $path truncate=$doTruncate"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    TextIntWriterFactory(path, queryId, TextIntTable.broadcastConf())

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(TextIntTable.hadoopConf())
    if (doTruncate && fs.exists(root))
      fs.listStatus(root).filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
        .foreach(s => fs.delete(s.getPath, false))
    messages.collect { case m: TextIntCommitMessage => m }
      .sortBy(_.partitionId)
      .foreach { m =>
        fs.rename(new Path(m.tmpPath), new Path(root, f"part-${m.partitionId}%05d.txt")): Unit
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(TextIntTable.hadoopConf())
    messages.collect { case m: TextIntCommitMessage => m }
      .foreach(m => fs.delete(new Path(m.tmpPath), false): Unit)
  }
}

case class TextIntWriterFactory(
    path: String, queryId: String, conf: Broadcast[SerializableConfiguration])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TextIntDataWriter(path, queryId, partitionId, taskId, conf.value.value)
}

/** Streams one partition to a hidden temp file, space-delimited (the
  * reference's exact format: single spaces, no trailing delimiter).
  */
class TextIntDataWriter(
    path: String, queryId: String, partitionId: Int, taskId: Long, conf: Configuration)
    extends DataWriter[InternalRow] {
  private val tmp = new Path(path, s".$queryId-$partitionId-$taskId.tmp")
  private val fs = tmp.getFileSystem(conf)
  private val out = {
    fs.mkdirs(new Path(path))
    new java.io.BufferedOutputStream(fs.create(tmp, true), 64 * 1024)
  }
  private var first = true
  private var closed = false

  private def closeOnce(): Unit = if (!closed) { closed = true; out.close() }

  override def write(row: InternalRow): Unit = {
    if (!first) out.write(' ')
    first = false
    out.write(java.lang.Integer.toString(row.getInt(0))
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
  }

  override def commit(): WriterCommitMessage = {
    closeOnce()
    TextIntCommitMessage(partitionId, tmp.toString)
  }

  override def abort(): Unit = {
    closeOnce()
    fs.delete(tmp, false): Unit
  }

  override def close(): Unit = closeOnce()
}

class TextIntScanBuilder(path: String, options: CaseInsensitiveStringMap) extends ScanBuilder {
  override def build(): Scan = new TextIntScan(
    path,
    chunkSize = options.getLong("chunkSize", 128L * 1024 * 1024),
    lenient = options.getBoolean("lenient", true))
}

class TextIntScan(path: String, chunkSize: Long, lenient: Boolean) extends Scan with Batch {
  require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")

  override def readSchema(): StructType = TextIntTable.Schema
  override def toBatch: Batch = this
  override def description(): String = s"textint $path chunkSize=$chunkSize"

  /** `ceil(len/chunkSize)` ranges per file, planned from file METADATA only
    * (`ServerHandler.java:43-52`) — the driver never touches file contents.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val root = new Path(path)
    val fs = root.getFileSystem(TextIntTable.hadoopConf())
    val status = fs.getFileStatus(root)
    val files =
      if (status.isDirectory)
        fs.listStatus(root).filter(s =>
          s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      else Array(status)
    files.sortBy(_.getPath.toString).flatMap { st =>
      val len = st.getLen
      val n = math.max(1L, (len + chunkSize - 1) / chunkSize)
      (0L until n).map { i =>
        TextIntInputPartition(
          st.getPath.toString, i * chunkSize, math.min(len, (i + 1) * chunkSize), lenient)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TextIntReaderFactory(TextIntTable.broadcastConf())
}

case class TextIntInputPartition(file: String, start: Long, end: Long, lenient: Boolean)
    extends InputPartition

case class TextIntReaderFactory(conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TextIntPartitionReader(partition.asInstanceOf[TextIntInputPartition], conf.value.value)
}

object TextIntPartitionReader {
  /** Largest bulk read; a token may straddle two consecutive reads. */
  val BufBytes: Int = 64 * 1024
  private val MaxNegMagnitude = 2147483648L // -Int.MinValue

  private def isWs(b: Byte): Boolean = b == ' ' || b == '\n' || b == '\r' || b == '\t'
}

/** Streams one byte range, emitting every integer token the range owns.
  *
  * Bulk-buffer design: the range is read from the Hadoop stream in blocks
  * of `BufBytes`, or of the range plus one token when that is shorter, into
  * the reader's own `byte[]`, and the scan walks that array by index,
  * accumulating each token's digits into a `long` — no per-byte stream
  * call and no per-token `String`. O(1) memory: one buffer,
  * one reused mutable row and, only when `lenient = false`, a copy of the
  * current token's bytes so the error can name it.
  *
  * Token contract: a token is a maximal run of bytes other than the
  * delimiters `' '`, `'\n'`, `'\r'` and `'\t'`. It parses exactly as
  * `Integer.parseInt` parses its bytes read as ISO-8859-1 chars: at most one
  * leading `+` or `-`, then one or more ASCII digits (leading zeros allowed),
  * with a value inside the `Int` range. Any other token — a lone sign, an
  * overflow, or any other byte, non-ASCII bytes included — is malformed:
  * dropped when `lenient`, else a `NumberFormatException` naming it.
  */
class TextIntPartitionReader(p: TextIntInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {
  import TextIntPartitionReader._

  // file offset of buf(0); reading starts at start-1 (see the boundary snap)
  private var bufPos: Long = math.max(0L, p.start - 1)
  // the range, the snap byte before it and one maximal Int token plus its
  // delimiter fit in one read; the stream's own buffer takes the same size,
  // or Hadoop fills its default io.file.buffer.size (64 KiB) however short
  // the range
  private val bufBytes = math.min(BufBytes.toLong, p.end - p.start + 13).toInt
  private val in: FSDataInputStream = {
    val hp = new Path(p.file)
    val stream = hp.getFileSystem(conf).open(hp, bufBytes)
    stream.seek(bufPos)
    stream
  }
  private val buf = new Array[Byte](bufBytes)
  private var lim = 0 // bytes of buf filled by the last read
  private var i = 0 // next unscanned byte of buf
  private val row = new SpecificInternalRow(Seq(IntegerType))
  private var tok: Array[Byte] = if (p.lenient) null else new Array[Byte](16)
  private var tokLen = 0

  /** Reads the next block into `buf`; false at end of file. */
  private def refill(): Boolean = {
    bufPos += lim
    lim = math.max(0, in.read(buf, 0, bufBytes))
    i = 0
    lim > 0
  }

  private def keep(b: Byte): Unit = {
    if (tokLen == tok.length) tok = java.util.Arrays.copyOf(tok, tokLen * 2)
    tok(tokLen) = b
    tokLen += 1
  }

  // boundary snap (`preprocessStart`, NodeHandler.java:119-156): discard
  // through the first delimiter; reading from start-1 means a clean
  // boundary (delimiter at start-1) discards nothing but that delimiter,
  // while a token spanning the boundary is discarded here and owned by the
  // split to the left (which reads past its own end to finish it); a snap
  // that reaches `end` without a delimiter leaves the split nothing. It runs
  // in the first next(), not the constructor: the task's input metrics
  // count only the bytes read after the reader is created.
  private var snapped = p.start == 0

  override def next(): Boolean = {
    if (!snapped) {
      var b: Byte = 0
      while ((i < lim || (bufPos + lim < p.end && refill())) &&
          { b = buf(i); i += 1; !isWs(b) }) ()
      snapped = true
    }
    while (true) {
      var b = ' '.toByte
      while (isWs(b)) {
        // at or past `end` no token can start inside the range: stop
        // without reading another block
        if (i == lim && (bufPos + lim >= p.end || !refill())) return false
        b = buf(i)
        i += 1
      }
      val tokenStart = bufPos + i - 1
      // a token starting at/after `end` belongs to the next split
      if (tokenStart >= p.end) return false
      if (parseToken(tokenStart)) return true
    }
    false // unreachable
  }

  /** Scans the token whose first byte is `buf(i - 1)` to its end, finishing
    * it even if it crosses `end` (`preprocessEnd`, NodeHandler.java:158-200),
    * and leaves `i` on the delimiter after it. True when the token parsed
    * and its value is in `row`; false when a lenient reader dropped it.
    */
  private def parseToken(tokenStart: Long): Boolean = {
    val a = buf
    var j = i - 1
    var n = lim
    var neg = false
    var digits = 0
    var acc = 0L // saturates just past MaxNegMagnitude
    var ok = true
    if (tok != null) tokLen = 0
    val c0 = a(j)
    if (c0 == '-' || c0 == '+') {
      neg = c0 == '-'
      if (tok != null) keep(c0)
      j += 1
    }
    var more = true
    while (more) {
      if (j == n) {
        // at end of file refill() leaves lim = 0: j = 0 keeps i == lim so
        // the next call to next() sees the end instead of stale bytes
        more = refill()
        j = 0
        n = lim
      }
      if (more) {
        val c = a(j)
        if (isWs(c)) more = false
        else {
          j += 1
          if (tok != null) keep(c)
          val d = c - '0'
          if (d >= 0 && d <= 9) {
            digits += 1
            if (ok) { acc = acc * 10 + d; ok = acc <= MaxNegMagnitude }
          } else ok = false
        }
      }
    }
    i = j
    if (ok && digits > 0 && (neg || acc < MaxNegMagnitude)) {
      row.setInt(0, (if (neg) -acc else acc).toInt)
      true
    } else if (p.lenient) false // drop and continue
    else throw new NumberFormatException(
      s"textint: unparseable token '${new String(tok, 0, tokLen, StandardCharsets.UTF_8)}'" +
        s" in ${p.file} at byte $tokenStart")
  }

  override def get(): InternalRow = row

  override def close(): Unit = in.close()
}
