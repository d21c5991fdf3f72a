package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row count plus an order-sensitive 64-bit hash of a query's output. */
final case class Fingerprint(rows: Long, hash: Long) {
  def render: String = f"$rows:$hash%016x"
}

/** A sink that consumes every row like Spark's `noop` format, but hashes
  * what it consumes. Each partition returns its row count and a polynomial
  * hash of its rows' binary form; the job commit folds the partitions in
  * index order, so the fingerprint follows the output order a sorted query
  * promises. Usage:
  * `df.write.format(classOf[FingerprintSink].getName).option("id", k).mode("overwrite").save()`,
  * then [[FingerprintSink.take]]`(k)`.
  */
class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = FingerprintTable
}

object FingerprintSink {
  /** Odd multiplier of the polynomial hash (arithmetic is mod 2^64). */
  val Base: Long = 0x9E3779B97F4A7C15L

  private val results = new ConcurrentHashMap[String, Fingerprint]()

  def take(id: String): Option[Fingerprint] = Option(results.remove(id))

  private[perfbench] def put(id: String, fp: Fingerprint): Unit = results.put(id, fp)
}

object FingerprintTable extends Table with SupportsWrite {
  override def name(): String = "fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[TableCapability] = java.util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new FingerprintWrite(info.options().get("id"), info.schema())
    }
}

final case class PartFingerprint(partition: Int, rows: Long, hash: Long, pow: Long)
  extends WriterCommitMessage

class FingerprintWrite(id: String, schema: StructType) extends Write with BatchWrite {
  require(id != null, "fingerprint sink needs an 'id' option")
  override def toBatch: BatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var rows = 0L
    var hash = 0L
    messages.collect { case m: PartFingerprint => m }.sortBy(_.partition).foreach { m =>
      rows += m.rows
      hash = hash * m.pow + m.hash
    }
    FingerprintSink.put(id, Fingerprint(rows, hash))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new FingerprintWriter(partitionId, schema)
}

class FingerprintWriter(partition: Int, schema: StructType) extends DataWriter[InternalRow] {
  private lazy val toUnsafe = UnsafeProjection.create(schema)
  private var rows = 0L
  private var hash = 0L
  private var pow = 1L

  override def write(row: InternalRow): Unit = {
    val u = row match {
      case r: UnsafeRow => r
      case r => toUnsafe(r)
    }
    hash = hash * FingerprintSink.Base +
      XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
    pow *= FingerprintSink.Base
    rows += 1
  }
  override def commit(): WriterCommitMessage = PartFingerprint(partition, rows, hash, pow)
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
