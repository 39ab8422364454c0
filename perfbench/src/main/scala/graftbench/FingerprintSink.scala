package graftbench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecializedGetters, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Spark's `noop` sink plus one row hash per row: the same write plan as
  * `df.write.format("noop").mode("overwrite").save()`, but each task
  * returns (row count, sum of row hashes) and the driver-side commit folds
  * them into an order-independent fingerprint of the whole result.
  *
  * Doubles and floats are hashed after rounding to 20 mantissa bits, so a
  * floating-point aggregate whose last bits depend on merge order still
  * fingerprints the same. Map entries are hashed order-independently;
  * arrays and struct fields in order.
  *
  * Use: `df.write.format(classOf[FingerprintSink].getName).mode("overwrite")
  * .save()`, then [[FingerprintSink.take]].
  */
class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = FingerprintSink.Tbl
}

object FingerprintSink {
  final case class Fingerprint(rows: Long, hash: Long)

  private var last: Option[Fingerprint] = None

  /** The fingerprint of the last committed save, cleared on read. */
  def take(): Option[Fingerprint] = synchronized { val v = last; last = None; v }

  private final case class Msg(rows: Long, sum: Long) extends WriterCommitMessage

  private object Tbl extends Table with SupportsWrite {
    override def name(): String = "fingerprint"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new Write {
          override def toBatch: BatchWrite = new Batch(info.schema())
        }
      }
  }

  private final class Batch(schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val ms = messages.collect { case m: Msg => m }
      val fp = Fingerprint(ms.map(_.rows).sum,
        mix(ms.foldLeft(0L)(_ + _.sum), schema.fields.map(f => s"${f.name}:${f.dataType}")
          .mkString(",").hashCode.toLong))
      FingerprintSink.synchronized { last = Some(fp) }
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private var rows = 0L
        private var sum = 0L
        override def write(r: InternalRow): Unit = {
          rows += 1
          sum += hashStruct(r, schema)
        }
        override def commit(): WriterCommitMessage = Msg(rows, sum)
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }

  private def mix(h: Long, v: Long): Long = {
    var x = h * 0x9E3779B97F4A7C15L + v
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private def roundedDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else (java.lang.Double.doubleToLongBits(d) + (1L << 31)) & ~((1L << 32) - 1)

  private val NullHash = 0x5bd1e995L

  private def hashStruct(r: InternalRow, st: StructType): Long =
    st.indices.foldLeft(17L)((h, i) => mix(h, hashAt(r, i, st(i).dataType)))

  private def hashAt(g: SpecializedGetters, i: Int, dt: DataType): Long =
    if (g.isNullAt(i)) NullHash
    else dt match {
      case st: StructType => hashStruct(g.getStruct(i, st.length), st)
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        (0 until a.numElements()).foldLeft(31L)((h, j) => mix(h, hashAt(a, j, et)))
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        (0 until m.numElements()).foldLeft(43L)((h, j) =>
          h + mix(hashAt(m.keyArray(), j, kt), hashAt(m.valueArray(), j, vt)))
      case _ => hashValue(g.get(i, dt))
    }

  private def hashValue(v: Any): Long = v match {
    case d: Double => roundedDouble(d)
    case f: Float => roundedDouble(f.toDouble)
    case s: UTF8String => XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
    case b: Array[Byte] => XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    case d: Decimal => d.toJavaBigDecimal.stripTrailingZeros.toPlainString.hashCode.toLong
    case b: Boolean => if (b) 1L else 2L
    case n: Byte => n.toLong
    case n: Short => n.toLong
    case n: Int => n.toLong
    case n: Long => n
    case other => other.toString.hashCode.toLong
  }
}
