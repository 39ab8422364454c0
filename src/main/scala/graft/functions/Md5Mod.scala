package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.Partitioner

/** `partition = int(md5(key), 16) % n` — the reference's shuffle routing
  * function (reference `mapreduce/worker/__main__.py:62-65`), as a Catalyst
  * expression so bit-exact partition parity is available in SQL (e.g.
  * reference `tests/test_worker_08.py:226-243`: md5 mod 2 routes
  * `""`,`bye`,`hello`→0 and `world`,`goodbye`,`hadoop`→1).
  *
  * The kernel, [[Md5Mod.partitionOf]], also routes every shuffled record
  * of every [[graft.operators.MapReduceJob]] through [[Md5Partitioner]].
  * Catalyst queries use Spark's Murmur3 `repartition`, so the expression
  * itself is rare and CodegenFallback is acceptable here.
  */
case class Md5Mod(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    Md5Mod.partitionOf(bytes, n)
  }
  override protected def withNewChildInternal(c: Expression): Md5Mod = copy(child = c)
  override def prettyName: String = "md5_mod"
}

object Md5Mod {
  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** `int(md5(keyBytes).hexdigest(), 16) % n` without the hex string or a
    * `BigInteger`: the 16 digest bytes, read big-endian, ARE that integer,
    * so Horner's rule reduces it mod `n` one byte at a time
    * (`r < n < 2^31`, so `r << 8` fits a Long). One digest per thread —
    * this runs once per shuffled record. */
  def partitionOf(keyBytes: Array[Byte], n: Int): Int = {
    if (n < 1) throw new ArithmeticException(s"md5_mod: modulus $n not positive")
    val digest = md5.get().digest(keyBytes)
    val m = n.toLong
    var r = 0L
    var i = 0
    while (i < digest.length) {
      r = ((r << 8) | (digest(i) & 0xff)) % m
      i += 1
    }
    r.toInt
  }
  def partitionOf(key: String, n: Int): Int =
    partitionOf(key.getBytes(StandardCharsets.UTF_8), n)
}

/** RDD partitioner with the reference's exact md5-mod routing of the key's
  * string. */
class Md5Partitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = Md5Mod.partitionOf(String.valueOf(key), n)
  override def equals(other: Any): Boolean = other match {
    case p: Md5Partitioner => p.numPartitions == n
    case _ => false
  }
  override def hashCode: Int = n
}
