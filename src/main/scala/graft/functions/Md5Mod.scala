package graft.functions

import java.math.BigInteger
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.Partitioner

/** `partition = int(md5(key), 16) % n` — the reference's shuffle routing
  * function (reference `mapreduce/worker/__main__.py:62-65`), as a Catalyst
  * expression so bit-exact partition parity is available where asserted
  * (e.g. reference `tests/test_worker_08.py:226-243`: md5 mod 2 routes
  * `""`,`bye`,`hello`→0 and `world`,`goodbye`,`hadoop`→1).
  *
  * Parity-only operator (never on the 100 TB hot path — normal queries use
  * Spark's Murmur3 `repartition`), so CodegenFallback is acceptable here.
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
  def partitionOf(keyBytes: Array[Byte], n: Int): Int = {
    val md = MessageDigest.getInstance("MD5")
    val hex = md.digest(keyBytes).map("%02x".format(_)).mkString
    new BigInteger(hex, 16).mod(BigInteger.valueOf(n.toLong)).intValue()
  }
  def partitionOf(key: String, n: Int): Int =
    partitionOf(key.getBytes("UTF-8"), n)
}

/** RDD partitioner with the reference's exact md5-mod routing. */
class Md5Partitioner(n: Int) extends Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key match {
    case (k: String, _) => Md5Mod.partitionOf(k, n)
    case k => Md5Mod.partitionOf(String.valueOf(k), n)
  }
  override def equals(other: Any): Boolean = other match {
    case p: Md5Partitioner => p.numPartitions == n
    case _ => false
  }
  override def hashCode: Int = n
}
