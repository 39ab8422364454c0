package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing document fingerprint via a Rabin–Karp rolling hash.
  *
  * Computes the minimum 64-bit polynomial rolling hash over all `window`-byte
  * substrings of the input — the core of the winnowing fingerprint scheme
  * (Schleimer/Wilkerson/Aiken, SIGMOD'03): near-identical documents share
  * their minimal window hash with high probability, so equal fingerprints
  * are cheap near-dup candidates.
  *
  * Implemented as a native Catalyst expression **with doGenCode** so the
  * O(n) rolling loop runs inside whole-stage codegen on the scan — one pass,
  * no UDF serialization, no per-row boxing.
  */
case class RollingMinHash(child: Expression, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"rolling_min_hash requires STRING, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    RollingMinHash.minWindowHash(v.asInstanceOf[UTF8String].getBytes, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingMinHash.minWindowHash($c.getBytes(), $window)")

  override protected def withNewChildInternal(c: Expression): RollingMinHash = copy(child = c)
  override def prettyName: String = "rolling_min_hash"
}

object RollingMinHash {
  final val Base = 1000003L

  /** Min over all `w`-byte windows of the polynomial hash
    * sum(b_i * Base^(w-1-i)); O(n) via rolling update. Documents shorter
    * than `w` hash their full content. Public + JVM-static-reachable so the
    * generated code can call it. */
  def minWindowHash(bytes: Array[Byte], w: Int): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    val win = math.min(w, n)
    // Base^(win-1) for the remove-leading-byte step.
    var pow = 1L
    var i = 0
    while (i < win - 1) { pow *= Base; i += 1 }
    var h = 0L
    i = 0
    while (i < win) { h = h * Base + (bytes(i) & 0xff); i += 1 }
    var minH = h
    i = win
    while (i < n) {
      h = (h - (bytes(i - win) & 0xff) * pow) * Base + (bytes(i) & 0xff)
      if (h < minH) minH = h
      i += 1
    }
    minH
  }
}
