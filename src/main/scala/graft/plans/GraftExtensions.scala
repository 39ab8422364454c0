package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{AsciiSymHist, ByteEnergy, DotProduct, Md5Mod, NfcNormalize, RollingMinHash, SignatureAggs, Sq8Error}

/** SparkSessionExtensions wiring for the engine's custom Catalyst pieces.
  *
  * Injects the custom expressions/aggregates as session functions, so any
  * session built `.withExtensions(new GraftExtensions)` — or configured with
  * `spark.sql.extensions=graft.plans.GraftExtensions` on a cluster — gets
  * every custom function (`md5_mod`, `rolling_min_hash`, the vector and
  * byte kernels, and the `minhash_sig`, `simhash_sig`, `bounded_min_ids`,
  * `top_k_pairs`, `long_vec_sum` aggregates) in SQL and `expr()`. This is
  * the ONE place they are registered: every engine session is built
  * through [[graft.GraftSession.builder]], which installs these
  * extensions, so operators never re-register per call.
  *
  * Deliberately NO custom optimizer rules or planner strategies: the survey
  * (SURVEY.md §4) found zero rewrites Catalyst doesn't already do for this
  * workload — the custom surface is expressions only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(
      classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("md5_mod"),
      info("md5_mod", "md5_mod(key, n) - reference-parity shuffle routing: int(md5(key),16) % n"),
      (exprs: Seq[Expression]) =>
        Md5Mod(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("rolling_min_hash"),
      info("rolling_min_hash", "rolling_min_hash(text, w) - winnowing Rabin-Karp min window hash"),
      (exprs: Seq[Expression]) =>
        RollingMinHash(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue())))
    e.injectFunction((
      FunctionIdentifier("minhash_sig"),
      info("minhash_sig", "minhash_sig(h) - 64-lane MinHash signature aggregate"),
      (exprs: Seq[Expression]) => SignatureAggs.MinHashSig(exprs.head).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(a, b) - codegen'd double-precision dot product over array<float|double>"),
      (exprs: Seq[Expression]) => DotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      FunctionIdentifier("byte_energy"),
      info("byte_energy", "byte_energy(s) - mean squared UTF-8 byte value (frame-energy kernel)"),
      (exprs: Seq[Expression]) => ByteEnergy(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("sq8_err"),
      info("sq8_err", "sq8_err(v) - [mae, rmse] of int8 symmetric-quantization round-trip"),
      (exprs: Seq[Expression]) => Sq8Error(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("ascii_sym_hist"),
      info("ascii_sym_hist", "ascii_sym_hist(s) - 37-bin [a-z0-9 ] symbol histogram, one codegen'd byte scan"),
      (exprs: Seq[Expression]) => AsciiSymHist(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("nfc_norm"),
      info("nfc_norm", "nfc_norm(s) - Unicode NFC normalization (codegen'd, ASCII fast path)"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("simhash_sig"),
      info("simhash_sig", "simhash_sig(h) - 64-bit SimHash signature aggregate"),
      (exprs: Seq[Expression]) => SignatureAggs.SimHashSig(exprs.head).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("bounded_min_ids"),
      info("bounded_min_ids", "bounded_min_ids(id, k) - the k smallest ids, sorted (k a literal)"),
      (exprs: Seq[Expression]) => SignatureAggs.BoundedMinIds(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("top_k_pairs"),
      info("top_k_pairs", "top_k_pairs(score, id, k) - the k best (score desc, id) pairs (k a literal)"),
      (exprs: Seq[Expression]) => SignatureAggs.TopKPairs(exprs.head, exprs(1),
        exprs(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("long_vec_sum"),
      info("long_vec_sum", "long_vec_sum(v) - elementwise sum of array<long> vectors"),
      (exprs: Seq[Expression]) => SignatureAggs.LongVecSum(exprs.head).toAggregateExpression()))
  }
}
