package graft

import org.apache.spark.sql.functions._
import graft.functions.RollingMinHash

/** Codegen'd custom expression: interpreted eval and generated code must
  * agree, and the fingerprint must behave as a winnowing candidate key.
  */
class RollingHashSpec extends SparkSpec {

  test("codegen path matches interpreted eval and the Scala reference") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog and keeps running far",
      "short", "", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("id", "text")
      .select(col("id"), expr("rolling_min_hash(text, 32)").as("fp"))
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs.foreach { case (id, text) =>
      assert(got(id) == RollingMinHash.minWindowHash(text.getBytes("UTF-8"), 32),
        s"codegen/interpreted mismatch for doc $id")
    }
  }

  test("near-identical documents share the fingerprint, disjoint ones do not") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (100 to 140).map(i => s"xyz$i").mkString(" ")
    val fps = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("id", "text")
      .select(col("id"), expr("rolling_min_hash(text, 32)").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) == fps(1L), "append-only edit must keep the minimal window")
    assert(fps(0L) != fps(2L), "disjoint docs should not collide")
  }
}
