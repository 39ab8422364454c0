package graft

import org.apache.spark.sql.functions._
import graft.operators.{Multimodal, Relational}
import graft.sources.Tables

/** SQL-text API surface: every table registered as a view, `spark.sql`
  * plans identical to the DataFrame surface; plus the binaryFile media
  * ingest round-trip.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("spark.sql over registered views matches the DataFrame surface") {
    Tables.registerViews(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    // Sorted at the assertion: since the Present seam (round 16) the
    // DataFrame surface carries no presentation order.
    val viaDf = Relational.q02.fn(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, t._2))
    assert(viaSql == viaDf)
  }

  test("SQL joins across views plan with pushdown intact") {
    Tables.registerViews(spark, sf)
    val df = spark.sql(
      """SELECT n_name, count(*) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 0 GROUP BY n_name ORDER BY n_name""".stripMargin)
    assert(df.collect().length > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal,0.0)")
      || plan.contains("GreaterThan(c_acctbal"), s"filter not pushed to scan:\n$plan")
  }

  test("every custom function is reachable from SQL text (extension-injected)") {
    Tables.registerViews(spark, sf)
    // One statement exercising the whole custom-function surface the way a
    // SQL-only user would: shuffle routing, winnowing, vec math,
    // quantization audit, and both signature aggregates.
    val r = spark.sql(
      """SELECT
        |  md5_mod('hello', 2) AS route,
        |  rolling_min_hash('hello world', 5) AS winnow,
        |  vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot,
        |  sq8_err(array(1.0d, -0.5d))[0] AS mae,
        |  (SELECT minhash_sig(CAST(h AS BIGINT))[0]
        |     FROM (VALUES (1), (2), (3)) AS t(h)) AS mh0,
        |  (SELECT simhash_sig(CAST(h AS BIGINT))
        |     FROM (VALUES (1), (2), (3)) AS t(h)) AS sh
        |""".stripMargin).collect()(0)
    assert(r.getInt(0) == 0)
    assert(r.getLong(1) == graft.functions.RollingMinHash.minWindowHash(
      "hello world".getBytes("UTF-8"), 5))
    assert(r.getDouble(2) == 11.0)
    assert(!r.isNullAt(3) && r.getDouble(3) >= 0.0)
    assert(!r.isNullAt(4) && !r.isNullAt(5))
  }

  test("binaryFile ingest: staged media files round-trip through feature extraction") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-media")
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    docs.foreach { case (id, text) =>
      Files.write(dir.resolve(s"$id.bin"), text.getBytes("UTF-8"))
      Files.write(dir.resolve(s"ignore_$id.txt"), Array[Byte](1, 2, 3))
    }
    val media = Multimodal.readBinaryFiles(spark, dir.toString, "*.bin")
    val feats = Multimodal.extractFeatures(media)
      .collect().map(f => f.doc_id -> f.n_bytes).toMap
    assert(feats.keySet == docs.map(_._1).toSet, "glob filter or id parse wrong")
    docs.foreach { case (id, text) =>
      assert(feats(id) == text.getBytes("UTF-8").length.toLong)
    }
  }
}
