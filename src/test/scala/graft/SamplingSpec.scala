package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sampling, TextOps}
import graft.sources.Tables

/** Sampling + chunking invariants that the DuckDB hash-equality oracle
  * can't express: determinism under re-partitioning, stratum rates, and
  * lossless chunk coverage.
  */
class SamplingSpec extends SparkSpec {

  test("hash sample is deterministic and partition-layout independent") {
    val a = Sampling.hashSample.fn(spark, sf).collect().map(_.getLong(0)).toSeq
    val again = Sampling.hashSample.fn(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a == again, "same plan, different sample — non-deterministic")
    // Same decision regardless of physical layout: recompute the kept set
    // from a differently-partitioned scan.
    val relaid = Tables.documents(spark, sf)
      .repartition(7, col("lang"))
      .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
      .filter(col("bucket") < 10)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(relaid == a, "partition layout changed the sample")
  }

  test("hash sample rate is ~10% and is a subset of the corpus") {
    val total = Tables.documents(spark, sf).count()
    val ids = Sampling.hashSample.fn(spark, sf).collect().map(_.getLong(0)).toSet
    val all = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(all))
    val rate = ids.size.toDouble / total
    assert(rate > 0.04 && rate < 0.20, s"10% target, got $rate")
  }

  test("stratified sample downsamples 'en' harder than other strata") {
    val sampled = Sampling.stratifiedSample.fn(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = Tables.documents(spark, sf).groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = sampled("en").toDouble / totals("en")
    val deRate = sampled("de").toDouble / totals("de")
    assert(enRate < 0.45, s"en rate $enRate should be near 0.25")
    assert(deRate > 0.55, s"de rate $deRate should be near 0.80")
    assert(enRate < deRate)
  }

  test("chunks reassemble to the original text (stride < width ⇒ lossless)") {
    val doc = Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(1)
      .collect().head
    val (id, text) = (doc.getLong(0), doc.getString(1))
    val chunks = TextOps.chunk.fn(spark, sf)
      .filter(col("doc_id") === id)
      .orderBy("start")
      .collect().map(r => (r.getInt(1), r.getString(2)))
    // Each chunk starts at 1 + k*150 and overlaps the previous by 50 chars.
    assert(chunks.head._1 == 1)
    val rebuilt = chunks.map(_._2).reduceLeft((acc, c) => acc + c.drop(
      math.min(50, c.length)))
    assert(rebuilt == text, "chunk overlap-merge must reproduce the document")
  }

  test("partitioning invariance: samples, signatures, and CC labels don't depend on layout") {
    import graft.operators.{Dedup, Sampling}
    // The determinism promise that matters on a cluster: results must be
    // identical whether the input arrives as 1 partition or 7 (≈ retries,
    // AQE re-splits, different executor counts).
    val docs = Tables.documents(spark, sf)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted

    // md5-bucket sample (q23 shape)
    def sample(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("bucket", Sampling.hashBucket(col("doc_id")))
        .filter(col("bucket") < 10).select("doc_id")
    assert(canon(sample(docs.repartition(1))) == canon(sample(docs.repartition(7))))

    // MinHash signatures (d02's foundation)
    assert(canon(Dedup.minhashSignatures(docs.repartition(1))) ==
      canon(Dedup.minhashSignatures(docs.repartition(7))))

    // Connected-component labels over the same pair graph, different layout.
    // Forced distributed path (threshold 0) — the driver path is trivially
    // layout-independent.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 1L))
    val p1 = edges.toDF("a", "b").repartition(1).localCheckpoint()
    val p7 = edges.toDF("a", "b").repartition(7).localCheckpoint()
    assert(canon(Dedup.connectedComponents(p1, driverThreshold = 0L)) ==
      canon(Dedup.connectedComponents(p7, driverThreshold = 0L)))
  }
}
