package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.sources.{ScaledCorpora, TextSource}

class SourcesAndSkewSpec extends SparkSpec {

  test("TextSource: sorted file listing, line attribution, first-tab KV split") {
    val dir = Files.createTempDirectory("graft-text").toFile
    Files.write(new java.io.File(dir, "b_file").toPath, "k1\tv1\textra\n\nplain\n".getBytes)
    Files.write(new java.io.File(dir, "a_file").toPath, "k2\tv2\n".getBytes)
    assert(TextSource.files(dir.getAbsolutePath) == Seq("a_file", "b_file"))

    val kv = TextSource.kv(TextSource.readLines(spark, dir.getAbsolutePath))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // Tabs in values preserved; blank line -> empty key; no-tab line -> whole
    // line as key with empty value (reference partition("\t") semantics).
    assert(kv == Set(("k1", "v1\textra"), ("k2", "v2"), ("", ""), ("plain", "")))
  }

  test("TextSource: write/read round trip") {
    val out = Files.createTempDirectory("graft-text-out").toFile.getAbsolutePath + "/sink"
    import spark.implicits._
    TextSource.write(Seq("x\t1", "y\t2").toDF("value"), out)
    val back = spark.read.text(out).collect().map(_.getString(0)).toSet
    assert(back == Set("x\t1", "y\t2"))
  }

  test("hot-cell vector corpus: s17 balance flags the cell, probe traffic stays nProbe-bounded, recalls hold") {
    import org.apache.spark.sql.functions._
    // The clustered hot-cell corpus at spec scale: half of an 8x
    // sf0.001 vector corpus re-pointed into one tight cluster.
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    val hot = ScaledCorpora.hotCellVecs(vecs, 8)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    val bal = Similarity.probeTrafficBalance(hot).collect()
    // (a) the hot cell is visible: one cell holds ~half the corpus.
    val maxStore = bal.map(_.getDouble(2)).max
    assert(maxStore >= 0.4 && maxStore <= 0.65,
      s"hot cell not visible in storage shares: $maxStore")
    // (b) probe traffic is STRUCTURALLY nProbe-bounded: every query fans
    // out to exactly nProbe cells, so totals are exact and no cell can
    // absorb more than one probe per query — however hot its storage.
    val (nQueries, nProbe) = (32, 2)
    assert(bal.map(_.getLong(3)).sum == nQueries.toLong * nProbe,
      "probe total != nQueries * nProbe")
    assert(bal.map(_.getLong(3)).max <= nQueries.toLong,
      "one cell absorbed more than one probe per query")
    // (c) recall floors hold on the adversarial corpus — the hot queries'
    // true neighbors live in the cell they probe first (IVF), and LSH's
    // hyperplane buckets collapse the cluster into shared buckets.
    val truth = Similarity.bruteForceTopKFrom(hot, 10, 5).localCheckpoint()
    val tn = truth.count().toDouble
    def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
      approx.select("query_id", "neighbor_id")
        .join(truth.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"), "leftsemi").count() / tn
    assert(recallOf(Similarity.ivfTopKFrom(spark, hot, 10, 5)) >= 0.8)
    assert(recallOf(Similarity.lshTopKFrom(hot, 10, 5)) >= 0.6)
    // PQ's measured clustered-corpus weakness + its mitigation (docs/SCALE.md
    // records the full rerank curve of the vector-skew wave).
    assert(recallOf(Similarity.pqTopKFrom(spark, hot, 10, 5, rerank = 128)) >= 0.8)
  }

  test("IVF ANN: ranks valid and recall reasonable vs exact") {
    val exact = Similarity.bruteForceTopK(spark, sf, 10, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(spark, sf, 10, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (q, n) => ivf.get(q).contains(n) }
    // nProbe=4 of 16 cells: expect well above the 25% random-probe floor.
    assert(hits >= 4, s"IVF recall too low: $hits/10 (exact=$exact ivf=$ivf)")
  }
}
