package graft

import graft.operators.{Dedup, ReleaseArtifacts}

/** The durable release-artifact layout: persisted kernel tables must drive
  * the memo consumers to batch-identical results, and the manifest must
  * refuse stale corpora and mismatched kernel parameters. */
class ReleaseArtifactsSpec extends SparkSpec {

  // Sorted canon: query results are unordered, so sort at the assertion;
  // equality claims here are on the row SET, the same canon the
  // correctness gate uses.
  private def run(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

  test("persisted artifacts drive d36/d02/d06 to batch-identical results") {
    val dir = java.nio.file.Files.createTempDirectory("graft_release").toString
    val names = Seq("d36_release_dedup_report", "d02_dedup_minhash_lsh",
      "d06_dedup_clusters")
    Dedup.clearCorpusMemo()
    val expected = names.map(n => n -> run(n)).toMap
    ReleaseArtifacts.write(spark, sf, dir)
    // A fresh session would have an empty memo; clearing simulates it.
    Dedup.clearCorpusMemo()
    ReleaseArtifacts.open(spark, sf, dir)
    graft.MemoLedger.drain() // discard the freeze's own builds
    // Proof the read path is REAL: the memoized verified-pair table now
    // resolves to a parquet scan of the frozen layout, not a checkpoint.
    val roots = Dedup.corpusVerifiedPairs(spark, sf).queryExecution.analyzed
      .collectLeaves().flatMap {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        case _ => Nil
      }
    assert(roots.exists(_.contains(dir)),
      s"verified pairs not parquet-backed by $dir (roots: $roots)")
    names.foreach { n =>
      assert(run(n) == expected(n), s"$n differs when read from $dir")
    }
    val builds = graft.MemoLedger.drain()
    assert(builds.isEmpty,
      s"persisted-release read path ran builds: ${builds.map(_.artifact)}")
    Dedup.clearCorpusMemo() // drop the parquet-backed installs for later suites
  }

  test("open refuses a corpus that changed since the freeze") {
    val corpus = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val src = java.nio.file.Paths.get(sf)
    java.nio.file.Files.list(src).forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(corpus, p.getFileName.toString))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_release2").toString
    Dedup.clearCorpusMemo()
    ReleaseArtifacts.write(spark, corpus, dir)
    // In-place rewrite: same path, new mtime — the content stamp moves.
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(corpus))
      .findFirst().get()
    java.nio.file.Files.setLastModifiedTime(
      f, java.nio.file.attribute.FileTime.fromMillis(12345L))
    Dedup.clearCorpusMemo()
    val e = intercept[IllegalStateException](ReleaseArtifacts.open(spark, corpus, dir))
    assert(e.getMessage.contains("changed since the freeze"))
    Dedup.clearCorpusMemo()
  }

  test("persisted contam tables drive d09/d19/d35 with zero contam builds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_release_c").toString
    val names = Seq("d09_decontaminate", "d19_eval_leak_report",
      "d35_contam_ngram_curve")
    Dedup.clearCorpusMemo()
    val expected = names.map(n => n -> run(n)).toMap
    ReleaseArtifacts.write(spark, sf, dir)
    Dedup.clearCorpusMemo()
    ReleaseArtifacts.open(spark, sf, dir)
    graft.MemoLedger.drain() // discard the freeze's own builds
    names.foreach { n =>
      assert(run(n) == expected(n), s"$n differs when read from $dir")
    }
    val builds = graft.MemoLedger.drain()
    assert(builds.isEmpty,
      s"persisted-release read path ran builds: ${builds.map(_.artifact)}")
    Dedup.clearCorpusMemo()
  }

  test("frozen embedding indexes serve s01/s04/s08 with zero train builds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_release_e").toString
    val names = Seq("s01_ann_cosine_topk", "s04_ann_ivf", "s08_ann_pq")
    graft.operators.Similarity.clearEmbMemo()
    val expected = names.map(n => n -> run(n)).toMap
    ReleaseArtifacts.writeEmbedding(spark, sf, dir)
    graft.operators.Similarity.clearEmbMemo()
    ReleaseArtifacts.openEmbedding(spark, sf, dir)
    graft.MemoLedger.drain()
    names.foreach { n =>
      assert(run(n) == expected(n), s"$n differs when read from $dir")
    }
    val builds = graft.MemoLedger.drain()
    assert(builds.isEmpty,
      s"frozen-index read path ran builds: ${builds.map(_.artifact)}")
    val e = intercept[IllegalStateException](
      ReleaseArtifacts.openEmbedding(spark, sf, dir, nCells = 32))
    assert(e.getMessage.contains("n_cells"))
    graft.operators.Similarity.clearEmbMemo()
  }

  test("frozen tokenizer serves t21/t25/t43 with zero train/encode builds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_release_t").toString
    val names = Seq("t21_bpe_merges", "t25_bpe_encode", "t43_bpe_fertility")
    graft.operators.TextOps.clearTokMemo()
    val expected = names.map(n => n -> run(n)).toMap
    ReleaseArtifacts.writeTokenizer(spark, sf, dir)
    graft.operators.TextOps.clearTokMemo()
    ReleaseArtifacts.openTokenizer(spark, sf, dir)
    graft.MemoLedger.drain()
    names.foreach { n =>
      assert(run(n) == expected(n), s"$n differs when read from $dir")
    }
    val builds = graft.MemoLedger.drain()
    assert(builds.isEmpty,
      s"frozen-tokenizer read path ran builds: ${builds.map(_.artifact)}")
    val e = intercept[IllegalStateException](
      ReleaseArtifacts.openTokenizer(spark, sf, dir, nMerges = 4))
    assert(e.getMessage.contains("n_merges"))
    graft.operators.TextOps.clearTokMemo()
  }

  test("content stamp catches a same-size same-mtime rewrite") {
    val corpus = java.nio.file.Files.createTempDirectory("graft_corpus_cs").toString
    val src = java.nio.file.Paths.get(sf)
    java.nio.file.Files.list(src).forEach { p =>
      java.nio.file.Files.copy(p, java.nio.file.Paths.get(corpus, p.getFileName.toString))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_release_cs").toString
    Dedup.clearCorpusMemo()
    ReleaseArtifacts.write(spark, corpus, dir)
    // The object-store trap: rewrite BYTES of one file, same size, and
    // restore its mtime — (mtime, size) stamps cannot see this.
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(corpus))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    val mtime = java.nio.file.Files.getLastModifiedTime(f)
    val before = graft.MemoLedger.freshDirStamp(corpus)
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val buf = java.nio.ByteBuffer.wrap(Array[Byte](0x5a, 0x5a, 0x5a, 0x5a))
      ch.position(64L) // inside the head window; size unchanged
      while (buf.hasRemaining) ch.write(buf)
    } finally ch.close()
    java.nio.file.Files.setLastModifiedTime(f, mtime)
    graft.MemoLedger.invalidateStamps()
    assert(graft.MemoLedger.freshDirStamp(corpus) == before,
      "mtime+size stamp moved — the rewrite was supposed to be invisible to it")
    Dedup.clearCorpusMemo()
    val e = intercept[IllegalStateException](ReleaseArtifacts.open(spark, corpus, dir))
    assert(e.getMessage.contains("CONTENT changed"))
    Dedup.clearCorpusMemo()
  }

  test("open refuses mismatched kernel parameters and a missing manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_release3").toString
    Dedup.clearCorpusMemo()
    ReleaseArtifacts.write(spark, sf, dir, threshold = 0.5)
    Dedup.clearCorpusMemo()
    val e = intercept[IllegalStateException](
      ReleaseArtifacts.open(spark, sf, dir, threshold = 0.6))
    assert(e.getMessage.contains("threshold"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_manifest.json"))
    val e2 = intercept[IllegalStateException](ReleaseArtifacts.open(spark, sf, dir))
    assert(e2.getMessage.contains("no release manifest"))
    Dedup.clearCorpusMemo()
  }
}
