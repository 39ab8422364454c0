package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.{DocStreams, EventStreams}

/** Streaming document-dedup surface: the per-row signature map must be
  * bit-identical to the batch expression pipeline, the streamed exact dedup
  * must keep the batch keep-set, and at-ingest candidate probing must find
  * the batch LSH candidate pairs.
  */
class DocStreamsSpec extends SparkSpec {

  test("scalar signature matches the batch minhash_sig pipeline bit-for-bit") {
    val batch = Dedup.minhashSignatures(Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    var checked = 0
    docs.foreach { case (id, text) =>
      val scalar = DocStreams.signature(text)
      (scalar, batch.get(id)) match {
        case (Some(s), Some(b)) =>
          assert(s.sameElements(b), s"signature mismatch for doc $id")
          checked += 1
        case (None, None) => // too few tokens on both paths
        case (s, b) => fail(s"presence mismatch for doc $id: scalar=$s batch=$b")
      }
    }
    assert(checked > 0, "no signatures compared")
  }

  test("streamed exact dedup keeps the batch keep-set") {
    val stream = DocStreams.dedupedStream(
      DocStreams.fingerprinted(spark, DocStreams.readDocumentStream(spark, sf)))
    val q = EventStreams.runToMemory(
      stream.select("doc_id", "fp"), "doc_dedup_stream", OutputMode.Append)
    try {
      val streamed = spark.table("doc_dedup_stream")
        .collect().map(_.getString(1)).toSet
      // Streamed: one survivor per fingerprint (arrival order, not min id —
      // the stream contract). The surviving fingerprint SET must equal the
      // batch groups.
      val batchFps = Tables.documents(spark, sf)
        .select(md5(graft.functions.TextFns.normText(col("text"))).as("fp"))
        .distinct().collect().map(_.getString(0)).toSet
      assert(streamed == batchFps)
      assert(spark.table("doc_dedup_stream").count() == batchFps.size)
    } finally q.stop()
  }

  test("at-ingest quality gate matches the batch t15 repetition filter") {
    import graft.operators.TextOps
    val batch = TextOps.repetitionMetrics(Tables.documents(spark, sf))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).toMap
    val gated = DocStreams.qualityGated(spark, DocStreams.readDocumentStream(spark, sf))
      .select("doc_id", "n_bigrams", "top_bigram_frac", "dup_bigram_frac", "keep")
    val q = EventStreams.runToMemory(gated, "doc_quality_stream", OutputMode.Append)
    try {
      val streamed = spark.table("doc_quality_stream").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
          else Some((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))))
        .toMap
      assert(streamed.nonEmpty)
      var compared = 0
      streamed.foreach {
        case (id, Some(m)) =>
          assert(batch.get(id).contains(m), s"metrics mismatch for doc $id: " +
            s"stream=$m batch=${batch.get(id)}")
          compared += 1
        case (id, None) =>
          // no bigrams: absent from the batch aggregate, passes the gate
          assert(!batch.contains(id), s"doc $id has batch metrics but streamed None")
      }
      assert(compared > 0, "no metrics compared")
    } finally q.stop()
  }

  test("at-ingest contamination probe finds the batch d09 contaminated set") {
    val evalIndex = DocStreams.evalShingleIndex(Tables.documents(spark, sf))
    val stream = DocStreams.dedupedStream(
      DocStreams.fingerprinted(spark, DocStreams.readDocumentStream(spark, sf)))
    val probe = DocStreams.contaminationProbe(stream, evalIndex)
    val q = EventStreams.runToMemory(probe, "doc_contam_stream", OutputMode.Append)
    try {
      val streamedDocs = spark.table("doc_contam_stream")
        .collect().map(_.getLong(0)).toSet
      val batchDocs = Dedup.decontaminate(spark, sf, 5)
        .collect().map(_.getLong(0)).toSet
      assert(streamedDocs == batchDocs,
        s"missing=${batchDocs.diff(streamedDocs)} extra=${streamedDocs.diff(batchDocs)}")
    } finally q.stop()
  }

  test("at-ingest probe against the PERSISTED dedup index == in-memory index probe") {
    // Composition of the persisted-index and streaming stories: the band
    // index written by writeDedupIndex is directly probe-able by the
    // streaming candidate join — no corpus recompute at stream start.
    val idx = java.nio.file.Files.createTempDirectory("graft-stream-idx")
      .toFile.getAbsolutePath + "/index"
    graft.operators.Dedup.writeDedupIndex(Tables.documents(spark, sf), idx)
    val persistedIndex = spark.read.parquet(s"$idx/bands")
    val stream = DocStreams.dedupedStream(
      DocStreams.fingerprinted(spark, DocStreams.readDocumentStream(spark, sf)))
    val cands = DocStreams.nearDupCandidates(spark, stream, persistedIndex)
    val q = EventStreams.runToMemory(cands, "doc_cand_idx_stream", OutputMode.Append)
    try {
      val streamed = spark.table("doc_cand_idx_stream").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
        .toSet
      val inMemory = Dedup.lshCandidates(Dedup.minhashSignatures(Tables.documents(spark, sf)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == inMemory,
        s"missing=${inMemory.diff(streamed).take(5)} extra=${streamed.diff(inMemory).take(5)}")
    } finally q.stop()
  }

  test("at-ingest candidate probe finds the batch LSH candidate pairs") {
    val corpusIndex = DocStreams.bandIndex(
      Dedup.minhashSignatures(Tables.documents(spark, sf)))
    val stream = DocStreams.dedupedStream(
      DocStreams.fingerprinted(spark, DocStreams.readDocumentStream(spark, sf)))
    val cands = DocStreams.nearDupCandidates(spark, stream, corpusIndex)
    val q = EventStreams.runToMemory(cands, "doc_cand_stream", OutputMode.Append)
    try {
      val streamed = spark.table("doc_cand_stream").collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
        .toSet
      val batch = Dedup.lshCandidates(Dedup.minhashSignatures(Tables.documents(spark, sf)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch.subsetOf(streamed),
        s"batch candidates missing from stream probe: ${batch.diff(streamed)}")
      // The probe may additionally surface exact-dup collisions the batch
      // self-join also has; nothing outside the corpus bands can appear.
      assert(streamed == batch,
        s"unexpected extra stream candidates: ${streamed.diff(batch)}")
    } finally q.stop()
  }

  test("composed at-ingest release gate == batch p03 audit row-for-row") {
    val docs = Tables.documents(spark, sf)
    val evalCounts = DocStreams.evalShingleCounts(docs.filter(col("doc_id") < 25), 5)
    val evidence = Dedup.embeddingDecontaminateFrom(
      Tables.embeddings(spark, sf), nEval = 25, threshold = 0.35)
    val gate = DocStreams.releaseGate(spark,
      DocStreams.readDocumentStream(spark, sf).filter(col("doc_id") >= 25),
      evalCounts, evidence)
    val q = EventStreams.runToMemory(gate, "release_gate_out", OutputMode.Append)
    try {
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
          r.getLong(4), r.getBoolean(5))
      val streamed = spark.table("release_gate_out").collect()
        .map(key).sortBy(_._1).toSeq
      // Batch side sorted explicitly: query results are unordered, so
      // sort at the assertion.
      val batch = graft.operators.Pipeline.releaseAudit(spark, sf)
        .collect().map(key).sortBy(_._1).toSeq
      assert(streamed == batch,
        s"gate drift: missing=${batch.diff(streamed).take(3)} extra=${streamed.diff(batch).take(3)}")
      assert(batch.exists(!_._6), "fixture degenerate: every doc releasable")
      assert(batch.exists(r => (r._5 & 1L) != 0L), "no token-leg flags")
      assert(batch.exists(r => (r._5 & 2L) != 0L), "no sem-leg flags")
      assert(batch.exists(r => (r._5 & 4L) != 0L), "no blocklist flags")
    } finally q.stop()
  }

  test("at-ingest hash sampling keeps exactly the batch q23/q24 document sets") {
    import graft.operators.Sampling
    // Uniform 10% (q23's rule) and the per-stratum rebalance (q24's CASE):
    // the decision is md5-bucket arithmetic over the row's own key, so the
    // streamed keep-set must equal the batch filter EXACTLY — independent
    // of micro-batch boundaries or arrival order.
    val stream = DocStreams.readDocumentStream(spark, sf)
    val uniform = DocStreams.sampledStream(stream, lit(10)).select("doc_id")
    val strat = DocStreams.sampledStream(stream,
      when(col("lang") === "en", lit(25)).otherwise(lit(80))).select("doc_id", "lang")
    val qU = EventStreams.runToMemory(uniform, "sample_u_out", OutputMode.Append)
    val qS = EventStreams.runToMemory(strat, "sample_s_out", OutputMode.Append)
    try {
      qU.processAllAvailable(); qS.processAllAvailable()
      val streamedU = spark.table("sample_u_out").collect().map(_.getLong(0)).toSet
      val batchU = Tables.documents(spark, sf)
        .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
        .filter(col("bucket") < 10).collect().map(_.getLong(0)).toSet
      assert(streamedU == batchU, s"uniform sample drift: " +
        s"${batchU.diff(streamedU).take(5)} vs ${streamedU.diff(batchU).take(5)}")
      assert(streamedU.nonEmpty)
      val streamedS = spark.table("sample_s_out").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val batchS = Tables.documents(spark, sf)
        .withColumn("bucket", Sampling.hashBucket(col("doc_id")))
        .filter(col("bucket") < when(col("lang") === "en", lit(25)).otherwise(lit(80)))
        .select("doc_id", "lang").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(streamedS == batchS, "stratified sample drift")
      assert(streamedS.map(_._2).size > 1 || streamedS.nonEmpty)
    } finally { qU.stop(); qS.stop() }
  }

  test("at-ingest PII stamp matches the batch t30 kernel row-for-row") {
    import graft.operators.TextOps
    // Batch side: the t30 kernel over the footer corpus.
    val batch = TextOps.piiScrub(TextOps.piiCorpus(Tables.documents(spark, sf)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getBoolean(5))).toMap
    // Stream side: same footer derivation at ingest (pure column exprs
    // compose on streaming frames), then the stamp.
    val stamped = DocStreams.piiStamped(
        TextOps.piiCorpus(DocStreams.readDocumentStream(spark, sf)))
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted_md5", "has_pii")
    val q = EventStreams.runToMemory(stamped, "doc_pii_stream", OutputMode.Append)
    try {
      q.processAllAvailable()
      val streamed = spark.table("doc_pii_stream").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getBoolean(5))).toMap
      assert(streamed.keySet == batch.keySet, "document set drift")
      streamed.foreach { case (id, v) =>
        assert(batch(id) == v, s"PII stamp mismatch for doc $id")
      }
      // Non-vacuous: the corpus must exercise both verdicts.
      assert(streamed.values.exists(_._5) && streamed.values.exists(!_._5))
    } finally q.stop()
  }

  test("at-ingest template gate == batch t34 against the same frozen vocabulary, zero state") {
    val base = java.nio.file.Files.createTempDirectory("graft-template-gate").toString
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val split = maxId / 2
    // The frozen vocabulary: d23's hot-shingle keys over the FULL corpus
    // (the model the gate applies; corpus-learned offline like t24/t27).
    val hot = Dedup.hashedShingles(Dedup.shingleSets(docs))
      .groupBy("sh_h").agg(count(lit(1)).as("df")).filter(col("df") >= 4)
    docs.filter(col("doc_id") < split).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val gate = DocStreams.templateGate(spark,
      DocStreams.readDocumentStream(spark, base), hot, 0.5)
    val q = EventStreams.runToMemory(gate, "template_gate_out", OutputMode.Append)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= split).coalesce(1)
        .write.mode("append").parquet(s"$base/documents.parquet")
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      val streamed = spark.table("template_gate_out").collect().map(key).toMap
      val batch = graft.operators.TextOps.templatedDocs(docs, 4, 0.5)
        .collect().map(key).toMap
      assert(streamed.keySet == batch.keySet,
        s"row-set drift: ${batch.keySet.diff(streamed.keySet).take(5)}")
      streamed.foreach { case (id, v) =>
        assert(batch(id) == v, s"template score mismatch for doc $id: $v vs ${batch(id)}")
      }
      // Non-vacuous in both directions, and genuinely stateless.
      assert(streamed.values.exists(_._4), "no templated doc fired the flag")
      assert(streamed.values.exists(!_._4), "every doc flagged — degenerate fixture")
      val stateRows = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal)
      assert(stateRows.forall(_ == 0L), s"template gate must be stateless: $stateRows")
    } finally q.stop()
  }

  test("at-ingest lang gate == batch scoring per doc AND batch t35 when aggregated, zero state") {
    val base = java.nio.file.Files.createTempDirectory("graft-lang-gate").toString
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val split = maxId / 2
    docs.filter(col("doc_id") < split).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val gate = DocStreams.langGate(DocStreams.readDocumentStream(spark, base))
    val q = EventStreams.runToMemory(gate, "lang_gate_out", OutputMode.Append)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= split).coalesce(1)
        .write.mode("append").parquet(s"$base/documents.parquet")
      q.processAllAvailable()
      val streamed = spark.table("lang_gate_out")
      def key(r: org.apache.spark.sql.Row) =
        r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4)))
      val sm = streamed.collect().map(key).toMap
      val bm = DocStreams.langGate(docs).collect().map(key).toMap
      assert(sm == bm, s"per-doc verdict drift (${sm.size} vs ${bm.size} rows)")
      // Aggregating the streamed verdicts reproduces batch t35 exactly.
      def cells(df: org.apache.spark.sql.DataFrame) =
        graft.operators.TextOps.langMismatch(df).collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
            ((r.getBoolean(3), r.getLong(4), r.getDouble(5)))).toMap
      val arrived = streamed
        .select(col("doc_id"), col("source"), col("lang"))
        .join(docs.select("doc_id", "text"), "doc_id")
      // Fresh lineage: langMismatch's internal totals self-join would
      // otherwise hit conflicting references against the memory sink plan.
      val arrivedFresh = spark.createDataFrame(arrived.rdd, arrived.schema)
      assert(cells(docs) == cells(arrivedFresh))
      // Non-vacuous both ways; genuinely stateless.
      assert(sm.values.exists(_._4) && sm.values.exists(!_._4))
      val stateRows = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal)
      assert(stateRows.forall(_ == 0L), s"lang gate must be stateless: $stateRows")
    } finally q.stop()
  }

  test("at-ingest template scrub == batch d26 against the same frozen vocabulary, zero state") {
    val base = java.nio.file.Files.createTempDirectory("graft-scrub-gate").toString
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val split = maxId / 2
    // Frozen vocabulary: d23's hot keys over the FULL corpus (df >= 4,
    // distinct per doc — the exact definition batch d26 derives itself).
    val hot = Dedup.hashedShingles(Dedup.shingleSets(docs)).distinct()
      .groupBy("sh_h").agg(count(lit(1)).as("df")).filter(col("df") >= 4)
    docs.filter(col("doc_id") < split).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/documents.parquet")
    val gate = DocStreams.templateScrubGate(spark,
      DocStreams.readDocumentStream(spark, base), hot)
    val q = EventStreams.runToMemory(gate, "scrub_gate_out", OutputMode.Append)
    try {
      q.processAllAvailable()
      docs.filter(col("doc_id") >= split).coalesce(1)
        .write.mode("append").parquet(s"$base/documents.parquet")
      q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
      val streamed = spark.table("scrub_gate_out").collect().map(key).toMap
      // Batch d26 derives the same full-corpus vocabulary itself, so its
      // rows ARE the reference for every arrival.
      val batch = Dedup.templateScrub(docs, 4).collect().map(key).toMap
      assert(streamed.keySet == batch.keySet,
        s"row-set drift: ${batch.keySet.diff(streamed.keySet).take(5)}")
      streamed.foreach { case (id, v) =>
        assert(batch(id) == v, s"scrub record mismatch for doc $id: $v vs ${batch(id)}")
      }
      // Non-vacuous: some docs edited, some untouched; genuinely stateless.
      assert(streamed.values.exists(_._2 > 0) && streamed.values.exists(_._2 == 0))
      val stateRows = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal)
      assert(stateRows.forall(_ == 0L), s"scrub gate must be stateless: $stateRows")
    } finally q.stop()
  }
}
