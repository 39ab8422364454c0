package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SessionMemo

/** Durable release-artifact layouts — the production form of the three
  * session memo families ([[graft.SessionMemo]]: corpus, emb, tok), and
  * the 100 TB design point their scaladocs name: a pipeline
  * computes its corpus-derived artifacts ONCE per corpus freeze and every
  * downstream consumer READS them. Session checkpoints die with the
  * driver; these layouts survive it. Three families, one contract:
  *
  * '''Dedup kernel''' ([[write]]/[[open]]):
  * ```
  * <path>/hs/              (doc_id, sh_h)            word-3-gram hashes
  * <path>/hs5/ <path>/hs8/ (doc_id, sh_h)            5-/8-gram hashes
  * <path>/sigs/            (doc_id, sig)             MinHash signatures
  * <path>/banded/          (doc_id, band, bucket)    LSH band table
  * <path>/bucket_ids/      (band, bucket, ids)       capped memberships
  * <path>/cand/            (a, b)                    LSH candidate pairs
  * <path>/verified/        (a, b, jaccard)           exact-verified pairs
  * <path>/capped_jaccard/  (a, b, jaccard)           df-capped pair scores
  * <path>/clusters/        (cluster_rep, doc_id, cluster_size)
  * <path>/contam3|5|8/     (doc_id, eval_doc, ...)   decontam pair evidence
  * ```
  * The contam tables joined the layout in round 16: without them a
  * persisted-release reader still paid the decontamination legs' builds
  * (d09/d19/d35 — ~9 s of tokenize at sf0.1) that every other family had
  * already amortized.
  *
  * '''Embedding indexes''' ([[writeEmbedding]]/[[openEmbedding]]): the
  * trained IVF codebook + cell assignment, PQ codebooks + code table,
  * banded LSH index, brute-force ground truth, and the spread corpus
  * checkpoint — so a fresh session serves s01/s04/s08 (and the recall
  * floors) with ZERO train builds in the ledger. Driver-side codebooks
  * are persisted as small parquet tables and rebuilt into arrays at open.
  *
  * '''Tokenizer''' ([[writeTokenizer]]/[[openTokenizer]]): the trained
  * BPE merge table and the encoded corpus — t21/t25/t43 then measure the
  * SAME shipped tokenizer with zero train/encode builds.
  *
  * Every family's `_manifest.json` pins (a) the corpus stamps at freeze
  * time — BOTH [[graft.MemoLedger.freshDirStamp]] (mtime+size, cheap) and
  * [[graft.MemoLedger.contentStamp]] (head+tail byte hash, catches the
  * same-size same-mtime rewrite an object store can produce — the trap
  * the reader lease's `_COMMIT_TS` graduated from) — and (b) the kernel
  * parameters the artifacts were computed under. `open` verifies both
  * stamps and every parameter against the CURRENT corpus and kernel and
  * throws rather than serving stale or mismatched artifacts. The manifest
  * is written LAST: a crash mid-freeze leaves no manifest and `open`
  * refuses a manifest-less layout, so partial freezes are unreadable
  * rather than wrong.
  *
  * `open` installs each table into its session memo as a parquet-backed
  * DataFrame (or rebuilt driver-side array): every memo consumer then
  * runs off the persisted set at read-marginal cost (SCALE.md carries the
  * measured rows). Eviction's freeCheckpoint is a no-op on parquet-backed
  * plans, so installs are lifecycle-safe.
  */
object ReleaseArtifacts {

  // ------------------------------------------------ shared manifest plumbing

  private def stampParams(d: String): Seq[(String, String)] = Seq(
    "stamp" -> graft.MemoLedger.freshDirStamp(d).toString,
    "content_stamp" -> graft.MemoLedger.contentStamp(d).toString)

  private def manifestJson(params: Seq[(String, String)]): String =
    params.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Write `_manifest.json` under `path` — callers must have finished
    * every table write first (the manifest IS the commit marker). */
  private def writeManifest(spark: SparkSession, path: String,
      params: Seq[(String, String)]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path, "_manifest.json"), true)
    try out.write(manifestJson(params).getBytes("UTF-8"))
    finally out.close()
  }

  private def readManifest(spark: SparkSession, path: String): String = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(path, "_manifest.json")
    if (!fs.exists(mPath))
      throw new IllegalStateException(
        s"no release manifest at $path — not a frozen artifact set (or a " +
        "crashed freeze: the manifest is written last)")
    val in = fs.open(mPath)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def manifestField(json: String, field: String): String = {
    val m = ("\"" + field + "\":([-0-9.eE]+)").r.findFirstMatchIn(json)
    m.map(_.group(1)).getOrElse(
      throw new IllegalStateException(s"release manifest missing '$field': $json"))
  }

  /** Verify the frozen corpus stamps and kernel parameters against the
    * CURRENT corpus `d` and the caller's expected params. Stamps first
    * (stale data is the worse failure), then parameters field by field. */
  private def verifyManifest(json: String, d: String, path: String,
      expect: Seq[(String, String)]): Unit = {
    val stamp = manifestField(json, "stamp").toLong
    val now = graft.MemoLedger.freshDirStamp(d)
    if (stamp != now)
      throw new IllegalStateException(
        s"corpus $d changed since the freeze at $path (stamp $now != frozen " +
        s"$stamp) — re-freeze before reading release artifacts")
    val cStamp = manifestField(json, "content_stamp").toLong
    val cNow = graft.MemoLedger.contentStamp(d)
    if (cStamp != cNow)
      throw new IllegalStateException(
        s"corpus $d CONTENT changed since the freeze at $path (content stamp " +
        s"$cNow != frozen $cStamp, with mtimes unchanged — an in-place " +
        "rewrite) — re-freeze before reading release artifacts")
    expect.foreach { case (f, want) =>
      val got = manifestField(json, f)
      if (got != want)
        throw new IllegalStateException(
          s"release artifacts at $path were frozen under $f=$got but the " +
          s"current kernel uses $f=$want — re-freeze under the current kernel")
    }
  }

  // --------------------------------------------------- dedup kernel family

  /** Artifact name ↔ memo key, in dependency order. The memo keys embed
    * the parameters they were built under; the manifest re-checks those
    * parameters at open time. */
  private def tableKeys(threshold: Double): Seq[(String, String)] = Seq(
    "hs" -> "hs@3",
    "hs5" -> "hs@5",
    "hs8" -> "hs@8",
    "sigs" -> "sigs",
    "banded" -> "banded",
    "bucket_ids" -> s"bucketIds@${Dedup.BandBucketCap}",
    "cand" -> "cand",
    "verified" -> "verified",
    "capped_jaccard" -> "cappedJaccard",
    "clusters" -> s"clusters@$threshold@50",
    "contam3" -> "contam@3",
    "contam5" -> "contam@5",
    "contam8" -> "contam@8")

  private def dedupParams(threshold: Double): Seq[(String, String)] = Seq(
    "shingle_n" -> "3",
    "num_perms" -> Dedup.NumPerms.toString,
    "bands" -> Dedup.Bands.toString,
    "band_bucket_cap" -> Dedup.BandBucketCap.toString,
    "shingle_df_cap" -> Dedup.ShingleDfCap.toString,
    "threshold" -> threshold.toString,
    "cc_max_iters" -> "50")

  /** Freeze corpus `d`'s kernel artifacts under `path`. Builds (or
    * reuses) the session memo's checkpoints, then persists each as
    * parquet plus the manifest. */
  def write(spark: SparkSession, d: String, path: String,
      threshold: Double = 0.5): Unit = {
    val params = stampParams(d) ++ dedupParams(threshold)
    val byKey: Map[String, DataFrame] = Map(
      "hs@3" -> Dedup.corpusShingleHashes(spark, d),
      "hs@5" -> Dedup.corpusShingleHashes(spark, d, 5),
      "hs@8" -> Dedup.corpusShingleHashes(spark, d, 8),
      "sigs" -> Dedup.corpusSigs(spark, d),
      "banded" -> Dedup.corpusBanded(spark, d),
      s"bucketIds@${Dedup.BandBucketCap}" -> Dedup.corpusBucketIds(spark, d),
      "cand" -> Dedup.corpusCand(spark, d),
      "verified" -> Dedup.corpusVerifiedPairs(spark, d),
      "cappedJaccard" -> Dedup.corpusCappedJaccard(spark, d),
      s"clusters@$threshold@50" -> Dedup.corpusClusterTable(spark, d, threshold, 50),
      "contam@3" -> Dedup.contamSplitPairs(spark, d, 3),
      "contam@5" -> Dedup.contamSplitPairs(spark, d, 5),
      "contam@8" -> Dedup.contamSplitPairs(spark, d, 8))
    tableKeys(threshold).foreach { case (table, key) =>
      byKey(key).write.mode("overwrite").parquet(s"$path/$table")
    }
    writeManifest(spark, path, params)
  }

  /** Open a frozen dedup artifact set for corpus `d`: verify the
    * manifest, then install every table into the session memo as a
    * parquet-backed DataFrame. Throws (never silently recomputes or
    * serves stale data) when the corpus has changed since the freeze or
    * the kernel parameters differ. */
  def open(spark: SparkSession, d: String, path: String,
      threshold: Double = 0.5): Unit = {
    verifyManifest(readManifest(spark, path), d, path, dedupParams(threshold))
    tableKeys(threshold).foreach { case (table, key) =>
      SessionMemo.corpus.install(spark, d, key, spark.read.parquet(s"$path/$table"))
    }
  }

  // ----------------------------------------------- embedding index family

  private def embParams(nCells: Int, kmeansIters: Int, pqM: Int, pqK: Int,
      pqIters: Int, lshBits: Int, lshTables: Int, lshSeed: Long,
      bfQueries: Int, bfK: Int): Seq[(String, String)] = Seq(
    "n_cells" -> nCells.toString,
    "kmeans_iters" -> kmeansIters.toString,
    "pq_m" -> pqM.toString,
    "pq_k" -> pqK.toString,
    "pq_iters" -> pqIters.toString,
    "lsh_bits" -> lshBits.toString,
    "lsh_tables" -> lshTables.toString,
    "lsh_seed" -> lshSeed.toString,
    "bf_queries" -> bfQueries.toString,
    "bf_k" -> bfK.toString)

  /** Freeze corpus `d`'s trained vector indexes under `path` — the
    * shipped defaults mirror the s-family queries' parameters, so the
    * open() installs hit the exact memo keys those queries read. */
  def writeEmbedding(spark: SparkSession, d: String, path: String,
      nCells: Int = 16, kmeansIters: Int = 3,
      pqM: Int = 8, pqK: Int = 64, pqIters: Int = 3,
      lshBits: Int = 4, lshTables: Int = 8, lshSeed: Long = 0L,
      bfQueries: Int = 10, bfK: Int = 5): Unit = {
    import scala.jdk.CollectionConverters._
    val params = stampParams(d) ++ embParams(nCells, kmeansIters, pqM, pqK,
      pqIters, lshBits, lshTables, lshSeed, bfQueries, bfK)
    Similarity.corpusEmbeddings(spark, d)
      .write.mode("overwrite").parquet(s"$path/e")
    val (ivfCb, ivfCells) = Similarity.corpusIvfIndex(spark, d, nCells, kmeansIters)
    spark.createDataFrame(
      ivfCb.map { case (cell, c) => Row(cell, c.toSeq) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("cell",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
      .write.mode("overwrite").parquet(s"$path/ivf_codebook")
    ivfCells.write.mode("overwrite").parquet(s"$path/ivf_cells")
    val (pqCbs, pqCodes) = Similarity.corpusPqIndex(spark, d, pqM, pqK, pqIters)
    require(pqCbs.nonEmpty,
      s"PQ training produced no codebooks for $d — nothing to freeze")
    spark.createDataFrame(
      (for (sub <- pqCbs.indices; code <- pqCbs(sub).indices)
        yield Row(sub, code, pqCbs(sub)(code).toSeq)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("sub",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("code",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("centroid",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType), nullable = false))))
      .write.mode("overwrite").parquet(s"$path/pq_codebooks")
    pqCodes.write.mode("overwrite").parquet(s"$path/pq_codes")
    // The tuned serving rerank + its measured recall curve ship WITH the
    // index: a fresh session must not re-pay the tuning probes (and must
    // serve the same recall the freeze measured).
    val (chosen, curve) = Similarity.corpusPqRerank(
      spark, d, pqM, pqK, pqIters, bfQueries, bfK)
    spark.createDataFrame(
      curve.map { case (r, rec) => Row(r, rec, r == chosen) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rerank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("recall",
          org.apache.spark.sql.types.DoubleType, nullable = false),
        org.apache.spark.sql.types.StructField("chosen",
          org.apache.spark.sql.types.BooleanType, nullable = false))))
      .write.mode("overwrite").parquet(s"$path/pq_tuning")
    Similarity.corpusLshIndex(spark, d, lshBits, lshTables, lshSeed)
      .write.mode("overwrite").parquet(s"$path/lsh")
    Similarity.corpusBruteTopK(spark, d, bfQueries, bfK)
      .write.mode("overwrite").parquet(s"$path/bf")
    writeManifest(spark, path, params)
  }

  /** Open a frozen embedding-index set for corpus `d`: verify the
    * manifest, rebuild the driver-side codebook arrays from their parquet
    * tables, and install everything into the session memo. */
  def openEmbedding(spark: SparkSession, d: String, path: String,
      nCells: Int = 16, kmeansIters: Int = 3,
      pqM: Int = 8, pqK: Int = 64, pqIters: Int = 3,
      lshBits: Int = 4, lshTables: Int = 8, lshSeed: Long = 0L,
      bfQueries: Int = 10, bfK: Int = 5): Unit = {
    verifyManifest(readManifest(spark, path), d, path,
      embParams(nCells, kmeansIters, pqM, pqK, pqIters, lshBits, lshTables,
        lshSeed, bfQueries, bfK))
    SessionMemo.emb.install(spark, d, "e", spark.read.parquet(s"$path/e"))
    val ivfCb: Array[(Int, Array[Double])] =
      spark.read.parquet(s"$path/ivf_codebook").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    SessionMemo.emb.install(spark, d, s"ivf@$nCells@$kmeansIters",
      (ivfCb, spark.read.parquet(s"$path/ivf_cells")))
    val pqRows = spark.read.parquet(s"$path/pq_codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val pqCbs: Array[Array[Array[Double]]] =
      pqRows.groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    SessionMemo.emb.install(spark, d, s"pq@$pqM@$pqK@$pqIters",
      (pqCbs, spark.read.parquet(s"$path/pq_codes")))
    val tuning = spark.read.parquet(s"$path/pq_tuning").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getBoolean(2)))
      .sortBy(_._1)
    SessionMemo.emb.install(spark, d,
      s"pqRerank@$pqM@$pqK@$pqIters@$bfQueries@$bfK",
      (tuning.find(_._3).map(_._1).getOrElse(Similarity.RerankLadder.head),
        tuning.map(t => (t._1, t._2)).toSeq))
    SessionMemo.emb.install(spark, d, s"lsh@$lshBits@$lshTables@$lshSeed",
      spark.read.parquet(s"$path/lsh"))
    SessionMemo.emb.install(spark, d, s"bf@$bfQueries@$bfK",
      spark.read.parquet(s"$path/bf"))
  }

  // --------------------------------------------------- tokenizer family

  private def tokParams(nMerges: Int): Seq[(String, String)] =
    Seq("n_merges" -> nMerges.toString)

  /** Freeze corpus `d`'s trained tokenizer under `path`: the BPE merge
    * table (the tokenizer itself — rank-ordered merges) and the encoded
    * corpus (itself a release artifact: a pipeline encodes once and
    * every measurement reads the encoding). */
  def writeTokenizer(spark: SparkSession, d: String, path: String,
      nMerges: Int = 8): Unit = {
    import spark.implicits._
    val params = stampParams(d) ++ tokParams(nMerges)
    TextOps.corpusBpeMerges(spark, d, nMerges)
      .toDF("rank", "left", "right", "pair_count")
      .write.mode("overwrite").parquet(s"$path/merges")
    TextOps.corpusBpeEncoded(spark, d, nMerges)
      .write.mode("overwrite").parquet(s"$path/encoded")
    writeManifest(spark, path, params)
  }

  /** Open a frozen tokenizer for corpus `d`: verify the manifest, rebuild
    * the driver-side merge seq, and install both artifacts into the
    * session memo — t21/t25/t43 then run with zero train/encode builds. */
  def openTokenizer(spark: SparkSession, d: String, path: String,
      nMerges: Int = 8): Unit = {
    verifyManifest(readManifest(spark, path), d, path, tokParams(nMerges))
    val merges: Seq[(Long, String, String, Long)] =
      spark.read.parquet(s"$path/merges").orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    SessionMemo.tok.install(spark, d, s"bpe@$nMerges", merges)
    SessionMemo.tok.install(spark, d, s"enc@$nMerges",
      spark.read.parquet(s"$path/encoded"))
  }
}
