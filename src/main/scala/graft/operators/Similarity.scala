package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, SessionMemo}
import graft.functions.VectorFns._
import graft.functions.TextFns.safeFrac
import graft.sources.Tables

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - Brute-force baseline: broadcast the (small) query set, stream once
  *    over the corpus, per-query top-k via window rank. At 100 TB the plan
  *    is a single map-side broadcast-nested-loop pass + a k-row-per-query
  *    shuffle — no corpus self-join ever happens.
  *  - LSH-bucketed variant (scale path): random-hyperplane signatures
  *    (SimHash for cosine) bucket the corpus; queries probe only their
  *    bucket, trading recall for a ~2^bits fan-in reduction.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector (qid < nQueries). */
  def bruteForceTopK(spark: SparkSession, d: String, nQueries: Int, k: Int): DataFrame =
    corpusBruteTopK(spark, d, nQueries, k).transform(graft.Present.byNames("query_id", "rank"))

  // ----------------------------------- embedding artifact session memo
  // The index artifacts below live in `SessionMemo.emb` — the
  // corpus memo's pattern on the vector axis: the s-family queries each
  // rebuilt the SAME per-release artifacts — the spread corpus
  // checkpoint, the trained IVF codebook + cell assignment, the trained
  // PQ codebooks + code table, the exact ground-truth top-k — per query,
  // where production builds an INDEX once and every query probes it
  // (s05's recall loop literally re-trained both codebooks it was
  // evaluating). One entry per (artifact, params); driver-side codebook
  // arrays just drop on eviction.

  /** Free every embedding-memo artifact. Kept as a named entry point
    * because the benchmark harness (`perfbench`) calls it between passes. */
  def clearEmbMemo(): Unit = SessionMemo.emb.clear()

  /** The corpus embeddings (vec_id, embedding), spread across all cores
    * and checkpointed once per session (the source can be a single
    * file). */
  def corpusEmbeddings(spark: SparkSession, d: String): DataFrame =
    SessionMemo.emb.checkpointed(spark, d, "e") {
      // Data-proportional spread (round 17, same rule as Dedup.spread):
      // the cosine/codebook kernels behind this checkpoint are CPU-bound
      // per row, so a small corpus still fans out — but once the scan's
      // own splits reach the session parallelism the repartition is
      // skipped: at 100 TB a flat repartition(cores) would shuffle the
      // full vector payload the scan already spreads (guide §2.4).
      val sel = Tables.embeddings(spark, d)
        .select(col("vec_id"), col("embedding"))
      Sizing.spreadCount(sel) match {
        case Some(n) => sel.repartition(n)
        case None    => sel
      }
    }

  /** Trained IVF index — codebook + cell-assigned corpus — memoized per
    * (nCells, iters). */
  private[operators] def corpusIvfIndex(spark: SparkSession, d: String,
      nCells: Int, iters: Int): (Array[(Int, Array[Double])], DataFrame) =
    SessionMemo.emb(spark, d, s"ivf@$nCells@$iters") {
      val e = corpusEmbeddings(spark, d)
      val cb = ivfCodebookOf(spark, e, nCells, iters)
      (cb, graft.MemoLedger.audited(s"memo:ivf@$nCells@$iters")(
        assignCells(spark, e, cb)).localCheckpoint())
    }

  /** Trained PQ index — per-subspace codebooks + encoded corpus —
    * memoized per (m, k, iters). */
  private[operators] def corpusPqIndex(spark: SparkSession, d: String,
      m: Int, k: Int, iters: Int): (Array[Array[Array[Double]]], DataFrame) =
    SessionMemo.emb(spark, d, s"pq@$m@$k@$iters") {
      val e = corpusEmbeddings(spark, d)
      val cbs = pqTrain(spark, e, m, k, iters)
      (cbs, if (cbs.isEmpty) null
            else graft.MemoLedger.audited(s"memo:pq@$m@$k@$iters")(
              pqEncode(spark, e, cbs)).localCheckpoint())
    }

  /** Exact brute-force ground truth, memoized per (nQueries, k) — s01's
    * output and s05's truth are the same table. */
  private[operators] def corpusBruteTopK(spark: SparkSession, d: String,
      nQueries: Int, k: Int): DataFrame =
    SessionMemo.emb.checkpointed(spark, d, s"bf@$nQueries@$k")(
      bruteForceTopKFrom(corpusEmbeddings(spark, d), nQueries, k))

  /** Integer-milli quantized corpus (vec_id, label, qe), memoized — the
    * exact-parity clustering family's shared input. */
  private def corpusQuant(spark: SparkSession, d: String): DataFrame =
    SessionMemo.emb.checkpointed(spark, d, "qlab")(
      Tables.embeddings(spark, d)
        .select(col("vec_id"), col("label").cast("long").as("label"),
          quantMilli.as("qe")))

  /** Full-corpus exact-integer Lloyd centroids, memoized per (k, iters) —
    * s15's cartography and s19's nprobe curve measure the SAME codebook. */
  private def corpusCentroids(spark: SparkSession, d: String,
      k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    SessionMemo.emb(spark, d, s"cents@$k@$iters")(
      kmeansCentroidsFromQuant(
        corpusQuant(spark, d).select(col("vec_id"), col("qe")), k, iters))

  /** Lloyd centroids of the RESIDENT slice (vec_id < max·4/5 — the d10/s16
    * newest-fifth convention), memoized per (k, iters): s18's routing
    * codebook and s20's frozen codebook are the SAME artifact — each query
    * re-training its own copy was two identical Lloyd loops per session. */
  private def corpusResidentCentroids(spark: SparkSession, d: String,
      k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    SessionMemo.emb(spark, d, s"rcents@$k@$iters") {
      val q = corpusQuant(spark, d)
      val mxRow = q.agg(max("vec_id")).head()
      val split = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
      kmeansCentroidsFromQuant(
        q.filter(col("vec_id") < split).select(col("vec_id"), col("qe")),
        k, iters)
    }

  /** The ANN family's ranked close: (query_id, neighbor_id, c) scored
    * pairs → per-query top-k as (neighbor_id, cos_sim, rank) rows. A
    * heap-bounded [[graft.functions.SignatureAggs.TopKPairs]] aggregate —
    * k entries of state per query, map-side partials — NOT a
    * `row_number` window, which would sort each query's ENTIRE candidate
    * set (corpus-sized for brute force: the super-linear-memory shape a
    * 10⁹-vector ground-truth pass cannot afford). Same (c DESC,
    * neighbor_id) total order, so output is value-identical; posexplode
    * of the rank-ordered array IS the rank column. */
  private def topKClose(sims: DataFrame, k: Int): DataFrame = {
    sims.groupBy("query_id")
      .agg(expr(s"top_k_pairs(c, neighbor_id, $k)").as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        round(col("p.score"), 6).as("cos_sim"),
        (col("pos") + 1).cast("long").as("rank"))
      .transform(graft.Present.byNames("query_id", "rank"))
  }

  def bruteForceTopKFrom(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val sims = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
    topKClose(sims, k)
  }

  val annBruteForce = Q(
    "s01_ann_cosine_topk",
    (s, d) => bruteForceTopK(s, d, 10, 5),
    Some("""WITH sims AS (
              SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(n.embedding AS DOUBLE[])) AS c
              FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
              WHERE q.vec_id < 10)
            SELECT query_id, neighbor_id, round(c, 6) AS cos_sim, rank FROM (
              SELECT query_id, neighbor_id, c,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
              FROM sims)
            WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** Random-hyperplane LSH: sign-bit signature of `bits` fixed pseudo-random
    * hyperplanes (deterministic per dimension/bit via xxhash64-derived
    * coefficients materialized as literal arrays — no RNG at runtime).
    * `seed` selects an independent deterministic table set (seed 0 = the
    * shipped s02 tables); the recall floor is spec-asserted across two
    * seeds so the quality claim doesn't hinge on one lucky draw.
    */
  def hyperplaneSignature(dim: Int, bits: Int, seed: Long = 0L)(
      vec: org.apache.spark.sql.Column) = {
    // Deterministic ±1 hyperplane coefficients from a fixed LCG.
    def coeff(b: Int, i: Int): Double = {
      val x = (b.toLong * 1315423911L + i.toLong * 2654435761L + 97531L +
        seed * 7919L * (i.toLong + 13L * b.toLong + 1L)) % 1000003L
      if ((x & 1L) == 0L) 1.0 else -1.0
    }
    (0 until bits).map { b =>
      val plane = array((0 until dim).map(i => lit(coeff(b, i))): _*)
      when(dot(vec, plane) >= 0, lit(1L << b)).otherwise(0L)
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** ANN via multi-table hyperplane LSH: `tables` independent hash tables of
    * `bits` hyperplane sign-bits each. A (query, neighbor) pair is a
    * candidate iff it collides in ≥1 table — recall 1-(1-p^bits)^tables
    * where p = 1-θ/π, while each query scores only its buckets' union
    * instead of the full corpus. Rows-only check (approximate by
    * construction, still deterministic).
    */
  def lshTopK(spark: SparkSession, d: String, nQueries: Int, k: Int,
      bits: Int = 4, tables: Int = 8, seed: Long = 0L): DataFrame =
    lshTopKFromIndex(corpusEmbeddings(spark, d),
      corpusLshIndex(spark, d, bits, tables, seed), nQueries, k, bits, tables, seed)

  /** The banded LSH hash-table layout of a corpus — (neighbor_id, ne,
    * band, code), `tables` rows per vector: the index an LSH deployment
    * persists once and probes per query. */
  def lshBandedCorpus(e: DataFrame, bits: Int = 4, tables: Int = 8,
      seed: Long = 0L): DataFrame = {
    val dim = 64 // embeddings table vector dimension (TESTDATA.md)
    val allBits = hyperplaneSignature(dim, bits * tables, seed) _
    val bandCodes = (0 until tables).map { t =>
      shiftrightunsigned(col("sig"), t * bits).bitwiseAND(lit((1L << bits) - 1))
    }
    e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
      .withColumn("sig", allBits(col("ne")))
      .select(col("neighbor_id"), col("ne"),
        posexplode(array(bandCodes: _*)).as(Seq("band", "code")))
  }

  /** Banded LSH corpus index, memoized per (bits, tables, seed). */
  private[operators] def corpusLshIndex(spark: SparkSession, d: String,
      bits: Int, tables: Int, seed: Long): DataFrame =
    SessionMemo.emb.checkpointed(spark, d, s"lsh@$bits@$tables@$seed")(
      lshBandedCorpus(corpusEmbeddings(spark, d), bits, tables, seed))

  def lshTopKFrom(e: DataFrame, nQueries: Int, k: Int,
      bits: Int = 4, tables: Int = 8, seed: Long = 0L): DataFrame =
    lshTopKFromIndex(e, lshBandedCorpus(e, bits, tables, seed),
      nQueries, k, bits, tables, seed)

  /** The LSH probe against an ALREADY-BANDED corpus index. */
  def lshTopKFromIndex(e: DataFrame, corpus: DataFrame, nQueries: Int, k: Int,
      bits: Int = 4, tables: Int = 8, seed: Long = 0L): DataFrame = {
    val dim = 64 // embeddings table vector dimension (TESTDATA.md)
    // One signature of bits*tables hyperplane sign-bits, banded per table.
    val allBits = hyperplaneSignature(dim, bits * tables, seed) _
    val bandCodes = (0 until tables).map { t =>
      shiftrightunsigned(col("sig"), t * bits).bitwiseAND(lit((1L << bits) - 1))
    }
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("sig", allBits(col("qe")))
      .select(col("query_id"), col("qe"),
        posexplode(array(bandCodes: _*)).as(Seq("band", "code")))
    val cands = corpus.join(broadcast(queries), Seq("band", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qe", "neighbor_id", "ne")
      .dropDuplicates("query_id", "neighbor_id")
    val sims = cands.select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("c"), 6).as("cos_sim"), col("rank"))
      .transform(graft.Present.byNames("query_id", "rank"))
  }

  val annLsh = Q(
    "s02_ann_lsh_bucketed",
    (s, d) => lshTopK(s, d, 10, 5),
    None)

  /** Per-label centroid + distance stats: the "clustering readout" shape
    * (classic IVF coarse-quantizer step). Element-wise array aggregation
    * via zip_with-style reduce in one pass.
    */
  val centroids = Q(
    "s03_label_centroid_stats",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"), col("embedding"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          round(avg(sqrt(dot(col("embedding"), col("embedding")))), 6).as("avg_norm"),
          round(min(sqrt(dot(col("embedding"), col("embedding")))), 6).as("min_norm"),
          round(max(sqrt(dot(col("embedding"), col("embedding")))), 6).as("max_norm"))
        .transform(graft.Present.byNames("label")),
    Some("""SELECT CAST(label AS BIGINT) AS label, count(*) AS n_vecs,
            round(avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS avg_norm,
            round(min(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS min_norm,
            round(max(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))), 6) AS max_norm
            FROM embeddings GROUP BY label ORDER BY label"""))

  private[graft] def dotd(x: Array[Double], y: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < x.length) { s += x(i) * y(i); i += 1 }
    s
  }
  private[graft] def unit(a: Array[Float]): Array[Double] = {
    val dv = a.map(_.toDouble)
    val n = math.sqrt(dotd(dv, dv))
    if (n == 0) dv else dv.map(_ / n)
  }
  private def unitD(a: Array[Double]): Array[Double] = {
    val n = math.sqrt(dotd(a, a))
    if (n == 0) a else a.map(_ / n)
  }

  /** Spherical k-means refinement of an IVF codebook (Lloyd iterations with
    * unit-normalized centroids — the right geometry for cosine similarity).
    * Seeded deterministically by the caller; no RNG. Each iteration is one
    * corpus pass: per-partition partial (sum, count) accumulators keyed by
    * cell, combined with `reduceByKey` — the map-side-combine shape that
    * keeps the shuffle at O(nCells × dim × partitions) bytes regardless of
    * corpus size, so the loop costs `iters` scans at 100 TB, not `iters`
    * sorts.
    */
  def refineCodebook(
      spark: SparkSession,
      vecs: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      seeds: Array[(Int, Array[Double])],
      iters: Int): Array[(Int, Array[Double])] = {
    var cb = seeds
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cb)
      val partials = vecs.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[Int, (Array[Double], Long)]
        it.foreach { case (_, v) =>
          val uv = unit(v)
          val cell = bc.value
            .map { case (cid, c) => (cid, dotd(uv, c)) }
            .maxBy { case (cid, s) => (s, -cid) }._1
          val (sum, n) = acc.getOrElseUpdate(cell, (new Array[Double](uv.length), 0L))
          var i = 0; while (i < uv.length) { sum(i) += uv(i); i += 1 }
          acc(cell) = (sum, n + 1)
        }
        acc.iterator
      }.reduceByKey { (a: (Array[Double], Long), b: (Array[Double], Long)) =>
        val (s1, n1) = a; val (s2, n2) = b
        var i = 0; while (i < s1.length) { s1(i) += s2(i); i += 1 }
        (s1, n1 + n2)
      }.collect()
      // Empty cells keep their previous centroid (standard k-means fallback).
      val updated = partials.map { case (cell, (sum, n)) =>
        cell -> unitD(sum.map(_ / n))
      }.toMap
      cb = cb.map { case (cid, c) => (cid, updated.getOrElse(cid, c)) }
    }
    cb
  }

  /** ANN via IVF (inverted-file) coarse quantization: a deterministic
    * codebook (the `nCells` lowest vec_ids as seeds, refined by
    * [[refineCodebook]] spherical k-means) partitions the corpus into
    * cells; queries score only their `nProbe` nearest cells.
    * This is the classic IVF-Flat layout: at 100 TB the corpus is written
    * partitioned by cell id, so a probe reads nProbe/nCells of the data.
    * Rows-only check (approximate by construction, still deterministic).
    */
  /** Train the IVF codebook for table `d` (deterministic seeds: the
    * `nCells` lowest vec_ids, refined by spherical k-means). Only
    * codebook-sized data reaches the driver. */
  def ivfCodebook(spark: SparkSession, d: String,
      nCells: Int, kmeansIters: Int): Array[(Int, Array[Double])] =
    ivfCodebookOf(spark,
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      nCells, kmeansIters)

  def ivfCodebookOf(spark: SparkSession, e: DataFrame,
      nCells: Int, kmeansIters: Int): Array[(Int, Array[Double])] = {
    import spark.implicits._
    // Seeds = the TRUE nCells lowest vec_ids (TakeOrdered — an nCells-row
    // collect at any corpus size), not a `vec_id < nCells` literal: a
    // sparse-id corpus (min vec_id ≥ nCells) must still seed a full
    // codebook. Cell ids are the (opaque) seed vec_ids.
    val seeds = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .orderBy(col("vec_id")).limit(nCells)
      .collect().sortBy(_._1).map { case (id, v) => (id.toInt, unit(v)) }
    refineCodebook(spark, e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])],
      seeds, kmeansIters)
  }

  /** (cell, neighbor_id, ne): every vector assigned to its nearest codebook
    * cell — the one assignment rule shared by index build, incremental
    * append, and the in-memory twin, so the persisted and in-memory paths
    * can never drift. */
  def assignCells(spark: SparkSession, e: DataFrame,
      codebook: Array[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebook)
    e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val uv = unit(v)
        (bc.value.map { case (cid, c) => (cid, dotd(uv, c)) }
          .maxBy { case (cid, s) => (s, -cid) }._1, id, v)
      }
      .toDF("cell", "neighbor_id", "ne")
  }

  /** The IVF-Flat index layout made literal: assign every corpus vector to
    * its cell and write the corpus `partitionBy("cell")`, one parquet
    * directory per cell (the codebook rides along at `<path>_codebook`).
    * At 100 TB this is THE reason IVF scales: a probe's `cell IN (...)`
    * filter becomes partition pruning at the scan, so each query reads
    * nProbe/nCells of the data instead of all of it —
    * [[PartitionPruningSpec]] asserts the pruned file count. */
  def ivfWriteIndex(spark: SparkSession, d: String, indexPath: String,
      nCells: Int = 16, kmeansIters: Int = 3): Unit =
    ivfWriteIndexOf(spark,
      Tables.embeddings(spark, d).select(col("vec_id"), col("embedding")),
      indexPath, nCells, kmeansIters)

  def ivfWriteIndexOf(spark: SparkSession, e: DataFrame, indexPath: String,
      nCells: Int = 16, kmeansIters: Int = 3): Unit = {
    import spark.implicits._
    val codebook = ivfCodebookOf(spark, e, nCells, kmeansIters)
    assignCells(spark, e, codebook)
      // One shuffle keyed by cell → each cell's rows land in one task →
      // exactly one file per cell directory.
      .repartition(nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    codebook.map { case (cid, c) => (cid, c) }.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(indexPath + "_codebook")
  }

  /** Incremental IVF maintenance — the ANN twin of d10's incremental
    * dedup: assign a DELTA of new vectors to the EXISTING persisted
    * codebook (no re-clustering, no touching the resident corpus rows)
    * and append them to their cell partitions. The daily-ingest cost is
    * O(delta): one codebook-broadcast assignment pass over the delta plus
    * appended files in the matching `cell=` directories; probes see the
    * new vectors immediately through the same partition-pruned read path.
    * The price of skipping re-clustering is codebook staleness (cells no
    * longer centroidal for drifted data) — s07 carries the recall-floor
    * spec and the rebuild decision stays an offline policy call.
    */
  def ivfAppendIndex(spark: SparkSession, delta: DataFrame, indexPath: String): Unit = {
    import spark.implicits._
    val codebook = spark.read.parquet(indexPath + "_codebook")
      .as[(Int, Array[Double])].collect().sortBy(_._1) // codebook-sized
    assignCells(spark, delta, codebook)
      .repartition(codebook.length, col("cell"))
      .write.mode("append").partitionBy("cell").parquet(indexPath)
  }

  /** Probe a written IVF index: per query, find its `nProbe` nearest cells
    * from the persisted codebook, then scan ONLY those cell partitions
    * (`cell IN (literal cells)` — static partition pruning) and score.
    * Results are identical to [[ivfTopK]] with the same geometry; the
    * difference is what gets READ. */
  /** The probe's (cell, query_id, qe) assignment — each query mapped to its
    * `nProbe` nearest cells under the persisted codebook. Shared by
    * [[ivfProbeIndex]] and the scale rehearsal's work accounting (rows
    * scanned / pairs scored), so the measured quantities use exactly the
    * serving path's geometry. */
  def ivfProbeQueries(spark: SparkSession, d: String, indexPath: String,
      nQueries: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val codebook = spark.read.parquet(indexPath + "_codebook")
      .as[(Int, Array[Double])].collect().sortBy(_._1) // codebook-sized
    val bc = spark.sparkContext.broadcast(codebook)
    def nearestCells(v: Array[Float], n: Int): Seq[Int] =
      bc.value.map { case (cid, c) => (cid, dotd(unit(v), c)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1).toSeq
    Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < nQueries)
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) => nearestCells(v, nProbe).map(c => (c, id, v)) }
      .toDF("cell", "query_id", "qe")
  }

  /** Tombstone deletion — the third verb of the index lifecycle
    * (build → append → DELETE → compact): deleted ids land in a tiny
    * `_tombstones` side table (one append-mode write, O(|deletes|) — the
    * cell files are NEVER rewritten on the delete path, exactly how
    * production ANN stores take deletes). Probes mask tombstoned rows at
    * read time (anti join against the broadcast-small tombstone set);
    * [[ivfCompactIndex]] folds them into the rewrite and clears the
    * side table, so tombstone volume is bounded by one compaction
    * interval. Idempotent: deleting an id twice, or an id absent from
    * the index, is harmless (the mask is a set). */
  def ivfDeleteIndex(spark: SparkSession, deletedIds: DataFrame, indexPath: String): Unit =
    deletedIds.select(col("vec_id")).coalesce(1)
      .write.mode("append").parquet(indexPath + "_tombstones")

  /** The live tombstone mask, empty when none have been written. */
  private def tombstones(spark: SparkSession, indexPath: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(indexPath + "_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(spark.read.parquet(indexPath + "_tombstones")) else None
  }

  def ivfProbeIndex(spark: SparkSession, d: String, indexPath: String,
      nQueries: Int, k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val queries = ivfProbeQueries(spark, d, indexPath, nQueries, nProbe)
    // The probe cell set is queries×nProbe ints — collecting it makes the
    // IN literal, which is what lets the scan prune partitions statically.
    val probeCells = queries.select("cell").distinct().as[Int].collect().toSeq.sorted
    val live = spark.read.parquet(indexPath)
    val corpus = tombstones(spark, indexPath)
      // Deleted rows are masked at read time; the set is bounded by one
      // compaction interval, so AQE broadcasts it.
      .fold(live)(ts => live.join(ts.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti"))
      .filter(col("cell").isin(probeCells: _*))
    val sims = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
      .dropDuplicates("query_id", "neighbor_id")
    topKClose(sims, k)
  }

  def ivfTopK(spark: SparkSession, d: String, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 3): DataFrame = {
    val (cb, corpus) = corpusIvfIndex(spark, d, nCells, kmeansIters)
    ivfTopKFromIndex(spark, corpusEmbeddings(spark, d), cb, corpus, nQueries, k, nProbe)
  }

  def ivfTopKFrom(spark: SparkSession, raw: DataFrame, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 3): DataFrame = {
    val e = raw.select(col("vec_id"), col("embedding"))
    val codebook = ivfCodebookOf(spark, e, nCells, kmeansIters)
    ivfTopKFromIndex(spark, e, codebook, assignCells(spark, e, codebook),
      nQueries, k, nProbe)
  }

  /** The IVF probe against an ALREADY-BUILT index (trained codebook +
    * cell-assigned corpus) — the serving-path form the session memo
    * feeds; the generic `ivfTopKFrom` builds both parts inline. */
  def ivfTopKFromIndex(spark: SparkSession, e: DataFrame,
      codebook: Array[(Int, Array[Double])], corpus: DataFrame,
      nQueries: Int, k: Int, nProbe: Int): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebook)
    def nearestCells(v: Array[Float], n: Int): Seq[Int] =
      bc.value.map { case (cid, c) => (cid, dotd(unit(v), c)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1).toSeq
    // Column filter BEFORE the typed view: the lambda form deserializes
    // every corpus row to find nQueries of them.
    val queries = e.filter(col("vec_id") < nQueries).as[(Long, Array[Float])]
      .flatMap { case (id, v) => nearestCells(v, nProbe).map(c => (c, id, v)) }
      .toDF("cell", "query_id", "qe")
    val sims = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
      .dropDuplicates("query_id", "neighbor_id")
    topKClose(sims, k)
  }

  val annIvf = Q(
    "s04_ann_ivf",
    (s, d) => ivfTopK(s, d, 10, 5),
    None)

  /** Compact an IVF index after incremental/streaming appends — the
    * small-file follow-up every appended table needs: each micro-batch
    * append adds a parquet file per touched cell, and probe cost is files
    * OPENED as much as bytes read. One cell-keyed shuffle rewrites each
    * cell partition back to a single file (the write-path layout), staged
    * to a sibling directory and swapped in; the codebook is untouched, so
    * probes before and after see identical rows. The swap (rename old →
    * rename staged → delete old) is not transactional across concurrent
    * readers — same honesty note as the append path: production puts the
    * index in a transactional table format; this is the layout operation
    * itself. Crash windows and their recovery:
    *   - died between retiring the old index and activating the staged one
    *     ⇒ `indexPath` missing, the live rows sitting in `_retired`. Entry
    *     detects that state and renames `_retired` back before compacting
    *     (spec-asserted), so the next compact run self-heals; a concurrent
    *     probe in that window fails loudly on the missing path (also
    *     spec-asserted) rather than silently serving zero rows.
    *   - died before the first rename ⇒ `_compacting`/`_retired` leftovers
    *     are overwritten/deleted on the next run; the live index was never
    *     touched.
    */
  def ivfCompactIndex(spark: SparkSession, indexPath: String): Unit = {
    import org.apache.hadoop.fs.Path
    val staged = indexPath + "_compacting"
    val retired = indexPath + "_retired"
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(indexPath)) && fs.exists(new Path(retired)))
      // A prior compact died mid-swap; _retired holds the live index.
      require(fs.rename(new Path(retired), new Path(indexPath)),
        s"compact: cannot restore $retired after crashed swap")
    val nCells = spark.read.parquet(indexPath + "_codebook").count().toInt
    val live = spark.read.parquet(indexPath)
    // Fold tombstones into the rewrite: the compacted index physically
    // drops deleted rows, and the mask resets only AFTER the swap
    // succeeded (a crash between rewrite and swap leaves the tombstones
    // in place — probes stay correct either way).
    tombstones(spark, indexPath)
      .fold(live)(ts => live.join(ts.withColumnRenamed("vec_id", "neighbor_id"),
        Seq("neighbor_id"), "left_anti"))
      .repartition(nCells, col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(staged)
    fs.delete(new Path(retired), true) // leftover from a crashed swap
    require(fs.rename(new Path(indexPath), new Path(retired)),
      s"compact: cannot retire $indexPath")
    require(fs.rename(new Path(staged), new Path(indexPath)),
      s"compact: cannot activate $staged")
    fs.delete(new Path(retired), true)
    fs.delete(new Path(indexPath + "_tombstones"), true)
  }

  /** s07: ANN serving state after incremental ingest — top-k under a STALE
    * codebook, trained before the newest fifth of vectors arrived: exactly
    * what an IVF index maintained by [[ivfAppendIndex]] (append, no
    * re-cluster) serves. In-memory twin of build+append — the assignment
    * rule is shared via [[assignCells]], and the persisted write+append
    * path is asserted row-identical in PartitionPruningSpec. `from_delta`
    * marks neighbors that arrived after codebook training — the proof the
    * ingest is immediately searchable. Rows-only check (approximate by
    * construction, still deterministic); the persisted append path and a
    * planted-ingest top-1 hit are asserted in PartitionPruningSpec.
    */
  def ivfStaleTopK(spark: SparkSession, d: String, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 3): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
    // max over a ZERO-ROW table is NULL (empty daily delta): split 0 keeps
    // both halves empty instead of ROW_VALUE_IS_NULL.
    val mxRow = e.agg(max("vec_id")).head()
    val split = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
    val codebook = ivfCodebookOf(spark, e.filter(col("vec_id") < split),
      nCells, kmeansIters)
    val bc = spark.sparkContext.broadcast(codebook)
    def nearestCells(v: Array[Float], n: Int): Seq[Int] =
      bc.value.map { case (cid, c) => (cid, dotd(unit(v), c)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1).toSeq
    val corpus = assignCells(spark, e, codebook)
    // Column filter BEFORE the typed view: the lambda form deserializes
    // every corpus row to find nQueries of them.
    val queries = e.filter(col("vec_id") < nQueries).as[(Long, Array[Float])]
      .flatMap { case (id, v) => nearestCells(v, nProbe).map(c => (c, id, v)) }
      .toDF("cell", "query_id", "qe")
    val sims = corpus.join(broadcast(queries), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("c"), 6).as("cos_sim"),
        col("rank"), (col("neighbor_id") >= split).as("from_delta"))
      .transform(graft.Present.byNames("query_id", "rank"))
  }

  val annAppend = Q(
    "s07_ann_ivf_append",
    (s, d) => ivfStaleTopK(s, d, 10, 5),
    None)

  /** s12: serving state after DELETES — the in-memory twin of
    * [[ivfDeleteIndex]]+probe, completing the index lifecycle s07 opened
    * (build → append → delete → compact): the codebook was trained
    * BEFORE the deletes landed (no re-cluster on the delete path — same
    * staleness stance as s07), the corpus scan masks the tombstoned ids
    * (vec_id % 10 == 3, a tenth of the index), and the top-k must be
    * filled entirely from surviving vectors — `refilled` marks neighbors
    * that would NOT have made the pre-delete top-k (rank > k under the
    * full corpus), the proof the index backfills rather than returning
    * holes. The PERSISTED path (tombstone side table, read-time mask,
    * compaction folding + mask reset, crash placement) is asserted
    * row-identical to this twin in PartitionPruningSpec.
    * Rows-only check (approximate by construction, still deterministic);
    * the recall floor lives in NoOracleReport/OperatorSpec. */
  def ivfDeletedTopK(spark: SparkSession, d: String, nQueries: Int, k: Int,
      nCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 3): DataFrame = {
    import spark.implicits._
    // The pre-delete index is s04's — trained before the tombstones land
    // (the staleness stance), so it IS the memoized session index.
    val e = corpusEmbeddings(spark, d)
    val (codebook, corpus) = corpusIvfIndex(spark, d, nCells, kmeansIters)
    val bc = spark.sparkContext.broadcast(codebook)
    def nearestCells(v: Array[Float], n: Int): Seq[Int] =
      bc.value.map { case (cid, c) => (cid, dotd(unit(v), c)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(n).map(_._1).toSeq
    // Column filter BEFORE the typed view: the lambda form deserializes
    // every corpus row to find nQueries of them.
    val queries = e.filter(col("vec_id") < nQueries).as[(Long, Array[Float])]
      .flatMap { case (id, v) => nearestCells(v, nProbe).map(c => (c, id, v)) }
      .toDF("cell", "query_id", "qe")
    def topK(c: DataFrame): DataFrame = {
      val sims = c.join(broadcast(queries), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
        .dropDuplicates("query_id", "neighbor_id")
      val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
      sims.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
    }
    val preDelete = topK(corpus)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("pre"))
    topK(corpus.filter(pmod(col("neighbor_id"), lit(10)) =!= 3))
      .join(preDelete, Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"),
        round(col("c"), 6).as("cos_sim"), col("rank"),
        col("pre").isNull.as("refilled"))
      .transform(graft.Present.byNames("query_id", "rank"))
  }

  val annDelete = Q(
    "s12_ann_ivf_delete",
    (s, d) => ivfDeletedTopK(s, d, 10, 5),
    None)

  // --------------------------------------------------- product quantization
  /** Train per-subspace PQ codebooks: each unit-normalized embedding (the
    * cosine geometry every ANN query here uses) is split into `m`
    * contiguous subvectors and each subspace gets a `k`-centroid L2 Lloyd
    * codebook, seeded deterministically from the `k` lowest vec_ids. ONE
    * corpus pass per iteration computes ALL subspaces' partials together
    * (accumulators keyed (subspace, cell), combined via `reduceByKey` —
    * the same map-side-combine shape as [[refineCodebook]]), so training
    * costs `iters` scans regardless of `m`; only m×k×(dim/m) doubles ever
    * reach the driver. Returns codebooks[subspace][cell][dim/m]. */
  def pqTrain(spark: SparkSession, e: DataFrame,
      m: Int, k: Int, iters: Int): Array[Array[Array[Double]]] = {
    import spark.implicits._
    val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // Seeds = the TRUE k lowest vec_ids (TakeOrdered — a k-row collect at
    // any corpus size), not a `vec_id < k` literal: the table carries no
    // dense-0-based id contract, and a sparse-id corpus (min vec_id ≥ k)
    // must still seed k codebook entries rather than silently train none.
    val seedVecs = vecs.orderBy(col("vec_id")).limit(k)
      .collect().sortBy(_._1).map(v => unit(v._2))
    // Zero-row corpus (empty daily delta): no codebooks to train — the
    // empty sentinel; pqTopKFrom maps it to the empty result frame.
    if (seedVecs.isEmpty) return Array.empty
    val dim = seedVecs.head.length
    require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
    val dsub = dim / m
    var cbs: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      Array.tabulate(k)(j =>
        java.util.Arrays.copyOfRange(seedVecs(j % seedVecs.length), s * dsub, (s + 1) * dsub)))
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(cbs)
      val partials = vecs.rdd.mapPartitions { it =>
        val acc = scala.collection.mutable.Map.empty[(Int, Int), (Array[Double], Long)]
        it.foreach { case (_, v) =>
          val uv = unit(v)
          var s = 0
          while (s < bc.value.length) {
            val sub = java.util.Arrays.copyOfRange(uv, s * dsub, (s + 1) * dsub)
            val cell = pqNearest(bc.value(s), sub)
            val (sum, n) = acc.getOrElseUpdate((s, cell), (new Array[Double](dsub), 0L))
            var i = 0; while (i < dsub) { sum(i) += sub(i); i += 1 }
            acc((s, cell)) = (sum, n + 1)
            s += 1
          }
        }
        acc.iterator
      }.reduceByKey { (a: (Array[Double], Long), b: (Array[Double], Long)) =>
        val (s1, n1) = a; val (s2, n2) = b
        var i = 0; while (i < s1.length) { s1(i) += s2(i); i += 1 }
        (s1, n1 + n2)
      }.collect()
      val updated = partials.map { case ((s, cell), (sum, n)) =>
        (s, cell) -> sum.map(_ / n)
      }.toMap
      // Empty cells keep their previous centroid (standard k-means fallback).
      cbs = Array.tabulate(m)(s => Array.tabulate(k)(c => updated.getOrElse((s, c), cbs(s)(c))))
    }
    cbs
  }

  /** Nearest centroid by squared L2; ties break to the lowest index so the
    * rule is deterministic in both the trainer and the encoder. */
  private def pqNearest(cb: Array[Array[Double]], x: Array[Double]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      var d = 0.0; var i = 0
      val cent = cb(c)
      while (i < x.length) { val t = x(i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Encode the corpus under trained codebooks: vec_id → m small codes
    * (k ≤ 256 ⇒ one byte per subspace — 64 float dims compress 32× to 8
    * bytes). Map-only pass, codebooks broadcast. */
  def pqEncode(spark: SparkSession, e: DataFrame,
      cbs: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val m = cbs.length; val dsub = cbs(0)(0).length
    val bc = spark.sparkContext.broadcast(cbs)
    e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .map { case (id, v) =>
        val uv = unit(v)
        (id, Array.tabulate(m)(s => pqNearest(bc.value(s),
          java.util.Arrays.copyOfRange(uv, s * dsub, (s + 1) * dsub))))
      }
      .toDF("vec_id", "codes")
  }

  /** ANN via PQ asymmetric-distance computation (ADC) with exact rerank —
    * the production IVFPQ serving loop: the corpus is SCANNED only as
    * m-byte codes (each query precomputes an m×k table of subvector dots,
    * so a corpus row costs m table lookups — no float vectors in the hot
    * scan); the ADC shortlist (rerank× topK per query) is then refined
    * with exact cosine against the raw vectors. ADC alone cannot resolve
    * within-cluster ranking at this code budget (measured: recall@5 0.36
    * at m=8,k=16; 0.48 at k=64); the rerank step is what every deployed
    * PQ system adds, and only queries × rerank×topK raw rows are touched.
    *
    * Scale shape: codes scan with per-partition per-query bounded heaps
    * (only partitions × queries × R candidate rows ever reach the
    * shortlist window — never the nQueries × corpus cross product);
    * queries + lookup tables broadcast (queries × m × k doubles); the
    * refine step broadcast-joins the tiny shortlist against the corpus
    * scan. Rows-only check: k-means codebooks are not SQL-expressible;
    * deterministic seeds + tie rules make the output stable, and the
    * planted-cluster spec carries the recall floor.
    */
  /** Sentinel rerank value: auto-tune from the measured recall curve
    * ([[pqTuneRerank]]). The SHIPPED default — a fixed rerank is wrong
    * for some corpus shape (round 15's skew wave measured recall 0.52 at
    * rerank=8 on a clustered corpus whose cure was 0.96@128), and which
    * shape a corpus has is measurable at index-build time for the price
    * of a few probes, so the default measures instead of guessing. */
  val AutoRerank: Int = 0

  /** The rerank ladder the auto-tuner walks (ascending) and the recall
    * target it stops at. 512×topK exact refines per query is the honest
    * ceiling for a corpus PQ cannot resolve below it. */
  val RerankLadder: Seq[Int] = Seq(8, 32, 128, 512)
  val RerankRecallTarget = 0.9

  /** Measure the PQ recall curve against exact ground truth on the
    * shipped probe set and pick the smallest ladder rung with recall ≥
    * `target` (the largest rung if none reaches it). Walks the ladder in
    * order and STOPS at the first passing rung, so the common uniform
    * corpus pays one probe evaluation, not four; the returned curve
    * covers the rungs actually walked. This is a build-time index
    * parameter (cost: ≤ |ladder| probe evaluations, each queries ×
    * rerank×topK exact refines), not a per-query cost. */
  def pqTuneRerank(spark: SparkSession, e: DataFrame,
      cbs: Array[Array[Array[Double]]], codes: DataFrame, truth: DataFrame,
      nQueries: Int, topK: Int,
      target: Double = RerankRecallTarget): (Int, Seq[(Int, Double)]) = {
    val truthPairs = truth.select("query_id", "neighbor_id").localCheckpoint()
    val truthN = truthPairs.count()
    if (truthN == 0L) return (RerankLadder.head, Seq.empty)
    val curve = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    RerankLadder.foreach { r =>
      if (!curve.lastOption.exists(_._2 >= target)) {
        val hits = pqTopKFromCodes(spark, e, cbs, codes, nQueries, topK, r)
          .select("query_id", "neighbor_id")
          .join(truthPairs, Seq("query_id", "neighbor_id"), "leftsemi")
          .count()
        curve += r -> (hits.toDouble / truthN)
      }
    }
    Dedup.freeCheckpoint(truthPairs)
    val chosen = curve.find(_._2 >= target).map(_._1).getOrElse(curve.last._1)
    (chosen, curve.toSeq)
  }

  /** The memoized (chosen rerank, measured curve) for the corpus index —
    * tuned once per (session, corpus, index params), reused by every
    * probe; the frozen layout persists it with the codebooks. */
  private[operators] def corpusPqRerank(spark: SparkSession, d: String,
      m: Int, k: Int, iters: Int,
      nQueries: Int, topK: Int): (Int, Seq[(Int, Double)]) =
    SessionMemo.emb(spark, d, s"pqRerank@$m@$k@$iters@$nQueries@$topK") {
      val (cbs, codes) = corpusPqIndex(spark, d, m, k, iters)
      pqTuneRerank(spark, corpusEmbeddings(spark, d), cbs, codes,
        corpusBruteTopK(spark, d, nQueries, topK), nQueries, topK)
    }

  def pqTopK(spark: SparkSession, d: String, nQueries: Int, topK: Int,
      m: Int = 8, k: Int = 64, iters: Int = 3,
      rerank: Int = AutoRerank): DataFrame = {
    val (cbs, codes) = corpusPqIndex(spark, d, m, k, iters)
    val r = if (rerank == AutoRerank)
      corpusPqRerank(spark, d, m, k, iters, nQueries, topK)._1 else rerank
    pqTopKFromCodes(spark, corpusEmbeddings(spark, d), cbs, codes,
      nQueries, topK, r)
  }

  def pqTopKFrom(spark: SparkSession, raw: DataFrame, nQueries: Int, topK: Int,
      m: Int = 8, k: Int = 64, iters: Int = 3,
      rerank: Int = AutoRerank): DataFrame = {
    val e = raw.select(col("vec_id"), col("embedding"))
    val cbs = pqTrain(spark, e, m, k, iters)
    // The tuner probes the code table up to |ladder| times — persist()
    // (NOT localCheckpoint: this one-shot path has no memo to own and
    // later free a lineage-truncated checkpoint, so a checkpoint here
    // would pin corpus-sized blocks until the session dies) so the
    // encode runs once across the probes, then unpersist before the
    // final probe: lineage is intact, the result recomputes the encode
    // exactly once more, and nothing leaks.
    val codes = if (cbs.isEmpty) null
      else if (rerank == AutoRerank) pqEncode(spark, e, cbs).persist()
      else pqEncode(spark, e, cbs)
    val r = if (rerank == AutoRerank && cbs.nonEmpty)
      try pqTuneRerank(spark, e, cbs, codes,
        bruteForceTopKFrom(e, nQueries, topK), nQueries, topK)._1
      finally { codes.unpersist(false); () }
    else if (rerank == AutoRerank) RerankLadder.head
    else rerank
    pqTopKFromCodes(spark, e, cbs, codes, nQueries, topK, r)
  }

  /** The PQ-ADC probe against an ALREADY-BUILT index (trained codebooks +
    * encoded corpus) — the serving-path form the session memo feeds. */
  def pqTopKFromCodes(spark: SparkSession, e: DataFrame,
      cbs: Array[Array[Array[Double]]], codes: DataFrame,
      nQueries: Int, topK: Int, rerank: Int): DataFrame = {
    import spark.implicits._
    val m = cbs.length
    // Empty corpus ⇒ no codebooks and no queries: the empty top-k.
    if (cbs.isEmpty)
      return Seq.empty[(Long, Long, Double, Long)]
        .toDF("query_id", "neighbor_id", "cos_sim", "rank")
    val k = cbs(0).length
    val dsub = cbs(0)(0).length
    val queries = e.filter(col("vec_id") < nQueries)
      .as[(Long, Array[Float])].collect()
      .sortBy(_._1).map { case (id, v) => (id, unit(v)) }
    // Per-query ADC lookup tables: table(q)(s)(c) = dot(q_sub_s, cb(s)(c)).
    val tables = queries.map { case (qid, uq) =>
      (qid, Array.tabulate(m)(s => Array.tabulate(k)(c =>
        dotd(java.util.Arrays.copyOfRange(uq, s * dsub, (s + 1) * dsub), cbs(s)(c)))))
    }
    val bcT = spark.sparkContext.broadcast(tables)
    val heapBound = math.max(1, rerank) * topK
    val partitionTopR = codes.as[(Long, Array[Int])].mapPartitions { it =>
      // One bounded top-R heap per query per partition: evict the
      // (lowest score, highest id) entry, the mirror of the shortlist's
      // (adc DESC, neighbor_id ASC) rank order, so pruning can never
      // drop a row the window would have kept.
      val heaps = bcT.value.map { case (qid, _) =>
        qid -> scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
          Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
      }.toMap
      it.foreach { case (id, cs) =>
        bcT.value.foreach { case (qid, t) =>
          if (qid != id) {
            var s = 0.0; var j = 0
            while (j < cs.length) { s += t(j)(cs(j)); j += 1 }
            val h = heaps(qid)
            h.enqueue((s, id))
            if (h.size > heapBound) h.dequeue()
          }
        }
      }
      heaps.iterator.flatMap { case (qid, h) =>
        h.iterator.map { case (s, id) => (qid, id, s) }
      }
    }
    val wAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("neighbor_id"))
    val shortlist = partitionTopR.toDF("query_id", "neighbor_id", "adc")
      .withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= heapBound)
      .select("query_id", "neighbor_id")
    // Exact refine: only the shortlist's raw vectors are read; the raw
    // query vectors keep the cosine bit-identical to the brute-force
    // baseline (no unit-normalized round trip).
    val qDf = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val rer = shortlist
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne")), "neighbor_id")
      .join(broadcast(qDf), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qe"), col("ne")).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("neighbor_id"),
        round(col("c"), 6).as("cos_sim"), col("rank"))
      .transform(graft.Present.byNames("query_id", "rank"))
  }
  val annPq = Q(
    "s08_ann_pq",
    (s, d) => pqTopK(s, d, 10, 5),
    None)

  /** Recall@k evaluation of the approximate indexes against the exact
    * brute-force baseline — the measurement loop every ANN deployment
    * needs before trading recall for speed. Ground truth is small
    * (queries × k), so it broadcasts; per-query recall is a left join +
    * flag-sum, aggregated to (mean, min) per method. Rows-only check: the
    * approximate sides are not SQL-expressible (that's the point of s02/
    * s04), but the output is deterministic.
    */
  def recallEval(spark: SparkSession, d: String, nQueries: Int, k: Int): DataFrame = {
    // Every input is a session-memoized serving artifact: the spread
    // embeddings checkpoint, the trained IVF and PQ indexes (the very
    // indexes s04/s08 serve — evaluating a RE-trained copy would measure
    // a different index than the one deployed), and the exact ground
    // truth (s01's own output table). The eval therefore costs three
    // probe passes + joins, not two codebook trainings per run.
    val e = corpusEmbeddings(spark, d)
    val exact = corpusBruteTopK(spark, d, nQueries, k)
      .select(col("query_id"), col("neighbor_id"))
    val (cb, corpus) = corpusIvfIndex(spark, d, 16, 3)
    val (cbs, codes) = corpusPqIndex(spark, d, 8, 64, 3)
    // The three probe passes stay VERBATIM (they are the very functions
    // s02/s04/s08 serve); what fuses is the evaluation tail. Round 16
    // ran join → per-query agg → global agg PER METHOD — three parallel
    // two-shuffle pipelines over k·nQueries-row inputs, i.e. six AQE
    // barriers of pure orchestration. Tag each probe's shortlist with its
    // method, union, and evaluate once: the exact truth side is exploded
    // per method (k·nQueries·3 rows — trivially broadcastable), one left
    // join marks hits, one (method, query) aggregate + one method rollup
    // close. Same technique as s19's nprobe explode; per-method results
    // are value-identical because grouping by method partitions the rows
    // exactly as the three separate pipelines did (RecallEvalSpec asserts
    // the equivalence row-for-row against the unfused form).
    val methods = Seq("ivf", "lsh", "pq")
    val shortlists = Seq(
      "ivf" -> ivfTopKFromIndex(spark, e, cb, corpus, nQueries, k, 4),
      "lsh" -> lshTopKFromIndex(e, corpusLshIndex(spark, d, 4, 8, 0L), nQueries, k),
      "pq" -> pqTopKFromCodes(spark, e, cbs, codes, nQueries, k, 8))
      .map { case (m, df) =>
        df.select(lit(m).as("method"), col("query_id"), col("neighbor_id"),
          lit(1L).as("hit")) }
      .reduce(_ unionAll _)
    exact.select(explode(typedLit(methods)).as("method"),
        col("query_id"), col("neighbor_id"))
      // Structural broadcast bound: each probe emits ≤ k rows per query
      // (its top-k contract), so the union is ≤ 3·k·nQueries rows — but it
      // hangs off stats-free checkpoint scans, so the static planner
      // can't see that. The hint also folds all three probe subtrees
      // under ONE broadcast exchange (single barrier) instead of three
      // shuffle legs.
      .join(broadcast(shortlists), Seq("method", "query_id", "neighbor_id"), "left")
      .groupBy("method", "query_id")
      .agg((sum(coalesce(col("hit"), lit(0L))) / lit(k.toDouble)).as("recall"))
      .groupBy("method")
      .agg(
        round(avg("recall"), 4).as("mean_recall"),
        round(min("recall"), 4).as("min_recall"),
        count(lit(1)).as("n_queries"))
      .select(col("method"), col("mean_recall"), col("min_recall"),
        col("n_queries"))
      .transform(graft.Present.byNames("method"))
  }

  val annRecall = Q(
    "s05_ann_recall",
    (s, d) => recallEval(s, d, 10, 5),
    None)

  /** Int8 quantization audit: per-label round-trip error of storing the
    * embeddings scalar-quantized (4× smaller) — the readout before an index
    * switches to int8 storage. One codegen'd pass over the corpus
    * (`sq8_err` native expression, no shuffle before the label-keyed agg
    * with map-side partials); at 100 TB this is a scan, nothing more.
    * Aggregates rounded to 6 (fp-noise rule); per-row values never rounded.
    */
  val quantError = Q(
    "s06_quantization_error",
    (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          expr("sq8_err(embedding)").as("err"))
        .filter(col("err").isNotNull)
        .select(col("label"), col("err")(0).as("mae"), col("err")(1).as("rmse"))
        .groupBy("label")
        .agg(
          count(lit(1)).as("n_vecs"),
          round(avg("mae"), 6).as("avg_mae"),
          round(max("mae"), 6).as("max_mae"),
          round(max("rmse"), 6).as("max_rmse"))
        .transform(graft.Present.byNames("label")),
    Some("""WITH s AS (
              SELECT CAST(label AS BIGINT) AS label,
                     CAST(embedding AS DOUBLE[]) AS e,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                       x -> abs(x))) / 127.0 AS scale
              FROM embeddings),
            err AS (
              SELECT label,
                list_sum(list_transform(e,
                  x -> abs(x - floor(x / scale + 0.5) * scale))) / len(e) AS mae,
                sqrt(list_sum(list_transform(e,
                  x -> (x - floor(x / scale + 0.5) * scale)
                     * (x - floor(x / scale + 0.5) * scale))) / len(e)) AS rmse
              FROM s WHERE len(e) > 0 AND scale > 0)
            SELECT label, count(*) AS n_vecs,
                   round(avg(mae), 6) AS avg_mae,
                   round(max(mae), 6) AS max_mae,
                   round(max(rmse), 6) AS max_rmse
            FROM err GROUP BY label ORDER BY label"""))

  /** Exact cosine RADIUS search (range query): every corpus vector within
    * a similarity threshold of each query — the "find all near-matches"
    * serving primitive next to s01's top-k (retrieval wants k best;
    * moderation/claim-matching wants *all* above a floor, however many).
    *
    * Same plan spine as s01 — broadcast the literal-bounded query set,
    * ONE streaming corpus pass, no corpus self-join — but no window at
    * all: a radius query needs no rank, so the per-query top-k shuffle
    * disappears and the filter runs map-side inside the scan stage.
    * Output is (query, match) pairs; at 100 TB it is a single pass whose
    * output is bounded by how many true near-matches exist (the
    * operator's contract, not a plan risk).
    *
    * Boundary discipline (d05's): the threshold compares the ROUNDED
    * cosine, so the keep decision sits on a 6-decimal grid both engines
    * agree on — no raw-double boundary flake.
    */
  def radiusSearch(spark: SparkSession, d: String, nQueries: Int,
      minSim: Double): DataFrame = {
    val e = Tables.embeddings(spark, d)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qe"), col("ne")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minSim)
      .transform(graft.Present.byNames("query_id", "neighbor_id"))
  }

  val radius = Q(
    "s09_radius_search",
    (s, d) => radiusSearch(s, d, 10, 0.25),
    Some("""SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(n.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
            WHERE q.vec_id < 10
              AND round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(n.embedding AS DOUBLE[])), 6) >= 0.25
            ORDER BY query_id, neighbor_id"""))

  /** Metadata-FILTERED ANN — top-k under a predicate (here: neighbor must
    * share the query's label), the filtered-search pattern every production
    * vector store serves ("nearest docs in MY tenant / language / shard").
    * The predicate is applied DURING the scan, inside the join condition,
    * not after ranking: post-filtering a plain top-k shortlist silently
    * loses recall when the filter is selective (the k survivors may all be
    * filtered out), while pre-filtering keeps the top-k exact over the
    * qualifying subset at zero extra passes.
    *
    * Plan shape is s01's: broadcast the literal-bounded query set (now
    * carrying its label), ONE streaming corpus pass with the label
    * equality folded into the broadcast-join predicate, per-query top-k
    * via the k-row window shuffle. At 100 TB with a partitioned corpus the
    * same predicate prunes partitions before the scan (the IVF analogue is
    * per-label cell routing — s04's pruning composed with this filter).
    */
  def filteredTopK(spark: SparkSession, d: String, nQueries: Int, k: Int): DataFrame = {
    val e = Tables.embeddings(spark, d)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").as("q_label"))
    val corpus = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("label").as("n_label"))
    val sims = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id") &&
          col("q_label") === col("n_label"))
      .select(col("query_id"), col("q_label").as("label"),
        col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("label").cast("long").as("label"),
        col("neighbor_id"), round(col("c"), 6).as("cos_sim"), col("rank"))
      .transform(graft.Present.byNames("query_id", "rank"))
  }

  val filteredAnn = Q(
    "s11_ann_filtered",
    (s, d) => filteredTopK(s, d, 10, 5),
    Some("""WITH sims AS (
              SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS label,
                n.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(n.embedding AS DOUBLE[])) AS c
              FROM embeddings q JOIN embeddings n
                ON q.vec_id <> n.vec_id AND q.label = n.label
              WHERE q.vec_id < 10)
            SELECT query_id, label, neighbor_id, round(c, 6) AS cos_sim, rank
            FROM (
              SELECT query_id, label, neighbor_id, c,
                CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, neighbor_id) AS BIGINT) AS rank
              FROM sims)
            WHERE rank <= 5 ORDER BY query_id, rank"""))

  /** MMR (maximal-marginal-relevance) diversity re-ranking — the serving-
    * side step between retrieval and consumption: plain top-k returns
    * near-duplicates of each other when the corpus clusters (by
    * construction here); MMR greedily picks argmax
    * `λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`, trading a little
    * relevance for coverage — the Carbonell & Goldstein rule every
    * dedup-aware retriever ships.
    *
    * Distribution: the greedy is inherently sequential IN k but
    * independent ACROSS queries, so it runs inside `flatMapGroups` on the
    * query-keyed shortlist — each group is `shortlist`-bounded (a
    * structural cap, not a data property), the corpus pass producing the
    * shortlist is s01's broadcast-probe scan, and no candidate set ever
    * reaches the driver. Rows-only (iterative argmax is not one SQL
    * query — t21's contract); the spec pins pick #1 to s01's top-1,
    * selection within the shortlist, and strictly-improved diversity vs
    * plain top-k.
    *
    * Ties break (score, then relevance, then lower neighbor_id) — fully
    * deterministic, geometry-invariance-gated.
    */
  def mmrDiversify(spark: SparkSession, d: String, nQueries: Int,
      shortlist: Int, k: Int, lambdaRel: Double): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, d)
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    val cands = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("ne"),
        cosine(col("qe"), col("ne")).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortlist)
      .select("query_id", "neighbor_id", "ne", "c")
      .as[(Long, Long, Array[Float], Double)]
    cands.groupByKey(_._1).flatMapGroups { (qid, it) =>
      val cs = it.toArray.sortBy(t => (-t._4, t._2))
      val units = cs.map(t => unit(t._3))
      val n = cs.length
      val taken = new Array[Boolean](n)
      val maxSimToSel = new Array[Double](n) // valid only once something is selected
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
      var picked = 0
      while (picked < math.min(k, n)) {
        var best = -1
        var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < n) {
          if (!taken(i)) {
            val div = if (picked == 0) 0.0 else maxSimToSel(i)
            val score = lambdaRel * cs(i)._4 - (1.0 - lambdaRel) * div
            // cs is (rel desc, id asc)-sorted, so strict > keeps the
            // earliest (most relevant, lowest id) of any score tie.
            if (score > bestScore) { best = i; bestScore = score }
          }
          i += 1
        }
        taken(best) = true
        picked += 1
        out += ((qid, cs(best)._2, cs(best)._4, picked.toLong))
        var j = 0
        while (j < n) {
          if (!taken(j)) {
            val s = dotd(units(best), units(j))
            if (picked == 1 || s > maxSimToSel(j)) maxSimToSel(j) = s
          }
          j += 1
        }
      }
      out.iterator
    }.toDF("query_id", "neighbor_id", "cos_sim", "mmr_rank")
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("cos_sim"), col("mmr_rank"))
      .transform(graft.Present.byNames("query_id", "mmr_rank"))
  }

  val mmr = Q(
    "s10_ann_mmr_diversify",
    (s, d) => mmrDiversify(s, d, 10, 20, 5, 0.7),
    None)

  // ------------------------------------------ kNN label purity (s13)
  /** s13: kNN label purity — for each query vector, the fraction of its
    * k exact nearest neighbors (UNfiltered, unlike s11) that share its
    * label. This is the embedding-space label-noise audit a curation
    * pipeline runs before trusting `label` for anything (s11's filtered
    * serving, q31-style per-label mixing, classifier distillation): a
    * query whose neighborhood disagrees with its tag is either
    * mislabeled or sits on a cluster boundary, and the per-query purity
    * column is exactly the triage list. Complements s03 (centroid
    * dispersion = cluster geometry) with the local, instance-level view.
    *
    * Scale shape: s01's plan verbatim — broadcast the literal-bounded
    * query set (carrying labels), ONE streaming corpus pass, k-row
    * window shuffle — plus a query-keyed bounded aggregate. No corpus
    * self-join, nothing grows with corpus size except the one scan.
    *
    * Contract: `purity` divides by the structural constant k (both
    * engines, identically) — a corpus with fewer than k+1 vectors is
    * out of contract (the audit is meaningless below the neighborhood
    * size), so the denominator never silently shrinks.
    */
  def knnLabelPurity(spark: SparkSession, d: String, nQueries: Int, k: Int): DataFrame =
    knnLabelPurityFrom(Tables.embeddings(spark, d), nQueries, k)

  def knnLabelPurityFrom(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").cast("long").as("label"))
    val corpus = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("label").cast("long").as("n_label"))
    val sims = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("label"), col("n_label"),
        col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy("query_id", "label")
      .agg(sum(when(col("n_label") === col("label"), 1L).otherwise(0L)).as("n_match"))
      .select(col("query_id"), col("label"), col("n_match"),
        round(col("n_match").cast("double") / lit(k.toDouble), 6).as("purity"))
      .transform(graft.Present.byNames("query_id"))
  }

  val knnPurity = Q(
    "s13_knn_label_purity",
    (s, d) => knnLabelPurity(s, d, 20, 10),
    Some("""WITH sims AS (
              SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS label,
                CAST(n.label AS BIGINT) AS n_label, n.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(n.embedding AS DOUBLE[])) AS c
              FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
              WHERE q.vec_id < 20),
            ranked AS (
              SELECT query_id, label, n_label,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, neighbor_id) AS rank
              FROM sims)
            SELECT query_id, label,
              CAST(sum(CASE WHEN n_label = label THEN 1 ELSE 0 END) AS BIGINT)
                AS n_match,
              round(CAST(sum(CASE WHEN n_label = label THEN 1 ELSE 0 END)
                    AS DOUBLE) / 10.0, 6) AS purity
            FROM ranked WHERE rank <= 10
            GROUP BY query_id, label ORDER BY query_id"""))

  // ------------------------------------ kNN label confusion (s14)
  /** s14: the embedding-space label CONFUSION matrix — s13's per-query
    * kNN votes aggregated to (query label, neighbor label) cells with
    * each cell's share of its label's total votes. s13 answers "which
    * INSTANCES look mislabeled"; this answers "which LABELS blur into
    * each other in embedding space" — the readout that distinguishes
    * instance-level noise (off-diagonal spread across many labels) from
    * genuinely overlapping classes (one dominant off-diagonal cell),
    * which decide relabeling vs class-merging respectively. Shares t35's
    * confusion-matrix stance on the embedding axis.
    *
    * Scale shape: s13's plan verbatim (broadcast bounded query set, ONE
    * corpus pass, k-row window) — then a (label, label) aggregate and a
    * label-partitioned window over that ≤ |labels|² table. Nothing new
    * grows with the corpus. `share` divides votes by the label's total —
    * ≥ 1 whenever the row exists, so no guard needed. */
  def knnLabelConfusion(spark: SparkSession, d: String,
      nQueries: Int, k: Int): DataFrame =
    knnLabelConfusionFrom(Tables.embeddings(spark, d), nQueries, k)

  def knnLabelConfusionFrom(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("label").cast("long").as("label"))
    val corpus = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"), col("label").cast("long").as("n_label"))
    val sims = corpus.join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("label"), col("n_label"),
        col("neighbor_id"), cosine(col("qe"), col("ne")).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id"))
    val votes = sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy("label", "n_label").agg(count(lit(1)).as("votes"))
    votes
      .withColumn("label_votes",
        sum("votes").over(Window.partitionBy("label")))
      .select(col("label"), col("n_label").as("neighbor_label"), col("votes"),
        round(col("votes").cast("double") / col("label_votes").cast("double"), 6)
          .as("share"))
      .transform(graft.Present.byNames("label", "neighbor_label"))
  }

  val knnConfusion = Q(
    "s14_knn_label_confusion",
    (s, d) => knnLabelConfusion(s, d, 20, 10),
    Some("""WITH sims AS (
              SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS label,
                CAST(n.label AS BIGINT) AS n_label, n.vec_id AS neighbor_id,
                list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                       CAST(n.embedding AS DOUBLE[])) AS c
              FROM embeddings q JOIN embeddings n ON q.vec_id <> n.vec_id
              WHERE q.vec_id < 20),
            ranked AS (
              SELECT query_id, label, n_label,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY c DESC, neighbor_id) AS rank
              FROM sims),
            v AS (
              SELECT label, n_label, CAST(count(*) AS BIGINT) AS votes
              FROM ranked WHERE rank <= 10 GROUP BY 1, 2)
            SELECT label, n_label AS neighbor_label, votes,
              round(CAST(votes AS DOUBLE)
                / CAST(sum(votes) OVER (PARTITION BY label) AS DOUBLE), 6) AS share
            FROM v ORDER BY label, neighbor_label"""))

  // ------------------------------------ k-means cartography (s15)
  /** s15: unsupervised corpus cartography — spherical k-means over the
    * embedding table (k deterministic seeds = the k lowest vec_ids, 3
    * Lloyd iterations), reported at CLUSTER grain: size, corpus share,
    * dominant label with its purity, and the mean cosine to the cluster's
    * centroid (the tightness readout). s03 maps the corpus by its GIVEN
    * labels; this is the map when labels don't exist or can't be trusted
    * — the "what is actually in this corpus" view a curation run reads
    * before deciding mixing weights, and the first exact-parity
    * clustering in the inventory (the IVF codebook's [[refineCodebook]]
    * k-means is float-space and rows-only by design).
    *
    * EXACT cross-engine parity for an iterative clusterer, by
    * construction: (1) vectors are quantized once to integer milli-units
    * (floor(x·1000 + 0.5) — per-row, both engines identical); (2)
    * spherical assignment needs NO centroid division — cos(x, s/|S|·…)
    * = cos(x, s), so a centroid IS its cluster's elementwise BIGINT sum,
    * exact under any partial-aggregation order (the avg(double)
    * divergence that forced t36's integer units can never appear);
    * (3) per-pair cosines are round(·, 9)-stabilized before the argmax
    * (ties → lowest centroid id), and zero-norm pairings score −2 so a
    * degenerate all-zero vector or a cancelled-out centroid assigns
    * deterministically instead of riding engine NaN order; (4) the
    * tightness mean is summed in exact micro-units. Component sums stay
    * exact while 1000·n_vecs < 2^53 — ~9·10^12 vectors per cluster, far
    * past the 100 TB target.
    *
    * Scale shape: one quantization pass (localCheckpoint — scanned
    * iters+1 times, d06's lineage stance); per iteration ONE map-only
    * scan (k codegen'd vec_dot calls against constant-folded centroid
    * literals — no join, no explode) into a (k·dim)-key aggregate with
    * map-side partials (shuffle bytes O(k·dim·partitions), corpus-
    * independent) and a k·dim-row driver collect (codebook-sized, the
    * s04 bound); the final pass is the same scan plus two k-row
    * aggregates. Empty clusters keep their previous centroid (standard
    * Lloyd fallback, mirrored in the oracle). */
  /** Embedding → exact integer-milli vector (s15/s16's shared
    * quantization; per-row, identical in both engines). */
  def quantMilli: org.apache.spark.sql.Column =
    expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")

  /** s15's assignment: min over struct(−cos, id) against the frozen
    * centroid sums — max round-9 cosine, ties to the lowest centroid id,
    * zero-norm pairings pinned to −2. Shared verbatim by the batch Lloyd
    * loop and the streaming [[graft.streaming.VectorStreams]] gate, so
    * stream ≡ batch is the same column, not a reimplementation. */
  def centroidBest(cs: Seq[(Long, Seq[Long])],
      qe: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    array_min(centroidScores(cs, qe))

  /** The full scored array behind [[centroidBest]]: one struct(−cos, id)
    * per centroid, so array_min = rank-1 assignment and a sorted slice =
    * the nprobe routing list (s17). Total order: cosine DESC, ties to
    * the lowest centroid id, zero-norm pairings pinned to −2. */
  def centroidScores(cs: Seq[(Long, Seq[Long])],
      qe: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val qd = qe.cast("array<double>")
    array(cs.map { case (cid, v) =>
      val cd = typedLit(v).cast("array<double>")
      // ANSI-safe: a zero-norm side NULLs the quotient (never divides),
      // and NULL pins to the −2 sentinel below any true cosine.
      val den = norm(qd) * norm(cd)
      val raw = round(when(den =!= 0.0, dot(qd, cd) / den), 9)
      val rc = coalesce(raw, lit(-2.0))
      struct((-rc).as("nc"), lit(cid).as("c"))
    }: _*)
  }

  /** The Lloyd loop alone: deterministic seeds (the k lowest vec_ids),
    * `iters` division-free iterations, returns the final centroid SUM
    * vectors — the frozen artifact the streaming gate assigns against.
    * Empty corpus → empty seq. */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int): Seq[(Long, Seq[Long])] =
    kmeansCentroidsFromQuant(
      e.select(col("vec_id"), quantMilli.as("qe")).localCheckpoint(), k, iters)

  /** The Lloyd loop over an ALREADY-quantized (vec_id, qe) frame — the
    * caller owns the materialization, so kmeansCartography's shared
    * checkpoint is scanned by both the loop and the final pass instead
    * of being quantized twice. */
  def kmeansCentroidsFromQuant(q: DataFrame, k: Int,
      iters: Int): Seq[(Long, Seq[Long])] = {
    // Seeds = the TRUE k lowest vec_ids (TakeOrdered — a k-row collect at
    // any corpus size), not a `vec_id < k` literal: the table carries no
    // dense-0-based id contract, and a corpus whose minimum vec_id is ≥ k
    // must still seed k centroids rather than silently train none.
    var cents: Seq[(Long, Seq[Long])] = q.orderBy("vec_id").limit(k)
      .select(col("vec_id"), col("qe")).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    if (cents.isEmpty) return Nil
    for (_ <- 1 to iters) {
      // Per-cell sum vectors via the elementwise long_vec_sum aggregate —
      // ONE dim-sized buffer per cell with map-side merge, instead of
      // shuffling corpus × dim posexploded rows per iteration. Exact
      // integer sums, order-independent, value-identical to the exploded
      // groupBy it replaced.
      val sums = q.withColumn("c", centroidBest(cents, col("qe")).getField("c"))
        .groupBy("c").agg(expr("long_vec_sum(qe)").as("s"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    cents
  }

  def kmeansCartography(e: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val q = e.select(
        col("vec_id"), col("label").cast("long").as("label"),
        quantMilli.as("qe"))
      .localCheckpoint()
    kmeansCartographyFromQuant(q,
      kmeansCentroidsFromQuant(q.select(col("vec_id"), col("qe")), k, iters))
  }

  /** s15's readout over an ALREADY-QUANTIZED corpus and trained
    * centroids (the session-memoized serving parts). */
  def kmeansCartographyFromQuant(q: DataFrame,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    val spark = q.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_vecs",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("share",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("top_label",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("label_share",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("mean_cos",
        org.apache.spark.sql.types.DoubleType)))
    if (cents.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val asg = q
      .withColumn("b", centroidBest(cents, col("qe")))
      .select(col("label"), col("b.c").as("cluster_id"),
        // exact micro-units for the cross-row tightness sum; −2 stays −2.
        floor(-col("b.nc") * 1e6 + 0.5).cast("long").as("cos_micro"))
      .localCheckpoint() // two consumers below; one scan each, no re-assign
    val byCluster = asg.groupBy("cluster_id").agg(
      count(lit(1)).as("n_vecs"), sum("cos_micro").as("cos_sum"))
    val topLabel = asg.groupBy("cluster_id", "label")
      .agg(count(lit(1)).as("n_label"))
      .groupBy("cluster_id").agg(
        max(struct(col("n_label"), (-col("label")).as("neg"))).as("m"))
      .select(col("cluster_id"), (-col("m.neg")).as("top_label"),
        col("m.n_label").as("n_top"))
    byCluster.join(topLabel, Seq("cluster_id"))
      .crossJoin(byCluster.agg(sum("n_vecs").as("n_total")))
      .select(
        col("cluster_id"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total").cast("double"), 6)
          .as("share"),
        col("top_label"),
        round(col("n_top").cast("double") / col("n_vecs").cast("double"), 6)
          .as("label_share"),
        round(col("cos_sum").cast("double") / (col("n_vecs").cast("double") * 1e6), 6)
          .as("mean_cos"))
      .transform(graft.Present.byNames("cluster_id"))
  }

  /** One round-9-stabilized sanitized cosine between pair columns (the
    * shared fragment of every oracle iteration below): NaN AND NULL
    * pairings (a zero-norm side — DuckDB may emit either for 0/0
    * depending on its IEEE division setting) pin to −2, mirroring the
    * Spark side exactly. */
  private def rcSql(a: String, b: String): String = {
    val raw = s"""round(
        list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
        / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
           * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))), 9)"""
    s"(CASE WHEN coalesce(isnan($raw), true) THEN -2.0 ELSE $raw END)"
  }

  /** One Lloyd iteration as DuckDB CTEs over source table `src`, centroid
    * chain named `$p0 → $p1 → …` — parameterized so a query can run TWO
    * independent chains (s20 trains resident and full codebooks side by
    * side); `kmeansIterSql` keeps s15/s19's original chain (src = q,
    * p = c). */
  private def kmeansIterSqlOver(src: String, p: String)(i: Int): String = {
    val prev = if (i == 1) s"${p}0" else s"$p${i - 1}"
    s"""${p}a$i AS (
         SELECT vec_id, label, qe, c FROM (
           SELECT vec_id, label, qe, c,
             row_number() OVER (PARTITION BY vec_id ORDER BY rc DESC, c) AS rn
           FROM (
             SELECT v.vec_id, v.label, v.qe, cc.c,
               ${rcSql("v.qe", "cc.qe")} AS rc
             FROM $src v CROSS JOIN $prev cc)) WHERE rn = 1),
       ${p}s$i AS (
         SELECT c, pos, CAST(sum(v) AS BIGINT) AS s FROM (
           SELECT c, unnest(generate_series(1, len(qe))) AS pos,
             unnest(qe) AS v
           FROM ${p}a$i) GROUP BY c, pos),
       ${p}l$i AS (SELECT c, list(s ORDER BY pos) AS qe FROM ${p}s$i GROUP BY c),
       $p$i AS (SELECT p.c, coalesce(l.qe, p.qe) AS qe
               FROM $prev p LEFT JOIN ${p}l$i l ON l.c = p.c)"""
  }

  private val kmeansIterSql: Int => String = kmeansIterSqlOver("q", "c")

  val kmeansCarto = Q(
    "s15_kmeans_cartography",
    (s, d) => kmeansCartographyFromQuant(corpusQuant(s, d), corpusCentroids(s, d, 8, 3)),
    Some(s"""WITH q AS (
              SELECT vec_id, CAST(label AS BIGINT) AS label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qe
              FROM embeddings),
            c0 AS (SELECT vec_id AS c, qe FROM q ORDER BY vec_id LIMIT 8),
            ${kmeansIterSql(1)},
            ${kmeansIterSql(2)},
            ${kmeansIterSql(3)},
            fin AS (
              SELECT vec_id, label, c AS cluster_id,
                CAST(floor(rc * 1e6 + 0.5) AS BIGINT) AS cos_micro
              FROM (
                SELECT vec_id, label, c, rc,
                  row_number() OVER (PARTITION BY vec_id ORDER BY rc DESC, c) AS rn
                FROM (
                  SELECT v.vec_id, v.label, cc.c,
                    ${rcSql("v.qe", "cc.qe")} AS rc
                  FROM q v CROSS JOIN c3 cc)) WHERE rn = 1),
            bc AS (
              SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(cos_micro) AS BIGINT) AS cos_sum
              FROM fin GROUP BY cluster_id),
            tl AS (
              SELECT cluster_id, label AS top_label, n_label FROM (
                SELECT cluster_id, label, CAST(count(*) AS BIGINT) AS n_label,
                  row_number() OVER (PARTITION BY cluster_id
                    ORDER BY count(*) DESC, label) AS rn
                FROM fin GROUP BY cluster_id, label) WHERE rn = 1),
            tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM bc)
            SELECT b.cluster_id, b.n_vecs,
              round(CAST(b.n_vecs AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6) AS share,
              l.top_label,
              round(CAST(l.n_label AS DOUBLE) / CAST(b.n_vecs AS DOUBLE), 6) AS label_share,
              round(CAST(b.cos_sum AS DOUBLE) / (CAST(b.n_vecs AS DOUBLE) * 1e6), 6) AS mean_cos
            FROM bc b JOIN tl l ON l.cluster_id = b.cluster_id, tot t
            ORDER BY b.cluster_id"""))

  // ------------------------------------ embedding drift audit (s16)
  /** s16: per-dimension embedding distribution drift between the resident
    * corpus and the newest ingest wave (d10's newest-fifth append split,
    * on the vector axis) — the index-health readout an ANN serving stack
    * checks before folding a delta in: if the encoder changed (silently
    * retrained, wrong checkpoint, fp16 vs fp32 export), the delta's
    * per-dimension means shift and IVF cell routing degrades long before
    * recall evals notice. Reports each dimension's side counts and means,
    * the absolute mean shift, and a `drifted` flag for the top-6 shifted
    * dimensions (a self-normalizing top-decile-of-64 cut — exact integer
    * comparisons, no fp percentile boundary).
    *
    * Determinism: per-dim sums are quantized-milli BIGINTs (order-free);
    * means/shifts are exact-integer quotients rounded per output rule;
    * the flag cutoff is min-over-LIMIT-6 of the (shift DESC, dim) total
    * order.
    *
    * Scale shape: ONE pass (posexplode → (wave, dim)-keyed aggregate with
    * map-side partials, shuffle bytes O(2·dim·partitions) — corpus-
    * independent), then dim-bounded joins and the allowlisted 1-row
    * cutoff crossJoin. Degenerates: an empty side leaves NULL means and
    * an unflagged row; an empty corpus yields an empty result. */
  def embeddingDrift(e: DataFrame): DataFrame = {
    val mxRow = e.agg(max("vec_id")).head()
    val split = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
    val q = e.select(
        when(col("vec_id") >= split, lit("delta")).otherwise(lit("resident"))
          .as("wave"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))")
          .as("qe"))
    val perDim = q.select(col("wave"), posexplode(col("qe")).as(Seq("pos", "v")))
      .groupBy("wave", "pos").agg(sum("v").as("s"), count(lit(1)).as("n"))
    val res = perDim.filter(col("wave") === "resident")
      .select(col("pos"), col("s").as("rs"), col("n").as("rn"))
    val del = perDim.filter(col("wave") === "delta")
      .select(col("pos"), col("s").as("ds"), col("n").as("dn"))
    val drift = res.join(del, Seq("pos"), "full_outer")
      .select(
        col("pos").cast("long").as("dim"),
        coalesce(col("rn"), lit(0L)).as("n_resident"),
        coalesce(col("dn"), lit(0L)).as("n_delta"),
        round(safeFrac(col("rs"), col("rn") * lit(1000L)), 6).as("mean_resident"),
        round(safeFrac(col("ds"), col("dn") * lit(1000L)), 6).as("mean_delta"),
        floor(abs(safeFrac(col("rs"), col("rn")) - safeFrac(col("ds"), col("dn")))
          * 1000.0 + 0.5).cast("long").as("shift_micro"))
    val cutoff = drift.orderBy(col("shift_micro").desc, col("dim"))
      .limit(6).agg(min("shift_micro").as("cut"))
    drift.crossJoin(cutoff)
      .select(col("dim"), col("n_resident"), col("n_delta"),
        col("mean_resident"), col("mean_delta"), col("shift_micro"),
        coalesce(col("shift_micro") >= col("cut") && col("shift_micro") > 0L,
          lit(false)).as("drifted"))
      .transform(graft.Present.byNames("dim"))
  }

  /** s16's oracle CTE chain, ending in relation `s16_rows(dim,
    * n_resident, n_delta, mean_resident, mean_delta, shift_micro,
    * drifted)` — CTE names e-prefixed so p13's composed oracle can mount
    * this chain next to d28's without collisions. */
  private[operators] val driftSqlCtes =
    """emx AS (SELECT max(vec_id) AS m FROM embeddings),
            eq AS (
              SELECT CASE WHEN vec_id >= (SELECT m * 4 // 5 FROM emx)
                          THEN 'delta' ELSE 'resident' END AS wave,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qe
              FROM embeddings),
            epd AS (
              SELECT wave, pos, CAST(sum(v) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS n
              FROM (
                SELECT wave, unnest(generate_series(1, len(qe))) - 1 AS pos,
                  unnest(qe) AS v
                FROM eq) GROUP BY wave, pos),
            er AS (SELECT pos, s AS rs, n AS rn FROM epd WHERE wave = 'resident'),
            edl AS (SELECT pos, s AS ds, n AS dn FROM epd WHERE wave = 'delta'),
            edr AS (
              SELECT CAST(coalesce(er.pos, edl.pos) AS BIGINT) AS dim,
                coalesce(rn, 0) AS n_resident, coalesce(dn, 0) AS n_delta,
                round(CAST(rs AS DOUBLE) / NULLIF(CAST(rn * 1000 AS DOUBLE), 0.0), 6)
                  AS mean_resident,
                round(CAST(ds AS DOUBLE) / NULLIF(CAST(dn * 1000 AS DOUBLE), 0.0), 6)
                  AS mean_delta,
                CAST(floor(abs(CAST(rs AS DOUBLE) / NULLIF(CAST(rn AS DOUBLE), 0.0)
                  - CAST(ds AS DOUBLE) / NULLIF(CAST(dn AS DOUBLE), 0.0))
                  * 1000.0 + 0.5) AS BIGINT) AS shift_micro
              FROM er FULL OUTER JOIN edl ON er.pos = edl.pos),
            ecut AS (
              SELECT min(shift_micro) AS cut FROM (
                SELECT shift_micro FROM edr
                ORDER BY shift_micro DESC NULLS LAST, dim LIMIT 6)),
            s16_rows AS (
              SELECT dim, CAST(n_resident AS BIGINT) AS n_resident,
                CAST(n_delta AS BIGINT) AS n_delta, mean_resident, mean_delta,
                shift_micro,
                coalesce(shift_micro >= (SELECT cut FROM ecut)
                  AND shift_micro > 0, false) AS drifted
              FROM edr)"""

  val drift = Q(
    "s16_embedding_drift",
    (s, d) => embeddingDrift(Tables.embeddings(s, d)),
    Some(s"""WITH $driftSqlCtes
            SELECT dim, n_resident, n_delta, mean_resident, mean_delta,
              shift_micro, drifted
            FROM s16_rows ORDER BY dim"""))

  // ------------------------------ probe-traffic cell balance (s17)
  /** s17: probe-traffic vs storage balance of the routing codebook — the
    * serving-load audit s15's cartography does not answer. A cell can be
    * perfectly balanced in STORAGE (its share of the corpus) yet hot in
    * TRAFFIC: query vectors are not uniform over the corpus, and under
    * nprobe routing every query fans its scan over its top-`nprobe`
    * cells, so the cells popular QUERIES route to absorb a
    * disproportionate share of scan work — the IVF hotspot that sets
    * tail latency on a 1000-executor serving fleet long before storage
    * skew shows. Per cell of the s15-trained codebook (k = 8, 3 Lloyd
    * iterations, exact integer-milli arithmetic): stored-vector count
    * and share, probe count over the query slice (the `nQueries` = 32
    * TRUE lowest vec_ids — robust to non-dense ids, the s15 seed
    * stance) at nprobe = 2, probe share, and a `hot_cell` flag when the
    * cell's probe share strictly exceeds its storage share (traffic
    * amplification > 1 — the cell absorbs more than its fair share of
    * scan work) — compared by exact integer cross-multiplication, never
    * on rounded shares.
    *
    * Scale shape: the Lloyd loop's k map-only scans (corpus-independent
    * shuffle, s15's bound); ONE assignment scan into a ≤ k-row count
    * (map-side combined); the probe pass touches only the 32-row query
    * slice (a bounded semi join) and sorts a k-element array per query;
    * the final table is k rows with one allowlisted 1-row totals
    * attachment. Nothing anywhere is corpus × corpus. */
  def probeTrafficBalance(e: DataFrame, k: Int = 8, iters: Int = 3,
      nQueries: Int = 32, nProbe: Int = 2): DataFrame = {
    val q = e.select(col("vec_id"), quantMilli.as("qe")).localCheckpoint()
    probeTrafficBalanceFromQuant(q, kmeansCentroidsFromQuant(q, k, iters),
      nQueries, nProbe)
  }

  /** s17's kernel over an ALREADY-quantized corpus and trained codebook —
    * the query path passes the session-memoized `corpusQuant` /
    * `corpusCentroids(8, 3)` (the SAME artifacts s15/s19 measure; s17
    * re-running its own Lloyd loop per run was the one unrerouted centroid
    * recompute left in the family), the generic path (SkewRehearsal, hot
    * fixtures) derives both from its own corpus above. */
  private def probeTrafficBalanceFromQuant(q: DataFrame,
      cents: Seq[(Long, Seq[Long])],
      nQueries: Int, nProbe: Int): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_stored",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("storage_share",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("n_probes",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("probe_share",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("hot_cell",
        org.apache.spark.sql.types.BooleanType)))
    if (cents.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    // Both aggregates are checkpointed (k rows each) BEFORE the base left
    // joins: the joins infer isnotnull(cell) on these sides and push it
    // BENEATH each aggregate, where the key is the full k-centroid scoring
    // expression — re-evaluated per corpus row as an interpreted Filter
    // (s18's measured 75-second shape; the 100× rehearsal's count()
    // shortcut eliminated the join and hid it here). Checkpointed, the
    // join keys are materialized columns and each scan runs once.
    val stored = q
      .withColumn("c", centroidBest(cents, col("qe")).getField("c"))
      .groupBy("c").agg(count(lit(1)).as("n_stored"))
      .localCheckpoint()
    val probes = q
      .join(q.select(col("vec_id")).orderBy("vec_id").limit(nQueries),
        Seq("vec_id"), "left_semi")
      .select(explode(slice(array_sort(centroidScores(cents, col("qe"))),
        1, nProbe)).as("s"))
      .select(col("s.c").as("c"))
      .groupBy("c").agg(count(lit(1)).as("n_probes"))
      .localCheckpoint()
    val base = cents.map(_._1).toDF("cell")
      .join(stored.withColumnRenamed("c", "cell"), Seq("cell"), "left")
      .join(probes.withColumnRenamed("c", "cell"), Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_stored"), lit(0L)).as("n_stored"),
        coalesce(col("n_probes"), lit(0L)).as("n_probes"))
    val totals = base.agg(sum("n_stored").as("st_tot"),
      sum("n_probes").as("pr_tot"))
    base.crossJoin(totals)
      .select(col("cell"), col("n_stored"),
        round(safeFrac(col("n_stored"), col("st_tot")), 6).as("storage_share"),
        col("n_probes"),
        round(safeFrac(col("n_probes"), col("pr_tot")), 6).as("probe_share"),
        (col("n_probes") > 0L &&
         col("n_probes") * col("st_tot") > col("n_stored") * col("pr_tot"))
          .as("hot_cell"))
      .transform(graft.Present.byNames("cell"))
  }

  val probeBalance = Q(
    "s17_probe_traffic_balance",
    (s, d) => probeTrafficBalanceFromQuant(
      corpusQuant(s, d).select(col("vec_id"), col("qe")),
      corpusCentroids(s, d, 8, 3), 32, 2),
    Some(s"""WITH q AS (
              SELECT vec_id, CAST(0 AS BIGINT) AS label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qe
              FROM embeddings),
            c0 AS (SELECT vec_id AS c, qe FROM q ORDER BY vec_id LIMIT 8),
            ${kmeansIterSql(1)},
            ${kmeansIterSql(2)},
            ${kmeansIterSql(3)},
            sc AS (
              SELECT v.vec_id, cc.c, ${rcSql("v.qe", "cc.qe")} AS rc
              FROM q v CROSS JOIN c3 cc),
            st AS (
              SELECT c, CAST(count(*) AS BIGINT) AS n_stored FROM (
                SELECT vec_id, c,
                  row_number() OVER (PARTITION BY vec_id ORDER BY rc DESC, c) AS rn
                FROM sc) WHERE rn = 1 GROUP BY c),
            qv AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT 32),
            pr AS (
              SELECT c, CAST(count(*) AS BIGINT) AS n_probes FROM (
                SELECT s.vec_id, s.c,
                  row_number() OVER (PARTITION BY s.vec_id ORDER BY s.rc DESC, s.c) AS rn
                FROM sc s JOIN qv ON qv.vec_id = s.vec_id) WHERE rn <= 2 GROUP BY c),
            cells AS (SELECT c AS cell FROM c3),
            base AS (
              SELECT cell,
                CAST(coalesce(st.n_stored, 0) AS BIGINT) AS n_stored,
                CAST(coalesce(pr.n_probes, 0) AS BIGINT) AS n_probes
              FROM cells
              LEFT JOIN st ON st.c = cells.cell
              LEFT JOIN pr ON pr.c = cells.cell),
            tot AS (
              SELECT CAST(sum(n_stored) AS BIGINT) AS st_tot,
                CAST(sum(n_probes) AS BIGINT) AS pr_tot
              FROM base)
            SELECT cell, n_stored,
              round(CAST(n_stored AS DOUBLE) / NULLIF(CAST(st_tot AS DOUBLE), 0.0), 6)
                AS storage_share,
              n_probes,
              round(CAST(n_probes AS DOUBLE) / NULLIF(CAST(pr_tot AS DOUBLE), 0.0), 6)
                AS probe_share,
              (n_probes > 0 AND n_probes * st_tot > n_stored * pr_tot)
                AS hot_cell
            FROM base, tot ORDER BY cell"""))

  // ------------------------------ cluster population drift (s18)
  /** s18: cluster-population drift of an ingest wave under a FROZEN
    * codebook — the rebalance trigger an ANN serving stack reads before
    * deciding to retrain. s16 answers "did the encoder move?" at the
    * per-dimension grain; s18 answers the operational question one level
    * up: with the codebook the index is ALREADY routing on (trained on
    * the resident corpus only — retraining per delta would silently
    * re-shard the index), does the newest wave land in the same cells at
    * the same rates? A delta whose population concentrates into cells
    * the resident corpus barely used means those cells' posting lists
    * are about to blow past their provisioned size — the capacity signal
    * that matters at 100 TB, where a rebalance is a scheduled rebuild,
    * not a hiccup.
    *
    * Per cell of the resident-trained codebook (k = 8, 3 Lloyd
    * iterations, s15's exact integer-milli arithmetic): resident/delta
    * member counts and shares, the absolute share shift, per-wave mean
    * assignment cosine (tightness — a wave that lands FAR from its best
    * centroid is drifting even if counts hold), and a `rebalance` flag
    * on the top-2 cells by share shift. The flag path never touches
    * floats: |Δshare| ranks by the exact BIGINT cross-product
    * |n_delta·res_tot − n_res·delta_tot| (shares over a common positive
    * denominator), and the cutoff is min-over-LIMIT-2 of that
    * (xnum DESC, cluster_id) total order — the sanctioned global-window
    * replacement.
    *
    * Split: the d10/s16 newest-fifth convention (vec_id ≥ max·4/5 is
    * the delta).
    *
    * Scale shape: the Lloyd loop's k map-only scans over the RESIDENT
    * slice (corpus-independent shuffle, s15's bound); ONE assignment
    * scan over both waves into a k-row conditional aggregate with
    * map-side partials; then k-row joins and two allowlisted 1-row
    * attachments (totals, cutoff). Output pinned at k rows at any
    * corpus size. Degenerates: an empty corpus returns the empty frame
    * (no codebook, nothing to audit); an empty delta leaves NULL delta
    * shares/means and an all-zero xnum column (every cell ties at the
    * cutoff — an honest "nothing arrived" readout). */
  def clusterPopulationDrift(e: DataFrame, k: Int = 8,
      iters: Int = 3): DataFrame = {
    val mxRow = e.agg(max("vec_id")).head()
    val split = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
    val q = e.select(col("vec_id"),
        when(col("vec_id") >= split, lit("delta")).otherwise(lit("resident"))
          .as("wave"),
        quantMilli.as("qe"))
      .localCheckpoint() // two consumers: the Lloyd loop and the assignment
    val cents = kmeansCentroidsFromQuant(
      q.filter(col("wave") === "resident").select(col("vec_id"), col("qe")),
      k, iters)
    clusterPopulationDriftFromQuant(q, cents)
  }

  /** s18's kernel given the wave-tagged quantized corpus and the resident
    * codebook — the query path passes the session memos (`corpusQuant`
    * projected with the wave tag, `corpusResidentCentroids(8, 3)` — the
    * same frozen codebook s20 diffs against), the generic path
    * (rehearsals, fixtures) derives both above. With the codebook
    * memoized, the one remaining corpus pass is the assignment scan. */
  private def clusterPopulationDriftFromQuant(q: DataFrame,
      cents: Seq[(Long, Seq[Long])]): DataFrame = {
    val spark = q.sparkSession
    import spark.implicits._
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_res",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_delta",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("res_share",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("delta_share",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("share_shift",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("res_mean_cos",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("delta_mean_cos",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("rebalance",
        org.apache.spark.sql.types.BooleanType)))
    if (cents.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val asg = q
      .withColumn("b", centroidBest(cents, col("qe")))
      .select(col("wave"), col("b.c").as("cluster_id"),
        floor(-col("b.nc") * 1e6 + 0.5).cast("long").as("cos_micro"))
    // Checkpointed (k rows) BEFORE the base left join: the join would
    // otherwise infer isnotnull(cluster_id) on this side and push it
    // BENEATH the aggregate, where cluster_id is the full k-centroid
    // scoring expression — re-evaluated per corpus row as an interpreted
    // Filter (measured: 75 s of a 94 s run at the 100× rehearsal; the
    // checkpoint makes the join key a materialized column and the
    // assignment scan runs exactly once).
    val byC = asg.groupBy("cluster_id").agg(
      sum(when(col("wave") === "resident", 1L).otherwise(0L)).as("n_res"),
      sum(when(col("wave") === "delta", 1L).otherwise(0L)).as("n_delta"),
      sum(when(col("wave") === "resident", col("cos_micro")).otherwise(0L))
        .as("res_cs"),
      sum(when(col("wave") === "delta", col("cos_micro")).otherwise(0L))
        .as("delta_cs"))
      .localCheckpoint()
    // Row base = the k trained centroid ids: a cell with no members in
    // EITHER wave still reports (that emptiness is the signal).
    // Checkpointed: three consumers (the final select, the wave-totals
    // aggregate, the cutoff) would otherwise each re-run the corpus
    // assignment scan — the checkpoint is k rows, the saving is two
    // full corpus passes.
    val base = cents.map(_._1).toDF("cluster_id")
      .join(byC, Seq("cluster_id"), "left")
      .select(col("cluster_id"),
        coalesce(col("n_res"), lit(0L)).as("n_res"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("res_cs"), lit(0L)).as("res_cs"),
        coalesce(col("delta_cs"), lit(0L)).as("delta_cs"))
      .localCheckpoint()
    val scored = base
      .crossJoin(base.agg(sum("n_res").as("res_tot"),
        sum("n_delta").as("delta_tot")))
      .withColumn("xnum",
        abs(col("n_delta") * col("res_tot") - col("n_res") * col("delta_tot")))
    val cut = scored.orderBy(col("xnum").desc, col("cluster_id")).limit(2)
      .agg(min("xnum").as("xcut"))
    scored.crossJoin(cut)
      .select(col("cluster_id"), col("n_res"), col("n_delta"),
        round(when(col("res_tot") =!= 0,
          col("n_res").cast("double") / col("res_tot").cast("double")), 6)
          .as("res_share"),
        round(when(col("delta_tot") =!= 0,
          col("n_delta").cast("double") / col("delta_tot").cast("double")), 6)
          .as("delta_share"),
        round(when(col("res_tot") =!= 0 && col("delta_tot") =!= 0,
          col("xnum").cast("double")
            / (col("res_tot").cast("double") * col("delta_tot").cast("double"))), 6)
          .as("share_shift"),
        round(when(col("n_res") =!= 0,
          col("res_cs").cast("double") / (col("n_res").cast("double") * 1e6)), 6)
          .as("res_mean_cos"),
        round(when(col("n_delta") =!= 0,
          col("delta_cs").cast("double") / (col("n_delta").cast("double") * 1e6)), 6)
          .as("delta_mean_cos"),
        (col("xnum") >= col("xcut")).as("rebalance"))
      .transform(graft.Present.byNames("cluster_id"))
  }

  val populationDrift = Q(
    "s18_cluster_population_drift",
    (s, d) => {
      val q0 = corpusQuant(s, d)
      val mxRow = q0.agg(max("vec_id")).head()
      val split = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
      clusterPopulationDriftFromQuant(
        q0.select(col("vec_id"),
          when(col("vec_id") >= split, lit("delta")).otherwise(lit("resident"))
            .as("wave"),
          col("qe")),
        corpusResidentCentroids(s, d, 8, 3))
    },
    Some(s"""WITH emx AS (SELECT max(vec_id) AS m FROM embeddings),
            allq AS (
              SELECT vec_id,
                CASE WHEN vec_id >= (SELECT m * 4 // 5 FROM emx)
                     THEN 'delta' ELSE 'resident' END AS wave,
                CAST(0 AS BIGINT) AS label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qe
              FROM embeddings),
            q AS (SELECT vec_id, label, qe FROM allq WHERE wave = 'resident'),
            c0 AS (SELECT vec_id AS c, qe FROM q ORDER BY vec_id LIMIT 8),
            ${kmeansIterSql(1)},
            ${kmeansIterSql(2)},
            ${kmeansIterSql(3)},
            fin AS (
              SELECT wave, c AS cluster_id,
                CAST(floor(rc * 1e6 + 0.5) AS BIGINT) AS cos_micro
              FROM (
                SELECT wave, c, rc,
                  row_number() OVER (PARTITION BY vec_id ORDER BY rc DESC, c) AS rn
                FROM (
                  SELECT v.vec_id, v.wave, cc.c,
                    ${rcSql("v.qe", "cc.qe")} AS rc
                  FROM allq v CROSS JOIN c3 cc)) WHERE rn = 1),
            byc AS (
              SELECT cluster_id,
                CAST(sum(CASE WHEN wave = 'resident' THEN 1 ELSE 0 END) AS BIGINT) AS n_res,
                CAST(sum(CASE WHEN wave = 'delta' THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
                CAST(sum(CASE WHEN wave = 'resident' THEN cos_micro ELSE 0 END) AS BIGINT) AS res_cs,
                CAST(sum(CASE WHEN wave = 'delta' THEN cos_micro ELSE 0 END) AS BIGINT) AS delta_cs
              FROM fin GROUP BY cluster_id),
            cells AS (SELECT c AS cluster_id FROM c3),
            base AS (
              SELECT cells.cluster_id,
                CAST(coalesce(n_res, 0) AS BIGINT) AS n_res,
                CAST(coalesce(n_delta, 0) AS BIGINT) AS n_delta,
                CAST(coalesce(res_cs, 0) AS BIGINT) AS res_cs,
                CAST(coalesce(delta_cs, 0) AS BIGINT) AS delta_cs
              FROM cells LEFT JOIN byc ON byc.cluster_id = cells.cluster_id),
            tot AS (
              SELECT CAST(sum(n_res) AS BIGINT) AS res_tot,
                CAST(sum(n_delta) AS BIGINT) AS delta_tot
              FROM base),
            sc2 AS (
              SELECT base.*, res_tot, delta_tot,
                abs(n_delta * res_tot - n_res * delta_tot) AS xnum
              FROM base, tot),
            cut AS (
              SELECT min(xnum) AS xcut FROM (
                SELECT xnum FROM sc2 ORDER BY xnum DESC, cluster_id LIMIT 2))
            SELECT cluster_id, n_res, n_delta,
              round(CAST(n_res AS DOUBLE) / NULLIF(CAST(res_tot AS DOUBLE), 0.0), 6)
                AS res_share,
              round(CAST(n_delta AS DOUBLE) / NULLIF(CAST(delta_tot AS DOUBLE), 0.0), 6)
                AS delta_share,
              round(CAST(xnum AS DOUBLE)
                / NULLIF(CAST(res_tot AS DOUBLE) * CAST(delta_tot AS DOUBLE), 0.0), 6)
                AS share_shift,
              round(CAST(res_cs AS DOUBLE) / NULLIF(CAST(n_res AS DOUBLE) * 1e6, 0.0), 6)
                AS res_mean_cos,
              round(CAST(delta_cs AS DOUBLE) / NULLIF(CAST(n_delta AS DOUBLE) * 1e6, 0.0), 6)
                AS delta_mean_cos,
              (xnum >= xcut) AS rebalance
            FROM sc2, cut ORDER BY cluster_id"""))

  // ------------------------------------ nprobe operating curve (s19)
  /** s19: the nprobe operating curve — the table that PICKS the serving
    * knob the rest of the IVF family assumes: for each candidate
    * nprobe, the exact recall@k against the brute-force ground truth
    * and the fraction of the corpus a query actually scans. s05
    * measures recall for ONE configuration of the float-k-means index
    * (rows-only, floor-checked); this is the full curve, and it is
    * ORACLE-EXACT because everything — codebook, routing, scoring —
    * rides s15's integer-milli arithmetic: quantized vectors, BIGINT
    * sum-vector centroids, round-9 cosines with the (rc DESC, id)
    * total order. The nprobe = k row is a built-in proof anchor:
    * scanning every cell IS brute force, so its recall must be exactly
    * 1.0 and its scan_frac exactly 1.0 (the spec asserts both).
    *
    * Semantics: queries = the nQueries TRUE lowest vec_ids (s17's
    * robust-to-sparse-ids stance); ground truth = exact top-`topK`
    * neighbors (self excluded) over the quantized vectors; the IVF
    * answer at nprobe p keeps only neighbors whose rank-1 cell sits in
    * the query's top-p routing cells (the [[centroidScores]] order
    * shared with s15/s17/the streaming gate), then takes the same
    * top-`topK`. A hit is a neighbor in both top-k sets; recall =
    * hits / (nQueries · topK).
    *
    * Scale shape: the Lloyd loop's corpus-independent shuffles (s15's
    * bound); ONE map-only assignment scan; the scoring pass is s01's
    * broadcast-probe shape (bounded query slice × corpus — map-side,
    * no corpus self-join) exploded over |probes| levels (≤ 4×), into
    * per-(level, query) window ranks on bounded partitions and a
    * ≤ |probes|-row aggregate with one allowlisted 1-row totals
    * attachment. At a 100 TB corpus the curve runs on a SAMPLE of
    * queries by construction (nQueries bounds the probe side). */
  def nprobeCurve(e: DataFrame, k: Int = 8, iters: Int = 3,
      nQueries: Int = 16, topK: Int = 10,
      probes: Seq[Long] = Seq(1L, 2L, 4L, 8L)): DataFrame = {
    val q = e.select(col("vec_id"), quantMilli.as("qe")).localCheckpoint()
    nprobeCurveFromQuant(q, kmeansCentroidsFromQuant(q, k, iters),
      nQueries, topK, probes)
  }

  /** s19's curve over an ALREADY-QUANTIZED corpus and trained centroids
    * (the session-memoized serving parts — the same codebook s15 maps). */
  def nprobeCurveFromQuant(q: DataFrame, cents: Seq[(Long, Seq[Long])],
      nQueries: Int = 16, topK: Int = 10,
      probes: Seq[Long] = Seq(1L, 2L, 4L, 8L)): DataFrame = {
    val spark = q.sparkSession
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nprobe",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("scanned_rows",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("scan_frac",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("n_hits",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("recall",
        org.apache.spark.sql.types.DoubleType)))
    if (cents.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    def rcPair(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val ad = a.cast("array<double>"); val bd = b.cast("array<double>")
      val den = norm(ad) * norm(bd)
      coalesce(round(when(den =!= 0.0, dot(ad, bd) / den), 9), lit(-2.0))
    }
    val corpus = q.select(col("vec_id").as("neighbor_id"), col("qe").as("ne"))
      .withColumn("ncell", centroidBest(cents, col("ne")).getField("c"))
    val queries = q
      .join(q.select(col("vec_id")).orderBy("vec_id").limit(nQueries),
        Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("query_id"), col("qe").as("qv"))
      .withColumn("route",
        transform(array_sort(centroidScores(cents, col("qv"))),
          s => s.getField("c")))
    val pairs = corpus.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        rcPair(col("qv"), col("ne")).as("rc"),
        array_position(col("route"), col("ncell")).as("probe_rank"))
    // Top-k sets via the heap-bounded aggregate, NOT rank windows: the
    // exact ground-truth side would otherwise sort a corpus-sized
    // partition per query (the one super-linear-memory shape left in the
    // family — fine at 16 queries, fatal at 10⁹ vectors). hits = |ivf
    // top-k ∩ exact top-k| per (nprobe, query), identical to the rank
    // formulation because both orders are the same (rc DESC, neighbor)
    // total order; scanned_rows is a plain count aggregate.
    val exactTop = pairs.groupBy("query_id")
      .agg(expr(s"top_k_pairs(rc, neighbor_id, $topK)").as("ex"))
      .select(col("query_id"), expr("transform(ex, p -> p.id)").as("exact_ids"))
    val candAgg = pairs
      .select(col("*"), explode(typedLit(probes)).as("nprobe"))
      .filter(col("probe_rank") <= col("nprobe"))
      .groupBy("nprobe", "query_id")
      .agg(count(lit(1)).as("scanned"),
        expr(s"top_k_pairs(rc, neighbor_id, $topK)").as("iv"))
    val totals = queries.agg(count(lit(1)).as("nq"))
      .crossJoin(corpus.agg(count(lit(1)).as("nc")))
    candAgg
      .join(broadcast(exactTop), Seq("query_id"))
      .groupBy("nprobe")
      .agg(sum("scanned").as("scanned_rows"),
        sum(size(array_intersect(
          expr("transform(iv, p -> p.id)"), col("exact_ids"))).cast("long"))
          .as("n_hits"))
      .crossJoin(totals)
      .select(col("nprobe"), col("scanned_rows"),
        round(safeFrac(col("scanned_rows"), col("nq") * (col("nc") - 1)), 6)
          .as("scan_frac"),
        col("n_hits"),
        round(safeFrac(col("n_hits"), col("nq") * lit(topK.toLong)), 6)
          .as("recall"))
      .transform(graft.Present.byNames("nprobe"))
  }

  val nprobeCurveQ = Q(
    "s19_nprobe_curve",
    (s, d) => nprobeCurveFromQuant(
      corpusQuant(s, d).select(col("vec_id"), col("qe")),
      corpusCentroids(s, d, 8, 3)),
    Some(s"""WITH q AS (
              SELECT vec_id, CAST(0 AS BIGINT) AS label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qe
              FROM embeddings),
            c0 AS (SELECT vec_id AS c, qe FROM q ORDER BY vec_id LIMIT 8),
            ${kmeansIterSql(1)},
            ${kmeansIterSql(2)},
            ${kmeansIterSql(3)},
            sc AS (
              SELECT v.vec_id, cc.c, ${rcSql("v.qe", "cc.qe")} AS rc
              FROM q v CROSS JOIN c3 cc),
            cellof AS (
              SELECT vec_id, c AS ncell FROM (
                SELECT vec_id, c,
                  row_number() OVER (PARTITION BY vec_id ORDER BY rc DESC, c) AS rn
                FROM sc) WHERE rn = 1),
            qv AS (SELECT vec_id FROM q ORDER BY vec_id LIMIT 16),
            route AS (
              SELECT s.vec_id AS query_id, s.c,
                CAST(row_number() OVER (PARTITION BY s.vec_id
                  ORDER BY s.rc DESC, s.c) AS BIGINT) AS prank
              FROM sc s JOIN qv ON qv.vec_id = s.vec_id),
            pairs AS (
              SELECT qq.vec_id AS query_id, n.vec_id AS neighbor_id,
                ${rcSql("qq.qe", "n.qe")} AS rc, co.ncell
              FROM q n
              JOIN cellof co ON co.vec_id = n.vec_id
              JOIN (SELECT v.vec_id, v.qe FROM q v
                    JOIN qv ON qv.vec_id = v.vec_id) qq
                ON qq.vec_id <> n.vec_id),
            pr AS (
              SELECT p.query_id, p.neighbor_id, p.rc, r.prank AS probe_rank,
                CAST(row_number() OVER (PARTITION BY p.query_id
                  ORDER BY p.rc DESC, p.neighbor_id) AS BIGINT) AS exact_rank
              FROM pairs p
              JOIN route r ON r.query_id = p.query_id AND r.c = p.ncell),
            lv AS (SELECT CAST(unnest([1, 2, 4, 8]) AS BIGINT) AS nprobe),
            cand AS (
              SELECT l.nprobe, pr.query_id, pr.neighbor_id, pr.exact_rank,
                CAST(row_number() OVER (PARTITION BY l.nprobe, pr.query_id
                  ORDER BY pr.rc DESC, pr.neighbor_id) AS BIGINT) AS ivf_rank
              FROM pr, lv l WHERE pr.probe_rank <= l.nprobe),
            tot AS (
              SELECT (SELECT CAST(count(*) AS BIGINT) FROM qv) AS nq,
                     (SELECT CAST(count(*) AS BIGINT) FROM q) AS nc),
            agg AS (
              SELECT nprobe, CAST(count(*) AS BIGINT) AS scanned_rows,
                CAST(sum(CASE WHEN ivf_rank <= 10 AND exact_rank <= 10
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
              FROM cand GROUP BY nprobe)
            SELECT nprobe, scanned_rows,
              round(CAST(scanned_rows AS DOUBLE)
                / NULLIF(CAST(nq * (nc - 1) AS DOUBLE), 0.0), 6) AS scan_frac,
              n_hits,
              round(CAST(n_hits AS DOUBLE)
                / NULLIF(CAST(nq * 10 AS DOUBLE), 0.0), 6) AS recall
            FROM agg, tot ORDER BY nprobe"""))

  // ------------------------------- codebook retrain shift (s20)
  /** s20: codebook RETRAIN shift — per routing cell, the cosine between
    * the FROZEN resident-trained centroid (what the index serves with
    * today, s18's codebook) and the centroid a full retrain over
    * resident ∪ delta would produce. s18 answers "did the POPULATION
    * move"; this answers the follow-up the rebalance decision actually
    * needs: "would the centroids themselves move if I retrained" — a
    * cell whose share shifted but whose centroid barely moves needs no
    * retrain (new mass landed where the old center already was), while
    * a moving centroid is serving stale geometry. Both trainings seed
    * from the k lowest ids of their inputs, which coincide under the
    * append split (resident ids precede delta ids), so cells align by
    * construction; cells absent from either codebook (degenerate tiny
    * residents) drop from the report (inner join, oracle-mirrored).
    *
    * Exactness: centroid SUM vectors are exact integer-milli BIGINTs on
    * both engines (the division-free Lloyd loop); the shift cosine uses
    * the round-9 sanitized grid (rcSql's form, zero-norm pinned to −2)
    * printed at round-6, and the driver-side fold runs index-ascending —
    * the same accumulation order as `vec_dot` and DuckDB's
    * list_dot_product, so the doubles agree bit-for-bit.
    *
    * Scale shape: TWO Lloyd loops over ONE quantized checkpoint (each
    * iters × one corpus scan into k dim-sized long_vec_sum buffers),
    * then k rows of driver-side codebook arithmetic (codebook-sized by
    * construction). Output pinned at ≤ k rows at any corpus size. */
  def codebookRetrainShift(e: DataFrame, k: Int = 8, iters: Int = 3): DataFrame = {
    val q = e.select(col("vec_id"), quantMilli.as("qe")).localCheckpoint()
    val mxRow = q.agg(max("vec_id")).head()
    val split = if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
    codebookRetrainShiftFromCents(q.sparkSession,
      kmeansCentroidsFromQuant(q.filter(col("vec_id") < split), k, iters),
      kmeansCentroidsFromQuant(q, k, iters))
  }

  /** s20's kernel given the two codebooks themselves — frozen (resident
    * slice) and full-corpus retrain. Both are session memos on the query
    * path (`corpusResidentCentroids(8, 3)` — the same frozen codebook s18
    * routes on — and `corpusCentroids(8, 3)`, the codebook s15/s17/s19
    * read), so the query runs NO distributed work at all: k rows of
    * driver-side cosine arithmetic, exactly the codebook-sized cost the
    * operator's contract promises at any corpus size. The generic path
    * (rehearsals, fixtures) trains both above, verbatim the old behavior. */
  private def codebookRetrainShiftFromCents(spark: SparkSession,
      frozen: Seq[(Long, Seq[Long])],
      fullCents: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    val full = fullCents.toMap
    def rc9(a: Seq[Long], b: Seq[Long]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val raw = dot / (math.sqrt(na) * math.sqrt(nb))
      if (raw.isNaN) -2.0
      else BigDecimal.decimal(raw)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val rows = frozen.flatMap { case (cid, rv) =>
      full.get(cid).map { fv =>
        val shift = BigDecimal.decimal(rc9(rv, fv))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (cid, shift, shift < 0.999)
      }
    }
    rows.toDF("cluster_id", "shift_cos", "retrain").transform(graft.Present.byNames("cluster_id"))
  }

  val retrainShiftQ = Q(
    "s20_codebook_retrain_shift",
    (s, d) => codebookRetrainShiftFromCents(s,
      corpusResidentCentroids(s, d, 8, 3),
      corpusCentroids(s, d, 8, 3)),
    Some(s"""WITH q AS (
              SELECT vec_id, CAST(0 AS BIGINT) AS label,
                list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS qe
              FROM embeddings),
            emx AS (SELECT max(vec_id) AS m FROM q),
            qr AS (SELECT * FROM q
                   WHERE vec_id < (SELECT m * 4 // 5 FROM emx)),
            c0 AS (SELECT vec_id AS c, qe FROM q ORDER BY vec_id LIMIT 8),
            r0 AS (SELECT vec_id AS c, qe FROM qr ORDER BY vec_id LIMIT 8),
            ${kmeansIterSqlOver("q", "c")(1)},
            ${kmeansIterSqlOver("q", "c")(2)},
            ${kmeansIterSqlOver("q", "c")(3)},
            ${kmeansIterSqlOver("qr", "r")(1)},
            ${kmeansIterSqlOver("qr", "r")(2)},
            ${kmeansIterSqlOver("qr", "r")(3)}
            SELECT cluster_id, shift_cos, shift_cos < 0.999 AS retrain
            FROM (
              SELECT r.c AS cluster_id,
                round(${rcSql("r.qe", "f.qe")}, 6) AS shift_cos
              FROM r3 r JOIN c3 f ON f.c = r.c)
            ORDER BY cluster_id"""))

  val all: Seq[Q] =
    Seq(annBruteForce, annLsh, centroids, annIvf, annRecall, quantError, annAppend,
      annPq, radius, mmr, filteredAnn, annDelete, knnPurity, knnConfusion,
      kmeansCarto, drift, probeBalance, populationDrift, nprobeCurveQ,
      retrainShiftQ)
}
