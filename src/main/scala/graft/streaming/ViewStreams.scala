package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of q43's incremental view maintenance: the pricing
  * summary as a PERSISTED state table, refreshed per micro-batch of
  * arriving lineitem rows. Each batch costs one batch-proportional
  * aggregate plus a #groups-sized merge against the stored state — the
  * resident corpus is never rescanned, which is q43's entire point
  * restated in `foreachBatch`.
  *
  * Correctness rides q43's design, not streaming luck: the partial
  * states are centi-unit BIGINTs, so the merge is ASSOCIATIVE and any
  * micro-batch slicing of the input converges to the full recompute —
  * the spec streams the same rows in different batchings and asserts
  * the final state equals the one-shot aggregate row-for-row.
  *
  * Durability is generation-numbered, not overwrite-in-place: each
  * refresh writes a NEW state directory `gen=<batchId>` and the commit
  * point is that write's `_SUCCESS` marker (a single atomic file
  * create), so the previous committed state is never touched while the
  * next one is being produced. A crash mid-write leaves an uncommitted
  * generation that readers ignore and the replay overwrites; a crash
  * AFTER the commit but before the stream checkpoint advances replays
  * the batch into [[mergeBatch]], which sees a committed generation at
  * ≥ that batch id and SKIPS — the merge is idempotent under
  * exactly-once's at-least-once reality (the batch-id-in-state design
  * [[VectorStreams.appendToIndex]] documents as the production fix,
  * implemented). Old generations are pruned only after the new commit,
  * under a READER LEASE (`graft.view.readerLeaseMs`, default 0): a
  * superseded generation lives until its commit is older than the lease,
  * and the immediately-previous generation survives one extra cycle
  * regardless — so a lazy view DataFrame resolved against any committed
  * generation stays readable for the lease duration across any number of
  * refreshes (reader contract: valid until the lease expires, with one
  * full refresh cycle as the floor), and there is no moment with zero
  * durable copies.
  */
object ViewStreams {

  /** Lineitem rows as a file stream over a staging directory (one file
    * per micro-batch — the staged-ingest shape the other stream twins
    * use). */
  def readLineitemStream(spark: SparkSession, dir: String,
      schemaFrom: DataFrame): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** One batch's partial state: (group, centi-quantity sum, row count). */
  private def partialState(rows: DataFrame): DataFrame =
    rows.groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qc"),
        count(lit(1)).as("c"))

  /** Merge two partial states (associative — exact BIGINT sums). */
  private def merge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("l_returnflag"), col("l_linestatus"),
        col("qc").as("aq"), col("c").as("ac"))
      .join(b.select(col("l_returnflag"), col("l_linestatus"),
        col("qc").as("bq"), col("c").as("bc")),
        Seq("l_returnflag", "l_linestatus"), "full_outer")
      .select(col("l_returnflag"), col("l_linestatus"),
        (coalesce(col("aq"), lit(0L)) + coalesce(col("bq"), lit(0L))).as("qc"),
        (coalesce(col("ac"), lit(0L)) + coalesce(col("bc"), lit(0L))).as("c"))

  /** Committed state generations under `root`: `gen=<id>` directories
    * whose parquet commit marker exists. A half-written generation (crash
    * mid-write) has no `_SUCCESS` and is invisible here — that is the
    * atomicity argument, so this listing IS the state-resolution rule. */
  private def committedGens(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .flatMap { s =>
        s.getPath.getName.stripPrefix("gen=").toLongOption.map(_ -> s.getPath)
      }
      .filter { case (_, p) => fs.exists(new Path(p, "_SUCCESS")) }
      .sortBy(_._1)

  /** Merge one micro-batch into the generation-numbered state at
    * `statePath` — the `foreachBatch` body, factored out so the replay
    * contract is directly testable. Idempotent by construction: a
    * committed generation with id ≥ `batchId` means this batch (or a
    * later one) is already folded in, and the call is a no-op — running
    * the same batch twice cannot double-count. */
  def mergeBatch(spark: SparkSession, batch: DataFrame, statePath: String,
      batchId: Long): Unit =
    mergeBatchWith(spark, batch, statePath, batchId, partialState, merge)

  /** The generation protocol with pluggable view algebra: `partial`
    * collapses one batch to its partial state, `merge2` folds two
    * partial states (MUST be associative + commutative on exact types —
    * the q43 contract every maintained view here rides). Shared by the
    * pricing view and the cadence view so a third view is one (partial,
    * merge2) pair, not a re-implementation of crash-safety. */
  def mergeBatchWith(spark: SparkSession, batch: DataFrame, statePath: String,
      batchId: Long, partial: DataFrame => DataFrame,
      merge2: (DataFrame, DataFrame) => DataFrame): Unit = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = committedGens(fs, root)
    if (alreadyCommitted(gens, batchId, statePath)) return
    val delta = partial(batch)
    val prev = gens.lastOption match {
      case Some((_, p)) => spark.read.parquet(p.toString)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], delta.schema)
    }
    // New generation first (overwrite clears any uncommitted debris from
    // a crashed attempt of the SAME batch), prune after the commit — a
    // crash between the two leaves extra committed generations, which
    // readers resolve by max-id and the next batch prunes. The
    // IMMEDIATELY-PREVIOUS generation is retained one extra cycle:
    // pricingView/cadenceView return lazy DataFrames pinned to the
    // newest-committed gen directory, so a reader still scanning when the
    // NEXT batch commits must not have its files deleted mid-read. Reader
    // contract: a view DataFrame stays valid until the second commit
    // after it was resolved; collect within one refresh interval (or
    // re-resolve) for longer-lived consumers.
    merge2(prev, delta)
      .write.mode("overwrite").parquet(new Path(root, s"gen=$batchId").toString)
    stampCommit(fs, new Path(root, s"gen=$batchId"))
    pruneSuperseded(spark, fs, gens)
  }

  /** True (after warning loudly when appropriate) if `batchId` is already
    * folded into the committed state. A replay of the LAST batch
    * (at-least-once reality) arrives with batchId == max committed gen —
    * silent skip is the idempotence contract. A batchId BELOW the max
    * means the stream's checkpoint does not match this state directory
    * (e.g. a fresh checkpoint, whose ids restart at 0, pointed at
    * existing state): the skip would silently DROP that batch's data, so
    * say so loudly. Not a hard failure — the caller may be intentionally
    * replaying an old ledger — but never silent. */
  private def alreadyCommitted(gens: Seq[(Long, Path)], batchId: Long,
      statePath: String): Boolean = {
    if (!gens.exists(_._1 >= batchId)) return false
    val maxGen = gens.last._1
    if (maxGen > batchId)
      System.err.println(
        s"[viewstreams] $statePath: batch id $batchId is below the max " +
        s"committed generation $maxGen — skipped as a replay, but if this " +
        "stream runs with a FRESH checkpoint its batches will keep landing " +
        "below the committed horizon and be dropped. A checkpoint dir and a " +
        "state dir are a PAIR: recreate or keep both together.")
    true
  }

  /** Record the commit time INSIDE the generation, written by the
    * committer itself (`_COMMIT_TS`, epoch millis) — the reader lease
    * must not trust filesystem mtimes, which object stores skew or drop
    * (and committers configured without `_SUCCESS` markers lack
    * entirely). */
  private def stampCommit(fs: FileSystem, gen: Path): Unit = {
    val out = fs.create(new Path(gen, "_COMMIT_TS"), true)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** A generation's commit time: the committer-written `_COMMIT_TS` when
    * present (authoritative), else the `_SUCCESS` mtime (pre-upgrade
    * generations on a sane filesystem), else None — and None means SKIP
    * deletion, never force it: an unreadable timestamp must degrade to
    * retaining state, not to breaking a reader inside its lease. */
  private def committedAtOf(fs: FileSystem, gen: Path): Option[Long] = {
    val ts = new Path(gen, "_COMMIT_TS")
    try {
      if (fs.exists(ts)) {
        val in = fs.open(ts)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
        finally in.close()
      } else
        Some(fs.getFileStatus(new Path(gen, "_SUCCESS")).getModificationTime)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Reader-LEASE pruning (the production form of reader isolation): a
    * superseded generation is deleted only once its commit is older than
    * `graft.view.readerLeaseMs`, so a lazy view DataFrame resolved within
    * the lease keeps its files across ANY number of intervening refreshes
    * (stale-but-consistent), not just one. The immediately-previous
    * generation is always retained one extra cycle regardless (the
    * lease's floor — the original contract), and state storage is bounded
    * by refresh rate × lease. Default lease 0 ms = the original
    * keep-one-predecessor behavior. `gens` is the committed list from
    * BEFORE the new commit, so dropRight(1) retains the immediate
    * predecessor. */
  private def pruneSuperseded(spark: SparkSession, fs: FileSystem,
      gens: Seq[(Long, Path)]): Unit =
    pruneWithLease(spark, fs, gens.dropRight(1))

  /** Delete each superseded generation once its commit has aged past the
    * reader lease; retain on an unreadable timestamp (never force). */
  private def pruneWithLease(spark: SparkSession, fs: FileSystem,
      superseded: Seq[(Long, Path)]): Unit = {
    val leaseMs = spark.conf.getOption("graft.view.readerLeaseMs")
      .map(_.toLong).getOrElse(0L)
    val now = System.currentTimeMillis()
    superseded.foreach { case (_, p) =>
      committedAtOf(fs, p) match {
        case Some(t) if now - t >= leaseMs => fs.delete(p, true); ()
        case _ => () // inside its lease, or timestamp unreadable: retain
      }
    }
  }

  /** Start the maintenance loop: per micro-batch, aggregate the batch and
    * fold it into the committed state via [[mergeBatch]]. */
  def maintainPricingView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeBatch(batch.sparkSession, batch.toDF(), statePath, batchId)
      }
      .start()

  // ------------------------- the cadence view (q46's maintenance twin)

  /** One batch's cadence partial state: per user, purchase count and
    * first/last purchase µs — q46's per-user triple, which is
    * associative/commutative on exact BIGINTs (count adds, min/max
    * fold), so the q43 merge-≡-recompute argument applies verbatim. */
  private def partialCadence(rows: DataFrame): DataFrame =
    rows.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"))

  private def mergeCadence(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("user_id"), col("n_purchases").as("an"),
        col("first_us").as("af"), col("last_us").as("al"))
      .join(b.select(col("user_id"), col("n_purchases").as("bn"),
        col("first_us").as("bf"), col("last_us").as("bl")),
        Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("an"), lit(0L)) + coalesce(col("bn"), lit(0L)))
          .as("n_purchases"),
        least(coalesce(col("af"), col("bf")), coalesce(col("bf"), col("af")))
          .as("first_us"),
        greatest(coalesce(col("al"), col("bl")), coalesce(col("bl"), col("al")))
          .as("last_us"))

  /** Maintain q46's cadence state per micro-batch of arriving events —
    * the second maintained view on the shared generation protocol
    * ([[mergeBatchWith]]): per batch, one batch-proportional aggregate
    * over its purchases plus a #users-sized merge; the resident event
    * history is never rescanned. Crash-safety and replay-idempotence
    * are [[mergeBatch]]'s, inherited, not re-argued. */
  def maintainCadenceView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeBatchWith(batch.sparkSession, batch.toDF(), statePath, batchId,
            partialCadence, mergeCadence)
      }
      .start()

  // ------------------- the fulfillment view (q47's maintenance twin)

  /** Maintain q47's fulfillment-band state per micro-batch of arriving
    * ENRICHED fulfillment facts (priority, o_orderdate, l_shipdate — the
    * shape a shipping-event log carries, order attributes already
    * attached) — the THIRD maintained view on the shared generation
    * protocol, which is the point: one more view is one (partial,
    * merge2) pair. The partial state is q47's (priority, band_id,
    * n_items) counts — associative BIGINTs, the literal
    * [[graft.operators.Relational.fulfillmentCounts]] batch expression,
    * so stream ≡ batch is the same code; the merge is a full-outer
    * coalesce-sum keyed (priority, band_id), ≤ priorities × 5 rows. */
  def maintainFulfillmentView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeBatchWith(batch.sparkSession, batch.toDF(), statePath, batchId,
            graft.operators.Relational.fulfillmentCounts _, mergeFulfillment)
      }
      .start()

  private def mergeFulfillment(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("priority"), col("band_id"), col("n_items").as("an"))
      .join(b.select(col("priority"), col("band_id"), col("n_items").as("bn")),
        Seq("priority", "band_id"), "full_outer")
      .select(col("priority"), col("band_id"),
        (coalesce(col("an"), lit(0L)) + coalesce(col("bn"), lit(0L)))
          .as("n_items"))

  // ------------------- the quality-gate view (t20's maintenance twin)

  /** One batch's gate partial: per SOURCE, document/token counts and the
    * per-rule drop tallies from t20's flag bitmask ([[graft.operators
    * .TextOps.qualityGateFrame]] — the literal batch expression, so
    * stream ≡ batch is the same code). All exact BIGINT sums —
    * associative/commutative, the q43 contract. Rates are NOT stored
    * (a ratio is not associative); [[gateView]] derives them at read. */
  private def partialGate(docs: DataFrame): DataFrame = {
    def bit(b: Long, name: String) =
      sum(when(col("flags").bitwiseAND(lit(b)) =!= 0L, 1L).otherwise(0L)).as(name)
    graft.operators.TextOps.qualityGateFrame(docs)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        bit(1L, "n_short"), bit(2L, "n_long"),
        bit(4L, "n_lowstop"), bit(8L, "n_toklen"),
        sum(col("n_tokens")).as("n_tokens"))
  }

  private def mergeGate(a: DataFrame, b: DataFrame): DataFrame = {
    val counts = Seq("n_docs", "n_dropped", "n_short", "n_long",
      "n_lowstop", "n_toklen", "n_tokens")
    // NULL-SAFE key equality (<=>), not USING: a null-source group (docs
    // with no source attribution form one real slice) must MERGE across
    // batches — a plain equi-join would keep both sides' null rows
    // distinct and grow one duplicate null row per batch.
    val l = a.select(col("source").as("a_source") +:
      counts.map(c => col(c).as(s"a_$c")): _*)
    val r = b.select(col("source").as("b_source") +:
      counts.map(c => col(c).as(s"b_$c")): _*)
    l.join(r, col("a_source") <=> col("b_source"), "full_outer")
      .select(coalesce(col("a_source"), col("b_source")).as("source") +:
        counts.map(c =>
          (coalesce(col(s"a_$c"), lit(0L)) + coalesce(col(s"b_$c"), lit(0L)))
            .as(c)): _*)
  }

  /** Maintain the per-source quality-gate drop profile per micro-batch of
    * arriving DOCUMENTS — the SEVENTH maintained view, and the pipeline's
    * ingest-side observability table: which source started shipping
    * too-short / too-long / low-stopword / token-shape outliers, visible
    * the batch it happens instead of at the next corpus-wide t20 run.
    * One (partial, merge2) pair on the shared generation protocol; state
    * is ≤ #sources rows. */
  def maintainGateView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeBatchWith(batch.sparkSession, batch.toDF(), statePath, batchId,
            partialGate, mergeGate)
      }
      .start()

  /** The gate-view merge, exposed for direct per-batch folding (specs,
    * PlanAudit-style drivers). */
  def mergeGateBatch(spark: SparkSession, batch: DataFrame,
      statePath: String, batchId: Long): Unit =
    mergeBatchWith(spark, batch, statePath, batchId, partialGate, mergeGate)

  /** Read the maintained gate view: the per-source counts plus the
    * derived rates (read-time arithmetic over ≤ #sources rows). */
  def gateView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    spark.read.parquet(latest._2.toString)
      .withColumn("drop_rate",
        col("n_dropped").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  // ---------------------- the reclaim view (m16's maintenance twin)

  /** Merge two reclaim states — full-outer coalesce-sum on the
    * (fp, source) key: doc counts add, keeper candidates fold by `least`
    * (min doc_id), nb carries through (identical on both sides of a
    * matched key by the content-addressing grain). When a batch delivers
    * a LOWER doc_id for a known fp, the merged min_doc migrates and the
    * close re-attributes that payload's stored bytes to the new keeper's
    * source — the bytes_stored re-attribution requirement, satisfied
    * structurally because state never stores per-source byte totals. */
  private def mergeReclaim(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("fp"), col("source"), col("n_docs").as("an"),
        col("min_doc").as("am"), col("nb").as("ab"))
      .join(b.select(col("fp"), col("source"), col("n_docs").as("bn"),
        col("min_doc").as("bm"), col("nb").as("bb")),
        Seq("fp", "source"), "full_outer")
      .select(col("fp"), col("source"),
        (coalesce(col("an"), lit(0L)) + coalesce(col("bn"), lit(0L)))
          .as("n_docs"),
        least(coalesce(col("am"), col("bm")), coalesce(col("bm"), col("am")))
          .as("min_doc"),
        coalesce(col("ab"), col("bb")).as("nb"))

  /** Maintain m16's media-dedup reclaim state per micro-batch of arriving
    * ENRICHED media rows (doc_id, source, payload — the ingest shape,
    * source already attached) — the FOURTH maintained view on the shared
    * generation protocol: one more view is one (partial, merge2) pair.
    * The partial is the literal batch [[graft.operators.Multimodal
    * .reclaimCounts]]; crash-safety and replay-idempotence are
    * [[mergeBatch]]'s, inherited, not re-argued. */
  def maintainReclaimView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeBatchWith(batch.sparkSession, batch.toDF(), statePath, batchId,
            graft.operators.Multimodal.reclaimCounts _, mergeReclaim)
      }
      .start()

  // --------------------- the symbol view (m17's maintenance twin)

  /** Merge two symbol-profile states — full-outer coalesce-sum on
    * source: four plain BIGINT masses, the simplest state any view here
    * carries. */
  private def mergeSymbols(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("source"), col("n_media").as("am"), col("n_letters").as("al"),
        col("n_digits").as("ad"), col("n_spaces").as("as_"))
      .join(b.select(col("source"), col("n_media").as("bm"), col("n_letters").as("bl"),
        col("n_digits").as("bd"), col("n_spaces").as("bs")),
        Seq("source"), "full_outer")
      .select(col("source"),
        (coalesce(col("am"), lit(0L)) + coalesce(col("bm"), lit(0L))).as("n_media"),
        (coalesce(col("al"), lit(0L)) + coalesce(col("bl"), lit(0L))).as("n_letters"),
        (coalesce(col("ad"), lit(0L)) + coalesce(col("bd"), lit(0L))).as("n_digits"),
        (coalesce(col("as_"), lit(0L)) + coalesce(col("bs"), lit(0L))).as("n_spaces"))

  /** Maintain m17's per-source symbol-class state per micro-batch of
    * arriving ENRICHED media rows (source, payload) — the FIFTH
    * maintained view on the shared generation protocol: the partial is
    * the literal batch [[graft.operators.Multimodal.symbolCounts]] (one
    * codegen'd byte scan per payload), the merge four coalesce-sums. */
  def maintainSymbolView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeBatchWith(batch.sparkSession, batch.toDF(), statePath, batchId,
            graft.operators.Multimodal.symbolCounts _, mergeSymbols)
      }
      .start()

  // ------------- the release-report view (d36's maintenance twin)

  /** Fold one micro-batch of arriving DOCUMENTS into the maintained
    * release report — the SIXTH maintained view, and the first whose
    * state is an append-only artifact INDEX plus a derived report, not an
    * associative aggregate. Layout under `statePath`:
    *
    * ```
    * waves/batch=<id>/{fp,hs}   tokenize-at-ingest tables (append-only;
    *                            overwrite per batch id ⇒ replay-idempotent)
    * gen=<id>/buckets/          (band, bucket, ids≤cap+1) — the DIRTY
    *                            buckets' arrays only (a delta), or every
    *                            bucket when the gen is a BASE (_BASE)
    * gen=<id>/verified/         (a, b, jaccard) — pairs first verified in
    *                            this gen (delta), or all evidence (base)
    * gen=<id>/report/           the committed 1-row d36 report
    * ```
    *
    * DIRTY-BUCKET maintenance with LSM-SHAPED state (round 16): per
    * batch, tokenize ONLY the wave, band ONLY the wave's signatures, and
    * fold its members into the stored bounded bucket arrays — exact
    * against a full recompute because bounded-min-ids is a bounded
    * semilattice fold (the cap+1 smallest of old ∪ new are contained in
    * (cap+1 smallest of old) ∪ new — [[graft.operators.Dedup
    * .boundedBucketIds]]), for any id order and any batch slicing. Only
    * pairs never seen before are Jaccard-verified (against the
    * accumulated shingle index, semi-joined to exactly the docs
    * involved: d10's delta-sided shape). Candidate pairs are NOT stored
    * at all: they are a pure function of the bounded arrays
    * ([[graft.operators.Dedup.pairsFromBucketIdsKeyed]]), so deriving
    * them at report time replaces an index-scale parquet write with
    * index-scale codegen'd array expansion — and makes cap-crossing
    * retraction automatic (an over-cap bucket's array expands to no
    * pairs; evidence whose every source bucket crossed the cap drops out
    * of the report's semi-join).
    *
    * State WRITES are wave-scale, not index-scale: a generation persists
    * only the dirty buckets' updated arrays and the newly-verified pairs
    * (disjoint across gens by construction — needVerify is anti-joined
    * against all prior evidence). The current state is the LATEST-WINS
    * fold per (band, bucket) over the live generation suffix: the most
    * recent BASE generation (full snapshot, `_BASE` marker; the first
    * generation is trivially one) plus every delta after it. Every
    * `graft.view.releaseCompactEvery` (default 8) generations the fold
    * is compacted: that batch writes a new base (full current state) and
    * its predecessors become prunable — so per-batch write cost is
    * O(wave dirty buckets + new pairs) amortizing one O(index) snapshot
    * per compaction window, the LSM economics, while per-batch READ of
    * the live suffix stays bounded by index + window × wave.
    *
    * The spec asserts equality with batch d36 under two slicings
    * including a planted cross-half dup, replay idempotence, cap-crossing
    * retraction, and compaction (bounded gen count, delta ≪ base).
    * Crash-atomic: any uncommitted debris from a crashed attempt of the
    * same batch is deleted first, all tables (and the `_BASE` marker, when
    * compacting) are written under the new generation, then the root
    * `_SUCCESS` marker commits it; replayed batch ids at-or-below the
    * committed horizon are skipped (warned when below). Generations below
    * the latest base are pruned under the reader lease (reports are
    * self-contained per gen, so a lazy reader pinned inside its lease
    * keeps its files). */
  def mergeReleaseBatch(spark: SparkSession, batch: DataFrame,
      statePath: String, batchId: Long, threshold: Double = 0.5): Unit = {
    import graft.operators.Dedup
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = committedGens(fs, root)
    if (alreadyCommitted(gens, batchId, statePath)) return
    val cap = Dedup.BandBucketCap
    val wave = new Path(root, s"waves/batch=$batchId")
    val (fpW, hsW) = Dedup.releaseWaveTables(batch)
    fpW.write.mode("overwrite").parquet(new Path(wave, "fp").toString)
    hsW.write.mode("overwrite").parquet(new Path(wave, "hs").toString)
    val hsWave = spark.read.parquet(s"$wave/hs")
    // PRE-LSM state upgrade: a round-15 generation is the report parquet
    // directly — no buckets/ table, no _BASE marker — so its live state
    // is unreconstructable from the gen dir. The wave INDEX is append-only
    // and complete, so upgrade = fold THIS batch over the whole
    // accumulated index (every bucket dirty, every pair re-verified): one
    // full-regen pass — the old layout's ordinary per-batch cost — whose
    // output commits as a base generation; the legacy gens become
    // prunable history behind it.
    val live0 = releaseLiveGens(fs, gens)
    val upgrading = live0.exists { case (_, p) =>
      !fs.exists(new Path(p, "buckets")) }
    if (upgrading)
      System.err.println(s"[viewstreams] $statePath: pre-LSM release-view " +
        s"state (${live0.size} legacy generation(s)) — rebuilding the " +
        "bucket store from the accumulated wave index as a base generation")
    val live = if (upgrading) Seq.empty else live0
    val foldHs =
      if (upgrading) releaseWaves(spark, statePath, "hs") else hsWave
    val waveBanded = Dedup.bandBuckets(Dedup.signaturesFromHashes(foldHs))
      .localCheckpoint()
    val dirty = waveBanded.select("band", "bucket").distinct().localCheckpoint()
    val genDir = new Path(root, s"gen=$batchId")
    // A crashed attempt of this same batch may have left debris —
    // including a stale _BASE marker parquet overwrites would not clear.
    fs.delete(genDir, true)
    // Previous state: latest-wins fold over the live generation suffix
    // (empty-but-typed frames on the first batch, and on an upgrade —
    // where the "wave" above is the whole index and re-derives everything).
    val (prevBuckets, prevVerified) = if (live.isEmpty) {
      (Dedup.boundedBucketIds(waveBanded.limit(0), cap),
        Dedup.jaccardPairsHashed(hsWave.limit(0), None))
    } else {
      val wGen = org.apache.spark.sql.expressions.Window
        .partitionBy("band", "bucket").orderBy(col("gen").desc)
      // Checkpointed: the reconstruction is read three times per batch
      // (dirty fold, clean-side write on a base, report-time candidate
      // derivation) — materialize the latest-wins fold once instead of
      // re-running the window per consumer.
      val bucketsPlan = live.map { case (g, p) =>
        spark.read.parquet(s"$p/buckets").withColumn("gen", lit(g))
      }.reduce(_ unionAll _)
        .withColumn("rn", row_number().over(wGen))
        .filter(col("rn") === 1).select("band", "bucket", "ids")
      // Audited BEFORE the checkpoint hides it (the memo-build lesson):
      // the latest-wins window over the live suffix is the one
      // reconstruction plan every downstream consumer's lineage loses.
      graft.MemoLedger.planHook.foreach(_("view:release_reconstruct", bucketsPlan))
      val buckets = bucketsPlan.localCheckpoint()
      // Verified deltas are disjoint across gens (each gen verifies only
      // pairs unseen by ALL prior evidence) — plain union, no distinct.
      val verified = live.map { case (_, p) =>
        spark.read.parquet(s"$p/verified") }.reduce(_ unionAll _)
      (buckets, verified)
    }
    // Compaction cadence: the first generation is a base; thereafter a
    // new base every releaseCompactEvery generations bounds the live
    // suffix (and with it reconstruction cost and state file count).
    val compactEvery = spark.conf.getOption("graft.view.releaseCompactEvery")
      .map(_.toInt).getOrElse(8)
    val isBase = live.isEmpty || live.size + 1 >= compactEvery
    // Fold the wave into the dirty buckets' bounded arrays (semilattice:
    // re-bound over stored-members ∪ wave-members).
    val prevDirtyMembers = prevBuckets
      .join(dirty, Seq("band", "bucket"), "leftsemi")
      .select(col("band"), col("bucket"), explode(col("ids")).as("doc_id"))
    val updatedDirty = Dedup.boundedBucketIds(
      prevDirtyMembers.unionAll(
        waveBanded.select(col("band"), col("bucket"), col("doc_id"))), cap)
      .localCheckpoint()
    val cleanPrev = prevBuckets.join(dirty, Seq("band", "bucket"), "leftanti")
    (if (isBase) cleanPrev.unionAll(updatedDirty) else updatedDirty)
      .write.mode("overwrite").parquet(s"$genDir/buckets")
    // Verify only pairs never verified before, against the accumulated
    // shingle index semi-joined to exactly the involved docs. Dirty
    // buckets' pair contributions are derived, not stored — a bucket
    // crossing the cap contributes nothing, its old pairs simply stop
    // being derivable.
    val dirtyPairs = Dedup.pairsFromBucketIdsKeyed(updatedDirty, cap)
    val needVerify = dirtyPairs.select(col("a"), col("b")).distinct()
      .join(prevVerified.select("a", "b"), Seq("a", "b"), "leftanti")
      .localCheckpoint()
    val involved = needVerify.select(col("a").as("doc_id"))
      .unionAll(needVerify.select(col("b").as("doc_id"))).distinct()
    val hsInvolved = releaseWaves(spark, statePath, "hs")
      .join(involved, Seq("doc_id"), "leftsemi")
    val verifiedNew = Dedup.jaccardPairsHashed(hsInvolved, Some(needVerify))
    graft.MemoLedger.planHook.foreach(_("view:release_fold", verifiedNew))
    (if (isBase) prevVerified.unionAll(verifiedNew) else verifiedNew)
      .write.mode("overwrite").parquet(s"$genDir/verified")
    // Report: current verified evidence restricted to CURRENT candidates
    // (derived from the current bucket arrays, cross-bucket distinct —
    // evidence whose every source bucket crossed the cap drops out),
    // composed with the accumulated fingerprints.
    // Current buckets = clean survivors ∪ the (checkpointed) dirty fold —
    // algebraically what gen/buckets holds (or contributes, on a delta),
    // without re-reading the parquet just written.
    val curBuckets = cleanPrev.unionAll(updatedDirty)
    val curPairs = Dedup.pairsFromBucketIdsKeyed(curBuckets, cap)
      .select("a", "b").distinct()
    val genVerified = spark.read.parquet(s"$genDir/verified")
    val currentVerified =
      (if (isBase) genVerified else prevVerified.unionAll(genVerified))
        .join(curPairs, Seq("a", "b"), "leftsemi")
    val fpsAll = releaseWaves(spark, statePath, "fp")
    Dedup.releaseReportFromVerified(fpsAll, currentVerified, threshold)
      .write.mode("overwrite").parquet(s"$genDir/report")
    // Commit: the _BASE marker (when compacting) lands before the root
    // _SUCCESS marker (committedGens' criterion), which is written only
    // after every table landed, then the lease timestamp.
    if (isBase) { val b = fs.create(new Path(genDir, "_BASE"), true); b.close() }
    val ok = fs.create(new Path(genDir, "_SUCCESS"), true); ok.close()
    stampCommit(fs, genDir)
    pruneReleaseSuperseded(spark, fs, gens, isBase)
    Seq(waveBanded, dirty, updatedDirty, needVerify, prevBuckets)
      .foreach(Dedup.freeCheckpoint)
  }

  /** Every release wave's `table` (`fp` or `hs`) as one frame. The waves
    * are expanded here and read as explicit paths, not handed to Spark as
    * one glob path: `FileStreamSink.hasMetadata` logs a
    * FileNotFoundException stack trace for every single glob-path read. */
  private[graft] def releaseWaves(spark: SparkSession, statePath: String,
      table: String): DataFrame = {
    val pattern = new Path(statePath, s"waves/*/$table")
    val fs = pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(fs.globStatus(pattern).map(_.getPath.toString).toSeq: _*)
  }

  /** The release view's LIVE generations: the latest BASE generation
    * (full-state snapshot, `_BASE` marker) and every delta committed
    * after it — the suffix [[mergeReleaseBatch]]'s latest-wins
    * reconstruction folds. Generations below the base hold no live
    * state (their reports remain readable until pruned). */
  private def releaseLiveGens(fs: FileSystem,
      gens: Seq[(Long, Path)]): Seq[(Long, Path)] = {
    val lastBase = gens.lastIndexWhere { case (_, p) =>
      fs.exists(new Path(p, "_BASE")) }
    if (lastBase < 0) gens else gens.drop(lastBase)
  }

  /** Release-view pruning: unlike the associative views (whose latest
    * generation is self-contained), a delta generation's state is live
    * until a later BASE supersedes it — so only generations below the
    * latest base are prunable. When the new commit IS a base, the whole
    * previous live suffix became superseded too (minus the immediate
    * predecessor, the same keep-one-cycle reader floor as
    * [[pruneSuperseded]]); either way the reader lease applies. */
  private def pruneReleaseSuperseded(spark: SparkSession, fs: FileSystem,
      gens: Seq[(Long, Path)], newIsBase: Boolean): Unit = {
    val superseded =
      if (newIsBase) gens.dropRight(1)
      else gens.dropRight(math.max(1, releaseLiveGens(fs, gens).size))
    pruneWithLease(spark, fs, superseded)
  }

  /** Start the release-report maintenance loop over a document stream. */
  def maintainReleaseView(stream: DataFrame, statePath: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          mergeReleaseBatch(batch.sparkSession, batch.toDF(), statePath, batchId)
      }
      .start()

  /** Read the maintained release report in d36's exact output shape —
    * the committed generation's `report/` table. */
  def releaseView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    // Pre-LSM generations ARE the report parquet (no report/ subdir) —
    // a reader on not-yet-upgraded round-15 state reads the gen itself.
    val reportDir = new Path(latest._2, "report")
    if (fs.exists(reportDir)) spark.read.parquet(reportDir.toString)
    else spark.read.parquet(latest._2.toString)
  }

  /** Read the maintained symbol view in m17's exact output shape via the
    * SHARED close. */
  def symbolView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    graft.operators.Multimodal.symbolProfileFromCounts(
      spark.read.parquet(latest._2.toString))
  }

  /** Read the maintained reclaim view in m16's exact output shape via the
    * SHARED close ([[graft.operators.Multimodal.reclaimFromCounts]]) —
    * the state IS m16's counts table. */
  def reclaimView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    graft.operators.Multimodal.reclaimFromCounts(
      spark.read.parquet(latest._2.toString))
  }

  /** Read the maintained fulfillment view in q47's exact output shape —
    * the state IS q47's counts table, closed by the same shared
    * [[graft.operators.Relational.fulfillmentFromCounts]]. */
  def fulfillmentView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    graft.operators.Relational.fulfillmentFromCounts(
      spark.read.parquet(latest._2.toString))
  }

  /** Read the maintained cadence view in q46's exact output shape. The
    * observation horizon of a purchase-fed view is its newest purchase
    * (max last_us in state — one #users-row aggregate), which equals
    * batch q46's all-events horizon whenever the stream carries only
    * purchases; the spec asserts exactly that equality through
    * [[graft.operators.Relational.cadenceFromState]], the shared close. */
  def cadenceView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    val st = spark.read.parquet(latest._2.toString)
    graft.operators.Relational.cadenceFromState(
      st.crossJoin(st.agg(max("last_us").as("now_us"))))
  }

  /** Read the maintained view in q43's output shape (sans the
    * delta-attribution column, which is per-refresh bookkeeping) from the
    * newest COMMITTED generation. */
  def pricingView(spark: SparkSession, statePath: String): DataFrame = {
    val root = new Path(statePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val latest = committedGens(fs, root).lastOption.getOrElse(
      throw new IllegalStateException(
        s"no committed state generation under $statePath"))
    spark.read.parquet(latest._2.toString)
      .select(col("l_returnflag"), col("l_linestatus"),
        round(col("qc").cast("double") / 100.0, 2).as("sum_qty"),
        col("c").as("count_rows"))
      .orderBy("l_returnflag", "l_linestatus")
  }
}
