package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, SessionMemo}
import graft.functions.TextFns._
import graft.functions.VectorFns
import graft.sources.Tables

/** Deduplication operators for a training-data pipeline, each designed as a
  * shuffle-bounded distributed plan:
  *
  *  - exact: hash-groupBy on a fingerprint — one shuffle keyed by md5.
  *  - MinHash + LSH: shingle → 64-perm signature → band buckets →
  *    within-bucket candidate join → exact-Jaccard verify. The only joins
  *    are per-band self-joins on (band, hash) buckets, which at 100 TB is
  *    the standard near-dup architecture (candidates ≪ n²).
  *  - SimHash: 64-bit signature by per-bit majority over token hashes;
  *    near-dups found by banding the signature into 4 × 16-bit chunks
  *    (any duplicate pair within Hamming distance 3 shares ≥1 exact chunk
  *    by pigeonhole) and verifying with bit_count(xor) ≤ 3.
  *  - n-gram Jaccard: exact pairwise similarity via shingle-explode +
  *    equi-join on shingle (co-group), never a cross join.
  *  - embedding cosine: near-dup pairs over `array<float>` vectors.
  *
  * All hashing is deterministic (xxhash64 with fixed seed behavior /
  * arithmetic over fixed constants) so results are stable across runs and
  * cluster sizes.
  *
  * Two execution rules shared by every pipeline here, both of which matter
  * as much at 100 TB as they do locally:
  *
  *  1. **Spread the corpus before per-document CPU work.** A small table
  *     arrives as few scan tasks (here: one parquet file → one task);
  *     tokenizing/shingling behind that scan would run nearly serial. One
  *     round-robin repartition of (doc_id, text) costs a shuffle of the raw
  *     text and buys full-cluster parallelism for everything downstream.
  *  2. **Materialize shared subtrees eagerly (localCheckpoint), never rely
  *     on lazy `cache()` under a multi-branch plan.** The shingle set feeds
  *     three consumers (signature agg, set sizes, intersection join); AQE
  *     launches those subqueries concurrently, and a lazily-cached partition
  *     is then computed redundantly by every branch that arrives before the
  *     first one finishes materializing it (observed as racing "Block
  *     already exists" warnings and N× the work). An eager checkpoint runs
  *     the producing stage exactly once. `localCheckpoint` is NOT
  *     reliable: it truncates lineage and keeps the blocks in executor
  *     storage, so a lost block (a dead executor) fails its consumer
  *     instead of being recomputed.
  */
object Dedup {

  /** Exact dedup groups: representative (min doc_id) + multiplicity per
    * normalized-text fingerprint. */
  val exact = Q(
    "d01_dedup_exact",
    (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups")),
    Some("""SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
            min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents
            GROUP BY 1 ORDER BY keep_id"""))

  /** Round-robin-spread (doc_id, text) — execution rule 1 above, sized by
    * data instead of cores (see [[Sizing.spreadCount]]): a single-file
    * local corpus still fans out for the tokenize kernels, but the spread
    * count is proportional to input bytes (so a ~600 KB corpus no longer
    * produces 32-partition checkpoints whose every consumer job launches a
    * map task per core), and once the input's own scan splits reach the
    * session parallelism the repartition is skipped outright — at 100 TB
    * the scan already spreads the text and the round-robin shuffle would
    * move the full payload for nothing (guide §2.4). */
  private[graft] def spread(docs: DataFrame): DataFrame =
    Sizing.spread(docs.select(col("doc_id"), col("text")))

  /** Round-robin fan-out for a typed-map OUTPUT whose input partition
    * count is known: a no-op once the input already carries ≥ cores
    * partitions (the 100 TB scan case — repartitioning there would
    * shuffle the full payload for nothing, guide §2.4), the round-16
    * flat fan-out when it doesn't (the single-file local fixture). */
  private def spreadIfNarrow(inputPartitions: Int)(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (inputPartitions >= p) df else df.repartition(p)
  }

  // Checkpoint-block lifetime: a `localCheckpoint`ed RDD has its lineage
  // truncated, so a freed block can NEVER be recomputed — an explicit
  // `unpersist` of one is a live hazard (any consumer that re-reads the
  // plan afterwards, e.g. a second action on a returned DataFrame or a
  // racing speculative task, dies with "Block ... does not exist"; Spark
  // itself warns on the call). We therefore never unpersist checkpoints
  // eagerly: blocks are MEMORY_AND_DISK (they spill, not evict) and
  // ContextCleaner reclaims them through the block manager once the
  // driver-side references are garbage-collected — the standard lifecycle,
  // which frees loop intermediates promptly (each round's local vars drop
  // the only strong references) without the recompute hazard.

  // ---------------------------------------------------------------- MinHash
  val NumPerms = 64
  val Bands = 16
  val RowsPerBand: Int = NumPerms / Bands // 4
  /** Default shingle width — the kernel's fourth baked-in constant; the
    * dedup-index manifest pins it (a probe joining n'-gram delta
    * shingles against an n-gram index would be silently wrong), so it
    * must be THE constant [[shingleSets]] defaults to, not a literal. */
  val ShingleN = 3
  private val MersennePrime = 2147483647L // 2^31 - 1

  /** doc_id, shingle (distinct word-3-gram shingles per document).
    *
    * Typed flatMap rather than array-expression composition: Spark's
    * higher-order functions (transform/filter lambdas) evaluate interpreted
    * (outside codegen), which measured ~6× slower here, and per-document
    * local dedup (a small Set) removes the global `distinct()` shuffle
    * entirely — per-doc work is embarrassingly parallel at any scale.
    * Token semantics match TextFns.tokens (and the DuckDB oracles):
    * lowercase, split on non-alphanumeric runs, drop empties.
    */
  def shingleSets(docs: DataFrame, n: Int = ShingleN): DataFrame = {
    import docs.sparkSession.implicits._
    spread(docs).as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        if (toks.length < n) Iterator.empty
        else {
          val seen = scala.collection.mutable.LinkedHashSet.empty[String]
          toks.sliding(n).foreach(w => seen += w.mkString(" "))
          seen.iterator.map(s => (id, s))
        }
      }
      .toDF("doc_id", "shingle")
  }

  /** A 60-bit deterministic hash both engines can compute: the first 15 hex
    * chars of md5, read base-16. Chosen over xxhash64 so the MinHash/SimHash
    * pipelines are *oracle-checkable* — DuckDB reproduces it as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT` — while staying a plain
    * codegen'd column expression here. Always non-negative (< 2^60), so
    * `%` and bit-shifts agree across engines with no sign headaches.
    * Collision odds over ~10^5 distinct inputs are ~1e-8 — irrelevant for
    * set-intersection counting. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** doc_id, sh_h: shingles as 60-bit hashes — all downstream equi-joins
    * and aggregates run on longs instead of strings (≈3× smaller shuffle
    * rows, cheaper compares). */
  def hashedShingles(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), md5Hash60(col("shingle")).as("sh_h"))

  /** (doc_id, ts: array<string>) — the corpus tokenized ONCE, spread for
    * the per-row kernels. The shared input of every per-n shingle table
    * (round 17): hs@{3,5,8} used to re-tokenize the corpus per n — three
    * regex passes plus three round-robin shuffles of the text payload;
    * deriving the n-grams from one checkpointed token-array table makes
    * the extra passes array slicing over already-split tokens
    * (guide §1.2 — don't recompute; §2.4 — fewer exchanges). */
  private[graft] def spreadTokenArrays(docs: DataFrame): DataFrame =
    spread(docs).select(col("doc_id"),
      graft.functions.TextFns.tokens(col("text")).as("ts"))

  /** Per-doc DISTINCT hashed word-n-grams from a token-array table —
    * expression-only (whole-stage codegen, no typed boundary), row-set
    * identical to `hashedShingles(shingleSets(docs, n))`:
    * `concat_ws(" ", slice(ts, i, n))` ≡ `toks.slice(i, i+n).mkString(" ")`,
    * `array_distinct` on the shingle STRINGS ≡ the LinkedHashSet dedup
    * (dedup-then-hash, so 60-bit collisions behave identically), and docs
    * with < n tokens emit nothing (ShingleFromTokensSpec asserts equality
    * on every SF fixture + edge corpora). */
  private[graft] def hashedShinglesFromTokens(toks: DataFrame, n: Int): DataFrame =
    toks.filter(size(col("ts")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("ts")) - (n - 1)),
          i => concat_ws(" ", slice(col("ts"), i, lit(n)))))).as("shingle"))
      .select(col("doc_id"), md5Hash60(col("shingle")).as("sh_h"))

  /** POSITIONAL hashed n-grams from a token-array table — every window,
    * no per-doc dedup, 1-based positions: row-identical to the d11-style
    * `toks.sliding(n).zipWithIndex` flatMap (ShingleFromTokensSpec). */
  private[graft] def positionalShingleHashes(toks: DataFrame, n: Int): DataFrame =
    toks.filter(size(col("ts")) >= n)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("ts")) - (n - 1)),
          i => struct(i.cast("long").as("pos"),
            md5Hash60(concat_ws(" ", slice(col("ts"), i, lit(n)))).as("sh_h")))).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"), col("e.sh_h").as("sh_h"))

  /** The corpus's hashed shingle sets computed in ONE pass and eagerly
    * materialized — the shared input of signatures, set sizes, and the
    * intersection join (execution rule 2). */
  def materializedShingleHashes(docs: DataFrame): DataFrame =
    hashedShingles(shingleSets(docs)).localCheckpoint()

  /** doc_id, sig: array<long> of NumPerms min-hash values over hashed
    * shingles, computed by the native
    * [[graft.functions.SignatureAggs.MinHashSig]] aggregate (one 64-lane
    * buffer per group instead of 64 aggregate columns). */
  def signaturesFromHashes(hs: DataFrame): DataFrame = {
    hs.select(col("doc_id"), pmod(col("sh_h"), lit(MersennePrime)).as("h"))
      .groupBy("doc_id")
      .agg(expr("minhash_sig(h)").as("sig"))
  }

  /** doc_id, sig — from raw documents (one-shot form; pipelines that also
    * need the shingles should build [[materializedShingleHashes]] once and
    * call [[signaturesFromHashes]]). */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFromHashes(hashedShingles(shingleSets(docs)))

  /** Candidate pairs (a < b) sharing at least one LSH band bucket. The
    * banded table stays lazy: post-cap candidate generation has exactly
    * ONE consumer of it (the bucket-grouping aggregate in
    * [[lshCandidatesFromBanded]]) — there is no self-join left to share
    * an exchange with and nothing to checkpoint for. */
  def lshCandidates(sigs: DataFrame): DataFrame =
    lshCandidatesFromBanded(bandBuckets(sigs))

  /** Bucket-population cap for LSH band-bucket candidate generation —
    * [[ShingleDfCap]]'s move on the banding axis. A band bucket holding k
    * documents emits k² candidate pairs from the banded self-join; on a
    * boilerplate-heavy corpus one corpus-hot band signature (thousands of
    * byte-near-identical template pages minhashing to the same 4-lane
    * band) turns candidate GENERATION quadratic even though the verified
    * output is what it is. The mitigation is the standard LSH one: drop
    * buckets with more than cap member docs from candidate generation.
    * A bucket that hot is, definitionally, a boilerplate/exact-dup
    * cluster — the exact-fingerprint gate (d01/d07's exact stage) already
    * drops its byte-copies, and each member still has [[Bands]]−1 other
    * chances to band with its true near-dups through a healthy bucket.
    * Capped ≡ uncapped whenever no bucket exceeds cap (true of all three
    * test SFs — max observed bucket is 7 docs — and spec-asserted in
    * DedupCapSpec, alongside a planted boiler corpus showing the k²
    * candidate collapse). Every consumer's DuckDB oracle mirrors the cap
    * (the shared `cand` CTE), so the contract stays value-exact. */
  val BandBucketCap = 64

  /** A banded table folded to (band, bucket, ids) with the cap's bounded
    * collector: `ids` holds a bucket's members (sorted ascending) for
    * healthy buckets, and exactly cap+1 ids — the "over cap" sentinel the
    * caller filters on — for hot ones, so a corpus-hot bucket costs cap+1
    * longs of aggregation buffer, never an unbounded list (see
    * [[graft.functions.SignatureAggs.BoundedMinIds]]). ONE shuffle of the
    * banded rows with map-side partial aggregation; this REPLACES the
    * pre-cap self-join entirely — pair expansion happens from the bounded
    * arrays, ≤ cap²/2 pairs per bucket by construction. */
  private def bucketIds(banded: DataFrame, cap: Int): DataFrame = {
    banded.groupBy("band", "bucket")
      .agg(expr(s"bounded_min_ids(doc_id, ${cap + 1})").as("ids"))
      .filter(size(col("ids")) <= cap)
  }

  /** Candidate pairs from an ALREADY-MATERIALIZED (doc_id, band, bucket)
    * table (see [[bandBuckets]]) — lets pipelines that also probe the band
    * table elsewhere (d10) pay for its materialization once. Buckets over
    * [[BandBucketCap]] docs are excluded from candidate generation (see
    * the cap's scaladoc; mirrored in every consumer's oracle). `ids` is
    * sorted ascending, so slicing above each element's position yields
    * exactly the a < b ordered pairs — no join, codegen'd higher-order
    * functions only. */
  def lshCandidatesFromBanded(banded: DataFrame): DataFrame =
    pairsFromBucketIds(bucketIds(banded, BandBucketCap))

  /** Bounded bucket membership WITHOUT the over-cap exclusion — the
    * maintained release view's bucket STORE ([[graft.streaming
    * .ViewStreams.mergeReleaseBatch]]): `ids` holds each bucket's cap+1
    * smallest member ids (the cap+1th is the over-cap sentinel the pair
    * expansion filters on). Kept unfiltered because the store must
    * remember that a bucket is over cap — and because bounded-min-ids is
    * a bounded semilattice fold: the cap+1 smallest of (old ∪ new) are
    * always contained in (cap+1 smallest of old) ∪ new, so folding each
    * arriving wave into the stored arrays is EXACT against a full
    * recompute, for any id order, any slicing. That identity is what
    * makes dirty-bucket view maintenance batch-equal to d36. */
  private[graft] def boundedBucketIds(banded: DataFrame, cap: Int): DataFrame = {
    banded.groupBy("band", "bucket")
      .agg(expr(s"bounded_min_ids(doc_id, ${cap + 1})").as("ids"))
  }

  /** [[pairsFromBucketIds]] keeping the (band, bucket) provenance and
    * applying the over-cap exclusion itself — the view's per-bucket pair
    * CONTRIBUTIONS, so a dirty bucket's prior pairs can be replaced
    * (including dropped entirely when the bucket crosses the cap)
    * without touching any clean bucket's rows. NOT distinct: cross-bucket
    * dedup happens at read ([[graft.streaming.ViewStreams]]). */
  private[graft] def pairsFromBucketIdsKeyed(bids: DataFrame, cap: Int): DataFrame =
    bids.filter(size(col("ids")) <= cap)
      .select(col("band"), col("bucket"), explode(expr(
        """flatten(transform(ids,
          |  (x, i) -> transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("band"), col("bucket"), col("p.a").as("a"), col("p.b").as("b"))

  /** The a < b pair expansion of a capped (band, bucket, ids) table —
    * `ids` is sorted ascending, so slicing above each element's position
    * yields exactly the ordered pairs. */
  private def pairsFromBucketIds(bids: DataFrame): DataFrame =
    bids
      .select(explode(expr(
        """flatten(transform(ids,
          |  (x, i) -> transform(slice(ids, i + 2, size(ids)),
          |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Document-frequency cap for exact-shingle candidate generation (d04 /
    * d18). At web scale a boilerplate shingle ("all rights reserved …")
    * present in k documents emits k² candidate pairs from a naive
    * shared-shingle self-join — the one superlinear plan shape in the
    * inventory (the 100× rehearsal measured d18 at 18.8× wall before the
    * cap). The standard MinHash-dedup mitigation: drop shingles with
    * df > cap from CANDIDATE GENERATION ONLY — intersection counts and
    * size denominators still run over ALL shingles, so the output is
    * IDENTICAL to the uncapped plan whenever every true pair shares at
    * least one sub-cap shingle (a pair of near-dups sharing ONLY
    * corpus-hot boilerplate is, definitionally, boilerplate — not a dup
    * pair worth emitting). Equivalence + pruning are spec-asserted
    * (DedupCapSpec): capped ≡ uncapped on the test corpora, and a planted
    * boilerplate corpus shows the k² candidate term collapse. */
  val ShingleDfCap = 64

  /** Candidate pairs (a < b) sharing at least one shingle whose corpus
    * document-frequency is ≤ dfCap — the SET contract of the capped plan
    * (reference implementation; the shipped execution path is
    * [[cappedPairCounts]], whose emitted pair set is spec-asserted equal
    * to this). Rows of hs are distinct (doc_id, sh_h), so count = df. */
  def dfCappedCandidates(hs: DataFrame, dfCap: Int): DataFrame = {
    val rare = hs.join(
      hs.groupBy("sh_h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select("sh_h"),
      "sh_h")
    rare.select(col("doc_id").as("a"), col("sh_h"))
      .join(rare.select(col("doc_id").as("b"), col("sh_h")), "sh_h")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** (a, b, n_common) for every pair a < b sharing ≥1 sub-cap shingle,
    * with n_common EXACT over ALL shingles (hot ones included) — the self-
    * pair form of [[cappedSharedCounts]] (d04/d12/d18/d34's trunk). */
  def cappedPairCounts(hs: DataFrame, dfCap: Int): DataFrame =
    cappedSharedCounts(hs, dfCap, "a", "b", None).withColumnRenamed("n_shared", "n_common")

  /** THE df-capped shared-shingle count, the one kernel behind self pairs
    * (d04/d12/d18/d34, via [[cappedPairCounts]]), corpus × eval pairs
    * (d09/d19/d35/p03), val × train pairs (d21) and d33's operating curve.
    * Emits (`a`, `b`, n_shared) for every pair sharing ≥1 shingle whose
    * document frequency over `hs` is ≤ dfCap, with n_shared EXACT over ALL
    * shared shingles, hot ones included.
    *
    * `hs` holds distinct (doc_id, sh_h[, tags]) rows. `split` = None pairs
    * `hs` with itself (a < b); `split` = Some(inA) pairs the rows matching
    * inA (side `a`) with the rest (side `b`) — the two sides partition
    * `hs`, so df over `hs` is df over both sides. Plan shape:
    *
    *  1. ONE shingle-keyed df aggregate finds hot shingles (df > cap);
    *     the HOT table is checkpointed so the planner sees its true
    *     (usually zero) size, and the rare side is carved out with a
    *     left-anti join against it — map-side when hot is small, which
    *     it structurally is on healthy corpora (at sf0.1 max df = 25,
    *     hot is EMPTY). Two alternative shapes were measured at 500k docs
    *     and rejected: computing df with a count window over sh_h re-
    *     instantiated the window subplan per consumer and, checkpointed,
    *     added a 55M-row sort (+45% wall); leaving the filtered branches
    *     un-materialized let the static planner broadcast a corpus-scale
    *     join side (driver OOM).
    *  2. The pairing join runs over the RARE rows only, pinned to
    *     sort-merge (`hint("merge")`): both sides are corpus-derived, so
    *     a broadcast is never right at target scale no matter what the
    *     stats say. Fan-out is dfCap²-bounded per shingle always.
    *  3. Hot shared counts are recovered per CANDIDATE pair from per-doc
    *     hot-shingle arrays (distinct hot shingles ≤ |hs|/cap, per-doc
    *     arrays boilerplate-sized) via two doc-keyed left joins on the
    *     pair table + an array intersection — never a hot-keyed pairing
    *     join. ONE hot-set table serves both sides (keyed by doc_id and,
    *     for a split, the side — two tables' ids may collide),
    *     checkpointed for real stats: empty/tiny on healthy corpora
    *     (broadcast correct), doc-proportional on boilerplate-flooded ones.
    *  4. Empty-hot fast path (round 16): on healthy corpora no shingle
    *     crosses the cap, so the anti-join is the identity and both
    *     recovery legs are empty — one take(1) probe on the materialized
    *     hot checkpoint skips them (n_shared = n_rare; DedupCapSpec drives
    *     the non-empty arm).
    *
    * `minDf` (d33) also emits each pair's min shared-shingle df: it
    * checkpoints the whole df table instead of the hot part and carves
    * the rare rows by an inner join that carries df.
    *
    * So the k² boilerplate term is structurally gone while every emitted
    * value matches the uncapped (and oracle) arithmetic exactly. A pair
    * sharing ONLY corpus-hot shingles is, definitionally, boilerplate —
    * not a dup pair, not eval leakage — and every consumer's oracle
    * mirrors that qualification. Measured at 500k docs: d18 through this
    * kernel runs 33 s absolute vs 71 s for round 9's uncapped join. */
  private[operators] def cappedSharedCounts(hs: DataFrame, dfCap: Long,
      a: String, b: String, split: Option[Column], minDf: Boolean = false): DataFrame = {
    // Round 17 A/B (OPTIMIZATION_r17 item 3; the deleted PairProbe main,
    // commit 66fe07c; sf0.1, interleaved min-of-3): a
    // bounded_min_ids aggregate + array pair expansion — one hs pass, one
    // row per shingle through the shuffle — measured 1.13 s vs 0.95 s for
    // this merge-join form, so the rewrite was REVERTED. Why the "fewer
    // passes" form loses: both sides of the self-join below canonicalize
    // identically, so ReuseExchange ships hs through ONE sorted exchange
    // anyway (verified in the d04 plan), the df aggregate's shuffle is
    // map-combined (sh_h, count) — tiny — while the aggregate form's
    // partial bounded arrays are ~|hs| bytes too (most shingles have
    // df = 1), and its O(df²) expansion is interpreted expression code
    // where the join is whole-stage codegen.
    val dfs = hs.groupBy("sh_h").agg(count(lit(1)).as("df"))
    val (hot, rare) =
      if (minDf) {
        val t = dfs.localCheckpoint()
        (t.filter(col("df") > dfCap).select("sh_h"), hs.join(t.filter(col("df") <= dfCap), "sh_h"))
      } else {
        val h = dfs.filter(col("df") > dfCap).select("sh_h").localCheckpoint()
        (h, hs.join(h, Seq("sh_h"), "left_anti"))
      }
    val hotEmpty = hot.isEmpty
    val rows = if (hotEmpty && !minDf) hs else rare
    val sideA = split.fold(rows)(rows.filter)
      .select(Seq(col("doc_id").as(a), col("sh_h")) ++ (if (minDf) Seq(col("df")) else Nil): _*)
    val sideB = split.fold(rows)(p => rows.filter(!p)).select(col("doc_id").as(b), col("sh_h"))
    val joined = sideA.hint("merge").join(sideB.hint("merge"), Seq("sh_h"))
    val pairs = (if (split.isEmpty) joined.filter(col(a) < col(b)) else joined)
      .groupBy(a, b)
      .agg(count(lit(1)).as("n_rare"), (if (minDf) Seq(min("df").as("min_df")) else Nil): _*)
    if (hotEmpty) return pairs.withColumnRenamed("n_rare", "n_shared")
    val hotSets = hs.join(hot, Seq("sh_h"))
      .groupBy(col("doc_id") +: split.map(_.as("in_a")).toSeq: _*)
      .agg(sort_array(collect_set(col("sh_h"))).as("hot_set"))
      .localCheckpoint()
    def hotOf(id: String, side: Column): DataFrame =
      split.fold(hotSets)(_ => hotSets.filter(side))
        .select(col("doc_id").as(id), col("hot_set").as(s"hot_$id"))
    pairs
      .join(hotOf(a, col("in_a")), Seq(a), "left")
      .join(hotOf(b, !col("in_a")), Seq(b), "left")
      .select(pairs.columns.filter(_ != "n_rare").map(col) :+ (col("n_rare") +
        coalesce(size(array_intersect(col(s"hot_$a"), col(s"hot_$b"))), lit(0)).cast("long"))
        .as("n_shared"): _*)
  }

  /** Exact pairwise Jaccard (pairs with ≥1 common shingle) over an
    * already-materialized hashed shingle set: co-group join on the shingle
    * hash, count intersections, attach set sizes. */
  def jaccardPairsHashed(hs: DataFrame, candidates: Option[DataFrame]): DataFrame = {
    val shA = hs.select(col("doc_id").as("a"), col("sh_h"))
    val shB = hs.select(col("doc_id").as("b"), col("sh_h"))
    val inter = candidates match {
      case Some(c) => c.join(shA, "a").join(shB, Seq("b", "sh_h"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
      case None => shA.join(shB, "sh_h").filter(col("a") < col("b"))
        .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    }
    jaccardFromCounts(hs, inter)
  }

  /** Attach set sizes to an (a, b, [extras,] n_common) pair table and
    * emit the rounded Jaccard in place of n_common — the shared tail of
    * the uncapped, LSH-gated, and df-capped kernels and d33's curve
    * (identical arithmetic, so the oracle boundary can't drift between
    * them). */
  private def jaccardFromCounts(hs: DataFrame, counts: DataFrame): DataFrame = {
    val sizes = hs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    counts
      .join(sizes.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .select(counts.columns.filter(_ != "n_common").map(col) :+
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4).as("jaccard"): _*)
  }

  /** Exact Jaccard over df-capped candidates ([[cappedPairCounts]]):
    * pairs sharing ≥1 sub-cap shingle, values exact over all shingles. */
  def jaccardPairsCapped(hs: DataFrame, dfCap: Int = ShingleDfCap): DataFrame =
    jaccardFromCounts(hs, cappedPairCounts(hs, dfCap))

  /** Exact pairwise Jaccard from raw (doc_id, shingle) rows. */
  def jaccardPairs(sh: DataFrame, candidates: Option[DataFrame]): DataFrame =
    jaccardPairsHashed(hashedShingles(sh).localCheckpoint(), candidates)

  // ------------------------------------------- corpus artifact session memo
  // The corpus artifacts below live in `SessionMemo.corpus` — the
  // d09/d19 contam memo generalized to the whole LSH candidate kernel
  // over the shipped `documents` table. A dozen inventory queries
  // (d02/d06/d08/d12/d15/d16/d27 through the verified-pair and cluster
  // tables; d04/d34 through the df-capped Jaccard; d32/d34 through the
  // band table; d09/d19/d21/d35 through the n-gram shingle tables)
  // rebuild the same shingle → signature → band-bucket → candidate →
  // verified-pair chain over the SAME corpus back-to-back; a pipeline
  // does not re-tokenize the corpus per query.

  /** Free every corpus-memo artifact. Kept as a named entry point because
    * the benchmark harness (`perfbench`) calls it between passes. */
  def clearCorpusMemo(): Unit = SessionMemo.corpus.clear()

  /** The corpus token-array table, memoized — ONE tokenize pass (and one
    * spread shuffle) serving every per-n shingle table below. */
  private[operators] def corpusTokenArrays(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "toks")(
      spreadTokenArrays(Tables.documents(spark, d)))

  /** The corpus's hashed word-n-gram shingle table, memoized — the widest-
    * shared artifact: every d-family kernel starts here. Built from the
    * shared token arrays (round 17): the contam@{3,5,8} chain used to
    * re-tokenize the corpus per n. */
  def corpusShingleHashes(spark: SparkSession, d: String, n: Int = 3): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"hs@$n")(
      hashedShinglesFromTokens(corpusTokenArrays(spark, d), n))

  /** MinHash signature table over [[corpusShingleHashes]], memoized
    * (read by the band build and d22's lane compare). */
  private[operators] def corpusSigs(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "sigs")(
      signaturesFromHashes(corpusShingleHashes(spark, d)))

  /** (doc_id, band, bucket) LSH band table over the corpus, memoized —
    * the session-grade form of d10's persisted band index. */
  def corpusBanded(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "banded")(
      bandBuckets(corpusSigs(spark, d)))

  /** The capped band-bucket membership table (band, bucket, ids ≤ cap,
    * sorted), memoized — ONE aggregation of the band table shared by
    * self-join candidates (d02 family), the bipartite probe (d32), and
    * the per-band operating curve (d34). */
  private[operators] def corpusBucketIds(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"bucketIds@$BandBucketCap")(
      bucketIds(corpusBanded(spark, d), BandBucketCap))

  /** BandBucketCap'd LSH candidate pairs (a < b) over the corpus,
    * memoized. */
  private[operators] def corpusCand(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "cand")(
      pairsFromBucketIds(corpusBucketIds(spark, d)))

  /** Exact Jaccard over every LSH candidate pair, UNthresholded (each
    * consumer applies its own ≥-threshold filter), memoized. */
  def corpusVerifiedPairs(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "verified")(
      jaccardPairsHashed(corpusShingleHashes(spark, d), Some(corpusCand(spark, d))))

  /** The df-capped candidate pair-count table (a, b, n_common) over the
    * corpus — the shared TRUNK of the capped family, memoized: d04/d12/
    * d34 derive Jaccard from it (via [[corpusCappedJaccard]]), d18
    * derives containment. One rare-shingle pairing join serves both
    * score families. */
  private[operators] def corpusCappedPairCounts(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"cappedPairs@$ShingleDfCap")(
      cappedPairCounts(corpusShingleHashes(spark, d), ShingleDfCap))

  /** Exact Jaccard over the df-capped shared-shingle candidates (d04's
    * kernel; also d12's n-gram detector and d34's truth set), memoized —
    * the size-attach + divide over [[corpusCappedPairCounts]]. */
  def corpusCappedJaccard(spark: SparkSession, d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "cappedJaccard")(
      jaccardFromCounts(corpusShingleHashes(spark, d),
        corpusCappedPairCounts(spark, d)))

  /** Near-dup cluster component table at `threshold` (unordered — d06
    * orders it, d15/d27 re-aggregate it), memoized. */
  private[operators] def corpusClusterTable(spark: SparkSession, d: String,
      threshold: Double, maxIters: Int): DataFrame =
    SessionMemo.corpus(spark, d, s"clusters@$threshold@$maxIters") {
      val pairs = corpusVerifiedPairs(spark, d)
        .filter(col("jaccard") >= threshold)
        .select(col("a"), col("b")).localCheckpoint()
      val out = graft.MemoLedger.audited(s"memo:clusters@$threshold@$maxIters")(
        connectedComponents(pairs, maxIters)
          .groupBy("label").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("cluster_size"))
          .filter(col("cluster_size") > 1)
          .select(
            col("label").as("cluster_rep"),
            explode(col("ids")).as("doc_id"),
            col("cluster_size")))
        .localCheckpoint()
      // The pair edge list was only an input of the (now-materialized)
      // component table — method-local, so no consumer can re-read it.
      freeCheckpoint(pairs)
      out
    }

  /** Full MinHash-LSH near-dup pipeline; emits verified pairs with exact
    * Jaccard ≥ threshold. One tokenize+shingle pass feeds signatures,
    * candidate generation, and verification. Fully oracle-checked: the
    * md5-based base hash and LCG lane constants are reproduced verbatim in
    * DuckDB SQL, so signatures — and therefore the candidate set and the
    * verified output — match exactly. */
  def minhashPairs(spark: SparkSession, d: String, threshold: Double): DataFrame =
    corpusVerifiedPairs(spark, d)
      .filter(col("jaccard") >= threshold)

  def minhashPairsFrom(docs: DataFrame, threshold: Double): DataFrame = {
    val hs = materializedShingleHashes(docs)
    val cands = lshCandidates(signaturesFromHashes(hs))
    jaccardPairsHashed(hs, Some(cands))
      .filter(col("jaccard") >= threshold)
  }

  /** DuckDB re-implementation of the MinHash-LSH pipeline, shared by the
    * d02 and d06 oracles: shingles → 60-bit md5 hash → 64 LCG-permuted
    * lane minima → 16 bands joined on exact 4-lane signature equality →
    * exact-Jaccard verification. Everything is arithmetic both engines
    * define identically (BIGINT ops stay < 2^62). */
  /** The signature half of the MinHash oracle (shingles → hashes → lane
    * minima → band signatures + set sizes) — shared by the self-join
    * pairing tail below (d02/d06) and d32's bipartite wave-vs-resident
    * tail, so every consumer reads literally the same signature SQL. */
  /** The signature CTE chain parameterized by source relation and a
    * CTE-name suffix, so one oracle query can run the kernel over TWO
    * corpus slices (d37 runs it on the full corpus and on the base
    * release). `withLanes` emits the corpus-independent lane-constant
    * CTE — exactly once per query. */
  private def minhashSigCtesFor(src: String, x: String,
      withLanes: Boolean): String = {
    val lanes = if (withLanes)
      """lanes AS (SELECT i,
           CASE WHEN (1103515245 * (i + 1) + 12345) % 2147483647 = 0 THEN 1
                ELSE (1103515245 * (i + 1) + 12345) % 2147483647 END AS la,
           (69069 * (i + 7) + 362437) % 2147483647 AS lb
         FROM range(0, 64) r(i)),
       """
    else ""
    s"""sh$x AS (
         SELECT DISTINCT doc_id, shingle FROM (
           SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
           FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               t -> t <> '') AS ts
                 FROM $src),
           UNNEST(range(1, len(ts) - 1)) AS r(i))),
       hs$x AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh_h FROM sh$x),
       base$x AS (SELECT doc_id, sh_h % 2147483647 AS h FROM hs$x),
       ${lanes}sig$x AS (SELECT doc_id, i, min((la * h + lb) % 2147483647) AS m
               FROM base$x CROSS JOIN lanes GROUP BY doc_id, i),
       bands$x AS (SELECT doc_id, i // 4 AS band, list(m ORDER BY i) AS bsig
                 FROM sig$x GROUP BY doc_id, i // 4),
       sizes$x AS (SELECT doc_id, count(*) AS n FROM sh$x GROUP BY doc_id)"""
  }

  private val minhashSigCtes =
    minhashSigCtesFor("documents", "", withLanes = true)

  // Equivalence note (here and in every consumer of these CTEs): the Scala
  // side buckets on xxhash64(band-signature) while the oracle joins on
  // exact 4-lane signature equality — identical candidate sets unless two
  // DISTINCT band signatures collide in xxhash64 (probability ~2⁻⁶⁴ per
  // bucket pair; a collision could admit a candidate the oracle lacks, or
  // push a merged bucket over BandBucketCap where the oracle's separate
  // groups stay under). Accepted: the 8-byte bucket key is the scalable
  // join shape; the exact-array key would double the shuffle width.
  /** Signature chain + the band-bucket-capped candidate/intersection
    * tail, suffix-parameterized like [[minhashSigCtesFor]]. */
  private def minhashKernelCtesFor(src: String, x: String,
      withLanes: Boolean): String =
    s"""${minhashSigCtesFor(src, x, withLanes)},
       okb$x AS (SELECT band, bsig FROM bands$x GROUP BY band, bsig
               HAVING count(*) <= $BandBucketCap),
       cand$x AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                FROM bands$x x
                JOIN okb$x ON okb$x.band = x.band AND okb$x.bsig = x.bsig
                JOIN bands$x y
                  ON x.band = y.band AND x.bsig = y.bsig AND x.doc_id < y.doc_id),
       inter$x AS (SELECT c.a, c.b, count(*) AS n_common
                 FROM cand$x c
                 JOIN hs$x x ON x.doc_id = c.a
                 JOIN hs$x y ON y.doc_id = c.b AND y.sh_h = x.sh_h
                 GROUP BY c.a, c.b)"""

  private val minhashOracleCtes =
    minhashKernelCtesFor("documents", "", withLanes = true)

  val minhash = Q(
    "d02_dedup_minhash_lsh",
    (s, d) => minhashPairs(s, d, 0.5),
    Some(s"""WITH $minhashOracleCtes
            SELECT a, b,
              round(CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE round(CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5
            ORDER BY a, b"""))

  // ---------------------------------------------------------------- SimHash
  /** doc_id, simhash: 64-bit signature, bitwise majority of token hashes,
    * via the native [[graft.functions.SignatureAggs.SimHashSig]] aggregate. */
  def simhashSignatures(docs: DataFrame): DataFrame = {
    spread(docs).select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), md5Hash60(col("t")).as("h"))
      .groupBy("doc_id")
      .agg(expr("simhash_sig(h)").as("simhash"))
  }

  /** Near-dup pairs with Hamming distance ≤ maxDist, banding the 64-bit
    * signature into 4 16-bit chunks (pigeonhole ⇒ recall 1.0 for d ≤ 3). */
  def simhashPairs(spark: SparkSession, d: String, maxDist: Int): DataFrame = {
    val sigs = simhashSignatures(Tables.documents(spark, d))
    val chunkArr = array((0 until 4).map(c =>
      shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)
    // Not checkpointed: the self-join's sides are canonically identical, so
    // exchange reuse shares the tokenize scan + doc_id shuffle + partial
    // signature agg between them (same argument as lshCandidates).
    val chunked = sigs.select(
      col("doc_id"), col("simhash"),
      posexplode(chunkArr).as(Seq("chunk", "ck")))
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  val simhash = Q(
    "d03_dedup_simhash",
    (s, d) => simhashPairs(s, d, 3),
    Some("""WITH toks AS (
              SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS t
              FROM documents),
            th AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks),
            bitsums AS (
              SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
              FROM th CROSS JOIN range(0, 64) r(b) GROUP BY doc_id, b),
            sig AS (SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
                    FROM bitsums GROUP BY doc_id),
            chunks AS (SELECT doc_id, simhash, c, (simhash >> (c * 16)) & 65535 AS ck
                       FROM sig CROSS JOIN range(0, 4) r(c)),
            pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                             CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
                      FROM chunks x JOIN chunks y
                        ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id)
            SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b"""))

  // ---------------------------------------------------- n-gram Jaccard (exact)
  /** Exact n-gram Jaccard pairs ≥ threshold. Candidate generation is the
    * df-capped shared-shingle join ([[dfCappedCandidates]] — hot
    * boilerplate shingles never reach the pairing shuffle); the Jaccard
    * itself (intersection count and both size denominators) is computed
    * over ALL shingles of each candidate pair, so values are exact and
    * the output matches the uncapped plan (and the uncapped DuckDB
    * oracle) whenever every true ≥-threshold pair shares a sub-cap
    * shingle — asserted by DedupCapSpec and hash-checked per round. */
  val ngramJaccard = Q(
    "d04_ngram_jaccard",
    (s, d) => {
      corpusCappedJaccard(s, d)
        .filter(col("jaccard") >= 0.12)
    },
    // The oracle mirrors the df-cap (`dfq` + `n_rare > 0`): a pair
    // qualifies only on ≥1 shared sub-cap shingle while the Jaccard stays
    // exact over ALL shingles — the executed capped semantics at any df
    // distribution, not just corpora where max df < cap.
    Some(s"""WITH sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                  ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                FROM (
                  SELECT doc_id,
                    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '') AS ts
                  FROM documents),
                UNNEST(range(1, len(ts) - 1)) AS r(i))),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                        JOIN dfq f ON f.shingle = x.shingle
              GROUP BY 1, 2)
            SELECT a, b,
              round(CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE n_rare > 0
              AND round(CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.12
            ORDER BY a, b"""))

  // ------------------------------------------------------- embedding cosine
  /** Embedding near-dup pairs: cosine ≥ threshold — **exact**, via IVF
    * cells + spherical triangle-inequality cell-pair pruning. The corpus
    * never reaches the driver.
    *
    * Algorithm (all corpus-sized work stays distributed):
    *  1. Build an `nCells` codebook with [[Similarity.refineCodebook]]
    *     (spherical k-means; the only collects are codebook-sized —
    *     nCells vectors — never the corpus).
    *  2. Assign every vector to its nearest cell and record its angle to
    *     the centroid; per-cell radius r_i = max angle (a tiny
    *     nCells-row aggregate).
    *  3. Candidate cell pairs: by the triangle inequality on the unit
    *     sphere, θ(a,b) ≥ θ(c_i,c_j) − θ(a,c_i) − θ(b,c_j), so any pair
    *     with θ(a,b) ≤ θ_t must live in cells with
    *     θ(c_i,c_j) ≤ θ_t + r_i + r_j. Cell pairs failing that bound are
    *     pruned with **zero recall loss** — this is exact for ANY data
    *     distribution, unlike probabilistic LSH banding. (Slack is added
    *     for the round-to-6 boundary and acos rounding; slack only ever
    *     ADDS candidate cells.)
    *  4. Exact cosine verify on the surviving cell-pair blocks (same
    *     codegen'd `vec_dot` arithmetic as s01, which hash-matches the
    *     same DuckDB oracle formulation).
    *
    * At 100 TB: the corpus shuffles once keyed by cell; the verify join
    * is cell-pair-blocked, so compute ∝ Σ |cell_i|·|cell_j| over pairs
    * that survive the bound — near-linear on clustered embeddings (tight
    * radii prune almost everything), degrading gracefully toward blocked
    * all-pairs on adversarially uniform data while never losing a pair.
    */
  def embeddingPairs(spark: SparkSession, d: String, threshold: Double,
      nCells: Int = 16, kmeansIters: Int = 3): DataFrame = {
    import spark.implicits._
    val ev = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    embeddingPairsFrom(ev, threshold, nCells, kmeansIters)._1
  }

  /** acos clamped to its domain: a dot of unit vectors can land a rounding
    * step outside [-1, 1]. */
  private def clampAcos(x: Double): Double = math.acos(math.max(-1.0, math.min(1.0, x)))

  /** The triangle-inequality candidate test, as pure driver-side math over
    * codebook-sized inputs: ordered cell pairs (i, j) that can possibly
    * hold a doc pair with cosine ≥ threshold (see [[embeddingPairsFrom]]).
    * Exposed for the pruning spec — on clustered data this list is far
    * shorter than nCells². */
  def candidateCellPairs(
      codebook: Array[(Int, Array[Double])],
      radii: Map[Int, Double],
      threshold: Double): Seq[(Int, Int)] = {
    import Similarity.dotd
    // θ_t with slack: round6(cos) ≥ t admits raw cos down to t − 5e-7, and
    // acos on doubles carries rounding error near ±1 — both slacks only
    // widen the candidate set, never narrow it.
    val thetaT = clampAcos(threshold - 1e-6)
    for {
      (ci, vi) <- codebook.toSeq
      (cj, vj) <- codebook.toSeq
      if clampAcos(dotd(vi, vj)) <=
        thetaT + radii.getOrElse(ci, 0.0) + radii.getOrElse(cj, 0.0) + 1e-6
    } yield (ci, cj)
  }

  /** Core of d05 over an arbitrary (id, vector) dataset; returns the result
    * plus the surviving candidate cell-pair count (pruning evidence —
    * OperatorSpec plants tight clusters and asserts the count collapses
    * while the output stays exactly the brute-force pair set). */
  def embeddingPairsFrom(
      ev: org.apache.spark.sql.Dataset[(Long, Array[Float])],
      threshold: Double, nCells: Int, kmeansIters: Int): (DataFrame, Int) = {
    val spark = ev.sparkSession
    import spark.implicits._
    import Similarity.{dotd, unit}
    // Seeds = the TRUE nCells lowest ids (TakeOrdered — an nCells-row
    // collect at any corpus size; `ev.columns.head` is the id column in
    // both call shapes, named or `_1`), not an `id < nCells` literal: a
    // sparse-id corpus must still seed a full codebook.
    val seeds = ev.orderBy(col(ev.columns.head)).limit(nCells).collect()
      .sortBy(_._1).map { case (id, v) => (id.toInt, unit(v)) }
    val codebook = Similarity.refineCodebook(spark, ev, seeds, kmeansIters)
    val bc = spark.sparkContext.broadcast(codebook)
    // Cell assignment (same nearest-centroid tie-break as s04) + angle to
    // the assigned centroid. Materialized once: read by the radius agg and
    // both sides of the verify join.
    val celled = ev.map { case (id, v) =>
      val uv = unit(v)
      val (cell, sim) = bc.value
        .map { case (cid, c) => (cid, dotd(uv, c)) }
        .maxBy { case (cid, s) => (s, -cid) }
      (cell, id, v, clampAcos(sim))
    }.toDF("cell", "vec_id", "embedding", "theta_c")
      // The embeddings table can be a single file (it is in testdata) —
      // spread the checkpointed blocks so the verify join's probe side
      // runs on every core instead of one. Guarded on the INPUT's own
      // partition count (round 17): at scale the scan already yields
      // ≥ cores splits and the repartition would shuffle the full vector
      // payload for nothing (guide §2.4).
      .transform(spreadIfNarrow(ev.rdd.getNumPartitions))
      .localCheckpoint()
    val radii = celled.groupBy("cell").agg(max("theta_c").as("r"))
      .as[(Int, Double)].collect().toMap // nCells rows — codebook-sized
    val cellPairs = candidateCellPairs(codebook, radii, threshold)
    // All ordered (cell_a, cell_b) pairs (incl. i==j) + the a<b filter give
    // each qualifying doc pair exactly once.
    val cp = cellPairs.toDF("cell_a", "cell_b")
    // Norms precomputed once per side (n rows each) so the O(candidates)
    // hot loop does ONE vec_dot per pair instead of three — dot/(na·nb)
    // is the same double arithmetic as cosine(), bit-identical results.
    val a = celled.select(col("cell").as("cell_a"), col("vec_id").as("a"),
      col("embedding").as("ea"), VectorFns.norm(col("embedding")).as("na"))
    val b = celled.select(col("cell").as("cell_b"), col("vec_id").as("b"),
      col("embedding").as("eb"), VectorFns.norm(col("embedding")).as("nb"))
    val result = a.join(broadcast(cp), Seq("cell_a"))
      .join(b, Seq("cell_b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(VectorFns.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    (result, cellPairs.size)
  }

  val embedding = Q(
    "d05_dedup_embedding",
    (s, d) => embeddingPairs(s, d, 0.35),
    Some("""SELECT a.vec_id AS a, b.vec_id AS b,
            round(list_cosine_similarity(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
            ORDER BY a, b"""))

  // ------------------------------------------------- dedup cluster assembly
  /** The driver/distributed cutover of connected components: an edge
    * list of at most this many rows (~3 MB) is solved on the driver. */
  private val DriverEdgeCap = 200000L

  /** Union-find over the edge list `pairs(a, b)` on the driver, when it
    * holds at most `cap` edges: Some((vertex, label)) sorted by vertex,
    * None over the cap (the caller's distributed arm). The size check is
    * a LIMIT-(cap+1) collect, not count()-then-collect(): one job, at
    * most cap+1 rows ever reach the driver, and in the common small-graph
    * case the probe already IS the edge list. Union-by-min-root + path
    * compression makes each label the component minimum — the label the
    * distributed propagation converges to. */
  private def driverComponents(pairs: DataFrame, cap: Long): Option[Seq[(Long, Long)]] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col("a").cast("long"), col("b").cast("long"))
      .limit(cap.toInt + 1)
      .as[(Long, Long)].collect()
    if (edges.length > cap) return None
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Some(parent.keys.toSeq.sorted.map(v => (v, find(v))))
  }

  /** Distributed connected components over an undirected edge list
    * `(a, b)` — one row per vertex with its component label (the component
    * minimum). Min-label propagation with path halving; see
    * [[dedupClusters]] for the algorithmic notes. `pairs` should be
    * materialized (checkpointed) by the caller — every round joins it.
    * Property-tested against in-memory union-find on random graphs. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50,
      driverThreshold: Long = DriverEdgeCap): DataFrame = {
    val idType = pairs.schema("a").dataType
    // Size-adaptive: the edge list is the LSH+verify-gated near-dup pair
    // set — tiny relative to the corpus in healthy data, corpus-scale only
    // when duplication is rampant. Below `driverThreshold` edges a driver
    // union-find solves the graph exactly in one pass instead of O(log d)
    // shuffle rounds × 3 jobs each; above it, the distributed loop runs.
    val spark = pairs.sparkSession
    import spark.implicits._
    driverComponents(pairs, driverThreshold) match {
      // Keep this a Seq.toDF (LocalRelation), NOT sc.parallelize: a
      // LocalRelation carries exact size statistics, so every downstream
      // keep-verdict join auto-broadcasts the label table (and a broadcast
      // of a LocalTableScan is job-free — executeCollect returns the rows
      // without launching tasks). An ExistingRDD would hide the size and
      // silently degrade those joins to SortMergeJoin (caught by
      // CorpusStatsSpec's plan-shape assertion in round 17).
      case Some(labels) =>
        return labels.toDF("doc_id", "label").select(
          col("doc_id").cast(idType).as("doc_id"), col("label").cast(idType).as("label"))
      case None =>
    }
    // Undirected edge list, both directions — two projections of the
    // materialized pair RDD, no separate checkpoint needed.
    val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      // Candidate label per doc: min over neighbors' labels and its own.
      // `old` (the doc's current label, null on neighbor rows) survives the
      // aggregate via max(), giving the change count from the same pass.
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("doc_id", "b"), "b")
        .select(col("a").as("doc_id"), col("label"), lit(null).cast(idType).as("old"))
      val self = labels.select(col("doc_id"), col("label"), col("label").as("old"))
      // Materialized before the jump join reads it twice (both sides).
      val oneHop = self.unionAll(viaNeighbors)
        .groupBy("doc_id").agg(min("label").as("label"), max("old").as("old"))
        .localCheckpoint()
      // Path halving: follow the label pointer one more step. labels form a
      // forest rooted at component minima (label(v) ≤ v), so the parent row
      // always exists; `least` + left join keep the step safe regardless.
      val parents = oneHop.select(col("doc_id").as("__p"), col("label").as("__plabel"))
      val jumped = oneHop.join(parents, col("label") === col("__p"), "left")
        .select(
          col("doc_id"),
          least(col("label"), coalesce(col("__plabel"), col("label"))).as("label"),
          col("old"))
        .localCheckpoint()
      val changed = jumped.filter(col("label") =!= col("old")).count()
      // Round k-1's labels and the oneHop intermediate are dead once k is
      // live; reassigning `labels` (and oneHop going out of scope) drops
      // their last references and ContextCleaner frees the blocks — see
      // the checkpoint-lifetime note at the top of this object.
      labels = jumped.select("doc_id", "label")
      converged = changed == 0
      iter += 1
    }
    require(converged,
      s"connectedComponents: label propagation did not converge in $maxIters rounds " +
        "(runaway guard; with path halving this bounds components of diameter ~2^$maxIters)")
    labels
  }

  /** Connected components over the near-dup pair graph by min-label
    * propagation with **path halving**: each round every doc takes the min
    * label among itself and its neighbors (one hop), then jumps to its
    * label's own label (label(label(v)) — a second hop along the pointer
    * forest for free). The jump makes label trees collapse geometrically,
    * so the loop converges in O(log diameter) rounds instead of
    * O(diameter) — on a chain of 2^k near-dups that is k rounds, not 2^k.
    * The loop runs **until the change count hits zero** (bounded by
    * `maxIters` purely as a runaway guard — exceeding it throws rather
    * than silently returning split components).
    *
    * Each round's result is `localCheckpoint`ed: truncating the lineage is
    * what makes the iteration scale — without it round k re-analyzes (and
    * under recomputation re-executes) the whole LSH pipeline plus k-1
    * rounds of joins. Once round k is materialized, round k-1's checkpoint
    * blocks lose their last driver reference and ContextCleaner reclaims
    * them (see the checkpoint-lifetime note above — an explicit unpersist
    * of lineage-truncated blocks is a recompute hazard). The old label rides
    * through the group-by so the convergence check costs no extra join. At
    * cluster scale the same loop runs with reliable checkpointing; the
    * shape is identical.
    * Output: one row per document in a multi-doc cluster, with its cluster
    * representative (min doc_id). Rows-only check (iterative, not SQL).
    */
  def dedupClusters(spark: SparkSession, d: String, threshold: Double,
      maxIters: Int = 50): DataFrame =
    corpusClusterTable(spark, d, threshold, maxIters)

  def dedupClustersFrom(docs: DataFrame, threshold: Double,
      maxIters: Int = 50): DataFrame =
    clustersFromPairs(minhashPairsFrom(docs, threshold)
      .select(col("a"), col("b")).localCheckpoint(), maxIters)

  /** The cluster-table tail (CC + component rollup) over an already-
    * materialized verified-pair edge list. */
  private def clustersFromPairs(pairs: DataFrame, maxIters: Int): DataFrame = {
    val labels = connectedComponents(pairs, maxIters)
    labels
      .groupBy("label").agg(collect_list("doc_id").as("ids"), count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)
      .select(
        col("label").as("cluster_rep"),
        explode(col("ids")).as("doc_id"),
        col("cluster_size"))
  }

  /** d06 oracle: the d02 pipeline's verified pairs, closed transitively by
    * a recursive CTE (DuckDB's answer to the distributed label-propagation
    * loop — fine at oracle scale, not a 100 TB strategy). */
  val clusters = Q(
    "d06_dedup_clusters",
    (s, d) => dedupClusters(s, d, 0.5),
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            clusters AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
                         FROM labels GROUP BY label HAVING count(*) > 1)
            SELECT l.label AS cluster_rep, l.doc_id, c.cluster_size
            FROM labels l JOIN clusters c USING (label)
            ORDER BY cluster_rep, doc_id"""))

  // ------------------------------------------------------ keep-list capstone
  /** The pipeline's final dedup *decision*: one row per document with the
    * keep/drop verdict and why — exact duplicates (same normalized text,
    * non-minimal doc_id) drop first, then near-duplicate cluster members
    * that are not their cluster's representative. This is the list a
    * training run actually consumes; everything upstream (d01–d06) exists
    * to produce it. Plan shape: the exact-dup verdict is computed INLINE
    * from the fingerprint window already being evaluated (`doc_id =!=
    * min(doc_id) over (partition by fp)`) — no self-join, no drop-list
    * materialization at all. Only the near-dup leg joins, un-hinted, so
    * AQE sizes it at runtime: on typical corpora cluster members are
    * small and AQE broadcasts; on a dup-heavy crawl (30–50% duplicates is
    * normal for raw web data — the workload dedup exists FOR) the drop
    * set is corpus-fraction-sized and AQE falls back to a shuffle join
    * instead of detonating an 8-GB broadcast build. A hard `broadcast()`
    * hint here was round 15's one scale flaw: it promised "drop sets ≪
    * corpus" at plan time, which is false precisely on the corpora this
    * operator targets.
    */
  def keepList(spark: SparkSession, d: String, threshold: Double): DataFrame =
    keepListCore(Tables.documents(spark, d), corpusClusterTable(spark, d, threshold, 50))

  def keepListFrom(docs: DataFrame, threshold: Double): DataFrame =
    keepListCore(docs, dedupClustersFrom(docs, threshold))

  private def keepListCore(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val verdict = docs
      .select(col("doc_id"), md5(normText(col("text"))).as("fp"))
      .withColumn("is_exact_dup", col("doc_id") =!= min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .select(col("doc_id"), col("is_exact_dup"))
    val nearDrop = clusters
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"), lit(true).as("is_near_dup"))
    verdict
      .join(nearDrop, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("is_exact_dup"), lit("exact_dup"))
          .when(coalesce(col("is_near_dup"), lit(false)), lit("near_dup"))
          .otherwise(lit("keep")).as("reason"))
      .select(
        col("doc_id"),
        (col("reason") === "keep").as("keep"),
        col("reason"))
  }

  val keep = Q(
    "d07_dedup_keep_list",
    (s, d) => keepList(s, d, 0.5),
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            fp AS (
              SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
              FROM documents),
            exact_drop AS (
              SELECT doc_id FROM (
                SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS keep_id FROM fp)
              WHERE doc_id <> keep_id),
            near_drop AS (SELECT doc_id FROM labels WHERE doc_id <> label)
            SELECT d.doc_id,
              (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
              CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                   WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                   ELSE 'keep' END AS reason
            FROM documents d
            LEFT JOIN exact_drop e ON e.doc_id = d.doc_id
            LEFT JOIN near_drop n ON n.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  /** d07's verdict tail (verified pairs → recursive closure → labels →
    * fp window → drop sets → per-doc reason), suffix-parameterized so
    * d37 evaluates it for two releases in one oracle query. `reach$x` is
    * recursive — the enclosing query must open WITH RECURSIVE. */
  private def keepVerdictCtesFor(src: String, x: String): String =
    s"""pairs$x AS (
          SELECT a, b
          FROM inter$x JOIN sizes$x sa ON sa.doc_id = a JOIN sizes$x sb ON sb.doc_id = b
          WHERE round(CAST(n_common AS DOUBLE) /
                      CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
        edges$x AS (SELECT a, b FROM pairs$x UNION ALL SELECT b, a FROM pairs$x),
        reach$x(a, b) AS (
          SELECT a, b FROM edges$x
          UNION
          SELECT r.a, e.b FROM reach$x r JOIN edges$x e ON r.b = e.a),
        labels$x AS (
          SELECT a AS doc_id, min(b) AS label
          FROM (SELECT a, b FROM reach$x UNION ALL SELECT DISTINCT a, a FROM edges$x)
          GROUP BY a),
        fp$x AS (
          SELECT doc_id,
            md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
          FROM $src),
        exact_drop$x AS (
          SELECT doc_id FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS keep_id FROM fp$x)
          WHERE doc_id <> keep_id),
        near_drop$x AS (SELECT doc_id FROM labels$x WHERE doc_id <> label),
        verdict$x AS (
          SELECT d.doc_id,
            CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                 WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                 ELSE 'keep' END AS reason
          FROM $src d
          LEFT JOIN exact_drop$x e ON e.doc_id = d.doc_id
          LEFT JOIN near_drop$x n ON n.doc_id = d.doc_id)"""

  /** d37: the release-to-release VERDICT-FLIP report — what an operator
    * actually reviews when the next wave lands: for every document in the
    * new release, its keep verdict now vs in the previous release
    * (`absent` for wave documents), rolled up to the flip matrix. Flips
    * are structural, not incidental: a wave document with a LOWER doc_id
    * than an existing copy steals the fingerprint window's min, flipping
    * the old `keep` to `exact_dup` (the reverse flip is impossible — the
    * old winner stays in the corpus); near-dup clusters can grow (`keep`
    * → `near_dup`); and the band-bucket cap is a total-population
    * function, so a filling bucket can cross the cap and RETRACT
    * candidates (`near_dup` → `keep`). The report makes those shifts
    * visible and bounded instead of silent — the same cap-regression
    * alarm role p19 plays for footprint, at verdict grain.
    *
    * Base release = doc_id % 10 < 8 (deterministic, engine-independent);
    * the wave is the remaining 20%. Both verdicts run the SAME kernel
    * (band-bucket-capped MinHash-LSH + fp window): the base side through
    * [[keepListFrom]] (population caps computed on the base corpus — a
    * release's caps are its own population's), the current side through
    * the memoized [[keepList]]. Scale shape: two keep-verdict plans
    * (d07's — inline fp-window verdict, AQE-sized near-dup join) and one
    * doc-grain left join rolled up to ≤ 4×3 rows.
    *
    * Oracle: the full d07 SQL evaluated TWICE (suffix-parameterized CTE
    * chains over `documents` and the base slice), joined on doc_id. */
  /** The d37 composition over explicit verdict frames (both
    * (doc_id, ..., reason)-shaped): `after` is the current release's
    * verdict, `before` the previous release's — each computed with its
    * OWN population's caps (a release's caps are its population's). */
  def releaseDeltaFrom(after: DataFrame, before: DataFrame): DataFrame =
    after.select(col("doc_id"), col("reason").as("reason_after"))
      .join(before.select(col("doc_id"), col("reason").as("reason_before")),
        Seq("doc_id"), "left")
      .groupBy(
        coalesce(col("reason_before"), lit("absent")).as("reason_before"),
        col("reason_after"))
      .agg(count(lit(1)).as("n_docs"))

  /** The previous release's verdict table, memoized: in production the
    * prior release's keep list IS a stored artifact (you read it, you
    * don't re-run its kernel), so the session memo carries it the same
    * way — one ledgered build of the base-population kernel per (session,
    * corpus), then d37 runs at join+rollup marginal cost. */
  private def baseReleaseVerdict(spark: SparkSession, d: String,
      threshold: Double): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"baseVerdict@$threshold") {
      // Round 17: the base-release kernel's PER-DOC stages (shingles,
      // signatures, band rows) filter from the shared corpus memos — a
      // doc's shingles/sig/bands depend only on its own text, so the
      // filtered shared tables ARE the slice's tables (the established
      // filter-of-shared pattern; d37's oracle runs the full kernel
      // CTEs on the slice and re-proves the composition every run).
      // POPULATION-dependent stages stay on the slice, which is their
      // own-population semantics: bucket caps + candidate generation
      // (from the filtered band table), the exact-Jaccard verify, the
      // component closure, and the fp window. Round 16 re-ran the
      // whole pipeline — tokenize/shingle/sig included — on the 80%
      // slice; that was the single biggest corpus memo build.
      val base = col("doc_id") % 10 < 8
      val docsB = Tables.documents(spark, d).filter(base)
      val hsB = corpusShingleHashes(spark, d).filter(base)
      val candsB = lshCandidatesFromBanded(corpusBanded(spark, d).filter(base))
      val pairsB = jaccardPairsHashed(hsB, Some(candsB))
        .filter(col("jaccard") >= threshold)
        .select(col("a"), col("b")).localCheckpoint()
      keepListCore(docsB, clustersFromPairs(pairsB, 50))
    }

  val releaseDelta = Q(
    "d37_release_delta_report",
    (s, d) => releaseDeltaFrom(
      keepList(s, d, 0.5), baseReleaseVerdict(s, d, 0.5)),
    Some(s"""WITH RECURSIVE
            docs_b AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
            ${minhashKernelCtesFor("documents", "", withLanes = true)},
            ${keepVerdictCtesFor("documents", "")},
            ${minhashKernelCtesFor("docs_b", "_b", withLanes = false)},
            ${keepVerdictCtesFor("docs_b", "_b")}
            SELECT coalesce(vb.reason, 'absent') AS reason_before,
              va.reason AS reason_after,
              CAST(count(*) AS BIGINT) AS n_docs
            FROM verdict va
            LEFT JOIN verdict_b vb ON vb.doc_id = va.doc_id
            GROUP BY 1, 2
            ORDER BY 1, 2"""))

  // ------------------------------------------------------- graph analytics
  /** Triangles in the near-dup graph — three documents pairwise similar,
    * the signature of a densely-duplicated template (boilerplate, mirrored
    * pages) rather than a one-off copy. Edge list is oriented (a < b), so
    * each triangle x<y<z matches exactly once via two equi-joins — the
    * standard distributed triangle enumeration; no DISTINCT pass, and the
    * edge list (already LSH+Jaccard-gated, tiny vs the corpus) is
    * materialized once and reused by all three join legs.
    */
  def nearDupTriangles(spark: SparkSession, d: String, threshold: Double): DataFrame = {
    val e = minhashPairs(spark, d, threshold)
      .select(col("a"), col("b")).localCheckpoint()
    e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
  }

  val triangles = Q(
    "d08_neardup_triangles",
    (s, d) => nearDupTriangles(s, d, 0.5),
    Some(s"""WITH $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5)
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM pairs e1
            JOIN pairs e2 ON e2.a = e1.b
            JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
            ORDER BY x, y, z"""))

  // --------------------------------------------------- incremental delta dedup
  /** Incremental dedup: classify a DELTA of new documents against an
    * existing corpus **without recomputing the corpus** — the production
    * daily-ingest shape ("yesterday's corpus is immutable, today's batch
    * gets keep/drop verdicts").
    *
    * Scale design: the delta is small relative to the corpus, so every
    * delta-derived table (fingerprints, band buckets, candidate doc ids)
    * BROADCASTS; the corpus contributes one fingerprint scan and one
    * shingle/signature pass probed map-side (in production the corpus band
    * index and shingle store are persisted artifacts, so even that pass
    * amortizes away — the cost model is O(delta) + probes). Corpus shingles
    * enter the verify join only for docs that banded with the delta
    * (semi-join first), so the verify shuffle is candidate-sized. The
    * near-dup decision runs connected components over the delta-adjacent
    * pair graph only — with "existing corpus wins" semantics: a delta doc
    * drops if its component touches any corpus doc, else the min-id delta
    * doc of the component keeps.
    *
    * When every corpus doc_id precedes every delta doc_id (the natural
    * append ordering), the verdicts are EXACTLY `keepListFrom(corpus ∪
    * delta)` restricted to the delta — the d10 oracle and OperatorSpec
    * assert that equivalence.
    */
  def incrementalKeepList(corpus: DataFrame, delta: DataFrame,
      threshold: Double): DataFrame =
    incrementalKeepListFrom(
      corpus.select(md5(normText(col("text"))).as("fp")),
      // Candidate-doc shingle provider: filter the corpus BEFORE
      // tokenizing — the verify stage needs shingles for the (few)
      // candidate docs only, so shingling the whole corpus for it (and
      // materializing the result) was the single biggest cost of the
      // recompute path. The band build below still tokenizes the corpus
      // once, lazily, inside the candidate job.
      ids => hashedShingles(shingleSets(
        corpus.join(broadcast(ids), Seq("doc_id"), "leftsemi"))),
      // Checkpointed: the band-cap census (bucket populations over
      // corpus ∪ delta) and the candidate probe are two structurally
      // different consumers — without the checkpoint each would re-run
      // the whole corpus signature pipeline. The indexed path reads the
      // same table from parquet instead (two cheap scans).
      bandBuckets(signaturesFromHashes(hashedShingles(shingleSets(corpus))))
        .localCheckpoint(),
      delta, threshold)

  /** (doc_id, band, bucket) LSH band buckets of a signature table — the
    * probe-able form of the index. */
  def bandBuckets(sigs: DataFrame): DataFrame = {
    val bucketArr = array((0 until Bands).map(b =>
      xxhash64(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand), lit(b))): _*)
    sigs.select(col("doc_id"), posexplode(bucketArr).as(Seq("band", "bucket")))
  }

  /** Persist a corpus's dedup index — fingerprints, hashed shingles, LSH
    * band buckets — as parquet the incremental path can probe WITHOUT
    * touching the corpus text again. This is the production steady state:
    * the index is written once per corpus build (one tokenize pass,
    * amortized), and every day's delta probes it from disk. */
  /** The kernel constants a persisted dedup index bakes in: a probe
    * against an index built under DIFFERENT banding/cap constants would
    * silently generate a different candidate set, so the index manifest
    * pins them and [[incrementalKeepListIndexed]] refuses a mismatch. */
  private def dedupIndexParams: Seq[(String, String)] = Seq(
    "num_perms" -> NumPerms.toString,
    "bands" -> Bands.toString,
    "band_bucket_cap" -> BandBucketCap.toString,
    "shingle_n" -> ShingleN.toString)

  def writeDedupIndex(corpus: DataFrame, path: String): Unit = {
    val cHs = materializedShingleHashes(corpus)
    corpus.select(md5(normText(col("text"))).as("fp"))
      .write.mode("overwrite").parquet(s"$path/fp")
    cHs.write.mode("overwrite").parquet(s"$path/shingles")
    val bands = bandBuckets(signaturesFromHashes(cHs)).localCheckpoint()
    bands.write.mode("overwrite").parquet(s"$path/bands")
    // Per-bucket populations, precomputed at index build: every delta's
    // cap check joins against these counts instead of re-aggregating the
    // (corpus-scale) band rows — the index-side half of the bucket cap.
    bands.groupBy("band", "bucket").agg(count(lit(1)).as("cn"))
      .write.mode("overwrite").parquet(s"$path/band_counts")
    // Manifest LAST (the commit marker, the ReleaseArtifacts contract):
    // kernel constants only — no corpus stamp, because the index is the
    // production form where the corpus text may no longer exist.
    val p = new org.apache.hadoop.fs.Path(path, "_manifest.json")
    val fs = p.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(dedupIndexParams
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      .getBytes("UTF-8"))
    finally out.close()
  }

  /** Incremental keep-list probing a PERSISTED index (see
    * [[writeDedupIndex]]): the corpus contributes three parquet scans —
    * fingerprints (semi-joined against the broadcast delta fps), band
    * buckets (probed by the broadcast delta buckets), and shingles
    * (semi-joined down to banded candidates before the verify join). The
    * corpus text is never read. Asserted ≡ the recompute path in
    * OperatorSpec. */
  def incrementalKeepListIndexed(spark: SparkSession, indexPath: String,
      delta: DataFrame, threshold: Double): DataFrame = {
    // Refuse an index frozen under different kernel constants (a probe
    // would silently derive a different candidate set). A manifest-less
    // index predates the manifest: warn and proceed — the legacy-layout
    // compromise, same as the release view's.
    val mPath = new org.apache.hadoop.fs.Path(indexPath, "_manifest.json")
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(mPath)) {
      val in = fs.open(mPath)
      val json =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      dedupIndexParams.foreach { case (f, want) =>
        val got = ("\"" + f + "\":([-0-9.eE]+)").r.findFirstMatchIn(json)
          .map(_.group(1)).getOrElse(throw new IllegalStateException(
            s"dedup index manifest at $indexPath missing '$f': $json"))
        if (got != want)
          throw new IllegalStateException(
            s"dedup index at $indexPath was built under $f=$got but the " +
            s"current kernel uses $f=$want — rebuild the index (or pin the " +
            "kernel) before probing")
      }
    } else
      System.err.println(s"[dedup] index at $indexPath has no manifest " +
        "(pre-manifest build) — kernel-constant match is UNCHECKED; " +
        "rebuild with writeDedupIndex to pin it")
    incrementalKeepListFrom(
      spark.read.parquet(s"$indexPath/fp"),
      ids => spark.read.parquet(s"$indexPath/shingles")
        .join(broadcast(ids), Seq("doc_id"), "leftsemi"),
      spark.read.parquet(s"$indexPath/bands"),
      delta, threshold,
      cBandCounts = Some(spark.read.parquet(s"$indexPath/band_counts")))
  }

  /** @param cShingles corpus shingle provider: given a (doc_id) set of
    *                  candidate docs, returns their (doc_id, sh_h) rows —
    *                  a filtered parquet scan in the indexed path, a
    *                  filter-then-tokenize in the recompute path. Taking a
    *                  provider instead of the full shingle table keeps the
    *                  verify stage O(candidates) in both. */
  private def incrementalKeepListFrom(cFp: DataFrame,
      cShingles: DataFrame => DataFrame,
      cBands: DataFrame, delta: DataFrame, threshold: Double,
      deltaShingles: Option[DataFrame] = None,
      cBandCounts: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ---- exact stage: delta fp vs corpus fps (corpus never shuffles —
    // semi-join against the broadcast delta fp set), plus delta-internal
    // min-id-wins window over the (small) delta.
    //
    // The two independent delta materializations — the exact gate's
    // fingerprints and the near gate's band table — are submitted
    // CONCURRENTLY (separate action threads; Spark schedules both job
    // DAGs onto the same executor pool), collapsing two serial driver
    // barriers into one. Everything downstream needs one or both, so
    // this is the only overlap the dependency graph allows. The future
    // runs on the dedicated [[graft.ConcurrentActions]] pool (not
    // ExecutionContext.global, whose lazily-created threads permanently
    // inherit the first caller's Spark local properties), claims its own
    // job group so the checkpoint job is attributed to itself and
    // cancellable, the await is BOUNDED (a wedged job surfaces as a
    // timeout instead of hanging the driver forever), and a failure on
    // the main thread cancels the orphaned job instead of letting it
    // keep consuming executors unobserved.
    val sc = delta.sparkSession.sparkContext
    val dFpGroup = "graft-d10-delta-fp-" + java.util.UUID.randomUUID()
    val dFpF = scala.concurrent.Future {
      sc.setJobGroup(dFpGroup, "d10: concurrent delta-fingerprint checkpoint",
        interruptOnCancel = true)
      try delta.select(col("doc_id"), md5(normText(col("text"))).as("fp"))
        .localCheckpoint()
      finally sc.clearJobGroup()
    }(graft.ConcurrentActions.ec)
    val dHs = deltaShingles.getOrElse(hashedShingles(shingleSets(delta)))
    val (dBanded, dFp) = try {
      val banded = bandBuckets(signaturesFromHashes(dHs)).localCheckpoint()
      val fp = scala.concurrent.Await.result(dFpF,
        scala.concurrent.duration.Duration(1, java.util.concurrent.TimeUnit.HOURS))
      (banded, fp)
    } catch {
      case e: Throwable => sc.cancelJobGroup(dFpGroup); throw e
    }
    val dupFps = cFp
      .join(broadcast(dFp.select("fp").distinct()), Seq("fp"), "leftsemi")
      .distinct()
    val exactDrop = dFp.join(broadcast(dupFps), Seq("fp")).select("doc_id")
      .unionAll(
        dFp.withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
          .filter(col("doc_id") =!= col("keep_id")).select("doc_id"))
      .distinct()
    // ---- near stage: delta bands probe the corpus band index + delta-delta
    // LSH; exact-Jaccard verify on candidate docs' shingles only. The delta
    // band table (materialized above, concurrently with dFp) is built ONCE
    // and serves both the corpus-index probe and the delta-delta self-join
    // (the signature aggregate it embeds is the expensive part;
    // checkpointing the signatures AND the bands separately was one
    // materialization job too many). The delta shingles stay lazy —
    // tokenizing the (small) delta twice is cheaper than a dedicated
    // materialization job.
    // BandBucketCap, incremental form: the recompute path caps on bucket
    // population over corpus ∪ delta, so the probe must too (the d10
    // oracle IS the equivalence claim). Only delta-touched buckets can
    // produce delta-adjacent candidates, so corpus populations are counted
    // AFTER a semi-join against the (broadcast) delta bucket set — a
    // corpus-hot bucket the delta lands in costs one linear COUNT, never a
    // wave × corpus candidate materialization; buckets the delta never
    // touches are never counted. okBuckets is delta-bucket-sized →
    // broadcastable.
    val dCnt = dBanded.groupBy("band", "bucket").agg(count(lit(1)).as("dn"))
    // Resident populations: when the index ships precomputed per-bucket
    // counts (`cBandCounts` — written once at index build/append), the
    // wave's cap check reads the delta-touched slice of that table
    // instead of re-counting corpus band rows per delta; at 100 TB the
    // resident recount was the only wave-independent cost left in the
    // gate. The recompute path still counts (no stored index to read).
    val cCnt = cBandCounts match {
      case Some(cn) => cn
        .join(broadcast(dCnt.select("band", "bucket")), Seq("band", "bucket"), "leftsemi")
      case None => cBands
        .join(broadcast(dCnt.select("band", "bucket")), Seq("band", "bucket"), "leftsemi")
        .groupBy("band", "bucket").agg(count(lit(1)).as("cn"))
    }
    // okBuckets stays LAZY: its only consumers are the two dOk broadcast
    // semi-joins inside the one `cands` materialization below, where the
    // identical broadcast subplans collapse into a ReusedExchange — a
    // dedicated checkpoint job bought nothing (round-15 job-count fold).
    val okBuckets = dCnt.join(cCnt, Seq("band", "bucket"), "left")
      .filter(coalesce(col("cn"), lit(0L)) + col("dn") <= lit(BandBucketCap.toLong))
      .select("band", "bucket")
    val dOk = dBanded.join(broadcast(okBuckets), Seq("band", "bucket"), "leftsemi")
    // One distinct AFTER the union — pre-distincting each branch would add
    // an exchange (and an AQE stage job) per branch for rows the final
    // distinct re-shuffles anyway. Candidate distinctness itself is load-
    // bearing: the verify join counts (a, b, sh_h) rows, so a duplicate
    // pair would double-count its intersection.
    val crossCands = cBands
      .join(broadcast(dOk
        .select(col("band"), col("bucket"), col("doc_id").as("b"))), Seq("band", "bucket"))
      .select(col("doc_id").as("a"), col("b"))
    val deltaDelta = dOk.as("x")
      .join(dOk.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val cands = crossCands.unionAll(deltaDelta).distinct().localCheckpoint()
    // Candidate-pair-derived doc sets are LAZY: they re-derive from the
    // tiny cands checkpoint in a handful of map tasks, which is cheaper
    // than a dedicated materialization job each.
    val candCorpusDocs = cands
      .join(broadcast(dFp.select(col("doc_id").as("a"))), Seq("a"), "leftanti")
      .select(col("a").as("doc_id")).distinct()
    // The scoring shingle slice is candidate-filtered (few docs) and then
    // materialized ONCE: the verify join reads it three times (two sides +
    // set sizes), and each lazy read would re-scan the corpus shingle
    // source — a full index scan per reader at 100 TB.
    val hsScore = cShingles(candCorpusDocs).unionAll(dHs).localCheckpoint()
    // nearPairs stays LAZY: its only consumer is connectedComponents,
    // whose size probe collects the (tiny, verify-gated) edge list in one
    // job — a checkpoint would add a materialization job just to hand CC
    // an RDD it reads once.
    val nearPairs = jaccardPairsHashed(hsScore, Some(cands))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"))
    // ---- decide: components of the delta-adjacent graph; corpus wins.
    // Bounded-graph fast path (round 17): the near-pair edge list is
    // verify-gated — tiny on healthy corpora — so [[driverComponents]]
    // (connectedComponents' own driver arm) plus ONE bounded vertex-
    // classification semi-join runs the whole decide phase driver-side:
    // the distributed form spent ~8 tiny
    // jobs on broadcast builds over label tables this path has just proven
    // are ≤ cap rows. Identical math — union-by-min-root labels are the
    // component minima the propagation converges to; "vertex ∉ delta fp
    // ids" ≡ membership in candCorpusDocs (every b-side candidate is a
    // delta doc by construction, so a non-delta vertex is exactly an
    // a-side corpus doc); the keep rule is evaluated verbatim. Only the
    // bounded VERTEX set is ever collected or re-shipped — never the
    // delta, never the corpus. An over-cap graph (rampant duplication)
    // takes the distributed arm unchanged.
    val sparkD = delta.sparkSession
    import sparkD.implicits._
    val nearDrop: DataFrame = driverComponents(nearPairs, DriverEdgeCap) match {
      case Some(labels) =>
        val verts = labels.map(_._1)
        val deltaVerts: Set[Long] =
          if (verts.isEmpty) Set.empty
          else sparkD.sparkContext.parallelize(verts, 1).toDF("doc_id")
            .join(dFp.select("doc_id"), Seq("doc_id"), "leftsemi")
            .as[Long].collect().toSet
        val labelOf = labels.toMap
        val corpusLbls = verts.iterator.filterNot(deltaVerts).map(labelOf).toSet
        val reps = scala.collection.mutable.Map.empty[Long, Long]
        verts.iterator.filter(deltaVerts).foreach { v =>
          val l = labelOf(v)
          reps.update(l, math.min(reps.getOrElse(l, Long.MaxValue), v))
        }
        val dropIds = verts.iterator.filter(deltaVerts)
          .filter(v => corpusLbls.contains(labelOf(v)) || v != reps(labelOf(v)))
          .toSeq
        sparkD.sparkContext.parallelize(dropIds, 1).toDF("doc_id")
      case None =>
        val labels = connectedComponents(nearPairs)
        val corpusLabels = labels
          .join(broadcast(candCorpusDocs), Seq("doc_id"))
          .select(col("label")).distinct()
        val deltaLabels = labels
          .join(broadcast(dFp.select("doc_id")), Seq("doc_id"))
        val deltaReps = deltaLabels.groupBy("label").agg(min("doc_id").as("rep"))
        deltaLabels
          .join(broadcast(deltaReps), Seq("label"))
          .join(broadcast(corpusLabels.withColumnRenamed("label", "l")),
            col("label") === col("l"), "left")
          .filter(col("l").isNotNull || col("doc_id") =!= col("rep"))
          .select("doc_id").distinct()
    }
    // ONE broadcast verdict table instead of two (round-15 job fold):
    // exact-over-near precedence rides min(reason) — legal because
    // "exact_dup" < "near_dup" in the string order (pinned by the d10
    // oracle, whose CASE checks exact first). The final delta id list
    // reads the already-checkpointed dFp rather than re-scanning the
    // delta source.
    val drops = exactDrop.select(col("doc_id"), lit("exact_dup").as("reason"))
      .unionAll(nearDrop.select(col("doc_id"), lit("near_dup").as("reason")))
      .groupBy("doc_id").agg(min("reason").as("reason"))
    dFp.select(col("doc_id"))
      .join(broadcast(drops), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("reason").isNull.as("keep"),
        coalesce(col("reason"), lit("keep")).as("reason"))
  }

  val incremental = Q(
    "d10_incremental_keep",
    (s, d) => {
      val docs = Tables.documents(s, d)
      // Deterministic append split: the newest fifth of doc ids is "today's
      // delta", everything before it the immutable corpus. max over a
      // ZERO-ROW corpus is NULL (the empty daily-refresh case d10's own
      // docs call the norm) — split 0 then makes both sides empty and the
      // keep-list is the empty manifest, not a ROW_VALUE_IS_NULL crash.
      val split = SessionMemo.corpus(s, d, "d10split") {
        val mx = docs.agg(max("doc_id")).head()
        if (mx.isNullAt(0)) 0L else mx.getLong(0) * 4 / 5
      }
      // Corpus path: both sides' shingles are doc_id-filtered slices of
      // the ONE memoized corpus shingle table (shingling is per-doc, so a
      // filter of the full table ≡ shingling the filtered docs), and the
      // resident band table + per-bucket counts are memoized artifacts —
      // the session-grade form of the persisted index: the corpus text is
      // tokenized once per session, every wave probes stored counts.
      val hs = corpusShingleHashes(s, d)
      val cHs = hs.filter(col("doc_id") < split)
      val cBands = SessionMemo.corpus.checkpointed(s, d, s"d10bands@$split")(
        bandBuckets(signaturesFromHashes(cHs)))
      val cCnts = SessionMemo.corpus.checkpointed(s, d, s"d10bandCounts@$split")(
        cBands.groupBy("band", "bucket").agg(count(lit(1)).as("cn")))
      // The resident fingerprint table is the third persisted-index half
      // (writeDedupIndex ships fp/bands/band_counts): memoized, so a
      // wave's exact gate probes stored fingerprints instead of
      // re-hashing 4/5 of the corpus text per run.
      val cFps = SessionMemo.corpus.checkpointed(s, d, s"d10fp@$split")(
        docs.filter(col("doc_id") < split)
          .select(md5(normText(col("text"))).as("fp")))
      incrementalKeepListFrom(
        cFps,
        ids => cHs.join(broadcast(ids), Seq("doc_id"), "leftsemi"),
        cBands,
        docs.filter(col("doc_id") >= split), 0.5,
        deltaShingles = Some(hs.filter(col("doc_id") >= split)),
        cBandCounts = Some(cCnts))
    },
    // The oracle IS the equivalence claim: full-corpus keep-list semantics
    // (d07's SQL) restricted to the delta slice.
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            fp AS (
              SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
              FROM documents),
            exact_drop AS (
              SELECT doc_id FROM (
                SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS keep_id FROM fp)
              WHERE doc_id <> keep_id),
            near_drop AS (SELECT doc_id FROM labels WHERE doc_id <> label)
            SELECT d.doc_id,
              (e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
              CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                   WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                   ELSE 'keep' END AS reason
            FROM documents d
            LEFT JOIN exact_drop e ON e.doc_id = d.doc_id
            LEFT JOIN near_drop n ON n.doc_id = d.doc_id
            WHERE d.doc_id >= (SELECT max(doc_id) * 4 // 5 FROM documents)
            ORDER BY d.doc_id"""))

  // ------------------------------------------------------- decontamination
  /** (doc_id, eval_doc, n_shared) for every (corpus, eval) document pair
    * sharing at least one shingle whose document frequency over BOTH
    * sides is ≤ dfCap — [[cappedSharedCounts]] for the decontamination
    * family (d09/d19/d35/p03) when corpus and eval are two SEPARATE
    * tables: both sides' shingle rows go in as one table tagged by side
    * (their doc ids may collide). A (corpus, eval) pair sharing ONLY
    * corpus-hot shingles is, definitionally, boilerplate coincidence —
    * not eval leakage (the same frequent-n-gram exclusion the published
    * decontamination recipes apply); every emitted count still equals
    * the uncapped arithmetic, and both the d09 and d19 oracles mirror
    * the qualification. */
  private def contamPairs(docs: DataFrame, evalDocs: DataFrame, n: Int,
      dfCap: Int): DataFrame = {
    def side(t: DataFrame, isEval: Boolean): DataFrame =
      hashedShingles(shingleSets(t, n)).localCheckpoint().withColumn("is_eval", lit(isEval))
    cappedSharedCounts(side(docs, false).unionAll(side(evalDocs, true)), dfCap,
      "doc_id", "eval_doc", Some(!col("is_eval")))
  }

  /** The shipped eval slice: `doc_id % 19 == 0` of one shingle table
    * stands in for the external benchmark table, the other 18/19 are the
    * corpus — the split applied as cheap filters over the one table
    * (d21's single-scan trick). */
  private def contamSplit(sh: DataFrame, dfCap: Int): DataFrame =
    cappedSharedCounts(sh, dfCap, "doc_id", "eval_doc", Some(col("doc_id") % 19 =!= 0))

  /** d09's rollup over the pair kernel: corpus-doc grain. */
  private def decontamRollup(pairs: DataFrame): DataFrame =
    pairs.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_eval_docs"),
        sum("n_shared").as("n_shared_ngrams"))

  /** Free the checkpoint blocks behind a `localCheckpoint`ed DataFrame.
    * `Dataset.unpersist` is a NO-OP for these (localCheckpoint persists
    * the RDD directly, bypassing the cache manager), and ContextCleaner
    * only reclaims after a driver-side GC — so a memo that evicts
    * corpus-derived checkpoints would otherwise accumulate executor
    * storage for up to the periodic-GC interval. Exception to the
    * no-eager-unpersist policy above, legal ONLY when the caller can
    * prove no live reference to the DataFrame remains (the freed blocks
    * are unrecomputable). */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(org.apache.spark.CheckpointBlocks.free)

  /** The RDD holding a `localCheckpoint`ed DataFrame's blocks; None for a
    * plan that is not checkpoint-backed (nothing to free or count). */
  private[graft] def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** The shipped d09/d19 pair table ([[contamSplit]] over the memoized
    * per-n shingle table), one [[graft.SessionMemo.corpus]] artifact per
    * n. The eval side is corpus-PROPORTIONAL, hence the df-capped kernel:
    * uncapped, one corpus-hot shingle on both sides of the split yields
    * df_corpus·df_eval pair rows (9.978e8 such rows on a 10× boiler
    * corpus). d09 and d19 are two rollups (corpus-keyed / eval-keyed) of
    * the SAME pair evidence, and d35's three-n sweep retains all three
    * entries (candidate-sized each, ≪ corpus), so one tokenize pass per
    * (corpus, n) serves the whole contamination family. Bench
    * accounting: the contam-memo stance documented at
    * [[graft.SessionMemo]]. */
  private[operators] def contamSplitPairs(spark: SparkSession, d: String, n: Int): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"contam@$n")(
      contamSplit(corpusShingleHashes(spark, d, n), ShingleDfCap))

  /** Benchmark decontamination: find training-corpus documents sharing any
    * word-n-gram with a held-out eval suite — the standard pre-training
    * hygiene check (eval contamination inflates benchmark scores). The
    * eval set is an EXTERNAL table (the benchmark suite itself), passed in
    * as `evalDocs` — typically benchmark-sized, but the plan no longer
    * DEPENDS on that: the probe rides [[cappedSharedCounts]], so cost is
    * corpus shingle volume + a dfCap²-bounded pairing join at any eval
    * size and any df distribution. 5-grams (vs the classic 13-gram rule)
    * suit this corpus's short docs; the n is a parameter.
    */
  def decontaminate(spark: SparkSession, d: String, n: Int): DataFrame =
    decontamRollup(contamSplitPairs(spark, d, n))

  def decontaminate(docs: DataFrame, evalDocs: DataFrame, n: Int,
      dfCap: Int = ShingleDfCap): DataFrame =
    decontamRollup(contamPairs(docs, evalDocs, n, dfCap))

  /** p03's token leg, memo-backed (round 16): the eval/corpus split at
    * `doc_id < nEval` derived by FILTERING the memoized [[corpusShingleHashes]]
    * table instead of re-tokenizing each side — a document's shingles do
    * not depend on other documents, so the filtered shared table IS the
    * per-side shingle pass and the result is row-identical to
    * `decontaminate(corpus, eval, n)` (p03's oracle re-proves it every
    * run). One tokenize pass per (corpus, n) now serves d09/d19/d35 AND
    * p03; the two per-call localCheckpoint jobs go away entirely. */
  def decontaminateSplitAt(spark: SparkSession, d: String, nEval: Int,
      n: Int, dfCap: Int = ShingleDfCap): DataFrame = {
    decontamRollup(cappedSharedCounts(corpusShingleHashes(spark, d, n), dfCap,
      "doc_id", "eval_doc", Some(col("doc_id") >= nEval)))
  }

  val decontam = Q(
    "d09_decontaminate",
    (s, d) => decontaminate(s, d, 5),
    // The oracle mirrors the df-cap (the `dfq` CTE + `n_rare > 0`
    // qualification, d21's convention): a (corpus, eval) pair counts only
    // when it shares ≥1 shingle with df ≤ ShingleDfCap over the whole
    // table, while n_shared stays exact over ALL shingles — identical
    // semantics to the capped execution at any df distribution, not just
    // the shipped corpora (where max df < cap makes capped ≡ uncapped).
    Some(s"""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                ('0x' || substr(md5(list_aggregate(ts[i:i+4], 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 3)) r(i)
              WHERE len(ts) >= 5),
            dfq AS (SELECT sh_h, count(*) AS df FROM sh GROUP BY sh_h),
            eval AS (SELECT doc_id AS eval_doc, sh_h FROM sh WHERE doc_id % 19 = 0),
            corpus AS (SELECT * FROM sh WHERE doc_id % 19 <> 0),
            pair AS (
              SELECT c.doc_id, e.eval_doc, count(*) AS n_shared,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM corpus c JOIN eval e ON e.sh_h = c.sh_h
                            JOIN dfq f ON f.sh_h = c.sh_h
              GROUP BY 1, 2)
            SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_eval_docs,
              CAST(sum(n_shared) AS BIGINT) AS n_shared_ngrams
            FROM pair WHERE n_rare > 0
            GROUP BY doc_id ORDER BY doc_id"""))

  // ---------------------------------------- repeated spans (exact substring)
  /** Maximal repeated token spans — the core of exact-substring dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": cut every ≥k-token sequence that occurs more than once in
    * the corpus). Every k-token window whose exact token sequence occurs
    * ≥2 times anywhere (across documents or within one) is flagged, and
    * per document the flagged window starts are coalesced into maximal
    * spans — the regions a substring-dedup pass would cut.
    *
    * Scale shape: positional k-shingles stream out of one per-doc flatMap
    * (no shuffle); repetition marking is a count window keyed by the
    * 60-bit shingle hash — ONE shuffle of the shingle stream, no join and
    * no second corpus scan (a groupBy+join formulation would either
    * re-shingle the corpus or checkpoint it); island coalescing is a
    * doc-keyed window over only the flagged rows (repeated-span volume,
    * ≪ corpus). Linear in corpus token volume, nothing quadratic, no
    * broadcast, and both windows are key-partitioned (the PlanAudit
    * global-window gate sees no unpartitioned window).
    */
  def repeatedSpans(docs: DataFrame, k: Int = 8): DataFrame =
    repeatedSpansFromTokens(spreadTokenArrays(docs), k)

  /** [[repeatedSpans]] over a token-array table (the d11 query passes the
    * shared [[corpusTokenArrays]] checkpoint; round 17 — the positional
    * shingle stream is expression-only, no typed boundary). */
  def repeatedSpansFromTokens(toks: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val psh = positionalShingleHashes(toks, k)
    val flagged = psh
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy("sh_h")))
      .filter(col("n_occ") >= 2)
    val islands = flagged.withColumn("grp",
      col("pos") - row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
    islands.groupBy(col("doc_id"), col("grp"))
      .agg(min("pos").as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).as("span_tokens"))
      .select("doc_id", "span_start", "span_tokens")
  }

  val repeated = Q(
    "d11_repeated_spans",
    (s, d) => repeatedSpansFromTokens(corpusTokenArrays(s, d), 8),
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            psh AS (
              SELECT doc_id, i AS pos,
                ('0x' || substr(md5(list_aggregate(ts[i:i+7], 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 6)) r(i)
              WHERE len(ts) >= 8),
            flagged AS (
              SELECT doc_id, pos FROM (
                SELECT doc_id, pos, count(*) OVER (PARTITION BY sh_h) AS n_occ FROM psh)
              WHERE n_occ >= 2),
            isl AS (
              SELECT doc_id, pos,
                pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM flagged)
            SELECT doc_id, min(pos) AS span_start,
                   max(pos) - min(pos) + 8 AS span_tokens
            FROM isl GROUP BY doc_id, grp
            ORDER BY doc_id, span_start"""))

  // ---------------------------------------------------- detector consensus
  /** Strip a trailing presentation ORDER BY so a component oracle can be
    * embedded as a subquery. */
  private def subOracle(sql: String): String =
    sql.replaceAll("(?is)\\s*ORDER BY\\s+[a-z0-9_,\\s]+$", "")

  /** Near-dup detector consensus — the ensemble readout dedup pipelines
    * log before acting: which detectors (MinHash-LSH verified, SimHash
    * banding, exact n-gram Jaccard) flagged each pair, keeping pairs
    * corroborated by ≥2. Precision rises (a single detector's false
    * positives rarely survive corroboration) and the `methods` column is
    * the audit trail for threshold tuning. With these thresholds the
    * minhash-verified pairs are corroborated by the exhaustive n-gram
    * detector by construction (0.5 ≥ 0.12); simhash contributes the
    * independent signal.
    *
    * Scale shape: the minhash and ngram detectors share ONE materialized
    * shingle-hash pass (execution rule 2 — running the component queries
    * verbatim would shingle the corpus twice); simhash is token-granular
    * and is inherently its own tokenizing scan. The minhash and simhash
    * detectors are banded/bucketed; the ngram detector is d04's df-capped
    * shingle equi-join ([[dfCappedCandidates]] — per-shingle fan-out
    * bounded at ShingleDfCap², immune to hot-shingle skew) — and the
    * consensus itself is ONE pair-keyed aggregate over their outputs —
    * pair volume, ≪ corpus.
    * The oracle is composed from the three components' own oracle SQL, so
    * the consensus check can never drift from the per-detector checks.
    */
  val consensus = Q(
    "d12_neardup_consensus",
    (s, d) => {
      val mh = corpusVerifiedPairs(s, d)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), lit("minhash").as("m"))
      val ng = corpusCappedJaccard(s, d)
        .filter(col("jaccard") >= 0.12)
        .select(col("a"), col("b"), lit("ngram").as("m"))
      val sh = simhashPairs(s, d, 3)
        .select(col("a"), col("b"), lit("simhash").as("m"))
      mh.unionAll(sh).unionAll(ng)
        .groupBy("a", "b")
        .agg(
          count(lit(1)).as("n_methods"),
          concat_ws(",", sort_array(collect_set(col("m")))).as("methods"))
        .filter(col("n_methods") >= 2)
    },
    Some(s"""WITH u AS (
            SELECT a, b, 'minhash' AS m FROM (${subOracle(minhash.oracle.get)})
            UNION ALL
            SELECT a, b, 'simhash' AS m FROM (${subOracle(simhash.oracle.get)})
            UNION ALL
            SELECT a, b, 'ngram' AS m FROM (${subOracle(ngramJaccard.oracle.get)}))
            SELECT a, b, count(*) AS n_methods,
                   string_agg(m, ',' ORDER BY m) AS methods
            FROM u GROUP BY a, b HAVING count(*) >= 2
            ORDER BY a, b"""))

  // ------------------------------------------------------ chunk-level scrub
  /** Cross-corpus chunk dedup + reassembly — the APPLIED form of exact
    * near-dup removal (C4's "drop repeated lines", RefinedWeb's
    * exact-substring scrub): documents are segmented into aligned
    * `w`-token chunks, every chunk occurrence after the corpus-first
    * (ordered by (doc_id, chunk_idx) — deterministic at any geometry) is
    * dropped, and each document is reassembled from its surviving chunks.
    * d11 REPORTS repeated spans; this op actually EDITS the corpus, which
    * is what the pipeline ships. Emits per-doc chunk counts and the digest
    * of the cleaned text (the full text would be the production output;
    * the digest keeps the oracle compare compact).
    *
    * Scale shape: one tokenize+chunk flatMap, then TWO exchanges — the
    * first-occurrence window keyed by (chunk-hash, chunk) (partitioning on
    * the 8-byte hash keeps the exchange/sort cheap while the full chunk in
    * the key makes hash collisions harmless), then the doc-keyed
    * reassembly aggregate. No joins; linear in corpus tokens. Per-doc
    * state is that doc's own surviving chunks (bounded by doc length, not
    * corpus).
    */
  def chunkScrub(docs: DataFrame, w: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunked = docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(ts)-1) div $w), k -> " +
          s"struct(cast(k as bigint) as chunk_idx, array_join(slice(ts, k*$w+1, $w), ' ') as chunk))")).as("c"))
      .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"), col("c.chunk").as("chunk"))
    val firstSeen = Window
      .partitionBy(xxhash64(col("chunk")), col("chunk"))
      .orderBy(col("doc_id"), col("chunk_idx"))
    chunked
      .withColumn("keep_chunk", row_number().over(firstSeen) === 1)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep_chunk"), 1L).otherwise(0L)).as("n_kept"),
        expr("md5(array_join(transform(array_sort(" +
          "collect_list(CASE WHEN keep_chunk THEN struct(chunk_idx, chunk) END)" +
          "), x -> x.chunk), ' '))").as("cleaned_md5"))
  }

  val chunkDedup = Q(
    "d13_chunk_scrub",
    (s, d) => chunkScrub(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            chunks AS (
              SELECT doc_id, CAST(k AS BIGINT) AS chunk_idx,
                     array_to_string(list_slice(ts, k*16+1, k*16+16), ' ') AS chunk
              FROM toks, UNNEST(range(0, ((len(ts)-1)//16) + 1)) r(k)
              WHERE len(ts) > 0),
            flagged AS (
              SELECT doc_id, chunk_idx, chunk,
                     row_number() OVER (PARTITION BY chunk
                                        ORDER BY doc_id, chunk_idx) AS rn
              FROM chunks)
            SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_chunks,
              CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
                             FILTER (WHERE rn = 1), '')) AS cleaned_md5
            FROM flagged GROUP BY doc_id ORDER BY doc_id"""))

  // --------------------------------------------------------- semantic dedup
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): bucket the
    * embedding space coarsely, then within each bucket drop every document
    * that is semantically near-identical to an EARLIER one, keeping the
    * bucket's "leaders" as the corpus representatives. Where d05 REPORTS
    * all near-dup pairs corpus-wide, this op makes the per-document KEEP
    * DECISION the pipeline ships — the embedding-space counterpart of
    * d07's fingerprint keep-list.
    *
    * Bucketing uses the s02 hyperplane signature (deterministic ±1 LCG
    * coefficients — no trained state, so the DuckDB oracle reproduces the
    * buckets bit-for-bit from the same integer formula). SemDeDup proper
    * buckets with k-means; hyperplane sign-bits are the trained-state-free
    * stand-in with the same contract: candidate comparisons only within a
    * bucket, O(Σ bucket²) ≪ O(n²). `bits` scales with log(corpus): at
    * 100 TB you raise it so expected bucket size stays bounded, and the
    * one shuffle (self-join keyed by bucket) stays AQE-skew-splittable.
    *
    * Keep rule: doc b is dropped iff SOME a < b in the same bucket has
    * round(cos(a,b),6) ≥ τ; `dominator` is the smallest such a. This is
    * the non-iterative variant of SemDeDup's greedy sweep (greedy compares
    * against KEPT docs only; they differ only on chains a~b~c where
    * a̸~c — the τ-boundary case) — chosen because it is expressible as
    * one join + agg in both engines, so the whole query hash-matches a
    * plain SQL oracle instead of resting on a recall spec.
    *
    * Embeddings are cast to double BEFORE the signature dot so both
    * engines run the identical IEEE arithmetic; cosine compares reuse
    * d05's round-to-6-then-threshold contract.
    */
  def semanticDedup(spark: SparkSession, d: String,
      threshold: Double = 0.35, bits: Int = 4): DataFrame = {
    val dim = 64 // embeddings table vector dimension (TESTDATA.md)
    val e = Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("bucket", Similarity.hyperplaneSignature(dim, bits)(col("emb")))
      .withColumn("nrm", VectorFns.norm(col("emb")))
      // Three consumers (both join sides + the final left join) — eager
      // materialization per the round-3 shared-subtree rule; spread first
      // so the single-file embeddings scan runs on every core (no-op once
      // the scan's own splits reach the session parallelism — round 17).
      .transform(Sizing.spread)
      .localCheckpoint()
    val a = e.select(col("bucket"), col("vec_id").as("a"),
      col("emb").as("ea"), col("nrm").as("na"))
    val b = e.select(col("bucket"), col("vec_id").as("b"),
      col("emb").as("eb"), col("nrm").as("nb"))
    val dominated = a.join(b, Seq("bucket"))
      .filter(col("a") < col("b"))
      .filter(round(VectorFns.dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dominator"))
    e.select("vec_id", "bucket")
      .join(dominated, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"), col("dominator"),
        col("dominator").isNull.as("kept"))
  }

  val semantic = Q(
    "d14_semantic_dedup",
    (s, d) => semanticDedup(s, d),
    Some("""WITH planes AS (
              SELECT b, i,
                CASE WHEN ((b * 1315423911 + i * 2654435761 + 97531) % 1000003) % 2 = 0
                     THEN 1.0 ELSE -1.0 END AS w
              FROM range(0, 4) t1(b), range(0, 64) t2(i)),
            vec AS (
              SELECT vec_id,
                CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS i,
                unnest(CAST(embedding AS DOUBLE[])) AS x
              FROM embeddings),
            dots AS (
              SELECT v.vec_id, p.b, sum(v.x * p.w) AS dp
              FROM vec v JOIN planes p ON p.i = v.i
              GROUP BY v.vec_id, p.b),
            sig AS (
              SELECT vec_id,
                CAST(sum(CASE WHEN dp >= 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS bucket
              FROM dots GROUP BY vec_id),
            pairs AS (
              SELECT s1.vec_id AS a, s2.vec_id AS b
              FROM sig s1
              JOIN sig s2 ON s1.bucket = s2.bucket AND s1.vec_id < s2.vec_id
              JOIN embeddings ea ON ea.vec_id = s1.vec_id
              JOIN embeddings eb ON eb.vec_id = s2.vec_id
              WHERE round(list_cosine_similarity(
                      CAST(ea.embedding AS DOUBLE[]),
                      CAST(eb.embedding AS DOUBLE[])), 6) >= 0.35),
            dom AS (
              SELECT b AS vec_id, min(a) AS dominator FROM pairs GROUP BY b)
            SELECT s.vec_id, s.bucket, d.dominator,
                   (d.dominator IS NULL) AS kept
            FROM sig s LEFT JOIN dom d USING (vec_id)
            ORDER BY vec_id"""))

  // ------------------------------------------- quality-aware representative
  /** Quality-aware cluster representative selection — the refinement every
    * production dedup ships over the min-id keep rule (d07): within each
    * near-dup cluster (d06's components), KEEP THE BEST COPY, not the
    * first one. "Best" here is t04's alpha_ratio on its rounded 4-decimal
    * grid (deterministic across engines) with min-doc_id tie-break — in
    * production, any scalar quality signal (t24's classifier, t13's
    * perplexity) slots into the same argmax without changing the plan.
    *
    * Plan shape: d06's cluster table is dup-subset-sized (never the
    * corpus); ONE doc-keyed equi-join attaches the quality scalar and ONE
    * cluster-keyed row_number window picks the argmax — both linear in
    * cluster rows. Composition stance: the oracle wraps d06's own
    * recursive-CTE oracle plus t04's quality formula, so the three
    * queries cross-check (the d12 pattern).
    */
  val bestKeep = Q(
    "d15_cluster_best_keep",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val cl = dedupClusters(s, d, 0.5)
      val q = Tables.documents(s, d).select(
        col("doc_id"),
        round(charClassCount(lower(col("text")), "[a-z]").cast("double")
          / length(col("text")).cast("double"), 4).as("alpha_ratio"))
      val w = Window.partitionBy("cluster_rep")
        .orderBy(col("alpha_ratio").desc, col("doc_id"))
      cl.join(q, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_rep"), col("cluster_size"),
          col("doc_id").as("best_doc"), col("alpha_ratio").as("best_alpha"))
    },
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            big AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
                    FROM labels GROUP BY label HAVING count(*) > 1),
            q AS (
              SELECT doc_id,
                round(CAST(length(text) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS DOUBLE)
                      / CAST(length(text) AS DOUBLE), 4) AS alpha_ratio
              FROM documents),
            ranked AS (
              SELECT l.label AS cluster_rep, b.cluster_size, l.doc_id, q.alpha_ratio,
                row_number() OVER (PARTITION BY l.label
                                   ORDER BY q.alpha_ratio DESC, l.doc_id) AS rn
              FROM labels l JOIN big b USING (label) JOIN q USING (doc_id))
            SELECT cluster_rep, cluster_size, doc_id AS best_doc,
                   alpha_ratio AS best_alpha
            FROM ranked WHERE rn = 1 ORDER BY cluster_rep"""))

  // ------------------------------------------------- duplicate provenance
  /** Duplicate-provenance matrix — WHERE the near-dups come from: d02's
    * verified pair set rolled up by unordered source pair, with the
    * cross-source flag. The data-governance readout a corpus audit ships
    * ("which feeds copy each other, and how much is internal
    * re-crawling") and the triage signal for licensing/contamination
    * review — cross-source mass points at syndication, within-source mass
    * at crawler dedup debt.
    *
    * Scale shape: the pair set is candidate-sized (never the corpus); two
    * doc-keyed equi-joins attach a 2-column source projection; the rollup
    * key space plateaus at sources² regardless of corpus size. Oracle
    * wraps d02's own CTEs (the d12 cross-check pattern) — hash-green.
    */
  val provenance = Q(
    "d16_dup_provenance",
    (s, d) => {
      val pairs = minhashPairs(s, d, 0.5).select("a", "b")
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(src.select(col("doc_id").as("b"), col("source").as("sb")), "b")
        .select(
          least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"))
        .withColumn("cross_source", col("src_a") =!= col("src_b"))
    },
    Some(s"""WITH $minhashOracleCtes,
            p AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            m AS (
              SELECT least(da.source, db.source) AS src_a,
                     greatest(da.source, db.source) AS src_b
              FROM p JOIN documents da ON da.doc_id = p.a
                     JOIN documents db ON db.doc_id = p.b)
            SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
                   (src_a <> src_b) AS cross_source
            FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b"""))

  // --------------------------------------- embedding-space decontamination
  /** Embedding-space benchmark decontamination — the semantic complement
    * of d09 (which catches verbatim n-gram overlap): flag every corpus
    * vector whose embedding lies within cosine `threshold` of ANY eval-set
    * vector, with the nearest eval item and its similarity — the evidence
    * row a decontamination audit ships. Catches paraphrased/translated
    * benchmark leakage that token-level matching misses. The eval set
    * here is the `vec_id < nEval` slice (stand-in for a benchmark
    * embedding table).
    *
    * Scale shape: eval/benchmark sets are structurally tiny (10^3–10^5
    * rows — a bounded collect, same audited pattern as the IVF codebook),
    * so each eval embedding is inlined as a literal and the whole operator
    * is ONE map-only corpus scan: per row, `nEval` codegen'd `vec_dot`
    * calls and a struct arg-max — no join, no shuffle, no broadcast,
    * embarrassingly parallel at 100 TB. (The eval-side norms constant-fold
    * at plan time.) For eval sets too big to inline,
    * [[embeddingDecontaminateBucketed]] is the scale path (same output,
    * spec-asserted; this scan is its verification baseline). Ties on the
    * rounded similarity
    * break to the LOWEST eval id (the `-eval_id` struct field under
    * `array_max`'s lexicographic order), mirroring the oracle's
    * `ORDER BY cos_sim DESC, eval_id` window.
    */
  def embeddingDecontaminate(spark: SparkSession, d: String,
      nEval: Int = 25, threshold: Double = 0.35): DataFrame =
    embeddingDecontaminateFrom(Tables.embeddings(spark, d), nEval, threshold)

  /** d17's evidence table memoized per (corpus, nEval, threshold) —
    * round 16: d17 and p03's semantic leg ran the SAME 25-literal
    * scoring scan independently; like the contam@n entries it is built
    * once (ledgered) and both read it marginally. Checkpointed: the
    * output is contamination-sized (flagged rows only), ≪ corpus. */
  private[operators] def corpusSemContam(spark: SparkSession, d: String,
      nEval: Int, threshold: Double): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"semContam@$nEval@$threshold")(
      embeddingDecontaminateFrom(Tables.embeddings(spark, d), nEval, threshold))

  /** Core of d17 over any (vec_id, embedding) frame; eval = vec_id < nEval. */
  def embeddingDecontaminateFrom(e: DataFrame,
      nEval: Int, threshold: Double): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val evalSet = e.filter(col("vec_id") < nEval)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect().sortBy(_._1)
    // Empty eval slice (zero-row table / no benchmark vectors yet):
    // scoreAgainstEval returns the empty no-match frame — nothing can be
    // contaminated against zero eval items.
    scoreAgainstEval(e.filter(col("vec_id") >= nEval), evalSet, threshold)
  }

  /** The d17 scoring pass over any (vec_id, embedding) frame — batch or
    * streaming (stateless per-row work, so the streaming twin is exact):
    * flag rows within cosine `threshold` of any eval vector. Eval vectors
    * arrive pre-collected (bounded) and are inlined as literals; ties on
    * the rounded similarity break to the lowest eval id. */
  def scoreAgainstEval(vecs: DataFrame, evalSet: Array[(Long, Array[Float])],
      threshold: Double): DataFrame = {
    // Empty eval set (a release with no held-out vectors yet, or an empty
    // daily slice): nothing can be contaminated — the no-match frame, not
    // an unconstructible zero-arm array_max expression.
    if (evalSet.isEmpty)
      return vecs.select(col("vec_id"), lit(null).cast("double").as("max_cos"),
        lit(null).cast("long").as("nearest_eval")).filter(lit(false))
    val best = array_max(array(evalSet.map { case (eid, ev) =>
      struct(
        round(VectorFns.cosine(col("embedding"), lit(ev)), 6).as("c"),
        lit(-eid).as("neg_id"))
    }.toIndexedSeq: _*))
    vecs.select(col("vec_id"), best.as("b"))
      .select(col("vec_id"), col("b.c").as("max_cos"), (-col("b.neg_id")).as("nearest_eval"))
      .filter(col("max_cos") >= threshold)
  }

  /** d17's big-eval scale path: when the eval set is too large to
    * literal-inline (the exact scan's contract), the same
    * triangle-inequality cell pruning d05 uses blocks the (corpus, eval)
    * pair space instead. One shared spherical-k-means codebook assigns
    * BOTH halves to cells; a (corpus cell, eval cell) block survives only
    * if the angle bound admits a pair at cos ≥ threshold; the verify join
    * scores surviving blocks only, then a vec-keyed arg-max aggregate
    * (map-side partial) produces the same (vec_id, max_cos, nearest_eval)
    * rows. EXACT, not approximate: pruning only drops pairs whose raw
    * cosine is provably below threshold − 1e-6, which can never round to
    * a flaggable value and can never carry the per-vec max or its
    * tie-break (d05's slack argument; the spec asserts output identity
    * with the literal-inline scan). Returns the surviving block count as
    * pruning evidence.
    *
    * At 100 TB: corpus shuffles once keyed by cell; eval (≪ corpus, but
    * too big to broadcast as literals) shuffles the same way; block
    * compute ∝ Σ |corpus_i|·|eval_j| over surviving pairs — near-linear
    * on clustered embeddings, never all-pairs. */
  def embeddingDecontaminateBucketed(e: DataFrame, nEval: Int,
      threshold: Double, nCells: Int = 16,
      kmeansIters: Int = 3): (DataFrame, Int) = {
    val spark = e.sparkSession
    import spark.implicits._
    import Similarity.{dotd, unit}
    val ev = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
    // Seeds = the TRUE nCells lowest vec_ids (TakeOrdered, nCells-row
    // collect), not a `vec_id < nCells` literal — sparse-id corpora must
    // still seed a full codebook (same contract as kmeansCentroids).
    val seeds = ev.orderBy(col("vec_id")).limit(nCells).collect()
      .sortBy(_._1).map { case (id, v) => (id.toInt, unit(v)) }
    val codebook = Similarity.refineCodebook(spark, ev, seeds, kmeansIters)
    val bc = spark.sparkContext.broadcast(codebook)
    val celled = ev.map { case (id, v) =>
      val uv = unit(v)
      val (cell, sim) = bc.value
        .map { case (cid, c) => (cid, dotd(uv, c)) }
        .maxBy { case (cid, s) => (s, -cid) }
      (cell, id, v, clampAcos(sim))
    }.toDF("cell", "vec_id", "embedding", "theta_c")
      .transform(spreadIfNarrow(ev.rdd.getNumPartitions))
      .localCheckpoint() // read by the radius agg and both verify sides
    val radii = celled.groupBy("cell").agg(max("theta_c").as("r"))
      .as[(Int, Double)].collect().toMap // nCells rows
    val cellPairs = candidateCellPairs(codebook, radii, threshold)
    val cp = cellPairs.toDF("cell_a", "cell_b")
    val corpusSide = celled.filter(col("vec_id") >= nEval).select(
      col("cell").as("cell_a"), col("vec_id"),
      col("embedding").as("ce"), VectorFns.norm(col("embedding")).as("nc"))
    val evalSide = celled.filter(col("vec_id") < nEval).select(
      col("cell").as("cell_b"), col("vec_id").as("eval_id"),
      col("embedding").as("ee"), VectorFns.norm(col("embedding")).as("ne"))
    val out = corpusSide.join(broadcast(cp), Seq("cell_a"))
      .join(evalSide, Seq("cell_b"))
      .select(col("vec_id"), col("eval_id"),
        round(VectorFns.dot(col("ce"), col("ee")) / (col("nc") * col("ne")), 6).as("c"))
      .groupBy("vec_id")
      .agg(max(struct(col("c"), (-col("eval_id")).as("neg"))).as("b"))
      .select(col("vec_id"), col("b.c").as("max_cos"), (-col("b.neg")).as("nearest_eval"))
      .filter(col("max_cos") >= threshold)
    (out, cellPairs.size)
  }

  val embeddingDecontam = Q(
    "d17_embedding_decontaminate",
    (s, d) => corpusSemContam(s, d, 25, 0.35),
    Some("""WITH ev AS (
              SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ee
              FROM embeddings WHERE vec_id < 25),
            c AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
              FROM embeddings WHERE vec_id >= 25),
            scored AS (
              SELECT c.vec_id, ev.eval_id,
                     round(list_cosine_similarity(ce, ee), 6) AS cos_sim
              FROM c CROSS JOIN ev),
            ranked AS (
              SELECT vec_id, eval_id, cos_sim,
                     row_number() OVER (PARTITION BY vec_id
                       ORDER BY cos_sim DESC, eval_id) AS rn
              FROM scored)
            SELECT vec_id, cos_sim AS max_cos, eval_id AS nearest_eval
            FROM ranked WHERE rn = 1 AND cos_sim >= 0.35 ORDER BY vec_id"""))

  // ------------------------------------------------- asymmetric containment
  /** d18: containment near-dup pairs — the ASYMMETRIC complement of d04's
    * symmetric Jaccard. Containment C(a→b) = |Sa ∩ Sb| / |Sa| detects "doc
    * a is quoted/embedded inside doc b" even when b is much larger (a long
    * page wrapping a copied paragraph sits at Jaccard ≈ |a|/|b| → 0 but
    * containment ≈ 1 — the case symmetric dedup structurally misses, and a
    * major duplication mode in web-scraped training data: boilerplate
    * wrappers, quote farms, aggregators). Emits both directions' rounded
    * containments plus their max; pairs kept when max ≥ threshold.
    *
    * Scale shape: identical to d04 — candidate pairs come from the
    * df-capped shared-shingle join ([[dfCappedCandidates]]; per-shingle
    * fan-out bounded at cap², hot boilerplate never reaches the pairing
    * shuffle), then ONE pair-keyed count agg over ALL shingles of each
    * candidate (map-side partial) and two broadcastable size attachments —
    * so both containment denominators AND the intersection are exact.
    * The max is taken over ROUNDED per-direction values in both engines,
    * so the threshold boundary can't drift. */
  def containmentPairs(docs: DataFrame, threshold: Double,
                       dfCap: Int = ShingleDfCap): DataFrame =
    containmentPairsHashed(materializedShingleHashes(docs), threshold, dfCap)

  def containmentPairsHashed(hs: DataFrame, threshold: Double,
                             dfCap: Int = ShingleDfCap): DataFrame =
    containmentFromCounts(hs, cappedPairCounts(hs, dfCap), threshold)

  /** Containment scores from an already-built (a, b, n_common) pair
    * table — the d18 tail over the shared capped trunk
    * ([[corpusCappedPairCounts]] on the corpus path). */
  def containmentFromCounts(hs: DataFrame, counts: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = hs.groupBy("doc_id").agg(count(lit(1)).as("n"))
    counts
      .join(sizes.select(col("doc_id").as("a"), col("n").as("n_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("n_b")), "b")
      .select(col("a"), col("b"),
        round(col("n_common").cast("double") / col("n_a").cast("double"), 4).as("cont_a"),
        round(col("n_common").cast("double") / col("n_b").cast("double"), 4).as("cont_b"))
      .withColumn("max_cont", greatest(col("cont_a"), col("cont_b")))
      .filter(col("max_cont") >= threshold)
  }

  val containment = Q(
    "d18_containment_pairs",
    (s, d) => containmentFromCounts(
      corpusShingleHashes(s, d), corpusCappedPairCounts(s, d), 0.5),
    // df-cap mirrored in the oracle (`dfq` + `n_rare > 0`) — see d04.
    Some(s"""WITH sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                FROM (SELECT doc_id,
                        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '') AS ts
                      FROM documents),
                UNNEST(range(1, len(ts) - 1)) AS r(i))),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM sh x JOIN sh y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
                        JOIN dfq f ON f.shingle = x.shingle
              GROUP BY 1, 2),
            m AS (
              SELECT a, b,
                round(CAST(n_common AS DOUBLE) / CAST(sa.n AS DOUBLE), 4) AS cont_a,
                round(CAST(n_common AS DOUBLE) / CAST(sb.n AS DOUBLE), 4) AS cont_b
              FROM inter JOIN sizes sa ON sa.doc_id = a
                         JOIN sizes sb ON sb.doc_id = b
              WHERE n_rare > 0)
            SELECT a, b, cont_a, cont_b, greatest(cont_a, cont_b) AS max_cont
            FROM m WHERE greatest(cont_a, cont_b) >= 0.5 ORDER BY a, b"""))

  // ---------------------------------------------------- eval leakage report
  /** d19: the eval-side leakage report — d09's join re-keyed by the EVAL
    * item: for every benchmark/eval document with any corpus overlap, how
    * many corpus docs leak it, the total shared n-gram mass, and the worst
    * single-document overlap. This is the report a benchmark owner reads
    * ("which of MY items are burned, and how badly") where d09 answers the
    * corpus owner's question ("which of my docs are contaminated") — same
    * evidence, opposite grouping, both needed by a release process.
    *
    * Scale shape: identical to d09 — the same [[cappedSharedCounts]]
    * bipartite df-capped kernel, rolled up the other way (eval-keyed);
    * output is eval-sized (structurally tiny) at any corpus scale, and
    * the pairing join is dfCap²-bounded per shingle even when the eval
    * side is corpus-proportional (the shipped `%19` instantiation). */
  def evalLeakReport(docs: DataFrame, evalDocs: DataFrame, n: Int,
      dfCap: Int = ShingleDfCap): DataFrame =
    leakRollup(contamPairs(docs, evalDocs, n, dfCap))

  /** d19's rollup over the pair kernel: eval-item grain. */
  private def leakRollup(pairs: DataFrame): DataFrame =
    pairs.groupBy("eval_doc")
      .agg(
        count(lit(1)).as("n_leaking_docs"),
        sum("n_shared").as("n_shared_ngrams"),
        max("n_shared").as("max_doc_overlap"))

  val evalLeak = Q(
    "d19_eval_leak_report",
    (s, d) => leakRollup(contamSplitPairs(s, d, 5)),
    // Cap mirrored exactly as in d09 (dfq + `n_rare > 0`) — see the d09
    // oracle comment; d19 is the same pair table rolled up the other way.
    Some(s"""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                ('0x' || substr(md5(list_aggregate(ts[i:i+4], 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 3)) r(i)
              WHERE len(ts) >= 5),
            dfq AS (SELECT sh_h, count(*) AS df FROM sh GROUP BY sh_h),
            eval AS (SELECT doc_id AS eval_doc, sh_h FROM sh WHERE doc_id % 19 = 0),
            corpus AS (SELECT * FROM sh WHERE doc_id % 19 <> 0),
            pair AS (
              SELECT e.eval_doc, c.doc_id, count(*) AS n_shared,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM corpus c JOIN eval e ON c.sh_h = e.sh_h
                            JOIN dfq f ON f.sh_h = c.sh_h
              GROUP BY 1, 2)
            SELECT eval_doc,
              CAST(count(*) AS BIGINT) AS n_leaking_docs,
              CAST(sum(n_shared) AS BIGINT) AS n_shared_ngrams,
              CAST(max(n_shared) AS BIGINT) AS max_doc_overlap
            FROM pair WHERE n_rare > 0
            GROUP BY eval_doc ORDER BY eval_doc"""))

  // ---------------------------------------------- cross-source duplication
  /** d20: the cross-source duplication matrix — for every pair of SOURCES,
    * how much n-gram vocabulary they share. This is the provenance-level
    * view the doc-level family (d02/d04/d18) can't give: which feeds
    * mirror, scrape, or syndicate each other, read before choosing mixing
    * weights (double-counting a mirrored source inflates its effective
    * epoch count) and before trusting "distinct sources" as a diversity
    * signal. Exact-dup sharing is subsumed (an exact copy shares every
    * shingle); the 5-gram granularity matches the decontamination family
    * (d09/d19) so the three reports read on one scale.
    *
    * Emits per unordered source pair: distinct shared 5-gram shingles,
    * each side's shingle vocabulary size, and the vocabulary Jaccard.
    *
    * Scale shape: one distinct (source, shingle-hash) aggregate (map-side
    * combined — the 10⁵-row doc→source attach happens before the shuffle),
    * then a self-equi-join on the shingle hash whose fan-out per hash is
    * bounded by the NUMBER OF SOURCES (not corpus size: the input is
    * distinct per (source, hash)), and a source-pair-keyed count. Output
    * rows ≤ sources², structurally tiny at any corpus scale. No all-pairs
    * term anywhere: shingles shared by zero pairs never leave the join.
    */
  def crossSourceOverlap(docs: DataFrame, n: Int = 5): DataFrame =
    crossSourceOverlapFromHashes(docs, hashedShingles(shingleSets(docs, n)))

  /** [[crossSourceOverlap]] over an already-materialized hashed shingle
    * table — the corpus path reads the session-memoized hs@5 (round 16:
    * d20 re-tokenized the corpus its own contamination family had
    * already shingled; same d21/d35 FromHashes discipline). */
  def crossSourceOverlapFromHashes(docs: DataFrame, hsIn: DataFrame): DataFrame = {
    val srcOf = docs.select(col("doc_id"), col("source"))
    val sh = hsIn
      .join(srcOf, Seq("doc_id"))
      .select(col("source"), col("sh_h"))
      .groupBy("source", "sh_h").agg(count(lit(1)).as("_n")) // distinct per source
      .select(col("source"), col("sh_h"))
      .localCheckpoint() // read twice: sizes + the pair join (execution rule 2)
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n_sh"))
    val a = sh.select(col("source").as("src_a"), col("sh_h"))
    val b = sh.select(col("source").as("src_b"), col("sh_h"))
    a.join(b, "sh_h").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a")), "src_a")
      .join(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b")), "src_b")
      .select(
        col("src_a"), col("src_b"), col("n_shared"), col("n_a"), col("n_b"),
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 6)
          .as("jaccard"))
  }

  val crossSource = Q(
    "d20_cross_source_overlap",
    (s, d) => crossSourceOverlapFromHashes(
      Tables.documents(s, d), corpusShingleHashes(s, d, 5)),
    Some("""WITH toks AS (
              SELECT doc_id, source, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT source,
                ('0x' || substr(md5(list_aggregate(ts[i:i+4], 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 3)) r(i)
              WHERE len(ts) >= 5),
            sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
            pairs AS (
              SELECT x.source AS src_a, y.source AS src_b, count(*) AS n_shared
              FROM sh x JOIN sh y ON y.sh_h = x.sh_h AND x.source < y.source
              GROUP BY 1, 2)
            SELECT p.src_a, p.src_b, p.n_shared, sa.n_sh AS n_a, sb.n_sh AS n_b,
              round(CAST(p.n_shared AS DOUBLE)
                / CAST(sa.n_sh + sb.n_sh - p.n_shared AS DOUBLE), 6) AS jaccard
            FROM pairs p JOIN sizes sa ON sa.source = p.src_a
                         JOIN sizes sb ON sb.source = p.src_b
            ORDER BY p.src_a, p.src_b"""))

  // ------------------------------------------------- split-leakage audit
  /** d21: train/validation SPLIT-LEAKAGE audit — the hygiene check on a
    * split you made yourself: a random doc-level split of a corpus with
    * near-duplicates puts one copy in train and one in validation, and the
    * validation loss silently measures memorization. Here the split IS the
    * engine's own deterministic md5-bucket rule (q23's primitive, 10%
    * validation), and the audit reports, per validation doc with ANY
    * 5-gram overlap into train: how many train docs touch it, the total
    * shared-shingle mass, the worst single-document overlap, and a
    * `severe` verdict (max overlap ≥ 3 shingles ⇒ a real shared passage,
    * not one unlucky 5-gram). d09/d19 audit leakage against an EXTERNAL
    * eval set; this one audits the split boundary itself — the three
    * reports share the 5-gram scale.
    *
    * Scale shape: the split decision is map-only (pure function of
    * doc_id); the overlap join is the DF-CAPPED shingle equi-join
    * ([[cappedSharedCounts]] over the val×train bipartition). Unlike
    * d09/d19, BOTH sides here are corpus-proportional (10%/90% of the
    * corpus), so an uncapped join is the exact k² boilerplate detonator
    * the kernel eliminates: one shingle on every doc yields 0.09·n²
    * candidate rows. A (val, train) pair qualifies on ≥1 shared SUB-CAP
    * shingle, its hot-shingle mass is recovered exactly, and the oracle
    * mirrors the same qualification. Capped ≡ uncapped on healthy
    * corpora is spec-asserted (DedupCapSpec), same as d04/d18.
    */
  def splitLeakage(docs: DataFrame, valPct: Int = 10, n: Int = 5,
      severeAt: Long = 3L, dfCap: Int = ShingleDfCap): DataFrame =
    splitLeakageFromHashes(
      hashedShingles(shingleSets(docs, n)).localCheckpoint(),
      valPct, severeAt, dfCap)

  /** [[splitLeakage]] over an already-materialized hashed shingle table
    * (the corpus path reads the session-memoized one). */
  def splitLeakageFromHashes(hs: DataFrame, valPct: Int = 10,
      severeAt: Long = 3L, dfCap: Int = ShingleDfCap): DataFrame = {
    // The shingle pass is materialized upstream: read by the df aggregate,
    // the rare carve-out, and the hot-set recovery (execution rule 2). The
    // split bucket is a pure function of doc_id, so it is evaluated on the
    // shingle rows — attaching it by doc-keyed join would shuffle the
    // whole shingle table once more for nothing (measured at 500k docs:
    // the join variant ran 36 s vs 17 s for this shape).
    cappedSharedCounts(hs, dfCap, "val_doc", "train_doc",
        Some(Sampling.hashBucket(col("doc_id")) < valPct))
      .groupBy("val_doc")
      .agg(
        count(lit(1)).as("n_train_neighbors"),
        sum("n_shared").as("n_shared_ngrams"),
        max("n_shared").as("max_doc_overlap"))
      .withColumn("severe", col("max_doc_overlap") >= severeAt)
  }

  val splitLeak = Q(
    "d21_split_leakage",
    (s, d) => splitLeakageFromHashes(corpusShingleHashes(s, d, 5)),
    // The oracle mirrors the df-cap (the `dfq` CTE + `n_rare > 0`
    // qualification): a (val, train) pair counts only when it shares ≥1
    // shingle with corpus df ≤ ShingleDfCap, while n_shared stays exact
    // over ALL shingles — identical semantics to the capped execution at
    // any df distribution, not just the shipped corpora (where max df <
    // cap makes capped ≡ uncapped).
    Some(s"""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                ('0x' || substr(md5(list_aggregate(ts[i:i+4], 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 3)) r(i)
              WHERE len(ts) >= 5),
            dfq AS (SELECT sh_h, count(*) AS df FROM sh GROUP BY sh_h),
            split AS (
              SELECT doc_id,
                CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
                  AS bucket
              FROM documents),
            train AS (
              SELECT s.doc_id AS train_doc, s.sh_h
              FROM sh s JOIN split p ON p.doc_id = s.doc_id WHERE p.bucket >= 10),
            val AS (
              SELECT s.doc_id AS val_doc, s.sh_h
              FROM sh s JOIN split p ON p.doc_id = s.doc_id WHERE p.bucket < 10),
            pair AS (
              SELECT v.val_doc, t.train_doc, count(*) AS n_shared,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM val v JOIN train t ON t.sh_h = v.sh_h
                         JOIN dfq f ON f.sh_h = v.sh_h
              GROUP BY 1, 2)
            SELECT val_doc,
              CAST(count(*) AS BIGINT) AS n_train_neighbors,
              CAST(sum(n_shared) AS BIGINT) AS n_shared_ngrams,
              CAST(max(n_shared) AS BIGINT) AS max_doc_overlap,
              (max(n_shared) >= 3) AS severe
            FROM pair WHERE n_rare > 0 GROUP BY val_doc ORDER BY val_doc"""))

  // --------------------------------------------- sketch calibration (d22)
  /** d22: MinHash sketch calibration — estimated vs exact Jaccard over the
    * LSH candidate set, the dedup family's measurement loop (s05's role
    * for ANN): before trusting the 64-permutation estimate at a threshold,
    * measure its error against ground truth on the corpus at hand. Emits
    * per candidate pair the signature estimate (matching lanes / 64), the
    * exact Jaccard, and the absolute error. The estimate is computed with
    * `zip_with` + `aggregate` over the two signature arrays — pure
    * codegen'd higher-order functions, no UDF.
    *
    * Exactness: n_match/64 is a dyadic rational (exact in binary), so the
    * rounded estimate, the rounded exact value, and their rounded
    * difference are identical doubles in both engines; the oracle
    * reproduces the signatures lane-for-lane from d02's shared CTEs, so
    * the whole calibration table is value-exact.
    *
    * Scale shape: d02's shapes verbatim — one shingle pass feeds
    * signatures and exact verification, the banded self-join bounds the
    * pair set; the only new work is a candidate-sized join of two 64-long
    * arrays. The signature table is checkpointed once and read by both
    * the candidate join and the lane compare (execution rule 2).
    */
  def sketchCalibration(docs: DataFrame): DataFrame = {
    val hs = materializedShingleHashes(docs)
    val sigs = signaturesFromHashes(hs).localCheckpoint()
    val cands = lshCandidatesFromBanded(bandBuckets(sigs))
    sketchCalibrationCore(sigs, cands, jaccardPairsHashed(hs, Some(cands)))
  }

  /** d22's corpus path: every input is a session-memoized artifact. */
  def sketchCalibrationCorpus(spark: SparkSession, d: String): DataFrame =
    sketchCalibrationCore(
      corpusSigs(spark, d), corpusCand(spark, d), corpusVerifiedPairs(spark, d))

  private def sketchCalibrationCore(sigs: DataFrame, cands: DataFrame,
      exactJ: DataFrame): DataFrame = {
    val estJ = cands
      .join(sigs.select(col("doc_id").as("a"), col("sig").as("sig_a")), "a")
      .join(sigs.select(col("doc_id").as("b"), col("sig").as("sig_b")), "b")
      .select(col("a"), col("b"),
        round(
          expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
            .cast("double") / lit(64.0), 4).as("est_jaccard"))
    // LEFT join from the candidate/estimate side: an LSH candidate pair
    // with ZERO exact intersection (a pure banding false positive — the
    // pairs whose estimator error most needs measuring) has no row in
    // exactJ; it must appear in the calibration with exact_jaccard 0.0,
    // not be silently dropped.
    estJ.join(exactJ, Seq("a", "b"), "left")
      .select(
        col("a"), col("b"),
        coalesce(col("jaccard"), lit(0.0)).as("exact_jaccard"), col("est_jaccard"),
        round(abs(col("est_jaccard") - coalesce(col("jaccard"), lit(0.0))), 4).as("abs_err"))
  }

  val calibration = Q(
    "d22_sketch_calibration",
    (s, d) => sketchCalibrationCorpus(s, d),
    Some(s"""WITH $minhashOracleCtes,
            est AS (
              SELECT c.a, c.b,
                sum(CASE WHEN sx.m = sy.m THEN 1 ELSE 0 END) AS n_match
              FROM cand c
              JOIN sig sx ON sx.doc_id = c.a
              JOIN sig sy ON sy.doc_id = c.b AND sy.i = sx.i
              GROUP BY c.a, c.b),
            ex AS (
              SELECT i2.a, i2.b,
                round(CAST(n_common AS DOUBLE)
                      / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) AS exact_jaccard
              FROM inter i2
              JOIN sizes sa ON sa.doc_id = i2.a
              JOIN sizes sb ON sb.doc_id = i2.b)
            SELECT e.a, e.b, coalesce(x.exact_jaccard, 0.0) AS exact_jaccard,
              round(e.n_match / 64.0, 4) AS est_jaccard,
              round(abs(round(e.n_match / 64.0, 4) - coalesce(x.exact_jaccard, 0.0)), 4) AS abs_err
            FROM est e LEFT JOIN ex x ON x.a = e.a AND x.b = e.b
            ORDER BY e.a, e.b"""))

  // ------------------------------------------------ boilerplate report (d23)
  /** d23: the corpus boilerplate report — every n-gram shingle whose
    * document frequency crosses `minDf`, with its df, how many distinct
    * SOURCES carry it, and its share of the corpus. This is the readout
    * behind the d04/d18 df-cap (the shingles this report surfaces are
    * exactly the ones the capped candidate join refuses to pair on) and
    * the thing a curation run reads before writing boilerplate-strip
    * rules: cross-source high-df shingles are web furniture ("all rights
    * reserved …"), single-source high-df shingles are a template farm —
    * different remediations, distinguished by `n_sources`.
    *
    * Scale shape: one doc-keyed join to attach sources (docs-table-sized,
    * AQE-planned), one shingle-keyed aggregate with map-side partials
    * (vocabulary-bounded output), a scalar total attached by cross-join
    * of a 1-row aggregate. Output ∝ hot vocabulary — tiny at any corpus
    * size; nothing pairwise anywhere. */
  def hotShingleReport(docs: DataFrame, minDf: Int): DataFrame =
    hotShingleReportFromHashes(docs, hashedShingles(shingleSets(docs)), minDf)

  /** [[hotShingleReport]] over an already-materialized hashed shingle
    * table (round 16: the corpus path reads the session-memoized hs@3). */
  def hotShingleReportFromHashes(docs: DataFrame, hsIn: DataFrame,
      minDf: Int): DataFrame = {
    val total = docs.agg(count(lit(1)).as("n_docs"))
    hsIn.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy("sh_h")
      .agg(count(lit(1)).as("df"), countDistinct("source").as("n_sources"))
      .filter(col("df") >= minDf)
      .crossJoin(total)
      .select(col("sh_h"), col("df"), col("n_sources"),
        round(col("df").cast("double") / col("n_docs").cast("double"), 6)
          .as("df_share"))
  }

  val hotReport = Q(
    "d23_boilerplate_report",
    (s, d) => hotShingleReportFromHashes(
      Tables.documents(s, d), corpusShingleHashes(s, d), 4),
    Some("""WITH sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                FROM (SELECT doc_id,
                        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '') AS ts
                      FROM documents),
                UNNEST(range(1, len(ts) - 1)) AS r(i))),
            src AS (
              SELECT ('0x' || substr(md5(s.shingle), 1, 15))::BIGINT AS sh_h, d.source
              FROM sh s JOIN documents d ON d.doc_id = s.doc_id),
            agg AS (
              SELECT sh_h, CAST(count(*) AS BIGINT) AS df,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources
              FROM src GROUP BY 1),
            tot AS (SELECT count(*) AS n_docs FROM documents)
            SELECT sh_h, df, n_sources,
              round(CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS df_share
            FROM agg, tot WHERE df >= 4 ORDER BY df DESC, sh_h"""))

  // --------------------------------------------- dup inflation (d24)
  /** d24: per-source duplication inflation — for every source: how many
    * of its documents are exact-dup REDUNDANT copies (not their group's
    * representative under d01's min-doc_id rule), the dup rate, and the
    * inflation factor (docs per surviving representative). This is the
    * source-level readout d20's n-gram matrix can't give: d20 says which
    * sources SHARE text, d24 says how much each source's volume is
    * self-inflated — the number a mixing policy divides by before
    * trusting raw per-source token mass (p06 applies it end-to-end).
    *
    * Scale shape: one fingerprint-keyed window (d01's shuffle) to mark
    * representatives, one source-keyed aggregate with map-side partials;
    * output = #sources. */
  def dupInflation(docs: DataFrame): DataFrame = {
    val marked = docs
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
    marked.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
          .as("n_redundant"))
      .select(
        col("source"), col("n_docs"), col("n_redundant"),
        round(col("n_redundant").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"),
        // safeFrac: a fully-mirrored feed — every doc a redundant copy of a
        // lower-id doc from ANOTHER source — has zero surviving
        // representatives, so the inflation denominator is 0; NULL (mirrored
        // via NULLIF in the oracle) is the honest readout, not a crash.
        round(safeFrac(col("n_docs"), col("n_docs") - col("n_redundant")), 6)
          .as("inflation"))
  }

  val inflation = Q(
    "d24_dup_inflation",
    (s, d) => dupInflation(Tables.documents(s, d)),
    Some("""WITH fp AS (
              SELECT doc_id, source,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            marked AS (
              SELECT doc_id, source,
                min(doc_id) OVER (PARTITION BY fp) AS keep_id
              FROM fp),
            agg AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_redundant
              FROM marked GROUP BY source)
            SELECT source, n_docs, n_redundant,
              round(CAST(n_redundant AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
                AS dup_rate,
              round(CAST(n_docs AS DOUBLE)
                / NULLIF(CAST(n_docs - n_redundant AS DOUBLE), 0.0), 6) AS inflation
            FROM agg ORDER BY source"""))

  // ----------------------------------------- cluster spectrum (d25)
  /** d25: exact-dup cluster-size spectrum — the corpus-wide histogram of
    * d01 fingerprint-group sizes: for every group size, how many groups,
    * how many docs they hold, how many of those are redundant copies,
    * and the share of the corpus living at that size. d24 answers "which
    * SOURCE is inflated"; this answers "what does the duplication look
    * like" — a corpus dominated by size-2 mirror pairs and one dominated
    * by thousand-copy boilerplate have the same dup RATE but need
    * different remedies (pair-level keep rules vs a template scrub), and
    * the spectrum is the one-page readout that tells them apart. The
    * max group size is also the empirical bound the d06/d10 union-find
    * LIMIT probes and the d02 band sizing reason about.
    *
    * Scale shape: d01's fingerprint aggregate, then a group-size-keyed
    * aggregate of the (already group-count-sized) result, then one 1-row
    * corpus-total attachment (bounded crossJoin, PlanAudit-allowlisted).
    * Output rows = #distinct group sizes — tiny at any corpus scale.
    */
  def clusterSpectrum(docs: DataFrame): DataFrame = {
    val sizes = docs
      .withColumn("fp", md5(normText(col("text"))))
      .groupBy("fp").agg(count(lit(1)).as("group_size"))
    val spec = sizes.groupBy("group_size").agg(count(lit(1)).as("n_groups"))
    val tot = docs.agg(count(lit(1)).as("n_total"))
    spec.crossJoin(tot)
      .select(
        col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"),
        ((col("group_size") - lit(1L)) * col("n_groups")).as("n_redundant"),
        round((col("group_size") * col("n_groups")).cast("double") /
          col("n_total").cast("double"), 6).as("doc_share"))
  }

  val spectrum = Q(
    "d25_cluster_spectrum",
    (s, d) => clusterSpectrum(Tables.documents(s, d)),
    Some("""WITH fp AS (
              SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            sizes AS (
              SELECT fp, CAST(count(*) AS BIGINT) AS group_size
              FROM fp GROUP BY fp),
            spec AS (
              SELECT group_size, CAST(count(*) AS BIGINT) AS n_groups
              FROM sizes GROUP BY group_size),
            tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
            SELECT group_size, n_groups,
              group_size * n_groups AS n_docs,
              (group_size - 1) * n_groups AS n_redundant,
              round(CAST(group_size * n_groups AS DOUBLE)
                / CAST(n_total AS DOUBLE), 6) AS doc_share
            FROM spec, tot ORDER BY group_size"""))

  // ----------------------------------------------- template scrub (d26)
  /** d26: boilerplate/template scrub — the APPLY step for d23's report,
    * the same report→edit relationship d13 has to d11. d23 names the
    * corpus-hot shingle vocabulary and t34 scores docs against it; this
    * operator actually EDITS the corpus: every token covered by any
    * corpus-hot 3-shingle occurrence ("all rights reserved …" furniture)
    * is cut, documents are reassembled from the surviving tokens, and
    * the output is the per-doc edit record (total/scrubbed counts, the
    * scrub fraction, and the digest of the cleaned text — the digest
    * keeps the oracle compact, exactly d13's convention). C4 drops
    * repeated lines; this is the n-gram-vocabulary generalization a
    * crawl pipeline runs against template farms.
    *
    * Scale shape: ONE corpus flatMap emits the positional token stream
    * with each position's 3-shingle hash alongside (no second
    * tokenization pass), eagerly materialized because three consumers
    * read it (execution rule 2 — the d12 pattern). The hot vocabulary is
    * a distinct+count over (doc, shingle) — d23's exact df definition;
    * coverage is a vocabulary-keyed equi-join + a bounded 3-way position
    * explode + distinct; the edit is one anti-join on (doc, pos) and a
    * doc-keyed reassembly aggregate. Everything is linear in token
    * volume; no self-join, no broadcast of anything corpus-sized. */
  def templateScrub(docs: DataFrame, minDf: Int = 4): DataFrame =
    templateScrubFromTokens(spreadTokenArrays(docs), minDf)

  /** [[templateScrub]] over a token-array table (the d26 query passes the
    * shared [[corpusTokenArrays]] checkpoint). Round 17: the positional
    * (pos, tok, sh_h) stream is expression-only — round 16 recorded a
    * measured failure for a codegen rewrite of the per-doc span dedup,
    * but that attempt re-tokenized per consumer; over pre-split token
    * arrays the stream is one explode of a transform() with no
    * SerializeFromObject boundary, and an interleaved A/B measured it
    * ahead of the flatMap form (OPTIMIZATION_r17 item 4; the deleted
    * TemplateProbe main, commit 12c9b58). Row-identical: pos is 1-based over the same
    * token array, sh_h present exactly when i + 3 ≤ len (null else). */
  def templateScrubFromTokens(toksTab: DataFrame, minDf: Int): DataFrame = {
    val stream = toksTab
      .select(col("doc_id"), explode(transform(col("ts"), (t, i) =>
        struct((i + 1).cast("long").as("pos"), t.as("tok"),
          when(i + lit(3) <= size(col("ts")),
            md5Hash60(concat_ws(" ", slice(col("ts"), i + 1, lit(3)))))
            .as("sh_h")))).as("e"))
      .select(col("doc_id"), col("e.pos").as("pos"),
        col("e.tok").as("tok"), col("e.sh_h").as("sh_h"))
      .localCheckpoint()
    templateScrubTail(stream, minDf)
  }

  /** The d26 tail over an already-materialized (doc_id, pos, tok, sh_h)
    * positional stream — hot vocabulary, coverage, edit, reassembly. */
  private[graft] def templateScrubTail(stream: DataFrame, minDf: Int): DataFrame = {
    val psh = stream.filter(col("sh_h").isNotNull)
    val hot = psh.select("doc_id", "sh_h").distinct()
      .groupBy("sh_h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select("sh_h")
    val covered = psh.join(hot, "sh_h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(2))).as("pos"))
      .distinct()
    val kept = stream.join(covered, Seq("doc_id", "pos"), "left_anti")
    val tot = stream.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ")).as("kept_md5"))
    tot.join(keptAgg, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_scrubbed"),
        round((col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("double") /
          col("n_tokens").cast("double"), 6).as("scrub_frac"),
        // md5("") for fully-scrubbed docs, in both engines.
        coalesce(col("kept_md5"), lit("d41d8cd98f00b204e9800998ecf8427e"))
          .as("kept_md5"))
  }

  val templateScrubQ = Q(
    "d26_template_scrub",
    (s, d) => templateScrubFromTokens(corpusTokenArrays(s, d), 4),
    Some("""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            ptoks AS (
              SELECT doc_id, i AS pos, ts[i] AS tok
              FROM toks, UNNEST(range(1, len(ts) + 1)) r(i)),
            psh AS (
              SELECT doc_id, i AS pos,
                ('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 1)) r(i)
              WHERE len(ts) >= 3),
            hot AS (
              SELECT sh_h FROM (
                SELECT sh_h, count(*) AS df
                FROM (SELECT DISTINCT doc_id, sh_h FROM psh) GROUP BY 1)
              WHERE df >= 4),
            cov AS (
              SELECT DISTINCT p.doc_id, p.pos + o.o AS pos
              FROM psh p JOIN hot h ON h.sh_h = p.sh_h,
                UNNEST(range(0, 3)) o(o)),
            kept AS (
              SELECT t.doc_id, t.pos, t.tok FROM ptoks t
              WHERE NOT EXISTS (
                SELECT 1 FROM cov c
                WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
            tot AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
              FROM ptoks GROUP BY 1),
            ka AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_md5
              FROM kept GROUP BY 1)
            SELECT t.doc_id, n_tokens,
              n_tokens - coalesce(n_kept, 0) AS n_scrubbed,
              round(CAST(n_tokens - coalesce(n_kept, 0) AS DOUBLE)
                / CAST(n_tokens AS DOUBLE), 6) AS scrub_frac,
              coalesce(kept_md5, md5('')) AS kept_md5
            FROM tot t LEFT JOIN ka USING (doc_id) ORDER BY doc_id"""))

  // ------------------------------------------ cluster source mix (d27)
  /** d27: NEAR-dup clusters at CLUSTER grain with their source
    * composition — for every d06 connected component: its size, how many
    * distinct sources its members span, the representative's source
    * (min_by over the unique doc_id — deterministic in both engines), and
    * the cross_source flag. d16's provenance matrix answers "which source
    * PAIRS copy each other" (pairwise, source-grain); d25 answers "what
    * sizes do clusters come in" (histogram); this is the middle grain —
    * the per-cluster triage row a curation run reads to decide
    * mirror-blocklist vs template-scrub per ACTUAL cluster, with the
    * representative to keep. (Cluster grain is the near-dup components:
    * the shipped corpora contain no byte-exact dup groups, so the exact
    * fingerprint grain would be a vacuous report here — the clone-storm
    * gate covers that regime.)
    *
    * Scale shape: d06's banded pipeline (its scale story), then one
    * doc-keyed join of the cluster membership (≪ corpus — AQE broadcasts)
    * against a source projection and a cluster-keyed aggregate. Output =
    * #clusters; nothing new grows with the corpus. */
  val clusterSourceMix = Q(
    "d27_cluster_source_mix",
    (s, d) => {
      val members = dedupClusters(s, d, 0.5)
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      members.join(src, "doc_id")
        .groupBy("cluster_rep", "cluster_size")
        .agg(
          countDistinct("source").as("n_sources"),
          expr("min_by(source, doc_id)").as("rep_source"))
        .withColumn("cross_source", col("n_sources") >= 2)
    },
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            cl AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
                   FROM labels GROUP BY label HAVING count(*) > 1),
            m AS (SELECT l.label AS cluster_rep, l.doc_id, c.cluster_size
                  FROM labels l JOIN cl c USING (label))
            SELECT m.cluster_rep, m.cluster_size,
              CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources,
              arg_min(d.source, m.doc_id) AS rep_source,
              (count(DISTINCT d.source) >= 2) AS cross_source
            FROM m JOIN documents d ON d.doc_id = m.doc_id
            GROUP BY m.cluster_rep, m.cluster_size
            ORDER BY m.cluster_rep"""))

  // ------------------------------------------- boilerplate drift (d28)
  /** d28: boilerplate DRIFT between the resident corpus and the newest
    * ingest wave (d10's newest-fifth split) — every shingle that is hot
    * in the delta (df ≥ 3), with both waves' document frequencies and
    * rates and an `emerging` flag for shingles whose delta rate is ≥ 4×
    * their resident rate. d23 answers "what boilerplate does the corpus
    * carry"; this answers the operational question a daily ingest
    * actually asks: "did TODAY's crawl bring a NEW template" — the
    * signal that updates d26's scrub vocabulary and re-arms the d04/d18
    * df-cap before the new template floods candidate generation. s16's
    * stance (resident-vs-wave tripwire) on the text axis.
    *
    * Determinism: the emerging compare is pure BIGINT cross-
    * multiplication (delta_df·resident_docs ≥ 4·resident_df·delta_docs)
    * — no fp boundary anywhere; display rates ride safeFrac/NULLIF.
    *
    * Scale shape: d23's exactly — one shingle pass, one (shingle, wave)
    * aggregate with map-side partials (vocabulary-bounded), a 2-row wave
    * count attached by allowlisted 1-row crossJoin. Output ∝ the
    * delta-hot vocabulary. Degenerates: an empty corpus is empty; an
    * empty resident side makes every delta-hot shingle emerging (all of
    * today's templates are new — the semantically right answer). */
  def boilerplateDrift(docs: DataFrame, minDeltaDf: Int = 3,
      ratio: Int = 4): DataFrame =
    boilerplateDriftFromHashes(docs, hashedShingles(shingleSets(docs)),
      minDeltaDf, ratio)

  /** [[boilerplateDrift]] over an already-materialized hashed shingle
    * table (round 16: the d28 query and p13's template leg read the
    * session-memoized hs@3 instead of re-tokenizing the corpus). */
  def boilerplateDriftFromHashes(docs: DataFrame, hsIn: DataFrame,
      minDeltaDf: Int = 3, ratio: Int = 4): DataFrame = {
    val mx = docs.agg(max("doc_id")).head()
    val split = if (mx.isNullAt(0)) 0L else mx.getLong(0) * 4 / 5
    val tagged = docs.select(col("doc_id"),
      when(col("doc_id") >= split, lit("delta")).otherwise(lit("resident"))
        .as("wave"))
    val waveCounts = tagged.agg(
      sum(when(col("wave") === "resident", 1L).otherwise(0L)).as("resident_docs"),
      sum(when(col("wave") === "delta", 1L).otherwise(0L)).as("delta_docs"))
    val df = hsIn
      .join(tagged, "doc_id")
      .groupBy("sh_h", "wave").agg(count(lit(1)).as("df"))
    val res = df.filter(col("wave") === "resident")
      .select(col("sh_h"), col("df").as("rdf"))
    val del = df.filter(col("wave") === "delta")
      .select(col("sh_h"), col("df").as("ddf"))
    del.filter(col("ddf") >= minDeltaDf)
      .join(res, Seq("sh_h"), "left")
      .crossJoin(waveCounts)
      .select(
        col("sh_h"),
        coalesce(col("rdf"), lit(0L)).as("resident_df"),
        col("ddf").as("delta_df"),
        round(safeFrac(coalesce(col("rdf"), lit(0L)), col("resident_docs")), 6)
          .as("resident_rate"),
        round(safeFrac(col("ddf"), col("delta_docs")), 6).as("delta_rate"),
        (col("ddf") * col("resident_docs") >=
          lit(ratio.toLong) * coalesce(col("rdf"), lit(0L)) * col("delta_docs"))
          .as("emerging"))
  }

  /** d28's oracle CTE chain, ending in relation `d28_rows(sh_h,
    * resident_df, delta_df, resident_rate, delta_rate, emerging)` — CTE
    * names b-prefixed so p13's composed oracle can mount this chain next
    * to s16's without collisions. */
  private[operators] val boilerplateDriftSqlCtes =
    """bmx AS (SELECT max(doc_id) AS m FROM documents),
            btag AS (
              SELECT doc_id,
                CASE WHEN doc_id >= (SELECT m * 4 // 5 FROM bmx)
                     THEN 'delta' ELSE 'resident' END AS wave
              FROM documents),
            bwc AS (
              SELECT CAST(sum(CASE WHEN wave = 'resident' THEN 1 ELSE 0 END) AS BIGINT)
                       AS resident_docs,
                     CAST(sum(CASE WHEN wave = 'delta' THEN 1 ELSE 0 END) AS BIGINT)
                       AS delta_docs
              FROM btag),
            bsh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                FROM (SELECT doc_id,
                        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                    t -> t <> '') AS ts
                      FROM documents),
                UNNEST(range(1, len(ts) - 1)) AS r(i))),
            bhs AS (
              SELECT ('0x' || substr(md5(s.shingle), 1, 15))::BIGINT AS sh_h,
                t.wave
              FROM bsh s JOIN btag t ON t.doc_id = s.doc_id),
            bdf AS (
              SELECT sh_h, wave, CAST(count(*) AS BIGINT) AS df
              FROM bhs GROUP BY 1, 2),
            br AS (SELECT sh_h, df AS rdf FROM bdf WHERE wave = 'resident'),
            bdl AS (SELECT sh_h, df AS ddf FROM bdf WHERE wave = 'delta'),
            d28_rows AS (
              SELECT bdl.sh_h,
                CAST(coalesce(br.rdf, 0) AS BIGINT) AS resident_df,
                bdl.ddf AS delta_df,
                round(CAST(coalesce(br.rdf, 0) AS DOUBLE)
                  / NULLIF(CAST(bwc.resident_docs AS DOUBLE), 0.0), 6) AS resident_rate,
                round(CAST(bdl.ddf AS DOUBLE)
                  / NULLIF(CAST(bwc.delta_docs AS DOUBLE), 0.0), 6) AS delta_rate,
                (bdl.ddf * bwc.resident_docs >= 4 * coalesce(br.rdf, 0) * bwc.delta_docs)
                  AS emerging
              FROM bdl LEFT JOIN br ON br.sh_h = bdl.sh_h, bwc
              WHERE bdl.ddf >= 3)"""

  val boilerplateDriftQ = Q(
    "d28_boilerplate_drift",
    (s, d) => boilerplateDriftFromHashes(
      Tables.documents(s, d), corpusShingleHashes(s, d)),
    Some(s"""WITH $boilerplateDriftSqlCtes
            SELECT sh_h, resident_df, delta_df, resident_rate, delta_rate,
              emerging
            FROM d28_rows ORDER BY delta_df DESC, sh_h"""))

  // -------------------------- content-defined chunk dedup (d29)
  /** d29: cross-document CONTENT-DEFINED chunk dedup — d13's edit
    * semantics (corpus-first occurrence keeps, every later occurrence
    * drops, documents reassembled from survivors) with the one change
    * that matters for near-duplicate corpora: chunk boundaries are
    * CONTENT-DEFINED (a chunk closes after any token whose 60-bit md5
    * hash ≡ 0 mod `g` — the LBFS/rsync/FastCDC boundary rule), not
    * aligned to fixed token offsets. d13's fixed `w`-token grid loses
    * every chunk after a single leading insertion (all downstream
    * boundaries shift by one token); content-defined boundaries
    * RESYNCHRONIZE within ~g tokens of any edit, so two documents
    * sharing a long run produce identical interior chunks wherever that
    * run sits in either document — the property storage dedup systems
    * buy with the same trick, applied to the token stream. Chunks under
    * `minTokens` tokens never participate (a 1-token chunk appearing
    * everywhere is vocabulary, not duplication) and are always kept.
    * Output is the per-doc edit record: chunk counts, dropped count,
    * drop fraction, and the md5 digest of the document reassembled from
    * surviving chunks of the NORMALIZED token stream in original order
    * (chunking is defined on the normalized stream, so the reassembly
    * is too; the digest keeps the oracle compact — d13/d26's
    * convention). Token-less docs still get a row (zero counts, digest
    * of "") — the degenerate-input stance everywhere else.
    *
    * Scale shape: chunking is ONE typed flatMap (per-doc local walk —
    * boundary hashes never shuffle, and unlike the SQL formulation
    * there is no per-token window); ownership is a key-grouped
    * min(struct(doc_id, chunk)) — associative, so map-side combine
    * collapses a boilerplate chunk that appears in EVERY document to
    * one row per partition before the shuffle; the mark-kept join is
    * key-equi with 1:1 fan-out per occurrence (each occurrence meets
    * exactly its one ownership row — a corpus-hot chunk never
    * multiplies rows, unlike a shingle pair join, so this needs NO df
    * cap to be boilerplate-immune); the rollup is doc-keyed with
    * per-doc-bounded collect state (d26's reassembly bound). Everything
    * is linear in token volume at any scale. */
  /** The content-defined chunk stream shared by d29 (dedup) and d30 (hot-
    * chunk provenance): one typed flatMap per doc — boundary hashes never
    * shuffle. Columns: (doc_id, pos, sent, sk, dedupable). */
  private[operators] def cdcChunks(docs: DataFrame, g: Int,
      minTokens: Int): DataFrame =
    cdcChunksFromTokens(spreadTokenArrays(docs), g, minTokens)

  /** [[cdcChunks]] over a token-array table (the corpus memo passes the
    * shared [[corpusTokenArrays]] checkpoint — one tokenize pass serves
    * cdc AND the hs@n family). Round-17 per-task rework of the walk: the
    * boundary test depends only on the TOKEN STRING (and g), and natural
    * vocabulary is tiny relative to token volume, so a per-task cache
    * computes each distinct token's MD5 once instead of once per
    * occurrence (~50× fewer digests on ordinary text); the 60-bit value
    * is read straight off the digest bytes ((7 bytes << 4) | high nibble
    * of the 8th — exactly `parseLong(hex.take(15), 16)`, pinned by
    * RollingHashSpec) instead of a per-byte format/parse round-trip.
    * Chunk-for-chunk identical: same boundary decisions, same walk. */
  private[graft] def cdcChunksFromTokens(toks: DataFrame, g: Int,
      minTokens: Int): DataFrame = {
    import toks.sparkSession.implicits._
    val occ0 = toks.select(col("doc_id"), col("ts")).as[(Long, Seq[String])]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val bCache = new java.util.HashMap[String, java.lang.Boolean]()
        def isBoundary(t: String): Boolean = {
          val c = bCache.get(t)
          if (c != null) c.booleanValue()
          else {
            md.reset()
            val d = md.digest(t.getBytes("UTF-8"))
            var v = 0L
            var i = 0
            while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
            v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
            val b = v % g == 0
            bCache.put(t, java.lang.Boolean.valueOf(b))
            b
          }
        }
        it.flatMap { case (id, ts) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Int)]
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          def close(): Unit = if (buf.nonEmpty) {
            out += ((id, out.length + 1L, buf.mkString(" "), buf.length))
            buf.clear()
          }
          ts.foreach { t =>
            buf += t
            if (isBoundary(t)) close()
          }
          close()
          out.iterator
        }
      }
      .toDF("doc_id", "pos", "sent", "ntk")
    occ0.select(col("doc_id"), col("pos"), col("sent"),
      md5Hash60(col("sent")).as("sk"),
      (col("ntk") >= minTokens).as("dedupable"))
  }

  /** d29/d30's shared oracle CTE prefix: the content-defined chunk walk,
    * ending in relation `k(doc_id, pos, sent, sk, dedupable)` — mirrors
    * [[cdcChunks]] at g = 8, minTokens = 3 (the registered parameters). */
  private[operators] val cdcChunkSqlCtes =
    """toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS tk
              FROM documents),
            pt AS (
              SELECT doc_id, i AS tpos, tk[i] AS tok,
                (('0x' || substr(md5(tk[i]), 1, 15))::BIGINT % 8 = 0) AS bnd
              FROM toks, UNNEST(range(1, len(tk) + 1)) r(i)),
            cidx AS (
              SELECT doc_id, tpos, tok,
                coalesce(sum(CASE WHEN bnd THEN 1 ELSE 0 END) OVER (
                  PARTITION BY doc_id ORDER BY tpos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                  AS pos
              FROM pt),
            k AS (
              SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                string_agg(tok, ' ' ORDER BY tpos) AS sent,
                ('0x' || substr(md5(string_agg(tok, ' ' ORDER BY tpos)), 1, 15))::BIGINT AS sk,
                count(*) >= 3 AS dedupable
              FROM cidx GROUP BY doc_id, pos)"""

  /** The corpus's CDC chunk-occurrence table, memoized + checkpointed —
    * round 16: d29 and d30 each re-ran the per-token-MD5 chunk walk
    * (d29 even twice per run — `occ` had two lazy consumers), so the
    * chunk table joins the hs/sigs/banded artifact family: built once
    * per (session, corpus, stamp, g, minTokens), read marginally. */
  private[operators] def corpusCdcChunks(spark: SparkSession, d: String,
      g: Int = 8, minTokens: Int = 3): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, s"cdc@$g@$minTokens")(
      cdcChunksFromTokens(corpusTokenArrays(spark, d), g, minTokens))

  def cdcDedup(docs: DataFrame, g: Int = 8, minTokens: Int = 3): DataFrame =
    cdcDedupFromChunks(docs, cdcChunks(docs, g, minTokens))

  /** [[cdcDedup]] over an already-materialized chunk table (the corpus
    * path reads the session-memoized one). */
  def cdcDedupFromChunks(docs: DataFrame, occ: DataFrame): DataFrame = {
    val first = occ.filter(col("dedupable"))
      .groupBy("sk").agg(min(struct(col("doc_id"), col("pos"))).as("f"))
      .select(col("sk"), col("f.doc_id").as("f_doc"), col("f.pos").as("f_pos"))
    val marked = occ.join(first, Seq("sk"), "left")
      .withColumn("kept",
        not(col("dedupable")) ||
          (col("doc_id") === col("f_doc") && col("pos") === col("f_pos")))
    val per = marked.groupBy("doc_id").agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("dedupable"), 1L).otherwise(0L)).as("n_dedupable"),
      sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
      md5(concat_ws(" ",
        transform(
          sort_array(collect_list(
            when(col("kept"), struct(col("pos"), col("sent"))))),
          x => x.getField("sent")))).as("clean_digest"))
    docs.select("doc_id").join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dedupable"), lit(0L)).as("n_dedupable"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        coalesce(col("clean_digest"), md5(lit(""))).as("clean_digest"))
      .withColumn("drop_frac",
        round(safeFrac(col("n_dropped"), col("n_dedupable")), 6))
  }

  val cdcDedupQ = Q(
    "d29_cdc_dedup",
    (s, d) => cdcDedupFromChunks(
      Tables.documents(s, d), corpusCdcChunks(s, d, 8, 3)),
    Some(s"""WITH $cdcChunkSqlCtes,
            f AS (
              SELECT sk, first(doc_id ORDER BY doc_id, pos) AS f_doc,
                     first(pos ORDER BY doc_id, pos) AS f_pos
              FROM k WHERE dedupable GROUP BY sk),
            mk AS (
              SELECT k.doc_id, k.pos, k.sent, k.dedupable,
                (NOT k.dedupable) OR (k.doc_id = f.f_doc AND k.pos = f.f_pos)
                  AS kept
              FROM k LEFT JOIN f ON f.sk = k.sk),
            per AS (
              SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_chunks,
                CAST(sum(CASE WHEN dedupable THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dedupable,
                CAST(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dropped,
                md5(coalesce(string_agg(CASE WHEN kept THEN sent END, ' '
                  ORDER BY pos), '')) AS clean_digest
              FROM mk GROUP BY doc_id)
            SELECT d.doc_id,
              CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
              CAST(coalesce(p.n_dedupable, 0) AS BIGINT) AS n_dedupable,
              CAST(coalesce(p.n_dropped, 0) AS BIGINT) AS n_dropped,
              coalesce(p.clean_digest, md5('')) AS clean_digest,
              round(CAST(coalesce(p.n_dropped, 0) AS DOUBLE)
                / NULLIF(CAST(coalesce(p.n_dedupable, 0) AS DOUBLE), 0.0), 6)
                AS drop_frac
            FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
            ORDER BY d.doc_id"""))

  // -------------------------- hot-chunk provenance (d30)
  /** d30: the scrub-vocabulary readout of d29's chunk stream — every
    * content-defined chunk that appears in MORE THAN ONE document, with
    * its occurrence count, document count, source spread, and a
    * cross-source flag. This is the "what exactly is duplicated, and is
    * it one feed's template or corpus-wide boilerplate" report a
    * curation team reads before re-arming d26's scrub list: d23/d28
    * answer it at shingle grain (fixed 5-gram lines), d30 at the edit
    * grain d29 actually dedups at, so a row here IS a chunk d29 will
    * drop everywhere but its first occurrence. Emitting the chunk text
    * (not just the hash) is the point — the report is the actionable
    * scrub list.
    *
    * Scale shape: the shared [[cdcChunks]] flatMap, then ONE chunk-keyed
    * aggregate (count / distinct-doc / distinct-source all in one pass;
    * map-side combine collapses corpus-hot chunks per partition) with a
    * HAVING-style filter to n_docs ≥ 2 — output bounded by the
    * DUPLICATED chunk vocabulary, which a healthy corpus keeps tiny and
    * a templated one makes exactly the rows you want to read. No joins
    * beyond the source attach, no windows, no df cap needed (occurrence
    * rows never pair — d29's 1:1 argument). */
  def hotChunks(docs: DataFrame, g: Int = 8, minTokens: Int = 3): DataFrame =
    hotChunksFromChunks(docs, cdcChunks(docs, g, minTokens))

  /** [[hotChunks]] over an already-materialized chunk table (the corpus
    * path reads the session-memoized one). */
  def hotChunksFromChunks(docs: DataFrame, occIn: DataFrame): DataFrame = {
    val occ = occIn.filter(col("dedupable"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    occ.groupBy("sk").agg(
        first(col("sent")).as("chunk"),
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= 2)
      .select(col("chunk"), col("n_occ"), col("n_docs"), col("n_sources"),
        (col("n_sources") >= 2).as("cross_source"))
  }

  val hotChunksQ = Q(
    "d30_hot_chunks",
    (s, d) => hotChunksFromChunks(
      Tables.documents(s, d), corpusCdcChunks(s, d, 8, 3)),
    Some(s"""WITH $cdcChunkSqlCtes,
            occ AS (
              SELECT k.sk, k.sent, k.doc_id, d.source
              FROM k JOIN documents d ON d.doc_id = k.doc_id
              WHERE k.dedupable),
            agg AS (
              SELECT sent AS chunk,
                CAST(count(*) AS BIGINT) AS n_occ,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources
              FROM occ GROUP BY sent)
            SELECT chunk, n_occ, n_docs, n_sources,
              n_sources >= 2 AS cross_source
            FROM agg WHERE n_docs >= 2
            ORDER BY n_occ DESC, chunk"""))

  // --------------------------------------- soft-dedup weights (d31)
  /** d31: soft deduplication — the "keep the copies but DOWNWEIGHT them"
    * alternative to d01's hard drop, per source: raw token mass, unique
    * (keeper-only) mass, and the EFFECTIVE mass when every document in
    * an exact-dup cluster of size c samples at weight 1/c, so each
    * distinct content contributes its token mass exactly once in
    * expectation regardless of how many copies exist or which sources
    * hold them. Hard dedup (d24/p06) assigns each content entirely to
    * its keeper's source; soft dedup SPLITS the contribution across the
    * sources that actually carry the copies — the fair attribution a
    * mixing policy wants when two sources legitimately mirror the same
    * content and neither should lose it. tokens_unique ≤
    * tokens_effective ≤ tokens_raw per source is NOT guaranteed on the
    * left (a source whose contents are keeper-attributed elsewhere has
    * unique 0 but effective > 0) — which is precisely the information
    * hard attribution destroys.
    *
    * Exactness: weights are integer MICRO-units (1000000 div c — one
    * BIGINT division, identical in both engines), and per-doc
    * contributions n_tokens · (10⁶ div c) are summed as BIGINTs, so no
    * float enters before the final display ratio. Clusters with more
    * than 10⁶ copies round to weight 0 (their expected contribution is
    * < one micro-token per copy); per-source micro sums stay inside
    * BIGINT below ~9·10¹² raw tokens per source — at a true 100 TB
    * per-source mass you'd shift one unit down (milli), the same knob
    * t39/t40 turn.
    *
    * Scale shape: d24's exactly — one fingerprint-keyed window shuffle
    * (cluster size + keeper in the same pass), one source-keyed
    * aggregate with map-side partials; output = #sources rows. */
  def softDedupWeights(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("fp")
    val marked = docs
      .select(col("doc_id"), col("source"),
        md5(normText(col("text"))).as("fp"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("csize", count(lit(1)).over(w))
      .withColumn("keep_id", min("doc_id").over(w))
    marked.groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens_raw"),
        sum(when(col("doc_id") === col("keep_id"), col("n_tokens"))
          .otherwise(0L)).as("tokens_unique"),
        sum(expr("n_tokens * (1000000L div csize)")).as("tokens_soft_micro"))
      .select(col("source"), col("n_docs"), col("tokens_raw"),
        col("tokens_unique"), col("tokens_soft_micro"),
        expr("tokens_soft_micro div 1000000L").as("tokens_effective"),
        round(safeFrac(col("tokens_soft_micro"),
          col("tokens_raw") * lit(1000000L)), 6).as("soft_frac"))
  }

  val softDedupQ = Q(
    "d31_soft_dedup",
    (s, d) => softDedupWeights(Tables.documents(s, d)),
    Some("""WITH fp AS (
              SELECT doc_id, source,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                CAST(len(list_filter(
                  regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS BIGINT) AS n_tokens
              FROM documents),
            marked AS (
              SELECT doc_id, source, n_tokens,
                CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS csize,
                min(doc_id) OVER (PARTITION BY fp) AS keep_id
              FROM fp),
            agg AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS tokens_raw,
                CAST(sum(CASE WHEN doc_id = keep_id THEN n_tokens ELSE 0 END)
                  AS BIGINT) AS tokens_unique,
                CAST(sum(n_tokens * CAST(1000000 // csize AS BIGINT))
                  AS BIGINT) AS tokens_soft_micro
              FROM marked GROUP BY source)
            SELECT source, n_docs, tokens_raw, tokens_unique,
              tokens_soft_micro,
              CAST(tokens_soft_micro // 1000000 AS BIGINT) AS tokens_effective,
              round(CAST(tokens_soft_micro AS DOUBLE) /
                NULLIF(CAST(tokens_raw * 1000000 AS DOUBLE), 0.0), 6)
                AS soft_frac
            FROM agg ORDER BY source"""))

  // ---------------------------------- incremental near-dup gate (d32)
  /** d32: the incremental NEAR-dup admission gate — d10's daily-delta
    * move lifted from exact fingerprints to MinHash-LSH: every wave
    * document (the `doc_id % 7 == 0` slice, the %-slice harness
    * convention) is screened against the RESIDENT corpus only, and gets
    * a verdict row: how many resident near-dups (exact Jaccard ≥ 0.5
    * over verified LSH candidates, d02's contract), its best resident
    * match, and the admit bit. d10 admits a delta that isn't a BYTE
    * copy; this is the gate that also bounces the re-crawl with a new
    * timestamp footer — the near-dup the exact gate structurally
    * misses. Wave docs with no candidates (including shingle-less tiny
    * docs) still get their row — a gate that drops silent rows isn't a
    * gate.
    *
    * Scale shape: ONE shingle pass over both populations feeds
    * signatures, sizes, and the verify join (the d02 sharing rule); the
    * banded table is checkpointed once and probed BIPARTITE — wave
    * bands × resident bands only, never resident × resident, so the
    * candidate volume is delta-proportional (in production the wave IS
    * the daily delta and the resident bands come from d10's persisted
    * index — same layout, probed from disk). Verification touches only
    * candidate pairs; the verdict rollup is wave-keyed with a bounded
    * struct-max. Tie rule: best match = max (jaccard, lowest resident
    * id) on the round-4 grid — d15's deterministic-representative
    * stance. */
  def incrementalNearDup(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val hs = materializedShingleHashes(docs)
    // Bucket cap BEFORE the bipartite split (population = wave + resident,
    // the same total-size rule as the self-join family): a boiler-heavy
    // resident corpus where one band signature is corpus-hot would
    // otherwise make the probe wave × corpus; capped, a bucket emits at
    // most wave_in_bucket × resident_in_bucket ≤ cap²/4 pairs, and a hot
    // bucket costs cap+1 longs of aggregation buffer (the bounded
    // collector — same kernel as the d02 self-join family, expanded
    // bipartite: wave members × resident members of each healthy bucket).
    val cand = bipartiteWaveCandidates(
      bucketIds(bandBuckets(signaturesFromHashes(hs)), BandBucketCap))
    val verified = jaccardPairsHashed(hs, Some(cand))
      .filter(col("jaccard") >= threshold)
    incrementalNearDupTail(docs, verified)
  }

  /** d32's corpus path: candidate generation reads the session-memoized
    * capped bucket table (ONE expansion, no signature rebuild) and the
    * verify values come from the memoized a<b verified-pair table — a
    * bipartite (wave, resident) pair shares a healthy bucket iff its
    * unordered form does, and Jaccard is symmetric, so attaching by
    * (least, greatest) key is value-identical to re-running the verify
    * join (which the generic path above still does). */
  def incrementalNearDupCorpus(spark: SparkSession, d: String,
      threshold: Double = 0.5): DataFrame = {
    val cand = bipartiteWaveCandidates(corpusBucketIds(spark, d))
    val verified = cand
      .join(
        corpusVerifiedPairs(spark, d).select(
          col("a").as("va"), col("b").as("vb"), col("jaccard")),
        least(col("a"), col("b")) === col("va") &&
          greatest(col("a"), col("b")) === col("vb"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
    incrementalNearDupTail(Tables.documents(spark, d), verified)
  }

  /** (a = wave member, b = resident member) pairs of each healthy capped
    * bucket — the bipartite expansion of the bounded-ids table. */
  private def bipartiteWaveCandidates(bids: DataFrame): DataFrame =
    bids
      .select(explode(expr(
        """flatten(transform(filter(ids, x -> x % 7 = 0),
          |  a -> transform(filter(ids, y -> y % 7 <> 0),
          |       b -> struct(a AS a, b AS b))))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  private def incrementalNearDupTail(docs: DataFrame, verified: DataFrame): DataFrame = {
    val isWave = col("doc_id") % 7 === 0
    val best = verified
      .groupBy(col("a").as("doc_id"))
      .agg(count(lit(1)).as("nm"),
        max(struct(col("jaccard"), (-col("b")).as("nb"), col("b"))).as("k"))
      .select(col("doc_id"), col("nm"), col("k.b").as("best_match"),
        col("k.jaccard").as("best_jaccard"))
    docs.filter(isWave).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        col("best_match"), col("best_jaccard"),
        (coalesce(col("nm"), lit(0L)) === 0L).as("admit"))
  }

  // Oracle equivalence rides the same xxhash64-bucket ≡ exact-band-
  // signature assumption documented at [[minhashOracleCtes]] (candidate
  // admission AND the okbw bucket-size census both group by exact bsig
  // where Scala groups by the 8-byte hash; divergence needs a ~2⁻⁶⁴
  // signature collision).
  val incrementalNearDupQ = Q(
    "d32_incremental_neardup",
    (s, d) => incrementalNearDupCorpus(s, d),
    Some(s"""WITH $minhashSigCtes,
            okbw AS (SELECT band, bsig FROM bands GROUP BY band, bsig
                     HAVING count(*) <= $BandBucketCap),
            candw AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM bands x
              JOIN okbw ON okbw.band = x.band AND okbw.bsig = x.bsig
              JOIN bands y
                ON x.band = y.band AND x.bsig = y.bsig
              WHERE x.doc_id % 7 = 0 AND y.doc_id % 7 <> 0),
            interw AS (
              SELECT c.a, c.b, count(*) AS n_common
              FROM candw c
              JOIN hs x ON x.doc_id = c.a
              JOIN hs y ON y.doc_id = c.b AND y.sh_h = x.sh_h
              GROUP BY c.a, c.b),
            ver AS (
              SELECT a, b,
                round(CAST(n_common AS DOUBLE)
                  / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) AS jaccard
              FROM interw
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b),
            vv AS (SELECT * FROM ver WHERE jaccard >= 0.5),
            rk AS (
              SELECT a, b, jaccard,
                row_number() OVER (PARTITION BY a
                  ORDER BY jaccard DESC, b) AS rn,
                CAST(count(*) OVER (PARTITION BY a) AS BIGINT) AS nm
              FROM vv),
            best AS (
              SELECT a AS doc_id, nm, b AS best_match, jaccard AS best_jaccard
              FROM rk WHERE rn = 1),
            wave AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
            SELECT w.doc_id,
              CAST(coalesce(nm, 0) AS BIGINT) AS n_matches,
              best_match, best_jaccard,
              coalesce(nm, 0) = 0 AS admit
            FROM wave w LEFT JOIN best ON best.doc_id = w.doc_id
            ORDER BY w.doc_id"""))

  // ---------------------------------------- df-cap operating curve (d33)
  /** d33: the shingle df-cap's OPERATING CURVE — candidate volume and
    * emitted near-dup pairs (exact Jaccard ≥ 0.12, d04's contract) at
    * cap ∈ {8, 64, 256}. This is the evidence behind `ShingleDfCap = 64`
    * made queryable: a pipeline owner tuning the cap reads where the
    * candidate count explodes versus where emitted pairs stop changing
    * (on healthy corpora the pair column is FLAT across caps — every
    * true pair shares a sub-cap shingle — while candidates grow with
    * cap; a boilerplate-heavy corpus shows the same flat pairs over a
    * detonating candidate column, which is the cap's whole argument).
    *
    * Scale shape: ONE run of the capped kernel at the LARGEST cap (256²-
    * bounded per shingle), carrying each pair's min shared-shingle df —
    * a pair is a candidate at cap c iff min_df ≤ c, so the three curve
    * points are conditional counts over one pair table, not three kernel
    * runs; Jaccard stays exact over ALL shingles (hot-set recovery at
    * the 256 boundary, d04's arithmetic). Output exactly 3 rows.
    *
    * Takes an already-materialized hashed shingle table (the corpus path
    * reads the session-memoized one; DedupCapSpec's d33 curve test drives
    * a planted boiler corpus through it). */
  def capOperatingCurveFromHashes(hs: DataFrame,
      caps: Seq[Long] = Seq(8L, 64L, 256L)): DataFrame = {
    import hs.sparkSession.implicits._
    val stats = jaccardFromCounts(hs,
      cappedSharedCounts(hs, caps.max, "a", "b", None, minDf = true)
        .withColumnRenamed("n_shared", "n_common"))
    // 3-row base LEFT join so an empty corpus still reports zero rows
    // per cap (the oracle's shape).
    caps.toDF("df_cap")
      .join(stats
        .select(explode(typedLit(caps)).as("df_cap"), col("min_df"), col("jaccard"))
        .filter(col("min_df") <= col("df_cap"))
        .groupBy("df_cap")
        .agg(count(lit(1)).as("nc"),
          count(when(col("jaccard") >= 0.12, 1)).as("np")),
        Seq("df_cap"), "left")
      .select(col("df_cap"),
        coalesce(col("nc"), lit(0L)).as("n_candidates"),
        coalesce(col("np"), lit(0L)).as("n_pairs"))
  }

  val capCurve = Q(
    "d33_cap_operating_curve",
    (s, d) => capOperatingCurveFromHashes(corpusShingleHashes(s, d)),
    Some(s"""WITH sh AS (
              SELECT DISTINCT doc_id, shingle FROM (
                SELECT doc_id,
                  ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
                FROM (
                  SELECT doc_id,
                    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> '') AS ts
                  FROM documents),
                UNNEST(range(1, len(ts) - 1)) AS r(i))),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            inter AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common,
                sum(CASE WHEN f.df <= 8 THEN 1 ELSE 0 END) AS r8,
                sum(CASE WHEN f.df <= 64 THEN 1 ELSE 0 END) AS r64,
                sum(CASE WHEN f.df <= 256 THEN 1 ELSE 0 END) AS r256
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                        JOIN dfq f ON f.shingle = x.shingle
              GROUP BY 1, 2),
            j AS (
              SELECT r8, r64, r256,
                round(CAST(n_common AS DOUBLE)
                  / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) AS jac
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b)
            SELECT CAST(8 AS BIGINT) AS df_cap,
              CAST(count(*) FILTER (WHERE r8 > 0) AS BIGINT) AS n_candidates,
              CAST(count(*) FILTER (WHERE r8 > 0 AND jac >= 0.12) AS BIGINT) AS n_pairs
            FROM j
            UNION ALL
            SELECT CAST(64 AS BIGINT),
              CAST(count(*) FILTER (WHERE r64 > 0) AS BIGINT),
              CAST(count(*) FILTER (WHERE r64 > 0 AND jac >= 0.12) AS BIGINT)
            FROM j
            UNION ALL
            SELECT CAST(256 AS BIGINT),
              CAST(count(*) FILTER (WHERE r256 > 0) AS BIGINT),
              CAST(count(*) FILTER (WHERE r256 > 0 AND jac >= 0.12) AS BIGINT)
            FROM j
            ORDER BY df_cap"""))

  // ------------------------------------- LSH band operating curve (d34)
  /** d34: the MinHash-LSH BANDING operating curve — candidate volume,
    * verified pairs, and recall against the exact near-dup truth at
    * nBands ∈ {4, 8, 16} (prefixes of the 16-band table). s19 is this
    * measurement for IVF routing; this is the document-LSH twin: the
    * banding-theory tradeoff (more bands = more candidates = higher
    * recall) measured on THIS corpus instead of assumed from the
    * (1−(1−J^r)^b) curve. Truth = d04's capped-exact pairs at J ≥ 0.5
    * (the same kernel whose equivalence DedupCapSpec pins); recall at
    * 16 bands is d02's operating point.
    *
    * Scale shape: ONE candidate generation over the full 16-band table —
    * each pair carries the MIN band whose healthy (BandBucketCap'd)
    * bucket joins it, and candidacy at prefix B is exactly `b0 < B` —
    * plus ONE verify join and one truth-kernel run; the three curve rows
    * are conditional counts over the checkpointed pair tables (bounded
    * × 1 row crossJoins, PlanAudit-allowlisted). Output exactly 3 rows. */
  /** d34's kernel: `bids` is a capped (band, bucket, ids) table,
    * `verify` maps the expanded candidate pair set to its Jaccard-≥-0.5
    * verified subset (the corpus path returns the memoized verified-pair
    * slice — it covers exactly the pairs `bids` expands, and the
    * candidate join below restricts it; the generic path runs the verify
    * join), `truth` the capped-exact ≥ 0.5 pair set. */
  private def bandOperatingCurveCore(bids: DataFrame,
      verify: DataFrame => DataFrame, truth: DataFrame): DataFrame = {
      val cand = bids
        .select(col("band"), explode(expr(
          """flatten(transform(ids,
            |  (x, i) -> transform(slice(ids, i + 2, size(ids)),
            |            y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(min("band").as("b0"))
        .localCheckpoint()
      val ver = verify(cand.select("a", "b"))
        .join(cand, Seq("a", "b")).localCheckpoint()
      val verHit = ver.join(truth, Seq("a", "b"), "leftsemi")
      // The three curve rows used to be three union arms of four filtered
      // aggregates each — 12 tiny jobs + 9 crossJoin barriers of pure
      // orchestration over the two checkpoints. The prefixes are nested
      // (`b0 < 4 ⊂ b0 < 8 ⊂ b0 < 16`), so ONE conditional-sum pass per
      // table yields all three counts as an array; rows assemble by
      // posexploding the literal prefix list over the 1-row aggregates.
      // count-over-filter ≡ coalesce(sum(when), 0): sum is null only on a
      // zero-row input, where the filtered count was 0. Value-identical
      // (d34's oracle re-proves; the curve-shape spec pins the generic
      // path).
      val nbs = Seq(4L, 8L, 16L)
      def prefixCounts(df: DataFrame, name: String): DataFrame = df.agg(
        array(nbs.map(nb => sum(when(col("b0") < nb, 1L).otherwise(0L))): _*)
          .as(name))
      prefixCounts(cand, "ac")
        .crossJoin(prefixCounts(ver, "av"))
        .crossJoin(prefixCounts(verHit, "ah"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(posexplode(typedLit(nbs)).as(Seq("i", "n_bands")),
          col("ac"), col("av"), col("ah"), col("n_truth"))
        .select(col("n_bands"),
          coalesce(element_at(col("ac"), col("i") + 1), lit(0L)).as("n_candidates"),
          coalesce(element_at(col("av"), col("i") + 1), lit(0L)).as("n_verified"),
          round(graft.functions.TextFns.safeFrac(
            coalesce(element_at(col("ah"), col("i") + 1), lit(0L)),
            col("n_truth")), 6).as("recall"))
  }

  /** d34 over an arbitrary corpus (DedupCapSpec's natural and planted
    * hot-bucket corpora). */
  def bandOperatingCurveFrom(docs: DataFrame): DataFrame = {
    val hs = materializedShingleHashes(docs)
    bandOperatingCurveCore(
      bucketIds(bandBuckets(signaturesFromHashes(hs)), BandBucketCap),
      cand => jaccardPairsHashed(hs, Some(cand))
        .filter(col("jaccard") >= 0.5).select("a", "b"),
      jaccardPairsCapped(hs).filter(col("jaccard") >= 0.5)
        .select("a", "b").localCheckpoint())
  }

  val bandCurve = Q(
    "d34_band_operating_curve",
    (s, d) => bandOperatingCurveCore(
      corpusBucketIds(s, d),
      _ => corpusVerifiedPairs(s, d)
        .filter(col("jaccard") >= 0.5).select("a", "b"),
      corpusCappedJaccard(s, d).filter(col("jaccard") >= 0.5)
        .select("a", "b")),
    Some(s"""WITH $minhashSigCtes,
            dfq AS (SELECT sh_h, count(*) AS df FROM hs GROUP BY sh_h),
            interx AS (
              SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM hs x JOIN hs y ON x.sh_h = y.sh_h AND x.doc_id < y.doc_id
                        JOIN dfq f ON f.sh_h = x.sh_h
              GROUP BY 1, 2),
            truth AS (
              SELECT a, b FROM interx
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE n_rare > 0
                AND round(CAST(n_common AS DOUBLE)
                  / CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            lv AS (SELECT CAST(unnest([4, 8, 16]) AS BIGINT) AS n_bands),
            okb2 AS (SELECT band, bsig FROM bands GROUP BY band, bsig
                     HAVING count(*) <= $BandBucketCap),
            cand AS (
              SELECT l.n_bands, x.doc_id AS a, y.doc_id AS b
              FROM lv l
              JOIN bands x ON x.band < l.n_bands
              JOIN okb2 ON okb2.band = x.band AND okb2.bsig = x.bsig
              JOIN bands y
                ON y.band = x.band AND y.bsig = x.bsig AND x.doc_id < y.doc_id
              GROUP BY 1, 2, 3),
            ver AS (
              SELECT c.n_bands, c.a, c.b
              FROM cand c
              JOIN (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
                    FROM hs x JOIN hs y ON y.sh_h = x.sh_h
                    WHERE x.doc_id < y.doc_id GROUP BY 1, 2) i
                ON i.a = c.a AND i.b = c.b
              JOIN sizes sa ON sa.doc_id = c.a
              JOIN sizes sb ON sb.doc_id = c.b
              WHERE round(CAST(i.n_common AS DOUBLE)
                / CAST(sa.n + sb.n - i.n_common AS DOUBLE), 4) >= 0.5)
            SELECT l.n_bands,
              (SELECT CAST(count(*) AS BIGINT) FROM cand c
               WHERE c.n_bands = l.n_bands) AS n_candidates,
              (SELECT CAST(count(*) AS BIGINT) FROM ver v
               WHERE v.n_bands = l.n_bands) AS n_verified,
              round(CAST((SELECT count(*) FROM ver v JOIN truth t
                          ON t.a = v.a AND t.b = v.b
                          WHERE v.n_bands = l.n_bands) AS DOUBLE)
                / NULLIF(CAST((SELECT count(*) FROM truth) AS DOUBLE), 0.0), 6)
                AS recall
            FROM lv l ORDER BY l.n_bands"""))

  // ------------------------------- contamination n-gram curve (d35)
  /** d35: decontamination SENSITIVITY to the n-gram size — qualified
    * (corpus, eval) pair volume, contaminated-corpus-doc count, and
    * burned-eval count at n ∈ {3, 5, 8}, over the same df-capped kernel
    * and `%19` eval slice as d09/d19. The n a decontamination pass keys
    * on is its one free parameter (the classic 13-gram rule vs this
    * corpus's 5): too small flags topic overlap as leakage, too large
    * misses paraphrased contamination — this query is the evidence for
    * choosing it, per corpus, instead of inheriting a constant from a
    * paper. Monotone by construction (an n+1-gram match implies n-gram
    * matches), so the curve reads as a survival function of match
    * strictness.
    *
    * Scale shape: three runs of [[cappedSharedCounts]] (each one shingle
    * pass + a dfCap²-bounded pairing join), all three retained in the
    * session memo (multi-entry, so this sweep never evicts d09/d19's
    * n=5 entry and a re-run hits all three; the n=3 shingle table is the
    * same memoized artifact the whole LSH family reads) — output order
    * comes from the final sort, not the evaluation order. Output exactly
    * 3 rows. */
  /** One d35 curve row from a qualified pair table. */
  private def contamCurveRow(pairs: DataFrame, n: Int): DataFrame =
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("doc_id").as("n_contam_docs"),
        countDistinct("eval_doc").as("n_burned_evals"))
      .select(lit(n.toLong).as("ngram_n"), col("n_pairs"),
        col("n_contam_docs"), col("n_burned_evals"))

  /** d35 over an arbitrary corpus (no session memo — DedupCapSpec's
    * planted boiler corpus). */
  def contamNgramCurveFrom(docs: DataFrame, ns: Seq[Int] = Seq(5, 3, 8)): DataFrame =
    ns.map { n =>
      contamCurveRow(contamSplit(
        hashedShingles(shingleSets(docs, n)).localCheckpoint(), ShingleDfCap), n)
    }.reduce(_ unionAll _)

  val contamCurve = Q(
    "d35_contam_ngram_curve",
    (s, d) => {
      Seq(5, 3, 8).map(n => contamCurveRow(contamSplitPairs(s, d, n), n))
        .reduce(_ unionAll _)
    },
    Some {
      // One qualified-pair block per n, mirroring the d09 oracle (df-cap
      // qualification via `n_rare > 0`, %19 eval slice), aggregated to
      // the three curve rows.
      def block(n: Int): String = {
        val slice = s"ts[i:i+${n - 1}]"
        s"""sh$n AS (
             SELECT DISTINCT doc_id,
               ('0x' || substr(md5(list_aggregate($slice, 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
             FROM toks, UNNEST(range(1, len(ts) - ${n - 2})) r(i)
             WHERE len(ts) >= $n),
           dfq$n AS (SELECT sh_h, count(*) AS df FROM sh$n GROUP BY sh_h),
           pair$n AS (
             SELECT c.doc_id, e.eval_doc,
               sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
             FROM (SELECT * FROM sh$n WHERE doc_id % 19 <> 0) c
             JOIN (SELECT doc_id AS eval_doc, sh_h FROM sh$n
                   WHERE doc_id % 19 = 0) e ON e.sh_h = c.sh_h
             JOIN dfq$n f ON f.sh_h = c.sh_h
             GROUP BY 1, 2),
           q$n AS (SELECT doc_id, eval_doc FROM pair$n WHERE n_rare > 0)"""
      }
      def row(n: Int): String =
        s"""SELECT CAST($n AS BIGINT) AS ngram_n,
              CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contam_docs,
              CAST(count(DISTINCT eval_doc) AS BIGINT) AS n_burned_evals
            FROM q$n"""
      s"""WITH toks AS (
            SELECT doc_id, list_filter(
              regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
            FROM documents),
          ${block(3)},
          ${block(5)},
          ${block(8)}
          ${row(3)} UNION ALL ${row(5)} UNION ALL ${row(8)}
          ORDER BY ngram_n"""
    })

  // ------------------------------- release dedup report (d36)
  /** d36: the ONE-ROW release-gate readout a dedup pipeline publishes per
    * corpus freeze — corpus size, exact-dup group/dropped counts, the
    * verified near-dup pair count at the operating threshold, cluster
    * count and mass, and the final keep count. Every number is a 1-row
    * rollup of the session's memoized kernel artifacts
    * ([[graft.SessionMemo.corpus]]), which is the query's point: a release process computes the
    * signature / pair / cluster tables ONCE and the gate report reads
    * them for free — the d09/d19 composition stance promoted to the
    * whole kernel, made queryable (and oracle-checked end-to-end against
    * DuckDB's independent fingerprint window + recursive-CTE closure).
    *
    * Scale shape: one fingerprint aggregate over the corpus plus 1-row
    * rollups of candidate-sized tables, assembled by 1-row × 1-row
    * crossJoins (p13's verdict-row shape, allowlisted). */
  val releaseReport = Q(
    "d36_release_dedup_report",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val fpg = docs.select(md5(normText(col("text"))).as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("c"))
      val exactAgg = fpg.agg(
        count(when(col("c") > 1, 1)).as("n_dup_groups"),
        coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("n_exact_dropped"))
      val pairsAgg = corpusVerifiedPairs(s, d).filter(col("jaccard") >= 0.5)
        .agg(count(lit(1)).as("n_neardup_pairs"))
      val clustersAgg = corpusClusterTable(s, d, 0.5, 50)
        .agg(countDistinct("cluster_rep").as("n_clusters"),
          count(lit(1)).as("n_cluster_members"))
      val keptAgg = keepList(s, d, 0.5)
        .agg(coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L)).as("n_keep"))
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(exactAgg).crossJoin(pairsAgg)
        .crossJoin(clustersAgg).crossJoin(keptAgg)
    },
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            cl AS (SELECT label, CAST(count(*) AS BIGINT) AS cs
                   FROM labels GROUP BY label HAVING count(*) > 1),
            fpd AS (
              SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
              FROM documents),
            g AS (SELECT f, CAST(count(*) AS BIGINT) AS c FROM fpd GROUP BY f),
            ed AS (SELECT doc_id FROM (
                     SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS k FROM fpd)
                   WHERE doc_id <> k),
            nd AS (SELECT doc_id FROM labels WHERE doc_id <> label)
            -- n_keep uses d07's LEFT-JOIN form rather than
            -- count(documents) − count(ed UNION nd): at sf0.1 DuckDB's
            -- re-evaluation of the recursive-closure CTEs under multiple
            -- scalar-subquery references made the UNION's dedup
            -- set-inconsistent with the join evaluated in the SAME query
            -- (|ed∩nd| = 8 yet |ed ∪ nd| = |ed| + |nd| — measured,
            -- round 15). The join form matches the passing d07/p18
            -- oracles and is evaluation-order-proof.
            SELECT
              (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs,
              (SELECT CAST(count(*) AS BIGINT) FROM g WHERE c > 1) AS n_dup_groups,
              (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) FROM g WHERE c > 1)
                AS n_exact_dropped,
              (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_neardup_pairs,
              (SELECT CAST(count(*) AS BIGINT) FROM cl) AS n_clusters,
              (SELECT CAST(coalesce(sum(cs), 0) AS BIGINT) FROM cl)
                AS n_cluster_members,
              (SELECT CAST(count(*) AS BIGINT)
               FROM documents d
               LEFT JOIN ed e ON e.doc_id = d.doc_id
               LEFT JOIN nd n ON n.doc_id = d.doc_id
               WHERE e.doc_id IS NULL AND n.doc_id IS NULL) AS n_keep"""))

  /** One arriving wave's persisted tables for the maintained release
    * report ([[graft.streaming.ViewStreams.maintainReleaseView]]): the
    * batch's fingerprints and hashed shingles — the only text-derived
    * artifacts the view ever needs, so each document is tokenized exactly
    * once, at ingest. */
  def releaseWaveTables(batch: DataFrame): (DataFrame, DataFrame) = (
    batch.select(col("doc_id"), md5(normText(col("text"))).as("fp")),
    hashedShingles(shingleSets(batch)))

  /** d36's seven-column release report recomputed from STORED tables —
    * (doc_id, fp) and (doc_id, sh_h) — with no document text touched.
    * This is the FULL-REGEN form (the round-15 view's per-batch shape,
    * retained as the bootstrap/reference path): the near-dup legs re-run
    * the capped candidate kernel over the whole accumulated shingle
    * index. The shipped view maintenance is the dirty-bucket incremental
    * form ([[graft.streaming.ViewStreams.mergeReleaseBatch]]), which
    * folds each wave into a bounded bucket store and re-derives only the
    * touched buckets' pairs — exact against this form by the
    * bounded-min-ids semilattice identity ([[boundedBucketIds]]).
    * Returns a LOCAL 1-row frame (the report is one row by
    * construction); the intermediate checkpoints are freed before
    * return. */
  def releaseReportFromTables(fps: DataFrame, hs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val spark = fps.sparkSession
    val hsC = hs.localCheckpoint()
    val verifiedPlan = jaccardPairsHashed(hsC,
      Some(pairsFromBucketIds(
        bucketIds(bandBuckets(signaturesFromHashes(hsC)), BandBucketCap))))
    // Plan-hook surfacing for any driver that installs one. The SHIPPED
    // view maintenance no longer calls this method (PlanAudit drives
    // mergeReleaseBatch's incremental plans directly, per batch); this
    // full-regen form remains the bootstrap/reference path (StreamingSpec's
    // ground truth for the dirty-bucket fold and the pre-LSM upgrade), so
    // the hook stays for those callers rather than guarding the
    // production audit.
    graft.MemoLedger.planHook.foreach(_("view:release_kernel", verifiedPlan))
    val verified = verifiedPlan.localCheckpoint()
    val out = releaseReportFromVerified(fps, verified, threshold)
    Seq(hsC, verified).foreach(freeCheckpoint)
    out
  }

  /** The report TAIL shared by the full-regen and incremental view
    * paths: compose d36's seven columns from the accumulated fingerprint
    * table and an already-computed verified-pair table (a, b, jaccard).
    * Everything here is fingerprint- or pairs-grain — the expensive
    * shingle-grain kernel is the caller's input. */
  def releaseReportFromVerified(fps: DataFrame, verified: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val spark = fps.sparkSession
    val pairs = verified.filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"))
    val clusterTable = connectedComponents(pairs, 50)
      .groupBy("label").agg(collect_list("doc_id").as("ids"),
        count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") > 1)
      .select(col("label").as("cluster_rep"), explode(col("ids")).as("doc_id"),
        col("cluster_size"))
      .localCheckpoint()
    val fpg = fps.groupBy("fp").agg(count(lit(1)).as("c"))
    val exactAgg = fpg.agg(
      count(when(col("c") > 1, 1)).as("n_dup_groups"),
      coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("n_exact_dropped"))
    val pairsAgg = verified.filter(col("jaccard") >= threshold)
      .agg(count(lit(1)).as("n_neardup_pairs"))
    val clustersAgg = clusterTable.agg(
      countDistinct("cluster_rep").as("n_clusters"),
      count(lit(1)).as("n_cluster_members"))
    // Exact-dup verdict INLINE from the fp window (no self-join, no
    // drop-list broadcast — the round-15 scale flaw); near-dup join
    // un-hinted so AQE sizes it (cluster members are corpus-fraction on
    // dup-heavy crawls; a hard broadcast hint would hit the 8-GB limit).
    val exactFlag = fps
      .withColumn("is_exact_dup", col("doc_id") =!= min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .select(col("doc_id"), col("is_exact_dup"))
    val nearDrop = clusterTable.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id"), lit(true).as("is_near_dup"))
    val keptAgg = exactFlag
      .join(nearDrop, Seq("doc_id"), "left")
      .agg(coalesce(sum(when(
        !col("is_exact_dup") && col("is_near_dup").isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_keep"))
    val report = fps.agg(count(lit(1)).as("n_docs"))
      .crossJoin(exactAgg).crossJoin(pairsAgg)
      .crossJoin(clustersAgg).crossJoin(keptAgg)
    graft.MemoLedger.planHook.foreach(_("view:release_report", report))
    val row = report.head()
    val out = spark.createDataFrame(
      java.util.Collections.singletonList(row), report.schema)
    freeCheckpoint(clusterTable)
    out
  }

  // ------------------------------- dedup token ledger (p18)
  /** p18: the per-source TOKEN ledger under the keep-list — raw vs kept
    * word-token mass and the reclaim fraction, per source. Token count is
    * the unit training runs budget in (m16 answers the same question in
    * BYTES for media payloads; d24 in document counts); this row is what
    * a mixing decision (q31/p17) actually consumes after dedup: a source
    * whose token mass halves under the keep-list contributes half the
    * epochs its document count suggests. Lives in the pipeline family —
    * it composes d07's verdict with t03's word tokenization, and both
    * parities are inherited: the keep bit reads the session-memoized
    * cluster/keep kernel ([[graft.SessionMemo.corpus]] — marginal cost by
    * construction), the token column is t03's oracle-exact word_tokens,
    * and the oracle recomputes the verdict independently (fingerprint
    * window + recursive-CTE closure, d07's SQL verbatim).
    *
    * Scale shape: one doc-grain scan carrying (source, tok), one
    * doc-keyed join against the keep verdict (d07's shape: inline
    * fp-window exact verdict, AQE-sized near-dup join — no hinted
    * broadcasts), one ≤ #sources aggregate with map-side partials. */
  val dedupTokenLedger = Q(
    "p18_dedup_token_ledger",
    (s, d) => {
      val keepBits = keepList(s, d, 0.5).select(col("doc_id"), col("keep"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("tok"))
        .join(keepBits, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("tok")).as("tokens_raw"),
          sum(when(col("keep"), col("tok")).otherwise(0L)).as("tokens_kept"))
        .withColumn("token_reclaim_frac",
          round(lit(1.0) - graft.functions.TextFns.safeFrac(
            col("tokens_kept"), col("tokens_raw")), 6))
    },
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            fpd AS (
              SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
              FROM documents),
            ed AS (SELECT doc_id FROM (
                     SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS k FROM fpd)
                   WHERE doc_id <> k),
            nd AS (SELECT doc_id FROM labels WHERE doc_id <> label),
            tok AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     t -> t <> '')) AS BIGINT) AS tok
              FROM documents)
            SELECT t.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(sum(t.tok) AS BIGINT) AS tokens_raw,
              CAST(sum(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL
                            THEN t.tok ELSE 0 END) AS BIGINT) AS tokens_kept,
              round(1.0 - CAST(sum(CASE WHEN e.doc_id IS NULL AND n.doc_id IS NULL
                                        THEN t.tok ELSE 0 END) AS DOUBLE)
                / NULLIF(CAST(sum(t.tok) AS DOUBLE), 0.0), 6)
                AS token_reclaim_frac
            FROM tok t
            LEFT JOIN ed e ON e.doc_id = t.doc_id
            LEFT JOIN nd n ON n.doc_id = t.doc_id
            GROUP BY t.source ORDER BY t.source"""))

  // --------------------------- release artifact footprint (p19)
  /** p19: the FOOTPRINT of the frozen kernel artifact set — row counts of
    * every table [[ReleaseArtifacts.write]] persists, read from the
    * session memo at marginal cost (eight 1-row rollups over
    * checkpoints). This is the storage-planning readout a release freeze
    * publishes next to d36's quality gate: at 100 TB the artifact set IS
    * the pipeline's working state, and its growth curve (candidates and
    * verified pairs vs corpus rows) is what the band/df caps exist to
    * bound — a footprint row that grows superlinearly between releases
    * is the cap regression alarm. Fully oracle-checked: DuckDB
    * recomputes every count independently (the MinHash signature lanes
    * in SQL, the capped band-bucket candidate join, the df-capped pair
    * join, the recursive cluster closure). */
  val artifactFootprint = Q(
    "p19_release_artifact_footprint",
    (s, d) => {
      def rowOf(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("artifact"), col("n_rows"))
      Seq(
        rowOf("banded", corpusBanded(s, d)),
        rowOf("bucket_ids", corpusBucketIds(s, d)),
        rowOf("cand", corpusCand(s, d)),
        rowOf("capped_jaccard", corpusCappedJaccard(s, d)),
        rowOf("clusters", corpusClusterTable(s, d, 0.5, 50)),
        rowOf("hs", corpusShingleHashes(s, d)),
        rowOf("sigs", corpusSigs(s, d)),
        rowOf("verified", corpusVerifiedPairs(s, d)))
        .reduce(_ unionAll _)
    },
    Some(s"""WITH RECURSIVE $minhashOracleCtes,
            dfq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
            cpairs AS (
              SELECT x.doc_id AS a, y.doc_id AS b,
                sum(CASE WHEN f.df <= $ShingleDfCap THEN 1 ELSE 0 END) AS n_rare
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
                        JOIN dfq f ON f.shingle = x.shingle
              GROUP BY 1, 2),
            pairs AS (
              SELECT a, b
              FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
              WHERE round(CAST(n_common AS DOUBLE) /
                          CAST(sa.n + sb.n - n_common AS DOUBLE), 4) >= 0.5),
            edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            cl AS (SELECT label, CAST(count(*) AS BIGINT) AS cs
                   FROM labels GROUP BY label HAVING count(*) > 1)
            SELECT 'banded' AS artifact,
              (SELECT CAST(count(*) AS BIGINT) FROM bands) AS n_rows
            UNION ALL SELECT 'bucket_ids',
              (SELECT CAST(count(*) AS BIGINT) FROM okb)
            UNION ALL SELECT 'cand',
              (SELECT CAST(count(*) AS BIGINT) FROM cand)
            UNION ALL SELECT 'capped_jaccard',
              (SELECT CAST(count(*) AS BIGINT) FROM cpairs WHERE n_rare > 0)
            UNION ALL SELECT 'clusters',
              (SELECT CAST(coalesce(sum(cs), 0) AS BIGINT) FROM cl)
            UNION ALL SELECT 'hs',
              (SELECT CAST(count(*) AS BIGINT) FROM sh)
            UNION ALL SELECT 'sigs',
              (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM sh)
            UNION ALL SELECT 'verified',
              (SELECT CAST(count(*) AS BIGINT) FROM inter)
            ORDER BY artifact"""))

  val all: Seq[Q] =
    Seq(exact, minhash, simhash, ngramJaccard, embedding, clusters, keep, triangles,
      decontam, incremental, repeated, consensus, chunkDedup, semantic, bestKeep,
      provenance, embeddingDecontam, containment, evalLeak, crossSource, splitLeak,
      calibration, hotReport, inflation, spectrum, templateScrubQ, clusterSourceMix,
      boilerplateDriftQ, cdcDedupQ, hotChunksQ, softDedupQ, incrementalNearDupQ,
      capCurve, bandCurve, contamCurve, releaseReport, dedupTokenLedger,
      artifactFootprint, releaseDelta)
}
