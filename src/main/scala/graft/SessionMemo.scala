package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A session-scoped memo of corpus-derived artifacts — the one memo
  * contract behind the engine's three families ([[SessionMemo.corpus]],
  * [[SessionMemo.emb]], [[SessionMemo.tok]]). In production each artifact
  * is a per-release table computed once and read by every downstream
  * report; here each is built once per (session, corpus) inside whichever
  * query needs it first, and every later query reads it at marginal cost.
  *
  * Contract:
  *  - '''Key.''' (session, corpus dir, [[MemoLedger.dirStamp]] of the dir).
  *    Checkpoint blocks live exactly as long as the owning session, so the
  *    session in the key makes a restarted session rebuild; the content
  *    stamp turns an in-session rewrite of the same path into an eviction
  *    instead of a stale hit.
  *  - '''One active corpus per family.''' A key switch frees every held
  *    artifact, loudly: the freed checkpoint blocks cannot be recomputed,
  *    so a still-lazy DataFrame from the previous corpus fails with missing
  *    blocks. Callers must EXECUTE results before switching corpora.
  *  - '''Ledger.''' Every build is timed as
  *    `MemoLedger.timed(family, name)`, so Bench counts each one-time build
  *    exactly once next to the marginal query costs. [[install]] (the
  *    persisted-release read path) writes no ledger entry.
  *  - '''Lock.''' One monitor per instance. JVM monitors are reentrant, so
  *    builds nest inside a family (verified → cand → bucketIds → banded →
  *    sigs → hs → toks) and one family's build may read another family's
  *    artifact. A concurrent caller waits out the build — the drivers
  *    (Verify, Bench, PlanAudit) run queries sequentially.
  *
  * Generic `...From(docs)` operators never touch a memo: specs, streaming
  * and the synthetic corpora of `graft.sources.ScaledCorpora` stay
  * memo-free. */
final class SessionMemo(val family: String) {
  private var key: Option[(SparkSession, String, Long)] = None
  private val arts = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  /** The checkpoint RDDs of a DataFrame held directly or inside a tuple
    * (an index's codebook travels with its table as a pair);
    * parquet-backed installs and driver-side values hold none. */
  private def checkpoints(v: Any): Iterator[RDD[_]] = v match {
    case df: DataFrame => graft.operators.Dedup.checkpointRdd(df).iterator
    case (a, b) => checkpoints(a) ++ checkpoints(b)
    case _ => Iterator.empty
  }

  private def free(v: Any): Unit = checkpoints(v).foreach(org.apache.spark.CheckpointBlocks.free)

  private def freeAll(): Unit = {
    arts.valuesIterator.foreach(free)
    arts.clear()
  }

  /** Ids of the checkpoint RDDs behind the held artifacts — the storage
    * this memo owns, as opposed to other queries' checkpoints that
    * ContextCleaner has not reclaimed yet. */
  def rddIds: Set[Int] = synchronized {
    arts.valuesIterator.flatMap(checkpoints).map(_.id).toSet
  }

  /** The one key-switch/evict path (callers hold the lock). */
  private def ensureKey(spark: SparkSession, d: String): Unit = {
    val k = (spark, d, MemoLedger.dirStamp(d))
    if (!key.contains(k)) {
      if (arts.nonEmpty)
        System.err.println(s"[$family memo] corpus switch ${key.map(_._2)} -> $d: " +
          s"freeing ${arts.size} artifacts — any still-lazy DataFrame from the " +
          "previous corpus is now invalid (execute results before switching corpora)")
      freeAll()
      key = Some(k)
    }
  }

  /** The artifact `name` for corpus `d`: held value on a hit, otherwise
    * `build` runs once, ledgered. */
  def apply[T](spark: SparkSession, d: String, name: String)(build: => T): T = synchronized {
    ensureKey(spark, d)
    arts.get(name) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = MemoLedger.timed(family, name)(build)
        arts.update(name, v)
        v
    }
  }

  /** A DataFrame artifact materialized as an eager `localCheckpoint`, its
    * pre-checkpoint plan routed past the audit hook as `memo:<name>` — so
    * each artifact has exactly one name in the ledger and in PlanAudit. */
  def checkpointed(spark: SparkSession, d: String, name: String)(df: => DataFrame): DataFrame =
    apply(spark, d, name)(MemoLedger.audited("memo:" + name)(df).localCheckpoint())

  /** Install a pre-built artifact (the persisted-release read path). Not
    * a delegation to [[apply]]: install OVERWRITES a same-name artifact the
    * session already built (open() promises the parquet-backed value) and
    * writes no ledger entry (a registration, not a build). */
  def install(spark: SparkSession, d: String, name: String, v: Any): Unit = synchronized {
    ensureKey(spark, d)
    arts.remove(name).foreach(free)
    arts.update(name, v)
  }

  /** Free every held artifact. Callers must have EXECUTED all
    * memo-derived results first. */
  def clear(): Unit = synchronized { freeAll(); key = None }
}

object SessionMemo {
  /** Dedup kernel artifacts over `documents`: token arrays, shingle
    * tables, signatures, band buckets, candidate and verified pairs,
    * clusters, contamination evidence, staged pipeline docs. */
  val corpus = new SessionMemo("corpus")
  /** Embedding index artifacts: spread corpus, IVF/PQ/LSH indexes, exact
    * ground truth, quantized corpus, Lloyd codebooks, tuned rerank. */
  val emb = new SessionMemo("emb")
  /** Tokenizer artifacts: BPE merges, the encoded corpus, the LM matrix. */
  val tok = new SessionMemo("tok")

  def clearAll(): Unit = { corpus.clear(); emb.clear(); tok.clear() }

  /** Checkpoint RDD ids held by all three families. */
  def heldRddIds: Set[Int] = corpus.rddIds ++ emb.rddIds ++ tok.rddIds
}
