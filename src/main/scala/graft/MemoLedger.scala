package graft

import org.apache.spark.sql.DataFrame

/** Shared infrastructure for the session memos ([[SessionMemo]]: the
  * corpus, emb and tok families): a build-cost ledger, a pre-checkpoint
  * plan hook, and the corpus content stamp.
  *
  * The ledger exists for honest bench accounting: a memoized artifact is
  * built exactly once per (session, corpus), inside whichever query runs
  * first — a min-of-N timing loop would otherwise discard the build cost
  * entirely and report only memo-hit marginals. Every memo build is timed
  * here; `Bench` drains the ledger and adds the build total to its graded
  * number as an explicit line item, so the reported total = marginal query
  * costs + each one-time build counted once (the per-release economics,
  * with nothing hidden).
  *
  * The plan hook exists for honest plan auditing: memo artifacts are
  * eagerly `localCheckpoint`ed at build, so by the time a consumer query's
  * plan is explained the build is a checkpointed leaf — invisible to
  * `PlanAudit`. Build sites route their pre-checkpoint DataFrame through
  * [[audited]] as `memo:<artifact key>` (see [[SessionMemo.checkpointed]]);
  * PlanAudit installs the hook (after clearing the memos so
  * every build re-runs) and audits each build plan as its own entry.
  *
  * The content stamp guards against serving stale artifacts when the files
  * under a corpus dir are rewritten in-session (same path, new bytes): memo
  * keys include the stamp, so a rewrite is an eviction, not a stale hit.
  */
object MemoLedger {

  final case class Build(memo: String, artifact: String, sec: Double)

  private val builds = scala.collection.mutable.ArrayBuffer.empty[Build]

  /** Per-thread stack of child-build wall-time accumulators for the
    * builds currently in flight on that thread — the exclusive-time
    * bookkeeping below. (Cross-THREAD nesting can't happen: every memo
    * build runs under its family's build lock on the calling thread.) */
  private val inFlight = ThreadLocal.withInitial[java.util.ArrayDeque[java.lang.Double]](
    () => new java.util.ArrayDeque[java.lang.Double]())

  /** Time one memo-artifact build and record its EXCLUSIVE wall time —
    * elapsed minus the wall time of nested builds started inside it.
    * Builds nest by design (e.g. the verified-pairs build re-enters
    * its memo for hs → sigs → banded → bucketIds → cand), and each
    * nested build records its own entry; recording the parent's raw
    * elapsed would count every child once per enclosing ancestor, so a
    * ledger SUM (Bench's `memo_build_sec`) would exceed the true
    * one-time-build wall. Exclusive times sum to exactly the wall spent
    * building, which is the "counted exactly once" invariant Bench
    * documents. Named by memo family ("corpus" / "emb" / "tok") and
    * artifact key. */
  def timed[T](memo: String, artifact: String)(build: => T): T = {
    val stack = inFlight.get()
    stack.push(0.0)
    val t0 = System.nanoTime()
    var ok = false
    try {
      val v = build
      ok = true
      v
    } finally {
      val elapsed = (System.nanoTime() - t0) / 1e9
      val childSec = stack.pop().doubleValue()
      // Credit the full elapsed (not just exclusive) to the enclosing
      // build's child accumulator — the parent must subtract everything
      // that happened inside this frame, grandchildren included.
      if (!stack.isEmpty) stack.push(stack.pop() + elapsed)
      if (ok) synchronized {
        builds += Build(memo, artifact, math.max(0.0, elapsed - childSec))
      }
    }
  }

  /** Return and clear all recorded builds (Bench calls this once at end). */
  def drain(): Seq[Build] = synchronized {
    val out = builds.toList
    builds.clear()
    out
  }

  /** Pre-checkpoint plan hook — installed by PlanAudit, None in normal
    * runs. Single-writer (the audit main); volatile for visibility only. */
  @volatile var planHook: Option[(String, DataFrame) => Unit] = None

  /** Route a memo build's pre-checkpoint DataFrame past the plan hook.
    * Identity when no hook is installed. */
  def audited(artifact: String)(df: DataFrame): DataFrame = {
    planHook.foreach(h => h(artifact, df))
    df
  }

  /** Content stamp of a corpus directory: a fold of (path, mtime, size)
    * over every regular file under `dir`. Cheap (one directory walk, no
    * data read); changes whenever any file is added, removed, or
    * rewritten — the memo-key ingredient that turns an in-session corpus
    * rewrite into an eviction instead of a stale artifact hit. Missing
    * dirs stamp to 0 (the table read will fail with its own error).
    *
    * Limitations (documented, by design): (a) an mtime+size stamp misses
    * a same-size rewrite that lands within one mtime tick (or on a
    * filesystem with coarse mtime granularity, or an object store that
    * preserves timestamps) — freeze manifests that must survive that
    * case pair this with [[contentStamp]]; (b) the walk is cached for
    * [[StampTtlMs]] per dir, because memo consumers re-stamp on every
    * access (twice per benched query) and an uncached recursive walk of
    * a wide corpus dir is measurable driver overhead — an in-session
    * rewrite is detected at the next access AFTER the TTL, which is the
    * between-queries timescale rewrites actually happen on. */
  def dirStamp(dir: String): Long = {
    val nowNs = System.nanoTime()
    stampCache.get(dir) match {
      case Some((atNs, v)) if nowNs - atNs < StampTtlMs * 1000000L => v
      case _ =>
        val v = walkStamp(dir)
        stampCache.update(dir, (nowNs, v))
        v
    }
  }

  /** dirStamp's cache window. Small enough that a between-queries corpus
    * rewrite is still caught; large enough to amortize the walk across
    * one query's repeated memo accesses. */
  val StampTtlMs = 5000L

  private val stampCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  /** Drop all cached dir stamps (tests that rewrite corpora mid-session
    * faster than the TTL call this between phases). */
  def invalidateStamps(): Unit = stampCache.clear()

  /** Uncached stamp — the freeze/open-grade accessor: a release freeze or
    * manifest verification happens once per release and must never trust
    * a stamp cached before an in-flight rewrite. Refreshes the cache so
    * memo keys computed right after agree with what was verified. */
  def freshDirStamp(dir: String): Long = {
    val v = walkStamp(dir)
    stampCache.update(dir, (System.nanoTime(), v))
    v
  }

  private def walkStamp(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    var h = 1125899906842597L
    def mix(x: Long): Unit = { h = h * 31 + x }
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
        .forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            mix(p.toString.hashCode.toLong)
            mix(java.nio.file.Files.getLastModifiedTime(p).toMillis)
            mix(java.nio.file.Files.size(p))
          }
        }
    } finally stream.close()
    h
  }

  /** CONTENT-HASH stamp of a corpus directory — the freeze-manifest-grade
    * stamp: a fold of (path, size, head+tail byte hash) over every
    * regular file. Unlike [[dirStamp]] it reads data — the first and last
    * 64 KiB of each file — so it catches the rewrite [[dirStamp]] can
    * miss (same path, same size, same mtime tick, different bytes: the
    * object-store trap). Head+tail, not full content: a parquet rewrite
    * with different data virtually always changes the footer (row-group
    * stats, offsets), and full-file hashing of a 100 TB corpus at open()
    * time would defeat the point of a stamp. Never cached (a freeze/open
    * happens once per release, not per query). */
  def contentStamp(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return 0L
    var h = 1125899906842597L
    def mix(x: Long): Unit = { h = h * 31 + x }
    val Window = 65536
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.sorted(java.util.Comparator.comparing[java.nio.file.Path, String](_.toString))
        .forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            mix(p.toString.hashCode.toLong)
            val size = java.nio.file.Files.size(p)
            mix(size)
            val ch = java.nio.channels.FileChannel.open(
              p, java.nio.file.StandardOpenOption.READ)
            try {
              def hashAt(pos: Long, len: Int): Unit = {
                val buf = java.nio.ByteBuffer.allocate(len)
                ch.position(pos)
                while (buf.hasRemaining && ch.read(buf) >= 0) {}
                buf.flip()
                var x = 0L
                while (buf.hasRemaining) x = x * 131 + (buf.get() & 0xffL)
                mix(x)
              }
              hashAt(0L, math.min(size, Window.toLong).toInt)
              if (size > Window)
                hashAt(math.max(Window.toLong, size - Window),
                  math.min(Window.toLong, size - Window).toInt)
            } finally ch.close()
          }
        }
    } finally stream.close()
    h
  }
}
