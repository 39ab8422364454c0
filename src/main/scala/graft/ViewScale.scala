package graft

import org.apache.spark.sql.functions._

/** Dev main (feeds SCALE.md): per-batch maintenance cost of the release
  * view as the accumulated index grows — the round-16 claim under test is
  * that the dirty-bucket fold's per-batch work tracks the WAVE, not the
  * accumulated corpus (round 15 re-ran the full candidate kernel over
  * the whole index every batch, so batch N cost O(N) waves).
  *
  * Method: slice the corpus into K equal waves by doc_id, fold them
  * sequentially through [[graft.streaming.ViewStreams.mergeReleaseBatch]]
  * (the shipped incremental path) and record each fold's wall; then
  * replay the same waves through the round-15 full-regen form
  * ([[graft.operators.Dedup.releaseReportFromTables]] over the
  * accumulated wave tables) as the contrast column. Equal reports are
  * asserted at the final step (the spec owns slicing equality; this main
  * owns the COST curve).
  *
  * `runMain graft.ViewScale [sfDir] [nBatches]`
  */
object ViewScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = if (args.length > 1) args(1).toInt else 8
    val spark = GraftSession.get("graft-view-scale")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").localCheckpoint()
    val stateI = java.nio.file.Files.createTempDirectory("graft-viewscale-inc").toString + "/state"
    val stateF = java.nio.file.Files.createTempDirectory("graft-viewscale-full").toString + "/state"

    def wall(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    println(f"[viewscale] ${"batch"}%5s ${"docs_acc"}%9s ${"inc_sec"}%8s ${"full_sec"}%9s " +
      f"${"sig_rows_inc"}%12s ${"sig_rows_full"}%13s ${"wrote_bkt_rows"}%14s")
    var incTot = 0.0; var fullTot = 0.0
    (0 until k).foreach { i =>
      val wave = docs.filter(col("doc_id") % k === i)
      val tI = wall(graft.streaming.ViewStreams
        .mergeReleaseBatch(spark, wave, stateI, i.toLong))
      // STRUCTURAL accounting, independent of toy-scale job overhead:
      // shingle-grain rows the signature aggregation consumes this batch.
      // Incremental folds sign only the WAVE; full-regen re-signs the
      // whole accumulated index — the term that grows without bound.
      val sigInc = spark.read.parquet(s"$stateI/waves/batch=$i/hs").count()
      val sigFull = (0 to i).map(j =>
        spark.read.parquet(s"$stateI/waves/batch=$j/hs").count()).sum
      // Write-amplification accounting (round-16 LSM state): bucket rows
      // this generation actually persisted (delta — or full on a base)
      // vs the full store a pre-LSM generation rewrote every batch.
      val wroteRows = spark.read.parquet(s"$stateI/gen=$i/buckets").count()
      val isBase = java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$stateI/gen=$i/_BASE"))
      // Full-regen contrast: write the wave, recompute from ALL waves —
      // the round-15 per-batch shape.
      val tF = wall {
        val (fpW, hsW) = graft.operators.Dedup.releaseWaveTables(wave)
        fpW.write.mode("overwrite").parquet(s"$stateF/waves/batch=$i/fp")
        hsW.write.mode("overwrite").parquet(s"$stateF/waves/batch=$i/hs")
        graft.operators.Dedup.releaseReportFromTables(
          graft.streaming.ViewStreams.releaseWaves(spark, stateF, "fp"),
          graft.streaming.ViewStreams.releaseWaves(spark, stateF, "hs"))
          .write.mode("overwrite").parquet(s"$stateF/gen=$i")
      }
      incTot += tI; fullTot += tF
      val acc = docs.filter(col("doc_id") % k <= i).count()
      println(f"[viewscale] $i%5d $acc%9d $tI%8.2f $tF%9.2f $sigInc%12d $sigFull%13d " +
        f"$wroteRows%11d${if (isBase) " (base)" else ""}%s")
    }
    val inc = graft.streaming.ViewStreams.releaseView(spark, stateI)
      .collect().map(_.toString).toSeq
    val full = spark.read.parquet(s"$stateF/gen=${k - 1}")
      .collect().map(_.toString).toSeq
    require(inc == full, s"incremental != full-regen report: $inc vs $full")
    println(f"[viewscale] totals: incremental $incTot%.1f s vs full-regen $fullTot%.1f s " +
      s"over $k waves (reports identical)")
    spark.stop()
  }
}
