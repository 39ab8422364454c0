package graft

/** Dev main (feeds SCALE.md): freeze/open/read-marginal economics of the
  * THREE durable artifact families ([[graft.operators.ReleaseArtifacts]])
  * — dedup kernel (now incl. hs@5/hs@8/contam@{3,5,8}), embedding indexes
  * (IVF/PQ/LSH/truth + tuned rerank), tokenizer (merges + encoding). The
  * claim under measurement: a persisted-release reader pays open() (a
  * manifest verify + parquet-table installs) and then runs every memo
  * consumer at session-marginal cost with ZERO builds in the ledger —
  * round 15 measured this for the n=3 dedup kernel only; round 16 extends
  * it to the decontam legs (d09/d19/d35 were the ~9 s of builds a reader
  * still paid) and the vector/tokenizer families.
  * `runMain graft.FreezeEcon [sfDir]`.
  */
object FreezeEcon {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-freeze-econ")
    val base = java.nio.file.Files.createTempDirectory("graft-freeze-econ").toString
    def wall(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def runQ(n: String): Double =
      wall(SparkEntry.queries(n)(spark, d).write.format("noop").mode("overwrite").save())

    val families = Seq[(String, String => Unit, String => Unit, Seq[String], SessionMemo)](
      ("dedup", p => operators.ReleaseArtifacts.write(spark, d, p),
        p => operators.ReleaseArtifacts.open(spark, d, p),
        Seq("d02_dedup_minhash_lsh", "d06_dedup_clusters", "d36_release_dedup_report",
          "d09_decontaminate", "d19_eval_leak_report", "d35_contam_ngram_curve"),
        SessionMemo.corpus),
      ("embedding", p => operators.ReleaseArtifacts.writeEmbedding(spark, d, p),
        p => operators.ReleaseArtifacts.openEmbedding(spark, d, p),
        Seq("s01_ann_cosine_topk", "s04_ann_ivf", "s08_ann_pq"),
        SessionMemo.emb),
      ("tokenizer", p => operators.ReleaseArtifacts.writeTokenizer(spark, d, p),
        p => operators.ReleaseArtifacts.openTokenizer(spark, d, p),
        Seq("t21_bpe_merges", "t25_bpe_encode", "t43_bpe_fertility"),
        SessionMemo.tok))

    families.foreach { case (fam, write, open, queries, memo) =>
      val p = s"$base/$fam"
      memo.clear()
      val tFreeze = wall(write(p))
      memo.clear()
      MemoLedger.drain()
      val tOpen = wall(open(p))
      val reads = queries.map(q => q -> runQ(q))
      val builds = MemoLedger.drain()
      println(f"[freezeecon] $fam%-9s freeze ${tFreeze}%6.1f s  open ${tOpen}%5.2f s  " +
        f"builds-on-read ${builds.size}%d (${builds.map(_.sec).sum}%.2f s)")
      reads.foreach { case (q, t) =>
        println(f"[freezeecon]   read-marginal $q%-28s ${t}%6.2f s")
      }
      require(builds.isEmpty,
        s"$fam read path ran builds: ${builds.map(_.artifact).mkString(",")}")
      memo.clear()
    }
    spark.stop()
  }
}
