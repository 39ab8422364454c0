package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Pipeline
import graft.sources.Tables

/** The `corpus:staged` build behind p07, p11 and p14: the scan is
  * round-robin spread only while the input's own splits fall short of the
  * session parallelism (the [[SizingSpec]] guard), the frame carries
  * features but no `text`, and p14 reads its unconditional fingerprint
  * representative (`rep_all`) from the frame instead of running its own
  * fp window — with the same result as the per-query window. */
class StagedDocsSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def planted: DataFrame = {
    val good = "the " + (1 to 23).map(i => s"wolf$i").mkString(" ")
    Seq(
      (0L, "a", good),                  // clean
      (1L, "a", good),                  // exact dup of 0 → D
      (2L, "a", good + " customer"),    // blocklist only → B
      (3L, "a", "tiny text"),           // too short → Q
      (4L, "b", "customer"),            // blocked AND too short → BQ
      (5L, "b", good)                   // cross-source dup of 0 → D
    ).toDF("doc_id", "source", "text")
  }

  test("guard open: the staged build spreads the single-file fixture round-robin") {
    val p = plan(Pipeline.stagedDocs(Tables.documents(spark, sf)))
    assert(p.contains("RoundRobinPartitioning"),
      s"small single-file corpus lost its fan-out:\n$p")
  }

  test("guard fires: scan splits >= parallelism => no round-robin exchange") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      val p = plan(Pipeline.stagedDocs(Tables.documents(spark, sf)))
      assert(!p.contains("RoundRobinPartitioning"),
        s"staged build spread an input the scan already spreads:\n$p")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("the staged frame holds features only, with both fp-window outputs") {
    val cols = Pipeline.stagedDocs(Tables.documents(spark, sf)).columns.toSet
    assert(!cols.contains("text"), s"text rides the memo: $cols")
    assert(Set("fp", "unique_keep", "rep_all").subsetOf(cols), cols)
  }

  test("p14 over the memoized frame equals the per-query fp window") {
    for (docs <- Seq(planted, Tables.documents(spark, sf))) {
      val staged = Pipeline.stagedDocs(docs)
      val perQuery = staged.drop("rep_all")
        .withColumn("rep_all", min(col("doc_id")).over(Window.partitionBy("fp")))
      def rows(in: DataFrame) = Pipeline.gateAttribution(docs, Some(in))
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows(staged.localCheckpoint()) == rows(perQuery))
    }
  }

  test("p14 over the memoized frame shuffles no fp") {
    val docs = Tables.documents(spark, sf)
    val fpShuffle = "hashpartitioning(fp"
    // The pattern is live: the build itself shuffles the spread rows by fp.
    assert(plan(Pipeline.stagedDocs(docs)).contains(fpShuffle))
    val p = plan(Pipeline.gateAttribution(docs,
      Some(Pipeline.stagedDocs(docs).localCheckpoint())))
    assert(!p.contains(fpShuffle), s"p14 shuffles by fp over the memo:\n$p")
  }
}
