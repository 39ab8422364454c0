package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextOps}

/** Specs for the corpus-statistics and pipeline-decision operators added in
  * round 3: co-occurrence PMI, bigram LM, the dedup keep-list, ANN recall
  * evaluation.
  */
class CorpusStatsSpec extends SparkSpec {

  test("t11 PMI: planted always-co-occurring pair scores positive, disjoint pair is absent") {
    import spark.implicits._
    // x and y co-occur in every doc; z appears alone in its own docs.
    val docs = ((1L to 20L).map(i => (i, "x y filler" + i)) ++
      (21L to 40L).map(i => (i, "z alone" + i))).toDF("doc_id", "text")
    val docToks = docs.select(col("doc_id"), array_distinct(
      graft.functions.TextFns.tokens(col("text"))).as("ts"))
    val pairs = docToks
      .select(col("doc_id"), explode(col("ts")).as("t1"), col("ts"))
      .select(col("doc_id"), col("t1"), explode(col("ts")).as("t2"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2").agg(count(lit(1)).as("n_ab"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(pairs(("x", "y")) == 20L)
    assert(!pairs.contains(("x", "z")) && !pairs.contains(("y", "z")))
    // PMI of (x,y): ln(20*40/(20*20)) = ln(2) > 0.
    val pmi = math.log(pairs(("x", "y")).toDouble * 40 / (20.0 * 20.0))
    assert(pmi > 0.69 && pmi < 0.70)
  }

  test("t12 bigram LM: conditional probabilities per head sum to 1") {
    val rows = TextOps.bigrams.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val byHead = rows.groupBy(_.getString(0))
    byHead.foreach { case (h, rs) =>
      val total = rs.map(_.getDouble(3)).sum
      assert(math.abs(total - 1.0) < 1e-3, s"p(.|$h) sums to $total")
    }
  }

  test("d07 keep list: verdicts are consistent and cover the corpus") {
    val rows = Dedup.keepList(spark, sf, 0.5).collect()
    val docs = graft.sources.Tables.documents(spark, sf).count()
    assert(rows.length == docs, "one verdict per document")
    rows.foreach { r =>
      val keep = r.getBoolean(1); val reason = r.getString(2)
      assert(keep == (reason == "keep"), s"keep flag disagrees with reason $reason")
      assert(Set("keep", "exact_dup", "near_dup")(reason))
    }
    // The kept set must retain at least one representative per dropped doc's
    // content: every near-dup cluster keeps its rep, every fp group its min.
    assert(rows.exists(_.getBoolean(1)), "keep list cannot be empty")
  }

  test("q27 sketch percentiles are within tolerance of q20's exact percentiles") {
    val exact = graft.operators.Relational.q20.fn(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val approx = graft.operators.Relational.q27.fn(spark, sf).collect()
    assert(approx.nonEmpty)
    approx.foreach { r =>
      val (p25, p50, p90) = exact(r.getString(0))
      // accuracy 10000 ⇒ rank error ≤ 1/10000; quantity range is ~1..50,
      // so a loose absolute tolerance of 1.0 (one discrete value) is ample.
      assert(math.abs(r.getDouble(1) - p25) <= 1.0, s"p25 off: $r vs $p25")
      assert(math.abs(r.getDouble(2) - p50) <= 1.0, s"p50 off: $r vs $p50")
      assert(math.abs(r.getDouble(3) - p90) <= 1.0, s"p90 off: $r vs $p90")
    }
  }

  test("t11/d07 plans broadcast their small sides (no large-table shuffle joins)") {
    val t11Plan = TextOps.cooccur.fn(spark, sf).queryExecution.executedPlan.toString
    assert(t11Plan.contains("BroadcastHashJoin"), s"t11 df joins should broadcast:\n$t11Plan")
    assert(!t11Plan.contains("SortMergeJoin"), s"t11 should not sort-merge vocabulary joins:\n$t11Plan")
    val d07Plan = Dedup.keepList(spark, sf, 0.5).queryExecution.executedPlan.toString
    assert(d07Plan.contains("BroadcastHashJoin"), s"d07 drop sets should broadcast:\n$d07Plan")
  }

  test("s05 recall eval: recall of the exact result against itself is 1") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(spark, sf, 5, 3)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(
      exact.withColumn("hit", lit(1L)), Seq("query_id", "neighbor_id"), "left")
    val recalls = hits.groupBy("query_id")
      .agg((sum(coalesce(col("hit"), lit(0L))) / lit(3.0)).as("recall"))
      .collect().map(_.getDouble(1))
    assert(recalls.forall(r => math.abs(r - 1.0) < 1e-9))
    // And the operator's own output is well-formed with recalls in [0, 1].
    // Results are unordered — sort at the assertion, compare the method
    // SET.
    val out = Similarity.recallEval(spark, sf, 5, 3).collect()
    assert(out.map(_.getString(0)).sorted.toSeq == Seq("ivf", "lsh", "pq"))
    out.foreach { r =>
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= r.getDouble(1) + 1e-9)
      assert(r.getLong(3) == 5L)
    }
  }
}
