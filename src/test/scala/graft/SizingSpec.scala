package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Sizing}

/** The scan-split-aware spread guard (round 17, VERDICT r16 backlog item):
  * `Sizing.spreadCount` must return a data-proportional partition count
  * for a small single-file input (the local fixture case, where the
  * round-robin fan-out is load-bearing for the CPU kernels) and `None` —
  * no repartition at all — once the input's own scan splits reach the
  * session parallelism (the 100 TB case, where the shuffle would move the
  * full text payload the scan already spreads). The multi-split side is
  * driven by shrinking `spark.sql.files.maxPartitionBytes`, which is
  * exactly the quantity the guard reasons about. */
class SizingSpec extends SparkSpec {
  import spark.implicits._

  test("single small file: spread fans out, proportional to bytes, capped at parallelism") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val n = Sizing.spreadCount(docs.select(col("doc_id"), col("text")))
    assert(n.isDefined, "small single-file input must spread")
    assert(n.get >= 1 && n.get <= spark.sparkContext.defaultParallelism)
  }

  test("tiny input stays on few tasks instead of one per core") {
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    // A 2-row LocalRelation is a few hundred bytes: one task is enough.
    val n = Sizing.spreadCount(docs)
    assert(n.contains(1), s"2-row input got $n partitions")
  }

  test("guard fires: scan splits >= parallelism => no repartition (and plan shows no round-robin)") {
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      // documents.parquet at sf0.001 is ~tens of KB; 2 KB splits give far
      // more scan partitions than the 4-core test session.
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
      val docs = sources.Tables.documents(spark, sf)
      assert(Sizing.spreadCount(docs.select(col("doc_id"), col("text"))).isEmpty,
        "many-split input must not be round-robin repartitioned")
      val plan = Dedup.spread(docs).queryExecution.executedPlan.toString
      assert(!plan.contains("RoundRobinPartitioning"),
        s"spread added a round-robin exchange despite enough scan splits:\n$plan")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("guard open: default splits on the small fixture => round-robin present") {
    val docs = sources.Tables.documents(spark, sf)
    val plan = Dedup.spread(docs).queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"),
      s"small single-file input lost its fan-out:\n$plan")
  }

  test("unknown estimate counts as big (scale-safe): no spread of an opaque input") {
    // An RDD-backed plan has no real size estimate (defaultSizeInBytes,
    // effectively "huge") => the guard must treat it as already-parallel
    // rather than shuffle it. (A localCheckpoint is NOT opaque — Spark 4's
    // LogicalRDD carries the origin stats — so checkpointed memo slices
    // still fan out; asserted by the first test running post-checkpoint.)
    val rdd = spark.sparkContext.parallelize(Seq((1L, "alpha"), (2L, "beta")), 2)
    val docs = spark.createDataFrame(rdd).toDF("doc_id", "text")
    assert(Sizing.spreadCount(docs).isEmpty)
  }
}
