package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The [[SessionMemo]] contract: hits, nesting within and across
  * families, eviction on a corpus rewrite, install, clear, held RDD ids.
  * Each test uses its own families over a temp corpus dir, so the
  * engine's three memos are never touched. */
class SessionMemoSpec extends SparkSpec {

  private def corpusDir(): Path = {
    val dir = Files.createTempDirectory("graft_session_memo")
    Files.write(dir.resolve("part-00000.parquet"), Array.fill[Byte](64)(1))
    dir
  }

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  private def persisted(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))

  private def ledgered(family: String): Seq[String] =
    MemoLedger.drain().filter(_.memo == family).map(_.artifact)

  test("a hit returns the held value; the build runs once and is ledgered once") {
    val memo = new SessionMemo("spec_hit")
    val d = corpusDir().toString
    MemoLedger.drain()
    var builds = 0
    def get(): DataFrame = memo.checkpointed(spark, d, "ids") {
      builds += 1
      spark.range(20).toDF("id")
    }
    val first = get()
    assert(get() eq first)
    assert(builds == 1)
    assert(first.count() == 20)
    assert(ledgered("spec_hit") == Seq("ids"))
    memo.clear()
  }

  test("nested builds in one family and a cross-family read both complete, each ledgered once") {
    val a = new SessionMemo("spec_a")
    val b = new SessionMemo("spec_b")
    val d = corpusDir().toString
    MemoLedger.drain()
    def base(): DataFrame = a.checkpointed(spark, d, "base")(spark.range(10).toDF("id"))
    def nested(): DataFrame = a.checkpointed(spark, d, "nested")(base().filter("id % 2 = 0"))
    def cross(): Long = b(spark, d, "cross")(nested().count() + base().count())
    assert(cross() == 15L)
    assert(cross() == 15L)
    val built = MemoLedger.drain()
    assert(built.filter(_.memo == "spec_a").map(_.artifact).sorted == Seq("base", "nested"))
    assert(built.filter(_.memo == "spec_b").map(_.artifact) == Seq("cross"))
    a.clear(); b.clear()
  }

  test("a corpus rewrite evicts: the next access rebuilds and the old checkpoint is freed") {
    val memo = new SessionMemo("spec_evict")
    val dir = corpusDir()
    val d = dir.toString
    MemoLedger.invalidateStamps()
    val old = memo.checkpointed(spark, d, "ids")(spark.range(5).toDF("id"))
    assert(persisted(old))
    Files.write(dir.resolve("part-00000.parquet"), Array.fill[Byte](128)(2))
    MemoLedger.invalidateStamps()
    MemoLedger.drain()
    val fresh = memo.checkpointed(spark, d, "ids")(spark.range(7).toDF("id"))
    assert(!(fresh eq old))
    assert(fresh.count() == 7)
    assert(!persisted(old), "evicted checkpoint still holds its blocks")
    assert(ledgered("spec_evict") == Seq("ids"))
    memo.clear()
  }

  test("install overwrites a built artifact and writes no ledger entry") {
    val memo = new SessionMemo("spec_install")
    val d = corpusDir().toString
    val built = memo.checkpointed(spark, d, "ids")(spark.range(3).toDF("id"))
    MemoLedger.drain()
    val shipped = spark.range(4).toDF("id")
    memo.install(spark, d, "ids", shipped)
    assert(memo.checkpointed(spark, d, "ids")(sys.error("must not rebuild")) eq shipped)
    assert(!persisted(built), "the replaced checkpoint was not freed")
    assert(ledgered("spec_install").isEmpty)
    memo.clear()
  }

  test("clear drops every artifact, DataFrames inside tuples included") {
    val memo = new SessionMemo("spec_clear")
    val d = corpusDir().toString
    val df = memo.checkpointed(spark, d, "ids")(spark.range(3).toDF("id"))
    val (_, inPair) = memo(spark, d, "pair")(
      (Array(1.0), spark.range(2).toDF("id").localCheckpoint()))
    assert(persisted(df) && persisted(inPair))
    assert(memo.rddIds == Set(rddId(df), rddId(inPair)))
    memo.clear()
    assert(memo.rddIds.isEmpty)
    assert(!persisted(df) && !persisted(inPair))
    MemoLedger.drain()
    var builds = 0
    memo(spark, d, "ids") { builds += 1; 0 }
    memo(spark, d, "pair") { builds += 1; 0 }
    assert(builds == 2)
    assert(ledgered("spec_clear").sorted == Seq("ids", "pair"))
    memo.clear()
  }
}
