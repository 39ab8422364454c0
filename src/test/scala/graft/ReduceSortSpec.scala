package graft

import org.apache.spark.{SparkEnv, TaskContext}

import graft.functions.{Md5Mod, Md5Partitioner}
import graft.operators.MapReduceJob

/** The reduce side of `MapReduceJob`: each md5-routed partition sorted by
  * `(key, value)` whether it is sorted in memory, through Spark's
  * `ExternalSorter` (spilling), or both (a prefix buffered, then the
  * overflow), and the group reduce streaming its reducer's output.
  */
class ReduceSortSpec extends SparkSpec {

  private val R = 5
  /** Partition left empty: no key of the data routes to it. */
  private val EmptyPart = 3

  /** Equal keys with different values, keys that prefix others, the empty
    * key, multi-byte UTF-8 (accents, CJK, a surrogate pair). */
  private val pairs: Seq[(String, String)] = {
    val keys = Seq("", "a", "ab", "abc", "b", "naïve", "naive", "日本", "日本語", "🎉", "z🎉")
      .filter(Md5Mod.partitionOf(_, R) != EmptyPart)
    val values = Seq("", "1", "10", "2", "x y", "é", "日", "🎉", "a\tb")
    val rnd = new scala.util.Random(11)
    Seq.fill(20000)((keys(rnd.nextInt(keys.size)), values(rnd.nextInt(values.size)) +
      (if (rnd.nextBoolean()) rnd.nextInt(50).toString else "")))
  }

  /** Each partition's sorted pairs and the bytes its task spilled to disk. */
  private def sortedParts(maxBytes: Long): Seq[(Seq[(String, String)], Long)] =
    spark.sparkContext.parallelize(pairs, 4).partitionBy(new Md5Partitioner(R))
      .mapPartitions { it =>
        val sorted = MapReduceJob.sortPartition(it, maxBytes).toVector
        Iterator.single((sorted, TaskContext.get().taskMetrics().diskBytesSpilled))
      }.collect().toSeq

  test("every budget sorts each partition by (key, value) with md5 routing intact") {
    // In local mode the executors read the driver's live SparkConf.
    require(spark.sparkContext.isLocal)
    val conf = SparkEnv.get.conf
    val key = "spark.shuffle.spill.numElementsForceSpillThreshold"
    val saved = conf.getOption(key)
    // Make the ExternalSorter spill every 1,000 records, so the budgets
    // that reach it also exercise its merge of spilled runs.
    conf.set(key, "1000")
    try {
      val expected = pairs.groupBy { case (k, _) => Md5Mod.partitionOf(k, R) }
      // Unlimited: all in memory. 0: all through ExternalSorter. 50 KB: a
      // buffered prefix of each ~4,000-pair partition, then the sorter.
      for (maxBytes <- Seq(Long.MaxValue, 0L, 50000L)) {
        val parts = sortedParts(maxBytes)
        assert(parts.length == R)
        parts.zipWithIndex.foreach { case ((sorted, spilled), p) =>
          assert(sorted == sorted.sorted, s"budget $maxBytes: partition $p not sorted")
          assert(sorted.sorted == expected.getOrElse(p, Seq.empty).sorted,
            s"budget $maxBytes: partition $p holds other pairs than md5 routes to it")
          if (p == EmptyPart) assert(sorted.isEmpty && spilled == 0)
          else if (maxBytes == Long.MaxValue) assert(spilled == 0, s"partition $p spilled")
          else assert(spilled > 0, s"budget $maxBytes: partition $p never reached the sorter")
        }
      }
    } finally saved match {
      case Some(v) => conf.set(key, v)
      case None => conf.remove(key)
    }
  }

  test("pipeReduce routes on the key before the first tab and sorts by (key, line)") {
    import spark.implicits._
    // Multi-byte lines too: the pipe must talk to `cat` in UTF-8, whatever
    // the JVM's default charset.
    val lines = Seq("b\t1", "a\t2", "a\t10", "tabless", "", "ab\t1", "a b\tc",
      "k\tv\tw", "tabless", "a\t", "\tx", "abc", "naïve\tx", "日本\t語", "🎉\tz🎉")
    val got = MapReduceJob.pipeReduce(spark, lines.toDS().repartition(3), Seq("cat"), R)
      .rdd.glom().collect().map(_.toSeq).toSeq
    def key(l: String): String = if (l.contains('\t')) l.substring(0, l.indexOf('\t')) else l
    val want = (0 until R).map(p =>
      lines.filter(l => Md5Mod.partitionOf(key(l), R) == p).sortBy(l => (key(l), l)))
    assert(got == want)
  }

  test("the group reduce streams: one output line pulls at most two values") {
    var pulled = 0
    val sorted = Iterator.range(0, 1000000).map { i => pulled += 1; ("k", i.toString) }
    val out = MapReduceJob.reduceGroups(sorted, MapReduceJob.grepReducer)
    assert(out.next() == "0")
    assert(pulled <= 2, s"$pulled values pulled for the first output line")
  }
}
