package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, EOFException,
  StreamCorruptedException}

import org.apache.spark.{Dependency, ShuffleDependency, StringPairSerializer}
import org.apache.spark.rdd.RDD

import graft.functions.Md5Mod
import graft.operators.MapReduceJob

/** The MapReduce shuffle's serializer: exact round trips of any string
  * pair, streams that concatenate into one stream, and `routeSorted`'s
  * shuffle (both `run` and `pipeReduce`) carrying it.
  */
class StringPairSerializerSpec extends SparkSpec {

  /** 10,000 pairs: the empty key and value, accents, CJK, surrogate pairs,
    * tabs, and one value past `writeUTF`'s 64 KB limit. */
  private val pairs: Seq[(String, String)] = {
    val strings = Seq("", "a", "naïve", "café au lait", "日本語", "🎉", "z🎉😀",
      "tab\there", "x" * 127, "y" * 128, "é" * 8192)
    val rnd = new scala.util.Random(7)
    Seq.tabulate(10000) { i =>
      if (i == 5000) ("big", "日本🎉é" * 12000)
      else (strings(rnd.nextInt(strings.size)) + (if (rnd.nextBoolean()) i else ""),
        strings(rnd.nextInt(strings.size)))
    }
  }

  private def write(ps: Seq[(String, String)]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = StringPairSerializer.newInstance().serializeStream(bytes)
    ps.foreach { case (k, v) => out.writeKey(k).writeValue(v) }
    out.close()
    bytes.toByteArray
  }

  private def read(bytes: Array[Byte]): Seq[(Any, Any)] =
    StringPairSerializer.newInstance().deserializeStream(new ByteArrayInputStream(bytes))
      .asKeyValueIterator.toVector

  test("10,000 pairs round-trip exactly, one value over 100 KB") {
    assert(pairs.exists(_._2.getBytes("UTF-8").length > 100000))
    val bytes = write(pairs)
    assert(read(bytes) == pairs)
    // A varint length (7 bits a byte) and the UTF-8 bytes, nothing else.
    def size(s: String): Int = {
      val n = s.getBytes("UTF-8").length
      n + Iterator.iterate(n)(_ >>> 7).drop(1).takeWhile(_ > 0).size + 1
    }
    assert(bytes.length == pairs.map { case (k, v) => size(k) + size(v) }.sum)
    assert(read(Array.emptyByteArray).isEmpty)
  }

  test("two streams concatenated read back as one stream") {
    val (a, b) = pairs.splitAt(3333)
    assert(read(write(a) ++ write(b)) == pairs)
    // Record by record too: the relocation a serialized shuffle relies on.
    val records = pairs.take(100).map(p => write(Seq(p)))
    assert(read(records.reverse.flatten.toArray) == pairs.take(100).reverse)
  }

  test("a stream cut inside a record is an error, not a clean end") {
    val bytes = write(pairs.take(10))
    val loneKey = new ByteArrayOutputStream()
    StringPairSerializer.newInstance().serializeStream(loneKey).writeKey("k").close()
    // Cut inside a string, and cut between a key and its value.
    for (cut <- Seq(bytes.dropRight(1), bytes ++ loneKey.toByteArray)) {
      val in = StringPairSerializer.newInstance()
        .deserializeStream(new ByteArrayInputStream(cut))
      val e = intercept[Exception](in.asKeyValueIterator.toVector)
      assert(e.isInstanceOf[StreamCorruptedException] && !e.isInstanceOf[EOFException])
    }
  }

  private def shuffleDeps(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] = {
    def walk(deps: Seq[Dependency[_]]): Seq[ShuffleDependency[_, _, _]] = deps.flatMap {
      case s: ShuffleDependency[_, _, _] => s +: walk(s.rdd.dependencies)
      case d => walk(d.rdd.dependencies)
    }
    walk(rdd.dependencies)
  }

  test("run's and pipeReduce's shuffles carry StringPairSerializer") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sps").toFile
    java.nio.file.Files.write(new java.io.File(dir, "f").toPath, "b a\nc\n".getBytes("UTF-8"))
    val wc = MapReduceJob.run(spark, MapReduceJob.JobSpec(
      dir.getPath, MapReduceJob.wcMapper, MapReduceJob.wcReducer, 3))
    val piped = MapReduceJob.pipeReduce(spark, Seq("a\t1").toDS(), Seq("cat"), 3)
    for (ds <- Seq(wc, piped)) {
      val deps = shuffleDeps(ds.rdd)
      assert(deps.size == 1)
      assert(deps.head.serializer eq StringPairSerializer)
    }
    assert(wc.collect().sorted.toSeq == Seq("a\t1", "b\t1", "c\t1"))
  }

  test("more than 200 reducers: serialized shuffle, routed and sorted") {
    val R = 211
    val routed = MapReduceJob.routeSorted(spark.sparkContext.parallelize(pairs, 4), R)
    val dep = shuffleDeps(routed).head
    // Bypass-merge covers up to 200 reducers; past that, relocatable
    // records let Spark use UnsafeShuffleWriter instead of a sort writer.
    assert(dep.shuffleHandle.getClass.getSimpleName == "SerializedShuffleHandle")
    val parts = routed.glom().collect().map(_.toSeq).toSeq
    assert(parts.length == R)
    val want = pairs.groupBy { case (k, _) => Md5Mod.partitionOf(k, R) }
    parts.zipWithIndex.foreach { case (got, p) =>
      assert(got == want.getOrElse(p, Seq.empty).sorted, s"partition $p")
    }
  }
}
