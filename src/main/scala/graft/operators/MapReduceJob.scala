package graft.operators

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.{ShuffleSort, StringPairSerializer, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.Md5Partitioner

/** Hadoop-streaming-style MapReduce facade — the reference's user contract
  * (reference `mapreduce/submit.py:80-88` job descriptor; map → md5-hash
  * partition → sort within partition → k-way merge → streaming group reduce
  * → `part-NNNNN` text output, per SURVEY.md §2 ops 3–11) re-expressed on
  * Spark.
  *
  * Native mappers/reducers run as Scala functions inside the JVM; external
  * stdin→stdout executables are supported through [[pipeMap]] (`RDD.pipe`,
  * the literal Hadoop-streaming equivalent). The md5 routing + whole-line
  * sort reproduce the reference's observable output contract: each output
  * partition r holds exactly the keys with `md5(key) % R == r`, key-sorted
  * (reference `tests/test_worker_08.py:246-257`).
  *
  * This facade is intentionally the only RDD-based operator in the engine:
  * its contract *is* imperative per-partition layout. Everything else stays
  * in DataFrame land for Catalyst.
  */
object MapReduceJob {

  /** Job descriptor, mirroring the reference's JSON job
    * (input/output/mapper/reducer/parallelism — reference
    * `submit.py:80-88` carries BOTH `num_mappers` and `num_reducers`).
    * `numMappers = 0` (default) lets Spark pick map parallelism from the
    * input splits; > 0 reproduces the reference's exact round-robin
    * file→task assignment (see [[mapInput]]). */
  final case class JobSpec(
      inputDir: String,
      mapper: String => IterableOnce[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[String],
      numReducers: Int,
      numMappers: Int = 0)

  /** Input scan honoring `numMappers` (SURVEY §2 ops 1–2): list regular
    * files, sorted by name (reference `manager/__main__.py:320-327`), and
    * assign file i to map task `i % numMappers` (reference
    * `manager/__main__.py:330-334`) — exactly the reference's split
    * layout, one RDD partition per map task. Files are read executor-side
    * through the Hadoop FileSystem API, so the same code path works on
    * local disk and on a distributed store. With `numMappers <= 0` the
    * scan is Spark's own split packing (better at scale: splits sized by
    * bytes, not file count).
    */
  def mapInput(spark: SparkSession, inputDir: String, numMappers: Int): RDD[String] =
    if (numMappers <= 0) spark.read.textFile(inputDir).rdd
    else {
      val dir = new Path(inputDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sortedFiles = fs.listStatus(dir).filter(_.isFile)
        .map(_.getPath.toString).sorted.toSeq
      val tasks = (0 until numMappers)
        .map(t => sortedFiles.zipWithIndex.collect { case (f, i) if i % numMappers == t => f })
      // Ship the SESSION's Hadoop configuration to executors (a fresh
      // `new Configuration()` in the closure would silently drop
      // configured credentials / filesystem bindings — S3A keys, custom
      // schemes, kerberos — on a real cluster).
      val hadoopConfB = spark.sparkContext.broadcast(
        new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
      spark.sparkContext.parallelize(tasks, numMappers).flatMap { files =>
        files.iterator.flatMap { f =>
          val p = new Path(f)
          // Executor-side open via the path's own FileSystem, scheme from
          // the URI, resolved against the broadcast session config.
          val in = p.getFileSystem(hadoopConfB.value.value).open(p)
          val reader = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
          new Iterator[String] {
            private var line = reader.readLine()
            if (line == null) reader.close()
            def hasNext: Boolean = line != null
            def next(): String = {
              val l = line
              line = reader.readLine()
              if (line == null) reader.close()
              l
            }
          }
        }
      }
    }

  /** Word-count mapper/reducer (reference `tests/testdata/exec/wc_map.sh:12`,
    * `wc_reduce.sh:14`): split on space/tab AND literal brackets — the
    * reference's `tr '[ \t]' '\n'` treats SET1 as the four literal chars
    * `[`, space, tab, `]`, so brackets are token separators too. Empty
    * tokens are kept (blank lines count under the empty key). A
    * character class is not on `String.split`'s one-char fast path, so
    * the pattern is compiled once here instead of once per line. */
  private val wcSeparators = java.util.regex.Pattern.compile("[ \t\\[\\]]")
  val wcMapper: String => IterableOnce[(String, String)] =
    line => wcSeparators.split(line.toLowerCase(Locale.ROOT), -1).map(w => (w, "1"))
  /** Sums in a `Long`, as the reference's Python ints never wrap; a
    * non-numeric value still throws. */
  val wcReducer: (String, Iterator[String]) => IterableOnce[String] =
    (key, vals) => Iterator.single(s"$key\t${vals.map(_.toLong).sum}")

  /** Grep mapper/reducer (reference `tests/testdata/exec/grep_map.py:14-28`,
    * `grep_reduce.py:14-27`): emit matching lines under constant key "1".
    * Only the LINE is lowercased for the match — the reference does
    * `query in line.lower()` without lowering the query, so an uppercase
    * query matches nothing (reproduced here for parity). Both mappers
    * lowercase in `Locale.ROOT`, like Python's locale-free `str.lower()`:
    * under a Turkish default locale `"I"` would become a dotless `"ı"`. */
  def grepMapper(query: String): String => IterableOnce[(String, String)] =
    line => {
      val t = line.strip()
      if (t.nonEmpty && t.toLowerCase(Locale.ROOT).contains(query)) Iterator.single(("1", t))
      else Iterator.empty
    }
  val grepReducer: (String, Iterator[String]) => IterableOnce[String] =
    (_, vals) => vals

  /** Run a job: returns one `Dataset[String]` whose partition p contains the
    * reducer output for md5-routed partition p, key-sorted — the in-memory
    * form of the reference's `part-{p:05d}` files. The map output is
    * shuffled as plain `(key, value)` pairs and each reduce partition is
    * sorted by whole pair ([[routeSorted]]); the reducer then streams over
    * one key group at a time ([[reduceGroups]]). */
  def run(spark: SparkSession, spec: JobSpec): Dataset[String] = {
    import spark.implicits._
    val mapped = mapInput(spark, spec.inputDir, spec.numMappers).flatMap(spec.mapper)
    spark.createDataset(routeSorted(mapped, spec.numReducers)
      .mapPartitions(reduceGroups(_, spec.reducer)))
  }

  /** Streaming group-by over a `(key, value)`-sorted run (itertools.groupby
    * analog — reference `tests/testdata/exec/wc_reduce.py:26`): the
    * reducer's own output iterator is returned line by line, pulling its
    * group's values as it goes, so this step holds O(1) lines (grep's
    * pass-through reducer holds none). */
  private[graft] def reduceGroups(sorted: Iterator[(String, String)],
      reducer: (String, Iterator[String]) => IterableOnce[String]): Iterator[String] =
    new Iterator[String] {
      private val buf = sorted.buffered
      private var vals: Iterator[String] = Iterator.empty
      private var out: Iterator[String] = Iterator.empty
      private def advance(): Unit =
        while (!out.hasNext && {
          // A reducer need not consume all its values (the reference pipes
          // the whole group regardless); once its output is exhausted,
          // drain the rest so the next group starts at the next key
          // instead of re-reducing this one (or spinning forever).
          while (vals.hasNext) vals.next()
          buf.hasNext
        }) {
          val key = buf.head._1
          vals = new Iterator[String] {
            def hasNext: Boolean = buf.hasNext && buf.head._1 == key
            def next(): String = buf.next()._2
          }
          out = reducer(key, vals).iterator
        }
      def hasNext: Boolean = { advance(); out.hasNext }
      def next(): String = { advance(); out.next() }
    }

  /** Md5-route `(key, value)` pairs to `numReducers` partitions on the key
    * and sort each partition by whole pair — the reference's whole-line
    * sort of every partition file (`worker/__main__.py:191-198`). The
    * shuffle moves the pairs through [[StringPairSerializer]] (varint
    * length + UTF-8 bytes per string, no per-stream state), not the
    * session's Kryo: Spark ships the serializer inside every map task with
    * an empty Kryo pool, so Kryo would build a fresh instance for each
    * reduce-partition stream a task opens. The shuffle reads unsorted;
    * [[sortPartition]] sorts it, in memory below the size at which Spark's
    * reduce-side sorter would first ask for execution memory. */
  private[graft] def routeSorted(pairs: RDD[(String, String)],
      numReducers: Int): RDD[(String, String)] =
    new ShuffledRDD[String, String, String](pairs, new Md5Partitioner(numReducers))
      .setSerializer(StringPairSerializer)
      .mapPartitions(sortPartition(_, ShuffleSort.initialMemoryThreshold))

  private val pairOrdering = Ordering[(String, String)]

  /** Upper bound of one buffered pair's JVM bytes beyond 2 bytes per char,
    * with 16-byte headers and 8-byte references, and at least what Spark's
    * sorter estimates per record: its `(partition, key)` and `(key, value)`
    * `Tuple2`s (2 × 32), two `String`s with their byte arrays' headers and
    * padding (2 × 56), and two slots of a buffer that grows by doubling
    * (32). */
  private val PairBytes = 208L

  /** Sort one reduce partition by `(key, value)`. While the pairs read so
    * far fit `maxBytes` (by the [[PairBytes]] bound) they are buffered; a
    * partition that fits whole is sorted in memory. One that outgrows it
    * goes, buffered prefix first, through Spark's `ExternalSorter`, which
    * spills as a shuffle read would. [[routeSorted]] passes the size below
    * which that sorter neither spills nor asks for execution memory, so
    * memory behaviour stays the sorter's. */
  private[graft] def sortPartition(it: Iterator[(String, String)],
      maxBytes: Long): Iterator[(String, String)] = {
    val buf = new java.util.ArrayList[(String, String)]()
    var bytes = 0L
    var fits = true
    while (fits && it.hasNext) {
      val p = it.next()
      buf.add(p)
      bytes += PairBytes + 2L * (p._1.length + p._2.length)
      fits = bytes <= maxBytes
    }
    if (fits) {
      buf.sort(pairOrdering) // java.util.Arrays.sort over the list's array
      buf.iterator.asScala
    } else ShuffleSort.sorted(buf.iterator.asScala ++ it)(pairOrdering)
  }

  /** Write job output as the reference does: overwrite-mode text files, one
    * per reduce partition (reference `worker/__main__.py:237-250`,
    * `manager/__main__.py:344-355`). With `exactPartNames = true` the
    * output directory is byte-identical to the reference's layout: exactly
    * `numReducers` files named `part-{NNNNN}` (reference
    * `worker/__main__.py:237-238`), existing output deleted first
    * (reference `manager/__main__.py:345-355`), committed by
    * [[writeExact]]'s temp-and-rename in the reduce stage itself. */
  def runToDir(spark: SparkSession, spec: JobSpec, outputDir: String,
      exactPartNames: Boolean = false): Unit =
    if (!exactPartNames) run(spark, spec).write.mode("overwrite").text(outputDir)
    else writeExact(spark, run(spark, spec), outputDir, spec.numReducers)

  /** Commit a per-partition line dataset to `outputDir` as exactly one
    * `part-{NNNNN}` file per partition, empty partitions included (a 0-byte
    * file), each line UTF-8 with a trailing `\n` — the reference's
    * always-R-files contract and MapReduce's own commit (Dean & Ghemawat
    * §3.3): every reduce attempt writes a private hidden
    * `.part-NNNNN.<taskAttemptId>` and renames it to `part-NNNNN`. If the
    * rename finds `part-NNNNN` already committed by another attempt of the
    * same task, that attempt wrote the same bytes (job output is
    * deterministic under retry, see RetryDeterminismSpec), so the temp is
    * dropped. After the job, the driver deletes every non-`part-` entry:
    * the temps of killed attempts. No Hadoop output committer runs, so there
    * is no `_temporary` dir and no `_SUCCESS` marker. Files go through the
    * raw filesystem, so a checksummed local FS writes no `.crc` siblings
    * (and its JVM-wide cached instance keeps checksumming other writes). */
  def writeExact(spark: SparkSession, out: Dataset[String], outputDir: String,
      numReducers: Int): Unit = {
    val sc = spark.sparkContext
    val fs = rawFileSystem(new Path(outputDir), sc.hadoopConfiguration)
    // Qualified on the driver, so every task resolves the same directory.
    val dir = fs.makeQualified(new Path(outputDir))
    if (fs.exists(dir)) fs.delete(dir, true)
    if (!fs.mkdirs(dir)) throw new IOException(s"writeExact: cannot create $dir")
    val dirName = dir.toString
    val hadoopConfB = sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration))
    out.rdd.foreachPartition { lines =>
      val task = TaskContext.get()
      val name = f"part-${task.partitionId()}%05d"
      val part = new Path(dirName, name)
      val tmp = new Path(dirName, s".$name.${task.taskAttemptId()}")
      val tfs = rawFileSystem(part, hadoopConfB.value.value)
      val os = tfs.create(tmp, false, 1 << 16)
      try lines.foreach { l => os.write(l.getBytes(StandardCharsets.UTF_8)); os.write('\n') }
      finally os.close()
      // A local rename replaces an existing target; HDFS's returns false.
      if (!tfs.rename(tmp, part)) {
        if (tfs.exists(part)) tfs.delete(tmp, false)
        else throw new IOException(s"writeExact: cannot rename $tmp to $part")
      }
    }
    val (parts, stray) = fs.listStatus(dir).map(_.getPath).partition(_.getName.startsWith("part-"))
    stray.foreach(fs.delete(_, true))
    require(parts.length == numReducers,
      s"writeExact: expected $numReducers part files in $outputDir, found ${parts.length}")
  }

  /** The filesystem of `p` without its checksum layer, if it has one. */
  private def rawFileSystem(p: Path, conf: Configuration): FileSystem =
    p.getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case f => f
    }

  /** Charset of both pipes' stdin and stdout. */
  private val PipeEncoding = StandardCharsets.UTF_8.name

  /** External-executable map stage (Hadoop-streaming compatibility,
    * reference `worker/__main__.py:167-186`): stream partition lines through
    * `command` via RDD.pipe, in UTF-8 both ways as [[mapInput]] reads and
    * [[writeExact]] writes (the pipe's own default is the JVM charset). */
  def pipeMap(spark: SparkSession, inputDir: String, command: Seq[String],
      numMappers: Int = 0): Dataset[String] = {
    import spark.implicits._
    spark.createDataset(
      mapInput(spark, inputDir, numMappers).pipe(command, encoding = PipeEncoding))
  }

  /** External-executable reduce stage (reference
    * `worker/__main__.py:241-249`): md5-route each tab-KV line on its key
    * (everything before the first tab, reference `worker/__main__.py:182`),
    * whole-line-sort within each reduce partition (the reference `sort`s
    * every intermediate file, `worker/__main__.py:195-198`, and
    * `heapq.merge`s them), then stream each partition's merged run through
    * `command` once via RDD.pipe — one reducer process per partition,
    * exactly the reference's layout. The shuffle carries `(key, line)`
    * pairs, sorted by key, then line, by [[routeSorted]] as in [[run]],
    * and talks to `command` in UTF-8 like [[pipeMap]].
    * Lines are kept verbatim (a line with no tab reduces under itself as
    * key, like the reference). */
  def pipeReduce(spark: SparkSession, mapped: Dataset[String], command: Seq[String],
      numReducers: Int): Dataset[String] = {
    import spark.implicits._
    val keyed = mapped.rdd.map { line =>
      val i = line.indexOf('\t')
      (if (i >= 0) line.substring(0, i) else line, line)
    }
    spark.createDataset(
      routeSorted(keyed, numReducers).map(_._2).pipe(command, encoding = PipeEncoding))
  }

  /** Full Hadoop-streaming job with EXTERNAL mapper and reducer — the
    * reference's complete user contract (`submit.py` job descriptor run
    * end-to-end): map executable over round-robin file splits, md5
    * shuffle, in-partition sort, reduce executable per partition. */
  def pipeJob(spark: SparkSession, inputDir: String, mapCmd: Seq[String],
      reduceCmd: Seq[String], numReducers: Int, numMappers: Int = 0): Dataset[String] =
    pipeReduce(spark, pipeMap(spark, inputDir, mapCmd, numMappers), reduceCmd, numReducers)
}

/** Serializable carrier for a Hadoop `Configuration` (which is not
  * `java.io.Serializable` itself) so the SESSION's configuration — with its
  * credentials and filesystem bindings — can broadcast to executors.
  * Same shape as Spark's own `private[spark] SerializableConfiguration`
  * (spark/util/SerializableConfiguration.scala), reimplemented here because
  * that class is not public API. */
final class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}
