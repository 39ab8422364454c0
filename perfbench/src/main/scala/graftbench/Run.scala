package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, MemoLedger, SparkEntry, Submit}
import graft.operators.{Dedup, MapReduceJob, Similarity, TextOps}

/** One benchmark run in one JVM: set the session up once, from JVM start,
  * run [[Warmup]] dropped passes, then measured passes until `--seconds`
  * have elapsed. A pass runs every operation of the workload once, in
  * name order. With `--trace 1` measured passes alternate untraced and
  * traced; a traced pass times the calls into each layer and attaches a
  * [[LayerListener]]. Raw per-pass and per-operation records go to
  * `--out` as JSON; `run.py` turns them into metrics and checks outputs.
  *
  * A run that nears [[DeadlineS]] after JVM start drops the warm-up passes
  * it has no time for and stops measuring after the fewest passes it needs,
  * so a slow engine is still measured.
  *
  * Usage: `graftbench.Run --workload <mapreduce|relational|corpus>
  *   --sf <dir> --work <dir> --out <file> --seconds <s> --trace <0|1>
  *   --clk-tck <hz>`
  */
object Run {
  private val Sink = classOf[FingerprintSink].getName
  private val Reducers = 8
  private val Mappers = 16
  /** Dropped warm-up passes: the first pass runs 2-3.5x slower than a warm
    * one (JIT, codegen), the second up to 50% slower, the third up to 30%. */
  private val Warmup = 3
  private val DeadlineS = 150.0
  /** The registered queries a pass runs: every ninth q query, and the
    * p queries that share the `corpus:staged` memo. */
  private val Queries = Map(
    "relational" -> Seq("q01", "q10", "q19", "q28", "q37", "q46"),
    "corpus" -> Seq("p07", "p11", "p14"))

  final case class Args(workload: String, sf: String, work: String, out: String,
      seconds: Double, trace: Boolean, clkTck: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("sf"), m("work"), m("out"), m("seconds").toDouble,
      m("trace") == "1", m("clk-tck").toInt)
  }

  /** Process CPU seconds, self plus reaped children (the pipe job's shell
    * processes), from /proc/self/stat. */
  private def processCpu(clkTck: Int): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")), StandardCharsets.US_ASCII)
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    // Fields 14-17 of proc(5): utime stime cutime cstime (f(0) is field 3).
    (11 to 14).map(i => f(i).toLong).sum.toDouble / clkTck
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Everything one operation reports; layer fields stay empty untraced. */
  final class OpRec(val name: String) {
    var wall = 0.0
    var ok = false
    var error = ""
    var fingerprint: Option[FingerprintSink.Fingerprint] = None
    var startMs, endMs = 0L
    val spans = mutable.LinkedHashMap.empty[String, Double]
    var layers: Option[LayerListener.Agg] = None
    var builds: Seq[MemoLedger.Build] = Nil
  }

  /** Per-operation context the workloads see: the pass index and whether
    * layer spans are recorded. */
  final class Ctx(val spark: SparkSession, val pass: Int, val traced: Boolean, rec: OpRec) {
    def span[T](name: String)(body: => T): T =
      if (!traced) body
      else {
        val t0 = System.nanoTime()
        try body finally rec.spans(name) = rec.spans.getOrElse(name, 0.0) + secs(t0)
      }
  }

  /** A workload: its operations plus an optional per-pass prologue. */
  final case class Workload(ops: Seq[(String, Ctx => Unit)], prologue: () => Unit = () => ())

  private def queryOp(sf: String, fn: (SparkSession, String) => DataFrame): Ctx => Unit = { c =>
    val df = c.span("query.build_s")(fn(c.spark, sf))
    if (c.traced) c.span("plan.s")(df.queryExecution.executedPlan)
    c.span("save.s")(df.write.format(Sink).mode("overwrite").save())
  }

  private def mrOp(a: Args, name: String, spec: String => MapReduceJob.JobSpec): Ctx => Unit = { c =>
    val dir = s"${a.work}/out/p${c.pass}/$name"
    val job = spec(s"${a.work}/input")
    if (!c.traced) MapReduceJob.runToDir(c.spark, job, dir, exactPartNames = true)
    else {
      val ds = c.span("query.build_s")(MapReduceJob.run(c.spark, job))
      c.span("output.write_s")(MapReduceJob.writeExact(c.spark, ds, dir, job.numReducers))
    }
  }

  private def workload(a: Args): Workload = a.workload match {
    case "relational" | "corpus" =>
      val ops = Queries(a.workload).map { id =>
        val (name, fn) = SparkEntry.queries.find(_._1.startsWith(id + "_"))
          .getOrElse(sys.error(s"no registered query $id"))
        name -> queryOp(a.sf, fn)
      }.sortBy(_._1)
      if (a.workload == "relational") Workload(ops)
      else Workload(ops, () => {
        // Every corpus pass pays its memo builds once.
        Dedup.clearCorpusMemo()
        TextOps.clearTokMemo()
        Similarity.clearEmbMemo()
      })
    case "mapreduce" =>
      val query = new String(Files.readAllBytes(Paths.get(s"${a.work}/query.txt")),
        StandardCharsets.UTF_8).trim
      Workload(Seq(
        "mr1_wordcount" -> mrOp(a, "mr1_wordcount", in => MapReduceJob.JobSpec(
          in, MapReduceJob.wcMapper, MapReduceJob.wcReducer, Reducers, Mappers)),
        "mr2_grep" -> mrOp(a, "mr2_grep", in => MapReduceJob.JobSpec(
          in, MapReduceJob.grepMapper(query), MapReduceJob.grepReducer, Reducers, Mappers)),
        "mr3_submit_wordcount" -> { c =>
          val opts = Submit.Opts(input = s"${a.work}/input",
            output = s"${a.work}/out/p${c.pass}/mr3_submit_wordcount",
            mapper = s"${a.work}/wc_map.sh", reducer = s"${a.work}/wc_reduce.sh",
            numMappers = Mappers, numReducers = Reducers)
          c.span("pipe.job_s")(Submit.execute(c.spark, opts))
        }))
    case w => sys.error(s"unknown workload: $w")
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap.empty[String, Any]

    def elapsed: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Set-up: JVM start until the session is up and has run SparkEntry.entry.
    val t0 = System.nanoTime()
    val spark = GraftSession.get("graftbench")
    val getS = secs(t0)
    val t1 = System.nanoTime()
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    out("setup") = Map("setup_s" -> elapsed, "get_s" -> getS, "entry_s" -> secs(t1))
    out("conf") = Map(
      "master" -> spark.sparkContext.master,
      "parallelism" -> spark.sparkContext.defaultParallelism,
      "reducers" -> Reducers,
      "deadline_s" -> DeadlineS,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-X")).mkString(" "),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))

    val wl = workload(a)
    val sc = spark.sparkContext
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    var lastWall = 0.0
    def runPass(idx: Int, kind: String): Unit = {
      val traced = kind == "traced"
      val listener = if (traced) Some(new LayerListener) else None
      listener.foreach(sc.addSparkListener)
      MemoLedger.drain()
      val cpu0 = processCpu(a.clkTck)
      val t0 = System.nanoTime()
      wl.prologue()
      var peak = 0.0
      val recs = wl.ops.map { case (name, op) =>
        spark.catalog.clearCache()
        val rec = new OpRec(name)
        val key = s"$idx/$name"
        sc.setLocalProperty(LayerListener.OpKey, key)
        rec.startMs = System.currentTimeMillis()
        val ctx = new Ctx(spark, idx, traced, rec)
        val ts = System.nanoTime()
        try {
          op(ctx)
          rec.ok = true
        } catch {
          case e: Throwable =>
            rec.error = e.toString.take(300)
            System.err.println(s"[graftbench] $name failed: $e")
        }
        rec.wall = secs(ts)
        rec.endMs = System.currentTimeMillis()
        sc.setLocalProperty(LayerListener.OpKey, null)
        rec.fingerprint = FingerprintSink.take()
        rec.builds = ctx.span("ledger.drain_s")(MemoLedger.drain())
        peak = math.max(peak, storageMb(spark))
        rec
      }
      val wall = secs(t0)
      lastWall = wall
      val cpu = processCpu(a.clkTck) - cpu0
      val memoEnd = storageMb(spark)
      val untagged = listener.map { l =>
        org.apache.spark.BusAccess.drain(sc)
        sc.removeSparkListener(l)
        recs.foreach(r => r.layers = Some(l.take(s"$idx/${r.name}")))
        l.take(LayerListener.Untagged).jobs
      }
      passes += Map(
        "index" -> idx, "kind" -> kind, "wall_s" -> wall, "cpu_s" -> cpu,
        "storage_peak_mb" -> peak, "storage_end_mb" -> memoEnd,
        "untagged_jobs" -> untagged,
        "ops" -> recs.map(opJson))
    }

    // Past the deadline a run still measures one untraced pass, and one
    // traced pass after it when tracing.
    val needed = if (a.trace) 2 else 1
    var idx = 0
    while (idx < Warmup && elapsed + (1 + needed) * lastWall < DeadlineS) {
      runPass(idx, "warmup")
      idx += 1
    }
    val m0 = System.nanoTime()
    var kinds = List.empty[String]
    def done: Boolean = kinds.size >= needed &&
      (secs(m0) >= a.seconds || elapsed + lastWall >= DeadlineS)
    while (!done) {
      val kind = if (a.trace && kinds.headOption.contains("untraced")) "traced" else "untraced"
      runPass(idx, kind)
      kinds = kind :: kinds
      idx += 1
    }
    out("passes") = passes.toSeq
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(a.out), out)
    spark.stop()
  }

  private def opJson(r: OpRec): Map[String, Any] = {
    val base = Map[String, Any]("name" -> r.name, "wall_s" -> r.wall, "ok" -> r.ok,
      "error" -> r.error, "start_ms" -> r.startMs, "end_ms" -> r.endMs) ++
      r.fingerprint.map(f => Map("rows" -> f.rows, "hash" -> f.hash.toString)).getOrElse(Map.empty) ++
      r.spans + ("memo_builds" -> r.builds.map(b =>
        Map("memo" -> b.memo, "artifact" -> b.artifact, "s" -> b.sec)))
    r.layers.fold(base) { l =>
      base ++ Map(
        "sched.jobs" -> l.jobs, "sched.stages" -> l.stages, "sched.tasks" -> l.tasks,
        "sched.tasks_failed" -> l.tasksFailed,
        "sched.job_span_s" -> l.coveredMs(r.startMs, r.endMs) / 1e3,
        "task.run_s" -> l.runMs / 1e3, "task.cpu_s" -> l.cpuNs / 1e9, "task.gc_s" -> l.gcMs / 1e3,
        "scan.input_mb" -> l.inBytes / 1e6, "scan.input_records" -> l.inRecords,
        "shuffle.write_mb" -> l.shuffleWriteBytes / 1e6, "shuffle.read_mb" -> l.shuffleReadBytes / 1e6,
        "shuffle.records" -> l.shuffleRecords, "shuffle.fetch_wait_s" -> l.fetchWaitMs / 1e3,
        "spill.mem_mb" -> l.spillMem / 1e6, "spill.disk_mb" -> l.spillDisk / 1e6)
    }
  }
}
