package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Inspection CLI for inventory queries, one session per invocation:
  *
  *   runMain graft.Inspect plan <query>  <sfDir>
  *   runMain graft.Inspect time <query>  <sfDir> [noop|count]
  *   runMain graft.Inspect jobs <query>  <sfDir> [reps]
  *   runMain graft.Inspect dump <outDir> <sfDir> [query ...]
  *
  *  - `plan` prints the formatted physical plan (`explain("formatted")`).
  *  - `time` prints min-of-2 wall seconds. `noop` (the default, Bench's
  *    convention) fully materializes; `count` lets Catalyst prune a pure
  *    projection down to a metadata scan, which is what SCALE.md's
  *    rehearsal rows timed.
  *  - `jobs` runs the query through the noop sink `reps` times (default 3)
  *    with a listener recording every job's wall span, and prints per-run
  *    job timelines (id, span, gap since the previous job's end, tasks,
  *    description): where a small-SF query's wall goes — task compute,
  *    scheduler barriers, or gaps between jobs where no task runs.
  *  - `dump` writes `<outDir>/<query>.txt` with the formatted plan of each
  *    named query (all of them when none is named), in name order — the
  *    order Bench runs, so memo consumers are captured in their steady
  *    memo-hit shape — and prints one exchange/scan/sort/join count line
  *    per query.
  */
object Inspect {
  private val usage =
    "usage: Inspect <plan|time|jobs> <query> <sfDir> [mode|reps] | " +
      "Inspect dump <outDir> <sfDir> [query ...]"

  def main(args: Array[String]): Unit = {
    if (args.length < 3) sys.error(usage)
    val (mode, target, sfDir) = (args(0), args(1), args(2))
    val extra = args.drop(3).toSeq
    val run: SparkSession => Unit = mode match {
      case "plan" => spark => println(plan(query(target)(spark, sfDir)))
      case "time" => time(_, target, sfDir, extra.headOption.getOrElse("noop"))
      case "jobs" => jobs(_, target, sfDir, extra.headOption.fold(3)(_.toInt))
      case "dump" => dump(_, target, sfDir, extra.toSet)
      case _ => sys.error(usage)
    }
    val spark = GraftSession.get(s"graft-inspect-$mode")
    try run(spark) finally spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(spark: SparkSession, name: String, dir: String, mode: String): Unit = {
    val fn = query(name)
    def once(): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      if (mode == "count") fn(spark, dir).count() else noop(fn(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    val t = math.min(once(), once())
    println(f"[inspect time] $name $mode $dir $t%.2f s")
  }

  private def jobs(spark: SparkSession, name: String, dir: String, reps: Int): Unit = {
    val fn = query(name)
    // (jobId, description, start ms, end ms, tasks)
    val done = new ConcurrentLinkedQueue[(Int, String, Long, Long, Int)]()
    val starts = new ConcurrentHashMap[Int, (String, Long, Int)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        starts.put(js.jobId, (desc, js.time, js.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (desc, t0, nTasks) =>
          done.add((je.jobId, desc, t0, je.time, nTasks))
        }
    })
    for (r <- 1 to reps) {
      spark.catalog.clearCache()
      done.clear()
      val t0 = System.nanoTime()
      noop(fn(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(800) // let listener events drain
      val js = done.asScala.toSeq.sortBy(_._3)
      val sumSec = js.map(j => (j._4 - j._3) / 1e3).sum
      println(f"== run $r: wall $wall%.3f s, ${js.size} jobs, job-span sum $sumSec%.3f s")
      var prevEnd = 0L
      js.foreach { case (id, desc, s, e, nTasks) =>
        val gap = if (prevEnd == 0) 0.0 else (s - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, e)
        println(f"  job $id%4d ${(e - s) / 1e3}%7.3f s  gap $gap%7.3f s  tasks $nTasks%4d  ${desc.take(90)}")
      }
    }
  }

  private def dump(spark: SparkSession, outDir: String, dir: String, only: Set[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    // Queries sorting after the last requested name cannot influence any
    // captured plan (memos build in name order) — don't run them.
    val sorted = if (only.isEmpty) all else all.takeWhile(_._1 <= only.max)
    sorted.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        if (only.isEmpty || only.contains(name)) {
          val txt = plan(df)
          Files.write(Paths.get(outDir, s"$name.txt"), txt.getBytes(StandardCharsets.UTF_8))
          def n(p: String) = p.r.findAllIn(txt).length
          println(f"[inspect dump] $name%-32s exch=${n("Exchange")}%2d " +
            f"scan=${n("Scan parquet")}%2d sort=${n("\\bSort\\b")}%2d " +
            f"smj=${n("SortMergeJoin")}%2d bhj=${n("BroadcastHashJoin")}%2d")
        } else
          // Still EXECUTE skipped queries so session memos build in Bench
          // order and later plans are captured memo-hit shaped.
          noop(df)
      } catch {
        case e: Throwable => System.err.println(s"[inspect dump] $name: $e")
      }
    }
  }
}
