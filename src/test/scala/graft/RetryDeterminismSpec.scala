package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, TaskContext, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.Dataset

import graft.operators.MapReduceJob
import graft.operators.MapReduceJob.JobSpec

/** A re-run task gives the same part files. The reference's one
  * fault-tolerance feature is re-running a dead worker's task (reference
  * `tests/test_manager_05.py:212-306`); here Spark's scheduler does it.
  * A listener kills attempt 0 of the first reduce-stage task mid-job; the
  * spec checks that Spark re-ran that task and that every partition's
  * lines equal those of a clean run, and, through `runToDir`'s direct
  * commit, that a kill landing mid-write leaves exactly the clean run's
  * part files.
  */
class RetryDeterminismSpec extends SparkSpec {

  /** Eight seeded text files, large enough that a reduce task is still
    * running when the kill reaches it. */
  private lazy val input: String = {
    val dir = Files.createTempDirectory("graft-retry").toFile
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 2000).map(i => s"w$i")
    (0 until 8).foreach { f =>
      val lines = (0 until 6000).map { _ =>
        Seq.fill(1 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      Files.write(new java.io.File(dir, f"file$f%02d").toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    dir.getAbsolutePath
  }

  /** Kills attempt 0 of task index 0 in the first stage that reads a
    * shuffle (the reduce stage) and records every task end. With
    * `awaitTempIn`, the kill waits (at most 60 s) until that attempt's
    * hidden `.part-00000.<taskAttemptId>` temp is in the directory. */
  private final class KillFirstReduceTask(awaitTempIn: Option[File]) extends SparkListener {
    @volatile var reduceStage: Int = -1
    val ends = new ConcurrentLinkedQueue[SparkListenerTaskEnd]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (reduceStage < 0 && e.stageInfo.parentIds.nonEmpty)
        reduceStage = e.stageInfo.stageId
    override def onTaskStart(e: SparkListenerTaskStart): Unit =
      if (e.stageId == reduceStage && e.taskInfo.index == 0 &&
          e.taskInfo.attemptNumber == 0) {
        val kill: Runnable = () => {
          awaitTempIn.foreach { dir =>
            val temp = new File(dir, s".part-00000.${e.taskInfo.taskId}")
            val deadline = System.nanoTime() + 60L * 1000000000L
            while (!temp.exists && System.nanoTime() < deadline) Thread.sleep(10)
          }
          spark.sparkContext.killTaskAttempt(e.taskInfo.taskId,
            interruptThread = true, reason = "retry-determinism kill")
        }
        // Waiting on the listener bus would stall every other listener.
        if (awaitTempIn.isEmpty) kill.run() else new Thread(kill).start()
      }
    def endsOfTask0: Seq[SparkListenerTaskEnd] = ends.asScala.toSeq
      .filter(t => t.stageId == reduceStage && t.taskInfo.index == 0)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = ends.add(e)
  }

  private def partitions(out: Dataset[String]): Seq[Seq[String]] =
    out.rdd.glom().collect().map(_.toSeq).toSeq

  private def assertSameParts(got: Seq[Seq[String]], clean: Seq[Seq[String]]): Unit = {
    assert(got.length == clean.length)
    got.zip(clean).zipWithIndex.foreach { case ((g, c), p) =>
      if (g != c) fail(s"partition $p differs from the clean run: ${g.length} vs " +
        s"${c.length} lines, first difference at line " +
        g.zipAll(c, "", "").indexWhere { case (x, y) => x != y })
    }
  }

  /** Runs `job` once with the kill listener and returns its partitions. */
  private def killedRun(job: () => Dataset[String]): Seq[Seq[String]] =
    killedAction(() => partitions(job()))

  /** Runs `action` (one job) with the kill listener and returns its result.
    * A kill that lands after the attempt already succeeded is a miss, not
    * a retry, so the action is repeated (at most three times). */
  private def killedAction[T](action: () => T, awaitTempIn: Option[File] = None): T = {
    val sc = spark.sparkContext
    def attempt(left: Int): T = {
      val l = new KillFirstReduceTask(awaitTempIn)
      sc.addSparkListener(l)
      val result = try {
        val r = action()
        // Task-end events reach the listener asynchronously after the job
        // returns: wait for the successful end of task 0.
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!l.endsOfTask0.exists(_.reason == Success) &&
            System.nanoTime() < deadline) Thread.sleep(20)
        r
      } finally sc.removeSparkListener(l)
      val ends = l.endsOfTask0
      val missed = ends.exists(t => t.taskInfo.attemptNumber == 0 && t.reason == Success)
      if (missed && left > 1) attempt(left - 1)
      else {
        assert(ends.exists(t => t.taskInfo.attemptNumber == 0 &&
          t.reason.isInstanceOf[TaskKilled]),
          s"attempt 0 of reduce task 0 was not killed: ${ends.map(_.reason)}")
        assert(ends.exists(t => t.taskInfo.attemptNumber >= 1 && t.reason == Success),
          s"killed reduce task 0 was not re-run: ${ends.map(e =>
            e.taskInfo.attemptNumber -> e.reason)}")
        result
      }
    }
    attempt(3)
  }

  test("native word count: a killed reduce attempt re-runs to identical partitions") {
    val job = () => MapReduceJob.run(spark,
      JobSpec(input, MapReduceJob.wcMapper, MapReduceJob.wcReducer,
        numReducers = 4, numMappers = 4))
    val clean = partitions(job())
    assert(clean.length == 4 && clean.forall(_.nonEmpty))
    assertSameParts(killedRun(job), clean)
  }

  test("streaming cat/cat job: a killed reduce attempt re-runs to identical partitions") {
    val job = () => MapReduceJob.pipeJob(spark, input, Seq("cat"), Seq("cat"),
      numReducers = 4, numMappers = 4)
    val clean = partitions(job())
    assert(clean.length == 4 && clean.forall(_.nonEmpty))
    assertSameParts(killedRun(job), clean)
  }

  test("word count through runToDir: a killed reduce attempt commits the clean part files") {
    val job = JobSpec(input, MapReduceJob.wcMapper, MapReduceJob.wcReducer,
      numReducers = 4, numMappers = 4)
    val names = (0 until 4).map(p => f"part-$p%05d")
    val clean = Files.createTempDirectory("graft-retry-clean").toFile
    MapReduceJob.runToDir(spark, job, clean.getPath, exactPartNames = true)
    // Attempt 0 of partition 0 blocks in its first reducer call, after its
    // temp is open, until the kill's interrupt ends it (at most 60 s): the
    // kill lands mid-write and leaves that temp behind.
    val blocking = job.copy(reducer = (k, vals) => {
      val t = TaskContext.get()
      if (t.partitionId() == 0 && t.attemptNumber() == 0 &&
          RetryDeterminismSpec.blockedAttempts.add(t.taskAttemptId()))
        Thread.sleep(60000)
      MapReduceJob.wcReducer(k, vals)
    })
    val dir = Files.createTempDirectory("graft-retry-killed").toFile
    killedAction(() => MapReduceJob.runToDir(spark, blocking, dir.getPath, exactPartNames = true),
      awaitTempIn = Some(dir))
    // Exactly the part files: no killed attempt's hidden temp is left.
    assert(dir.list().sorted.toSeq == names)
    names.foreach { n =>
      val got = Files.readAllBytes(new java.io.File(dir, n).toPath)
      assert(got.nonEmpty && got.sameElements(
        Files.readAllBytes(new java.io.File(clean, n).toPath)), s"$n differs from the clean run")
    }
  }
}

object RetryDeterminismSpec {
  /** Task attempts that have blocked once (tasks run in this JVM). */
  val blockedAttempts: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
}
