package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.Dataset

import graft.operators.MapReduceJob

/** `MapReduceJob.writeExact`'s contract on generated data: one
  * `part-{NNNNN}` per partition holding its lines' exact UTF-8 bytes,
  * nothing else in the directory, and no side effect on later Hadoop
  * writes.
  */
class WriteExactSpec extends SparkSpec {

  /** Four partitions: ASCII, empty, multi-byte UTF-8, tabs and a blank line. */
  private val parts: Seq[Seq[String]] = Seq(
    Seq("alpha\t1", "beta\t2"),
    Seq.empty,
    Seq("naïve café\t3", "日本語のテキスト", "emoji 🎉 ok"),
    Seq("key\twith\ttabs", "", "last"))

  private def dataset: Dataset[String] = {
    import spark.implicits._
    spark.createDataset(spark.sparkContext.parallelize(parts, parts.length).flatMap(identity))
  }

  private val names = parts.indices.map(p => f"part-$p%05d")

  private def fileOf(lines: Seq[String]): Array[Byte] =
    lines.map(_ + "\n").mkString.getBytes(UTF_8)

  test("one part file per partition with the lines' exact bytes; stale entries gone") {
    val dir = Files.createTempDirectory("graft-write-exact").toFile
    Seq("part-00000", "part-00007", ".part-00001.42", "_SUCCESS", ".part-00000.crc")
      .foreach(n => Files.write(new File(dir, n).toPath, "stale\n".getBytes(UTF_8)))
    new File(dir, "_temporary").mkdir()
    MapReduceJob.writeExact(spark, dataset, dir.getPath, numReducers = parts.length)
    // File.list shows dotfiles too.
    assert(dir.list().sorted.toSeq == names)
    parts.zip(names).foreach { case (lines, n) =>
      val got = Files.readAllBytes(new File(dir, n).toPath)
      assert(got.sameElements(fileOf(lines)), s"$n bytes differ")
    }
    assert(new File(dir, "part-00001").length == 0)
  }

  test("a killed attempt's partial temp is removed and the re-run commits the part") {
    import spark.implicits._
    // Attempt 0 of partition 0 hands one line to the writer, then kills
    // itself (local mode: the task shares the driver's SparkContext), so
    // its hidden temp is on disk, half written, when Spark re-runs it.
    val killedOnce = spark.sparkContext.parallelize(parts, parts.length).flatMap(identity)
      .mapPartitions { it =>
        val t = TaskContext.get()
        if (t.partitionId() != 0 || t.attemptNumber() != 0) it
        else it.take(1) ++ Iterator.continually {
          SparkContext.getOrCreate().killTaskAttempt(t.taskAttemptId(),
            interruptThread = true, reason = "writeExact temp test")
          while (true) Thread.sleep(10) // the kill's interrupt ends it
          ""
        }
      }
    val dir = Files.createTempDirectory("graft-write-exact").toFile
    MapReduceJob.writeExact(spark, spark.createDataset(killedOnce), dir.getPath,
      numReducers = parts.length)
    assert(dir.list().sorted.toSeq == names)
    assert(Files.readAllBytes(new File(dir, names(0)).toPath).sameElements(fileOf(parts(0))))
  }

  test("a reducer count other than the partition count fails") {
    val dir = Files.createTempDirectory("graft-write-exact").toFile
    intercept[IllegalArgumentException](
      MapReduceJob.writeExact(spark, dataset, dir.getPath, numReducers = parts.length - 1))
  }

  test("a later Hadoop write still gets its checksum files") {
    val dir = Files.createTempDirectory("graft-write-exact").toFile
    MapReduceJob.writeExact(spark, dataset, dir.getPath, numReducers = parts.length)
    val pq = new File(Files.createTempDirectory("graft-write-exact-pq").toFile, "t")
    spark.range(10).write.parquet(pq.getPath)
    assert(pq.list().exists(_.endsWith(".crc")), pq.list().toSeq)
  }
}
