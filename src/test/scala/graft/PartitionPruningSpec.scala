package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Data-lake layout: date-partitioned parquet writes and partition-pruned
  * reads — at 100 TB the partition filter is the difference between
  * scanning a day and scanning the lake.
  */
class PartitionPruningSpec extends SparkSpec {

  test("partitionBy write + partition-pruned read") {
    val out = Files.createTempDirectory("graft-lake").toFile.getAbsolutePath + "/events"
    val events = Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("event_date").parquet(out)

    val pruned = spark.read.parquet(out)
      .filter(col("event_date") === lit("2024-01-02").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_date"),
      s"expected partition filter in scan:\n$plan")
    // Pruning must not change results vs a post-hoc filter.
    val expected = events.filter(to_date(col("ts")) === lit("2024-01-02").cast("date")).count()
    assert(pruned.count() == expected)
    assert(expected > 0, "test date not present in events — pick another day")
  }

  test("IVF index probe reads only nProbe cells' partitions (s04's scale claim, checked)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.operators.Similarity

    val nCells = 8
    val idx = Files.createTempDirectory("graft-ivf").toFile.getAbsolutePath + "/index"
    Similarity.ivfWriteIndex(spark, sf, idx, nCells = nCells, kmeansIters = 2)
    // One file per cell directory (repartition-by-cell before partitionBy).
    val cellDirs = new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == nCells, s"expected $nCells cell dirs, got ${cellDirs.length}")
    assert(cellDirs.forall(_.listFiles().count(_.getName.endsWith(".parquet")) == 1))

    val probe = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 2, k = 3, nProbe = 2)
    val rows = probe.collect()
    assert(rows.length == 2 * 3)

    // The executed index scan must have read ≤ nQueries×nProbe of the
    // nCells partition files — partition pruning, not a full scan. AQE
    // buries executed scans inside materialized query stages, so collect
    // recursively through them.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def scans(p: SparkPlan): Seq[FileSourceScanExec] =
      p.collect {
        case f: FileSourceScanExec => Seq(f)
        case q: QueryStageExec => scans(q.plan)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
    val executed = probe.queryExecution.executedPlan
    val indexScans = scans(executed)
      .filter(_.metadata.get("Location").exists(_.contains("index")))
    assert(indexScans.nonEmpty, s"no index FileSourceScan found:\n$executed")
    val filesRead = indexScans.map(_.metrics("numFiles").value).sum
    assert(filesRead <= 2 * 2 && filesRead < nCells,
      s"probe read $filesRead files — partition pruning did not engage")
    assert(executed.toString.contains("PartitionFilters"),
      "expected PartitionFilters on the index scan")

    // The index holds the whole corpus (pruning is at READ time, not a
    // lossy write) …
    assert(spark.read.parquet(idx).select("neighbor_id").distinct().count() ==
      Tables.embeddings(spark, sf).count())
    // … and the pruned probe returns exactly what the in-memory IVF path
    // computes with the same deterministic geometry (same seeds, same
    // k-means iterations) — pruning changed what was READ, not the answer.
    val inMemory = Similarity.ivfTopK(spark, sf, nQueries = 2, k = 3,
      nCells = nCells, nProbe = 2, kmeansIters = 2).collect()
    assert(rows.map(_.toString).toSeq == inMemory.map(_.toString).toSeq)
  }

  test("IVF append: delta joins existing cell dirs, probe serves it (s07's persisted path)") {
    import graft.operators.Similarity
    val nCells = 8
    val idx = Files.createTempDirectory("graft-ivf-append").toFile.getAbsolutePath + "/index"
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val split = e.agg(max("vec_id")).head().getLong(0) * 4 / 5
    Similarity.ivfWriteIndexOf(spark, e.filter(col("vec_id") < split), idx,
      nCells = nCells, kmeansIters = 2)
    Similarity.ivfAppendIndex(spark, e.filter(col("vec_id") >= split), idx)

    // Every vector present exactly once; the append reused the cell layout
    // (assignment only ever targets existing codebook cells).
    val all = spark.read.parquet(idx)
    assert(all.count() == e.count())
    assert(all.select("neighbor_id").distinct().count() == e.count())
    val cellDirs = new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == nCells, s"append created new cell dirs: ${cellDirs.length}")

    // Probe over the appended index ≡ the in-memory stale-codebook twin
    // (same assignment rule, same geometry) — append changed what is
    // STORED, not the answer.
    val probed = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 3, k = 4, nProbe = 2)
      .collect()
    val twin = Similarity.ivfStaleTopK(spark, sf, 3, 4,
      nCells = nCells, nProbe = 2, kmeansIters = 2)
      .select("query_id", "neighbor_id", "cos_sim", "rank").collect()
    // Sorted canon: query results are unordered; sort at the assertion.
    assert(probed.map(_.toString).toSeq.sorted == twin.map(_.toString).toSeq.sorted)

    // Planted ingest: append a near-copy of query 0 under a fresh id —
    // it must immediately surface as query 0's top-1 through the SAME
    // probe path (multi-append exercised along the way).
    import spark.implicits._
    val q0 = e.as[(Long, Array[Float])].filter(_._1 == 0L).head()._2
    val plantedId = 1000000L
    val planted = Seq((plantedId, q0.map(x => x + 1e-4f))).toDF("vec_id", "embedding")
    Similarity.ivfAppendIndex(spark, planted, idx)
    val after = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 1, k = 1, nProbe = 2)
      .collect()
    assert(after.length == 1 && after(0).getLong(1) == plantedId,
      s"planted ingest not served as top-1: ${after.mkString(", ")}")

    // Compaction: the appends left multiple files in the touched cells
    // (probe cost is files opened, not just bytes); compacting restores
    // one file per cell without changing a single row a probe sees.
    def parquets(d: java.io.File) = d.listFiles().count(_.getName.endsWith(".parquet"))
    val touched = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(touched.exists(parquets(_) > 1), "appends produced no small files")
    val beforeRows = spark.read.parquet(idx).collect().map(_.toString).sorted.toSeq
    Similarity.ivfCompactIndex(spark, idx)
    val compacted = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(compacted.length == nCells)
    assert(compacted.forall(parquets(_) == 1),
      s"cells still fragmented: ${compacted.map(parquets).mkString(",")}")
    assert(spark.read.parquet(idx).collect().map(_.toString).sorted.toSeq == beforeRows)
    val reProbe = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 1, k = 1, nProbe = 2)
      .collect()
    assert(reProbe.length == 1 && reProbe(0).getLong(1) == plantedId)

    // Recall floor AFTER the full append->compact cycle: compaction must
    // hand back an index that still answers well, not merely the same
    // bytes (the floor would catch a compact that dropped/duplicated cell
    // rows in a way the planted top-1 probe alone can't see). Ground
    // truth is brute force over the index's own row set (resident +
    // appended + planted).
    val corpusNow = spark.read.parquet(idx)
      .select(col("neighbor_id").as("vec_id"), col("ne").as("embedding"))
    val exactPairs = Similarity.bruteForceTopKFrom(corpusNow, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probePairs = Similarity
      .ivfProbeIndex(spark, sf, idx, nQueries = 10, k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallAfter = exactPairs.count(probePairs.contains).toDouble / exactPairs.size
    assert(recallAfter >= 0.6,
      s"post-compaction recall@5 $recallAfter below the 0.6 floor (nProbe 4/$nCells)")
  }

  test("IVF delete: tombstone mask serves immediately, compaction folds it (s12's persisted path)") {
    import graft.operators.Similarity
    val nCells = 16
    val idx = Files.createTempDirectory("graft-ivf-delete").toFile.getAbsolutePath + "/index"
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexOf(spark, e, idx, nCells = nCells, kmeansIters = 3)
    val nAll = spark.read.parquet(idx).count()

    // Delete a tenth (vec_id % 10 == 3): ONE tiny tombstone write — the
    // cell files must be untouched on the delete path.
    val mtimes = new java.io.File(idx).listFiles()
      .filter(_.getName.startsWith("cell=")).map(f => f.getName -> f.lastModified).toMap
    Similarity.ivfDeleteIndex(spark,
      e.filter(pmod(col("vec_id"), lit(10)) === 3).select("vec_id"), idx)
    assert(new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
      .forall(f => mtimes(f.getName) == f.lastModified),
      "delete rewrote cell files — tombstoning must be O(|deletes|)")

    // The masked probe serves immediately: no deleted id, and
    // row-identical to the in-memory twin (same geometry, same codebook
    // determinism) — the PERSISTED path == the registered s12 query.
    val probed = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 10, k = 5)
      .collect()
    assert(probed.forall(_.getLong(1) % 10 != 3), "deleted id served by masked probe")
    val twin = Similarity.ivfDeletedTopK(spark, sf, 10, 5, nCells = nCells)
      .select("query_id", "neighbor_id", "cos_sim", "rank").collect()
    assert(probed.map(_.toString).toSeq.sorted == twin.map(_.toString).toSeq.sorted,
      "masked probe != in-memory delete twin")

    // Compaction folds the tombstones: rows physically gone, mask reset,
    // probe rows identical across the fold.
    Similarity.ivfCompactIndex(spark, idx)
    assert(!new java.io.File(idx + "_tombstones").exists(),
      "compaction must reset the tombstone mask")
    val after = spark.read.parquet(idx)
    assert(after.count() < nAll && after.filter(pmod(col("neighbor_id"), lit(10)) === 3).count() == 0,
      "compaction failed to fold tombstones into the rewrite")
    val reProbe = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 10, k = 5)
      .collect()
    assert(reProbe.map(_.toString).toSeq.sorted == probed.map(_.toString).toSeq.sorted,
      "probe drift across tombstone-folding compaction")

    // Idempotence: re-deleting already-compacted ids is harmless.
    Similarity.ivfDeleteIndex(spark,
      e.filter(pmod(col("vec_id"), lit(10)) === 3).select("vec_id"), idx)
    val reReProbe = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 10, k = 5)
      .collect()
    assert(reReProbe.map(_.toString).toSeq.sorted == probed.map(_.toString).toSeq.sorted)
  }

  test("IVF compaction mid-swap crash: probes fail loudly, next compact self-heals") {
    import graft.operators.Similarity
    import org.apache.hadoop.fs.Path
    val nCells = 4
    val idx = Files.createTempDirectory("graft-ivf-crash").toFile.getAbsolutePath + "/index"
    Similarity.ivfWriteIndex(spark, sf, idx, nCells = nCells, kmeansIters = 2)
    val liveRows = spark.read.parquet(idx).collect().map(_.toString).sorted.toSeq

    // Simulate dying between "retire old" and "activate staged": the live
    // index now sits in _retired and indexPath is missing.
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new Path(idx), new Path(idx + "_retired")))

    // A probe in this window must be a loud error (missing path), never a
    // silent zero-row read.
    val ex = intercept[Exception] {
      Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 1, k = 1, nProbe = 2).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains(idx),
      s"expected the missing index path in the error, got: ${ex.getMessage}")

    // The next compact run detects the crashed swap, restores _retired, and
    // completes normally with the identical row set.
    Similarity.ivfCompactIndex(spark, idx)
    assert(!fs.exists(new Path(idx + "_retired")))
    assert(spark.read.parquet(idx).collect().map(_.toString).sorted.toSeq == liveRows)
    val cellDirs = new java.io.File(idx).listFiles().filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == nCells)
  }
}
