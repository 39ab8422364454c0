package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.Relational
import graft.sources.Tables
import graft.streaming.EventStreams

/** Structured Streaming specs: the streaming queries must agree with their
  * batch twins on the same (finite) events data.
  */
class StreamingSpec extends SparkSpec {

  test("streaming hourly counts == batch q11 aggregate") {
    val stream = EventStreams.readEventStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.hourlyCounts(stream), "hourly_out", OutputMode.Append)
    try {
      // Append mode only emits windows the watermark has closed; compare the
      // emitted subset against the batch result — every emitted row must
      // match batch exactly.
      val streamed = spark.table("hourly_out")
        .select(col("hour"), col("event_type"), col("n_events"), col("total_value"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = Relational.q11.fn(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed.nonEmpty, "watermarked stream emitted no closed windows")
      assert(streamed.subsetOf(batch),
        s"streamed rows disagree with batch: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("streaming rate-anomaly gate == batch hourly scoring vs the frozen profile") {
    val batchEv = Tables.events(spark, sf)
    val profile = EventStreams.rateProfile(batchEv).cache()
    val stream = EventStreams.readEventStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.rateAnomalyGate(stream, profile), "rate_gate_out",
      OutputMode.Append)
    try {
      // The gate shares Relational.rateZExpr with batch q39, so the batch
      // twin here is the same hourly count joined to the same frozen
      // profile closed with the same expression — emitted rows must match
      // it EXACTLY (same doubles, same flags), not approximately.
      val streamed = spark.table("rate_gate_out")
        .collect().map(_.toString).toSet
      val batch = batchEv
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .join(profile, Seq("event_type"), "left")
        .withColumn("z", expr(Relational.rateZExpr))
        .withColumn("is_spike", coalesce(abs(col("z")) >= 3.0, lit(false)))
        .select("hour", "event_type", "n_events", "n_base", "z", "is_spike")
        .collect().map(_.toString).toSet
      assert(streamed.nonEmpty, "watermarked stream emitted no closed windows")
      assert(streamed.subsetOf(batch),
        s"streamed rows disagree with batch: ${streamed.diff(batch).take(3)}")
      // Non-vacuous: the profile has >= 12 observations per type at this
      // SF, so every emitted row must carry a real z, not the NULL arm.
      val emptyZ = spark.table("rate_gate_out").filter(col("z").isNull).count()
      assert(emptyZ == 0, s"$emptyZ emitted rows fell into the NULL-z arm")
    } finally { q.stop(); profile.unpersist() }
  }

  test("streaming dedup: no duplicate signatures within the watermark horizon") {
    val stream = EventStreams.readEventStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.dedupStream(stream), "dedup_out", OutputMode.Append)
    try {
      val out = spark.table("dedup_out")
        .select(col("user_id"), col("event_type"), col("value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      assert(out.nonEmpty)
      // Emitted rows must be unique on the dedup signature.
      assert(out.length == out.distinct.length,
        "duplicates survived dropDuplicatesWithinWatermark")
      // And never more rows than the batch input has.
      val batchTotal = graft.sources.Tables.events(spark, sf).count()
      assert(out.length <= batchTotal)
    } finally q.stop()
  }

  test("stream-static enrichment == batch windowed join-aggregate") {
    val stream = EventStreams.readEventStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.enriched(spark, stream, sf), "enriched_out", OutputMode.Append)
    try {
      val streamed = spark.table("enriched_out")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // Batch twin: same hourly-window × nation aggregate over the static table.
      val batch = EventStreams.enrichedBatchTwin(spark, sf)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(streamed.nonEmpty, "watermarked enrichment emitted no closed windows")
      assert(streamed.subsetOf(batch),
        s"streamed enriched rows disagree with batch: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("parquet sink with checkpoint: files hold exactly the emitted rows, re-run adds nothing") {
    import java.nio.file.Files
    val out = Files.createTempDirectory("graft-sink-out").toString
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    // One stream plan reused for both runs: readEventStream stages the
    // source into a fresh temp dir per call, and a new dir would look like
    // new files to the second run regardless of the checkpoint.
    val counts = EventStreams.hourlyCounts(EventStreams.readEventStream(spark, sf))
    def run(): Unit = EventStreams.runToParquet(counts, out, ckpt)
    run()
    val first = spark.read.parquet(out)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(first.nonEmpty, "file sink wrote nothing")
    assert(first.length == first.distinct.length, "duplicate rows in file sink")
    // Same checkpoint, same (already-consumed) source: exactly-once means a
    // restart commits no new rows.
    run()
    assert(spark.read.parquet(out).count() == first.length,
      "re-run with the same checkpoint duplicated sink rows")
  }

  test("streaming latest-snapshot across multiple micro-batches == batch q25") {
    import java.nio.file.Files
    // Stage events as FOUR files so maxFilesPerTrigger=1 yields four
    // micro-batches — the state genuinely evolves across batches instead of
    // being decided in one pass (the single-file staging of
    // readEventStream can't exercise that).
    val dir = Files.createTempDirectory("graft-events-multibatch").toString
    graft.sources.Tables.events(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(dir)
    val schema = graft.sources.Tables.events(spark, sf).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val snap = EventStreams.latestSnapshot(spark, stream)
    val q = snap.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("snapshot_out").start()
    q.processAllAvailable()
    try {
      // Newest emission per key = the row with the highest state version.
      val streamed = spark.table("snapshot_out").collect()
        .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(5), r.getLong(2), r.getLong(3), r.getDouble(4))))
        .groupBy(_._1)
        .map { case (k, rows) => k -> {
          val (_, eid, tsm, v) = rows.map(_._2).maxBy(_._1)
          (eid, tsm, v)
        } }
      val batch = Relational.q25.fn(spark, sf).collect()
        .map { r =>
          val ts = r.getTimestamp(3)
          val micros = math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
          ((r.getLong(0), r.getString(1)), (r.getLong(2), micros, r.getDouble(4)))
        }.toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"snapshot disagrees with batch q25 on ${streamed.toSet.diff(batch.toSet).take(3)}")
      // Multi-batch reality check: at least one key must have been revised
      // (version > 1) — otherwise the staging collapsed to a single batch.
      val versions = spark.table("snapshot_out").collect().map(_.getLong(5))
      assert(versions.max > 1L, "state never revised — staging produced one batch")
    } finally q.stop()
  }

  /** Stage events as FOUR time-quartile files written SEQUENTIALLY:
    * FileStreamSource orders same-listing files by modification time, so
    * ascending mtimes make each user's events arrive in event-time order
    * across micro-batches — the landing-file shape the stateful twins'
    * equivalence contracts assume — and the per-user state genuinely
    * evolves across batches. (A single range-partitioned write would leave
    * all four files with one mtime and an arbitrary processing order.)
    * Returns a one-file-per-trigger stream over the staged directory. */
  private def stagedEventTimeStream(tag: String): org.apache.spark.sql.DataFrame = {
    import java.nio.file.Files
    val dir = Files.createTempDirectory(s"graft-events-$tag")
    val events = graft.sources.Tables.events(spark, sf)
      .withColumn("tq", ntile(4).over(
        org.apache.spark.sql.expressions.Window.orderBy("ts", "event_id")))
    (1 to 4).foreach { i =>
      val stage = Files.createTempDirectory(s"graft-events-$tag-q$i").toString
      events.filter(col("tq") === i).drop("tq")
        .coalesce(1).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      Files.copy(part, dir.resolve(f"b$i%02d.parquet"))
      Thread.sleep(10) // distinct ascending mtimes
    }
    val schema = graft.sources.Tables.events(spark, sf).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
  }

  test("streaming funnel across event-time-ordered micro-batches == batch q29") {
    val stream = stagedEventTimeStream("funnel")
    val fun = EventStreams.funnel(spark, stream)
    val q = fun.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("funnel_out").start()
    q.processAllAvailable()
    try {
      // Newest emission per user = highest version.
      val streamed = spark.table("funnel_out").collect()
        .map(r => (r.getLong(0), (r.getLong(5), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
        .groupBy(_._1)
        .map { case (u, rows) =>
          val (_, nv, np, nc, conv) = rows.map(_._2).maxBy(_._1)
          u -> (nv, np, nc, conv)
        }
      val batch = Relational.q29.fn(spark, sf).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
        .toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"funnel disagrees with batch q29 on ${streamed.toSet.diff(batch.toSet).take(3)}")
      // Multi-batch reality check: at least one user revised across batches.
      val versions = spark.table("funnel_out").collect().map(_.getLong(5))
      assert(versions.max > 1L, "state never revised — staging produced one batch")
    } finally q.stop()
  }

  test("streaming attribution across event-time-ordered micro-batches == batch q32") {
    val stream = stagedEventTimeStream("attrib")
    val att = EventStreams.attribution(spark, stream)
    val q = att.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attrib_out").start()
    q.processAllAvailable()
    try {
      // Append mode: exactly one final row per purchase — compare directly.
      val streamed = spark.table("attrib_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      val batch = Relational.q32.fn(spark, sf).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch, s"attribution disagrees with batch q32 on ${
        streamed.toSet.diff(batch.toSet).take(3)}")
    } finally q.stop()
  }

  test("streaming event transitions across event-time-ordered micro-batches == batch q33") {
    val stream = stagedEventTimeStream("trans")
    val tr = EventStreams.transitions(spark, stream)
    val q = tr.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("trans_out").start()
    q.processAllAvailable()
    try {
      // Update-mode sink appends every revision of a (from, to) count;
      // the count only grows, so max per key = final.
      val streamed = spark.table("trans_out").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
      val batch = Relational.q33.fn(spark, sf).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"transitions disagree with batch q33 on ${
          streamed.toSet.diff(batch.toSet).take(3)}")
      // Multi-batch reality check: some cell was revised upward across
      // micro-batches (cross-batch pairs only exist via carried state).
      val revised = spark.table("trans_out").collect()
        .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
        .groupBy(_._1).exists(_._2.size > 1)
      assert(revised, "no cell revised — staging produced one batch")
    } finally q.stop()
  }

  test("streaming cohort retention across event-time-ordered micro-batches == batch q30") {
    val stream = stagedEventTimeStream("cohort")
    val coh = EventStreams.cohortRetention(spark, stream)
    val q = coh.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("cohort_out").start()
    q.processAllAvailable()
    try {
      // Update-mode sink appends every revision of a (cohort, offset)
      // count; the activation count only grows, so max per key = final.
      val streamed = spark.table("cohort_out").collect()
        .map(r => ((r.getTimestamp(0), r.getLong(1)), r.getLong(2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).max }
      val batch = Relational.q30.fn(spark, sf).collect()
        .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"cohort retention disagrees with batch q30 on ${
          streamed.toSet.diff(batch.toSet).take(3)}")
      // Multi-batch reality check: some retention cell was revised upward
      // across micro-batches (a later batch added users to an open week).
      val revised = spark.table("cohort_out").collect()
        .map(r => ((r.getTimestamp(0), r.getLong(1)), r.getLong(2)))
        .groupBy(_._1).exists(_._2.size > 1)
      assert(revised, "no cell revised — staging produced one batch")
    } finally q.stop()
  }

  test("streaming SCD2 history across event-time-ordered micro-batches == batch q37") {
    val stream = stagedEventTimeStream("scd2")
    val hist = EventStreams.scd2History(spark, stream)
    val q = hist.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("scd2_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("scd2_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // Batch q37's CLOSED intervals (is_current = false), in micros.
      val batch = Relational.q37.fn(spark, sf)
        .filter(!col("is_current"))
        .select(col("user_id"), col("state"),
          expr("unix_micros(valid_from)"), expr("unix_micros(valid_to)"),
          col("version"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch,
        s"scd2 drift: missing=${batch.diff(streamed).take(3)} extra=${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions consistent with batch") {
    val stream = EventStreams.readEventStream(spark, sf)
    val sess = EventStreams.sessionize(spark, stream)
    val q = EventStreams.runToMemory(sess, "sessions_out", OutputMode.Append)
    try {
      val streamed = spark.table("sessions_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Relational.q12.fn(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1) - 1, r.getLong(2))).toSet
      // Streaming emits only *closed* sessions (the final open session per
      // user stays in state); batch session_id starts at 1, streaming at 0.
      assert(streamed.nonEmpty, "no sessions closed")
      assert(streamed.subsetOf(batch),
        s"streamed sessions disagree with batch: ${streamed.diff(batch).take(3)}")
    } finally q.stop()
  }

  test("streaming vector ingest appends to the persisted IVF index == batch append (s07 twin)") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.streaming.VectorStreams
    import graft.sources.Tables
    val base = Files.createTempDirectory("graft-vec-stream").toString
    val idx = s"$base/index"
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val split = e.agg(max("vec_id")).head().getLong(0) * 4 / 5
    Similarity.ivfWriteIndexOf(spark, e.filter(col("vec_id") < split), idx,
      nCells = 8, kmeansIters = 2)
    // Stage the delta as TWO files -> two micro-batches of arriving vectors.
    e.filter(col("vec_id") >= split).repartition(2)
      .write.mode("overwrite").parquet(s"$base/arrivals")
    val q = VectorStreams.appendToIndex(
      VectorStreams.readVectorStream(spark, s"$base/arrivals", e),
      idx, s"$base/ckpt")
    try q.processAllAvailable() finally q.stop()
    // Index state after the stream == batch write+append: every vector
    // exactly once, and the probe serves the same answers as the
    // in-memory stale-codebook twin.
    val all = spark.read.parquet(idx)
    assert(all.count() == e.count())
    assert(all.select("neighbor_id").distinct().count() == e.count())
    val probed = Similarity.ivfProbeIndex(spark, sf, idx, nQueries = 3, k = 4, nProbe = 2)
      .collect()
    val twin = Similarity.ivfStaleTopK(spark, sf, 3, 4,
      nCells = 8, nProbe = 2, kmeansIters = 2)
      .select("query_id", "neighbor_id", "cos_sim", "rank").collect()
    // Sorted canon: query results are unordered; sort at the assertion.
    assert(probed.map(_.toString).toSeq.sorted == twin.map(_.toString).toSeq.sorted)
  }

  test("streaming decontamination gate across micro-batches == batch d17") {
    import java.nio.file.Files
    import graft.streaming.VectorStreams
    import graft.sources.Tables
    import graft.operators.Dedup
    import spark.implicits._
    val base = Files.createTempDirectory("graft-vec-decon").toString
    val nEval = 25
    val threshold = 0.35
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val evalSet = e.filter(col("vec_id") < nEval)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    // Corpus rows arrive as TWO staged files -> two micro-batches.
    e.filter(col("vec_id") >= nEval).repartition(2)
      .write.mode("overwrite").parquet(s"$base/arrivals")
    val flagged = VectorStreams.decontaminateStream(
      VectorStreams.readVectorStream(spark, s"$base/arrivals", e),
      evalSet, threshold)
    val q = flagged.writeStream
      .outputMode("append").format("memory").queryName("decon_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("decon_out").collect()
      .map(_.toString).sorted.toSeq
    val batch = Dedup.embeddingDecontaminate(spark, sf, nEval, threshold)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch,
      s"stream/batch drift: ${streamed.diff(batch).take(3)} vs ${batch.diff(streamed).take(3)}")
    assert(batch.nonEmpty, "fixture degenerate: batch d17 flagged nothing at sf0.001")
  }

  test("streaming cartography gate across micro-batches == batch s15 assignment") {
    import java.nio.file.Files
    import graft.streaming.VectorStreams
    import graft.sources.Tables
    import graft.operators.Similarity
    val base = Files.createTempDirectory("graft-vec-carto").toString
    val e = Tables.embeddings(spark, sf)
    // Freeze centroids on the closed corpus (the batch trainer), then
    // stream the SAME corpus through the gate in two micro-batches: the
    // shared centroidBest column must assign every vector identically to
    // the batch final pass.
    val cents = Similarity.kmeansCentroids(e, 8, 3)
    assert(cents.nonEmpty)
    e.select(col("vec_id"), col("embedding")).repartition(2)
      .write.mode("overwrite").parquet(s"$base/arrivals")
    val gated = VectorStreams.cartographyGate(
      VectorStreams.readVectorStream(
        spark, s"$base/arrivals", e.select(col("vec_id"), col("embedding"))),
      cents)
    val q = gated.writeStream
      .outputMode("append").format("memory").queryName("carto_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("carto_out")
      .select("vec_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val batch = e.select(col("vec_id"), Similarity.quantMilli.as("qe"))
      .withColumn("b", Similarity.centroidBest(cents, col("qe")))
      .select(col("vec_id"), col("b.c")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed == batch)
    // The streamed cluster histogram equals s15's reported sizes.
    val streamedSizes = streamed.groupBy(_._2).map { case (c, xs) => (c, xs.size.toLong) }
    val s15 = Similarity.kmeansCartography(e, 8, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(streamedSizes == s15)
    // No centroids yet (empty resident corpus trained Nil): the gate
    // passes vectors through UNASSIGNED instead of failing analysis.
    val unassigned = graft.streaming.VectorStreams
      .cartographyGate(e.select(col("vec_id"), col("embedding")), Nil)
      .collect()
    assert(unassigned.nonEmpty &&
      unassigned.forall(r => r.getLong(1) == -1L && r.isNullAt(2)))
  }

  test("maintained cadence view == batch q46 over the same purchases under any batch slicing") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
    // The batch twin through the SHARED close: q46 over a purchase-only
    // stream has horizon = newest purchase, exactly the view's contract.
    val recompute = Relational.purchaseCadence(purchases)
      .collect().map(_.toString).toSeq.sorted
    Seq(3, 7).foreach { nBatches =>
      val base = Files.createTempDirectory(s"graft-cadence-$nBatches").toString
      purchases.repartition(nBatches)
        .write.mode("overwrite").parquet(s"$base/arrivals")
      val q = ViewStreams.maintainCadenceView(
        ViewStreams.readLineitemStream(spark, s"$base/arrivals", purchases),
        s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      val maintained = ViewStreams.cadenceView(spark, s"$base/state")
        .collect().map(_.toString).toSeq.sorted
      assert(maintained == recompute,
        s"cadence view drifted at $nBatches batches: " +
          s"${maintained.diff(recompute).take(2)} vs ${recompute.diff(maintained).take(2)}")
      assert(maintained.nonEmpty)
    }
  }

  test("maintained fulfillment view == batch q47 over the same facts under any batch slicing") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    // The enriched-fact stream a shipping log carries: order attributes
    // already attached. Batch q47 over the same facts is the ground
    // truth — counts via the SHARED fulfillmentCounts expression, close
    // via the SHARED fulfillmentFromCounts, so drift has nowhere to live.
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_shipdate"))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val enriched = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        col("o_orderdate"), col("l_shipdate"))
    val recompute = Relational.fulfillmentFromCounts(
        Relational.fulfillmentCounts(enriched))
      .collect().map(_.toString).toSeq.sorted
    Seq(3, 7).foreach { nBatches =>
      val base = Files.createTempDirectory(s"graft-fulfill-$nBatches").toString
      enriched.repartition(nBatches)
        .write.mode("overwrite").parquet(s"$base/arrivals")
      val q = ViewStreams.maintainFulfillmentView(
        ViewStreams.readLineitemStream(spark, s"$base/arrivals", enriched),
        s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      val maintained = ViewStreams.fulfillmentView(spark, s"$base/state")
        .collect().map(_.toString).toSeq.sorted
      assert(maintained == recompute,
        s"fulfillment view drifted at $nBatches batches: " +
          s"${maintained.diff(recompute).take(2)} vs ${recompute.diff(maintained).take(2)}")
      assert(maintained.nonEmpty)
    }
  }

  test("maintained reclaim view == batch m16 over the same media under any batch slicing, incl. keeper migration") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.operators.Multimodal
    // The enriched-media stream an ingest pipeline carries: source
    // already attached (the fulfillment-view stance). Batch m16 over the
    // same rows is ground truth — partial via the SHARED reclaimCounts,
    // close via the SHARED reclaimFromCounts, so drift has nowhere to
    // live.
    val fixture = Multimodal.mediaTable(spark, sf).toDF()
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .select("doc_id", "source", "payload")
    // Plant one cross-half duplicate: the min-doc payload re-ingested
    // under a fresh max id (a re-crawl of an old asset) — guarantees a
    // keeper that MUST migrate when the low half arrives second, at any
    // fixture SF.
    val maxId = fixture.agg(max("doc_id")).head().getLong(0)
    val enriched = fixture.unionAll(
      fixture.orderBy("doc_id").limit(1)
        .select(lit(maxId + 1).as("doc_id"), lit("recrawl").as("source"),
          col("payload")))
    val recompute = Multimodal.reclaimFromCounts(
        Multimodal.reclaimCounts(enriched))
      .collect().map(_.toString).toSeq.sorted
    assert(recompute.nonEmpty)
    // (a) an arbitrary slicing (associativity under any batching).
    val base1 = Files.createTempDirectory("graft-reclaim-3").toString
    enriched.repartition(3).write.mode("overwrite").parquet(s"$base1/arrivals")
    val q1 = ViewStreams.maintainReclaimView(
      ViewStreams.readLineitemStream(spark, s"$base1/arrivals", enriched),
      s"$base1/state", s"$base1/ckpt")
    try q1.processAllAvailable() finally q1.stop()
    val m1 = ViewStreams.reclaimView(spark, s"$base1/state")
      .collect().map(_.toString).toSeq.sorted
    assert(m1 == recompute,
      s"reclaim view drifted at 3 batches: " +
        s"${m1.diff(recompute).take(2)} vs ${recompute.diff(m1).take(2)}")
    // (b) the keeper-MIGRATION slicing: every higher-id copy lands a full
    // batch BEFORE the eventual min-id keepers, so the merge must move
    // min_doc downward and the close must re-attribute bytes_stored to
    // the late keeper's source — the d10 move at byte grain.
    val mid = enriched.agg(max("doc_id")).head().getLong(0) / 2
    val spanning = enriched
      .select(md5(col("payload")).as("fp"), col("doc_id"))
      .groupBy("fp").agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .filter(col("lo") < mid && col("hi") >= mid).count()
    assert(spanning > 0,
      "fixture degenerate: no payload duplicated across the doc_id split — " +
        "the migration slicing would not exercise keeper movement")
    val base2 = Files.createTempDirectory("graft-reclaim-mig").toString
    enriched.filter(col("doc_id") >= mid).coalesce(1)
      .write.mode("append").parquet(s"$base2/arrivals")
    Thread.sleep(1100) // distinct file mod-times => deterministic batch order
    enriched.filter(col("doc_id") < mid).coalesce(1)
      .write.mode("append").parquet(s"$base2/arrivals")
    val q2 = ViewStreams.maintainReclaimView(
      ViewStreams.readLineitemStream(spark, s"$base2/arrivals", enriched),
      s"$base2/state", s"$base2/ckpt")
    try q2.processAllAvailable() finally q2.stop()
    val m2 = ViewStreams.reclaimView(spark, s"$base2/state")
      .collect().map(_.toString).toSeq.sorted
    assert(m2 == recompute,
      s"reclaim view drifted under keeper migration: " +
        s"${m2.diff(recompute).take(2)} vs ${recompute.diff(m2).take(2)}")
  }

  test("streaming view maintenance converges to the recompute under any batch slicing") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf)
    val recompute = li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(floor(col("l_quantity") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0, 2).as("sum_qty"),
        count(lit(1)).as("count_rows"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).toSeq
    // Two different micro-batch slicings of the SAME rows must both
    // converge the persisted state to the recompute (associativity).
    Seq(2, 5).foreach { nBatches =>
      val base = Files.createTempDirectory(s"graft-view-$nBatches").toString
      li.repartition(nBatches).write.mode("overwrite").parquet(s"$base/arrivals")
      val q = ViewStreams.maintainPricingView(
        ViewStreams.readLineitemStream(spark, s"$base/arrivals", li),
        s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      val maintained = ViewStreams.pricingView(spark, s"$base/state")
        .collect().map(_.toString).toSeq
      assert(maintained == recompute,
        s"view drifted at $nBatches batches: " +
          s"${maintained.diff(recompute).take(2)} vs ${recompute.diff(maintained).take(2)}")
    }
  }

  test("empty FIRST micro-batch: view maintenance and index ingest pass through, then data lands") {
    import java.nio.file.Files
    import graft.streaming.{VectorStreams, ViewStreams}
    import graft.operators.Similarity
    import graft.sources.Tables
    // Day-one deployment where the first staged file is EMPTY (a source
    // feed that shipped nothing): the maintenance loop must not mint
    // state from it — and reading the view before any real batch must
    // refuse loudly, not fabricate an empty table — while the first REAL
    // batch still seeds the view normally.
    val li = Tables.lineitem(spark, sf)
    val base = Files.createTempDirectory("graft-empty-first").toString
    li.limit(0).coalesce(1).write.mode("overwrite").parquet(s"$base/arrivals")
    val q = ViewStreams.maintainPricingView(
      ViewStreams.readLineitemStream(spark, s"$base/arrivals", li),
      s"$base/state", s"$base/ckpt")
    try {
      q.processAllAvailable()
      intercept[IllegalStateException](
        ViewStreams.pricingView(spark, s"$base/state").collect())
      li.coalesce(1).write.mode("append").parquet(s"$base/arrivals")
      q.processAllAvailable()
    } finally q.stop()
    val maintained = ViewStreams.pricingView(spark, s"$base/state")
      .collect().map(_.toString).toSeq
    val recompute = li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(floor(col("l_quantity") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0, 2).as("sum_qty"),
        count(lit(1)).as("count_rows"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).toSeq
    assert(maintained == recompute,
      "view seeded from an empty-first-batch stream drifted from the recompute")
    // Same shape for the vector ingest: an empty first arrival file must
    // leave the persisted IVF index byte-identical, and the real batch
    // must still append every vector exactly once.
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val split = e.agg(max("vec_id")).head().getLong(0) * 4 / 5
    val idx = s"$base/index"
    Similarity.ivfWriteIndexOf(spark, e.filter(col("vec_id") < split), idx,
      nCells = 8, kmeansIters = 2)
    val before = spark.read.parquet(idx).count()
    e.limit(0).coalesce(1).write.mode("overwrite").parquet(s"$base/varrivals")
    val q2 = VectorStreams.appendToIndex(
      VectorStreams.readVectorStream(spark, s"$base/varrivals", e),
      idx, s"$base/vckpt")
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(idx).count() == before,
        "empty first micro-batch mutated the index")
      e.filter(col("vec_id") >= split).coalesce(1)
        .write.mode("append").parquet(s"$base/varrivals")
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.parquet(idx).count() == e.count(),
      "real batch after the empty one failed to append")
  }

  test("view maintenance replay: re-running a committed batch is a no-op (idempotent merge)") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    // The crash-after-commit window: foreachBatch committed generation N
    // but the stream checkpoint did not advance, so the engine re-delivers
    // batch N. mergeBatch must recognize the committed generation and
    // skip — state unchanged — for the replayed batch AND for any older
    // batch id (a restart can re-deliver from further back).
    val li = Tables.lineitem(spark, sf)
    val base = Files.createTempDirectory("graft-view-replay").toString
    val state = s"$base/state"
    val b0 = li.filter(col("l_orderkey") % 2 === 0)
    val b1 = li.filter(col("l_orderkey") % 2 =!= 0)
    ViewStreams.mergeBatch(spark, b0, state, 0L)
    ViewStreams.mergeBatch(spark, b1, state, 1L)
    val once = ViewStreams.pricingView(spark, state)
      .collect().map(_.toString).toSeq
    ViewStreams.mergeBatch(spark, b1, state, 1L)
    ViewStreams.mergeBatch(spark, b0, state, 0L)
    val replayed = ViewStreams.pricingView(spark, state)
      .collect().map(_.toString).toSeq
    assert(replayed == once, "replayed batch was double-merged into the view")
    // And the twice-replayed state still equals the one-shot recompute.
    val recompute = li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(floor(col("l_quantity") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0, 2).as("sum_qty"),
        count(lit(1)).as("count_rows"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).toSeq
    assert(replayed == recompute, "replayed state drifted from the recompute")
  }

  test("view maintenance retention: predecessor generation survives one commit so pinned readers never lose their files") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf)
    val base = Files.createTempDirectory("graft-view-retain").toString
    val state = s"$base/state"
    val slice = (i: Int) => li.filter(col("l_orderkey") % 3 === i)
    ViewStreams.mergeBatch(spark, slice(0), state, 0L)
    ViewStreams.mergeBatch(spark, slice(1), state, 1L)
    // A reader resolved NOW is pinned to gen=1's files.
    val pinned = ViewStreams.pricingView(spark, state)
    ViewStreams.mergeBatch(spark, slice(2), state, 2L)
    // gen=1 must still exist (the retention window), gen=0 must be pruned.
    val gens = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getName).sorted.toSeq
    assert(gens == Seq("gen=1", "gen=2"), s"retained generations: $gens")
    // The pinned lazy DataFrame still collects after the commit — no
    // FileNotFoundException mid-read.
    val snapshot = pinned.collect()
    assert(snapshot.nonEmpty, "pinned reader lost its generation")
    // And the newest resolution reflects all three batches exactly.
    val now = ViewStreams.pricingView(spark, state).collect().map(_.toString).toSeq
    val recompute = li.groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum(floor(col("l_quantity") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0, 2).as("sum_qty"),
        count(lit(1)).as("count_rows"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect().map(_.toString).toSeq
    assert(now == recompute)
  }

  test("maintained symbol view == batch m17 over the same media under any batch slicing") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.operators.Multimodal
    val enriched = Multimodal.mediaTable(spark, sf).toDF()
      .join(Tables.documents(spark, sf).select("doc_id", "source"), "doc_id")
      .select("source", "payload")
    val recompute = Multimodal.symbolProfileFromCounts(
        Multimodal.symbolCounts(enriched))
      .collect().map(_.toString).toSeq.sorted
    assert(recompute.nonEmpty)
    Seq(2, 5).foreach { nBatches =>
      val base = Files.createTempDirectory(s"graft-sym-$nBatches").toString
      enriched.repartition(nBatches)
        .write.mode("overwrite").parquet(s"$base/arrivals")
      val q = ViewStreams.maintainSymbolView(
        ViewStreams.readLineitemStream(spark, s"$base/arrivals", enriched),
        s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      val maintained = ViewStreams.symbolView(spark, s"$base/state")
        .collect().map(_.toString).toSeq.sorted
      assert(maintained == recompute,
        s"symbol view drifted at $nBatches batches: " +
          s"${maintained.diff(recompute).take(2)} vs ${recompute.diff(maintained).take(2)}")
    }
  }

  test("reader lease: generations linger for the configured lease, so long-lived readers survive many refreshes") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf)
    val base = Files.createTempDirectory("graft-view-lease").toString
    val state = s"$base/state"
    def gens() = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getName).sorted.toSeq
    val slice = (i: Int) => li.filter(col("l_orderkey") % 4 === i)
    spark.conf.set("graft.view.readerLeaseMs", "600000")
    try {
      ViewStreams.mergeBatch(spark, slice(0), state, 0L)
      // A reader resolved NOW is pinned to gen=0's files — and must stay
      // valid across THREE further refreshes, not one (the lease, not the
      // single-predecessor window, is the contract here).
      val pinned = ViewStreams.pricingView(spark, state)
      ViewStreams.mergeBatch(spark, slice(1), state, 1L)
      ViewStreams.mergeBatch(spark, slice(2), state, 2L)
      ViewStreams.mergeBatch(spark, slice(3), state, 3L)
      assert(gens() == Seq("gen=0", "gen=1", "gen=2", "gen=3"),
        s"lease-active generations: ${gens()}")
      assert(pinned.collect().nonEmpty,
        "reader inside its lease lost its generation after 3 refreshes")
      // Lease off: the next commit reverts to keep-one-predecessor —
      // bounded storage is the other half of the contract.
      spark.conf.set("graft.view.readerLeaseMs", "0")
      ViewStreams.mergeBatch(spark, slice(0), state, 4L)
      assert(gens() == Seq("gen=3", "gen=4"),
        s"expired generations not pruned: ${gens()}")
      // And the final view equals the recompute over everything merged.
      val now = ViewStreams.pricingView(spark, state).collect().map(_.toString).toSeq
      val recompute = li.unionAll(slice(0))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum(floor(col("l_quantity") * 100 + 0.5).cast("long"))
            .cast("double") / 100.0, 2).as("sum_qty"),
          count(lit(1)).as("count_rows"))
        .orderBy("l_returnflag", "l_linestatus")
        .collect().map(_.toString).toSeq
      assert(now == recompute)
    } finally spark.conf.unset("graft.view.readerLeaseMs")
  }

  test("reader lease survives skewed filesystem mtimes (commit timestamps are committer-written)") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    val li = Tables.lineitem(spark, sf)
    val state = s"${Files.createTempDirectory("graft-view-lease2")}/state"
    val slice = (i: Int) => li.filter(col("l_orderkey") % 4 === i)
    def gens() = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("gen=")).map(_.getName).sorted.toSeq
    spark.conf.set("graft.view.readerLeaseMs", "600000")
    try {
      ViewStreams.mergeBatch(spark, slice(0), state, 0L)
      ViewStreams.mergeBatch(spark, slice(1), state, 1L)
      // Mock an object store with useless mtimes: every marker claims
      // epoch 0. An mtime-based lease would expire gen=0 instantly; the
      // committer-written _COMMIT_TS must keep it readable.
      new java.io.File(state).listFiles().filter(_.getName.startsWith("gen="))
        .flatMap(_.listFiles()).filter(_.getName == "_SUCCESS")
        .foreach(f => assert(f.setLastModified(0L)))
      ViewStreams.mergeBatch(spark, slice(2), state, 2L)
      assert(gens() == Seq("gen=0", "gen=1", "gen=2"),
        s"lease bypassed under skewed mtimes: ${gens()}")
      // Lease off: prune reverts to keep-one-predecessor regardless.
      spark.conf.set("graft.view.readerLeaseMs", "0")
      ViewStreams.mergeBatch(spark, slice(3), state, 3L)
      assert(gens() == Seq("gen=2", "gen=3"), s"prune failed: ${gens()}")
    } finally spark.conf.unset("graft.view.readerLeaseMs")
  }

  test("release view dirty-bucket fold handles a bucket CROSSING the cap mid-stream") {
    // The non-monotone case an append-only candidate store gets wrong:
    // a bucket below cap contributes pairs in batch 0, then batch 1
    // pushes it OVER cap — batch d36 excludes the whole bucket, so the
    // maintained view must RETRACT batch 0's contributions. 70
    // byte-identical docs (> BandBucketCap = 64) band to the same bucket
    // in every band; split 32 + 38 across batches.
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import spark.implicits._
    val docs = (0L until 70L).map(i =>
      (i, "the same boilerplate sentence repeated for banding " * 3,
        "en", "src", 150L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val expected = graft.operators.Dedup
      .releaseReportFromTables(
        graft.operators.Dedup.releaseWaveTables(docs)._1,
        graft.operators.Dedup.releaseWaveTables(docs)._2)
      .collect().map(_.toString).toSeq
    val state = s"${Files.createTempDirectory("graft-release-cap")}/state"
    ViewStreams.mergeReleaseBatch(spark, docs.filter(col("doc_id") < 32), state, 0L)
    // Mid-stream: the bucket is below cap, pairs exist.
    val mid = ViewStreams.releaseView(spark, state).head()
    assert(mid.getLong(3) > 0L, s"sub-cap bucket produced no pairs: $mid")
    ViewStreams.mergeReleaseBatch(spark, docs.filter(col("doc_id") >= 32), state, 1L)
    val got = ViewStreams.releaseView(spark, state)
      .collect().map(_.toString).toSeq
    assert(got == expected,
      s"view != batch d36 after cap crossing: $got vs $expected")
    // The crossing must actually have retracted the near-dup pairs
    // (every doc still drops as an exact dup, but the LSH leg is empty).
    assert(ViewStreams.releaseView(spark, state).head().getLong(3) == 0L,
      "over-cap bucket still contributes pairs after crossing")
  }

  test("maintained release view == batch d36 under two batch slicings (and replay-idempotent)") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val expected = SparkEntry.queries("d36_release_dedup_report")(spark, sf)
      .collect().map(_.toString).toSeq
    val slicings: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "even-odd" -> (col("doc_id") % 2 === 0),
      // A planted CROSS-HALF exact-dup boundary: head/tail by id splits
      // every duplicate cluster whose members span the midpoint.
      "head-tail" -> (col("doc_id") < 30))
    for ((tag, cut) <- slicings) {
      val state = s"${Files.createTempDirectory(s"graft-release-view")}/state"
      ViewStreams.mergeReleaseBatch(spark, docs.filter(cut), state, 0L)
      ViewStreams.mergeReleaseBatch(spark, docs.filter(!cut), state, 1L)
      val got = ViewStreams.releaseView(spark, state)
        .collect().map(_.toString).toSeq
      assert(got == expected, s"release view != batch d36 under $tag slicing")
      // Replay of the last batch: a committed generation at the id means
      // no-op — the report must not double-count the wave.
      ViewStreams.mergeReleaseBatch(spark, docs.filter(!cut), state, 1L)
      assert(ViewStreams.releaseView(spark, state)
        .collect().map(_.toString).toSeq == expected,
        s"release view drifted after replay under $tag slicing")
    }
  }

  test("maintained gate view == batch t20 rollup under any batch slicing (and replay)") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    // The batch twin: t20's doc-grain gate frame rolled to the view's
    // per-source profile — the SAME qualityGateFrame expression, so
    // drift has nowhere to live.
    def bit(b: Long, name: String) =
      sum(when(col("flags").bitwiseAND(lit(b)) =!= 0L, 1L).otherwise(0L)).as(name)
    val recompute = TextOps.qualityGateFrame(docs)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        bit(1L, "n_short"), bit(2L, "n_long"),
        bit(4L, "n_lowstop"), bit(8L, "n_toklen"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("drop_rate",
        col("n_dropped").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
      .collect().map(_.toString).toSeq
    Seq(3, 7).foreach { nBatches =>
      val base = Files.createTempDirectory(s"graft-gate-$nBatches").toString
      docs.repartition(nBatches)
        .write.mode("overwrite").parquet(s"$base/arrivals")
      val q = ViewStreams.maintainGateView(
        ViewStreams.readLineitemStream(spark, s"$base/arrivals", docs),
        s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      val maintained = ViewStreams.gateView(spark, s"$base/state")
        .collect().map(_.toString).toSeq
      assert(maintained == recompute,
        s"gate view drifted at $nBatches batches: " +
          s"${maintained.diff(recompute).take(2)} vs ${recompute.diff(maintained).take(2)}")
      assert(maintained.nonEmpty)
    }
    // Replay: a committed generation at the batch id means no-op.
    val base = Files.createTempDirectory("graft-gate-replay").toString
    ViewStreams.mergeGateBatch(spark, docs, s"$base/state", 0L)
    val once = ViewStreams.gateView(spark, s"$base/state")
      .collect().map(_.toString).toSeq
    ViewStreams.mergeGateBatch(spark, docs, s"$base/state", 0L)
    assert(ViewStreams.gateView(spark, s"$base/state")
      .collect().map(_.toString).toSeq == once,
      "gate view double-counted a replayed batch")
    assert(once == recompute)
  }

  test("pre-LSM release-view state upgrades in place to a base generation") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val expected = SparkEntry.queries("d36_release_dedup_report")(spark, sf)
      .collect().map(_.toString).toSeq
    val state = s"${Files.createTempDirectory("graft-release-legacy")}/state"
    // Fabricate ROUND-15 state: a wave table plus the report parquet AS
    // the generation dir — its own _SUCCESS marks it committed; no
    // buckets/ table, no _BASE marker.
    val (fp0, hs0) = Dedup.releaseWaveTables(docs.filter(col("doc_id") < 20))
    fp0.write.mode("overwrite").parquet(s"$state/waves/batch=0/fp")
    hs0.write.mode("overwrite").parquet(s"$state/waves/batch=0/hs")
    Dedup.releaseReportFromTables(
      ViewStreams.releaseWaves(spark, state, "fp"),
      ViewStreams.releaseWaves(spark, state, "hs"))
      .write.mode("overwrite").parquet(s"$state/gen=0")
    // A reader on not-yet-upgraded legacy state reads the legacy report.
    assert(ViewStreams.releaseView(spark, state).collect().length == 1)
    // The next wave detects the legacy layout and rebuilds the bucket
    // store from the accumulated wave index as a base generation...
    ViewStreams.mergeReleaseBatch(spark,
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 40), state, 1L)
    assert(new java.io.File(s"$state/gen=1/_BASE").exists(),
      "the upgrade generation must be a base")
    // ...and the wave after that runs the ordinary incremental path.
    ViewStreams.mergeReleaseBatch(spark, docs.filter(col("doc_id") >= 40), state, 2L)
    assert(!new java.io.File(s"$state/gen=2/_BASE").exists(),
      "post-upgrade batch should be a delta")
    val got = ViewStreams.releaseView(spark, state)
      .collect().map(_.toString).toSeq
    assert(got == expected, s"upgraded view != batch d36: $got vs $expected")
  }

  test("release view LSM compaction: deltas reconstruct exactly, bases bound the suffix") {
    import java.nio.file.Files
    import graft.streaming.ViewStreams
    import graft.sources.Tables
    val docs = Tables.documents(spark, sf)
    val expected = SparkEntry.queries("d36_release_dedup_report")(spark, sf)
      .collect().map(_.toString).toSeq
    spark.conf.set("graft.view.releaseCompactEvery", "3")
    try {
      val state = s"${Files.createTempDirectory("graft-release-lsm")}/state"
      val k = 7
      (0 until k).foreach { i =>
        ViewStreams.mergeReleaseBatch(spark, docs.filter(col("doc_id") % k === i),
          state, i.toLong)
      }
      val got = ViewStreams.releaseView(spark, state)
        .collect().map(_.toString).toSeq
      assert(got == expected,
        s"compacted LSM view != batch d36 after $k waves: $got vs $expected")
      // With compactEvery=3 over 7 batches: bases at gen 0, 2, 4, 6 —
      // after gen 6 (a base) commits, everything below it is superseded
      // except the keep-one predecessor (gen 5). The gen count staying
      // bounded IS the compaction claim.
      val root = new java.io.File(state)
      val genDirs = root.listFiles().filter(_.getName.startsWith("gen="))
        .map(_.getName.stripPrefix("gen=").toLong).sorted.toSeq
      assert(genDirs == Seq(5L, 6L),
        s"pruning after compaction left unexpected generations: $genDirs")
      assert(new java.io.File(s"$state/gen=6/_BASE").exists(),
        "gen 6 should be a base (compactEvery=3 ⇒ live suffix of 3 compacts)")
      assert(!new java.io.File(s"$state/gen=5/_BASE").exists(),
        "gen 5 should be a delta")
      // The write-amplification claim: a delta generation's bucket table
      // is a strict subset of the base's full store (wave-scale, not
      // index-scale writes).
      val deltaRows = spark.read.parquet(s"$state/gen=5/buckets").count()
      val baseRows = spark.read.parquet(s"$state/gen=6/buckets").count()
      assert(deltaRows < baseRows,
        s"delta buckets ($deltaRows) not smaller than the base store ($baseRows)")
      // Replay of the compacting batch: committed ⇒ no-op, report stable.
      ViewStreams.mergeReleaseBatch(spark, docs.filter(col("doc_id") % k === 6),
        state, 6L)
      assert(ViewStreams.releaseView(spark, state)
        .collect().map(_.toString).toSeq == expected,
        "release view drifted after replaying the compacting batch")
    } finally spark.conf.unset("graft.view.releaseCompactEvery")
  }

  test("streaming daily HLL == batch HLL bit-for-bit (merge order-independence)") {
    val stream = EventStreams.readEventStream(spark, sf)
    val q = EventStreams.runToMemory(
      EventStreams.dailyActiveApprox(stream), "dau_hll_out", OutputMode.Append)
    try {
      val streamed = spark.table("dau_hll_out")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "1 day"))
        .agg(approx_count_distinct("user_id", 0.02).as("approx_users"),
          count(lit(1)).as("n_events"))
        .select(col("window.start").as("day"), col("approx_users"), col("n_events"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty, "watermarked stream emitted no closed windows")
      // Not "approximately equal": the HLL registers merge by max, so any
      // micro-batch slicing yields the identical sketch — emitted windows
      // must match the batch rows exactly.
      assert(streamed.subsetOf(batch),
        s"streamed HLL rows disagree with batch: ${streamed.diff(batch).take(3)}")
      // And the estimate is a real distinct count, not a row count.
      val exact = Tables.events(spark, sf)
        .select(to_date(col("ts")).as("d"), col("user_id")).distinct()
        .groupBy("d").count().collect().map(_.getLong(1))
      val est = streamed.map(_._2)
      assert(est.forall(v => exact.exists(e => math.abs(v - e) <= math.max(3L, (e * 0.1).toLong))),
        s"HLL estimates implausibly far from exact: $est vs ${exact.toSeq}")
    } finally q.stop()
  }
}
