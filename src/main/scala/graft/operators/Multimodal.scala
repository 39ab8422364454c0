package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Multimodal-column plumbing: media (image/audio/video) modeled as opaque
  * `binary` payload columns with typed metadata alongside.
  *
  * The container has no codec libraries, so the *decode* step is a clearly
  * marked deterministic stub ([[StubCodec.decodeImage]]); everything
  * Spark-side — schema, batched `mapPartitions` execution, partition sizing,
  * feature schema — is real and is what would carry a true decoder at scale
  * (decode runs per-partition, so one task holds one codec context and I/O
  * batches amortize).
  */
object Multimodal {

  /** Typed media record (payload + metadata), the multimodal row model. */
  final case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features for one media payload. */
  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      mean_intensity: Double)

  /** Deterministic fake decoder — STUB standing in for a real codec
    * (e.g. JPEG decode). Derives "pixels" from payload bytes so results are
    * stable and testable without image libraries.
    */
  object StubCodec {
    def decodeImage(payload: Array[Byte]): (Int, Int, Double) = {
      val n = payload.length
      val width = math.max(1, n % 64)
      val height = math.max(1, (n / 64) % 64)
      val mean =
        if (n == 0) 0.0
        else payload.iterator.map(b => (b & 0xff).toDouble).sum / n
      (width, height, mean)
    }
  }

  /** Media ingest from raw files: Spark's `binaryFile` source reads each
    * file as one row (path, modificationTime, length, content) — the way a
    * real pipeline lands image/audio blobs from an object store before
    * compacting them into parquet payload columns. `pathGlobFilter` keeps
    * non-media files out at the listing stage (no bytes read for them).
    */
  def readBinaryFiles(spark: SparkSession, dir: String, glob: String = "*"): Dataset[MediaRecord] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)
      .select(
        // Stable id from the file name digits (ingest assigns real ids
        // downstream; tests name files `<doc_id>.bin`).
        regexp_extract(col("path"), "(\\d+)\\.[^.]*$", 1).cast("long").as("doc_id"),
        lit("image/stub").as("media_type"),
        col("content").as("payload"))
      .as[MediaRecord]
  }

  /** documents.text re-cast as a binary payload column — the multimodal
    * ingest shape (real pipelines read the bytes from parquet/object store
    * exactly like this). */
  def mediaTable(spark: SparkSession, d: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables.documents(spark, d)
      .select(
        col("doc_id"),
        lit("image/stub").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Batched per-partition decode + feature extraction (the `mapInPandas`
    * shape in Scala: one iterator pass per partition, no per-row codec
    * setup). */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition: a real impl would open one codec context here
      it.map { r =>
        val (w, h, mean) = StubCodec.decodeImage(r.payload)
        MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, w, h, mean)
      }
    }
  }

  /** Oracle-checkable projection of the multimodal pipeline: byte length and
    * payload md5 are computable by DuckDB directly; width/height come from
    * the stub's pure byte-length arithmetic so they are SQL-expressible too.
    */
  val mediaMeta = Q(
    "m01_media_metadata",
    (s, d) =>
      mediaTable(s, d).toDF()
        .select(
          col("doc_id"),
          col("media_type"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"),
          expr("CAST(greatest(1, octet_length(payload) % 64) AS BIGINT)").as("width"),
          expr("CAST(greatest(1, (octet_length(payload) div 64) % 64) AS BIGINT)").as("height")),
    Some("""SELECT doc_id, 'image/stub' AS media_type,
            CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
            md5(text) AS payload_md5,
            CAST(greatest(1, octet_length(encode(text)) % 64) AS BIGINT) AS width,
            CAST(greatest(1, (octet_length(encode(text)) // 64) % 64) AS BIGINT) AS height
            FROM documents ORDER BY doc_id"""))

  /** Full stub-decode feature aggregation (mapPartitions path): mean byte
    * intensity per media_type bucket. Oracle-checkable because the stub's
    * "pixels" are the payload bytes themselves — DuckDB recomputes the mean
    * via ord(substr(..)) over ASCII text (sums of <2^53 integers are exact
    * in double on both sides). */
  val mediaFeatures = Q(
    "m02_media_features",
    (s, d) =>
      extractFeatures(mediaTable(s, d)).toDF()
        .groupBy("media_type")
        .agg(
          count(lit(1)).as("n_media"),
          round(avg("mean_intensity"), 4).as("avg_intensity"),
          round(avg("n_bytes"), 4).as("avg_bytes")),
    Some("""WITH chars AS (
              SELECT doc_id, ord(substr(text, CAST(i AS INT), 1)) AS b
              FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)),
            per AS (
              SELECT d.doc_id,
                CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
                CAST(sum(c.b) AS DOUBLE) / octet_length(encode(d.text)) AS mean_intensity
              FROM documents d JOIN chars c ON d.doc_id = c.doc_id
              GROUP BY d.doc_id, d.text)
            SELECT 'image/stub' AS media_type, count(*) AS n_media,
              round(avg(mean_intensity), 4) AS avg_intensity,
              round(avg(n_bytes), 4) AS avg_bytes
            FROM per GROUP BY 1 ORDER BY media_type"""))

  /** Frame sampling: treat each payload as a "video" of fixed 64-char
    * frames and keep every 4th frame — the uniform-stride frame-sample step
    * of a video pipeline (a real one samples decoded frames; the stub
    * samples payload windows, but the dataflow — flatMap row → sampled
    * frames, no full-payload materialization per output row — is the real
    * shape). Output size is input/stride regardless of per-doc skew.
    *
    * Empty payloads are filtered before the explode: sequence(0, -1, 4)
    * throws ILLEGAL_SEQUENCE_BOUNDARIES, while the oracle's range() yields
    * zero rows for them — the filter gives both sides the same no-frames
    * answer.
    */
  val frameSample = Q(
    "m03_frame_sample",
    (s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          explode(sequence(
            lit(0),
            floor((length(col("text")) - lit(1)) / lit(64)).cast("int"),
            lit(4))).as("frame_idx"),
          col("text"))
        .select(
          col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          md5(col("text").substr(col("frame_idx") * lit(64) + lit(1), lit(64))).as("frame_md5")),
    Some("""SELECT doc_id, frame_idx,
                   md5(substr(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
            FROM (SELECT doc_id, text,
                         unnest(range(0, (length(text) - 1) // 64 + 1, 4)) AS frame_idx
                  FROM documents)
            ORDER BY doc_id, frame_idx"""))

  /** Resized media record (payload downsampled, dims updated). */
  final case class MediaResized(
      doc_id: Long,
      media_type: String,
      orig_bytes: Long,
      resized_bytes: Long,
      resized_md5: String)

  /** Batched per-partition resize — the stub analog of image downsampling
    * (a real impl decodes, scales, re-encodes inside the same
    * mapPartitions; the stub keeps every `stride`-th payload byte). Same
    * execution contract as [[extractFeatures]]: one codec context per
    * partition, no per-row setup, output carries provenance (orig size)
    * plus the new payload's digest for integrity checks downstream. */
  def resizeStride(media: Dataset[MediaRecord], stride: Int): Dataset[MediaResized] = {
    require(stride > 0, s"stride must be positive, got $stride")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val resized = Array.tabulate((r.payload.length + stride - 1) / stride)(i =>
          r.payload(i * stride))
        md.reset()
        val hex = md.digest(resized).map(b => f"${b & 0xff}%02x").mkString
        MediaResized(r.doc_id, r.media_type, r.payload.length.toLong,
          resized.length.toLong, hex)
      }
    }
  }

  /** Stride-4 resize over the documents-as-media table; oracle rebuilds the
    * strided byte string in SQL (ASCII corpus ⇒ chars are bytes, as m02
    * relies on) and md5s it. */
  val mediaResize = Q(
    "m04_media_resize",
    (s, d) =>
      resizeStride(mediaTable(s, d), 4).toDF(),
    Some("""WITH chars AS (
              SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS c
              FROM documents, UNNEST(range(1, length(text) + 1)) r(i)
              WHERE (i - 1) % 4 = 0),
            resized AS (
              SELECT doc_id, string_agg(c, '' ORDER BY i) AS s
              FROM chars GROUP BY doc_id)
            SELECT d.doc_id, 'image/stub' AS media_type,
                   CAST(octet_length(encode(d.text)) AS BIGINT) AS orig_bytes,
                   CAST(length(r.s) AS BIGINT) AS resized_bytes,
                   md5(r.s) AS resized_md5
            FROM documents d JOIN resized r USING (doc_id)
            ORDER BY d.doc_id"""))

  /** Audio-style windowed energy: overlapping 32-sample frames (stride 16 —
    * 50% overlap, the standard audio analysis layout) with mean squared
    * sample value per frame, via the codegen'd `byte_energy` kernel over
    * the payload window. Same stub-codec stance as m01–m04: payload bytes
    * stand in for PCM samples (ASCII corpus ⇒ byte == codepoint, the same
    * assumption m02's oracle asserts); a real decoder slots in at the
    * window-extraction step without touching the dataflow. Per-row
    * flatMap shape: output ∝ bytes/stride regardless of per-doc skew, no
    * shuffle before the final output ordering.
    */
  val frameEnergy = Q(
    "m05_frame_energy",
    (s, d) =>
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(
          col("doc_id"),
          explode(sequence(
            lit(1), greatest(length(col("text")) - lit(31), lit(1)), lit(16))).as("start"),
          col("text"))
        .select(
          col("doc_id"), col("start").cast("long").as("start"),
          round(expr("byte_energy(substr(text, start, 32))"), 6).as("energy")),
    Some("""WITH chars AS (
              SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS b
              FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)),
            starts AS (
              SELECT doc_id, unnest(range(1, greatest(length(text) - 31, 1) + 1, 16)) AS start
              FROM documents WHERE length(text) > 0)
            SELECT s.doc_id, CAST(s.start AS BIGINT) AS start,
                   round(sum(c.b * c.b) * 1.0 / count(*), 6) AS energy
            FROM starts s JOIN chars c
              ON c.doc_id = s.doc_id AND c.i >= s.start AND c.i < s.start + 32
            GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** 64-bit perceptual block hash (blockhash-style): the payload is cut
    * into 64 equal byte blocks and bit j is set iff block j's mean
    * intensity exceeds the whole payload's mean. The compare is the
    * integer cross-multiplication `sum_j · n > total · count_j` — exact at
    * any payload size and reproduced verbatim by the DuckDB oracle (no
    * float thresholds to drift). Empty blocks (payload shorter than 64
    * bytes) read as bit 0 on both sides. */
  def blockhash64(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var total = 0L
    var i = 0
    while (i < n) {
      val v = (payload(i) & 0xff).toLong
      val blk = ((i.toLong * 64L) / n).toInt
      sums(blk) += v; cnts(blk) += 1L; total += v
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (sums(j) * n > total * cnts(j)) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** (doc_id, ph) perceptual signatures — batched per-partition like the
    * other media kernels (a real pipeline hashes decoded luma planes here;
    * the stub hashes payload bytes, same dataflow). */
  def mediaSignatures(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.payload.nonEmpty)
      .mapPartitions(it => it.map(r => (r.doc_id, blockhash64(r.payload))))
      .toDF("doc_id", "ph")
  }

  /** Media near-dup pairs by perceptual hash — the image/audio analog of
    * d03's text SimHash, bridging the multimodal and dedup families: band
    * the 64-bit signature into 4×16-bit chunks, self-join on chunk
    * equality, verify by Hamming distance. Pigeonhole gives recall 1.0 for
    * distance ≤ 3; above that the banding is an approximate candidate
    * generator — the oracle reproduces the SAME band rule, so the check
    * stays value-exact either way. (This synthetic corpus's near-dups are
    * token-level shuffles, which scatter block means — hence the loose
    * demo threshold; the planted byte-noise spec carries the tight-
    * threshold guarantee real media near-dups exercise.)
    *
    * Scale shape: identical to d03 — banded self-join, exchange reuse
    * shares the signature scan between the sides, pair volume bounded by
    * bucket collisions. No all-pairs anywhere.
    */
  def mediaNeardupPairs(media: Dataset[MediaRecord], maxDist: Int): DataFrame = {
    val sigs = mediaSignatures(media)
    val chunkArr = array((0 until 4).map(c =>
      shiftrightunsigned(col("ph"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val chunked = sigs.select(
      col("doc_id"), col("ph"),
      posexplode(chunkArr).as(Seq("chunk", "ck")))
    chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.ph").bitwiseXOR(col("y.ph"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** m06's oracle pipeline (stub blockhash from documents.text bytes →
    * banded candidate pairs with Hamming distances), factored so m12's
    * cluster oracle closes over the SAME pair definition. */
  private val phashPairCtes =
    """chars AS (
              SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS b,
                     length(text) AS n
              FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)
              WHERE length(text) > 0),
            blocks AS (
              SELECT doc_id, ((i - 1) * 64) // n AS blk,
                     sum(b) AS s, count(*) AS c, max(n) AS n
              FROM chars GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(s) AS st, max(n) AS n
                    FROM blocks GROUP BY doc_id),
            sig AS (
              SELECT b.doc_id,
                sum(CASE WHEN b.s * t.n > t.st * b.c
                         THEN (1::HUGEINT << b.blk) ELSE 0::HUGEINT END) AS ph
              FROM blocks b JOIN tot t USING (doc_id) GROUP BY 1),
            chunks AS (
              SELECT doc_id, ph, c, (ph >> CAST(c * 16 AS INT)) & 65535 AS ck
              FROM sig CROSS JOIN range(0, 4) r(c)),
            pairs AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
                     CAST(bit_count(xor(x.ph, y.ph)) AS BIGINT) AS hamming
              FROM chunks x JOIN chunks y
                ON x.c = y.c AND x.ck = y.ck AND x.doc_id < y.doc_id)"""

  val mediaNeardup = Q(
    "m06_media_neardup",
    (s, d) => mediaNeardupPairs(mediaTable(s, d), 14),
    Some(s"""WITH $phashPairCtes
            SELECT a, b, hamming FROM pairs WHERE hamming <= 14 ORDER BY a, b"""))

  /** Scene-change (shot-boundary) detection — the video-curation step
    * that segments a stream into shots before frame sampling (m03 samples
    * uniformly; a real pipeline samples per-shot). A cut is a frame whose
    * energy jumps by more than `minJump` against the previous frame —
    * the classic intensity-delta detector, over m05's frame-energy
    * layout (stride-16 windows of the payload-as-samples stub; a real
    * decoder swaps in at the window step, dataflow unchanged).
    *
    * Per-doc output: frames, cuts (≈ shots−1), first cut position, and
    * the largest jump — the shot-structure record a sampler consumes.
    *
    * Scale shape: the lag window and the aggregate are both keyed by
    * doc_id (frames-per-media rows per key, no global window — PlanAudit
    * enforces); one shuffle total. Float discipline: full frames'
    * energies are exact multiples of 1/32 (integer sum / power of two)
    * and tail-frame divisions are single correctly-rounded IEEE ops on
    * identical operands, so the jump compare needs no rounding grid —
    * both engines see bit-identical doubles (m05's hash-green check is
    * the proof); only the OUTPUT max_jump is rounded, per the fp-noise
    * rule.
    */
  def sceneCuts(docs: DataFrame, minJump: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = docs
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        explode(sequence(
          lit(1), greatest(length(col("text")) - lit(31), lit(1)), lit(16))).as("start"),
        col("text"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        expr("byte_energy(substr(text, start, 32))").as("energy"))
    val byPos = Window.partitionBy("doc_id").orderBy("start")
    frames
      .withColumn("jump", abs(col("energy") - lag("energy", 1).over(byPos)))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_frames"),
        sum(when(col("jump") > minJump, 1L).otherwise(0L)).as("n_cuts"),
        min(when(col("jump") > minJump, col("start"))).as("first_cut"),
        round(max(col("jump")), 6).as("max_jump"))
  }

  val scenes = Q(
    "m07_scene_cuts",
    (s, d) => sceneCuts(Tables.documents(s, d), 800.0),
    Some("""WITH chars AS (
              SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS b
              FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)),
            starts AS (
              SELECT doc_id, unnest(range(1, greatest(length(text) - 31, 1) + 1, 16)) AS start
              FROM documents WHERE length(text) > 0),
            frames AS (
              SELECT s.doc_id, CAST(s.start AS BIGINT) AS start,
                     sum(c.b * c.b) * 1.0 / count(*) AS energy
              FROM starts s JOIN chars c
                ON c.doc_id = s.doc_id AND c.i >= s.start AND c.i < s.start + 32
              GROUP BY 1, 2),
            jumps AS (
              SELECT doc_id, start,
                abs(energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY start)) AS jump
              FROM frames)
            SELECT doc_id, count(*) AS n_frames,
              CAST(sum(CASE WHEN jump > 800.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
              min(CASE WHEN jump > 800.0 THEN start END) AS first_cut,
              round(max(jump), 6) AS max_jump
            FROM jumps GROUP BY doc_id ORDER BY doc_id"""))

  /** Voiced-segment (VAD-style) detection — the audio-curation step that
    * segments a stream into speech/silence runs before transcription or
    * frame sampling: a frame is "voiced" iff its energy clears a floor,
    * and a SEGMENT is a maximal run of consecutive voiced frames (the
    * island-coalescing readout, d11's shape on the audio axis where m07
    * detects boundaries by energy *change*). Per-doc output: frames,
    * voiced frames, segment count, voiced fraction — the utterance
    * inventory a speech pipeline consumes.
    *
    * Floor 9800 ≈ this corpus's median frame energy (letters score
    * ~9.4–14.9k, whitespace 1k), standing in for a tuned VAD threshold.
    *
    * Scale shape: same doc-keyed lag window + keyed agg as m07 — one
    * shuffle, linear; the exact-compare argument is m07's (energies are
    * bit-identical across engines, so the floor needs no rounding grid).
    */
  def voicedSegments(docs: DataFrame, floor: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = docs
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        explode(sequence(
          lit(1), greatest(length(col("text")) - lit(31), lit(1)), lit(16))).as("start"),
        col("text"))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        expr("byte_energy(substr(text, start, 32))").as("energy"))
    val byPos = Window.partitionBy("doc_id").orderBy("start")
    frames
      .withColumn("voiced", col("energy") >= floor)
      .withColumn("prev_voiced", lag("voiced", 1).over(byPos))
      .withColumn("seg_start",
        col("voiced") && (col("prev_voiced").isNull || !col("prev_voiced")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_frames"),
        sum(when(col("voiced"), 1L).otherwise(0L)).as("n_voiced"),
        sum(when(col("seg_start"), 1L).otherwise(0L)).as("n_segments"),
        // Fraction from the integer counts, cast to double on BOTH sides
        // (a DuckDB 1.0 literal is DECIMAL — its division rounds
        // differently from IEEE doubles; the q28 lesson).
        round(sum(when(col("voiced"), 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double"), 6).as("voiced_frac"))
  }

  val voiced = Q(
    "m08_voiced_segments",
    (s, d) => voicedSegments(Tables.documents(s, d), 9800.0),
    Some("""WITH chars AS (
              SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS b
              FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)),
            starts AS (
              SELECT doc_id, unnest(range(1, greatest(length(text) - 31, 1) + 1, 16)) AS start
              FROM documents WHERE length(text) > 0),
            frames AS (
              SELECT s.doc_id, CAST(s.start AS BIGINT) AS start,
                     sum(c.b * c.b) * 1.0 / count(*) >= 9800.0 AS voiced
              FROM starts s JOIN chars c
                ON c.doc_id = s.doc_id AND c.i >= s.start AND c.i < s.start + 32
              GROUP BY 1, 2),
            runs AS (
              SELECT doc_id, voiced,
                lag(voiced) OVER (PARTITION BY doc_id ORDER BY start) AS prev_voiced
              FROM frames)
            SELECT doc_id, count(*) AS n_frames,
              CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS BIGINT) AS n_voiced,
              CAST(sum(CASE WHEN voiced AND (prev_voiced IS NULL OR NOT prev_voiced)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_segments,
              round(CAST(sum(CASE WHEN voiced THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(count(*) AS DOUBLE), 6) AS voiced_frac
            FROM runs GROUP BY doc_id ORDER BY doc_id"""))

  /** m09: shard-manifest packing — assign every media payload a byte
    * offset inside fixed-budget shards (WebDataset/tar-shard style: the
    * layout multimodal training jobs actually read, where a loader seeks
    * to (shard, offset) instead of listing millions of small objects).
    * Emits per record the shard span (`shard_first`..`shard_last` — large
    * payloads legitimately straddle a boundary and are recorded across
    * both, t17's greedy rule on the byte axis) and the byte offset within
    * the first shard; downstream writers consume this manifest to lay
    * records into `shard-{N}.tar` containers deterministically.
    *
    * Packing is PER WRITER (`media_type` here; a deployment keys by
    * source/ingest-partition): each writer owns an independent shard
    * stream and byte cursor, exactly how production shard writers lay
    * out tars — and exactly the keying of the streaming twin
    * ([[graft.streaming.MediaStreams.shardAssigned]]), so batch and
    * at-ingest manifests agree row-for-row with ANY number of writers,
    * not just a single-type corpus.
    *
    * The cumulative byte offset is t17's TWO-PHASE range-partitioned
    * prefix scan ([[TextOps.prefixSummedBy]] over (media_type, doc_id)
    * order) — never a global unpartitioned window. Per-writer cursors
    * fall out of the GLOBAL running sum by subtracting each writer's
    * starting offset (one #writers-sized agg, broadcast back): local
    * per-partition running sums, one long per partition to the driver,
    * one tiny base-offset join. Byte addition is associative, so the
    * manifest is exact at any partition count, and the scan is the only
    * pass over payload bytes (octet_length is metadata — the payloads
    * themselves never shuffle).
    */
  def shardManifest(media: Dataset[MediaRecord], shardBytes: Long = 4096L): DataFrame = {
    val perDoc = media.toDF()
      .select(col("doc_id"), col("media_type"),
        octet_length(col("payload")).cast("long").as("n_bytes"))
      .filter(col("n_bytes") > 0)
    val cum = TextOps.prefixSummedBy(perDoc,
      Seq("media_type", "doc_id"), "n_bytes", "cum_all")
    // Writer base = global running sum just before the writer's first
    // record; subtracting it turns the one global scan into one
    // independent cursor per writer.
    val base = cum.groupBy("media_type")
      .agg(min(col("cum_all") - col("n_bytes")).as("base_bytes"))
    cum.join(base, "media_type")
      .withColumn("cum_bytes", col("cum_all") - col("base_bytes"))
      .select(
        col("doc_id"), col("media_type"), col("n_bytes"),
        expr(s"(cum_bytes - n_bytes) div $shardBytes").as("shard_first"),
        expr(s"(cum_bytes - 1) div $shardBytes").as("shard_last"),
        expr(s"(cum_bytes - n_bytes) % $shardBytes").as("offset_in_shard"))
      .withColumn("n_shards", col("shard_last") - col("shard_first") + 1)
  }

  val shardManifestQ = Q(
    "m09_shard_manifest",
    (s, d) => shardManifest(mediaTable(s, d)),
    Some("""WITH sizes AS (
              SELECT doc_id, 'image/stub' AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
              FROM documents),
            cum AS (
              SELECT doc_id, media_type, n_bytes,
                sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
              FROM sizes WHERE n_bytes > 0)
            SELECT doc_id, media_type, n_bytes,
              CAST((cum_bytes - n_bytes) // 4096 AS BIGINT) AS shard_first,
              CAST((cum_bytes - 1) // 4096 AS BIGINT) AS shard_last,
              CAST((cum_bytes - n_bytes) % 4096 AS BIGINT) AS offset_in_shard,
              CAST((cum_bytes - 1) // 4096
                   - (cum_bytes - n_bytes) // 4096 + 1 AS BIGINT) AS n_shards
            FROM cum ORDER BY media_type, doc_id"""))

  /** m10: shard fill audit — m09's manifest rolled up to the SHARD axis:
    * per (writer, shard): how many records touch it (straddlers count in
    * every shard they span), the bytes actually resident, and the fill
    * ratio against the byte budget. This is the loader/ops-side integrity
    * readout of the packing: every interior shard of a healthy manifest
    * is byte-exactly full (fill 1.0 — straddling is how m09 fills gaps),
    * only each writer's LAST shard may be partial, and a fill > 1.0
    * anywhere means the manifest is corrupt. Per-shard occupancy is pure
    * interval arithmetic off the manifest row (span start = shard_first ·
    * B + offset; bytes in shard s = min(end, (s+1)B) − max(start, sB)).
    *
    * Scale shape: the manifest's prefix scan (m09), then one explode
    * bounded by ⌈payload/B⌉ per record and one (writer, shard)-keyed agg
    * with map-side partials — output ∝ total bytes / B. */
  def shardFill(media: Dataset[MediaRecord], shardBytes: Long = 4096L): DataFrame = {
    shardManifest(media, shardBytes)
      .withColumn("start_byte",
        col("shard_first") * lit(shardBytes) + col("offset_in_shard"))
      .withColumn("end_byte", col("start_byte") + col("n_bytes"))
      .select(col("media_type"), col("start_byte"), col("end_byte"),
        explode(sequence(col("shard_first"), col("shard_last"))).as("shard"))
      .withColumn("bytes_in_shard",
        least(col("end_byte"), (col("shard") + 1) * lit(shardBytes)) -
          greatest(col("start_byte"), col("shard") * lit(shardBytes)))
      .groupBy("media_type", "shard")
      .agg(count(lit(1)).as("n_records"),
        sum("bytes_in_shard").as("resident_bytes"))
      .withColumn("fill_ratio",
        round(col("resident_bytes").cast("double") / lit(shardBytes.toDouble), 6))
  }

  val shardFillQ = Q(
    "m10_shard_fill",
    (s, d) => shardFill(mediaTable(s, d)),
    Some("""WITH sizes AS (
              SELECT doc_id, 'image/stub' AS media_type,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
              FROM documents),
            cum AS (
              SELECT doc_id, media_type, n_bytes,
                sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
              FROM sizes WHERE n_bytes > 0),
            spans AS (
              SELECT media_type,
                CAST(cum_bytes - n_bytes AS BIGINT) AS start_byte,
                CAST(cum_bytes AS BIGINT) AS end_byte,
                CAST((cum_bytes - n_bytes) // 4096 AS BIGINT) AS shard_first,
                CAST((cum_bytes - 1) // 4096 AS BIGINT) AS shard_last
              FROM cum),
            per AS (
              SELECT media_type, CAST(r.shard AS BIGINT) AS shard,
                least(end_byte, (r.shard + 1) * 4096)
                  - greatest(start_byte, r.shard * 4096) AS bytes_in_shard
              FROM spans, UNNEST(range(shard_first, shard_last + 1)) AS r(shard))
            SELECT media_type, shard,
              CAST(count(*) AS BIGINT) AS n_records,
              CAST(sum(bytes_in_shard) AS BIGINT) AS resident_bytes,
              round(CAST(sum(bytes_in_shard) AS DOUBLE) / 4096.0, 6) AS fill_ratio
            FROM per GROUP BY 1, 2 ORDER BY media_type, shard"""))

  /** m11: multimodal eval-set decontamination — d09/d17's stance on the
    * media axis: flag corpus media whose perceptual signature (m06's
    * blockhash64) sits within Hamming `maxDist` of ANY benchmark/eval
    * media item (eval slice = doc_id % 19 == 0, d19's convention). A
    * training run that keeps an eval image's near-duplicate burns that
    * benchmark exactly like a leaked text item; this is the scan a
    * release process runs over its image/audio shards. Emits per corpus
    * record the min Hamming to the eval set, how many eval items are
    * within the radius, and the flag.
    *
    * Scale shape: d17's literal-inline pattern — the eval signatures are
    * EVAL-SIZED (a benchmark set, structurally bounded; the one collect
    * here), inlined as 64-bit literals into a single codegen'd
    * projection (xor + bit_count per eval item), so the corpus pass is
    * map-only and embarrassingly parallel: no join, no shuffle before
    * the final sort, per-row cost ∝ |eval|. The signature pass is ONE
    * payload scan shared (checkpoint) between the eval collect and the
    * corpus scan. Exact — banding (m06's shape) is not needed because
    * the eval side is bounded, and unlike banding this misses nothing at
    * any Hamming radius. */
  /** Hard ceiling on eval signatures either decontaminate variant will
    * drive through one driver collect + inline plan. The collect is 8
    * bytes/signature (8 MiB at the bound) and the array-literal plan is
    * O(1) in |eval|, so the bound is about making the contract EXPLICIT:
    * per-row cost is |eval| xor+popcounts — unavoidable for an exact scan
    * at Hamming radius 14/64, where pigeonhole banding cannot prune (see
    * [[mediaDecontaminateArray]]) — so an eval side past ~10⁶ items is no
    * longer "a benchmark suite" and needs a different contract (d17's
    * cell-bucketed join on the embedding axis), not a silently 100×
    * slower scan. */
  val MaxInlineEval: Int = 1 << 20

  /** PLAN-SIZE ceiling for the UNROLLED variant specifically: past this,
    * [[mediaDecontaminate]] silently switches to the packed-array plan
    * ([[mediaDecontaminateArray]]'s shape, spec-asserted row-identical).
    * The unrolled plan builds one xor+bit_count expression node per eval
    * item, so |eval| near [[MaxInlineEval]] would mean a ~10⁶-node
    * expression tree — Catalyst analysis and Janino compilation break
    * long before the 8 MiB collect does (the 100× rehearsal measured the
    * fallback cliff at 26k nodes: 5.42 s vs 0.67 s packed). 2¹⁴ keeps
    * the unrolled plan comfortably inside whole-stage codegen's method
    * limits while benchmark-sized eval sets still get the fully-unrolled
    * fastest path. */
  val MaxUnrolledEval: Int = 1 << 14

  /** The all-keep manifest: every non-eval record unflagged, min_hamming
    * NULL — what decontamination against ZERO eval items means (an empty
    * daily slice / a release with no benchmark media yet), rather than a
    * crash at 3 a.m. */
  private def noEvalManifest(sigs: DataFrame): DataFrame =
    sigs.filter(col("doc_id") % 19 =!= 0)
      .select(col("doc_id"), lit(null).cast("long").as("min_hamming"),
        lit(0L).as("n_eval_matches"), lit(false).as("flagged"))

  def mediaDecontaminate(media: Dataset[MediaRecord], maxDist: Int,
      inlineEvalBound: Int = MaxInlineEval,
      maxUnrolledEval: Int = MaxUnrolledEval): DataFrame = {
    val sigs = mediaSignatures(media).localCheckpoint()
    val evalSigs = sigs.filter(col("doc_id") % 19 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    require(evalSigs.length <= inlineEvalBound,
      s"mediaDecontaminate: ${evalSigs.length} eval signatures exceed the " +
        s"inline bound $inlineEvalBound (see MaxInlineEval)")
    if (evalSigs.isEmpty) return noEvalManifest(sigs)
    // Unrolled per-item expressions only while the PLAN stays small
    // (see MaxUnrolledEval); above that, the same arithmetic rides one
    // packed array literal — per-row work identical, plan size O(1).
    val hams =
      if (evalSigs.length <= maxUnrolledEval)
        array(evalSigs.map { case (_, ph) =>
          bit_count(col("ph").bitwiseXOR(lit(ph))).cast("long")
        }.toIndexedSeq: _*)
      else
        transform(typedLit(evalSigs.map(_._2).toIndexedSeq),
          e => bit_count(col("ph").bitwiseXOR(e)).cast("long"))
    manifestFromHams(sigs, hams, maxDist)
  }

  /** The shared manifest tail of both decontaminate variants: per
    * non-eval record, min Hamming / within-radius count / flag over the
    * per-row `hams` array. */
  private def manifestFromHams(sigs: DataFrame,
      hams: org.apache.spark.sql.Column, maxDist: Int): DataFrame =
    sigs.filter(col("doc_id") % 19 =!= 0)
      .select(col("doc_id"), hams.as("hams"))
      .select(
        col("doc_id"),
        array_min(col("hams")).as("min_hamming"),
        size(filter(col("hams"),
          h => h <= lit(maxDist.toLong))).cast("long").as("n_eval_matches"))
      .withColumn("flagged", col("min_hamming") <= maxDist)

  /** The array-literal variant of [[mediaDecontaminate]] — same output,
    * different compilation story. The inline path unrolls one
    * xor+bit_count expression PER eval item: at a benchmark-sized eval
    * set that is the fastest possible plan (fully unrolled codegen), but
    * the plan itself grows with |eval| — at the 100× rehearsal's 26k
    * eval signatures that is 26k expression nodes, which is exactly the
    * regime where Janino-compiled methods blow past JVM limits and
    * whole-stage codegen silently falls back to interpreted eval. This
    * variant packs the eval signatures into ONE array literal and loops
    * with higher-order functions (`transform` + `array_min`/`filter`) —
    * per-row work identical (|eval| xor+popcounts), plan size O(1) in
    * |eval|. Spec-asserted row-identical to the inline path; the
    * rehearsal measures the crossover.
    *
    * Why not banding instead: at Hamming radius 14 of 64 bits the
    * pigeonhole bound forces ≥ 15 bands, i.e. ≤ 4-bit codes with a
    * 16-value space — a random unrelated pair still collides in ≥ 1
    * band with probability 1-(15/16)^16 ≈ 64%, so a guaranteed-recall
    * band join prunes almost nothing at this radius. The linear scan IS
    * the right algorithm; the only thing that can break at scale is the
    * plan, and this variant fixes that axis. */
  def mediaDecontaminateArray(media: Dataset[MediaRecord], maxDist: Int,
      inlineEvalBound: Int = MaxInlineEval): DataFrame = {
    val sigs = mediaSignatures(media).localCheckpoint()
    val evalSigs = sigs.filter(col("doc_id") % 19 === 0)
      .collect().map(r => r.getLong(1)).sorted // eval-sized (bounded)
    require(evalSigs.length <= inlineEvalBound,
      s"mediaDecontaminateArray: ${evalSigs.length} eval signatures exceed " +
        s"the inline bound $inlineEvalBound (see MaxInlineEval)")
    if (evalSigs.isEmpty) return noEvalManifest(sigs)
    val evalArr = typedLit(evalSigs.toIndexedSeq)
    val hams = transform(evalArr, e => bit_count(col("ph").bitwiseXOR(e)).cast("long"))
    manifestFromHams(sigs, hams, maxDist)
  }

  val mediaDecontam = Q(
    "m11_media_decontaminate",
    // Ships the array-literal plan: identical rows (spec-gated against
    // the inline variant), faster at every measured scale — 0.39 vs
    // 0.58 s at 1×, 0.67 vs 5.42 s at the 100× rehearsal, where the
    // inline plan's 26k unrolled expression nodes (not the arithmetic)
    // are the bottleneck.
    (s, d) => mediaDecontaminateArray(mediaTable(s, d), 14),
    Some("""WITH chars AS (
              SELECT doc_id, i, ord(substr(text, CAST(i AS INT), 1)) AS b,
                     length(text) AS n
              FROM documents, UNNEST(range(1, length(text) + 1)) AS r(i)
              WHERE length(text) > 0),
            blocks AS (
              SELECT doc_id, ((i - 1) * 64) // n AS blk,
                     sum(b) AS s, count(*) AS c, max(n) AS n
              FROM chars GROUP BY 1, 2),
            tot AS (SELECT doc_id, sum(s) AS st, max(n) AS n
                    FROM blocks GROUP BY doc_id),
            sig AS (
              SELECT b.doc_id,
                sum(CASE WHEN b.s * t.n > t.st * b.c
                         THEN (1::HUGEINT << b.blk) ELSE 0::HUGEINT END) AS ph
              FROM blocks b JOIN tot t USING (doc_id) GROUP BY 1),
            eval AS (SELECT doc_id, ph FROM sig WHERE doc_id % 19 = 0),
            corp AS (SELECT doc_id, ph FROM sig WHERE doc_id % 19 <> 0),
            hams AS (
              SELECT c.doc_id,
                CAST(bit_count(xor(c.ph, e.ph)) AS BIGINT) AS h
              FROM corp c CROSS JOIN eval e)
            SELECT doc_id,
              CAST(min(h) AS BIGINT) AS min_hamming,
              CAST(sum(CASE WHEN h <= 14 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_eval_matches,
              (min(h) <= 14) AS flagged
            FROM hams GROUP BY doc_id ORDER BY doc_id"""))

  // ------------------------------- media near-dup clusters (m12)
  /** m12: m06's pairwise verdicts closed into CLUSTERS — the d06→d27 move
    * on the perceptual-hash axis. A re-encoded image fans out into MANY
    * pairs (k copies → k(k−1)/2 rows); the curation decision ("keep one,
    * drop k−1") is per-cluster, and this is that grain: each connected
    * component of the m06 pair graph with its representative (component
    * min doc_id), size, edge count, and worst intra-cluster Hamming
    * distance (how loose the cluster is — a high max on a big cluster
    * flags a banding false-positive chain worth re-verifying).
    *
    * Scale shape: m06's banded self-join builds the edge list (pair
    * volume bucket-bounded, its scale story), then [[Dedup
    * .connectedComponents]]'s size-adaptive closure (LIMIT-probe driver
    * union-find under the bounded threshold, min-label propagation
    * above — d06's machinery verbatim) and two cluster-keyed aggregates.
    * Output = #clusters. Degenerates: no pairs → empty result. */
  def mediaNeardupClusters(media: Dataset[MediaRecord], maxDist: Int): DataFrame = {
    // SIGNATURE-grain pre-collapse (the d01-before-d02 move on the media
    // axis, and the reason this query beats running CC over m06's raw
    // pair set): identical payload signatures are hamming-0 cliques — at
    // 100× this corpus holds 500k docs but only ~25k distinct signatures,
    // and 14.4M of m06's 26.4M doc pairs are inside those cliques. Doc
    // components are EXACTLY sig components expanded (same-sig docs share
    // every band; a cross-sig edge multiplies out to all m_a·m_b doc
    // pairs), so cluster size, edge count, and worst Hamming reconstruct
    // arithmetically: size = Σm, edges = ΣC(m,2) within + Σ m_a·m_b
    // across, max = max cross Hamming (within edges are 0). The banded
    // quadratic now applies to distinct CONTENT, not to duplication —
    // the regime a 100 TB mirror-heavy media corpus is actually in.
    val sigGroups = mediaSignatures(media)
      .groupBy("ph").agg(count(lit(1)).as("m"), min("doc_id").as("min_doc"))
      .localCheckpoint()
    val chunkArr = array((0 until 4).map(c =>
      shiftrightunsigned(col("ph"), c * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val chunked = sigGroups.select(col("ph"), col("m"), col("min_doc"),
      posexplode(chunkArr).as(Seq("chunk", "ck")))
    val sigPairs = chunked.as("x")
      .join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.ck") === col("y.ck") &&
          col("x.min_doc") < col("y.min_doc"))
      .select(col("x.min_doc").as("a"), col("y.min_doc").as("b"),
        col("x.m").as("ma"), col("y.m").as("mb"),
        bit_count(col("x.ph").bitwiseXOR(col("y.ph"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .localCheckpoint()
    // Node id = the signature's min doc_id (unique per sig), so the
    // component min label IS the cluster representative doc.
    val labels = Dedup.connectedComponents(sigPairs.select(col("a"), col("b")))
    val nodes = sigGroups
      .join(labels.withColumnRenamed("doc_id", "min_doc")
          .withColumnRenamed("label", "cc_label"),
        Seq("min_doc"), "left")
      // a sig is in the pair graph iff it self-cliques (m ≥ 2) or carries
      // a cross edge; isolated unique payloads produce no cluster row.
      .filter(col("m") >= 2 || col("cc_label").isNotNull)
      .withColumn("label", coalesce(col("cc_label"), col("min_doc")))
    val bySize = nodes.groupBy("label").agg(
      sum("m").as("cluster_size"),
      sum(expr("(m * (m - 1)) div 2")).as("within_edges"))
    val cross = sigPairs
      .join(labels.withColumnRenamed("doc_id", "a")
          .withColumnRenamed("label", "clabel"), Seq("a"))
      .groupBy("clabel").agg(
        sum(col("ma") * col("mb")).as("cross_edges"),
        max("hamming").as("cross_max"))
    bySize.join(cross, col("label") === col("clabel"), "left")
      .select(col("label").as("cluster_rep"), col("cluster_size"),
        (col("within_edges") + coalesce(col("cross_edges"), lit(0L))).as("n_edges"),
        coalesce(col("cross_max"), lit(0L)).as("max_edge_hamming"))
  }

  val mediaClusters = Q(
    "m12_media_neardup_clusters",
    (s, d) => mediaNeardupClusters(mediaTable(s, d), 14),
    Some(s"""WITH RECURSIVE $phashPairCtes,
            ep AS (SELECT a, b, hamming FROM pairs WHERE hamming <= 14),
            edges AS (SELECT a, b FROM ep UNION ALL SELECT b, a FROM ep),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
            labels AS (
              SELECT a AS doc_id, min(b) AS label
              FROM (SELECT a, b FROM reach UNION ALL SELECT DISTINCT a, a FROM edges)
              GROUP BY a),
            cl AS (SELECT label, CAST(count(*) AS BIGINT) AS cluster_size
                   FROM labels GROUP BY label),
            es AS (SELECT l.label, p.hamming
                   FROM ep p JOIN labels l ON l.doc_id = p.a)
            SELECT c.label AS cluster_rep, c.cluster_size,
              CAST(count(*) AS BIGINT) AS n_edges,
              CAST(max(e.hamming) AS BIGINT) AS max_edge_hamming
            FROM cl c JOIN es e ON e.label = c.label
            GROUP BY c.label, c.cluster_size
            ORDER BY cluster_rep"""))

  /** m13: pre-decode payload entropy gate — the cheapest corruption/
    * degenerate-asset detector a media pipeline runs BEFORE spending
    * codec time: a blank frame, a solid-color image, a silence-only
    * clip, or a truncated/zero-filled payload all collapse to a near-
    * single-symbol byte stream, while healthy compressed or natural
    * content keeps a broad symbol distribution. Per asset: payload size,
    * distinct symbol count, Shannon entropy over the normalized symbol
    * alphabet (nats), and a `flat_payload` flag for the corpus's 50
    * flattest assets (the bounded review queue for the decode stage;
    * min-over-LIMIT-50 cutoff, the sanctioned global-window
    * replacement). Symbols are the payload's lowercased [a-z0-9 ]
    * characters so both engines see the identical alphabet whatever the
    * encoding of the bytes outside it (surrogate-pair vs codepoint
    * splitting differences can never reach the histogram).
    *
    * EXACT parity: per-symbol ln terms are quantized to micro-nats
    * (floor(c·ln c·1e6 + 0.5) BIGINT) BEFORE the per-doc sum — the sum
    * is exact under any partial-aggregation order (t29/t40's integer-
    * units rule); H = ln n − Σ/(n·1e6) is then one deterministic double
    * expression, compared and output at micro precision.
    *
    * Scale shape: one symbol explode (rows ∝ payload bytes — m05's
    * frame-explode band) into a (doc, symbol)-keyed aggregate with
    * map-side combine (≤ 37 symbol rows per doc survive), a doc-keyed
    * rollup, and the allowlisted 1-row cutoff crossJoin. Linear in
    * payload volume; nothing global except the 50-row cutoff. */
  def payloadEntropy(media: Dataset[MediaRecord]): DataFrame = {
    val base = entropyBase(media)
    val cutoff = base.orderBy(col("entropy_micro"), col("doc_id")).limit(50)
      .agg(max("entropy_micro").as("cut"))
    base.crossJoin(cutoff)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("n_symbols"),
        round(col("entropy_micro").cast("double") / 1e6, 6).as("entropy"),
        (col("entropy_micro") <= col("cut")).as("flat_payload"))
  }

  /** m13's doc-grain half: (doc_id, media_type, n_bytes, n_symbols,
    * entropy_micro) for every asset, entropy in exact micro-nats. Shared
    * by the batch query (which attaches the 50-flattest cutoff) and by
    * [[payloadEntropyCutoff]] (which freezes that cutoff for the
    * streaming gate). */
  private[graft] def entropyBase(media: Dataset[MediaRecord]): DataFrame =
    // One codegen'd byte scan per payload into a 37-bin histogram
    // ([[graft.functions.AsciiSymHist]]), then map-side higher-order
    // arithmetic — the earlier per-character explode shipped a row per
    // payload byte through a (doc, symbol) shuffle (250M rows at the 100×
    // rehearsal, the doc wave's top leg) and joined the doc grain back;
    // this shape has NO exchange at all before the caller's rollup.
    // Arithmetic is bin-for-bin identical: c·ln(c) micro-nat terms are
    // summed over the same 37-symbol alphabet (c = 1 contributes
    // floor(0.5) = 0, c = 0 bins are excluded exactly as absent
    // (doc, sym) rows were), and a payload with no matching symbols gets
    // (0, 0) exactly as the old left join's coalesce did.
    media.toDF()
      .select(col("doc_id"), col("media_type"),
        octet_length(col("payload")).cast("long").as("n_bytes"),
        expr("ascii_sym_hist(lower(cast(payload as string)))").as("h"))
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        expr("cast(size(filter(h, c -> c > 0)) as bigint)").as("n_symbols"),
        expr("aggregate(h, 0L, (a, c) -> a + c)").as("n"),
        expr("""aggregate(h, 0L, (a, c) -> a + IF(c > 0,
               cast(floor(cast(c as double) * ln(cast(c as double)) * 1e6 + 0.5) as bigint),
               0L))""").as("term_micro"))
      .select(col("doc_id"), col("media_type"), col("n_bytes"), col("n_symbols"),
        when(col("n") > 0L,
          floor((log(col("n").cast("double"))
            - col("term_micro").cast("double") / (col("n").cast("double") * 1e6))
            * 1e6 + 0.5).cast("long"))
          .otherwise(lit(0L)).as("entropy_micro"))

  /** The frozen review-queue cutoff for the streaming entropy gate: the
    * max entropy_micro among the resident corpus's 50 flattest assets —
    * exactly the bound batch m13 attaches by its 1-row crossJoin, read
    * out once (a 1-row collect, the [[graft.streaming.VectorStreams]]
    * frozen-centroid convention). An EMPTY resident corpus (the first
    * deployment day) returns −1: entropy_micro is always ≥ 0, so nothing
    * is flagged until a corpus exists to define "flat", mirroring
    * cartographyGate's UNASSIGNED day-one stance. */
  def payloadEntropyCutoff(media: Dataset[MediaRecord]): Long = {
    val r = entropyBase(media)
      .orderBy(col("entropy_micro"), col("doc_id")).limit(50)
      .agg(max("entropy_micro")).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** m13's entropy-score CTEs (doc-grain micro-nats + the 50-flattest
    * cutoff), factored so m14's pipeline oracle closes over the SAME
    * score and flag definition. */
  private val entropyCtes =
    """ch AS (
              SELECT doc_id, unnest(list_filter(
                string_split(lower(text), ''),
                c -> c SIMILAR TO '[a-z0-9 ]')) AS sym
              FROM documents),
            ps AS (
              SELECT doc_id, sym, CAST(count(*) AS BIGINT) AS c
              FROM ch GROUP BY doc_id, sym),
            pd AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_symbols,
                CAST(sum(c) AS BIGINT) AS n,
                CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                  * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS term_micro
              FROM ps GROUP BY doc_id),
            base AS (
              SELECT d.doc_id, 'image/stub' AS media_type,
                CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
                CAST(coalesce(p.n_symbols, 0) AS BIGINT) AS n_symbols,
                CAST(coalesce(CAST(floor((ln(CAST(p.n AS DOUBLE))
                  - CAST(p.term_micro AS DOUBLE) / (CAST(p.n AS DOUBLE) * 1e6))
                  * 1e6 + 0.5) AS BIGINT), 0) AS BIGINT) AS entropy_micro
              FROM documents d LEFT JOIN pd p ON p.doc_id = d.doc_id),
            cut AS (
              SELECT max(entropy_micro) AS cut FROM (
                SELECT entropy_micro FROM base
                ORDER BY entropy_micro, doc_id LIMIT 50))"""

  val payloadEntropyQ = Q(
    "m13_payload_entropy",
    (s, d) => payloadEntropy(mediaTable(s, d)),
    Some(s"""WITH $entropyCtes
            SELECT doc_id, media_type, n_bytes, n_symbols,
              round(CAST(entropy_micro AS DOUBLE) / 1e6, 6) AS entropy,
              entropy_micro <= (SELECT cut FROM cut) AS flat_payload
            FROM base ORDER BY doc_id"""))

  // ------------------------------- composed media pipeline (m14)
  /** m14: the composed at-rest media pipeline — gate → dedup → pack in
    * ONE manifest, the media-axis twin of p01's text pipeline. Per
    * asset: the m13 entropy verdict (flat payloads never reach the
    * codec), the m06 near-dup verdict (the b side of any verified pair
    * is the duplicate — keep-lowest, d02's rule on the perceptual
    * axis), the composed `kept` bit, and — for survivors only — the
    * m09 shard slot, packed over the SURVIVING byte stream (the slot an
    * asset gets after curation is not the slot it had before: dropping
    * a flat or duplicate payload closes its gap, which is the point of
    * repacking). Dropped assets carry NULL slots; the row stays, because
    * the manifest must also answer "where did this asset GO".
    *
    * Composition contract (the p13 additive-legs stance): the three
    * legs share one media scan and meet only at doc-keyed joins — the
    * entropy explode (linear in payload bytes), the banded signature
    * self-join (m06's band, never all-pairs), and the per-writer prefix
    * scan (m09's two-phase machinery) never multiply into each other.
    * One allowlisted 1-row cutoff attachment (m13's). Verdicts are
    * checkpointed: the kept slice and the final join would otherwise
    * each re-run the entropy + dedup legs. */
  def mediaPipeline(media: Dataset[MediaRecord], maxDist: Int = 14,
      shardBytes: Long = 4096L): DataFrame = {
    import media.sparkSession.implicits._
    val ent = entropyBase(media)
    val cutoff = ent.orderBy(col("entropy_micro"), col("doc_id")).limit(50)
      .agg(max("entropy_micro").as("cut"))
    val dups = mediaNeardupPairs(media, maxDist)
      .select(col("b").as("doc_id")).distinct()
      .withColumn("dup", lit(true))
    val verdicts = ent.crossJoin(cutoff)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        (col("entropy_micro") <= col("cut")).as("flat_payload"))
      .join(dups, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("dup"), lit(false)))
      .withColumn("kept", !col("flat_payload") && !col("is_dup"))
      .select("doc_id", "media_type", "n_bytes", "flat_payload", "is_dup", "kept")
      .localCheckpoint()
    val keptMedia = media.toDF()
      .join(verdicts.filter(col("kept")).select("doc_id"), Seq("doc_id"), "left_semi")
      .as[MediaRecord]
    verdicts
      .join(shardManifest(keptMedia, shardBytes)
          .select("doc_id", "shard_first", "shard_last", "offset_in_shard",
            "n_shards"),
        Seq("doc_id"), "left")
  }

  val mediaPipelineQ = Q(
    "m14_media_pipeline",
    (s, d) => mediaPipeline(mediaTable(s, d)),
    Some(s"""WITH $entropyCtes,
            $phashPairCtes,
            dup AS (SELECT DISTINCT b AS doc_id FROM pairs WHERE hamming <= 14),
            verdicts AS (
              SELECT base.doc_id, media_type, n_bytes,
                entropy_micro <= (SELECT cut FROM cut) AS flat_payload,
                (dup.doc_id IS NOT NULL) AS is_dup,
                (NOT entropy_micro <= (SELECT cut FROM cut)
                 AND dup.doc_id IS NULL) AS kept
              FROM base LEFT JOIN dup ON dup.doc_id = base.doc_id),
            cum AS (
              SELECT doc_id, media_type, n_bytes,
                sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_bytes
              FROM verdicts WHERE kept AND n_bytes > 0),
            slots AS (
              SELECT doc_id,
                CAST((cum_bytes - n_bytes) // 4096 AS BIGINT) AS shard_first,
                CAST((cum_bytes - 1) // 4096 AS BIGINT) AS shard_last,
                CAST((cum_bytes - n_bytes) % 4096 AS BIGINT) AS offset_in_shard,
                CAST((cum_bytes - 1) // 4096
                     - (cum_bytes - n_bytes) // 4096 + 1 AS BIGINT) AS n_shards
              FROM cum)
            SELECT v.doc_id, v.media_type, v.n_bytes, v.flat_payload,
              v.is_dup, v.kept,
              s.shard_first, s.shard_last, s.offset_in_shard, s.n_shards
            FROM verdicts v LEFT JOIN slots s ON s.doc_id = v.doc_id
            ORDER BY v.doc_id"""))

  // ---------------------------------- interleaved sample packing (m15)
  /** m15: interleaved multimodal sample packing — the OBELICS/MMC4-style
    * training layout: each document becomes ONE sample holding its text
    * tokens followed by a fixed `slotTokens`-position media placeholder
    * (the token budget an image occupies after the vision encoder),
    * packed greedily into fixed `window`-token training windows, then
    * rolled up to the WINDOW axis: samples touching each window, text vs
    * media token occupancy, the media fraction, and the fill ratio.
    * t17 packs pure text and m09 packs raw bytes; this is the layout a
    * multimodal loader actually reads, and the per-window media_frac is
    * the batch-composition audit that catches "this shard's windows are
    * 80% image slots" BEFORE a training run destabilizes on it.
    *
    * The within-sample layout is pinned (text first, then the media
    * slot), so each sample contributes up to two disjoint [start, end)
    * token intervals and per-window occupancy is m10's pure interval
    * arithmetic on the interleaved token axis — tokens land in windows
    * deterministically, with straddling samples split exactly.
    *
    * Scale shape: one doc-grain scan, the t17/m09 two-phase
    * range-partitioned prefix scan (never a global window), a ≤
    * 2·⌈sample/window⌉-row explode per sample, and one window-keyed
    * aggregate with map-side partials — output ∝ total tokens / window.
    * Documents with no tokens AND no payload bytes pack nothing and are
    * dropped before the cursor (the t17 rule). */
  def interleavePack(docs: DataFrame, window: Long = 2048L,
      slotTokens: Long = 64L): DataFrame = {
    import graft.functions.TextFns
    val perDoc = docs
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("text_tokens"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .withColumn("media_tokens",
        when(col("n_bytes") > 0, lit(slotTokens)).otherwise(lit(0L)))
      .withColumn("sample_tokens", col("text_tokens") + col("media_tokens"))
      .filter(col("sample_tokens") > 0)
      .select("doc_id", "text_tokens", "media_tokens", "sample_tokens")
    // doc_id is unique, so carrying the per-modality sizes as secondary
    // order columns keeps them through the scan without a join-back.
    val cum = TextOps.prefixSummedBy(perDoc,
      Seq("doc_id", "text_tokens", "media_tokens"), "sample_tokens", "cum")
    val spans = cum
      .withColumn("start", col("cum") - col("sample_tokens"))
      .select(col("doc_id"), explode(array(
        struct(lit("text").as("modality"), col("start").as("s"),
          (col("start") + col("text_tokens")).as("e")),
        struct(lit("media").as("modality"),
          (col("cum") - col("media_tokens")).as("s"), col("cum").as("e"))))
        .as("sp"))
      .select(col("doc_id"), col("sp.modality").as("modality"),
        col("sp.s").as("s"), col("sp.e").as("e"))
      .filter(col("e") > col("s"))
    spans
      .select(col("doc_id"), col("modality"), col("s"), col("e"),
        explode(sequence(expr(s"s div $window"), expr(s"(e - 1) div $window")))
          .as("w"))
      .withColumn("in_w",
        least(col("e"), (col("w") + 1) * lit(window)) -
          greatest(col("s"), col("w") * lit(window)))
      .groupBy("w")
      .agg(countDistinct("doc_id").as("n_samples"),
        sum(when(col("modality") === "text", col("in_w")).otherwise(0L))
          .as("text_tokens"),
        sum(when(col("modality") === "media", col("in_w")).otherwise(0L))
          .as("media_tokens"))
      .select(col("w").as("window_id"), col("n_samples"),
        col("text_tokens"), col("media_tokens"),
        round(col("media_tokens").cast("double") /
          (col("text_tokens") + col("media_tokens")).cast("double"), 6)
          .as("media_frac"),
        round((col("text_tokens") + col("media_tokens")).cast("double") /
          lit(window.toDouble), 6).as("fill_ratio"))
  }

  val interleavePackQ = Q(
    "m15_interleave_pack",
    (s, d) => interleavePack(Tables.documents(s, d)),
    Some("""WITH sizes AS (
              SELECT doc_id,
                CAST(len(list_filter(
                  regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS BIGINT) AS text_tokens,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
              FROM documents),
            samp AS (
              SELECT doc_id, text_tokens,
                CAST(CASE WHEN n_bytes > 0 THEN 64 ELSE 0 END AS BIGINT)
                  AS media_tokens,
                text_tokens + CASE WHEN n_bytes > 0 THEN 64 ELSE 0 END
                  AS sample_tokens
              FROM sizes),
            cum AS (
              SELECT doc_id, text_tokens, media_tokens, sample_tokens,
                CAST(sum(sample_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
              FROM samp WHERE sample_tokens > 0),
            spans AS (
              SELECT doc_id, 'text' AS modality,
                cum - sample_tokens AS s,
                cum - sample_tokens + text_tokens AS e
              FROM cum
              UNION ALL
              SELECT doc_id, 'media', cum - media_tokens, cum FROM cum),
            nz AS (SELECT * FROM spans WHERE e > s),
            per AS (
              SELECT doc_id, modality, CAST(r.w AS BIGINT) AS w,
                least(e, (r.w + 1) * 2048) - greatest(s, r.w * 2048) AS in_w
              FROM nz, UNNEST(range(s // 2048, (e - 1) // 2048 + 1)) AS r(w))
            SELECT w AS window_id,
              CAST(count(DISTINCT doc_id) AS BIGINT) AS n_samples,
              CAST(sum(CASE WHEN modality = 'text' THEN in_w ELSE 0 END)
                AS BIGINT) AS text_tokens,
              CAST(sum(CASE WHEN modality = 'media' THEN in_w ELSE 0 END)
                AS BIGINT) AS media_tokens,
              round(CAST(sum(CASE WHEN modality = 'media' THEN in_w ELSE 0 END)
                  AS DOUBLE) / CAST(sum(in_w) AS DOUBLE), 6) AS media_frac,
              round(CAST(sum(in_w) AS DOUBLE) / 2048.0, 6) AS fill_ratio
            FROM per GROUP BY w ORDER BY window_id"""))

  // ------------------------------- media dedup reclaim (m16)
  /** m16: exact media-payload dedup reclaim per source — what a
    * content-addressed store saves. Every payload is fingerprinted
    * byte-exact (md5 over the RAW bytes — the media grain, unlike
    * d01/d31's normalized-text grain: two media blobs either match
    * bit-for-bit or they don't), each distinct payload is stored once
    * globally and attributed to its min-doc_id keeper (d31's keeper
    * convention), and the per-source rollup reports raw vs stored bytes
    * and the reclaimed fraction — the "how much object storage does
    * dedup buy, and which feed pays for the duplication" capacity-
    * planning row next to d24's document-count inflation.
    *
    * Scale shape: one (fp, source)-keyed aggregate with map-side partials
    * (replacing the earlier fp window — the counts table is the view
    * algebra's state, see below), one fp-keyed keeper argmin over that
    * (≪ media rows) table, one ≤ #sources close.
    *
    * The query is expressed as `reclaimFromCounts(reclaimCounts(...))` —
    * a (partial, close) pair over an ASSOCIATIVE state table — so the
    * maintained streaming view ([[graft.streaming.ViewStreams
    * .maintainReclaimView]]) is the literal same code folded per
    * micro-batch: drift between batch m16 and the view has nowhere to
    * live. */
  val mediaDedupReclaim = Q(
    "m16_media_dedup_reclaim",
    (s, d) => reclaimFromCounts(reclaimCounts(
      mediaTable(s, d).toDF()
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id"))),
    Some("""WITH fp AS (
              SELECT doc_id, source, md5(text) AS fp,
                CAST(octet_length(encode(text)) AS BIGINT) AS nb
              FROM documents),
            k AS (
              SELECT doc_id, source, nb,
                min(doc_id) OVER (PARTITION BY fp) AS keep_id
              FROM fp),
            agg AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_media,
                CAST(sum(nb) AS BIGINT) AS bytes_raw,
                CAST(sum(CASE WHEN doc_id = keep_id THEN nb ELSE 0 END)
                  AS BIGINT) AS bytes_stored
              FROM k GROUP BY source)
            SELECT source, n_media, bytes_raw, bytes_stored,
              round(1.0 - CAST(bytes_stored AS DOUBLE)
                / CAST(bytes_raw AS DOUBLE), 6) AS reclaim_frac
            FROM agg ORDER BY source"""))

  /** m16's state algebra, partial half: fold (doc_id, source, payload)
    * rows to the (fp, source) grain — doc count, min doc_id, and the
    * payload byte size (constant per fp: equal md5 ⇒ equal bytes at the
    * operator's content-addressing grain). ASSOCIATIVE + COMMUTATIVE on
    * exact types (counts add, mins fold, nb is idempotent), so any
    * micro-batch slicing merges to the full recompute — the q43 contract
    * that lets the maintained view ride the generation protocol. Keeper
    * MIGRATION is what the grain buys: when a later batch delivers a
    * lower doc_id for a known fp, the merged min_doc moves and the close
    * re-attributes that fp's stored bytes to the new keeper's source —
    * no stored per-source bytes ever have to be "un-counted" because
    * attribution happens at close, not in state. */
  def reclaimCounts(rows: DataFrame): DataFrame =
    rows.select(col("doc_id"), col("source"), md5(col("payload")).as("fp"),
        octet_length(col("payload")).cast("long").as("nb"))
      .groupBy("fp", "source")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"),
        min("nb").as("nb"))

  /** m16's close: per-source raw sums from the counts table, keeper
    * attribution via one fp-keyed `min_by` argmin (the min-doc_id keeper
    * convention), left-joined so a source holding media but no keepers
    * reports bytes_stored = 0. */
  def reclaimFromCounts(st: DataFrame): DataFrame = {
    val perSource = st.groupBy("source").agg(
      sum("n_docs").as("n_media"),
      sum(col("n_docs") * col("nb")).as("bytes_raw"))
    val stored = st.groupBy("fp")
      .agg(expr("min_by(named_struct('source', source, 'nb', nb), min_doc)").as("k"))
      .groupBy(col("k.source").as("source"))
      .agg(sum(col("k.nb")).as("bytes_stored"))
    perSource.join(stored, Seq("source"), "left")
      .select(col("source"), col("n_media"), col("bytes_raw"),
        coalesce(col("bytes_stored"), lit(0L)).as("bytes_stored"),
        round(lit(1.0) - coalesce(col("bytes_stored"), lit(0L)).cast("double") /
          col("bytes_raw").cast("double"), 6).as("reclaim_frac"))
  }

  // ------------------------------- symbol-class source profile (m17)
  /** m17: per-source symbol-class profile over raw payloads — letter /
    * digit / space mass and the letter fraction, the pre-decode feed
    * audit next to m13's per-asset entropy gate ("which feed ships
    * text-like payloads, which ships numeric dumps"). Runs on
    * [[graft.functions.AsciiSymHist]]: ONE codegen'd byte scan per
    * payload into a 37-bin histogram, class masses as higher-order
    * slices of it — no per-character explode, no symbol shuffle; the
    * only exchange is the ≤ #sources rollup with map-side partials.
    * Exact integer masses, so the only rounded column is the final
    * fraction (NULL on a symbol-free source in both engines). */
  val symbolProfile = Q(
    "m17_symbol_source_profile",
    (s, d) => symbolProfileFromCounts(symbolCounts(
      mediaTable(s, d).toDF()
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id"))),
    Some("""WITH ch AS (
              SELECT d.source, unnest(string_split(lower(d.text), '')) AS c
              FROM documents d),
            agg AS (
              SELECT source,
                CAST(sum(CASE WHEN c SIMILAR TO '[a-z]' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_letters,
                CAST(sum(CASE WHEN c SIMILAR TO '[0-9]' THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_digits,
                CAST(sum(CASE WHEN c = ' ' THEN 1 ELSE 0 END) AS BIGINT) AS n_spaces
              FROM ch GROUP BY source),
            nm AS (SELECT source, CAST(count(*) AS BIGINT) AS n_media
                   FROM documents GROUP BY source)
            SELECT n.source, n.n_media,
              CAST(coalesce(a.n_letters, 0) AS BIGINT) AS n_letters,
              CAST(coalesce(a.n_digits, 0) AS BIGINT) AS n_digits,
              CAST(coalesce(a.n_spaces, 0) AS BIGINT) AS n_spaces,
              round(CAST(coalesce(a.n_letters, 0) AS DOUBLE)
                / NULLIF(CAST(coalesce(a.n_letters, 0) + coalesce(a.n_digits, 0)
                              + coalesce(a.n_spaces, 0) AS DOUBLE), 0.0), 6)
                AS letter_frac
            FROM nm n LEFT JOIN agg a USING (source)
            ORDER BY n.source"""))

  /** m17's state algebra, partial half: fold (source, payload) rows to
    * per-source symbol-class sums — plain associative BIGINTs (the
    * simplest state any maintained view here carries), so the streamed
    * view and batch m17 are the same code (the m16/q43 contract). */
  def symbolCounts(rows: DataFrame): DataFrame =
    rows
      .select(col("source"),
        expr("ascii_sym_hist(lower(cast(payload as string)))").as("h"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_media"),
        sum(expr("aggregate(slice(h, 1, 26), 0L, (a, c) -> a + c)")).as("n_letters"),
        sum(expr("aggregate(slice(h, 27, 10), 0L, (a, c) -> a + c)")).as("n_digits"),
        sum(expr("element_at(h, 37)")).as("n_spaces"))

  /** m17's close: the letter fraction over the summed masses. */
  def symbolProfileFromCounts(st: DataFrame): DataFrame =
    st.select(col("source"), col("n_media"), col("n_letters"),
        col("n_digits"), col("n_spaces"),
        round(graft.functions.TextFns.safeFrac(
          col("n_letters"),
          col("n_letters") + col("n_digits") + col("n_spaces")), 6)
          .as("letter_frac"))

  val all: Seq[Q] =
    Seq(mediaMeta, mediaFeatures, frameSample, mediaResize, frameEnergy, mediaNeardup,
      scenes, voiced, shardManifestQ, shardFillQ, mediaDecontam, mediaClusters,
      payloadEntropyQ, mediaPipelineQ, interleavePackQ, mediaDedupReclaim,
      symbolProfile)
}
