package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Deterministic sampling for training-data pipelines.
  *
  * Random sampling (`df.sample`) is irreproducible across runs, engines and
  * partition layouts — unacceptable when a 100 TB corpus snapshot must be
  * re-derivable. These operators sample by **content hash**: a row is kept
  * iff `md5(key) mod 100 < rate`, so the decision is a pure function of the
  * key — stable under re-partitioning, retries, incremental re-runs, and
  * reproducible in any engine with md5 (the DuckDB oracles compute the
  * identical buckets). Both are map-only (no shuffle, no RNG state); the
  * filter sits directly on the scan.
  *
  * The md5-bucket idea is the same routing primitive the reference uses for
  * shuffle partitioning (reference `mapreduce/worker/__main__.py:62-65`),
  * reused here as a sampling decision.
  */
object Sampling {

  /** `md5(key) mod 100` via the first 8 hex digits (32 bits is plenty for a
    * percentage decision; full-digest mod would need BigInt in both engines). */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long") % 100

  private val bucketSql =
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"

  /** Uniform 10% deterministic Bernoulli sample of documents. */
  val hashSample = Q(
    "q23_hash_sample",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", hashBucket(col("doc_id")))
        .filter(col("bucket") < 10)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bucket")),
    Some(s"""SELECT doc_id, lang, n_chars, $bucketSql AS bucket
             FROM documents
             WHERE $bucketSql < 10
             ORDER BY doc_id"""))

  /** Stratified sample: downsample the majority class (en → 25%), keep most
    * of the rest (→ 80%) — the class-rebalancing step of a training-mix
    * pipeline. Per-stratum rate is a CASE over the same hash bucket, so the
    * plan stays a single map-only filter (no per-group pass, no shuffle). */
  val stratifiedSample = Q(
    "q24_stratified_sample",
    (s, d) =>
      Tables.documents(s, d)
        .withColumn("bucket", hashBucket(col("doc_id")))
        .filter(col("bucket") <
          when(col("lang") === "en", lit(25)).otherwise(lit(80)))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled")),
    Some(s"""SELECT lang, count(*) AS n_sampled
             FROM documents
             WHERE $bucketSql < CASE WHEN lang = 'en' THEN 25 ELSE 80 END
             GROUP BY lang
             ORDER BY lang"""))

  /** Weighted corpus mixing — the "data mix" step before pretraining:
    * per-domain target weights both above and below 1 (upsample src0 2.5×,
    * downsample src1 to 0.3×, keep the rest). A doc with weight w emits
    * floor(w) full copies plus one more iff its hash bucket falls under the
    * fractional part — deterministic replication, no RNG, map-only
    * (`explode(sequence(...))` is a per-row flatMap; no shuffle until the
    * audit aggregate). `copy_id` makes replicas first-class rows — exactly
    * what a downstream shuffle/tokenize stage consumes.
    *
    * Output here is the per-source audit (emitted rows vs originals); the
    * row-level stream is the same plan minus the final aggregate.
    */
  val weightedMix = Q(
    "q28_weighted_mix",
    (s, d) => {
      // Weights expressed as (whole copies, fractional percent) integer
      // pairs — src0 ⇒ 2.5×, src1 ⇒ 0.3×, rest 1.0× — so the fractional
      // keep decision compares integers on both engines (a double
      // `(w - floor(w)) * 100` would put 0.3 at 30.000000000000004 here
      // and exactly 30.0 in DuckDB's DECIMAL — off-by-one at the bucket
      // boundary).
      val whole = when(col("source") === "src0", lit(2))
        .when(col("source") === "src1", lit(0))
        .otherwise(lit(1))
      val fracPct = when(col("source") === "src0", lit(50))
        .when(col("source") === "src1", lit(30))
        .otherwise(lit(0))
      val copies = whole +
        when(hashBucket(col("doc_id")) < fracPct, lit(1)).otherwise(lit(0))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), copies.cast("int").as("n_copies"))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0), col("n_copies") - 1)).as("copy_id"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_emitted"),
          count_distinct(col("doc_id")).as("n_docs"))
    },
    Some(s"""WITH weighted AS (
              SELECT doc_id, source,
                CASE WHEN source = 'src0' THEN 2
                     WHEN source = 'src1' THEN 0
                     ELSE 1 END AS whole,
                CASE WHEN source = 'src0' THEN 50
                     WHEN source = 'src1' THEN 30
                     ELSE 0 END AS frac_pct,
                $bucketSql AS bucket
              FROM documents),
            copies AS (
              SELECT doc_id, source,
                whole + CASE WHEN bucket < frac_pct THEN 1 ELSE 0 END AS n_copies
              FROM weighted),
            emitted AS (
              SELECT doc_id, source, unnest(range(0, n_copies)) AS copy_id
              FROM copies WHERE n_copies > 0)
            SELECT source, count(*) AS n_emitted,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM emitted
            GROUP BY source
            ORDER BY source"""))

  /** Temperature-balanced source mixing (mT5 / multilingual-pretraining
    * style, α = 0.5): sampling rates are DERIVED FROM MEASURED corpus
    * statistics instead of q28's fixed weight table — sample source s at
    * rate √(n_min / n_s) of its token mass, so over-represented sources
    * are suppressed toward the α-tempered distribution p_s ∝ n_s^0.5
    * while the smallest source passes through whole. Two keyed aggs
    * (per-source token totals → rate table, source-count-sized) and one
    * rate join the optimizer broadcasts on its own (d09's no-hint rule);
    * the per-doc keep decision is the same md5-bucket device as
    * q23/q28 at 10⁻⁶ granularity — deterministic, partition-invariant,
    * re-derivable.
    *
    * α = 0.5 is deliberately √: IEEE sqrt and division are correctly
    * rounded in BOTH engines, so `cut = floor(√(n_min/n_s)·10⁶)` is
    * bit-identical to the DuckDB oracle with NO fp boundary (a general
    * `pow(x, α)` is not correctly rounded and could disagree in the last
    * ulp exactly at a bucket cutoff). The audit emits per-source docs,
    * token mass, the applied rate, and how many docs the tempered
    * sample kept.
    */
  val temperatureMix = Q(
    "q31_temperature_mix",
    (s, d) => {
      import graft.functions.TextFns.tokens
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_toks"))
      val totals = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("src_tokens"))
      val mn = totals.agg(min("src_tokens").as("min_tokens"))
      val rates = totals.crossJoin(mn)
        .withColumn("rate",
          sqrt(col("min_tokens").cast("double") / col("src_tokens").cast("double")))
        .withColumn("cut", floor(col("rate") * 1000000.0).cast("long"))
      val bucket1M =
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000L
      docs.join(rates, Seq("source"))
        .withColumn("sampled",
          when(bucket1M < col("cut"), 1L).otherwise(0L))
        .groupBy("source")
        .agg(
          first("n_docs").as("n_docs"),
          first("src_tokens").as("src_tokens"),
          round(first("rate"), 6).as("rate"),
          sum("sampled").as("n_sampled"))
    },
    Some("""WITH docs AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     t -> t <> '')) AS BIGINT) AS n_toks
              FROM documents),
            totals AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_toks) AS BIGINT) AS src_tokens
              FROM docs GROUP BY source),
            mn AS (SELECT min(src_tokens) AS min_tokens FROM totals),
            rates AS (
              SELECT source, n_docs, src_tokens,
                sqrt(CAST(min_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE)) AS rate,
                CAST(floor(sqrt(CAST(min_tokens AS DOUBLE) / CAST(src_tokens AS DOUBLE))
                           * 1000000.0) AS BIGINT) AS cut
              FROM totals, mn)
            SELECT source, n_docs, src_tokens,
              round(rate, 6) AS rate,
              CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                              % 1000000 < cut
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
            FROM docs d JOIN rates r USING (source)
            GROUP BY source, n_docs, src_tokens, rate
            ORDER BY source"""))

  /** Per-source document CAP (RefinedWeb/C4-style domain balancing): keep at
    * most K documents from any one source, chosen deterministically by
    * content-hash order — the anti-monoculture guard that stops one crawl
    * domain from dominating the mix. Rate-based sampling (q24/q31) scales a
    * source DOWN proportionally; a cap puts a hard CEILING on it, which is
    * what you want when a single domain is 10⁴× oversampled. Hash order
    * (not recency, not doc_id order) makes the kept set a uniform random-
    * looking but fully reproducible subset — stable under re-partitioning,
    * re-runs, and engine swaps.
    *
    * Scale shape: ONE source-keyed window shuffle (rank within source by
    * md5, then filter rank ≤ K). With web-scale key cardinality (millions
    * of domains) partitions balance; for a pathological hot domain the
    * hash order gives the standard refinement — rank ≤ K is equivalent to
    * "hash below the domain's K-th smallest hash", computable by a partial
    * per-source K-smallest aggregate + map-side filter, never a full sort
    * of the hot key. The shipped per-key window is the right plan until a
    * single key outgrows a partition.
    */
  val sourceCap = Q(
    "q35_source_cap",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string")).as("h"))
      val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      docs
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("doc_id"), col("source"), col("rank"))
    },
    Some("""SELECT doc_id, source, rank FROM (
              SELECT doc_id, source,
                CAST(row_number() OVER (PARTITION BY source
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rank
              FROM documents)
            WHERE rank <= 10 ORDER BY source, rank"""))

  val all: Seq[Q] =
    Seq(hashSample, stratifiedSample, weightedMix, temperatureMix, sourceCap)
}
