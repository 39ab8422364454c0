package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, SessionMemo}
import graft.functions.TextFns._
import graft.sources.Tables

/** The composed end-to-end curation pipeline — the artifact a
  * training-data run actually ships: every document's final disposition
  * after the quality gate (t20's rules), exact dedup among the gate's
  * survivors (d01's min-doc_id-per-fingerprint rule; with a
  * normalized-text fingerprint the gate features are whitespace-
  * insensitive, so exact copies always share gate status and the
  * gate/dedup order cannot flip a representative — stated here because a
  * NEAR-dup variant of this pipeline would not have that luxury), and
  * GPT-style sequence packing (t17's fixed-budget windows) over what
  * remains — the packing's token stream sees only docs that survived
  * BOTH stages. One query answers "what happened to doc X and where do
  * its tokens land" — the lineage record data-governance asks for.
  *
  * This is deliberately a COMPOSITION of the component operators'
  * semantics (same thresholds, same fingerprint, same budget), so the
  * component oracles and this oracle cross-check each other the way
  * d12's consensus oracle does.
  */
object Pipeline {

  /** Per-document disposition + packed window range.
    *
    * Output: `disposition` ∈ {dropped_quality, dropped_duplicate, kept};
    * kept docs carry the first/last `budget`-token training sequence ids
    * their tokens land in; dropped docs carry the `-1` sentinel (NOT
    * null: both engines then emit int64, which the driver's value hash
    * requires — the t17/HUGEINT lesson applied to nullable columns).
    *
    * Scale shape: the gate features are a map-only scan; dedup is ONE
    * fingerprint-keyed window (min kept doc_id per group — never a
    * self-join); the global token offset over survivors reuses t14's
    * two-phase range-partitioned prefix scan; the prefix result joins
    * back on doc_id (one keyed equi-join of two doc-keyed relations —
    * linear, AQE-planned). Nothing quadratic, no broadcast of anything
    * corpus-sized.
    */
  def corpusPipeline(docs: DataFrame, budget: Int = 512): DataFrame = {
    val toks = tokens(col("text"))
    val feats = docs
      .select(
        col("doc_id"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        stopwordHits(toks, stopwords("en")).cast("long").as("stop_hits"),
        charClassCount(lower(col("text")), "[a-z0-9]").cast("long").as("n_word_chars"))
      // safeFrac (not /): an empty or whitespace-only doc has n_tokens = 0
      // and ANSI `/` throws DIVIDE_BY_ZERO; NULL fracs keep gate_keep FALSE
      // via 3VL because the n_tokens >= 20 conjunct already failed.
      .withColumn("stop_frac", safeFrac(col("stop_hits"), col("n_tokens")))
      .withColumn("mean_tok_len", safeFrac(col("n_word_chars"), col("n_tokens")))
      .withColumn("gate_keep",
        col("n_tokens") >= 20 && col("n_tokens") <= 5000 &&
          col("stop_frac") >= 0.02 &&
          col("mean_tok_len") >= 3.0 && col("mean_tok_len") <= 10.0)
      .withColumn("fp", md5(normText(col("text"))))
    val dupRep = min(when(col("gate_keep"), col("doc_id")))
      .over(Window.partitionBy("fp"))
    val flagged = feats
      .withColumn("disposition",
        when(!col("gate_keep"), "dropped_quality")
          .when(col("doc_id") =!= dupRep, "dropped_duplicate")
          .otherwise("kept"))
      .select(col("doc_id"), col("disposition"), col("n_tokens"))
    val packed = TextOps.prefixSummed(
      flagged.select(
        col("doc_id"),
        when(col("disposition") === "kept", col("n_tokens")).otherwise(0L)
          .as("eff_tokens")),
      "eff_tokens", "cum_tokens")
    flagged.join(packed.select("doc_id", "cum_tokens"), "doc_id")
      .select(
        col("doc_id"), col("disposition"), col("n_tokens"),
        when(col("disposition") === "kept",
          expr(s"(cum_tokens - n_tokens) div $budget")).otherwise(-1L)
          .as("seq_first"),
        when(col("disposition") === "kept",
          expr(s"(cum_tokens - 1) div $budget")).otherwise(-1L)
          .as("seq_last"))
  }

  val pipeline = Q(
    "p01_corpus_pipeline",
    (s, d) => corpusPipeline(Tables.documents(s, d)),
    Some("""WITH f AS (
              SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
                     t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'you', 'that'))) AS BIGINT) AS stop_hits,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            g AS (
              SELECT doc_id, n_tokens, fp,
                (n_tokens >= 20 AND n_tokens <= 5000
                 AND CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 0.02
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 3.0
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) <= 10.0) AS gate_keep
              FROM f),
            r AS (
              SELECT doc_id, n_tokens, gate_keep,
                min(CASE WHEN gate_keep THEN doc_id END) OVER (PARTITION BY fp) AS dup_rep
              FROM g),
            disp AS (
              SELECT doc_id, n_tokens,
                CASE WHEN NOT gate_keep THEN 'dropped_quality'
                     WHEN doc_id <> dup_rep THEN 'dropped_duplicate'
                     ELSE 'kept' END AS disposition
              FROM r),
            cum AS (
              SELECT doc_id, disposition, n_tokens,
                sum(CASE WHEN disposition = 'kept' THEN n_tokens ELSE 0 END)
                  OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
              FROM disp)
            SELECT doc_id, disposition, n_tokens,
              CAST(CASE WHEN disposition = 'kept'
                        THEN (cum_tokens - n_tokens) // 512 ELSE -1 END AS BIGINT) AS seq_first,
              CAST(CASE WHEN disposition = 'kept'
                        THEN (cum_tokens - 1) // 512 ELSE -1 END AS BIGINT) AS seq_last
            FROM cum ORDER BY doc_id"""))

  /** The composed mix-assembly pipeline — the OTHER half of a training-data
    * run next to [[corpusPipeline]]'s curation: measure per-source token
    * mass, derive mT5-style α=0.5 temperature rates (q31's formula —
    * sqrt(min/n), IEEE-exact in both engines), make the deterministic
    * per-doc keep decision (md5-bucket vs the rate cut — reproducible at
    * any geometry and in any engine), and pack the sampled stream into
    * fixed-budget training sequences (t17's two-phase prefix scan).
    * One query answers "did doc X make the mix, at what rate, and where
    * do its tokens land" — the mix manifest a pretraining run ships.
    *
    * Same composition stance as p01/d12: the thresholds, bucket rule and
    * budget are the component operators' own, so q31's, t17's and this
    * oracle cross-check each other.
    *
    * Scale shape: token counts are a map-only scan; the rate table is
    * source-count-sized (crossJoin with a 1-row min — q31's allowlisted
    * bounded×1 shape); the keep decision is a map-side filter expression;
    * the prefix scan is range-partitioned two-phase (no global window —
    * PlanAudit enforces); the final join is doc-keyed linear. A zero-token
    * doc can't contribute to the mix, so it is never `sampled` (and both
    * engines agree without a null-handling corner).
    */
  def mixPipeline(docs: DataFrame, budget: Int = 512): DataFrame = {
    val toks = docs.select(
      col("doc_id"), col("source"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val totals = toks.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val mn = totals.agg(min("src_tokens").as("min_tokens"))
    val rates = totals.crossJoin(mn)
      // safeFrac: a source whose every doc is empty has src_tokens = 0 and
      // ANSI `/` throws; rate/cut go NULL and `sampled` stays FALSE for its
      // docs because the n_tokens > 0 conjunct already fails for all of them.
      .withColumn("rate", sqrt(safeFrac(col("min_tokens"), col("src_tokens"))))
      .withColumn("cut", floor(col("rate") * 1000000.0).cast("long"))
    val bucket1M =
      conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 1000000L
    val flagged = toks.join(rates.select("source", "rate", "cut"), Seq("source"))
      .withColumn("sampled", bucket1M < col("cut") && col("n_tokens") > 0L)
    val packed = TextOps.prefixSummed(
      flagged.select(
        col("doc_id"),
        when(col("sampled"), col("n_tokens")).otherwise(0L).as("eff_tokens")),
      "eff_tokens", "cum_tokens")
    flagged.join(packed.select("doc_id", "cum_tokens"), "doc_id")
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        round(col("rate"), 6).as("rate"), col("sampled"),
        when(col("sampled"), expr(s"(cum_tokens - n_tokens) div $budget"))
          .otherwise(-1L).as("seq_first"),
        when(col("sampled"), expr(s"(cum_tokens - 1) div $budget"))
          .otherwise(-1L).as("seq_last"))
  }

  val mix = Q(
    "p02_mix_pipeline",
    (s, d) => mixPipeline(Tables.documents(s, d)),
    Some("""WITH docs AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '')) AS BIGINT) AS n_tokens
              FROM documents),
            totals AS (
              SELECT source, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
              FROM docs GROUP BY source),
            mn AS (SELECT min(src_tokens) AS min_tokens FROM totals),
            rates AS (
              SELECT source,
                sqrt(CAST(min_tokens AS DOUBLE) / NULLIF(CAST(src_tokens AS DOUBLE), 0.0)) AS rate,
                CAST(floor(sqrt(CAST(min_tokens AS DOUBLE) / NULLIF(CAST(src_tokens AS DOUBLE), 0.0))
                           * 1000000.0) AS BIGINT) AS cut
              FROM totals, mn),
            flagged AS (
              SELECT d.doc_id, d.source, d.n_tokens, r.rate,
                (CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                   % 1000000 < r.cut
                 AND d.n_tokens > 0) AS sampled
              FROM docs d JOIN rates r USING (source)),
            cum AS (
              SELECT doc_id, source, n_tokens, rate, sampled,
                sum(CASE WHEN sampled THEN n_tokens ELSE 0 END)
                  OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
              FROM flagged)
            SELECT doc_id, source, n_tokens, round(rate, 6) AS rate, sampled,
              CAST(CASE WHEN sampled
                        THEN (cum_tokens - n_tokens) // 512 ELSE -1 END AS BIGINT) AS seq_first,
              CAST(CASE WHEN sampled
                        THEN (cum_tokens - 1) // 512 ELSE -1 END AS BIGINT) AS seq_last
            FROM cum ORDER BY doc_id"""))

  // ------------------------------------------------- p03: release audit
  /** The pre-release contamination-audit manifest — the composed
    * "is this corpus shippable" readout a training-data release runs
    * LAST, after curation: per corpus document, every contamination
    * modality's evidence side by side, with a WHY bitmask and the
    * releasable verdict. One held-out eval set (ids < nEval) drives both
    * detection modalities, so the report is coherent:
    *
    *  - token space (d09): shared 5-gram count vs the eval docs — catches
    *    verbatim benchmark leakage;
    *  - embedding space (d17): max cosine vs the eval vectors (0.0 when
    *    below threshold — never null, the p01 sentinel rule: both engines
    *    then emit plain doubles, which the driver's value hash requires) —
    *    catches paraphrased leakage tokens miss;
    *  - blocklist (t19): dictionary hit count — policy/PII terms.
    *
    * Flags: bit 0 token-contaminated, bit 1 semantically near an eval
    * item, bit 2 blocklist-dirty; `releasable` = no bits set. Bit 1 is
    * derived from the PRESENCE of a ≥-threshold semantic match (the sem
    * leg's left-join producing a row), NOT from `sem_cos > 0` — the 0.0
    * display sentinel and a legitimate non-positive cosine must not be
    * conflated, so the flag stays correct for any `semThreshold`
    * (including ≤ 0, where a real match can carry max_cos ≤ 0). Like p01/
    * p02 this is a COMPOSITION of the component operators (same
    * shingle hash, same scoring pass, same matcher), so
    * the component oracles and this oracle cross-check each other.
    *
    * Scale shape: the d09 leg rides the df-capped bipartite shingle
    * kernel (cost bounded at any eval size and df distribution; the
    * oracle mirrors the cap as d09's does); the d17 leg is SIZE-ADAPTIVE, mirroring
    * d17's own two paths — the map-only literal-inline scan while the
    * eval set fits the inline bound, switching to
    * [[Dedup.embeddingDecontaminateBucketed]] (cell-bucketed exact join,
    * spec-asserted identical output) above it, so a benchmark-scale eval
    * table never turns into a giant literal expression or a driver
    * collect; the t19 leg is a map-only regex scan; assembly left-joins
    * the (contamination-sized, tiny) evidence tables onto the doc-keyed
    * manifest — AQE broadcasts them; the corpus itself never shuffles
    * before the final sort. Linear in corpus bytes at any scale.
    */
  def releaseAudit(spark: org.apache.spark.sql.SparkSession, d: String,
      nEval: Int = 25, semThreshold: Double = 0.35, ngramN: Int = 5,
      terms: Seq[String] = Seq("customer", "supplier", "order"),
      inlineEvalBound: Int = 1024): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, d)
    val corpusDocs = docs.filter(col("doc_id") >= nEval)
    val evalDocs = docs.filter(col("doc_id") < nEval)
    // Token leg via the hs@n memo (round 16): row-identical to
    // decontaminate(corpusDocs, evalDocs, ngramN) — see
    // [[Dedup.decontaminateSplitAt]] — at memo-hit marginal cost.
    val tokHits = Dedup.decontaminateSplitAt(spark, d, nEval, ngramN)
      .select(col("doc_id"), col("n_shared_ngrams"))
    val e = Tables.embeddings(spark, d)
    // Semantic leg via the d17 evidence memo (round 16): p03 previously
    // ran the identical 25-literal scoring scan d17 had already paid for.
    // The bucketed path (eval too large to literal-inline) is unchanged.
    val semScores =
      if (nEval <= inlineEvalBound)
        Dedup.corpusSemContam(spark, d, nEval, semThreshold)
      else
        Dedup.embeddingDecontaminateBucketed(e, nEval, semThreshold)._1
    val sem = semScores.select(col("vec_id").as("doc_id"), col("max_cos"))
    val scrub = TextOps.scrubTerms(corpusDocs, terms)
      .select(col("doc_id"), col("n_hits"))
    corpusDocs.select("doc_id")
      .join(tokHits, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .join(scrub, Seq("doc_id"))
      .select(
        col("doc_id"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("token_ngrams"),
        col("max_cos"),
        col("n_hits"))
      .withColumn("flags",
        when(col("token_ngrams") > 0L, 1L).otherwise(0L) +
          when(col("max_cos").isNotNull, 2L).otherwise(0L) +
          when(col("n_hits") > 0L, 4L).otherwise(0L))
      .select(col("doc_id"), col("token_ngrams"),
        coalesce(col("max_cos"), lit(0.0)).as("sem_cos"),
        col("n_hits"), col("flags"))
      .withColumn("releasable", col("flags") === 0L)
  }

  val audit = Q(
    "p03_release_audit",
    (s, d) => releaseAudit(s, d),
    Some(s"""WITH toks AS (
              SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '') AS ts
              FROM documents),
            sh AS (
              SELECT DISTINCT doc_id,
                ('0x' || substr(md5(list_aggregate(ts[i:i+4], 'string_agg', ' ')), 1, 15))::BIGINT AS sh_h
              FROM toks, UNNEST(range(1, len(ts) - 3)) r(i)
              WHERE len(ts) >= 5),
            evs AS (SELECT doc_id AS eval_doc, sh_h FROM sh WHERE doc_id < 25),
            csh AS (SELECT * FROM sh WHERE doc_id >= 25),
            dfq AS (SELECT sh_h, count(*) AS df FROM sh GROUP BY sh_h),
            tokpair AS (
              SELECT c.doc_id, e.eval_doc, count(*) AS n_shared,
                sum(CASE WHEN f.df <= ${Dedup.ShingleDfCap} THEN 1 ELSE 0 END) AS n_rare
              FROM csh c JOIN evs e ON e.sh_h = c.sh_h
                         JOIN dfq f ON f.sh_h = c.sh_h
              GROUP BY 1, 2),
            tok AS (
              SELECT doc_id, CAST(sum(n_shared) AS BIGINT) AS token_ngrams
              FROM tokpair WHERE n_rare > 0 GROUP BY doc_id),
            ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS ee
                   FROM embeddings WHERE vec_id < 25),
            cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce
                   FROM embeddings WHERE vec_id >= 25),
            sem AS (
              SELECT vec_id AS doc_id,
                     max(round(list_cosine_similarity(ce, ee), 6)) AS mc
              FROM cv CROSS JOIN ev GROUP BY vec_id),
            scrub AS (
              SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\\b(customer|supplier|order)\\b')) AS BIGINT) AS n_hits
              FROM documents WHERE doc_id >= 25),
            m AS (
              SELECT s.doc_id,
                CAST(coalesce(t.token_ngrams, 0) AS BIGINT) AS token_ngrams,
                coalesce(sem.mc >= 0.35, FALSE) AS sem_hit,
                CASE WHEN sem.mc >= 0.35 THEN sem.mc ELSE 0.0 END AS sem_cos,
                s.n_hits
              FROM scrub s
              LEFT JOIN tok t ON t.doc_id = s.doc_id
              LEFT JOIN sem ON sem.doc_id = s.doc_id)
            SELECT doc_id, token_ngrams, sem_cos, n_hits,
              CAST(CASE WHEN token_ngrams > 0 THEN 1 ELSE 0 END
                 + CASE WHEN sem_hit THEN 2 ELSE 0 END
                 + CASE WHEN n_hits > 0 THEN 4 ELSE 0 END AS BIGINT) AS flags,
              (token_ngrams = 0 AND NOT sem_hit AND n_hits = 0) AS releasable
            FROM m ORDER BY doc_id"""))

  // ------------------------------------------------ p04: epoch assembly
  /** p04: the epoch-assembly manifest — the last mile of a pretraining
    * data run, composing three shipped kernels IN TRAINING ORDER:
    * exact-dedup keep (d01's min-doc_id-per-fingerprint rule) → the
    * seeded epoch permutation (t33's md5 shuffle key) → fixed-budget
    * sequence packing (t17's rule) over the SHUFFLED order. The output
    * row per shipped doc — epoch order key, token count, first/last
    * training-sequence id — is the manifest a loader materializes an
    * epoch from: range-slice by sequence id, fetch the docs whose spans
    * intersect. Packing in shuffled order (not doc_id order) is the
    * point: sequence boundaries must fall where the TRAINING stream puts
    * them, so neighboring doc_ids land in unrelated sequences each epoch.
    *
    * Scale shape: dedup is one fingerprint-keyed window; the permutation
    * key is a per-row md5; the global token offset is [[TextOps
    * .prefixSummedBy]] over (shuffle_key, doc_id) order — the ONE range
    * exchange on a uniform key that replaces a global window. Nothing
    * here reads text twice and nothing is quadratic; same composition
    * stance as p01–p03 (component thresholds shared, so the component
    * oracles cross-check this one).
    */
  def epochAssembly(docs: DataFrame, seed: String = "epoch0",
      budget: Int = 512): DataFrame = {
    val rep = min(col("doc_id")).over(Window.partitionBy("fp"))
    val kept = docs
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("rep", rep)
      .filter(col("doc_id") === col("rep"))
    val keyed = kept.select(
      col("doc_id"),
      md5(concat_ws(":", lit(seed), col("doc_id").cast("string")))
        .as("shuffle_key"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    TextOps.prefixSummedBy(keyed, Seq("shuffle_key", "doc_id"),
        "n_tokens", "cum_tokens")
      .select(
        col("doc_id"), col("shuffle_key"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div $budget").as("seq_first"),
        expr(s"(cum_tokens - 1) div $budget").as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  val epoch = Q(
    "p04_epoch_assembly",
    (s, d) => epochAssembly(Tables.documents(s, d)),
    Some("""WITH fp AS (
              SELECT doc_id, text,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            keep AS (
              SELECT doc_id, text FROM (
                SELECT doc_id, text,
                  min(doc_id) OVER (PARTITION BY fp) AS rep
                FROM fp)
              WHERE doc_id = rep),
            tok AS (
              SELECT doc_id, md5('epoch0:' || doc_id) AS shuffle_key,
                len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> ''))::BIGINT AS n_tokens
              FROM keep),
            cum AS (
              SELECT doc_id, shuffle_key, n_tokens,
                sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
              FROM tok WHERE n_tokens > 0)
            SELECT doc_id, shuffle_key, n_tokens,
              CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS seq_first,
              CAST((cum_tokens - 1) // 512 AS BIGINT) AS seq_last,
              CAST((cum_tokens - 1) // 512
                   - (cum_tokens - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs
            FROM cum ORDER BY shuffle_key, doc_id"""))

  // --------------------------------------------- refresh manifest (p05)
  /** p05: the incremental corpus-refresh manifest — what a pipeline emits
    * when a new crawl WAVE lands on a packed RESIDENT corpus: accept only
    * wave documents that are (a) not exact duplicates of any resident
    * document and (b) the first of their fingerprint within the wave,
    * then pack the accepted docs into t17-style fixed-budget windows
    * CONTINUING from the resident corpus's token cursor — the append-only
    * delta manifest (s07's append-not-rebuild stance on the text axis:
    * the resident packing is never touched, the delta starts at its
    * closing cursor, and a loader concatenates the two manifests).
    * Split rule doc_id % 5 == 0 = the wave (d19's convention).
    *
    * Scale shape: the resident side contributes ONE broadcastable
    * distinct-fingerprint probe (AQE-planned anti join) and ONE 1-row
    * token-total aggregate; within-wave first-of-fingerprint is a
    * fingerprint-keyed aggregate + self-equi-join (both wave-sized); the
    * cursor is the two-phase range-partitioned prefix scan over the
    * accepted wave only. Nothing re-reads or re-shuffles the resident
    * corpus's text beyond the fingerprint pass. */
  def refreshManifest(docs: DataFrame, budget: Int = 512): DataFrame = {
    val fp = docs.select(
      col("doc_id"),
      md5(normText(col("text"))).as("fp"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val resident = fp.filter(col("doc_id") % 5 =!= 0).localCheckpoint()
    val wave = fp.filter(col("doc_id") % 5 === 0)
    val firstOfFp = wave.groupBy("fp").agg(min("doc_id").as("doc_id"))
    val accepted = wave.join(firstOfFp, Seq("fp", "doc_id"))
      .join(resident.select("fp").distinct(), Seq("fp"), "left_anti")
    val base = resident.agg(coalesce(sum("n_tokens"), lit(0L)).as("base_tokens"))
    TextOps.prefixSummedBy(accepted.select("doc_id", "n_tokens"),
        Seq("doc_id"), "n_tokens", "cum_wave")
      .crossJoin(base)
      .withColumn("cum_tokens", col("cum_wave") + col("base_tokens"))
      .filter(col("n_tokens") > 0)
      .select(
        col("doc_id"), col("n_tokens"),
        expr(s"(cum_tokens - n_tokens) div $budget").as("seq_first"),
        expr(s"(cum_tokens - 1) div $budget").as("seq_last"),
        expr(s"(cum_tokens - n_tokens) % $budget").as("offset_in_seq"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
  }

  val refresh = Q(
    "p05_refresh_manifest",
    (s, d) => refreshManifest(Tables.documents(s, d)),
    Some("""WITH fp AS (
              SELECT doc_id,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> ''))::BIGINT AS n_tokens
              FROM documents),
            res AS (SELECT * FROM fp WHERE doc_id % 5 <> 0),
            wave AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
            acc AS (
              SELECT w.doc_id, w.n_tokens FROM wave w
              WHERE w.doc_id = (SELECT min(w2.doc_id) FROM wave w2
                                WHERE w2.fp = w.fp)
                AND NOT EXISTS (SELECT 1 FROM res r WHERE r.fp = w.fp)),
            base AS (SELECT coalesce(sum(n_tokens), 0)::BIGINT AS base_tokens
                     FROM res),
            cum AS (
              SELECT doc_id, n_tokens,
                sum(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  + base_tokens AS cum_tokens
              FROM acc, base)
            SELECT doc_id, n_tokens,
              CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS seq_first,
              CAST((cum_tokens - 1) // 512 AS BIGINT) AS seq_last,
              CAST((cum_tokens - n_tokens) % 512 AS BIGINT) AS offset_in_seq,
              CAST((cum_tokens - 1) // 512
                   - (cum_tokens - n_tokens) // 512 + 1 AS BIGINT) AS n_seqs
            FROM cum WHERE n_tokens > 0 ORDER BY doc_id"""))

  // ------------------------------------------- post-dedup mix rates (p06)
  /** p06: mix rebalance after dedup — q31's temperature rates derived
    * TWICE, from raw per-source token mass and from the post-d01 masses,
    * with the per-source shift. Dedup moves source masses (a mirrored
    * feed loses its inflation — d24 measures exactly that), so mixing
    * weights derived before dedup are systematically wrong for the
    * corpus that actually trains; this query is the evidence table a mix
    * policy reads to decide the re-derivation matters. Rates use q31's
    * exact formula (α = 0.5 temperature: sqrt(min_tokens/src_tokens)),
    * rounded identically in both engines.
    *
    * Scale shape: d01's fingerprint window + two source-keyed aggregates
    * (map-side partials) + two 1-row minimum attachments (bounded cross
    * joins, PlanAudit-allowlisted) — output = #sources. */
  def dedupMixRates(docs: DataFrame): DataFrame = {
    val toks = docs
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("keep_id", min("doc_id").over(Window.partitionBy("fp")))
      .withColumn("n_toks", size(tokens(col("text"))).cast("long"))
    val raw = toks.groupBy("source").agg(sum("n_toks").as("raw_tokens"))
    val dedup = toks.filter(col("doc_id") === col("keep_id"))
      .groupBy("source").agg(sum("n_toks").as("dedup_tokens"))
    val joined = raw.join(dedup, Seq("source"))
      .crossJoin(raw.agg(min("raw_tokens").as("min_raw")))
      .crossJoin(dedup.agg(min("dedup_tokens").as("min_dedup")))
    joined.select(
      col("source"), col("raw_tokens"), col("dedup_tokens"),
      // safeFrac: an all-empty-doc source has raw_tokens = 0 (and therefore
      // dedup_tokens = 0) — both rates go NULL instead of ANSI-throwing, and
      // rate_shift NULL-propagates.
      round(sqrt(safeFrac(col("min_raw"), col("raw_tokens"))), 6).as("raw_rate"),
      round(sqrt(safeFrac(col("min_dedup"), col("dedup_tokens"))), 6).as("dedup_rate"))
      .withColumn("rate_shift", round(col("dedup_rate") - col("raw_rate"), 6))
  }

  val dedupMix = Q(
    "p06_dedup_mix_rates",
    (s, d) => dedupMixRates(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT doc_id, source,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
                len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                t -> t <> ''))::BIGINT AS n_toks
              FROM documents),
            marked AS (
              SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM toks),
            raw AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS raw_tokens
                    FROM marked GROUP BY source),
            ded AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS dedup_tokens
                    FROM marked WHERE doc_id = keep_id GROUP BY source),
            mr AS (SELECT CAST(min(raw_tokens) AS BIGINT) AS min_raw FROM raw),
            md AS (SELECT CAST(min(dedup_tokens) AS BIGINT) AS min_dedup FROM ded),
            rates AS (
              SELECT r.source, r.raw_tokens, d.dedup_tokens,
                round(sqrt(CAST(min_raw AS DOUBLE) / NULLIF(CAST(r.raw_tokens AS DOUBLE), 0.0)), 6)
                  AS raw_rate,
                round(sqrt(CAST(min_dedup AS DOUBLE) / NULLIF(CAST(d.dedup_tokens AS DOUBLE), 0.0)), 6)
                  AS dedup_rate
              FROM raw r JOIN ded d USING (source), mr, md)
            SELECT source, raw_tokens, dedup_tokens, raw_rate, dedup_rate,
              round(dedup_rate - raw_rate, 6) AS rate_shift
            FROM rates ORDER BY source"""))

  // ---------------------------------------- survival funnel (p07)
  /** [[stagedDocs]] memoized per (corpus, stamp): one ledgered,
    * checkpointed build serves p07, p11 and p14 (planted-corpus specs
    * keep passing raw frames through the generic overloads). */
  private def corpusStagedDocs(spark: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    SessionMemo.corpus.checkpointed(spark, d, "staged")(
      stagedDocs(Tables.documents(spark, d)))

  /** The raw→clean→gate→unique staging shared VERBATIM by p07 (doc
    * counts), p11 (token masses) and p14 (independent gates) — one code
    * path, not copies to patch in lockstep.
    *
    * Features only, one row per document: `doc_id`, `source`, the gate
    * inputs (`n_tokens`, `stop_hits`, `n_word_chars`), `clean`,
    * `gate_keep`, `fp`, and both outputs of ONE fp-partitioned window —
    * `unique_keep` (p07/p11's representative among gate survivors) and
    * `rep_all` (p14's unconditional min(doc_id)). `text` is dropped once
    * the features are computed: no consumer reads it, so it neither rides
    * the fp shuffle nor lands in the checkpoint. The scan is round-robin
    * spread with [[Sizing.spread]] first (a single-file corpus scans
    * as one split), so the tokenizer, the regex passes and the md5 run on
    * every core; the guard skips the exchange once the scan's own splits
    * reach the session parallelism. */
  private[graft] def stagedDocs(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val blockPat = "\\b(customer|supplier|order)\\b"
    val feats = Sizing.spread(docs.select(col("doc_id"), col("source"), col("text")))
      .select(
        col("doc_id"), col("source"), col("text"),
        size(toks).cast("long").as("n_tokens"),
        stopwordHits(toks, stopwords("en")).cast("long").as("stop_hits"),
        charClassCount(lower(col("text")), "[a-z0-9]").cast("long").as("n_word_chars"))
      .withColumn("clean", regexp_count(col("text"), lit(blockPat)) === 0)
      // safeFrac: zero-token docs would ANSI-throw on the frac conjuncts;
      // 3VL keeps gate_keep FALSE because n_tokens >= 20 already failed.
      .withColumn("gate_keep",
        col("clean") &&
          col("n_tokens") >= 20 && col("n_tokens") <= 5000 &&
          safeFrac(col("stop_hits"), col("n_tokens")) >= 0.02 &&
          safeFrac(col("n_word_chars"), col("n_tokens")) >= 3.0 &&
          safeFrac(col("n_word_chars"), col("n_tokens")) <= 10.0)
      .withColumn("fp", md5(normText(col("text"))))
      .drop("text")
    val byFp = Window.partitionBy("fp")
    val rep = min(when(col("gate_keep"), col("doc_id"))).over(byFp)
    feats
      .withColumn("unique_keep", col("gate_keep") && col("doc_id") === rep)
      .withColumn("rep_all", min(col("doc_id")).over(byFp))
  }

  /** p07: per-source stage-attrition funnel — the "where does my data
    * go" dashboard. Every curation run drops documents at each stage;
    * this query reports, per source, the CUMULATIVE survivor counts
    * through the realistic stage order: raw → blocklist-clean (t19's
    * term list) → quality gate (p01/t20's cascade, applied to clean
    * docs) → exact-dup representative (d01's min-doc_id rule among
    * gate survivors — same stage order as a production pipeline, where
    * paying dedup's shuffle for docs the cheap map-only filters already
    * killed is wasted work). A source whose raw mass is huge but whose
    * funnel collapses (boilerplate feed, wrong-language crawl) is
    * exactly what q31/p06's mixing weights must not reward.
    *
    * The dedup stage is well-defined under composition: the fingerprint
    * normalizes whitespace, and neither the blocklist regex (word
    * occurrences survive whitespace collapse) nor the gate features
    * (token-derived) distinguish exact-normalized copies — so all
    * members of a fingerprint group share their stage-2 status and the
    * representative choice cannot flip (p01's ordering argument,
    * extended to the blocklist stage).
    *
    * Scale shape: a read of the `corpus:staged` memo (built once per
    * corpus: spread feature scan, ONE fingerprint-keyed window — see
    * [[stagedDocs]]), then one source-keyed aggregate with map-side
    * partials. Output = #sources rows.
    */
  def survivalFunnel(docs: DataFrame,
      stagedIn: Option[DataFrame] = None): DataFrame =
    stagedIn.getOrElse(stagedDocs(docs))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"),
        sum(when(col("gate_keep"), 1L).otherwise(0L)).as("n_quality"),
        sum(when(col("unique_keep"), 1L).otherwise(0L)).as("n_unique"))
      .withColumn("survival_rate",
        round(safeFrac(col("n_unique"), col("n_raw")), 6))

  val funnel = Q(
    "p07_survival_funnel",
    (s, d) => survivalFunnel(Tables.documents(s, d),
      Some(corpusStagedDocs(s, d))),
    Some("""WITH f AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
                     t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'you', 'that'))) AS BIGINT) AS stop_hits,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
                (len(regexp_extract_all(text, '\b(customer|supplier|order)\b')) = 0) AS clean,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            g AS (
              SELECT doc_id, source, clean, fp,
                (clean AND n_tokens >= 20 AND n_tokens <= 5000
                 AND CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 0.02
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 3.0
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) <= 10.0) AS gate_keep
              FROM f),
            r AS (
              SELECT source, clean, gate_keep,
                (gate_keep AND doc_id = min(CASE WHEN gate_keep THEN doc_id END)
                   OVER (PARTITION BY fp)) AS unique_keep
              FROM g),
            agg AS (
              SELECT source,
                CAST(count(*) AS BIGINT) AS n_raw,
                CAST(sum(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
                CAST(sum(CASE WHEN gate_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
                CAST(sum(CASE WHEN unique_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
              FROM r GROUP BY source)
            SELECT source, n_raw, n_clean, n_quality, n_unique,
              round(CAST(n_unique AS DOUBLE) / NULLIF(CAST(n_raw AS DOUBLE), 0.0), 6)
                AS survival_rate
            FROM agg ORDER BY source"""))

  // --------------------------------------- curriculum schedule (p08)
  /** p08: epoch-annealed mixing schedule — q31's temperature rates
    * derived for EVERY training epoch under an annealing α: epoch 1
    * mixes uniformly across sources (α = 1: every source contributes
    * equal tokens — early-training diversity), later epochs anneal
    * toward the natural distribution (α halves each epoch), the
    * standard curriculum move. Emits per (epoch, source): α, the rate,
    * and the expected token contribution — the complete sampling plan a
    * multi-epoch run executes, where q31 gives one epoch's slice.
    *
    * α is deliberately restricted to the halving chain {1, 1/2, 1/4,
    * 1/8} so every rate is a sqrt CHAIN of the exact token ratio —
    * sqrt is IEEE-exact in both engines while pow(x, 0.4) is libm-
    * dependent; this is q31's α = 0.5 parity trick generalized to a
    * schedule.
    *
    * Scale shape: one token-mass aggregate (map-side partials), one
    * 1-row minimum attachment (q31's allowlisted shape), one bounded
    * 4-way epoch explode — output = 4 × #sources. */
  def curriculumSchedule(docs: DataFrame): DataFrame = {
    val masses = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_toks"))
      .groupBy("source").agg(sum("n_toks").as("src_tokens"))
    // safeFrac: an all-empty-doc source has src_tokens = 0 — the whole sqrt
    // chain (and expected_tokens) NULL-propagates instead of ANSI-throwing.
    val ratio = safeFrac(col("min_tokens"), col("src_tokens"))
    val rate =
      when(col("epoch") === 1, ratio)
        .when(col("epoch") === 2, sqrt(ratio))
        .when(col("epoch") === 3, sqrt(sqrt(ratio)))
        .otherwise(sqrt(sqrt(sqrt(ratio))))
    masses
      .crossJoin(masses.agg(min("src_tokens").as("min_tokens")))
      .select(col("source"), col("src_tokens"), col("min_tokens"),
        explode(sequence(lit(1), lit(4))).as("epoch"))
      .select(
        col("epoch").cast("long").as("epoch"),
        round(lit(1.0) / pow(lit(2.0), col("epoch").cast("double") - 1.0), 6)
          .as("alpha"),
        col("source"), col("src_tokens"),
        round(rate, 6).as("rate"),
        round(col("src_tokens").cast("double") * round(rate, 6)).cast("long")
          .as("expected_tokens"))
  }

  val curriculum = Q(
    "p08_curriculum_schedule",
    (s, d) => curriculumSchedule(Tables.documents(s, d)),
    Some("""WITH masses AS (
              SELECT source,
                CAST(sum(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                         t -> t <> ''))) AS BIGINT) AS src_tokens
              FROM documents GROUP BY source),
            mn AS (SELECT CAST(min(src_tokens) AS BIGINT) AS min_tokens FROM masses),
            ep AS (
              SELECT source, src_tokens, min_tokens, CAST(e.i AS BIGINT) AS epoch,
                CAST(min_tokens AS DOUBLE) / NULLIF(CAST(src_tokens AS DOUBLE), 0.0) AS ratio
              FROM masses, mn, range(1, 5) e(i)),
            rated AS (
              SELECT epoch,
                round(1.0 / power(2.0, CAST(epoch AS DOUBLE) - 1.0), 6) AS alpha,
                source, src_tokens,
                round(CASE epoch WHEN 1 THEN ratio
                                 WHEN 2 THEN sqrt(ratio)
                                 WHEN 3 THEN sqrt(sqrt(ratio))
                                 ELSE sqrt(sqrt(sqrt(ratio))) END, 6) AS rate
              FROM ep)
            SELECT epoch, alpha, source, src_tokens, rate,
              CAST(round(CAST(src_tokens AS DOUBLE) * rate) AS BIGINT)
                AS expected_tokens
            FROM rated ORDER BY epoch, source"""))

  // ---------------------------------------------- data card (p09)
  /** p09: the dataset data card — the one-page datasheet every released
    * corpus ships (Datasheets for Datasets / Dataset Cards): corpus
    * size, token mass, per-doc token mean, language and source
    * diversity, exact-dup rate, quality-gate pass rate, blocklist-clean
    * rate — each as a (metric, value) row, all derived with the
    * engine's own definitions (d01's fingerprint, t20's gate, t19's
    * blocklist), so the card agrees with the pipeline that produced the
    * corpus.
    *
    * Scale shape: ONE map-only feature scan, ONE 1-row aggregate — the
    * three distinct counts (lang, source, fingerprint) share the
    * multi-distinct Expand, everything else is a plain sum — then a
    * constant 9-way unpivot of that single row. The mean rides integer
    * token counts (the float-sum parity rule). Nothing here is a
    * second corpus pass. */
  def dataCard(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val feats = docs.select(
      col("lang"), col("source"),
      size(toks).cast("long").as("n_tokens"),
      stopwordHits(toks, stopwords("en")).cast("long").as("stop_hits"),
      charClassCount(lower(col("text")), "[a-z0-9]").cast("long").as("n_word_chars"),
      regexp_count(col("text"), lit("\\b(customer|supplier|order)\\b")).cast("long")
        .as("block_hits"),
      md5(normText(col("text"))).as("fp"))
    val row = feats
      // safeFrac: zero-token docs would ANSI-throw on the frac conjuncts;
      // 3VL keeps gate_pass FALSE because n_tokens >= 20 already failed.
      .withColumn("gate_pass",
        col("n_tokens") >= 20 && col("n_tokens") <= 5000 &&
          safeFrac(col("stop_hits"), col("n_tokens")) >= 0.02 &&
          safeFrac(col("n_word_chars"), col("n_tokens")) >= 3.0 &&
          safeFrac(col("n_word_chars"), col("n_tokens")) <= 10.0)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("lang").as("n_langs"),
        countDistinct("source").as("n_sources"),
        countDistinct("fp").as("n_unique"),
        sum(when(col("gate_pass"), 1L).otherwise(0L)).as("n_gate_pass"),
        sum(when(col("block_hits") === 0L, 1L).otherwise(0L)).as("n_clean"))
    // NULLIF(n_docs, 0): the zero-row corpus (an empty daily delta) still
    // gets its 9-row card — the per-doc rates read NULL instead of the agg
    // ANSI-throwing on 0/0.
    row.select(expr(
      """stack(9,
           'n_docs', CAST(n_docs AS DOUBLE),
           'total_tokens', CAST(total_tokens AS DOUBLE),
           'mean_tokens_per_doc', round(CAST(total_tokens AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0D), 6),
           'n_langs', CAST(n_langs AS DOUBLE),
           'n_sources', CAST(n_sources AS DOUBLE),
           'n_unique_docs', CAST(n_unique AS DOUBLE),
           'exact_dup_rate', round(CAST(n_docs - n_unique AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0D), 6),
           'gate_pass_rate', round(CAST(n_gate_pass AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0D), 6),
           'blocklist_clean_rate', round(CAST(n_clean AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0D), 6)
         ) AS (metric, value)"""))
  }

  val card = Q(
    "p09_data_card",
    (s, d) => dataCard(Tables.documents(s, d)),
    Some("""WITH f AS (
              SELECT lang, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
                     t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'you', 'that'))) AS BIGINT) AS stop_hits,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
                CAST(len(regexp_extract_all(text, '\b(customer|supplier|order)\b')) AS BIGINT) AS block_hits,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            g AS (
              SELECT *,
                (n_tokens >= 20 AND n_tokens <= 5000
                 AND CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 0.02
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 3.0
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) <= 10.0) AS gate_pass
              FROM f),
            agg AS (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
                CAST(sum(CASE WHEN gate_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_pass,
                CAST(sum(CASE WHEN block_hits = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
              FROM g)
            SELECT metric, value FROM (
              SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
              UNION ALL SELECT 'total_tokens', CAST(total_tokens AS DOUBLE) FROM agg
              UNION ALL SELECT 'mean_tokens_per_doc',
                round(CAST(total_tokens AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0), 6) FROM agg
              UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM agg
              UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM agg
              UNION ALL SELECT 'n_unique_docs', CAST(n_unique AS DOUBLE) FROM agg
              UNION ALL SELECT 'exact_dup_rate',
                round(CAST(n_docs - n_unique AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0), 6) FROM agg
              UNION ALL SELECT 'gate_pass_rate',
                round(CAST(n_gate_pass AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0), 6) FROM agg
              UNION ALL SELECT 'blocklist_clean_rate',
                round(CAST(n_clean AS DOUBLE) / NULLIF(CAST(n_docs AS DOUBLE), 0.0), 6) FROM agg)
            ORDER BY metric"""))

  // ---------------------------------- seed-reproducibility audit (p10)
  /** p10: the epoch seed-reproducibility audit — the pre-flight check a
    * training run does before burning compute on an epoch plan: assemble
    * t33's permutation under TWO seeds over the d01-kept corpus and
    * verify, per source, that (a) the shipped document SET and token mass
    * are seed-invariant (set_equal — a membership diff would surface as a
    * dangling full-outer row and flip the flag, and the dangling row
    * itself shows up under the '~missing' source), while (b) the ORDER
    * genuinely moves (frac_moved, mean/max |Δposition|) — a seed that
    * barely permuted would feed near-identical batch curricula every
    * epoch. Determinism is the engine's core claim for t33/p04 (a pure
    * md5 of (seed, doc_id)); this turns that claim into a driver-checkable
    * table instead of a test-only assertion.
    *
    * Exactness: positions are BIGINT prefix-scan ranks; every shift stat
    * is a BIGINT sum closed by one rounded division.
    *
    * Scale shape: one fingerprint window (d01's), then per seed the t33
    * two-phase range-exchange prefix scan (source/token columns ride the
    * orderCols AFTER the unique doc_id, so they cannot perturb the total
    * order); the A↔B join is doc_id-keyed and merge-hinted (both sides
    * are checkpoint-scan branches with no stats — the static planner must
    * not broadcast a corpus-scale side); the rollup is one source-keyed
    * aggregate. Nothing quadratic, nothing global-windowed.
    */
  def seedStability(docs: DataFrame, seedA: String = "epoch0",
      seedB: String = "epoch1"): DataFrame = {
    val kept = docs
      .withColumn("fp", md5(normText(col("text"))))
      .withColumn("rep", min(col("doc_id")).over(Window.partitionBy("fp")))
      .filter(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .localCheckpoint()
    def ranked(seed: String, posCol: String): DataFrame = {
      val keyed = kept.select(
        md5(concat_ws(":", lit(seed), col("doc_id").cast("string"))).as("sk"),
        col("doc_id"), col("source"), col("n_tokens"), lit(1L).as("one"))
      TextOps.prefixSummedBy(keyed,
          Seq("sk", "doc_id", "source", "n_tokens"), "one", "r")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("r") - lit(1L)).as(posCol))
    }
    val a = ranked(seedA, "pos_a")
    val b = ranked(seedB, "pos_b")
      .select(col("doc_id").as("doc_id_b"), col("pos_b"))
    a.join(b.hint("merge"), col("doc_id") === col("doc_id_b"), "full_outer")
      .select(
        coalesce(col("source"), lit("~missing")).as("source"),
        col("n_tokens"), col("pos_a"), col("pos_b"),
        (col("doc_id").isNotNull && col("doc_id_b").isNotNull).as("both_present"))
      .groupBy("source")
      .agg(
        count(col("pos_a")).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        expr("bool_and(both_present)").as("set_equal"),
        round(sum(when(col("pos_a") =!= col("pos_b"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double"), 6).as("frac_moved"),
        round(sum(abs(col("pos_a") - col("pos_b"))).cast("double")
          / count(lit(1)).cast("double"), 6).as("mean_abs_shift"),
        max(abs(col("pos_a") - col("pos_b"))).as("max_abs_shift"))
  }

  val seedAudit = Q(
    "p10_seed_reproducibility",
    (s, d) => seedStability(Tables.documents(s, d)),
    Some("""WITH fp AS (
              SELECT doc_id, source, text,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            keep AS (
              SELECT doc_id, source, text FROM (
                SELECT doc_id, source, text,
                  min(doc_id) OVER (PARTITION BY fp) AS rep
                FROM fp)
              WHERE doc_id = rep),
            base AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                     t -> t <> '')) AS BIGINT) AS n_tokens
              FROM keep),
            a AS (
              SELECT doc_id, source, n_tokens,
                CAST(row_number() OVER (ORDER BY md5('epoch0:' || doc_id), doc_id)
                     - 1 AS BIGINT) AS pos_a
              FROM base),
            b AS (
              SELECT doc_id,
                CAST(row_number() OVER (ORDER BY md5('epoch1:' || doc_id), doc_id)
                     - 1 AS BIGINT) AS pos_b
              FROM base),
            j AS (
              SELECT coalesce(a.source, '~missing') AS source, a.n_tokens,
                a.pos_a, b.pos_b,
                (a.doc_id IS NOT NULL AND b.doc_id IS NOT NULL) AS both_present
              FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
            SELECT source,
              CAST(count(pos_a) AS BIGINT) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              bool_and(both_present) AS set_equal,
              round(CAST(sum(CASE WHEN pos_a <> pos_b THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 6) AS frac_moved,
              round(CAST(sum(abs(pos_a - pos_b)) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 6) AS mean_abs_shift,
              CAST(max(abs(pos_a - pos_b)) AS BIGINT) AS max_abs_shift
            FROM j GROUP BY source ORDER BY source"""))

  // ------------------------------------------- token funnel (p11)
  /** p11: p07's survival funnel in TOKEN terms — per source the token
    * mass surviving each stage (raw → blocklist-clean → quality gate →
    * dedup representative) and the end-to-end token survival rate. p07
    * counts DOCUMENTS; the mixing weights downstream (q31/p06/p08) sample
    * TOKENS — a source whose survivors are many-but-short and one whose
    * survivors are few-but-long have identical p07 funnels and very
    * different training mass, and this is the table that tells them
    * apart. Same stage definitions and composition argument as p07 (all
    * members of a fingerprint group share their gate status, so the
    * representative choice can't flip), so the two funnels cross-check.
    *
    * Scale shape: p07's exactly — a read of the `corpus:staged` memo,
    * one source-keyed aggregate with map-side partials; output =
    * #sources rows. Every ratio rides safeFrac/NULLIF (an all-empty-doc
    * source has raw_tokens 0). */
  def tokenFunnel(docs: DataFrame,
      stagedIn: Option[DataFrame] = None): DataFrame =
    stagedIn.getOrElse(stagedDocs(docs))
      .groupBy("source")
      .agg(
        sum("n_tokens").as("raw_tokens"),
        sum(when(col("clean"), col("n_tokens")).otherwise(0L)).as("clean_tokens"),
        sum(when(col("gate_keep"), col("n_tokens")).otherwise(0L)).as("quality_tokens"),
        sum(when(col("unique_keep"), col("n_tokens")).otherwise(0L)).as("unique_tokens"))
      .withColumn("token_survival",
        round(safeFrac(col("unique_tokens"), col("raw_tokens")), 6))

  val tokenFunnelQ = Q(
    "p11_token_funnel",
    (s, d) => tokenFunnel(Tables.documents(s, d),
      Some(corpusStagedDocs(s, d))),
    Some("""WITH f AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
                     t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'you', 'that'))) AS BIGINT) AS stop_hits,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
                (len(regexp_extract_all(text, '\b(customer|supplier|order)\b')) = 0) AS clean,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            g AS (
              SELECT doc_id, source, n_tokens, clean, fp,
                (clean AND n_tokens >= 20 AND n_tokens <= 5000
                 AND CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 0.02
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 3.0
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) <= 10.0) AS gate_keep
              FROM f),
            r AS (
              SELECT source, n_tokens, clean, gate_keep,
                (gate_keep AND doc_id = min(CASE WHEN gate_keep THEN doc_id END)
                   OVER (PARTITION BY fp)) AS unique_keep
              FROM g),
            agg AS (
              SELECT source,
                CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
                CAST(sum(CASE WHEN clean THEN n_tokens ELSE 0 END) AS BIGINT) AS clean_tokens,
                CAST(sum(CASE WHEN gate_keep THEN n_tokens ELSE 0 END) AS BIGINT) AS quality_tokens,
                CAST(sum(CASE WHEN unique_keep THEN n_tokens ELSE 0 END) AS BIGINT) AS unique_tokens
              FROM r GROUP BY source)
            SELECT source, raw_tokens, clean_tokens, quality_tokens, unique_tokens,
              round(CAST(unique_tokens AS DOUBLE)
                / NULLIF(CAST(raw_tokens AS DOUBLE), 0.0), 6) AS token_survival
            FROM agg ORDER BY source"""))

  // ------------------------------------------- budget fill (p12)
  /** p12: quality-sorted token-budget fill — the FineWeb-style selection
    * step the mixing queries assume has already happened: per source, rank
    * documents by t24's model score (the IDENTICAL kernel —
    * [[TextOps.classifierDocScores]] — so t24 and this query cross-check)
    * and admit them best-first until the source's token budget (25% of
    * its raw token mass) is spent. Reports per source the candidate
    * count, raw/budget/selected token masses, the admission cutoff score,
    * and the budget fill rate. q31/p06/p08 decide how much each source
    * SHOULD contribute; this is the operator that decides WHICH documents
    * carry that contribution.
    *
    * Determinism: admission order is (score DESC, doc_id) — score is
    * round(·, 6) of an exact-integer ratio (t24's contract) and doc_id
    * breaks ties, so the running sum admits the same prefix in both
    * engines; token masses are exact BIGINTs.
    *
    * Scale shape: t24's scoring scan (map-only + one doc-keyed agg with
    * map-side partials), then the admission prefix rides
    * [[TextOps.prefixSummedBy]]'s two-phase range-partitioned scan keyed
    * (source, -score, doc_id) — the t17/t33 machinery, so one source's
    * documents spread across MANY partitions instead of one window
    * partition's sort (the q35 hot-key hazard this formulation avoids);
    * per-source bases/budgets come from one #sources-row aggregate
    * (AQE-broadcast back). Output = #sources rows. Degenerate inputs:
    * zero-token docs are non-candidates by the kernel's contract; an
    * empty corpus yields an empty result; a budget of 0 admits nothing
    * and fill_frac rides safeFrac/NULLIF. */
  def budgetFill(docs: DataFrame, frac: Double = 0.25): DataFrame = {
    val scored = TextOps.classifierDocScores(docs, Seq("source"))
      .withColumn("neg_score", -col("score"))
    val cum = TextOps.prefixSummedBy(
      scored.select(col("source"), col("neg_score"), col("doc_id"), col("n_tokens")),
      Seq("source", "neg_score", "doc_id"), "n_tokens", "cum")
    val bySource = cum.groupBy("source").agg(
      min(col("cum") - col("n_tokens")).as("base"),
      count(lit(1)).as("n_candidates"),
      sum("n_tokens").as("total_tokens"))
      .withColumn("budget_tokens",
        floor(col("total_tokens").cast("double") * frac).cast("long"))
    cum.join(bySource, Seq("source"))
      .withColumn("selected", col("cum") - col("base") <= col("budget_tokens"))
      .groupBy("source")
      .agg(
        max("n_candidates").as("n_candidates"),
        max("total_tokens").as("total_tokens"),
        max("budget_tokens").as("budget_tokens"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum(when(col("selected"), col("n_tokens")).otherwise(0L)).as("selected_tokens"),
        min(when(col("selected"), -col("neg_score"))).as("cutoff_score"))
      .withColumn("fill_frac",
        round(safeFrac(col("selected_tokens"), col("budget_tokens")), 6))
  }

  val budgetFillQ = Q(
    "p12_budget_fill",
    (s, d) => budgetFill(Tables.documents(s, d)),
    Some("""WITH toks AS (
              SELECT doc_id, source, unnest(list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS w
              FROM documents),
            feat AS (
              SELECT doc_id, source,
                CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % 1024 AS bucket
              FROM toks),
            wts AS (
              SELECT doc_id, source,
                (bucket * 2654435761 + 40503) % 1000003 % 2001 - 1000 AS w_milli
              FROM feat),
            agg AS (
              SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(w_milli) AS BIGINT) AS score_milli
              FROM wts GROUP BY doc_id, source),
            sc AS (
              SELECT doc_id, source, n_tokens,
                round(CAST(score_milli AS DOUBLE)
                  / (CAST(n_tokens AS DOUBLE) * 1000.0), 6) AS score
              FROM agg),
            tot AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_candidates,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 0.25) AS BIGINT) AS budget_tokens
              FROM sc GROUP BY source),
            cm AS (
              SELECT source, doc_id, n_tokens, score,
                CAST(sum(n_tokens) OVER (PARTITION BY source
                  ORDER BY score DESC, doc_id) AS BIGINT) AS cum
              FROM sc),
            sel AS (
              SELECT c.source, c.n_tokens, c.score,
                (c.cum <= t.budget_tokens) AS selected
              FROM cm c JOIN tot t ON c.source = t.source)
            SELECT t.source, t.n_candidates, t.total_tokens, t.budget_tokens,
              CAST(sum(CASE WHEN s.selected THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
              CAST(sum(CASE WHEN s.selected THEN s.n_tokens ELSE 0 END) AS BIGINT)
                AS selected_tokens,
              min(CASE WHEN s.selected THEN s.score END) AS cutoff_score,
              round(CAST(sum(CASE WHEN s.selected THEN s.n_tokens ELSE 0 END) AS DOUBLE)
                / NULLIF(CAST(t.budget_tokens AS DOUBLE), 0.0), 6) AS fill_frac
            FROM sel s JOIN tot t ON s.source = t.source
            GROUP BY t.source, t.n_candidates, t.total_tokens, t.budget_tokens
            ORDER BY t.source"""))

  // ------------------------------------------- ingest audit (p13)
  /** p13: the composed INGEST-readiness audit — p03's stance (one
    * verdict row with WHY) pointed at the other end of the pipeline:
    * before a daily delta folds into the resident corpus, three
    * tripwires fire or don't, and this query is the one-row record an
    * ingest run reads to decide. The legs are the component operators'
    * semantics verbatim, so their oracles and this one cross-check
    * (d12/p01's composition discipline):
    *   - duplication: delta docs whose d01 fingerprint already exists
    *     (in the resident corpus or earlier in the delta) — `dup_ok`
    *     iff the dup rate ≤ 25% (integer cross-multiply, no fp);
    *   - templates: d28's emerging shingles restricted to MAJOR ones
    *     (delta rate ≥ 10% — a template on a tenth of today's docs) —
    *     `template_ok` iff none;
    *   - embeddings: s16's per-dimension drift — `drift_ok` iff the
    *     worst mean shift stays under 0.1 (100k micro-units; the
    *     encoder-change scale, ~3× the noise band this corpus measures).
    *   `fold_in_ready` = all three. Thresholds are named constants of
    *   the audit, not tuning knobs hidden in dataflow.
    *
    * Scale shape: the doc leg is ONE fingerprint window (d01's shuffle)
    * + a 1-row conditional aggregate; the template leg is d28's
    * vocabulary-keyed aggregate collapsed to 1 row; the drift leg is
    * s16's dim-bounded table collapsed to 1 row; three 1-row crossJoins
    * (allowlisted). Output = exactly one row at any corpus size.
    * Degenerates: empty corpus/embeddings → zero counts, NULL rates,
    * all gates pass (an empty delta is safe to fold — and the zero-row
    * gate proves it doesn't crash instead). */
  /** @param hs optional pre-materialized hashed shingle table for the
    *           template leg (round 16: the registered query passes the
    *           session-memoized hs@3 so p13 stops re-tokenizing a corpus
    *           its own d-family already shingled; planted-corpus specs
    *           omit it and shingle inline). */
  def ingestAudit(docs: DataFrame, emb: DataFrame,
      hs: Option[DataFrame] = None): DataFrame = {
    val mx = docs.agg(max("doc_id")).head()
    val split = if (mx.isNullAt(0)) 0L else mx.getLong(0) * 4 / 5
    val tagged = docs.select(col("doc_id"),
      (col("doc_id") >= split).as("is_delta"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      md5(normText(col("text"))).as("fp"))
    val withMin = tagged.withColumn("min_id",
      min("doc_id").over(Window.partitionBy("fp")))
    val docLeg = withMin.agg(
      sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_resident_docs"),
      sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_delta_docs"),
      sum(when(!col("is_delta"), col("n_tokens")).otherwise(0L)).as("resident_tokens"),
      sum(when(col("is_delta"), col("n_tokens")).otherwise(0L)).as("delta_tokens"),
      sum(when(col("is_delta") && col("doc_id") =!= col("min_id"), 1L)
        .otherwise(0L)).as("n_delta_dup"))
    val tmplLeg = hs.map(Dedup.boilerplateDriftFromHashes(docs, _))
      .getOrElse(Dedup.boilerplateDrift(docs)).agg(
      sum(when(col("emerging") && col("delta_rate") >= 0.1, 1L).otherwise(0L))
        .as("n_emerging_major"))
    val driftLeg = Similarity.embeddingDrift(emb).agg(
      sum(when(col("drifted"), 1L).otherwise(0L)).as("n_drifted_dims"),
      max("shift_micro").as("max_shift_micro"))
    docLeg.crossJoin(tmplLeg).crossJoin(driftLeg)
      .select(
        coalesce(col("n_resident_docs"), lit(0L)).as("n_resident_docs"),
        coalesce(col("n_delta_docs"), lit(0L)).as("n_delta_docs"),
        coalesce(col("delta_tokens"), lit(0L)).as("delta_tokens"),
        round(safeFrac(col("delta_tokens"), col("resident_tokens")), 6)
          .as("token_growth"),
        coalesce(col("n_delta_dup"), lit(0L)).as("n_delta_dup"),
        round(safeFrac(col("n_delta_dup"), col("n_delta_docs")), 6).as("dup_rate"),
        coalesce(col("n_emerging_major"), lit(0L)).as("n_emerging_major"),
        coalesce(col("n_drifted_dims"), lit(0L)).as("n_drifted_dims"),
        col("max_shift_micro"))
      .withColumn("dup_ok",
        col("n_delta_dup") * lit(4L) <= col("n_delta_docs"))
      .withColumn("template_ok", col("n_emerging_major") === 0L)
      .withColumn("drift_ok",
        coalesce(col("max_shift_micro") < lit(100000L), lit(true)))
      .withColumn("fold_in_ready",
        col("dup_ok") && col("template_ok") && col("drift_ok"))
  }

  val ingestAuditQ = Q(
    "p13_ingest_audit",
    (s, d) => ingestAudit(Tables.documents(s, d), Tables.embeddings(s, d),
      Some(Dedup.corpusShingleHashes(s, d))),
    Some(s"""WITH ${Dedup.boilerplateDriftSqlCtes},
            ${Similarity.driftSqlCtes},
            pmx AS (SELECT max(doc_id) AS m FROM documents),
            ptag AS (
              SELECT doc_id,
                (doc_id >= (SELECT m * 4 // 5 FROM pmx)) AS is_delta,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                  t -> t <> '')) AS BIGINT) AS n_tokens,
                md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
              FROM documents),
            pmin AS (SELECT fp, min(doc_id) AS min_id FROM ptag GROUP BY fp),
            dleg AS (
              SELECT
                CAST(coalesce(sum(CASE WHEN NOT is_delta THEN 1 END), 0) AS BIGINT)
                  AS n_resident_docs,
                CAST(coalesce(sum(CASE WHEN is_delta THEN 1 END), 0) AS BIGINT)
                  AS n_delta_docs,
                CAST(sum(CASE WHEN NOT is_delta THEN n_tokens END) AS BIGINT)
                  AS resident_tokens,
                CAST(coalesce(sum(CASE WHEN is_delta THEN n_tokens END), 0) AS BIGINT)
                  AS delta_tokens,
                CAST(coalesce(sum(CASE WHEN is_delta AND t.doc_id <> m.min_id
                  THEN 1 END), 0) AS BIGINT) AS n_delta_dup
              FROM ptag t JOIN pmin m ON m.fp = t.fp),
            tleg AS (
              SELECT CAST(coalesce(sum(CASE WHEN emerging AND delta_rate >= 0.1
                THEN 1 END), 0) AS BIGINT) AS n_emerging_major
              FROM d28_rows),
            eleg AS (
              SELECT CAST(coalesce(sum(CASE WHEN drifted THEN 1 END), 0) AS BIGINT)
                  AS n_drifted_dims,
                max(shift_micro) AS max_shift_micro
              FROM s16_rows)
            SELECT d.n_resident_docs, d.n_delta_docs, d.delta_tokens,
              round(CAST(d.delta_tokens AS DOUBLE)
                / NULLIF(CAST(d.resident_tokens AS DOUBLE), 0.0), 6) AS token_growth,
              d.n_delta_dup,
              round(CAST(d.n_delta_dup AS DOUBLE)
                / NULLIF(CAST(d.n_delta_docs AS DOUBLE), 0.0), 6) AS dup_rate,
              t.n_emerging_major, e.n_drifted_dims, e.max_shift_micro,
              (d.n_delta_dup * 4 <= d.n_delta_docs) AS dup_ok,
              (t.n_emerging_major = 0) AS template_ok,
              coalesce(e.max_shift_micro < 100000, true) AS drift_ok,
              ((d.n_delta_dup * 4 <= d.n_delta_docs)
                AND t.n_emerging_major = 0
                AND coalesce(e.max_shift_micro < 100000, true)) AS fold_in_ready
            FROM dleg d, tleg t, eleg e"""))

  // ---------------------------------------- gate attribution (p14)
  /** p14: order-INDEPENDENT gate attribution — the complement of p07's
    * sequential funnel. The funnel reports cumulative survivors through
    * a fixed stage order, which by construction hides overlap: a doc
    * killed by the blocklist never reaches the quality gate, so the
    * funnel cannot say whether removing one gate would change anything.
    * p14 evaluates the SAME three gates (p07's blocklist, t20's quality
    * cascade, d01's exact-dup non-representative rule) as independent
    * predicates on every document and reports, per source, the count
    * and share of each exclusive combination ('clean', 'B', 'Q', 'D',
    * 'BQ', …) — the inclusion-exclusion readout that answers "which
    * gate is load-bearing for this feed, and how much of its loss is
    * double-counted". Gate formulas come from p07's [[stagedDocs]]
    * verbatim (one code path, two reports), with two deliberate
    * independence changes: the quality cascade drops its `clean`
    * conjunct, and the dup representative is min(doc_id) over the
    * fingerprint group UNCONDITIONALLY (d01's rule, not "among gate
    * survivors"; the staged frame's `rep_all`).
    *
    * Scale shape: a read of the `corpus:staged` memo, whose one
    * fingerprint window already carries `rep_all` (p14 owns no window
    * and no fp shuffle), then one (source, combo) aggregate with map-side
    * partials joined to the #sources totals — output ≤ #sources × 8 rows
    * at any corpus size. */
  def gateAttribution(docs: DataFrame,
      stagedIn: Option[DataFrame] = None): DataFrame = {
    val flagged = stagedIn.getOrElse(stagedDocs(docs))
      .select(col("source"),
        (!col("clean")).as("b"),
        (!(col("n_tokens") >= 20 && col("n_tokens") <= 5000 &&
           safeFrac(col("stop_hits"), col("n_tokens")) >= 0.02 &&
           safeFrac(col("n_word_chars"), col("n_tokens")) >= 3.0 &&
           safeFrac(col("n_word_chars"), col("n_tokens")) <= 10.0)).as("q"),
        (col("doc_id") =!= col("rep_all")).as("dp"))
      .withColumn("gates",
        when(!col("b") && !col("q") && !col("dp"), lit("clean"))
          .otherwise(concat(
            when(col("b"), lit("B")).otherwise(lit("")),
            when(col("q"), lit("Q")).otherwise(lit("")),
            when(col("dp"), lit("D")).otherwise(lit("")))))
    val combos = flagged.groupBy("source", "gates")
      .agg(count(lit(1)).as("n_docs"))
    val totals = flagged.groupBy("source").agg(count(lit(1)).as("n_source"))
    combos.join(totals, Seq("source"))
      .select(col("source"), col("gates"), col("n_docs"),
        round(safeFrac(col("n_docs"), col("n_source")), 6).as("share"))
  }

  val gateAttributionQ = Q(
    "p14_gate_attribution",
    (s, d) => gateAttribution(Tables.documents(s, d),
      Some(corpusStagedDocs(s, d))),
    Some("""WITH f AS (
              SELECT doc_id, source,
                CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
                CAST(len(list_filter(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> ''),
                     t -> t IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it', 'you', 'that'))) AS BIGINT) AS stop_hits,
                CAST(length(text) - length(regexp_replace(lower(text), '[a-z0-9]', '', 'g')) AS BIGINT) AS n_word_chars,
                (len(regexp_extract_all(text, '\b(customer|supplier|order)\b')) = 0) AS clean,
                md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
              FROM documents),
            g AS (
              SELECT source,
                (NOT clean) AS b,
                (NOT (n_tokens >= 20 AND n_tokens <= 5000
                 AND CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 0.02
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) >= 3.0
                 AND CAST(n_word_chars AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) <= 10.0)) AS q,
                (doc_id <> min(doc_id) OVER (PARTITION BY fp)) AS dp
              FROM f),
            lab AS (
              SELECT source,
                CASE WHEN NOT (b OR q OR dp) THEN 'clean'
                     ELSE concat(CASE WHEN b THEN 'B' ELSE '' END,
                                 CASE WHEN q THEN 'Q' ELSE '' END,
                                 CASE WHEN dp THEN 'D' ELSE '' END) END AS gates
              FROM g),
            combos AS (
              SELECT source, gates, CAST(count(*) AS BIGINT) AS n_docs
              FROM lab GROUP BY source, gates),
            tot AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_source
              FROM lab GROUP BY source)
            SELECT c.source, c.gates, c.n_docs,
              round(CAST(c.n_docs AS DOUBLE) / NULLIF(CAST(t.n_source AS DOUBLE), 0.0), 6)
                AS share
            FROM combos c JOIN tot t ON t.source = c.source
            ORDER BY c.source, c.gates"""))

  // ------------------------------- release churn ledger (p15)
  /** p15: release-to-release churn ledger — the per-source diff report a
    * data-ops team reads after cutting a new corpus release: which
    * sources turned over, by how much, and what happened to the token
    * budget. p05 answers "which NEW docs get admitted and where do they
    * land"; p15 answers the retrospective question across two complete
    * release manifests, including REMOVALS (a takedown, a license
    * change, a source dropped from the mix) — the direction a monotone
    * append ledger cannot see.
    *
    * Content grain is d01's normalized-text fingerprint (a re-crawled
    * byte-identical page is the SAME content, not an add+remove), keeper
    * = min doc_id per release (d01's rule); a retained fingerprint is
    * attributed to the NEW release's source (the current view owns the
    * row). Per source: added/removed/retained fingerprint counts, token
    * totals per release and the net delta, churn =
    * (added+removed)/(added+removed+retained) — and a `heavy_churn`
    * flag when the source's churn STRICTLY exceeds the whole release's
    * churn (the fair-share line, s17's hot-cell stance), compared by
    * exact BIGINT cross-multiplication — never on rounded shares, so
    * there is no float threshold boundary and near-uniform corpora
    * split honestly instead of tie-flagging.
    *
    * Scale shape: two fingerprint-grain aggregates (one shuffle each,
    * map-side combined — duplicates collapse before the join), ONE
    * fp-keyed full-outer join (linear, AQE-planned), a source-grain
    * rollup to a bounded row set, and one allowlisted 1-row cutoff
    * attachment. Nothing is corpus × corpus; output is #sources rows at
    * any scale.
    *
    * The operator takes the two release tables; the registered query
    * instantiates them as deterministic overlapping doc_id slices
    * (previous = `% 3 ≠ 0`, next = `% 3 ≠ 1`) so EVERY source sees
    * adds, removals, and retentions on the test corpus (doc_id strides
    * are coprime to the source assignment) — the d09 %-slice harness
    * convention. */
  def releaseChurn(relA: DataFrame, relB: DataFrame): DataFrame = {
    def fpGrain(rel: DataFrame): DataFrame = rel
      .select(md5(normText(col("text"))).as("fp"), col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"))).as("k"))
      .select(col("fp"), col("k.source").as("source"),
        col("k.n_tokens").as("n_tokens"))
    val a = fpGrain(relA).select(col("fp"),
      col("source").as("src_a"), col("n_tokens").as("tok_a"))
    val b = fpGrain(relB).select(col("fp"),
      col("source").as("src_b"), col("n_tokens").as("tok_b"))
    val scored = a.join(b, Seq("fp"), "full_outer")
      .select(coalesce(col("src_b"), col("src_a")).as("source"),
        when(col("src_a").isNull, 1L).otherwise(0L).as("is_added"),
        when(col("src_b").isNull, 1L).otherwise(0L).as("is_removed"),
        when(col("src_a").isNotNull && col("src_b").isNotNull, 1L)
          .otherwise(0L).as("is_retained"),
        coalesce(col("tok_a"), lit(0L)).as("tok_a"),
        coalesce(col("tok_b"), lit(0L)).as("tok_b"))
      .groupBy("source")
      .agg(sum("is_added").as("n_added"), sum("is_removed").as("n_removed"),
        sum("is_retained").as("n_retained"),
        sum("tok_a").as("tokens_a"), sum("tok_b").as("tokens_b"))
      .withColumn("n_churned", col("n_added") + col("n_removed"))
      .withColumn("n_total",
        col("n_added") + col("n_removed") + col("n_retained"))
    val tot = scored.agg(sum("n_churned").as("g_churned"),
      sum("n_total").as("g_total"))
    scored.crossJoin(tot)
      .select(col("source"), col("n_added"), col("n_removed"),
        col("n_retained"), col("tokens_a"), col("tokens_b"),
        (col("tokens_b") - col("tokens_a")).as("token_delta"),
        round(col("n_churned").cast("double") / col("n_total").cast("double"), 6)
          .as("churn"),
        (col("n_churned") * col("g_total") > col("g_churned") * col("n_total"))
          .as("heavy_churn"))
  }

  private val churnFpSql =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
         doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
           t -> t <> '')) AS BIGINT) AS n_tokens
       FROM documents"""

  val releaseChurnQ = Q(
    "p15_release_churn",
    (s, d) => {
      val docs = Tables.documents(s, d)
      releaseChurn(docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 3 =!= 1))
    },
    Some(s"""WITH fa AS ($churnFpSql WHERE doc_id % 3 <> 0),
            fb AS ($churnFpSql WHERE doc_id % 3 <> 1),
            ga AS (SELECT fp, min_by(source, doc_id) AS src_a,
                     min_by(n_tokens, doc_id) AS tok_a
                   FROM fa GROUP BY fp),
            gb AS (SELECT fp, min_by(source, doc_id) AS src_b,
                     min_by(n_tokens, doc_id) AS tok_b
                   FROM fb GROUP BY fp),
            j AS (
              SELECT coalesce(src_b, src_a) AS source,
                CASE WHEN ga.fp IS NULL THEN 1 ELSE 0 END AS is_added,
                CASE WHEN gb.fp IS NULL THEN 1 ELSE 0 END AS is_removed,
                CASE WHEN ga.fp IS NOT NULL AND gb.fp IS NOT NULL
                     THEN 1 ELSE 0 END AS is_retained,
                coalesce(tok_a, 0) AS tok_a, coalesce(tok_b, 0) AS tok_b
              FROM ga FULL OUTER JOIN gb ON gb.fp = ga.fp),
            sr AS (
              SELECT source,
                CAST(sum(is_added) AS BIGINT) AS n_added,
                CAST(sum(is_removed) AS BIGINT) AS n_removed,
                CAST(sum(is_retained) AS BIGINT) AS n_retained,
                CAST(sum(tok_a) AS BIGINT) AS tokens_a,
                CAST(sum(tok_b) AS BIGINT) AS tokens_b
              FROM j GROUP BY source),
            sc AS (
              SELECT sr.*,
                n_added + n_removed AS n_churned,
                n_added + n_removed + n_retained AS n_total
              FROM sr),
            tot AS (
              SELECT CAST(sum(n_churned) AS BIGINT) AS g_churned,
                CAST(sum(n_total) AS BIGINT) AS g_total
              FROM sc)
            SELECT source, n_added, n_removed, n_retained, tokens_a, tokens_b,
              tokens_b - tokens_a AS token_delta,
              round(CAST(n_churned AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
                AS churn,
              (n_churned * g_total > g_churned * n_total) AS heavy_churn
            FROM sc, tot ORDER BY source"""))

  // ------------------------------- release fingerprint stamp (p16)
  /** p16: the release content-fingerprint manifest — the O(#sources)
    * freeze stamp a data-ops team publishes WITH a corpus release and
    * compares FIRST when asking "did anything change": per source (plus
    * the `__ALL__` corpus row), raw document and token counts, distinct
    * content counts and unique-token mass at d01's normalized-text
    * fingerprint grain, the duplication fraction, and an
    * order-independent 60-bit XOR digest of the content-fingerprint SET.
    * Two releases with equal (n_contents, content_xor60) per source are
    * content-identical with overwhelming probability; when the stamps
    * differ, p15's churn ledger is the expensive diff you run second.
    *
    * Exactness: the digest XORs `conv(md5[0:15], 16, 10)` — 60 bits, so
    * the BIGINT never overflows — over the DISTINCT fingerprint set
    * (fp-grain first: XOR over raw docs would let an even number of
    * copies cancel out of the stamp). XOR is commutative/associative,
    * so the digest is reduce-order-free and re-aggregates exactly: the
    * `__ALL__` row is the XOR of the per-source digests, which is why
    * one ROLLUP pass can emit both grains (q10's Expand shape). Content
    * rows are attributed to their keeper's source (min (doc_id) struct,
    * p15's rule), so per-source content counts PARTITION the corpus and
    * every column re-aggregates by plain sum/xor.
    *
    * Scale shape: one doc-grain aggregate (raw counts by the doc's own
    * source), one fingerprint-grain aggregate (map-side combined — the
    * duplicate collapse happens before any join), a #sources full-outer
    * join, and a ROLLUP over #sources rows. Nothing is corpus × corpus;
    * output is #sources + 1 rows at any scale. */
  def releaseFingerprint(rel: DataFrame): DataFrame = {
    val docGrain = rel
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_raw"))
    val fpGrain = rel
      .select(md5(normText(col("text"))).as("fp"), col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("source"), col("n_tokens"))).as("k"))
      .select(conv(substring(col("fp"), 1, 15), 16, 10).cast("long").as("fp60"),
        col("k.source").as("source"), col("k.n_tokens").as("n_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_contents"), sum("n_tokens").as("tokens_unique"),
        expr("bit_xor(fp60)").as("content_xor60"))
    docGrain.join(fpGrain, Seq("source"), "full_outer")
      .rollup(col("source"))
      .agg(sum("n_docs").as("n_docs"), sum("tokens_raw").as("tokens_raw"),
        sum(coalesce(col("n_contents"), lit(0L))).as("n_contents"),
        sum(coalesce(col("tokens_unique"), lit(0L))).as("tokens_unique"),
        expr("bit_xor(coalesce(content_xor60, 0L))").as("content_xor60"))
      .select(coalesce(col("source"), lit("__ALL__")).as("source"),
        col("n_docs"), col("n_contents"), col("tokens_raw"),
        col("tokens_unique"),
        round((col("n_docs") - col("n_contents")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_frac"),
        col("content_xor60"))
  }

  val releaseFingerprintQ = Q(
    "p16_release_fingerprint",
    (s, d) => releaseFingerprint(Tables.documents(s, d)),
    Some(s"""WITH fg AS ($churnFpSql),
            doc_grain AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS tokens_raw
              FROM fg GROUP BY source),
            keepers AS (
              SELECT CAST(('0x' || substr(fp, 1, 15)) AS BIGINT) AS fp60,
                min_by(source, doc_id) AS source,
                min_by(n_tokens, doc_id) AS n_tokens
              FROM fg GROUP BY fp),
            fp_grain AS (
              SELECT source, CAST(count(*) AS BIGINT) AS n_contents,
                CAST(sum(n_tokens) AS BIGINT) AS tokens_unique,
                bit_xor(fp60) AS content_xor60
              FROM keepers GROUP BY source),
            j AS (
              SELECT coalesce(d.source, f.source) AS source,
                coalesce(n_docs, 0) AS n_docs,
                coalesce(tokens_raw, 0) AS tokens_raw,
                coalesce(n_contents, 0) AS n_contents,
                coalesce(tokens_unique, 0) AS tokens_unique,
                coalesce(content_xor60, 0) AS content_xor60
              FROM doc_grain d FULL OUTER JOIN fp_grain f ON f.source = d.source)
            SELECT coalesce(source, '__ALL__') AS source,
              CAST(sum(n_docs) AS BIGINT) AS n_docs,
              CAST(sum(n_contents) AS BIGINT) AS n_contents,
              CAST(sum(tokens_raw) AS BIGINT) AS tokens_raw,
              CAST(sum(tokens_unique) AS BIGINT) AS tokens_unique,
              round(CAST(sum(n_docs) - sum(n_contents) AS DOUBLE) /
                CAST(sum(n_docs) AS DOUBLE), 6) AS dup_frac,
              bit_xor(content_xor60) AS content_xor60
            FROM j GROUP BY ROLLUP (source) ORDER BY 1"""))

  // ------------------------------- novelty-driven mix reweighting (p17)
  /** p17: one DoReMi-style exponentiated-gradient step of domain
    * reweighting — the query that turns t40's measurement into a mixing
    * DECISION. Per source: its baseline share (exact token-mass ratio,
    * q31's ingredient), its NOVELTY (mean t40 transfer gap against every
    * OTHER source's bigram LM — how surprising this source is to models
    * trained on the rest of the mix; near 0 = interchangeable, large =
    * genuinely new text), and the reweighted share
    * w′(s) ∝ share(s) · exp(η · novelty(s)) with η = 0.25 — upweight
    * what the rest of the corpus cannot predict, exactly DoReMi's
    * excess-loss move with t40's exact micro-nat gaps standing in for
    * proxy-model loss. `shift` = w′ − w is the readout a mix owner
    * scans: the sources the step actually moves.
    *
    * Determinism: novelty is a mean of round-6 gaps re-quantized to
    * micro (floor(gap·10⁶ + 0.5) — exact BIGINT sum over the ≤ #sources
    * group, no avg(double) partial-order drift); the single exp per
    * source runs on that round-6 grid (ln parity is the t08/t11
    * precedent, exp rides the same libm claim) and its result is
    * immediately quantized to nano-units, so the normalizing sum is an
    * exact BIGINT and the published shares are round-6 of exact-integer
    * ratios — reduce order cannot move them.
    *
    * Scale shape: t40's kernel end to end (distinct-bigram model
    * tables, keyed shuffles, #sources² output) plus one doc-grain mass
    * aggregate and three bounded-×-1-row attaches over the ≤ #sources
    * table. The expensive thing is the measurement; the decision is
    * #sources rows of arithmetic. */
  /** @param matrix optional pre-built t40 transfer matrix (round 16: the
    *              registered query passes the session-memoized one so
    *              p17 and t40 measure the SAME matrix once; planted
    *              specs omit it and build inline). */
  def mixReweight(docs: DataFrame, eta: Double = 0.25,
      matrix: Option[DataFrame] = None): DataFrame = {
    val novelty = matrix.getOrElse(TextOps.lmTransferMatrix(docs))
      .filter(col("from_source") =!= col("to_source"))
      .groupBy(col("from_source").as("source"))
      .agg(round(safeFrac(
        sum(floor(col("transfer_gap") * 1e6 + 0.5).cast("long")),
        count(lit(1)) * lit(1000000L)), 6).as("novelty"))
    val masses = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("nt"))
      .groupBy("source").agg(sum("nt").as("tok_mass"))
    val j = masses.join(novelty, Seq("source"), "left")
      .withColumn("novelty", coalesce(col("novelty"), lit(0.0)))
    val tot = j.agg(sum("tok_mass").as("tok_tot"))
    val weighted = j.crossJoin(tot)
      .withColumn("base_share",
        col("tok_mass").cast("double") / col("tok_tot").cast("double"))
      .withColumn("w_nano",
        floor(col("base_share") * exp(lit(eta) * col("novelty")) * 1e9 + 0.5)
          .cast("long"))
    val norm = weighted.agg(sum("w_nano").as("w_tot"))
    weighted.crossJoin(norm)
      .select(col("source"), col("tok_mass"),
        round(col("base_share"), 6).as("base_share"),
        col("novelty"),
        round(safeFrac(col("w_nano"), col("w_tot")), 6).as("new_share"),
        round(safeFrac(col("w_nano"), col("w_tot")) - col("base_share"), 6)
          .as("shift"))
  }

  val mixReweightQ = Q(
    "p17_mix_reweight",
    (s, d) => mixReweight(Tables.documents(s, d),
      matrix = Some(TextOps.corpusLmTransferMatrix(s, d))),
    Some(s"""WITH ${TextOps.lmTransferCtes},
            gaps AS (
              SELECT a.from_source AS source,
                round(a.cross_entropy - b.cross_entropy, 6) AS transfer_gap
              FROM hh a JOIN hh b
                ON b.from_source = a.from_source AND b.to_source = a.from_source
              WHERE a.to_source <> a.from_source),
            nov AS (
              SELECT source,
                round(CAST(sum(CAST(floor(transfer_gap * 1e6 + 0.5) AS BIGINT))
                    AS DOUBLE)
                  / NULLIF(CAST(count(*) AS DOUBLE) * 1e6, 0.0), 6) AS novelty
              FROM gaps GROUP BY source),
            masses AS (
              SELECT source,
                CAST(sum(len(list_filter(
                  regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                  t -> t <> ''))) AS BIGINT) AS tok_mass
              FROM documents GROUP BY source),
            jn AS (
              SELECT m.source, m.tok_mass, coalesce(n.novelty, 0.0) AS novelty
              FROM masses m LEFT JOIN nov n ON n.source = m.source),
            tt AS (SELECT CAST(sum(tok_mass) AS BIGINT) AS tok_tot FROM jn),
            w AS (
              SELECT source, tok_mass, novelty,
                CAST(tok_mass AS DOUBLE) / CAST(tok_tot AS DOUBLE) AS base_share,
                CAST(floor((CAST(tok_mass AS DOUBLE) / CAST(tok_tot AS DOUBLE))
                  * exp(0.25 * novelty) * 1e9 + 0.5) AS BIGINT) AS w_nano
              FROM jn, tt),
            wt AS (SELECT CAST(sum(w_nano) AS BIGINT) AS w_tot FROM w)
            SELECT source, tok_mass,
              round(base_share, 6) AS base_share, novelty,
              round(CAST(w_nano AS DOUBLE) / NULLIF(CAST(w_tot AS DOUBLE), 0.0), 6)
                AS new_share,
              round(CAST(w_nano AS DOUBLE) / NULLIF(CAST(w_tot AS DOUBLE), 0.0)
                - base_share, 6) AS shift
            FROM w, wt ORDER BY source"""))

  val all: Seq[Q] =
    Seq(pipeline, mix, audit, epoch, refresh, dedupMix, funnel, curriculum, card,
      seedAudit, tokenFunnelQ, budgetFillQ, ingestAuditQ, gateAttributionQ,
      releaseChurnQ, releaseFingerprintQ, mixReweightQ)
}
