package graft

/** Results must not depend on the cluster geometry: the same query at a
  * different shuffle-partition count (a different cluster size, a rescaled
  * job, AQE choosing differently) has to produce byte-identical rows.
  * SamplingSpec asserts this for the md5-bucket samplers; this suite covers
  * the round-5 operators whose plans involve windows, prefix scans, and
  * banded self-joins — the shapes where nondeterminism would hide (a
  * partition-dependent tie-break, an accumulator order, a local prefix
  * stitched wrong).
  *
  * `spark.sql.shuffle.partitions` is a runtime conf: set per run, restored
  * after. The shared session runs local[4], so 3 vs 17 exercises both
  * fewer-than-cores and more-than-cores geometries.
  */
class PartitionInvarianceSpec extends SparkSpec {

  private val names = Seq(
    "d11_repeated_spans", "t16_shingle_novelty", "t17_sequence_pack",
    "q29_funnel_conversion", "t18_freq_spectrum", "d12_neardup_consensus",
    // Round-6: cohort retention (user-keyed window + distinct), blocklist
    // scrub (map-only — invariant by construction, asserted anyway),
    // perceptual banding (self-join + distinct), and PQ-ADC (the hard one:
    // k-means partials ride reduceByKey, so codebook floats can differ at
    // ulp level across geometries — the exact-cosine rerank over an
    // 8×topK shortlist is what makes the OUTPUT invariant, and this test
    // is the gate proving that claim).
    "q30_cohort_retention", "t19_blocklist_scrub", "m06_media_neardup",
    "s08_ann_pq",
    // d13's first-occurrence window must pick the same survivor at any
    // geometry (the (doc_id, chunk_idx) total order is the point); t20 is
    // map-only, asserted as the control; t21's iterative arg-max must pick
    // the same merge at any geometry (exact long counts + lex tie rule —
    // this is the gate proving the trainer is reduce-order-proof).
    "d13_chunk_scrub", "t20_quality_gate", "t21_bpe_merges",
    "t22_source_profile",
    // p01 composes a window, a prefix scan, and a keyed join — each
    // geometry-sensitive if mis-keyed; the composition must stay exact.
    "p01_corpus_pipeline",
    // t23's freqItems CANDIDATES vary with partition layout (single-pass
    // sketch merge); the exact verify pass must cull that variance so the
    // OUTPUT is geometry-invariant — this is the gate proving it.
    "t23_heavy_hitters",
    // Round-6 second wave: d14's bucket self-join + min-dominator agg must
    // pick the same dominator at any geometry (exact integer min over a
    // deterministic pair set); t24's per-doc weight sum is exact BIGINT
    // arithmetic (the integer-milli design exists so reduce order CANNOT
    // matter — this is the gate proving it); t25 composes the t21 trainer
    // (already gated) with a map-only encode; q31's rates derive from
    // exact token totals and the keep decision is md5-bucketed.
    "d14_semantic_dedup", "t24_classifier_score", "t25_bpe_encode",
    "q31_temperature_mix",
    // Round-6 third wave: m07's lag window is doc-keyed over a unique
    // (doc_id, start) order (no ties to break); t27's per-doc sum is
    // exact BIGINT by the integer-milli design AND its learned bucket
    // model must come out identical at any reduce geometry (exact long
    // counts); s09 is a map-side filter over a broadcast probe set; t26
    // is map-only, asserted as the control.
    "m07_scene_cuts", "t27_dsir_importance", "s09_radius_search",
    "t26_nfc_normalize",
    // p02 composes a source-keyed agg, a bounded crossJoin, a map-side
    // md5 keep decision and the two-phase prefix scan — the same
    // geometry-sensitive shapes p01 gates, in the mix-assembly order.
    "p02_mix_pipeline",
    // q32's struct-max window must attribute the same click at any
    // geometry (the (us, event_id) struct order IS the tie rule); m08's
    // lag-run counting is doc-keyed over a unique frame order.
    "q32_last_touch_attribution", "m08_voiced_segments",
    // s10's greedy runs whole-group inside flatMapGroups with a total
    // (score, rel, id) tie order — the gate proves the selection can't
    // depend on how the shortlist's rows were shuffled in.
    "s10_ann_mmr_diversify",
    // d15's argmax must pick the same representative at any geometry:
    // alpha_ratio sits on a rounded 4-decimal grid and doc_id breaks
    // ties — a total order, gated here. d16 rolls d02's pair set up by
    // source pair — invariant iff the pair set is (d02 already gated).
    "d15_cluster_best_keep", "d16_dup_provenance",
    // q33's successor pairing rides the same (us, event_id) tie rule q29
    // gates; the probability derives from exact integer counts via `div`,
    // so no reduce-order float drift is possible — gated here to prove it.
    "q33_event_transitions",
    // q34's quartile cuts come from Spark's exact `percentile` (an
    // order-independent value→count map) and every score is a threshold
    // compare against interpolations at f ∈ {.25,.5,.75} over integers —
    // exact fp, so the segment labels cannot move with geometry.
    "q34_rfm_segments",
    // t28's medians ride the same exact `percentile` map; dev2/mad4 are
    // BIGINT and the outlier decision is an all-integer compare — no
    // reduce-order or geometry sensitivity anywhere, gated to prove it.
    "t28_length_outliers",
    // d17 is a map-only scan with literal-inlined eval vectors; the only
    // geometry-sensitive step would be the struct arg-max, which breaks
    // ties on the ROUNDED similarity — gated to prove the tie-break holds
    // at any partitioning.
    "d17_embedding_decontaminate",
    // Round-9 wave: t32's rank window ties on (cnt DESC, token ASC) — a
    // total order — and its regression sums are quantized BIGINTs, so no
    // reduce-order drift is possible; d20/d21's joins must produce the
    // same pair/leak sets at any geometry (distinct inputs + exact
    // counts); t33/m09/p04 ride the range-exchange prefix scan whose
    // partition-count independence is the design claim (OperatorSpec
    // gates explicit repartitions; this gates shuffle.partitions);
    // q36's Expand and q37's shared-exchange windows have total orders.
    "t32_zipf_fit", "d20_cross_source_overlap", "d21_split_leakage",
    "t33_epoch_shuffle", "m09_shard_manifest", "p04_epoch_assembly",
    "q36_grouping_sets", "q37_scd2_history",
    // d22 compares two geometry-invariant tables (d02-gated candidates +
    // exact counts; lane minima are exact longs) — gated to prove the
    // calibration table itself cannot move with geometry.
    "d22_sketch_calibration",
    // Round-10 wave: d04/d18 now route through the df-capped kernel
    // (window df + merge-hinted pairing join + hot-set arrays) — gated
    // to prove the rare/hot split can't move pairs with geometry; d23/
    // t34 are its report/score companions (exact counts + rounded
    // fractions); q38 is two aggregates and a cross join; m10 explodes
    // m09's gated manifest with interval arithmetic; p05's anti-join +
    // prefix scan rides the same range-exchange claim as p04.
    "d04_ngram_jaccard", "d18_containment_pairs", "d23_boilerplate_report",
    "t34_templated_docs", "q38_key_skew_profile", "m10_shard_fill",
    "p05_refresh_manifest",
    // q39's z derives from BIGINT window sums over a (hour, type)-unique
    // total order; m11 is a map-only scan against literal eval
    // signatures — both gated to prove no geometry sensitivity.
    "q39_rate_anomaly", "m11_media_decontaminate",
    // d24/p06 ride d01's fingerprint window (total order: min doc_id per
    // fp) into source-keyed exact aggregates; p06's rates are one
    // identically-written double expression over BIGINTs.
    "d24_dup_inflation", "p06_dedup_mix_rates",
    // t35/p07 are map-only feature scans into bounded exact aggregates
    // (p07 adds d01's fingerprint window); d25 is two exact aggregates
    // + a 1-row total; s13 ranks on (cos desc, neighbor_id) — a total
    // order — before its bounded per-query aggregate.
    "t35_lang_mismatch", "p07_survival_funnel", "d25_cluster_spectrum",
    "s13_knn_label_purity",
    // q40: exact distinct aggregates over day keys — order-free by
    // construction; the explode emits a deterministic multiset.
    "q40_wau_stickiness",
    // d26: hot set is an exact df filter; coverage/anti-join are exact
    // set ops; reassembly sorts by (pos, tok) before digesting.
    "d26_template_scrub",
    // t36: integer-unit means over exact doc aggregates; fixed-width
    // bins over the pre-rounded score.
    "t36_classifier_calibration",
    // p08's rates are sqrt chains of exact BIGINT ratios (q31's parity
    // trick); p09 is one exact multi-distinct aggregate + a constant
    // unpivot.
    "p08_curriculum_schedule", "p09_data_card",
    // q41 rides q29's gated (us, event_id) window tie rule into an exact
    // BIGINT latency bucket and a 1-row total — gated to prove the first
    // view / first qualifying purchase can't move with geometry.
    "q41_conversion_latency",
    // t37's vocab is a TakeOrdered-K over exact counts with the (cnt
    // DESC, token ASC) total order; the scoring path consumes only vocab
    // MEMBERSHIP (collect_list order may vary with geometry — contains
    // doesn't see it) — gated to prove the flag set can't move.
    "t37_vocab_coverage",
    // p10 composes d01's gated fingerprint window with TWO t33 prefix
    // scans and a merge-hinted full-outer join; its stats are exact
    // BIGINT sums — gated to prove the whole composition holds the
    // partition-count-independence claim.
    "p10_seed_reproducibility",
    // Round-11 wave: q42's collect_list arrives in partition order — the
    // array_sort over the total (ts, event_id, type) struct order is what
    // makes the path deterministic, and this gate proves it; t38 is
    // map-only (control); d27 rolls the d02-gated cluster set up with a
    // min_by over the unique doc_id; p11 is p07's gated shapes with
    // exact BIGINT token sums; s14 rolls s13's gated (cos desc,
    // neighbor_id) ranking into exact integer vote cells.
    "q42_session_paths", "t38_sentence_profile", "d27_cluster_source_mix",
    "p11_token_funnel", "s14_knn_label_confusion",
    // Round-11 second wave: p12 rides the range-exchange prefix scan
    // (p04's claim) ordered by the pre-rounded (score, doc_id) total
    // order with exact BIGINT token sums; s15's Lloyd loop is the
    // division-free integer design — assignments tie-break on the
    // rounded-9 cosine grid and centroid sums are exact BIGINTs, so no
    // reduce geometry can move a label (this gate proves it); m12 closes
    // m06's gated pair set with min-label components (exact longs); t39
    // is a map-only scan into exact micro-unit sums (control).
    "p12_budget_fill", "s15_kmeans_cartography",
    "m12_media_neardup_clusters", "t39_readability_bands",
    // s16: quantized-BIGINT per-dim sums (order-free), a dim-bounded
    // full-outer join, and a LIMIT-6 cutoff over the (shift DESC, dim)
    // total order — gated to prove the flag set can't move.
    "s16_embedding_drift",
    // t40: exact BIGINT bigram counts, per-row ln quantized to micro-nats
    // BEFORE the cross-row sum — gated to prove the matrix can't drift
    // with reduce geometry (the t36 avg(double) class, pre-empted).
    "t40_lm_transfer",
    // d28: exact BIGINT df counts per wave and a cross-multiplied
    // integer ratio compare — no fp boundary to move with geometry.
    "d28_boilerplate_drift",
    // p13: the composed verdict — every leg is exact integers (gated
    // components) and every gate compare is integer or pre-rounded.
    "p13_ingest_audit",
    // q43: centi-unit BIGINT partial states merged by full-outer join —
    // associative by design; gated to prove no geometry can move the
    // maintained view off its recompute.
    "q43_incremental_agg",
    // d29/d30: chunk ownership is an associative min-struct aggregate and
    // every count is BIGINT; d29's digest reassembles via sort_array (a
    // per-doc total order), d30's report is pure counts — gated to prove
    // chunk boundaries and ownership can't move with reduce geometry.
    "d29_cdc_dedup", "d30_hot_chunks",
    // q44: five 1-row integer-count legs; the only double is a round-6 of
    // an exact integer ratio.
    "q44_referential_audit",
    // m13: per-symbol ln terms quantized to micro-nats BEFORE the per-doc
    // sum (t40's rule), and a LIMIT-50 cutoff over the (entropy_micro,
    // doc_id) total order — gated to prove the flag set can't move.
    "m13_payload_entropy",
    // p14: integer combo counts over deterministic boolean gates; the dup
    // flag rides a fp-partitioned min window (exact), shares are round-6
    // of exact ratios.
    "p14_gate_attribution",
    // s17: exact-integer Lloyd centroids (the s15 argument), BIGINT
    // stored/probe counts, and an integer cross-multiplied flag.
    "s17_probe_traffic_balance",
    // s18: s15's exact-integer assignment against resident-trained
    // centroids, BIGINT conditional counts, the share-shift ranked by a
    // BIGINT cross-product with a LIMIT-2 cutoff over a total order.
    "s18_cluster_population_drift",
    // t41: BIGINT confusion counts per literal threshold (the keep
    // decision is a BIGINT cross-multiplication); doubles are round-6
    // of exact ratios.
    "t41_gate_threshold_curve",
    // p15: fingerprint-grain min-struct keepers (total order), BIGINT
    // churn counts, and the s17-style cross-multiplied fair-share flag.
    "p15_release_churn",
    // t42: exact-count top-K vocab (lexicographic ties), per-cell KL
    // terms quantized to nano-nats BEFORE the pair sum, nearest rank
    // over the exact integer — gated to prove the matrix and flag can't
    // move with reduce geometry.
    "t42_source_divergence",
    // m14: m13's micro-nat cutoff + m06's exact pair set + m09's
    // prefix-scan slots, composed — every leg already integer-exact;
    // gated to prove the composed verdicts and slots can't move.
    "m14_media_pipeline",
    // q45: q37's deterministic (ts, event_id)-ordered windows + the
    // as-of kernel's explicit tie rule — no floats anywhere; gated to
    // prove the matched interval can't move with reduce geometry.
    "q45_point_in_time_enrich",
    // Round-12 second wave: q46 is exact BIGINT min/max/count per user
    // closed by integer division and a cross-multiplied band — order-free
    // by construction; d31 rides d24's gated fp window into BIGINT
    // micro-weight sums; p16's digest is a commutative/associative XOR
    // over the d01 keeper grain (min-struct total order) re-aggregated
    // through one ROLLUP — gated to prove the stamp can't move with
    // reduce geometry (a digest that moved would be worse than none).
    "q46_purchase_cadence", "d31_soft_dedup", "p16_release_fingerprint",
    // m15 rides the t33/m09 range-exchange prefix scan into exact
    // interval arithmetic (BIGINT spans, integer window cuts) — gated to
    // prove the window layout can't move with shuffle geometry.
    "m15_interleave_pack",
    // s19: s15's exact-integer codebook, round-9 cosines under the
    // (rc DESC, id) total order in BOTH rank windows, BIGINT hit counts
    // — gated to prove the operating curve can't move with geometry.
    "s19_nprobe_curve",
    // q47: one equi-join + exact (priority, band) counts; the share
    // window partitions the BOUNDED aggregate (≤ priorities × 5 rows)
    // and every cut is an integer compare — no geometry sensitivity.
    "q47_fulfillment_latency",
    // q48: ranks ride the range-exchange prefix scan over the
    // (segment, cents, o_orderkey) total order (t33's partition-count-
    // independence claim), Σ(rank·cents) is an exact DECIMAL(38,0) sum,
    // and both closers are single double expressions over exact
    // integers — gated to prove Gini can't move with geometry.
    "q48_spend_concentration",
    // t43 composes the gated t21 trainer with t25's map-only encode and
    // exact BIGINT cell sums — gated to prove the fertility table can't
    // move with reduce geometry.
    "t43_bpe_fertility",
    // p17 rides t40's gated micro-nat matrix into a micro-quantized
    // novelty mean, ONE exp per source on the round-6 grid, and
    // nano-quantized weights normalized by exact BIGINT sums — gated to
    // prove the published mix can't move with reduce geometry.
    "p17_mix_reweight",
    // d32: d02's gated signature/candidate machinery probed bipartite,
    // exact counts, and a struct-max best match tie-broken on the
    // round-4 Jaccard grid then lowest resident id (d15's rule) —
    // gated to prove the admit set can't move with geometry.
    "d32_incremental_neardup")

  test("round-5/6 queries return identical rows at shuffle.partitions = 3 and 17") {
    val conf = spark.conf
    val before = conf.get("spark.sql.shuffle.partitions")
    def rowsAt(n: Int, name: String): Seq[String] = {
      conf.set("spark.sql.shuffle.partitions", n.toString)
      spark.catalog.clearCache()
      // Sorted canon: query results are unordered — the invariance claim
      // is on the row SET, matching the correctness gate's row-sorted
      // compare.
      SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted
    }
    try names.foreach { name =>
      val a = rowsAt(3, name)
      val b = rowsAt(17, name)
      assert(a == b, s"$name differs across partition counts: " +
        s"${a.diff(b).take(2)} vs ${b.diff(a).take(2)}")
      assert(a.nonEmpty, s"$name returned no rows at sf0.001")
    } finally conf.set("spark.sql.shuffle.partitions", before)
  }
}
