package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Plan audit over the whole query inventory — exchange / join operator
  * counts plus detection of the plan shapes that must never appear
  * unannounced: `CartesianProduct` (always a bug at scale),
  * `BroadcastNestedLoopJoin` outside an explicit allowlist, unpartitioned
  * windows, and BROADCAST HINTS whose child subtree reads a corpus-scale
  * table (a hard hint is a plan-time promise that the relation fits in one
  * executor — made before anyone has seen its size; at 100 TB that promise
  * kills the job at broadcast-build time, where leaving the choice to AQE
  * degrades to a shuffle join instead). Runs as a regression GATE:
  * `PlanAuditSpec` fails `sbt test` on any violation, and the CLI main
  * exits nonzero, so a plan that drifts to a quadratic join or an
  * unbounded broadcast breaks the build instead of surfacing one round
  * later in a bench.
  *
  * `runMain graft.PlanAudit [sfDir]` for the one-line-per-query report.
  */
object PlanAudit {

  /** Queries whose BroadcastNestedLoopJoin is deliberate:
    *  - s01/s09: the exact ANN baseline and the exact radius search score
    *    every (query, corpus) pair by design — a broadcast of 10 query
    *    rows against the corpus scan.
    *  - t08/t11: a 1-row `crossJoin(broadcast(<count>))` scalar attach —
    *    corpus × 1 row, map-side, benign.
    *  - q31: the rate table build crossJoins the per-source totals
    *    (source-count-sized, plateaus ~10^2-10^3 at any corpus size)
    *    with the 1-row global-min aggregate — bounded × 1 row.
    *  - t27: the 512-row hashed-bucket model crossJoins its 1-row totals
    *    aggregate — fixed-size × 1 row.
    */
  val bnljAllowlist: Set[String] =
    // s01 carries NO entry since round 14: it reads the session-memoized
    // exact-top-k checkpoint. Since round 15 the BUILD plan behind that
    // checkpoint is audited explicitly (the memo plan hook) as:
    Set(
      // memo:bf = the exact ANN ground-truth build — s01's old shape: a
      // broadcast of the LIMIT-10 query probe against the corpus scan,
      // every (query, corpus) pair scored by design.
      "memo:bf@10@5",
      "s09_radius_search", "s10_ann_mmr_diversify",
      // s13: s01's broadcast-probe scan carrying labels (vec_id < 20).
      "s13_knn_label_purity",
      "t08_tfidf_topterms",
      "t11_cooccur_pmi", "t27_dsir_importance", "q31_temperature_mix",
      // p02 composes q31's rate build — the same source-totals ×
      // 1-row-min crossJoin, bounded × 1 row.
      "p02_mix_pipeline",
      // q34: the user-aggregate table crossJoins the 1-row quartile-cut
      // aggregate — corpus-derived × 1 row, map-side, benign (q12's shape).
      "q34_rfm_segments",
      // d23/q38: the report/profile tables crossJoin a 1-row corpus-total
      // aggregate (n_docs / (n_total, max_rows)) — bounded × 1 row.
      "d23_boilerplate_report", "q38_key_skew_profile",
      // p05: the accepted-wave manifest crossJoins the 1-row resident
      // token-total aggregate — the append cursor's base, × 1 row.
      "p05_refresh_manifest",
      // p06: two 1-row minimum attachments (q31's shape, twice).
      "p06_dedup_mix_rates",
      // d25: one 1-row corpus-total attachment over the group-size
      // spectrum (output = #distinct group sizes × 1 row).
      "d25_cluster_spectrum",
      // p08: q31's 1-row minimum attachment, then a bounded 4-way
      // epoch explode — source-count × 1 row × 4.
      "p08_curriculum_schedule",
      // q41: the ≤7-row latency-bucket rollup crossJoins its 1-row
      // viewer-total aggregate — q38's bounded × 1 row shape.
      "q41_conversion_latency",
      // t37: the corpus scan crossJoins the 1-row top-K vocab array
      // (TakeOrdered-K → one collect_list row) — bounded × 1 row;
      // scoring stays map-only against the array.
      "t37_vocab_coverage",
      // q42: the path rollup crossJoins its 1-row session-total aggregate
      // (q38/q41's bounded × 1 row shape).
      "q42_session_paths",
      // s14: s13's broadcast-probe scan (vec_id < 20 query set).
      "s14_knn_label_confusion",
      // s15: the k-row cluster table crossJoins its 1-row total aggregate
      // (q38/q42's bounded × 1 row shape).
      "s15_kmeans_cartography",
      // s16: the dim-bounded drift table crossJoins its 1-row LIMIT-6
      // cutoff aggregate.
      "s16_embedding_drift",
      // d28: the delta-hot vocabulary crossJoins its 1-row wave-count
      // aggregate (d23's shape).
      "d28_boilerplate_drift",
      // p13: three 1-row leg aggregates crossJoin into the one verdict
      // row (plus d28's embedded wave-count crossJoin).
      "p13_ingest_audit",
      // m13: the per-doc entropy table crossJoins its 1-row LIMIT-50
      // cutoff aggregate (s16's min-over-LIMIT-k shape on the doc axis).
      "m13_payload_entropy",
      // s17: the k-row cell table crossJoins its 1-row storage/probe
      // totals aggregate (s15's bounded × 1 row shape).
      "s17_probe_traffic_balance",
      // s18: the k-row cell table takes two 1-row attachments — the
      // wave-totals aggregate (s15's shape) and the LIMIT-2 share-shift
      // cutoff (s16's min-over-LIMIT-k shape on the cell axis).
      "s18_cluster_population_drift",
      // p15: the #sources-row churn ledger crossJoins its 1-row global
      // totals aggregate (s17's fair-share bounded x 1 row shape).
      "p15_release_churn",
      // t42: three bounded attachments — the (source, word) table and the
      // distinct-source list each crossJoin the 1-row top-K vocab array
      // (t37's shape), and the dense cell table crossJoins the 1-row
      // alphabet-size aggregate; the pair join itself is cell-keyed and
      // bounded by sources² × (K+1).
      "t42_source_divergence",
      // q46: the per-user cadence table crossJoins the 1-row
      // observation-horizon aggregate (q38/q41's bounded × 1 row shape).
      "q46_purchase_cadence",
      // s19: s01's broadcast-probe scan (the bounded LIMIT-16 query slice
      // × corpus, map-side) plus the ≤ 4-row curve's 1-row totals attach.
      "s19_nprobe_curve",
      // p17: two 1-row attaches over the ≤ #sources reweighting table
      // (token total, then the nano-weight normalizer — q31's shape
      // twice); the t40 kernel underneath is keyed joins only.
      "p17_mix_reweight",
      // d34: each of the 3 curve rows is four 1-row aggregates
      // (candidates / verified / hits / truth counts) crossJoined —
      // 1 row × 1 row, p13's verdict-row shape.
      "d34_band_operating_curve",
      // q49: the ≤4-row gap-band rollup crossJoins its 1-row total
      // aggregate (q41's bounded × 1 row shape).
      "q49_purchase_gap_bands",
      // d36: five 1-row artifact rollups crossJoin into the one release
      // verdict row (p13's shape).
      "d36_release_dedup_report",
      // view:release_report = the maintained release view's per-batch
      // report plan (audited via the plan hook, once per driven batch —
      // bootstrap and incremental shapes): d36's exact shape — five
      // 1-row rollups crossJoined into the one verdict row.
      "view:release_report@b0", "view:release_report@b1")
      // m14 carries m13's 1-row cutoff crossJoin but needs NO entry: the
      // planner turns the attach into a broadcast hash join under the
      // composed plan (the staleness gate rejected the precautionary
      // entry — the list can't rot in either direction).

  /** Tables that are corpus-/fact-scale at the 100 TB target — anything
    * derived from one of these is presumed unbounded unless the deriving
    * query proves otherwise. Dimension tables (region/nation/customer/
    * supplier/part) are deliberately absent: broadcasting a filtered dim
    * is the standard star-join plan. */
  val corpusTables: Set[String] =
    Set("lineitem", "orders", "events", "documents", "embeddings",
      // The maintained views' accumulated wave indexes: append-only
      // per-batch parquet under <state>/waves/ — they GROW with corpus
      // size, so any subtree scanning them is corpus-scale by
      // construction (the release view's maintenance plan reads them
      // every batch; round 15's audit covered only the query inventory
      // and the hinted keep-verdict legs inside that plan escaped).
      "/waves/")

  /** Queries allowed to carry a broadcast HINT over a subtree that reads a
    * corpus-scale table, each with the boundedness argument. The bound
    * must be STRUCTURAL (a limit, a fixed probe set, a plateauing
    * cardinality) — "it's small at this SF" does not qualify; that case
    * belongs to AQE, not a hint. Entries are staleness-checked: if the
    * hinted pattern disappears from the query's plan, the build fails
    * until the entry is removed, so the list can't rot. */
  val broadcastAllowlist: Map[String, String] = Map(
    // d07/p18/d36: no entries since round 16 — the keep-verdict legs no
    // longer hint at all. Round 15's entries rested on "drop sets ≪
    // corpus", which is FALSE on dup-heavy crawls (30–50% exact dups is
    // normal raw web data — the workload dedup exists for); at 10⁹ docs
    // the hinted drop-list build crosses Spark's 8-GB broadcast limit and
    // the hint bypasses AQE's size check. The exact-dup verdict is now
    // computed inline from the fp window (no self-join); the near-dup
    // join is un-hinted so AQE sizes it at runtime.
    // d10_incremental_keep: no entry since round 15 — its hinted
    // relations all derive from session-memoized CHECKPOINTS (resident
    // fingerprints/bands/counts) or the delta tables keyed off them, so
    // no hinted subtree reads a corpus table; the memoized build plans
    // are audited explicitly as memo:d10* via the plan hook.
    // s01/s02/s04/s08: no entries since round 14 — their probe sides are
    // LIMIT-10 slices of the session-memoized embeddings CHECKPOINT, so
    // no hinted subtree reads a corpus table anymore (checkpointed
    // leaves carry no table identity; the one-time memo build is audited
    // through whichever query runs it first).
    "s09_radius_search" -> "probe side is a LIMIT-10 query set",
    "s10_ann_mmr_diversify" -> "probe side is a LIMIT-10 query set",
    // s05_ann_recall: no entry — its hints broadcast probe sets derived
    // from the shared eagerly-checkpointed embeddings table (checkpointed
    // leaves carry no table identity, and each probe set is the same
    // LIMIT-10 bound as s01's).
    "s07_ann_ivf_append" -> "probe side is a LIMIT-10 query set",
    "s11_ann_filtered" -> ("probe side is the vec_id < 10 literal-bounded " +
      "query set carrying its filter label — s01's argument; the filtered " +
      "corpus side streams map-side against the broadcast probes"),
    "s13_knn_label_purity" -> ("probe side is the vec_id < 20 literal-bounded " +
      "query set carrying its label — s01's argument; the purity aggregate " +
      "runs over the k-row-per-query shortlist"),
    "s14_knn_label_confusion" -> ("probe side is the vec_id < 20 " +
      "literal-bounded query set carrying its label — s13's argument; the " +
      "confusion rollup runs over the ≤ |labels|² vote table"),
    "t08_tfidf_topterms" -> ("docFreq is vocabulary-sized (distinct unigrams " +
      "plateau ~10^7) + a 1-row corpus count"),
    "t11_cooccur_pmi" -> ("docFreq is vocabulary-sized (distinct unigrams " +
      "plateau ~10^7) + a 1-row corpus count"),
    "t23_heavy_hitters" -> ("hinted relation is the freqItems candidate " +
      "set, capped at 1/support (= 100) items by the sketch's contract — " +
      "structurally bounded regardless of corpus size; broadcasting it " +
      "is the point (map-side filter instead of a full-vocabulary " +
      "shuffle)"))

  /** Corpus-scale table names read under `plan` (best effort: parquet
    * scans are identified by path; checkpointed/in-memory leaves have no
    * table identity and can't re-trip the gate — acceptable, because an
    * eagerly-materialized checkpoint is already size-bounded by having
    * been built). */
  def corpusLeavesUnder(plan: LogicalPlan): Set[String] =
    plan.collectLeaves().flatMap {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.flatMap(p =>
              corpusTables.filter(t => p.toString.contains(t)))
          case _ => Nil
        }
      case _ => Nil
    }.toSet

  /** Tables reached by a BROADCAST hint's child subtree, per hint. */
  def corpusBroadcasts(analyzed: LogicalPlan): Set[String] =
    analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
        corpusLeavesUnder(h.child)
    }.flatten.toSet

  final case class Audit(
      name: String,
      exchanges: Int,
      sortMergeJoins: Int,
      broadcastHashJoins: Int,
      cartesian: Boolean,
      bnlj: Boolean,
      globalWindow: Boolean,
      corpusHinted: Set[String],
      error: Option[String]) {
    def line: String = {
      val flags = (if (cartesian) " CARTESIAN!" else "") +
        (if (bnlj) " BNLJ" else "") + (if (globalWindow) " GLOBAL-WINDOW!" else "") +
        (if (corpusHinted.nonEmpty) s" HINT[${corpusHinted.toSeq.sorted.mkString(",")}]" else "")
      error match {
        case Some(e) => f"[audit] $name%-28s FAILED: ${e.take(100)}"
        case None =>
          f"[audit] $name%-28s exch=$exchanges%2d smj=$sortMergeJoins%2d bhj=$broadcastHashJoins%2d$flags"
      }
    }
  }

  def auditOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Audit =
    try auditFrame(name, fn(spark, sfDir))
    catch {
      case e: Throwable => Audit(name, 0, 0, 0, cartesian = false, bnlj = false,
        globalWindow = false, corpusHinted = Set.empty,
        error = Some(String.valueOf(e.getMessage)))
    }

  /** Audit an already-constructed frame — the memo plan hook's entry
    * point (build plans exist as DataFrames, not (session, dir)
    * thunks). */
  def auditFrame(name: String, df: org.apache.spark.sql.DataFrame): Audit =
    try {
      val qe = df.queryExecution
      val plan = qe.executedPlan.toString
      // An unpartitioned window moves every row to one task (t14's old
      // prefix-sum bug class) — detect on the logical plan, where the
      // partition spec is explicit and AQE wrapping can't hide it.
      val globalWindow = qe.optimizedPlan.collectFirst {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.nonEmpty
      def n(s: String) = s.r.findAllIn(plan).length
      Audit(name, n("Exchange"), n("SortMergeJoin"), n("BroadcastHashJoin"),
        plan.contains("CartesianProduct"), plan.contains("BroadcastNestedLoopJoin"),
        globalWindow, corpusBroadcasts(qe.analyzed), None)
    } catch {
      case e: Throwable => Audit(name, 0, 0, 0, cartesian = false, bnlj = false,
        globalWindow = false, corpusHinted = Set.empty,
        error = Some(String.valueOf(e.getMessage)))
    }

  /** Audit every inventory query AND every session-memo build plan.
    * Memo artifacts are eagerly checkpointed at query-construction time,
    * so a consumer query's audited plan shows only a checkpoint LEAF —
    * without this, the build's join/broadcast shape would escape the
    * audit entirely (and WHICH query triggers the build would depend on
    * run order). So: clear the memos, install the pre-checkpoint plan
    * hook, and audit each build as its own `memo:<artifact>` entry —
    * coverage is order-independent because every build re-runs under the
    * hook. */
  def auditAll(spark: SparkSession, sfDir: String): Seq[Audit] = {
    SessionMemo.clearAll()
    val memoAudits = scala.collection.mutable.ArrayBuffer.empty[Audit]
    val seen = scala.collection.mutable.Set.empty[String]
    graft.MemoLedger.planHook = Some((name, df) => {
      if (seen.add(name)) memoAudits += auditFrame(name, df)
      ()
    })
    try {
      val qAudits = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        auditOne(spark, sfDir, name, fn)
      }
      // The maintained release view's per-batch plan runs OUTSIDE the
      // query inventory (foreachBatch) yet carries the dirty-bucket fold
      // and the keep-verdict leg over the accumulated wave index — drive
      // two real maintenance batches so its plans land in the audit
      // through the same hook the memo builds use. The batches have
      // DIFFERENT plan shapes (batch 0 bootstraps from empty state;
      // batch 1 is the incremental path over committed state — the
      // production steady state), and the hook dedups by name, so each
      // batch's plans are recorded under a @b<id> suffix: a hinted
      // broadcast present only in the incremental lineage cannot hide
      // behind the bootstrap batch's plan of the same name. The /waves/
      // entry in corpusTables makes any hinted broadcast whose lineage
      // reads the accumulated index a violation.
      try {
        val state = new java.io.File(
          "target/plan-audit-release-view").getAbsolutePath
        val statePath = new org.apache.hadoop.fs.Path(state)
        statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(statePath, true)
        val docs = graft.sources.Tables.documents(spark, sfDir)
        val outer = graft.MemoLedger.planHook
        try {
          Seq(0L, 1L).foreach { b =>
            graft.MemoLedger.planHook =
              outer.map(h => (name, df) => h(s"$name@b$b", df))
            graft.streaming.ViewStreams.mergeReleaseBatch(
              spark,
              docs.filter(
                org.apache.spark.sql.functions.col("doc_id") % 2 === b),
              state, b)
          }
        } finally graft.MemoLedger.planHook = outer
      } catch {
        case e: Throwable =>
          memoAudits += Audit("view:release_maintenance", 0, 0, 0,
            cartesian = false, bnlj = false, globalWindow = false,
            corpusHinted = Set.empty,
            error = Some(String.valueOf(e.getMessage)))
      }
      qAudits ++ memoAudits.toSeq.sortBy(_.name)
    } finally graft.MemoLedger.planHook = None
  }

  /** Violation strings (empty = gate passes): plan-compile failures,
    * cartesian products anywhere, BNLJ outside the allowlist, broadcast
    * hints over corpus-scale subtrees outside THEIR allowlist — and stale
    * allowlist entries whose pattern disappeared (so the lists can't rot). */
  def violations(audits: Seq[Audit]): Seq[String] =
    audits.flatMap { a =>
      // flatMap, not collect-with-cases: one audit can violate several
      // rules at once and each must surface (a BNLJ must not mask a
      // corpus-broadcast hint).
      a.error.map(e => s"${a.name}: plan failed: $e").toSeq ++
        (if (a.cartesian) Seq(s"${a.name}: CartesianProduct in plan") else Nil) ++
        (if (a.bnlj && !bnljAllowlist(a.name))
          Seq(s"${a.name}: BroadcastNestedLoopJoin not in allowlist") else Nil) ++
        (if (a.globalWindow)
          Seq(s"${a.name}: unpartitioned Window (all rows to one task)") else Nil) ++
        (if (a.corpusHinted.nonEmpty && !broadcastAllowlist.contains(a.name))
          Seq(s"${a.name}: broadcast HINT over corpus-scale table(s) " +
            s"${a.corpusHinted.toSeq.sorted.mkString(",")} — drop the hint (AQE " +
            "broadcasts small relations at runtime) or add a broadcastAllowlist " +
            "entry with a STRUCTURAL boundedness argument") else Nil)
    } ++
      bnljAllowlist.toSeq.sorted.collect {
        case n if !audits.exists(a => a.name == n && a.bnlj) =>
          s"$n: allowlisted BNLJ no longer present — remove it from bnljAllowlist"
      } ++
      broadcastAllowlist.keys.toSeq.sorted.collect {
        case n if !audits.exists(a => a.name == n && a.corpusHinted.nonEmpty) =>
          s"$n: allowlisted corpus-table broadcast hint no longer present — " +
            "remove it from broadcastAllowlist"
      }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.get("graft-plan-audit")
    val audits = auditAll(spark, sfDir)
    audits.foreach(a => println(a.line))
    val v = violations(audits)
    spark.stop()
    if (v.nonEmpty) {
      v.foreach(x => System.err.println(s"[audit] VIOLATION: $x"))
      sys.exit(1)
    }
  }
}
