package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Pipeline, Relational, Similarity, TextOps}
import graft.sources.Tables

/** Per-operator sanity on sf0.001 (semantics the oracle can't see: plan
  * shape, internal invariants, approximate-op quality). The value-exact gate
  * is the DuckDB oracle via Verify — these specs cover what it can't.
  */
class OperatorSpec extends SparkSpec {

  test("all inventory queries execute and return schema-stable results") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL declared for every SQL-expressible query") {
    val rowsOnly = Set(
      "s02_ann_lsh_bucketed", "s04_ann_ivf", "s05_ann_recall",
      "s07_ann_ivf_append", "s08_ann_pq",
      "q15_approx_distinct", "q27_percentile_sketch",
      "t21_bpe_merges", // iterative arg-max: merge i depends on 1..i-1
      "t25_bpe_encode", // consumes t21's iteratively-trained merge table
      "t43_bpe_fertility", // t25's rollup — same trainer provenance
      "s10_ann_mmr_diversify", // iterative greedy argmax per query (t21's contract)
      "s12_ann_ivf_delete") // probe over the tombstone-masked index (s07's contract)
    assert(SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet) == rowsOnly)
  }

  test("q01 plan pushes filter and prunes columns at the parquet scan") {
    val plan = Relational.q01.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$plan")
    // Projection pruning: scan schema must not include unused columns.
    assert(!plan.contains("l_comment") && !plan.contains("l_tax"), "columns not pruned")
  }

  test("q36 plans all grouping-set levels through one Expand; q37 windows share one user exchange") {
    val p36 = Relational.q36.fn(spark, sf).queryExecution.executedPlan.toString
    assert("(?i)expand".r.findAllIn(p36).nonEmpty, s"no Expand in q36 plan:\n$p36")
    // One padded-key aggregation exchange — never one shuffle per
    // grouping set.
    val p36Exch = "Exchange".r.findAllIn(p36).length
    assert(p36Exch <= 2, s"q36 shuffles per set? $p36Exch exchanges:\n$p36")
    // q37's lag/lead/row_number all declare the same (user_id) partitioning
    // and (ts, event_id) ordering — Catalyst must plan ONE user-keyed
    // exchange for all three windows.
    val p37 = Relational.q37.fn(spark, sf).queryExecution.executedPlan.toString
    val userExch = "hashpartitioning\\(user_id".r.findAllIn(p37).length
    assert(userExch == 1, s"expected one user-keyed exchange, got $userExch:\n$p37")
  }

  test("q04 plan broadcasts the part dimension") {
    val plan = Relational.q04.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("q06 top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = Relational.q06.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$plan")
  }

  test("wordcount uses partial aggregation (map-side combine)") {
    val plan = TextOps.wordcount.fn(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"no partial aggregate:\n$plan")
  }

  test("minhash LSH finds planted near-duplicates and estimates Jaccard") {
    import spark.implicits._
    // Plant: doc B = doc A with one token changed; doc C unrelated.
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 59).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (100 to 160).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")
    val sh = Dedup.shingleSets(docs).cache()
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((0L, 1L)), s"near-dup pair not a candidate: $cands")
    assert(!cands.contains((0L, 2L)) && !cands.contains((1L, 2L)),
      "unrelated docs should not share a band")
  }

  test("simhash: identical docs collide, unrelated docs are distant") {
    import spark.implicits._
    val a = (1 to 50).map(i => s"tok$i").mkString(" ")
    val b = (200 to 250).map(i => s"q$i").mkString(" ")
    val docs = Seq((0L, a), (1L, a), (2L, b)).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(1L), "identical docs must have identical simhash")
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(2L)) > 10,
      "unrelated docs should be Hamming-distant")
  }

  test("ANN brute force: self-similar planted vector is the top neighbor") {
    val top = Similarity.bruteForceTopK(spark, sf, 3, 5)
    val rows = top.collect()
    assert(rows.length == 15) // 3 queries × 5 neighbors
    rows.foreach { r =>
      assert(r.getDouble(2) <= 1.000001 && r.getDouble(2) >= -1.000001)
    }
    // ranks are 1..5 per query
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach(rs => assert(rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L)))
  }

  test("LSH ANN recall: bucketed top-1 matches exact top-1 for most queries") {
    val exact = Similarity.bruteForceTopK(spark, sf, 10, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.lshTopK(spark, sf, 10, 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = exact.count { case (q, n) => lsh.get(q).contains(n) }
    // 8 tables × 4 bits: expected top-1 recall ~80% on this data.
    assert(hits >= 4, s"LSH recall too low: $hits/10 (exact=$exact lsh=$lsh)")
  }

  test("d11 repeated spans: coalesces planted cross-doc and in-doc repeats") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"sh$i").mkString(" ") // 12-token repeat
    val docs = Seq(
      (0L, (1 to 5).map(i => s"ua$i").mkString(" ") + " " + shared + " " +
        (1 to 4).map(i => s"za$i").mkString(" ")),
      (1L, (1 to 3).map(i => s"ub$i").mkString(" ") + " " + shared + " " +
        (1 to 4).map(i => s"zb$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"uc$i").mkString(" ")), // no repeats
      // in-doc repeat: the same 8-gram at pos 1 and pos 12
      (3L, ((1 to 8).map(i => s"x$i") ++ Seq("f1", "f2", "f3") ++
        (1 to 8).map(i => s"x$i")).mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docA: shared occupies tokens 6..17 -> windows 6..10 -> one 12-token span.
    // docB: shared at 4..15 -> one 12-token span at 4.
    // docC: nothing. docD: two 8-token spans at 1 and 12.
    assert(spans.toSet == Set((0L, 6L, 12L), (1L, 4L, 12L),
      (3L, 1L, 8L), (3L, 12L, 8L)), spans.mkString(", "))
  }

  test("d11/t16/d13 plans are join-free (single keyed window over the shingle/chunk stream)") {
    Seq(Dedup.repeated, TextOps.novelty, Dedup.chunkDedup).foreach { q =>
      val plan = q.fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"${q.name} plan has a join:\n$plan")
      assert(!plan.contains("BroadcastExchange"), s"${q.name} broadcasts:\n$plan")
    }
  }

  test("t16 novelty: first doc owns its shingles, an exact copy has zero novelty") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (100 to 120).map(i => s"v$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, other)).toDF("doc_id", "text")
    val rows = TextOps.shingleNovelty(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rows(0L) == 1.0 && rows(1L) == 0.0 && rows(2L) == 1.0, rows.toString)
  }

  test("t17 packing: budget boundaries split docs across sequences") {
    import spark.implicits._
    val four = (1 to 4).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, four), (2L, four), (3L, four)).toDF("doc_id", "text")
    val rows = TextOps.packSequences(docs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // cum = 4, 8, 12: doc3 straddles the 10-token boundary.
    assert(rows.toSeq == Seq((1L, 4L, 0L, 0L, 1L), (2L, 4L, 0L, 0L, 1L),
      (3L, 4L, 0L, 1L, 2L)), rows.mkString(", "))
  }

  test("t18 spectrum mass balance: sum(freq*n_types) == tokens, sum(n_types) == vocab") {
    val spec = TextOps.spectrum.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val toks = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.tokens(col("text"))).as("t"))
    assert(spec.map { case (f, n) => f * n }.sum == toks.count())
    assert(spec.map(_._2).sum == toks.select("t").distinct().count())
  }

  test("q29 funnel plans as one user-keyed window — no events self-join") {
    val plan = Relational.q29.fn(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"funnel plan has a join:\n$plan")
    // Semantics on a planted sequence: view at t0, purchase inside the hour
    // converts; purchase with no preceding view (or > 1h later) does not.
    import spark.implicits._
    val hour = 3600L * 1000000L
    val ev = Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "purchase", hour),          // converts (== 1h)
      (3L, 2L, "purchase", 0L), (4L, 2L, "view", 1L),            // purchase precedes view
      (5L, 3L, "view", 0L), (6L, 3L, "purchase", hour + 1L)      // 1h + 1us: too late
    ).toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(us)").as("ts"))
    val dir = java.nio.file.Files.createTempDirectory("graft-funnel").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q29.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(got(1L) == ((1L, true)) && got(2L) == ((0L, false)) && got(3L) == ((0L, false)), got.toString)
  }

  test("q41 latency bands: planted journeys hit lt_1m / ge_1d / no_convert; non-viewers excluded") {
    // The shipped corpora are dense (every viewer eventually converts), so
    // the band edges the query exists for — sub-minute, no-conversion, the
    // purchase-precedes-view exclusion, the same-timestamp tie — are
    // exercised here on a planted journey set.
    import spark.implicits._
    val day = 86400L * 1000000L
    val ev = Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "purchase", 30L * 1000000L), // 30 s -> lt_1m
      (3L, 2L, "purchase", 0L), (4L, 2L, "view", 1L),             // purchase precedes view -> no_convert
      (5L, 3L, "view", 0L), (6L, 3L, "purchase", 2L * day),       // 2 d -> ge_1d
      (7L, 4L, "click", 0L),                                      // never viewed -> excluded
      (8L, 5L, "view", 0L), (9L, 5L, "purchase", 0L),             // same us, view first by event_id -> lat 0
      (10L, 6L, "view", 0L)                                       // viewed, never purchased -> no_convert
    ).toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(us)").as("ts"))
    val dir = java.nio.file.Files.createTempDirectory("graft-convlat").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val plan = Relational.q41.fn(spark, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"q41 should not shuffle-join events against itself:\n$plan")
    val got = Relational.q41.fn(spark, dir).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      "lt_1m" -> ((2L, 0.4)), "ge_1d" -> ((1L, 0.2)), "no_convert" -> ((2L, 0.4))),
      got.toString)
  }

  test("q42 session paths: planted sessions yield exact paths, shares, and the ≤8 truncation") {
    import spark.implicits._
    val m = 60L * 1000000L
    // user 1: [view,click,purchase], a >30-min gap, then [error];
    // user 2: ten 1-min-spaced views — ONE session whose path truncates at 8.
    val ev = (Seq(
      (1L, 1L, "view", 0L), (2L, 1L, "click", m), (3L, 1L, "purchase", 2L * m),
      (4L, 1L, "error", 40L * m)) ++
      (0 until 10).map(i => (10L + i, 2L, "view", i.toLong * m)))
      .toDF("event_id", "user_id", "event_type", "us")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_micros(us)").as("ts"))
    val dir = java.nio.file.Files.createTempDirectory("graft-paths").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.q42.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("error", 1L, 1L, 0.333333),
      ("view>click>purchase", 1L, 3L, 0.333333),
      ("view>view>view>view>view>view>view>view", 1L, 10L, 0.333333)), got.toString)
  }

  test("q42 mega-session: a gap-free 10^5-event bot session stays O(1) state and exact") {
    import spark.implicits._
    // One user firing every second for 10^5 events — never a 30-minute
    // gap, so sessionization CANNOT split it: the exact shape the rn≤8
    // pre-collect gate exists for (the aggregation buffer holds ≤8
    // structs, not the whole session). The run must both complete and be
    // exact: one path row = the first 8 event types in (ts, event_id)
    // order, n_events = the full session length.
    val n = 100000L
    val types = Seq("view", "click", "purchase", "error")
    val ev = spark.range(0, n)
      .select(
        col("id").as("event_id"),
        lit(7L).as("user_id"),
        element_at(typedLit(types), (col("id") % 4 + 1).cast("int")).as("event_type"),
        expr("timestamp_micros(id * 1000000)").as("ts"))
    val got = Relational.sessionPaths(ev).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      ("view>click>purchase>error>view>click>purchase>error", 1L, n, 1.0)),
      got.toString)
  }

  test("t38 sentence profile: planted docs score exact sentence stats; empty text is NULL-safe") {
    import spark.implicits._
    val runOn = Seq.fill(41)("w").mkString(" ")
    val docs = Seq(
      (1L, "one two three. four five! six?", "en", "srcA", 30L),
      (2L, "", "en", "srcA", 0L),
      (3L, "no punctuation here at all", "en", "srcA", 26L),
      (4L, s"$runOn. ok", "en", "srcA", 90L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-sent").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("t38_sentence_profile")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 3L, 6L, Some(3L), 0L, Some(2.0), Some(0.0)),
      (2L, 0L, 0L, None, 0L, None, None),
      (3L, 1L, 5L, Some(5L), 0L, Some(5.0), Some(0.0)),
      (4L, 2L, 42L, Some(41L), 1L, Some(21.0), Some(0.5))), got.toString)
  }

  test("p11 token funnel: planted stages attribute token mass exactly, incl. cross-source dup") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again"
    val good = s"$base $base" // 20 tokens, stop 6/20, mean word len 4.0 -> passes gate
    val docs = Seq(
      (1L, good, "en", "srcA", 99L),             // unique representative
      (2L, good, "en", "srcA", 99L),             // exact dup of 1 -> not unique
      (3L, s"$good customer", "en", "srcA", 108L), // blocklist hit -> not clean
      (4L, "tiny doc", "en", "srcA", 8L),        // clean but fails the gate
      (5L, good, "en", "srcB", 99L)              // cross-source dup: rep is doc 1
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = graft.operators.Pipeline.tokenFunnel(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    assert(got == Seq(
      ("srcA", 63L, 42L, 40L, 20L, 0.31746),
      ("srcB", 20L, 20L, 20L, 0L, 0.0)), got.toString)
  }

  test("s14 knn label confusion: planted neighborhood produces exact cells and shares") {
    import spark.implicits._
    // s13's planted fixture: query 0 (label 1) has 3-NN labels (1, 0, 1).
    val e = Seq(
      (0L, Array(1f, 0f), 1),
      (1L, Array(0.99f, 0.01f), 1),
      (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0.9f, 0.1f), 1),
      (4L, Array(-1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelConfusionFrom(e, 1, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))
    assert(got == Seq((1L, 0L, 1L, 0.333333), (1L, 1L, 2L, 0.666667)), got.toString)
  }

  test("t37 vocab coverage: planted rare-token doc is flagged, vocab docs score 0") {
    import spark.implicits._
    // 16 common tokens (freq 5 each) fill the top-K vocab exactly; the
    // 17th doc is built from four freq-1 tokens, so every one of its
    // tokens is OOV and the low_coverage flag must fire — and ONLY there.
    val docs = (0 until 16).map { i =>
      (i.toLong, Seq.fill(5)(s"common$i").mkString(" "), "en", "srcA", 50L)
    } :+ ((16L, "rare1 rare2 rare3 rare4", "en", "srcA", 23L))
    val dir = java.nio.file.Files.createTempDirectory("graft-vocab").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.vocabCoverage.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    assert(got(16L) == ((4L, 4L, true)), got.toString)
    (0 until 16).foreach { i =>
      assert(got(i.toLong) == ((5L, 0L, false)), s"doc $i: ${got(i.toLong)}")
    }
    // On the shipped corpus the flag must be non-vacuous (both classes).
    val sfRows = TextOps.vocabCoverage.fn(spark, sf).collect()
    val flags = sfRows.map(_.getBoolean(4)).toSet
    assert(flags == Set(true, false), s"vacuous low_coverage at $sf: $flags")
  }

  test("p10 seed audit: dups collapse before ranking, sets seed-invariant, order moves") {
    import graft.operators.Pipeline
    // Shipped corpus: every source's doc set must be seed-invariant (no
    // dangling full-outer row → no '~missing' source) and the permutation
    // must genuinely move rows somewhere.
    val rows = Pipeline.seedAudit.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) != "~missing", s"dangling seed-B row: $r")
      assert(r.getBoolean(3), s"set_equal false: $r")
    }
    assert(rows.map(_.getDouble(4)).max > 0.9, "permutation barely moved")
    // Planted: the exact duplicate is dropped BEFORE ranking (d01's rule),
    // so both seeds rank the same 2-doc set.
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta", "en", "srcA", 10L),
      (2L, "alpha  beta ", "en", "srcB", 12L), // normText dup of doc 1
      (3L, "gamma delta", "en", "srcA", 11L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Pipeline.seedStability(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("srcA" -> 2L), got.toString)
  }

  test("d12 consensus: every pair corroborated by >= 2 named detectors") {
    val rows = Dedup.consensus.fn(spark, sf).collect()
    assert(rows.nonEmpty, "no consensus pairs at sf0.001")
    val known = Set("minhash", "simhash", "ngram")
    rows.foreach { r =>
      val methods = r.getString(3).split(",").toSet
      assert(methods.subsetOf(known) && methods.size == r.getLong(2),
        s"bad methods row: $r")
      assert(r.getLong(2) >= 2)
      // 0.5-verified minhash pairs are corroborated by the exhaustive
      // 0.12-threshold n-gram detector by construction.
      if (methods("minhash")) assert(methods("ngram"), s"minhash without ngram: $r")
    }
  }

  test("multimodal stub decode: deterministic features via mapPartitions") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf)).collect()
    assert(feats.length == 500)
    feats.foreach { f =>
      assert(f.n_bytes > 0 && f.width >= 1 && f.width < 64 && f.height >= 1)
      assert(f.mean_intensity > 0 && f.mean_intensity < 256)
    }
    // Determinism: same payload -> same features on a second run.
    val again = Multimodal.extractFeatures(Multimodal.mediaTable(spark, sf)).collect()
    assert(feats.sortBy(_.doc_id).toSeq == again.sortBy(_.doc_id).toSeq)
  }

  test("d05 cell pruning engages on clustered embeddings and stays exact") {
    import spark.implicits._
    // Three tight clusters near orthogonal axes (deterministic LCG noise).
    // Cross-cluster cosines ≈ 0 ≪ 0.9, within-cluster ≈ 1: the triangle-
    // inequality bound must prune cross-cluster cell pairs while the
    // output still equals the brute-force exact pair set.
    val dim = 8
    def lcg(seed: Long): Double = {
      val x = (seed * 6364136223846793005L + 1442695040888963407L) >>> 33
      (x % 1000L).toDouble / 1000000.0 // noise in [0, 1e-3)
    }
    val vecs = (0 until 90).map { i =>
      val cluster = i % 3 // ids interleave clusters → seeds span clusters
      val v = Array.tabulate(dim)(j =>
        (if (j == cluster) 1.0f else 0.0f) + lcg(i.toLong * dim + j).toFloat)
      (i.toLong, v)
    }
    val ev = vecs.toDS()
    val nCells = 6
    val (resultDf, nCellPairs) = Dedup.embeddingPairsFrom(ev, 0.9, nCells, 3)
    val result = resultDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Brute-force ground truth (driver-side, 90 vectors).
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      if BigDecimal(cos(va, vb)).setScale(6, BigDecimal.RoundingMode.HALF_UP) >= 0.9
    } yield (ia, ib)).toSet
    assert(result == expected,
      s"exactness broke: missing=${expected.diff(result).take(5)} extra=${result.diff(expected).take(5)}")
    assert(expected.nonEmpty, "planted clusters produced no pairs — fixture broken")
    // Pruning evidence: candidate cell pairs ≪ all nCells² ordered pairs.
    assert(nCellPairs <= nCells * nCells / 2,
      s"pruning did not engage: $nCellPairs of ${nCells * nCells} cell pairs survived")
  }

  test("decontamination: planted eval 5-gram overlap is caught, clean docs pass") {
    import spark.implicits._
    // doc 0 (eval: 0 % 19 == 0) and doc 3 share a 5-token run; doc 4 is
    // clean; doc 19 (also eval) shares nothing with the corpus.
    val run = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (0L, s"eval prefix $run eval suffix tail"),
      (19L, "totally separate held out content here"),
      (3L, s"train text around $run and more words"),
      (4L, "unrelated training document with fresh tokens only"))
      .toDF("doc_id", "text")
    val hits = Dedup.decontaminate(
      docs.filter(col("doc_id") % 19 =!= 0),
      docs.filter(col("doc_id") % 19 === 0), 5).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(hits.keySet == Set(3L), s"expected only doc 3 contaminated, got $hits")
    assert(hits(3L) >= 1L)
  }

  test("d17 embedding decontamination: planted eval copy flagged, tie breaks low") {
    import spark.implicits._
    // Eval set = ids 0..2 (axis vectors). Corpus: id 10 copies eval 1
    // (cos 1.0), id 11 sits exactly between eval 0 and eval 2 (equal
    // rounded similarity — the arg-max must break to eval 0), id 12 is
    // orthogonal to every eval vector (cos 0 < threshold, stays clean).
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)),
      (10L, Array(0f, 1f, 0f, 0f)),
      (11L, Array(1f, 0f, 1f, 0f)),
      (12L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingDecontaminateFrom(e, nEval = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq(10L, 11L), s"wrong flag set: ${got.toSeq}")
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(10L)._2 == 1.0 && byId(10L)._3 == 1L, s"copy row wrong: ${byId(10L)}")
    assert(byId(11L)._3 == 0L, s"tie must break to the lowest eval id: ${byId(11L)}")
    assert(math.abs(byId(11L)._2 - 0.707107) < 1e-6)
  }

  test("d17 bucketed scale path: identical output to the exact scan, pruning engages") {
    import spark.implicits._
    // Real table: the cell-blocked variant must reproduce the
    // literal-inline scan's rows exactly (values, arg-max, tie-breaks).
    val e = graft.sources.Tables.embeddings(spark, sf)
    val exact = Dedup.embeddingDecontaminateFrom(e, nEval = 25, threshold = 0.35)
      .collect().map(_.toString).toSeq
    val (bucketedDf, _) = Dedup.embeddingDecontaminateBucketed(e, 25, 0.35)
    val bucketed = bucketedDf.collect().map(_.toString).toSeq
    assert(bucketed == exact,
      s"scale path drift: ${exact.diff(bucketed).take(3)} vs ${bucketed.diff(exact).take(3)}")
    assert(exact.nonEmpty, "fixture degenerate: exact d17 flagged nothing")

    // Planted clusters (d05's fixture shape): eval = ids < 3 near axis 0/1/2,
    // corpus interleaves the same three clusters — cross-cluster blocks
    // (cos ~ 0 << 0.9) must prune while the flagged set stays exact.
    val dim = 8
    def lcg(seed: Long): Double = {
      val x = (seed * 6364136223846793005L + 1442695040888963407L) >>> 33
      (x % 1000L).toDouble / 1000000.0
    }
    val vecs = (0 until 90).map { i =>
      val cluster = i % 3
      val v = Array.tabulate(dim)(j =>
        (if (j == cluster) 1.0f else 0.0f) + lcg(i.toLong * dim + j).toFloat)
      (i.toLong, v)
    }
    val planted = vecs.toDF("vec_id", "embedding")
    val nCells = 6
    val exactP = Dedup.embeddingDecontaminateFrom(planted, nEval = 3, threshold = 0.9)
      .collect().map(_.toString).toSeq
    val (bDf, nBlocks) = Dedup.embeddingDecontaminateBucketed(planted, 3, 0.9, nCells, 3)
    assert(bDf.collect().map(_.toString).toSeq == exactP)
    assert(exactP.nonEmpty, "planted clusters flagged nothing — fixture broken")
    assert(nBlocks <= nCells * nCells / 2,
      s"pruning did not engage: $nBlocks of ${nCells * nCells} blocks survived")
  }

  test("d18 containment: planted quote inside a larger page is caught, Jaccard misses it") {
    import spark.implicits._
    val quote = (1 to 10).map(i => s"q$i").mkString(" ") // 8 3-gram shingles
    val page = (1 to 40).map(i => s"p$i").mkString(" ") + " " + quote
    val docs = Seq((0L, quote), (1L, page),
      (2L, (1 to 12).map(i => s"z$i").mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 0.9).collect()
    assert(got.length == 1, s"expected exactly the quote pair: ${got.mkString(", ")}")
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == (0L, 1L))
    assert(r.getDouble(2) == 1.0, s"all of the quote's shingles are in the page: $r")
    assert(r.getDouble(4) == 1.0)
    // The same pair under symmetric Jaccard sits far below the threshold —
    // the asymmetric detector exists precisely for this case.
    val j = Dedup.jaccardPairs(Dedup.shingleSets(docs), None)
      .filter(col("a") === 0L && col("b") === 1L).collect().head.getDouble(2)
    assert(j < 0.25, s"fixture degenerate: jaccard $j should be small")
  }

  test("d19 eval-leak report: planted leaks counted per eval item; mass equals d09's") {
    import spark.implicits._
    // One eval doc leaked whole into doc 10 (8 shared 5-grams) and
    // partially into doc 11 (exactly 1 shared 5-gram); doc 12 clean.
    val evalText = (1 to 12).map(i => s"e$i").mkString(" ")
    val corpus = Seq(
      (10L, evalText),
      (11L, (1 to 6).map(i => s"x$i").mkString(" ") + " " +
        (1 to 5).map(i => s"e$i").mkString(" ")),
      (12L, (1 to 10).map(i => s"y$i").mkString(" "))).toDF("doc_id", "text")
    val evalDf = Seq((0L, evalText)).toDF("doc_id", "text")
    val rep = Dedup.evalLeakReport(corpus, evalDf, 5).collect()
    assert(rep.length == 1)
    val r = rep.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 2L && r.getLong(2) == 9L &&
      r.getLong(3) == 8L, s"wrong report row: $r")
    // Real table: regrouping must conserve the d09 join mass (the same
    // (corpus shingle, eval shingle) matches keyed the other way).
    val d09mass = Dedup.decontaminate(spark, sf, 5).collect()
      .map(_.getAs[Long]("n_shared_ngrams")).sum
    val repMass = SparkEntry.queries("d19_eval_leak_report")(spark, sf).collect()
      .map(_.getAs[Long]("n_shared_ngrams")).sum
    assert(repMass == d09mass, s"mass drift: report $repMass vs d09 $d09mass")
    assert(repMass > 0L, "fixture degenerate: no leakage on the real table")
  }

  test("p03 adaptive sem leg: bucketed path above the inline bound == inline path") {
    // Mirror of the d17 equivalence spec at the COMPOSITION level: the
    // release audit must emit identical manifests whichever d17 leg the
    // eval-set size gate selects. inlineEvalBound=0 forces the
    // cell-bucketed path at the same nEval the inline run uses, so the
    // only difference is the path choice.
    def run(bound: Int): Seq[(Long, Long, Double, Long, Long, Boolean)] =
      graft.operators.Pipeline.releaseAudit(spark, sf, inlineEvalBound = bound)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4), r.getBoolean(5))).toSeq
    val inline = run(1024)
    val bucketed = run(0)
    assert(bucketed == inline,
      s"p03 path drift: ${inline.diff(bucketed).take(3)} vs ${bucketed.diff(inline).take(3)}")
    assert(inline.nonEmpty, "fixture degenerate: empty audit manifest")
    // The gate's point: the semantic bit must actually fire in both runs,
    // else the path equivalence is vacuous on this fixture.
    assert(inline.exists(r => (r._5 & 2L) != 0L), "no semantically-flagged rows")
  }

  test("BPE-ish pretokenizer count: contractions, space-prefix runs, punct") {
    import spark.implicits._
    val got = Seq("Don't stop!", "a  b", "3.14 ok")
      .toDF("text")
      .select(regexp_count(lower(col("text")), lit(TextOps.BpeIshPattern)).as("n"))
      .collect().map(_.getInt(0)).toSeq
    // "don't stop!": [don]['t][ stop][!] = 4
    // "a  b":        [a][ ][ b] = 3 (double space: one ws token + space-prefixed run)
    // "3.14 ok":     [3][.][14][ ok] = 4
    assert(got == Seq(4, 3, 4), s"got $got")
  }

  test("repetition filter: templated doc fails, diverse doc passes") {
    import spark.implicits._
    val templated = Array.fill(30)("buy now").mkString(" ") // one bigram dominates
    val diverse = (1 to 60).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, templated), (2L, diverse)).toDF("doc_id", "text")
    val rows = TextOps.repetitionMetrics(docs).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    val (topT, dupT, keepT) = rows(1L)
    assert(!keepT && topT > 0.4 && dupT > 0.9,
      s"templated doc should fail: top=$topT dup=$dupT")
    val (topD, dupD, keepD) = rows(2L)
    assert(keepD && dupD == 0.0, s"diverse doc should pass: top=$topD dup=$dupD")
  }

  test("release delta report: planted verdict flips (min-steal, cluster growth)") {
    import spark.implicits._
    def doc(tokens: Seq[String]) = tokens.mkString(" ")
    val t1 = (1 to 40).map(i => s"w$i")
    val t2 = (100 to 140).map(i => s"x$i")
    // Base release = doc_id % 10 < 8; the wave interleaves NUMERICALLY
    // (ids ending in 8/9), so a wave copy can sit BELOW a base doc in the
    // fingerprint window — the min-steal flip.
    val docs = Seq(
      8L  -> doc(t1),                                // wave: steals t1's min
      10L -> doc(t1),                                // base: keep → exact_dup
      20L -> doc(t2 ++ Seq("tail", "a")),            // base: keep → near_dup
      18L -> doc(t2 ++ Seq("tail", "b")),            // wave: its new neighbor
      30L -> doc((200 to 240).map(i => s"q$i")))     // base: keep → keep
      .toDF("doc_id", "text")
    val got = Dedup.releaseDeltaFrom(
      Dedup.keepListFrom(docs, 0.5),
      Dedup.keepListFrom(docs.filter(col("doc_id") % 10 < 8), 0.5))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(
      ("absent", "keep") -> 2L,        // wave docs 8 and 18 enter as keeps
      ("keep", "exact_dup") -> 1L,     // doc 10: wave doc 8 stole the fp min
      ("keep", "near_dup") -> 1L,      // doc 20: clustered with wave doc 18
      ("keep", "keep") -> 1L),         // doc 30: untouched
      s"flip matrix: $got")
  }

  test("incremental keep-list == batch keep-list on the delta (incl. transitive chains)") {
    import spark.implicits._
    def doc(tokens: Seq[String]) = tokens.mkString(" ")
    val base = (1 to 40).map(i => s"w$i")
    val other = (100 to 140).map(i => s"x$i")
    val corpus = Seq(
      (3L, doc(base)),                                // exact-dup target
      (5L, doc(base.drop(5) ++ Seq("tail", "bit"))),  // near-dup target
      (7L, doc(other)))
      .toDF("doc_id", "text")
    val delta = Seq(
      (100L, doc(base.drop(5) ++ Seq("tail", "chunk"))), // near corpus 5 → drop
      // near 100 but NOT near any corpus doc — transitively reaches corpus
      // through 100, so the batch semantics drop it; the incremental
      // decision must see the chain, not just direct corpus hits.
      (101L, doc(base.drop(8) ++ Seq("tail", "chunk", "extra", "words"))),
      (102L, doc(base)),                                 // exact dup of corpus 3
      (103L, doc((200 to 240).map(i => s"z$i"))),        // clean → keep
      (104L, doc((300 to 340).map(i => s"y$i") :+ "a")), // delta-only pair rep → keep
      (105L, doc((300 to 340).map(i => s"y$i") :+ "b"))) // its near-dup → drop
      .toDF("doc_id", "text")
    val threshold = 0.5
    val got = Dedup.incrementalKeepList(corpus, delta, threshold)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val expected = Dedup.keepListFrom(corpus.unionAll(delta), threshold)
      .filter(col("doc_id") >= 100L)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(got == expected, s"incremental != batch-restricted:\n$got\nvs\n$expected")
    // And the verdicts themselves are the planted ones.
    assert(got(102L) == (false, "exact_dup"))
    assert(got(100L) == (false, "near_dup"))
    assert(got(101L) == (false, "near_dup"), "transitive chain through 100 must drop 101")
    assert(got(103L) == (true, "keep"))
    assert(got(104L) == (true, "keep") && got(105L) == (false, "near_dup"))

    // Degenerate case: a delta with no relation to anything — the pair
    // graph is EMPTY (exercises the empty-labels path end to end).
    val clean = Seq((300L, doc((500 to 540).map(i => s"q$i")))).toDF("doc_id", "text")
    val solo = Dedup.incrementalKeepList(corpus, clean, threshold)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getString(2))).toMap
    assert(solo == Map(300L -> (true, "keep")))
  }

  test("indexed incremental dedup: probing the persisted index == recompute path") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf).filter(col("doc_id") < 80)
    val delta = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 80 && col("doc_id") < 120)
    val idx = java.nio.file.Files.createTempDirectory("graft-dedup-idx")
      .toFile.getAbsolutePath + "/index"
    Dedup.writeDedupIndex(corpus, idx)
    // The index holds everything the probe needs…
    assert(new java.io.File(s"$idx/fp").exists()
      && new java.io.File(s"$idx/shingles").exists()
      && new java.io.File(s"$idx/bands").exists())
    // …and the disk probe gives verdicts identical to recomputing from text.
    val fromIndex = Dedup.incrementalKeepListIndexed(spark, idx, delta, 0.5)
      .collect().map(_.toString).toSeq
    val recomputed = Dedup.incrementalKeepList(corpus, delta, 0.5)
      .collect().map(_.toString).toSeq
    assert(fromIndex == recomputed)
    assert(fromIndex.nonEmpty)
    // The manifest pins the kernel constants: an index built under a
    // different band-bucket cap must be refused, not silently probed.
    val mPath = java.nio.file.Paths.get(s"$idx/_manifest.json")
    val manifest = new String(java.nio.file.Files.readAllBytes(mPath), "UTF-8")
    assert(manifest.contains("\"band_bucket_cap\":" + Dedup.BandBucketCap))
    java.nio.file.Files.write(mPath, manifest
      .replace("\"band_bucket_cap\":" + Dedup.BandBucketCap,
        "\"band_bucket_cap\":8").getBytes("UTF-8"))
    // The raw rewrite invalidates LocalFileSystem's checksum sidecar —
    // drop it so the read reaches the tampered JSON, not a crc error.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$idx/._manifest.json.crc"))
    val e = intercept[IllegalStateException](
      Dedup.incrementalKeepListIndexed(spark, idx, delta, 0.5))
    assert(e.getMessage.contains("band_bucket_cap=8"))
    // A manifest-less (pre-manifest) index still probes — warned, legal.
    java.nio.file.Files.delete(mPath)
    assert(Dedup.incrementalKeepListIndexed(spark, idx, delta, 0.5)
      .collect().map(_.toString).toSeq == recomputed)
  }

  test("exact dedup: planted duplicate collapses to one representative") {
    import spark.implicits._
    val docs = Seq(
      (10L, "Same   Text here"), (11L, "same text HERE"), (12L, "different"))
      .toDF("doc_id", "text")
    val groups = docs
      .select(col("doc_id"), md5(graft.functions.TextFns.normText(col("text"))).as("fp"))
      .groupBy("fp").agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(groups == Map(10L -> 2L, 12L -> 1L))
  }

  test("s04/s05 accuracy floor: IVF recall@5 >= 0.8 and LSH recall@5 >= 0.6 on planted clusters") {
    import spark.implicits._
    // 8 planted clusters x 30 vectors (deterministic LCG centers, members =
    // center + 0.15x perturbation => within-cluster cosine ~0.98, cross
    // ~0), interleaved in vec_id order so the IVF k-means seeds (lowest 16
    // vec_ids) cover every cluster twice. Quantifies the two rows-only ANN
    // queries: s04's index must land >=4 of each query's 5 true neighbors
    // on average with nProbe=4/16 cells, and s05's eval harness is what
    // measures it.
    val dim = 64; val nClusters = 8; val perCluster = 30
    def lcg(a: Long, b: Long): Double = {
      val x = (a * 2654435761L + b * 1315423911L + 97531L) % 1000003L
      x.toDouble / 1000003.0 * 2.0 - 1.0
    }
    val rows = (0 until nClusters * perCluster).map { v =>
      val c = v % nClusters
      val emb = Array.tabulate(dim)(i => (lcg(c, i) + 0.15 * lcg(v + 1000L, i)).toFloat)
      (v.toLong, emb, c)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-planted").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val recall = Similarity.recallEval(spark, dir, 10, 5).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(recall("ivf") >= 0.8, s"IVF mean recall@5 ${recall("ivf")} below the 0.8 floor")
    assert(recall("lsh") >= 0.6, s"LSH mean recall@5 ${recall("lsh")} below the 0.6 floor")
    // PQ-ADC shortlists from compressed codes, exact rerank refines: the
    // planted clusters must surface nearly perfectly. recall@5 >= 0.9
    // quantifies s08 (ADC alone measured 0.36-0.48 here - the rerank step
    // is load-bearing and this floor would catch its removal).
    assert(recall("pq") >= 0.9, s"PQ mean recall@5 ${recall("pq")} below the 0.9 floor")

    // s02 across two independent hash-table seeds: the LSH floor must not
    // hinge on one lucky hyperplane draw — seed 0 is the shipped table
    // set, seed 1 a fully independent one (verdict item: raise the s02
    // no-oracle bar from top-1 >= 4/10 to s04-style recall@5 floors).
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val exactPairs = Similarity.bruteForceTopKFrom(e, 10, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq(0L, 1L).foreach { seed =>
      val lshPairs = Similarity.lshTopKFrom(e, 10, 5, seed = seed).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val lshRecall = exactPairs.count(lshPairs.contains).toDouble / exactPairs.size
      assert(lshRecall >= 0.6,
        s"LSH seed $seed recall@5 $lshRecall below the 0.6 floor")
    }
  }

  test("s08 PQ codes are m bytes-worth and ADC ranking is deterministic") {
    import graft.operators.Similarity
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val cbs = Similarity.pqTrain(spark, e, m = 8, k = 16, iters = 2)
    assert(cbs.length == 8 && cbs.forall(_.length == 16) &&
      cbs.forall(_.forall(_.length == 8)))
    val codes = Similarity.pqEncode(spark, e, cbs).collect()
    assert(codes.forall(_.getSeq[Int](1).size == 8), "codes not m-wide")
    assert(codes.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)),
      "code outside [0, k)")
    val a = Similarity.pqTopK(spark, sf, 3, 4).collect().map(_.toString).toSeq
    val b = Similarity.pqTopK(spark, sf, 3, 4).collect().map(_.toString).toSeq
    assert(a == b, "PQ ADC output not deterministic")
    assert(a.length == 3 * 4)
  }

  test("t19 scrub: blocklist hits counted and redacted, clean docs untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the customer met the supplier"),
      (2L, "nothing to see here"),
      (3L, "order order order")).toDF("doc_id", "text")
    val out = TextOps.scrubTerms(docs, Seq("customer", "supplier", "order"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getBoolean(3))).toMap
    assert(out(1L)._1 == 2L && !out(1L)._3)
    assert(out(3L)._1 == 3L && !out(3L)._3)
    // A clean doc's scrubbed digest IS the original digest (no-op redaction).
    val cleanMd5 = docs.filter(col("doc_id") === 2L)
      .select(md5(col("text"))).head().getString(0)
    assert(out(2L)._1 == 0L && out(2L)._3 && out(2L)._2 == cleanMd5)
    // Word boundaries: "orders" must NOT match the blocklisted "order".
    val sub = TextOps.scrubTerms(Seq((4L, "orders placed")).toDF("doc_id", "text"),
      Seq("order")).collect().head
    assert(sub.getLong(1) == 0L && sub.getBoolean(3))
  }

  test("q30 cohort retention equals a brute-force recomputation") {
    val got = Relational.q30.fn(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getLong(1)) -> r.getLong(2)).toMap
    // Brute force from the raw events: per-user first day, distinct
    // (cohort, weekOffset, user), counted.
    val days = Tables.events(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)))
    val firstDay = days.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).min }
    val expected = days
      .map { case (u, d) =>
        val c = firstDay(u)
        val off = java.time.Duration.between(c.toInstant, d.toInstant).toDays / 7
        ((c, off), u)
      }
      .distinct
      .groupBy(_._1).map { case (k, rs) => k -> rs.length.toLong }
    assert(got == expected, s"cohort mismatch: ${got.toSet.diff(expected.toSet).take(3)}")
    // Every user lands in week 0 of their own cohort.
    val week0 = got.collect { case ((_, 0L), n) => n }.sum
    assert(week0 == firstDay.size.toLong)
  }

  test("m06 media near-dup: byte-noise copy collides, inverted payload is distant") {
    import spark.implicits._
    val base = Array.tabulate(512)(i => (((i * 37) ^ (i >> 3)) & 0xff).toByte)
    val near = base.clone()
    (0 until 4).foreach(i => near(i * 100) = (near(i * 100) + 1).toByte)
    val far = base.map(b => (255 - (b & 0xff)).toByte)
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/stub", base),
      Multimodal.MediaRecord(2L, "image/stub", near),
      Multimodal.MediaRecord(3L, "image/stub", far)).toDS()
    val pairs = Multimodal.mediaNeardupPairs(media, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), s"byte-noise near-dup not detected: $pairs")
    assert(pairs((1L, 2L)) <= 3L)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"inverted payload wrongly matched: $pairs")
    // The inverted payload flips (nearly) every signature bit.
    val h13 = java.lang.Long.bitCount(
      Multimodal.blockhash64(base) ^ Multimodal.blockhash64(far))
    assert(h13 >= 32, s"inversion hamming only $h13")
  }

  test("d13 chunk scrub: later exact copy fully dropped, partial overlap edited") {
    import spark.implicits._
    // 32 tokens = exactly two 16-token chunks. doc 2 is an exact copy of
    // doc 1; doc 3 shares doc 1's first chunk but has a novel second chunk.
    val c1 = (1 to 16).map(i => s"alpha$i").mkString(" ")
    val c2 = (1 to 16).map(i => s"beta$i").mkString(" ")
    val c3 = (1 to 16).map(i => s"gamma$i").mkString(" ")
    val docs = Seq(
      (1L, s"$c1 $c2"), (2L, s"$c1 $c2"), (3L, s"$c1 $c3"))
      .toDF("doc_id", "text")
    val out = Dedup.chunkScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == ((2L, 2L, md5Hex(s"$c1 $c2"))),
      s"first occurrence must keep everything: ${out(1L)}")
    assert(out(2L)._1 == 2L && out(2L)._2 == 0L &&
      out(2L)._3 == md5Hex(""), s"exact copy must lose all chunks: ${out(2L)}")
    assert(out(3L) == ((2L, 1L, md5Hex(c3))),
      s"partial overlap must keep only the novel chunk: ${out(3L)}")
    // Conservation: kept chunks across the corpus == distinct chunks.
    val kept = out.values.map(_._2).sum
    assert(kept == 3L, s"kept $kept, expected 3 distinct chunks")
  }

  test("p01 pipeline: dispositions compose the gate and dedup; packing tiles the survivors") {
    import graft.operators.Pipeline
    val out = Pipeline.pipeline.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val docs = Tables.documents(spark, sf).count()
    assert(out.length == docs, "every doc must get a disposition")
    // Quality drops == exactly t20's rejects.
    val gateDrops = TextOps.qualityGate.fn(spark, sf).collect()
      .filter(!_.getBoolean(5)).map(_.getLong(0)).toSet
    assert(out.filter(_._2 == "dropped_quality").map(_._1).toSet == gateDrops)
    // Sequential recompute of the packing over kept docs (t17 arithmetic).
    var cum = 0L
    out.sortBy(_._1).foreach { case (id, disp, n, first, last) =>
      if (disp == "kept") {
        assert(first == cum / 512 && last == (cum + n - 1) / 512, s"doc $id window wrong")
        cum += n
      } else assert(first == -1L && last == -1L, s"dropped doc $id has a window")
    }
    assert(out.exists(_._2 == "kept") && out.exists(_._2 == "dropped_quality"))
  }

  test("p01 planted corpus: quality drop, dup split, and packing that skips dropped tokens") {
    import spark.implicits._
    import graft.operators.Pipeline
    // doc 1 fails the gate (5 tokens < 20); docs 2 and 3 are exact copies
    // (doc 3 differs only in whitespace — the normalized fingerprint must
    // still collapse them) — first occurrence kept, copy dropped. The
    // kept doc's window must start at sequence 0: dropped docs contribute
    // NO tokens to the packing stream.
    val short = "the cat sat down here"
    val clean = ("the quick brown fox jumps over a lazy dog and then it " +
      "runs far away to the old barn where it sleeps all day long")
    val docs = Seq((1L, short), (2L, clean), (3L, clean.replace(" ", "  ")))
      .toDF("doc_id", "text")
    val out = Pipeline.corpusPipeline(docs, budget = 16).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3), r.getLong(4))).toMap
    assert(out(1L)._1 == "dropped_quality", out.toString)
    assert(out(2L) == (("kept", 0L, 1L)), // 25 tokens / budget 16 -> seqs 0..1
      s"representative must pack from sequence 0: $out")
    assert(out(3L)._1 == "dropped_duplicate", out.toString)
  }

  test("t23 heavy hitters: sketch-then-verify equals brute force; candidates bounded") {
    import spark.implicits._
    // 'hot' is 30% of tokens, 'warm' exactly 2%; the cold tail is unique
    // tokens. Strict threshold (freq*100 > total): hot and warm qualify,
    // every cold token (1/1000 = 0.1%) must be culled even when the
    // sketch sweep surfaces it as a false positive.
    val n = 1000
    val words = Seq.fill(300)("hot") ++ Seq.fill(20)("warm") ++
      (1 to (n - 320)).map(i => s"cold$i")
    val docs = words.grouped(50).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val got = TextOps.heavyHitters(docs).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("hot", 300L), ("warm", 20L)), got.toString)
    // The candidate sweep's contract: at most 1/support items reach the
    // verify join (the broadcast-boundedness argument in PlanAudit).
    val cand = docs.select(explode(graft.functions.TextFns.tokens(col("text"))).as("t"))
      .stat.freqItems(Seq("t"), 0.01).select(explode(col("t_freqItems")))
    assert(cand.count() <= 100, "freqItems exceeded its 1/support cap")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("t20 quality gate: per-rule flags fire independently and keep == no flags") {
    import spark.implicits._
    val out = TextOps.qualityGate.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getBoolean(5)))
    assert(out.nonEmpty)
    // keep is exactly flags == 0, and the bitmask re-derives from features.
    out.foreach { case (id, nTok, stopFrac, meanLen, flags, keepF) =>
      val expect = (if (nTok < 20) 1L else 0L) + (if (nTok > 5000) 2L else 0L) +
        (if (stopFrac < 0.02) 4L else 0L) +
        (if (meanLen < 3.0 || meanLen > 10.0) 8L else 0L)
      assert(flags == expect && keepF == (flags == 0L), s"doc $id flags wrong")
    }
    // The gate must actually split this corpus: some kept, some dropped,
    // and at least the short-doc and stopword rules each fire somewhere.
    assert(out.exists(_._6) && out.exists(!_._6), "gate did not split corpus")
    assert(out.exists(r => (r._5 & 1L) != 0L), "too-short rule never fired")
    assert(out.exists(r => (r._5 & 4L) != 0L), "stopword rule never fired")
  }

  test("t21 BPE merges match the hand-computed sequence and terminate early") {
    import spark.implicits._
    // vocab {aaab: 2, aab: 1}. Hand-run of the trainer:
    //   iter1: (a,a)=5 beats (a,b)=3            -> aaab=[aa,a,b], aab=[aa,b]
    //   iter2: (aa,a)=2 ties (a,b)=2, lex: a<aa -> (a,b); aaab=[aa,ab]
    //   iter3: (aa,ab)=2                         -> aaab=[aaab]
    //   iter4: (aa,b)=1 (only aab has a pair)    -> aab=[aab]
    //   iter5: no pairs anywhere -> trainer stops at 4 of 8 requested.
    val docs = Seq((1L, "aaab aaab aab")).toDF("doc_id", "text")
    val got = TextOps.bpeMerges(docs, 8).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val expect = Seq(
      (1L, "a", "a", 5L), (2L, "a", "b", 2L), (3L, "aa", "ab", 2L), (4L, "aa", "b", 1L))
    assert(got == expect, s"merge sequence wrong: $got")
    // Greedy left-to-right: "aaa" with merge (a,a) collapses to [aa, a],
    // so (a,a) counts once per non-overlapping occurrence next round.
    val tri = TextOps.bpeMerges(Seq((1L, "aaa aaa")).toDF("doc_id", "text"), 2)
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(tri.head == (("a", "a", 4L)), s"first merge wrong: $tri")
    assert(tri(1) == (("aa", "a", 2L)), s"greedy overlap handling wrong: $tri")
  }

  test("t21 driver-side trainer == distributed trainer, merge for merge") {
    import spark.implicits._
    // The round-16 fast path (bpeMergesLocal under the vocab cap) must be
    // indistinguishable from the distributed loop — same pair counts,
    // same (count desc, pair asc) tie rule, same greedy apply — on both
    // the real corpus and the tie-heavy planted one.
    def runs(docs: org.apache.spark.sql.DataFrame, n: Int) = {
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      (canon(TextOps.bpeMerges(docs, n)),
        canon(TextOps.bpeMergesDistributed(docs, n)))
    }
    val (a1, b1) = runs(Tables.documents(spark, sf), 8)
    assert(a1 == b1, s"corpus twin drift: ${a1.diff(b1)} vs ${b1.diff(a1)}")
    val (a2, b2) = runs(
      Seq((1L, "aaab aaab aab"), (2L, "ba ab ba ab")).toDF("doc_id", "text"), 6)
    assert(a2 == b2, s"planted twin drift: $a2 vs $b2")
  }

  test("t25 BPE encode equals a sequential reference encoder; counts monotone in merges") {
    import spark.implicits._
    // Sequential reference: chars of each token, then each merge folded
    // greedily left-to-right — the trainer's own apply rule.
    def encodeRef(text: String, merges: Seq[(String, String)]): Seq[String] = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      toks.flatMap { t =>
        merges.foldLeft(t.map(_.toString)) { case (syms, (l, r)) =>
          syms.foldLeft(Vector.empty[String]) { (acc, s) =>
            if (acc.nonEmpty && acc.last == l && s == r)
              acc.init :+ (l + r)
            else acc :+ s
          }
        }
      }
    }
    val corpus = Seq(
      (1L, "aaab aaab aab"), (2L, "the cat sat on the mat"),
      (3L, "aaa aaa banana"), (4L, "abababab"))
    val docs = corpus.toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, 6).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val got = TextOps.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    corpus.foreach { case (id, text) =>
      val ref = encodeRef(text, merges)
      assert(got(id)._2 == ref.size.toLong,
        s"doc $id: distributed n_symbols ${got(id)._2} != reference ${ref.size} ($ref)")
    }
    // Monotonicity: each extra merge can only shrink (or keep) the count.
    val prefixCounts = (0 to merges.size).map { k =>
      TextOps.bpeEncode(docs, merges.take(k)).agg(sum("n_symbols")).head.getLong(0)
    }
    assert(prefixCounts.zip(prefixCounts.tail).forall { case (a, b) => b <= a },
      s"symbol counts not monotone non-increasing: $prefixCounts")
    // Zero merges = character count of the tokens.
    val nChars = corpus.map(_._2.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .map(_.length).sum).sum
    assert(prefixCounts.head == nChars.toLong)
  }

  test("d14 semantic dedup agrees with a brute-force sweep of its keep rule") {
    import graft.functions.VectorFns
    // Brute force at sf0.001: recompute bucket + dominated-by-earlier with
    // plain Scala over collected vectors and compare decision-for-decision.
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    def coeff(b: Int, i: Int): Double = {
      val x = (b.toLong * 1315423911L + i.toLong * 2654435761L + 97531L) % 1000003L
      if ((x & 1L) == 0L) 1.0 else -1.0
    }
    def bucketOf(v: Array[Double]): Long =
      (0 until 4).map { b =>
        val dp = v.indices.foldLeft(0.0)((acc, i) => acc + v(i) * coeff(b, i))
        if (dp >= 0) 1L << b else 0L
      }.sum
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val c = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val buckets = e.map { case (id, v) => id -> bucketOf(v) }.toMap
    val expect = e.map { case (id, v) =>
      val dom = e.filter { case (a, va) =>
        a < id && buckets(a) == buckets(id) && cos6(va, v) >= 0.35
      }.map(_._1)
      id -> (if (dom.isEmpty) None else Some(dom.min))
    }.toMap
    val got = Dedup.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3))).toMap
    assert(got.size == e.length)
    e.foreach { case (id, _) =>
      assert(got(id)._1 == buckets(id), s"vec $id bucket mismatch")
      assert(got(id)._2 == expect(id), s"vec $id dominator mismatch: " +
        s"got ${got(id)._2}, brute-force ${expect(id)}")
      assert(got(id)._3 == expect(id).isEmpty, s"vec $id kept flag wrong")
    }
    // The op must actually deduplicate something at this SF.
    assert(got.values.exists(!_._3), "no document was dropped — threshold inert")
  }

  test("q31 temperature mix: smallest source passes whole, rates in (0,1], suppression ordered") {
    val rows = operators.Sampling.temperatureMix.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val minTok = rows.map(_._3).min
    rows.foreach { case (src, nDocs, toks, rate, sampled) =>
      assert(rate > 0.0 && rate <= 1.0, s"$src rate $rate out of range")
      assert(sampled <= nDocs, s"$src sampled more than exists")
      // rate must be exactly sqrt(min/n) rounded to 6.
      val want = BigDecimal(math.sqrt(minTok.toDouble / toks.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rate == want, s"$src rate $rate != $want")
    }
    assert(rows.filter(_._3 == minTok).forall(_._4 == 1.0),
      "smallest source must sample at rate 1.0")
    // More tokens -> lower (or equal) rate: the tempering is monotone.
    val sorted = rows.sortBy(_._3)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => b._4 <= a._4 },
      "rates must be non-increasing in token mass")
  }

  test("t26 nfc_norm composes planted NFD text and leaves ASCII/compatibility forms alone") {
    import spark.implicits._
    val planted = Seq(
      "plain ascii stays",          // ASCII fast path
      "café",            // NFD e + COMBINING ACUTE -> é (U+00E9)
      "café",                  // already NFC: unchanged
      "Ångström",        // NFD A + RING -> Å (U+00C5)
      "ﬁle and 2²")       // ﬁ ligature, superscript: NFC keeps both
    val out = planted.toDF("text")
      .select(expr("nfc_norm(text)").as("n"))
      .collect().map(_.getString(0))
    assert(out(0) == "plain ascii stays")
    assert(out(1) == "café", s"NFD not composed: ${out(1).map(_.toInt)}")
    assert(out(2) == "café")
    assert(out(3) == "Ångström", s"ring not composed: ${out(3).map(_.toInt)}")
    // NFC (unlike NFKC) must NOT touch compatibility codepoints.
    assert(out(4) == "ﬁle and 2²")
    // Corpus query: ASCII corpus => changed=false everywhere, digest equals
    // the raw text's (the t26 oracle hash-match proves cross-engine parity;
    // this asserts the intra-engine invariant).
    val q = TextOps.nfcAudit.fn(spark, sf)
    assert(q.filter(col("changed") || col("len_delta") =!= 0L).count() == 0,
      "ASCII corpus must be NFC-invariant")
  }

  test("t27 DSIR weights rank the target source above the rest and sum exactly") {
    val docs = Tables.documents(spark, sf)
    val w = TextOps.dsirWeights.fn(spark, sf)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val bySrc = w.groupBy(col("source") === "src0")
      .agg(avg("w_per_tok").as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // The importance weight must discriminate: target-source documents
    // score strictly higher on average than the rest (they ARE the target
    // distribution the bucket model was fit to).
    assert(bySrc(true) > bySrc(false),
      s"src0 mean ${bySrc(true)} not above others ${bySrc(false)}")
    // n_tokens must agree with the tokenizer (same tokens() the corpus
    // profile uses) — the feature pass dropped or double-counted nothing.
    import graft.functions.TextFns.tokens
    val expect = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n"))
      .filter(col("n") > 0)
    val mismatch = w.join(expect, "doc_id")
      .filter(col("n_tokens") =!= col("n")).count()
    assert(mismatch == 0, s"$mismatch docs with token-count drift")
  }

  test("m07 scene cuts: uniform payload has none, planted two-segment doc cuts at the boundary") {
    import spark.implicits._
    val planted = Seq(
      (1L, "a" * 128),              // uniform: zero jumps
      (2L, "a" * 64 + "z" * 64),    // one hard boundary
      (3L, "ab" * 64)               // alternating: every window identical
    ).toDF("doc_id", "text")
    val got = Multimodal.sceneCuts(planted, 800.0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(got(1L)._2 == 0L, "uniform doc must have no cuts")
    assert(got(3L)._2 == 0L, "periodic doc must have no cuts")
    assert(got(2L)._2 > 0L, "two-segment doc must cut")
    // The first cut must sit where windows begin to straddle the boundary
    // (starts 33..64 mix 'a' and 'z'; pure-'a' windows end at start 33).
    assert(got(2L)._3 >= 33L && got(2L)._3 <= 65L,
      s"first cut at ${got(2L)._3}, expected within the transition band")
  }

  test("s09 radius search contains every s01 top-k neighbor above the floor") {
    val radius = Similarity.radiusSearch(spark, sf, 10, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val topk = Similarity.bruteForceTopK(spark, sf, 10, 5)
      .filter(col("cos_sim") >= 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topk.subsetOf(radius),
      s"missing pairs: ${topk.diff(radius).take(3)}")
    assert(radius.forall { case (q, n) => q != n }, "self-pair leaked")
  }

  test("p02 mix pipeline: q31-consistent sampling, brute-force-exact packing, sentinels") {
    import operators.Pipeline
    val rows = Pipeline.mixPipeline(Tables.documents(spark, sf)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4), r.getLong(5), r.getLong(6)))
    // Guard: the q31 cross-check below assumes no zero-token docs at this
    // SF (q31 samples them, p02 can't pack them — rules coincide only
    // when none exist).
    assert(rows.forall(_._3 > 0), "corpus grew a zero-token doc; revisit")
    // Per-source sampled counts must equal q31's n_sampled — the
    // composition reuses the component's own rate + bucket rule.
    val q31 = operators.Sampling.temperatureMix.fn(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val bySrc = rows.groupBy(_._2).map { case (s, rs) => s -> rs.count(_._5).toLong }
    assert(bySrc == q31, s"sampled counts drift from q31: $bySrc vs $q31")
    // The smallest source (rate 1.0) passes whole.
    val rateBySrc = rows.groupBy(_._2).map { case (s, rs) => s -> rs.head._4 }
    val smallest = rateBySrc.maxBy(_._2)._1 // smallest token mass = rate 1.0
    assert(rateBySrc(smallest) == 1.0 && rows.filter(_._2 == smallest).forall(_._5))
    // Packing re-derived brute-force over the doc_id-ordered sampled stream.
    var cum = 0L
    rows.sortBy(_._1).foreach { case (id, _, n, _, sampled, f, l) =>
      if (sampled) {
        val first = cum / 512; cum += n; val last = (cum - 1) / 512
        assert(f == first && l == last, s"doc $id packed ($f,$l) != ($first,$last)")
      } else assert(f == -1L && l == -1L, s"unsampled doc $id missing sentinel")
    }
  }

  test("q32 attribution equals a brute-force per-purchase scan") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val byUser = ev.groupBy(_._1)
    val expect = ev.filter(_._3 == "purchase").map { case (u, id, _, us) =>
      // Latest strictly-preceding click under the (us, event_id) order.
      val cands = byUser(u).filter(e => e._3 == "click" &&
        (e._4 < us || (e._4 == us && e._2 < id)))
      val best = if (cands.isEmpty) None
        else Some(cands.maxBy(e => (e._4, e._2)))
      best.filter(b => us - b._4 <= 86400L * 1000000L) match {
        case Some(b) => id -> (b._2, us - b._4)
        case None => id -> (-1L, -1L)
      }
    }.toMap
    val got = Relational.q32.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(got == expect, s"attribution drift: ${
      got.keySet.union(expect.keySet).filter(k => got.get(k) != expect.get(k)).take(3)
        .map(k => s"$k: got ${got.get(k)} want ${expect.get(k)}")}")
    assert(got.values.exists(_._1 >= 0L), "no purchase attributed — lookback inert")
    assert(got.values.exists(_._1 == -1L) || got.size < 5,
      "every purchase attributed — sentinel path unexercised")
  }

  test("m08 voiced segments: planted uniform, silent, and two-burst payloads") {
    import spark.implicits._
    val planted = Seq(
      (1L, "z" * 128),                       // all voiced: one segment
      (2L, " " * 128),                       // silent: zero segments
      (3L, "z" * 48 + " " * 48 + "z" * 32)   // two bursts: two segments
    ).toDF("doc_id", "text")
    val got = Multimodal.voicedSegments(planted, 9800.0).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(1L) == ((7L, 7L, 1L)), s"uniform: ${got(1L)}")
    assert(got(2L) == ((7L, 0L, 0L)), s"silent: ${got(2L)}")
    assert(got(3L)._3 == 2L, s"two bursts found ${got(3L)._3} segments")
  }

  test("s10 MMR: pick #1 is the exact top-1, selection in-shortlist, diversity improves") {
    val mmr = Similarity.mmrDiversify(spark, sf, 10, 20, 5, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val top = Similarity.bruteForceTopK(spark, sf, 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val top1 = top.filter(_._3 == 1L).map(t => t._1 -> t._2).toMap
    val short = top.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    mmr.filter(_._3 == 1L).foreach { case (q, n, _) =>
      assert(top1(q) == n, s"query $q pick #1 $n != exact top-1 ${top1(q)}")
    }
    mmr.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"query $q ranks broken")
      assert(rs.map(_._2).toSet.subsetOf(short(q)), s"query $q picked outside shortlist")
    }
    // Diversity must improve: mean pairwise cosine among the MMR picks is
    // strictly below plain top-5's (the corpus clusters by construction,
    // so plain top-k IS redundant and MMR must find slack).
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> operators.Similarity.unit(
        r.getSeq[Float](1).toArray)).toMap
    def meanPairSim(ids: Seq[Long]): Double = {
      val pairs = for (a <- ids; b <- ids if a < b) yield
        operators.Similarity.dotd(vecs(a), vecs(b))
      pairs.sum / pairs.length
    }
    val mmrSim = mmr.groupBy(_._1).values.map(rs => meanPairSim(rs.map(_._2).toSeq))
    val topSim = top.filter(_._3 <= 5L).groupBy(_._1).values
      .map(rs => meanPairSim(rs.map(_._2).toSeq))
    assert(mmrSim.sum / mmrSim.size < topSim.sum / topSim.size,
      s"MMR mean pair-sim ${mmrSim.sum / mmrSim.size} not below top-5's ${topSim.sum / topSim.size}")
  }

  test("d15 best-keep picks each cluster's argmax-quality doc, d06-consistent") {
    val clusters = Dedup.dedupClusters(spark, sf, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val alpha = TextOps.quality.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(6)).toMap
    val expect = clusters.groupBy(_._1).map { case (rep, rs) =>
      val best = rs.map(_._2).minBy(id => (-alpha(id), id))
      rep -> ((rs.head._3, best, alpha(best)))
    }
    val got = Dedup.bestKeep.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == expect, s"drift: ${
      got.keySet.union(expect.keySet).filter(k => got.get(k) != expect.get(k)).take(3)}")
    assert(got.nonEmpty, "no clusters at this SF")
    // Note: this corpus's near-dups are token-level shuffles (character
    // counts preserved), so alpha_ratio often TIES within a cluster and
    // the min-doc_id tie-break decides — the argmax equivalence above is
    // the load-bearing check; divergence from min-id keep appears on any
    // corpus whose dup copies differ in content, not just order.
  }

  test("d16 provenance matrix mass equals d02's pair count, keys unordered-unique") {
    val m = Dedup.provenance.fn(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2), r.getBoolean(3)))
    val nPairs = Dedup.minhashPairs(spark, sf, 0.5).count()
    assert(m.map(_._2).sum == nPairs, "matrix mass != d02 pair count")
    assert(m.forall { case ((a, b), _, cross) => a <= b && cross == (a != b) },
      "unordered key or cross flag broken")
    assert(m.map(_._1).distinct.length == m.length, "duplicate matrix cell")
  }

  test("t22 source profile is consistent with t20's gate and the corpus totals") {
    val prof = TextOps.sourceProfile.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    val docs = Tables.documents(spark, sf)
    assert(prof.values.map(_._1).sum == docs.count(), "n_docs must cover the corpus")
    // keep_frac re-derived from t20's per-doc verdicts joined to (source, lang).
    val gate = TextOps.qualityGate.fn(spark, sf)
      .select(col("doc_id"), col("keep"))
    val expected = docs.select(col("doc_id"), col("source"), col("lang"))
      .join(gate, "doc_id")
      .groupBy("source", "lang")
      .agg(round(avg(when(col("keep"), 1.0).otherwise(0.0)), 4).as("kf"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    expected.foreach { case (k, kf) =>
      assert(math.abs(prof(k)._3 - kf) < 1e-9, s"keep_frac mismatch for $k")
    }
  }

  test("t30 PII scrub: handcrafted positives hit every category, redaction is total") {
    import spark.implicits._
    val crafted = Seq(
      (1L, "reach alice.smith@example.com or 10.0.0.1 or call 555-1234 now"),
      (2L, "two mails a@b.io c@d.org one ip 192.168.1.255 no phone"),
      (3L, "perfectly clean prose with no contact information at all")
    ).toDF("doc_id", "text")
    val out = TextOps.piiScrub(crafted).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getBoolean(5))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1 && out(1L)._3 == 1 && out(1L)._5)
    assert(out(2L)._1 == 2 && out(2L)._2 == 1 && out(2L)._3 == 0 && out(2L)._5)
    assert(out(3L) == ((0L, 0L, 0L, out(3L)._4, false)))
    // Redaction is total: the redacted text of doc 1 is the hand-redacted string.
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(out(1L)._4 == md5Hex(
      "reach [EMAIL] or [IP] or call [PHONE] now"))
    assert(out(3L)._4 == md5Hex(
      "perfectly clean prose with no contact information at all"))
  }

  test("t30 footer corpus: every non-multiple-of-3 doc carries exactly one of each category") {
    val out = TextOps.piiScrub(TextOps.piiCorpus(Tables.documents(spark, sf)))
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, e, i, p, pii) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(5))
      if (id % 3 != 0)
        assert(e == 1 && i == 1 && p == 1 && pii, s"doc $id: ($e,$i,$p)")
      else
        assert(e == 0 && i == 0 && p == 0 && !pii, s"doc $id: ($e,$i,$p)")
    }
  }

  test("t31 encoding audit: damage counted exactly, repair digest matches, clean docs clean") {
    val docs = Tables.documents(spark, sf)
    // Repairing the corrupted corpus strips exactly the injected damage,
    // leaving original text + the separator space.
    val want = docs.select(col("doc_id"),
      md5(concat(col("text"), lit(" "))).as("want_md5"),
      md5(col("text")).as("orig_md5"))
    val rows = TextOps.encodingAudit(TextOps.corruptedCorpus(docs))
      .join(want, "doc_id").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (id % 5 == 0) {
        assert(r.getAs[Long]("n_repl") == id % 3 + 1, s"doc $id n_repl")
        assert(r.getAs[Long]("n_ctrl") == 1L, s"doc $id n_ctrl")
        assert(r.getAs[Boolean]("is_suspect"), s"doc $id must be suspect")
        assert(r.getAs[String]("repaired_md5") == r.getAs[String]("want_md5"),
          s"doc $id repair digest")
      } else {
        assert(r.getAs[Long]("n_repl") == 0L && r.getAs[Long]("n_ctrl") == 0L
          && r.getAs[Long]("n_nonascii") == 0L, s"doc $id must be clean")
        assert(!r.getAs[Boolean]("is_suspect"), s"doc $id must not be suspect")
        assert(r.getAs[Double]("ascii_frac") == 1.0, s"doc $id ascii_frac")
        assert(r.getAs[String]("repaired_md5") == r.getAs[String]("orig_md5"),
          s"doc $id repair must be identity")
      }
    }
  }

  test("q36 grouping sets: levels {0,2,3}, each level matches its direct aggregate") {
    val rows = Relational.q36.fn(spark, sf).collect()
    val gids = rows.map(_.getAs[Long]("gid")).toSet
    assert(gids == Set(0L, 2L, 3L), s"unexpected grouping ids: $gids")
    val nOrders = Tables.orders(spark, sf).count()
    // Grand-total set (gid 3 = both keys grouped away) is one row == corpus.
    val grand = rows.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1 && grand.head.getAs[Long]("n_orders") == nOrders)
    // The finest set partitions the corpus.
    assert(rows.filter(_.getAs[Long]("gid") == 0L)
      .map(_.getAs[Long]("n_orders")).sum == nOrders)
    // The (priority)-only set — the level ROLLUP/CUBE can't express alone —
    // equals a direct groupBy on priority.
    val want = Tables.orders(spark, sf).groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = rows.filter(_.getAs[Long]("gid") == 2L)
      .map(r => r.getAs[String]("priority") -> r.getAs[Long]("n_orders")).toMap
    assert(got == want, s"priority level mismatch: $got vs $want")
  }

  test("t32 zipf fit: uniform corpus fits slope 0, harmonic corpus fits ~-1, totals exact") {
    import spark.implicits._
    // Uniform: every type occurs exactly once -> ln(cnt)=0 everywhere -> slope 0.
    val uniform = Seq((1L, "uni", "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "source", "text")
    // Harmonic: type w{i} occurs ceil(400/i) times, i=1..40 -> Zipf exponent ~1.
    val harmonicText = (1 to 40)
      .flatMap(i => Seq.fill(math.ceil(400.0 / i).toInt)(s"w$i")).mkString(" ")
    val harmonic = Seq((2L, "har", harmonicText)).toDF("doc_id", "source", "text")
    val fit = TextOps.zipfFitPerSource(uniform.union(harmonic)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(fit("uni")._3 == 0.0, s"uniform slope: ${fit("uni")._3}")
    assert(fit("uni")._1 == 8 && fit("uni")._2 == 8)
    val harSlope = fit("har")._3
    assert(harSlope > -1.25 && harSlope < -0.75, s"harmonic slope: $harSlope")
    assert(fit("har")._1 == 40)
    assert(fit("har")._2 == (1 to 40).map(i => math.ceil(400.0 / i).toInt).sum)
    // Real corpus: every source fits a negative, Zipf-plausible slope, and
    // totals reconcile with a direct token count.
    val real = TextOps.zipfFit.fn(spark, sf).collect()
    assert(real.nonEmpty)
    // Rank order makes ln(cnt) non-increasing in ln(rank), so the fitted
    // slope is structurally <= 0; this synthetic corpus is near-uniform
    // per source, so magnitudes stay shallow — the band only excludes
    // nonsense, the planted corpora above pin the values.
    real.foreach { r =>
      val slope = r.getAs[Double]("zipf_slope")
      assert(slope <= 0.0 && slope > -3.0, s"${r.getString(0)}: slope $slope")
    }
    val totalTokens = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.tokens(col("text"))))
      .count()
    assert(real.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
  }

  test("d20 cross-source overlap: planted pair exact, real matrix internally consistent") {
    import spark.implicits._
    // Planted: 3 shingles per side sharing exactly one -> Jaccard 1/5.
    val planted = Seq(
      (1L, "sx", "t1 t2 t3 t4 t5 t6 t7"),
      (2L, "sy", "t1 t2 t3 t4 t5 x1 x2")
    ).toDF("doc_id", "source", "text")
    val p = Dedup.crossSourceOverlap(planted).collect()
    assert(p.length == 1)
    val r0 = p.head
    assert(r0.getString(0) == "sx" && r0.getString(1) == "sy")
    assert(r0.getAs[Long]("n_shared") == 1L
      && r0.getAs[Long]("n_a") == 3L && r0.getAs[Long]("n_b") == 3L)
    assert(r0.getAs[Double]("jaccard") == 0.2)
    // Real corpus: sizes re-derived independently, bounds hold, pairs unique.
    val docs = Tables.documents(spark, sf)
    val rows = Dedup.crossSourceOverlap(docs).collect()
    val wantSizes = Dedup.hashedShingles(Dedup.shingleSets(docs, 5))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select("source", "sh_h").distinct()
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length == keys.length, "pair keys must be unique")
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (sh, na, nb) = (r.getAs[Long]("n_shared"),
        r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      assert(a < b, s"pair order: $a !< $b")
      assert(na == wantSizes(a) && nb == wantSizes(b), s"sizes for ($a,$b)")
      assert(sh >= 1 && sh <= math.min(na, nb), s"shared bound for ($a,$b)")
      val j = BigDecimal(sh.toDouble / (na + nb - sh).toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("jaccard") - j) < 1e-9, s"jaccard ($a,$b)")
    }
  }

  test("d22 sketch calibration: exact copies estimate 1.0, corpus error within the 64-perm bound") {
    import spark.implicits._
    // Identical docs: every lane minimum agrees -> est == exact == 1.
    val twin = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val planted = Seq(
      (1L, twin), (2L, twin),
      (3L, "entirely different words with no overlap at all whatsoever here")
    ).toDF("doc_id", "text")
    val p = Dedup.sketchCalibration(planted).collect()
    val pair = p.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L).get
    assert(pair.getAs[Double]("est_jaccard") == 1.0)
    assert(pair.getAs[Double]("exact_jaccard") == 1.0)
    assert(pair.getAs[Double]("abs_err") == 0.0)
    // Real corpus: the 64-permutation estimator's error stays inside its
    // statistical envelope (std <= 1/(2*sqrt(64)) = 0.0625 per pair).
    val rows = Dedup.calibration.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (est, ex, err) = (r.getAs[Double]("est_jaccard"),
        r.getAs[Double]("exact_jaccard"), r.getAs[Double]("abs_err"))
      assert(est >= 0.0 && est <= 1.0 && ex >= 0.0 && ex <= 1.0)
      assert(math.abs(err - math.abs(est - ex)) < 1e-3)
      assert(err < 0.4, s"pair (${r.getLong(0)},${r.getLong(1)}) err $err")
    }
    val meanErr = rows.map(_.getAs[Double]("abs_err")).sum / rows.length
    assert(meanErr < 0.12, s"mean |est - exact| = $meanErr")
  }

  test("p04 epoch assembly: d01-consistent keep set, t33-consistent order, exact coverage") {
    import graft.operators.Pipeline
    val rows = Pipeline.epochAssembly(Tables.documents(spark, sf)).collect()
    assert(rows.nonEmpty)
    // Keep set == d01 representatives (restricted to tokenizable docs).
    val d01Keep = Dedup.exact.fn(spark, sf).collect()
      .map(_.getAs[Long]("keep_id")).toSet
    val tokenizable = Tables.documents(spark, sf)
      .select(col("doc_id"), size(graft.functions.TextFns.tokens(col("text"))).as("n"))
      .filter(col("n") > 0).collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == (d01Keep & tokenizable))
    // Epoch order == t33's permutation restricted to the shipped set.
    val t33Order = TextOps.epochShuffle(Tables.documents(spark, sf), "epoch0")
      .collect().sortBy(_.getAs[Long]("position")).map(_.getLong(0))
      .filter((d01Keep & tokenizable).contains)
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == t33Order.toSeq,
      "manifest order must be the t33 permutation over shipped docs")
    // Sequence ids tile the shuffled token stream exactly.
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    assert(rows.map(_.getAs[Long]("seq_last")).max == (total - 1) / 512)
    assert(rows.head.getAs[Long]("seq_first") == 0L)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_seqs") ==
        r.getAs[Long]("seq_last") - r.getAs[Long]("seq_first") + 1)
    }
    // A different seed reorders the stream.
    val other = Pipeline.epochAssembly(Tables.documents(spark, sf), "epoch1")
      .collect().map(_.getAs[Long]("doc_id"))
    assert(other.toSeq != rows.map(_.getAs[Long]("doc_id")).toSeq)
    assert(other.toSet == rows.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("d21 split leakage: planted cross-split passage detected exactly") {
    import spark.implicits._
    def bucket(id: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 100
    }
    // Deterministically pick one validation id and two train ids under the
    // engine's own md5-bucket split rule.
    val valId = (0L to 200L).find(bucket(_) < 10).get
    val Seq(t1, t2) = (0L to 200L).filter(bucket(_) >= 10).take(2)
    // A 7-token passage shared val→train = exactly three 5-grams; the
    // second train doc shares nothing.
    val passage = "alpha beta gamma delta epsilon zeta eta"
    val docs = Seq(
      (valId, s"$passage valtaila valtailb valtailc valtaild"),
      (t1, s"traintailz $passage traintaila traintailb"),
      (t2, "completely different text with nothing shared here at all ok")
    ).toDF("doc_id", "text")
    val rows = Dedup.splitLeakage(docs).collect()
    assert(rows.length == 1, s"expected one leaked val doc, got ${rows.length}")
    val r = rows.head
    assert(r.getAs[Long]("val_doc") == valId)
    assert(r.getAs[Long]("n_train_neighbors") == 1L)
    assert(r.getAs[Long]("n_shared_ngrams") == 3L)
    assert(r.getAs[Long]("max_doc_overlap") == 3L)
    assert(r.getAs[Boolean]("severe"))
    // Real corpus: every reported doc is on the validation side of the
    // split and the aggregates are internally consistent.
    val real = Dedup.splitLeak.fn(spark, sf).collect()
    real.foreach { r =>
      assert(bucket(r.getAs[Long]("val_doc")) < 10, "non-val doc reported")
      val (nn, tot, mx) = (r.getAs[Long]("n_train_neighbors"),
        r.getAs[Long]("n_shared_ngrams"), r.getAs[Long]("max_doc_overlap"))
      assert(nn >= 1 && mx >= 1 && tot >= mx && tot <= nn * mx)
      assert(r.getAs[Boolean]("severe") == (mx >= 3L))
    }
  }

  test("q37 SCD2 history: intervals tile, runs collapse, current state matches q25") {
    val rows = Relational.q37.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("version"))
      assert(sorted.map(_.getAs[Long]("version")).toSeq ==
        (1L to sorted.length).toSeq, s"user $u versions not dense")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // Consecutive intervals tile exactly and never repeat a state.
          assert(a.getAs[java.sql.Timestamp]("valid_to")
            == b.getAs[java.sql.Timestamp]("valid_from"), s"user $u gap")
          assert(a.getAs[String]("state") != b.getAs[String]("state"),
            s"user $u uncollapsed run")
        case _ =>
      }
      // Exactly one open (current) interval per user, and it's the last.
      assert(sorted.count(_.getAs[Boolean]("is_current")) == 1)
      assert(sorted.last.getAs[Boolean]("is_current"))
    }
    // The current state per user is the type of the user's last event —
    // q25's snapshot reduced per user.
    val lastType = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    byUser.foreach { case (u, rs) =>
      val cur = rs.find(_.getAs[Boolean]("is_current")).get
      assert(cur.getAs[String]("state") == lastType(u), s"user $u current state")
    }
  }

  test("t33 epoch shuffle: bijective positions, partition-invariant, seed-sensitive") {
    val docs = Tables.documents(spark, sf)
    val rows = TextOps.epochShuffle(docs, "epoch0").collect()
    val n = rows.length
    assert(n == docs.count())
    // Positions are exactly the 0-based range: a bijection onto [0, n).
    assert(rows.map(_.getAs[Long]("position")).sorted.toSeq == (0L until n).toSeq)
    // Partition invariance: the permutation is a pure function of
    // (seed, doc_id), not of the physical layout.
    val reparted = TextOps.epochShuffle(docs.repartition(7), "epoch0").collect()
    assert(reparted.map(r => (r.getLong(0), r.getAs[Long]("position"))).toMap
      == rows.map(r => (r.getLong(0), r.getAs[Long]("position"))).toMap)
    // A different seed is a genuinely different permutation.
    val epoch1 = TextOps.epochShuffle(docs, "epoch1").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("position"))).toMap
    val moved = rows.count(r => epoch1(r.getLong(0)) != r.getAs[Long]("position"))
    assert(moved > n * 9 / 10, s"only $moved/$n docs moved between seeds")
    // The permutation actually shuffles: consecutive doc_ids almost never
    // stay adjacent in position.
    val pos = rows.map(r => (r.getLong(0), r.getAs[Long]("position"))).sortBy(_._1)
    val adjacent = pos.sliding(2).count {
      case Array((_, p1), (_, p2)) => math.abs(p2 - p1) == 1L
      case _ => false
    }
    assert(adjacent < n / 20, s"$adjacent adjacent pairs survived the shuffle")
  }

  test("m09 shard manifest equals a sequential packing and is partition-invariant") {
    val rows = Multimodal.shardManifestQ.fn(spark, sf).collect()
    assert(rows.nonEmpty)
    // Sequential reference packing PER WRITER (media_type) over the same
    // doc_id-ordered sizes — each writer's cursor starts at 0.
    rows.groupBy(_.getAs[String]("media_type")).foreach { case (_, ws) =>
      var cum = 0L
      ws.sortBy(_.getAs[Long]("doc_id")).foreach { r =>
        val n = r.getAs[Long]("n_bytes")
        assert(n > 0)
        val first = cum / 4096; val last = (cum + n - 1) / 4096
        assert(r.getAs[Long]("shard_first") == first, s"doc ${r.getLong(0)} first")
        assert(r.getAs[Long]("shard_last") == last, s"doc ${r.getLong(0)} last")
        assert(r.getAs[Long]("offset_in_shard") == cum % 4096, s"doc ${r.getLong(0)} offset")
        assert(r.getAs[Long]("n_shards") == last - first + 1)
        cum += n
      }
    }
    // Same manifest at a different input partitioning (two-phase prefix
    // scan must be partition-count-independent).
    val reparted = Multimodal.shardManifest(
      Multimodal.mediaTable(spark, sf).repartition(7)).collect()
    assert(reparted.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
      .toSeq == rows.map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString).toSeq)
  }

  test("d25 cluster spectrum: planted 1/2/3-size clusters produce the exact histogram") {
    import spark.implicits._
    // 3 singletons + 2 pairs (one pair differing only in whitespace —
    // must land in the SAME fingerprint group) + 1 triple = 10 docs.
    val docs = Seq(
      (0L, "solo one unique text"), (1L, "solo two unique text"),
      (2L, "solo three unique text"),
      (3L, "pair alpha shared"), (4L, "pair  alpha   shared"),
      (5L, "pair beta shared"), (6L, "pair beta shared"),
      (7L, "triple gamma"), (8L, "triple gamma"), (9L, "triple gamma")
    ).toDF("doc_id", "text")
    val rows = Dedup.clusterSpectrum(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 3L, 3L, 0L, 0.3), (2L, 2L, 4L, 2L, 0.4), (3L, 1L, 3L, 2L, 0.3)))
  }

  test("p07 survival funnel: each stage drops exactly its planted victims, per source") {
    import spark.implicits._
    import graft.operators.Pipeline
    // A gate-passing body: 24 four-letter tokens + 'the' (stop_frac 1/25,
    // mean token length (24*4+3)/25 = 3.96 — inside every threshold).
    val good = (1 to 24).map(i => f"word$i%02d".take(4) + f"$i%02d").mkString(" ") + " the"
    assert(good.split(" ").length == 25)
    val docs = Seq(
      // srcA: one survivor, one blocklisted (stage 1), one too-short
      // (stage 2), one exact dup of the survivor (stage 3).
      (0L, "srcA", good + " tail0"),
      (1L, "srcA", good + " customer tail1"),
      (2L, "srcA", "too short"),
      (3L, "srcA", good + " tail0"),
      // srcB: everything survives.
      (4L, "srcB", good + " tail4"),
      (5L, "srcB", good + " tail5")
    ).toDF("doc_id", "source", "text")
    val rows = Pipeline.survivalFunnel(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.toSeq == Seq(
      ("srcA", 4L, 3L, 2L, 1L, 0.25), ("srcB", 2L, 2L, 2L, 2L, 1.0)))
  }

  test("t35 lang mismatch: planted declared-vs-detected cells and shares are exact") {
    import spark.implicits._
    val english = "the cat and the dog went to the house and it is you that said"
    val german  = "der hund und die katze sind das ist nicht ein haus mit von"
    val docs = Seq(
      (0L, "web", "en", english),   // declared en, detected en -> match
      (1L, "web", "de", english),   // declared de, detected en -> mismatch
      (2L, "web", "de", german),    // declared de, detected de -> match
      (3L, "feed", "zh", english)   // detector can't say zh -> mismatch
    ).toDF("doc_id", "source", "lang", "text")
    val rows = TextOps.langMismatch(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getBoolean(3), r.getLong(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2, t._3))
    assert(rows.toSeq == Seq(
      ("feed", "zh", "en", true, 1L, 1.0),
      ("web", "de", "de", false, 1L, 0.333333),
      ("web", "de", "en", true, 1L, 0.333333),
      ("web", "en", "en", false, 1L, 0.333333)))
  }

  test("s13 knn label purity: planted neighborhoods score the exact match fraction") {
    import spark.implicits._
    // Query 0 (label 1): its 3 nearest by cosine are labels (1, 0, 1)
    // -> purity 2/3. vec_id 4 is pushed to rank 4 by a negated vector.
    val e = Seq(
      (0L, Array(1f, 0f), 1),   // query
      (1L, Array(0.99f, 0.01f), 1),
      (2L, Array(0.95f, 0.05f), 0),
      (3L, Array(0.9f, 0.1f), 1),
      (4L, Array(-1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val rows = Similarity.knnLabelPurityFrom(e, 1, 3).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("query_id") == 0L)
    assert(r.getAs[Long]("label") == 1L)
    assert(r.getAs[Long]("n_match") == 2L)
    assert(r.getAs[Double]("purity") == 0.666667)
  }

  test("m11 array-literal variant == inline-literal variant row-for-row") {
    val media = Multimodal.mediaTable(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq
    val inline = rows(Multimodal.mediaDecontaminate(media, 14))
    val arr = rows(Multimodal.mediaDecontaminateArray(media, 14))
    assert(arr == inline, s"variant drift: ${arr.size} vs ${inline.size} rows")
    assert(inline.exists(_._4) && inline.exists(!_._4), "degenerate fixture")
    // The plan-size gate: maxUnrolledEval = 0 forces mediaDecontaminate
    // onto the packed-array plan at this eval size — rows must not move.
    val packed = rows(Multimodal.mediaDecontaminate(media, 14,
      maxUnrolledEval = 0))
    assert(packed == inline, "plan-size fallback drifted from the unrolled plan")
  }

  test("d24 fully-mirrored feed: zero surviving representatives → inflation NULL, not a crash") {
    import spark.implicits._
    // Every `mirror` doc duplicates a lower-id `origin` doc from ANOTHER
    // source — mirror keeps zero representatives under d01's min-doc_id
    // rule, so its inflation denominator (n_docs − n_redundant) is 0: the
    // guarded ratio must read NULL (NULLIF-mirrored in the oracle).
    val docs = Seq(
      (1L, "alpha beta gamma delta tokens", "en", "origin", 29L),
      (2L, "epsilon zeta eta theta words", "en", "origin", 28L),
      (10L, "alpha beta gamma delta tokens", "en", "mirror", 29L),
      (11L, "epsilon zeta eta theta words", "en", "mirror", 28L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val rows = Dedup.dupInflation(docs).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(rows == Seq(
      ("mirror", 2L, 2L, 1.0, None),
      ("origin", 2L, 0L, 0.0, Some(1.0))))
  }

  test("m11 eval-size contract: empty → no-op manifest, 1 → scores, bound ok, bound+1 refuses") {
    import spark.implicits._
    def media(ids: Seq[Long]) = ids.map(i =>
      Multimodal.MediaRecord(i, "image/stub",
        s"payload $i with some distinguishing content ${i * 31}".getBytes("UTF-8")))
      .toDS()
    def run(ids: Seq[Long], bound: Int) = Seq(
      Multimodal.mediaDecontaminate(media(ids), 14, bound).collect(),
      Multimodal.mediaDecontaminateArray(media(ids), 14, bound).collect())
    // EMPTY eval (no doc_id % 19 == 0): every corpus row keeps, min_hamming
    // NULL, flagged false — both variants.
    run(Seq(1L, 2L, 3L, 4L, 5L), 4).foreach { rows =>
      assert(rows.length == 5)
      assert(rows.forall(r => r.isNullAt(1) && r.getLong(2) == 0L && !r.getBoolean(3)))
    }
    // ONE eval item: real hamming scores, variants row-identical.
    val Seq(one1, one2) = run(Seq(0L, 1L, 2L, 3L), 4).map(_.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSeq)
    assert(one1 == one2 && one1.length == 3 && one1.forall(_._3 <= 1L))
    // Eval size == bound executes; bound+1 refuses with the explicit
    // contract error (not a silent 100×-slower scan) — both variants.
    run(Seq(0L, 19L, 1L, 2L), 2).foreach(rows => assert(rows.length == 2))
    Seq[(org.apache.spark.sql.Dataset[Multimodal.MediaRecord], Int) =>
        org.apache.spark.sql.DataFrame](
      (m, b) => Multimodal.mediaDecontaminate(m, 14, b),
      (m, b) => Multimodal.mediaDecontaminateArray(m, 14, b)).foreach { f =>
      val e = intercept[IllegalArgumentException](
        f(media(Seq(0L, 19L, 38L, 1L, 2L)), 2).collect())
      assert(e.getMessage.contains("inline bound"))
    }
  }

  test("d26 template scrub: planted boilerplate cut exactly, full-scrub digest = md5('')") {
    import spark.implicits._
    // "all rights reserved" appears in 4 distinct docs -> df 4 = hot;
    // every other trigram is unique -> cold.
    val docs = Seq(
      (1L, "prefix words here all rights reserved suffix tail"),
      (2L, "all rights reserved"), // fully scrubbed
      (3L, "foo bar all rights reserved"),
      (4L, "baz all rights reserved qux"),
      (5L, "totally unrelated clean text tokens")
    ).toDF("doc_id", "text")
    def md5s(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = Dedup.templateScrub(docs, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 8L, 3L, 0.375, md5s("prefix words here suffix tail")),
      (2L, 3L, 3L, 1.0, md5s("")),
      (3L, 5L, 3L, 0.6, md5s("foo bar")),
      (4L, 5L, 3L, 0.6, md5s("baz qux")),
      (5L, 5L, 0L, 0.0, md5s("totally unrelated clean text tokens"))))
  }

  test("t39 readability: planted grades land in their exact bands, punctless junk is unscored") {
    import spark.implicits._
    val docs = Seq(
      // 2 sentences, 6 tokens, 6 vowel runs → grade 0.39·3 + 11.8·1 − 15.59
      // = −2.62 → elementary.
      (0L, "srcA", "The cat sat. The dog ran."),
      // 1 sentence, 4 tokens, 16 vowel runs → 0.39·4 + 11.8·4 − 15.59
      // = 33.17 → advanced.
      (1L, "srcA", "Encyclopedia bioluminescence azalea oceania."),
      // no sentences, no tokens → unscored, NULL mean.
      (2L, "srcA", "!!! ..."),
      (3L, "srcB", "The cat sat. The dog ran.")
    ).toDF("doc_id", "source", "text")
    val got = TextOps.readabilityBands(docs).collect().map { r =>
      (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getDouble(4))
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("srcA", "advanced", 1L, Some(33.17), 0.333333),
      ("srcA", "elementary", 1L, Some(-2.62), 0.333333),
      ("srcA", "unscored", 1L, None, 0.333333),
      ("srcB", "elementary", 1L, Some(-2.62), 1.0)))
  }

  test("q43 incremental agg: the merged view is split-point invariant and matches recompute") {
    import graft.operators.Relational
    val li = Tables.lineitem(spark, sf)
    val mx = li.agg(max("l_orderkey")).head().getLong(0)
    // The quantized merge must produce the SAME view wherever the
    // resident/delta boundary falls — associativity is what lets a
    // production refresh read persisted state instead of recomputing.
    val views = Seq(0L, mx / 3, mx * 4 / 5, mx + 1).map { s =>
      Relational.incrementalAgg(li, Some(s)).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    }
    assert(views.distinct.size == 1,
      s"view drifted with the split point: ${views.map(_.take(1))}")
    // Boundary splits: split 0 → everything is delta; past-max → empty
    // delta; both must still equal the recompute (asserted above) with
    // the right delta counts.
    val allDelta = Relational.incrementalAgg(li, Some(0L)).collect()
    assert(allDelta.forall(r => r.getLong(4) == r.getLong(3)))
    val noDelta = Relational.incrementalAgg(li, Some(mx + 1)).collect()
    assert(noDelta.forall(_.getLong(4) == 0L))
    // Empty table: empty view, no crash.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], li.schema)
    assert(Relational.incrementalAgg(empty).count() == 0)
  }

  test("p13 ingest audit: each tripwire fires on its planted hazard") {
    import spark.implicits._
    import graft.operators.Pipeline
    def docsOf(delta: Long => String) = (0L to 24L).map { id =>
      val text =
        if (id >= 19) delta(id)
        else s"resident doc r$id alpha$id beta$id gamma$id delta$id eps$id"
      (id, s"src${id % 3}", text)
    }.toDF("doc_id", "source", "text")
    val benignEmb = (0L to 9L).map(id => (id, Array.fill(4)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    def verdict(docs: org.apache.spark.sql.DataFrame,
        emb: org.apache.spark.sql.DataFrame) = {
      val r = Pipeline.ingestAudit(docs, emb).head()
      (r.getBoolean(9), r.getBoolean(10), r.getBoolean(11), r.getBoolean(12))
    }
    // Healthy: unique texts, identical embeddings → every gate passes.
    val healthy = docsOf(id => s"fresh doc f$id one$id two$id three$id four$id five$id")
    assert(verdict(healthy, benignEmb) == (true, true, true, true))
    // (a) Dup storm: every delta doc copies doc 0 → dup gate fires (and
    // the copied text's shingles flood the delta → template gate too).
    val dupStorm = docsOf(_ => "resident doc r0 alpha0 beta0 gamma0 delta0 eps0")
    val (dupOk, _, driftOk, ready) = verdict(dupStorm, benignEmb)
    assert(!dupOk && driftOk && !ready)
    // (b) Template-only: unique bodies share one new footer → dup gate
    // passes, template gate fires.
    val template = docsOf(id =>
      s"fresh doc f$id one$id two$id brand new spam footer")
    val v2 = verdict(template, benignEmb)
    assert(v2 == (true, false, true, false), s"template verdict: $v2")
    // (c) Encoder change: delta vectors shift a dimension by +1.0 →
    // drift gate fires, the others pass.
    val shifted = (0L to 9L).map { id =>
      val b = Array.fill(4)(0.5f); if (id >= 7) b(0) = 1.5f
      (id, b, 0)
    }.toDF("vec_id", "embedding", "label")
    val v3 = verdict(healthy, shifted)
    assert(v3 == (true, true, false, false), s"drift verdict: $v3")
    // Degenerate: empty corpus and embeddings → one all-clear row.
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], healthy.schema)
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], benignEmb.schema)
    val er = Pipeline.ingestAudit(emptyDocs, emptyEmb).collect()
    assert(er.length == 1 && er(0).getBoolean(12))
  }

  test("d28 boilerplate drift: a delta-only template emerges, the legacy one does not") {
    import spark.implicits._
    // ids 0..24 → split = 24·4/5 = 19: resident {0..18} (19 docs), delta
    // {19..24} (6 docs). Every doc carries the legacy template (same rate
    // in both waves → NOT emerging); delta docs additionally carry a new
    // footer (resident df 0 → emerging).
    val docs = (0L to 24L).map { id =>
      val base = "legacy template alpha beta gamma"
      val text = if (id >= 19) base + " brand new spam footer" else base
      (id, s"src${id % 3}", text)
    }.toDF("doc_id", "source", "text")
    val rows = Dedup.boilerplateDrift(docs).collect().map(r =>
      (r.getLong(1), r.getLong(2), r.getBoolean(5)))
    assert(rows.nonEmpty)
    // Legacy shingles: in all 19 resident and all 6 delta docs, flat rate.
    val legacy = rows.filter(_._1 == 19L)
    assert(legacy.nonEmpty && legacy.forall(t => t._2 == 6L && !t._3),
      s"legacy shingles misflagged: ${legacy.toSeq}")
    // Delta-only shingles: resident df 0, all 6 delta docs, emerging.
    val fresh = rows.filter(_._1 == 0L)
    assert(fresh.nonEmpty && fresh.forall(t => t._2 == 6L && t._3),
      s"fresh shingles missed: ${fresh.toSeq}")
    assert(rows.length == legacy.length + fresh.length)
  }

  test("t40 lm transfer: identical sources transfer at zero gap, disjoint vocab at ln V") {
    import spark.implicits._
    import java.nio.file.Files
    // srcA and srcB share the exact text (their models coincide); srcC's
    // vocabulary is disjoint, so every A-bigram is unseen under C's model
    // and scores p = 1/(0 + V_C) = 1/2: H(A→C) = ln 2 exactly.
    val dir = Files.createTempDirectory("graft-t40").toString
    Seq(
      (0L, "srcA", "a b a b", "en", 7L),
      (1L, "srcB", "a b a b", "en", 7L),
      (2L, "srcC", "x y x y", "en", 7L)
    ).toDF("doc_id", "source", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("t40_lm_transfer")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(m.size == 9)
    // Diagonal gaps are zero by construction.
    Seq("srcA", "srcB", "srcC").foreach(s => assert(m((s, s))._2 == 0.0))
    // Identical sources: same model, same stream → same H, zero gap.
    assert(m(("srcA", "srcB")) == m(("srcA", "srcA")))
    assert(m(("srcA", "srcB"))._2 == 0.0)
    // Disjoint vocabulary: every bigram unseen, V_C = 2 → H = ln 2.
    assert(m(("srcA", "srcC"))._1 == 0.693147)
    assert(m(("srcA", "srcC"))._2 > 0.3)
  }

  test("s16 embedding drift: a planted delta-side shift flags exactly its dimension") {
    import spark.implicits._
    // ids 0..9 → split = 9·4/5 = 7: delta = {7, 8, 9}. Delta vectors shift
    // dim 0 by +1.0; every other dimension is identical across waves.
    val e = (0L to 9L).map { id =>
      val base = Array.fill(4)(1.0f)
      if (id >= 7) base(0) = 2.0f
      (id, base, 0)
    }.toDF("vec_id", "embedding", "label")
    val out = Similarity.embeddingDrift(e).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      (0L, 7L, 3L, 1000000L, true),
      (1L, 7L, 3L, 0L, false),
      (2L, 7L, 3L, 0L, false),
      (3L, 7L, 3L, 0L, false)))
    // All-identical corpus: zero shifts everywhere, nothing drifts.
    val same = (0L to 9L).map(id => (id, Array.fill(4)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.embeddingDrift(same).filter(col("drifted")).count() == 0)
    // Empty corpus: empty result, no crash.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], e.schema)
    assert(Similarity.embeddingDrift(empty).count() == 0)
  }

  test("m12 media clusters: planted copy groups close into exact components") {
    import spark.implicits._
    import graft.operators.Multimodal
    val base = Array.tabulate(512)(i => (((i * 37) ^ (i >> 3)) & 0xff).toByte)
    def jiggle(n: Int) = {
      val a = base.clone(); (0 until n).foreach(i => a(i * 90 + 7) = (a(i * 90 + 7) + 1).toByte); a
    }
    val far = base.map(b => (255 - (b & 0xff)).toByte)
    // Component A: 1–2–3 (copies/near-copies chain); component B: 10–11
    // (identical inverted payloads); 20 is isolated — no cluster row.
    val media = Seq(
      Multimodal.MediaRecord(1L, "image/stub", base),
      Multimodal.MediaRecord(2L, "image/stub", base.clone()),
      Multimodal.MediaRecord(3L, "image/stub", jiggle(3)),
      Multimodal.MediaRecord(10L, "image/stub", far),
      Multimodal.MediaRecord(11L, "image/stub", far.clone()),
      Multimodal.MediaRecord(20L, "image/stub",
        Array.tabulate(512)(i => ((i * 201 + 17) & 0xff).toByte))).toDS()
    val rows = Multimodal.mediaNeardupClusters(media, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq((1L, 3L), (10L, 2L)),
      s"components wrong: ${rows.toSeq}")
    // Identical-payload edges are Hamming 0; the A-chain's worst edge ≤ 3.
    val byRep = rows.map(t => t._1 -> t).toMap
    assert(byRep(10L)._3 == 1L && byRep(10L)._4 == 0L)
    assert(byRep(1L)._4 <= 3L && byRep(1L)._3 >= 2L)
    // Degenerate: no pairs at distance 0 among unrelated payloads → empty.
    val lone = Seq(Multimodal.MediaRecord(1L, "image/stub", base),
      Multimodal.MediaRecord(2L, "image/stub", far)).toDS()
    assert(Multimodal.mediaNeardupClusters(lone, 0).count() == 0)
  }

  test("s15 kmeans cartography: planted directions cluster exactly, zero corpus degenerates safely") {
    import spark.implicits._
    // Three well-separated directions; seeds (vec_id 0/1/2) are the axes,
    // members lean toward one axis. Labels equal the planted direction, so
    // every cluster must come out pure.
    def v(a: Float, b: Float, c: Float) = Array(a, b, c)
    val e = Seq(
      (0L, v(10, 0, 0), 0), (1L, v(0, 10, 0), 1), (2L, v(0, 0, 10), 2),
      (3L, v(9, 1, 0), 0), (4L, v(8, 0, 1), 0),
      (5L, v(1, 9, 0), 1), (6L, v(0, 8, 1), 1), (7L, v(1, 0, 9), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeansCartography(e, k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((0L, 3L, 0L, 1.0), (1L, 3L, 1L, 1.0), (2L, 2L, 2L, 1.0)))
    val shares = Similarity.kmeansCartography(e, k = 3, iters = 3)
      .agg(sum("share")).head().getDouble(0)
    assert(math.abs(shares - 1.0) < 1e-6)
    // Tightness: same-direction members sit close to their centroid.
    Similarity.kmeansCartography(e, k = 3, iters = 3).collect()
      .foreach(r => assert(r.getDouble(5) > 0.9, s"loose cluster: $r"))
    // Degenerate: all-zero vectors — every pairing scores the −2 sentinel,
    // everything lands in cluster 0, no NaN/NULL crash in either engine's
    // semantics.
    val zeros = Seq((0L, v(0, 0, 0), 0), (1L, v(0, 0, 0), 1), (2L, v(0, 0, 0), 0))
      .toDF("vec_id", "embedding", "label")
    val z = Similarity.kmeansCartography(zeros, k = 3, iters = 3).collect()
    assert(z.map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSeq ==
      Seq((0L, 3L, -2.0)))
    // Degenerate: empty corpus → empty result, stable schema.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], e.schema)
    assert(Similarity.kmeansCartography(empty, k = 3, iters = 3).count() == 0)
    // Seeds are the k LOWEST vec_ids, not `vec_id < k`: a corpus whose
    // minimum id is ≥ k must still train k centroids (keyed by those real
    // ids) and cluster identically to the dense-id corpus.
    val shifted = Seq(
      (100L, v(10, 0, 0), 0), (101L, v(0, 10, 0), 1), (102L, v(0, 0, 10), 2),
      (103L, v(9, 1, 0), 0), (104L, v(8, 0, 1), 0),
      (105L, v(1, 9, 0), 1), (106L, v(0, 8, 1), 1), (107L, v(1, 0, 9), 2)
    ).toDF("vec_id", "embedding", "label")
    val sh = Similarity.kmeansCartography(shifted, k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(sh.toSeq == Seq((100L, 3L, 0L, 1.0), (101L, 3L, 1L, 1.0), (102L, 2L, 2L, 1.0)),
      s"shifted-id corpus failed to seed: ${sh.toSeq}")
  }

  test("p12 budget fill equals the driver-side greedy prefix per source, never overshoots") {
    import graft.operators.Pipeline
    val docs = Tables.documents(spark, sf)
    // Expected: per source, admit docs in (score DESC, doc_id) order while
    // the running token sum stays within floor(0.25 * total) — recomputed
    // driver-side from the SAME scoring kernel p12 shares with t24.
    val scored = TextOps.classifierDocScores(docs, Seq("source"))
      .select("source", "doc_id", "n_tokens", "score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val expected = scored.groupBy(_._1).map { case (src, rows) =>
      val total = rows.map(_._3).sum
      val budget = math.floor(total.toDouble * 0.25).toLong
      val ordered = rows.sortBy { case (_, id, _, s) => (-s, id) }
      var cum = 0L
      val sel = ordered.takeWhile { case (_, _, n, _) => cum += n; cum <= budget }
      (src, (rows.length.toLong, total, budget, sel.length.toLong,
        sel.map(_._3).sum, if (sel.isEmpty) None else Some(sel.map(_._4).min)))
    }
    val got = Pipeline.budgetFill(docs).collect().map { r =>
      (r.getString(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), if (r.isNullAt(6)) None else Some(r.getDouble(6))))
    }.toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, e) => assert(got(src) == e, s"source $src") }
    // The admission rule can never overshoot the budget.
    got.values.foreach { case (_, _, budget, _, selTok, _) => assert(selTok <= budget) }
  }

  test("d29 cdc dedup: content-defined boundaries resynchronize after an insertion where d13's fixed grid cannot") {
    import spark.implicits._
    // Doc 0: 200 DISTINCT tokens (no internal duplication). Doc 1: the
    // same stream with ONE token prepended — the edit that shifts every
    // fixed-w chunk boundary. Doc 2: doc 0's stream twice (within-doc
    // repetition). Doc 3: degenerate (no tokens).
    val base = (0 until 200).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (0L, base), (1L, "zzz " + base), (2L, base + " " + base), (3L, "??!")
    ).toDF("doc_id", "text")
    val out = Dedup.cdcDedup(docs, 8, 3).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val (n0, ded0, drop0, dig0) = out(0L)
    // First occurrence keeps everything; digest = md5 of the (already
    // normalized) full text.
    assert(drop0 == 0L && dig0 == md5Hex(base), s"doc0: ${out(0L)}")
    assert(n0 >= 10L, s"expected ~25 chunks at g=8, got $n0")
    // Doc 1: every chunk after the first is byte-identical to one of doc
    // 0's (boundaries resync at the first boundary token), so all its
    // dedupable chunks drop except possibly the unique zzz-prefixed first.
    val (_, ded1, drop1, _) = out(1L)
    assert(drop1 == ded1 || drop1 == ded1 - 1, s"doc1 must lose its shared chunks: ${out(1L)}")
    assert(drop1 >= (ded1 * 4) / 5 && drop1 > 0L, s"resync failed: ${out(1L)}")
    // d13's aligned grid on the SAME fixture: the one-token shift
    // misaligns every 16-token chunk, so doc 1 keeps everything — the
    // exact failure mode d29 exists to close.
    val scrub = Dedup.chunkScrub(docs.filter(col("doc_id") <= 1L), 16).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scrub(1L)._1 == scrub(1L)._2,
      s"fixed-grid d13 unexpectedly matched (kept < chunks): $scrub")
    // Doc 2: the second copy's chunks duplicate the first's (seam and
    // tail chunks may be novel).
    val (_, ded2, drop2, _) = out(2L)
    assert(drop2 >= ded2 / 2 && drop2 > 0L, s"within-doc repeat missed: ${out(2L)}")
    // Doc 3: no tokens → zero counts, digest of the empty string.
    assert(out(3L) == ((0L, 0L, 0L, md5Hex(""))), s"degenerate: ${out(3L)}")
  }

  test("d30 hot chunks: cross-doc chunks are reported with provenance, within-doc repeats are not") {
    import spark.implicits._
    val s = (0 until 100).map(i => s"shared$i").mkString(" ")
    val t = (0 until 60).map(i => s"inner$i").mkString(" ")
    val docs = Seq(
      (0L, s, "feedA"), (1L, s, "feedB"), // identical doc in two sources
      (2L, t + " " + t, "feedA")          // repetition only WITHIN one doc
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.hotChunks(docs, 8, 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty, "shared chunks must be reported")
    // Every reported chunk comes from the cross-source duplicate pair:
    // n_docs = 2, both sources, cross_source set. Doc 2's internally
    // repeated chunks (n_occ = 2 but n_docs = 1) never qualify.
    rows.foreach { case (chunk, nOcc, nDocs, nSrc, cross) =>
      assert(chunk.startsWith("shared"), s"within-doc repeat leaked: $chunk")
      assert(nDocs == 2L && nSrc == 2L && cross && nOcc == 2L, rows.toSeq)
    }
  }

  test("q44 referential audit: each orphan class is counted on its own check row") {
    import spark.implicits._
    val customer = Seq(1L, 2L, 3L).toDF("c_custkey")
    val orders = Seq((10L, 1L), (11L, 2L), (12L, 1L))
      .toDF("o_orderkey", "o_custkey")
    val lineitem = Seq((10L, 100L, 200L), (11L, 100L, 200L), (99L, 100L, 200L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
    val part = Seq(100L, 101L).toDF("p_partkey")
    val supplier = Seq(200L, 201L).toDF("s_suppkey")
    val got = Relational.referentialAudit(customer, orders, lineitem, part, supplier)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "customer_without_order" -> ((3L, 1L)),   // custkey 3
      "lineitem_orphaned" -> ((3L, 1L)),        // l_orderkey 99
      "order_without_lineitem" -> ((3L, 1L)),   // order 12
      "part_never_ordered" -> ((2L, 1L)),       // part 101
      "supplier_never_used" -> ((2L, 1L))), got)
  }

  test("m13 payload entropy: single-symbol payloads score zero, uniform alphabets score ln(k)") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRecord(0L, "image/stub", "aaaaa".getBytes("UTF-8")),
      Multimodal.MediaRecord(1L, "image/stub", "abcdefghij".getBytes("UTF-8")),
      Multimodal.MediaRecord(2L, "image/stub", Array.empty[Byte])
    ).toDS()
    val out = Multimodal.payloadEntropy(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4), r.getBoolean(5)))
      .toMap
    // Solid payload: one symbol, H = 0. Uniform 10-symbol alphabet:
    // H = ln 10 at micro precision. Empty payload: zero symbols, H = 0.
    assert(out(0L) == ((1L, 0.0, true)), out(0L))
    assert(out(1L)._1 == 10L && out(1L)._2 == 2.302585, out(1L))
    assert(out(2L) == ((0L, 0.0, true)), out(2L))
    // A 3-doc corpus sits entirely inside the 50-row review queue: the
    // cutoff is the corpus max, so every row is flagged (documented).
    assert(out.values.forall(_._3))
  }

  test("p14 gate attribution: independent gates compose into exclusive combos that sum to the source totals") {
    import spark.implicits._
    val good = "the " + (1 to 23).map(i => s"wolf$i").mkString(" ")
    val docs = Seq(
      (0L, "a", good),                  // clean
      (1L, "a", good),                  // exact dup of 0 → D
      (2L, "a", good + " customer"),    // blocklist only → B
      (3L, "a", "tiny text"),           // too short → Q
      (4L, "b", "customer"),            // blocked AND too short → BQ
      (5L, "b", good)                   // cross-source dup of 0 → D
    ).toDF("doc_id", "source", "text")
    val got = Pipeline.gateAttribution(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got == Map(
      ("a", "clean") -> ((1L, 0.25)), ("a", "D") -> ((1L, 0.25)),
      ("a", "B") -> ((1L, 0.25)), ("a", "Q") -> ((1L, 0.25)),
      ("b", "BQ") -> ((1L, 0.5)), ("b", "D") -> ((1L, 0.5))), got)
  }

  test("s17 probe traffic balance: probe and storage mass reconcile and the flag is the exact fair-share line") {
    import spark.implicits._
    def v(a: Float, b: Float, c: Float) = Array(a, b, c)
    val e = Seq(
      (0L, v(10, 0, 0)), (1L, v(0, 10, 0)), (2L, v(0, 0, 10)),
      (3L, v(9, 1, 0)), (4L, v(8, 0, 1)), (5L, v(9, 0, 1)),
      (6L, v(8, 1, 0)), (7L, v(1, 9, 0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.probeTrafficBalance(e, k = 3, iters = 1,
      nQueries = 2, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getBoolean(5)))
    assert(out.length == 3)
    val stTot = out.map(_._2).sum
    val prTot = out.map(_._3).sum
    assert(stTot == 8L, s"all vectors stored once: ${out.toSeq}")
    assert(prTot == 4L, s"2 queries x nprobe 2: ${out.toSeq}")
    // The flag IS the integer fair-share inequality — recompute it.
    out.foreach { case (_, st, pr, hot) =>
      assert(hot == (pr > 0 && pr * stTot > st * prTot), out.toSeq)
    }
    // Empty corpus → empty result with the stable schema.
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], e.schema)
    assert(Similarity.probeTrafficBalance(empty).collect().isEmpty)
  }

  test("p15 release churn: a re-crawled page is retained at fingerprint grain, a takedown counts as removed") {
    import spark.implicits._
    // Release A: two src0 docs + one src1 doc. Release B: the first src0
    // doc re-crawled under a NEW doc_id with whitespace-only changes
    // (SAME content fingerprint → retained, NOT add+remove — the grain
    // the ledger exists for), the second src0 doc taken down, and a new
    // src1 doc added.
    val relA = Seq(
      (1L, "alpha beta gamma", "src0"),
      (2L, "delta epsilon", "src0"),
      (3L, "zeta eta theta", "src1")
    ).toDF("doc_id", "text", "source")
    val relB = Seq(
      (9L, "  alpha   beta\tgamma ", "src0"), // re-crawl of doc 1
      (3L, "zeta eta theta", "src1"),
      (4L, "iota kappa", "src1")
    ).toDF("doc_id", "text", "source")
    val out = Pipeline.releaseChurn(relA, relB).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // src0: 0 added, 1 removed (doc 2), 1 retained (the re-crawl);
    // token budget is carried by the keeper rows: A = 3+2, B = 3.
    assert(out("src0") == ((0L, 1L, 1L, 5L, 3L, -2L)), out.toSeq.toString)
    // src1: 1 added (doc 4), 0 removed, 1 retained; tokens A=3, B=3+2.
    assert(out("src1") == ((1L, 0L, 1L, 3L, 5L, 2L)), out.toSeq.toString)
  }

  test("s18 population drift: an identically-distributed delta holds shares, a concentrated delta flags its cell") {
    import spark.implicits._
    def v(a: Float, b: Float, c: Float) = Array(a, b, c)
    // Resident (ids 0-7, the 4/5 split of max id 9 puts >= 7.2 -> ids 8-9
    // in the delta... use max 9: split = 9*4/5 = 7 -> delta is 7,8,9.
    // Build so residents 0-6 spread over two directions and the delta
    // (7,8,9) all land on the x-axis cell.
    val e = Seq(
      (0L, v(10, 0, 0)), (1L, v(0, 10, 0)), (2L, v(9, 1, 0)),
      (3L, v(1, 9, 0)), (4L, v(10, 1, 0)), (5L, v(1, 10, 0)),
      (6L, v(8, 0, 1)),
      (7L, v(10, 0, 0)), (8L, v(9, 0, 1)), (9L, v(10, 1, 1))
    ).toDF("vec_id", "embedding")
    val out = Similarity.clusterPopulationDrift(e, k = 2, iters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(8)))
    assert(out.map(_._2).sum == 7L, s"resident mass: ${out.toSeq}")
    assert(out.map(_._3).sum == 3L, s"delta mass: ${out.toSeq}")
    // The whole delta routes to the x-axis cell (seeded by vec 0): that
    // cell's delta share (3/3) strictly exceeds its resident share, so
    // the exact cross-product ranks it first and it must carry the flag.
    val xCell = out.maxBy(_._3)
    assert(xCell._3 == 3L, s"delta should concentrate: ${out.toSeq}")
    assert(xCell._4, s"concentrated cell must flag: ${out.toSeq}")
    // An identically-distributed delta: clone the residents as the delta
    // wave (ids shifted past the split of the new max).
    val clone = Seq(
      (0L, v(10, 0, 0)), (1L, v(0, 10, 0)), (2L, v(9, 1, 0)), (3L, v(1, 9, 0)),
      (16L, v(10, 0, 0)), (17L, v(0, 10, 0)), (18L, v(9, 1, 0)), (19L, v(1, 9, 0))
    ).toDF("vec_id", "embedding")
    val cl = Similarity.clusterPopulationDrift(clone, k = 2, iters = 1).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(5)))
    // Mirrored waves: per cell n_res == n_delta and share shift is 0.
    cl.foreach { case (nr, nd, shift) =>
      assert(nr == nd && shift == 0.0, cl.toSeq.toString)
    }
  }

  test("t41 threshold curve: kept set shrinks monotonically in tau and the gate margin is tau-invariant") {
    val out = SparkEntry.queries("t41_gate_threshold_curve")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
      .sortBy(_._1) // (tau, n_kept, tp, fp, fn, tn)
    assert(out.length == 9)
    // Raising tau can only shed kept docs; tp+fn (gate passes) and the
    // total population are tau-invariant.
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"kept grew with tau: $lo -> $hi")
    }
    assert(out.map(t => t._3 + t._5).distinct.length == 1, "gate mass moved with tau")
    assert(out.map(t => t._3 + t._4 + t._5 + t._6).distinct.length == 1)
    // The grid actually splits the corpus somewhere.
    assert(out.head._2 > out.last._2, "grid never moved the kept set")
  }

  test("q46 cadence: telescoped mean gap and the division-free banding against a user's own cadence") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $s")
    val ev = Seq(
      // u1: three purchases, span 58 m, idle 2 m -> active.
      (1L, "purchase", t("00:00:00")), (1L, "purchase", t("00:30:00")),
      (1L, "purchase", t("00:58:00")),
      // u2: span 10 m, idle 50 m -> idle*(n-1) > 2*span -> at_risk.
      (2L, "purchase", t("00:00:00")), (2L, "purchase", t("00:10:00")),
      // u3: one purchase -> 'single', NULL gap.
      (3L, "purchase", t("00:30:00")),
      // u4: span 25 m, idle 35 m -> span < idle <= 2*span -> cooling.
      (4L, "purchase", t("00:00:00")), (4L, "purchase", t("00:25:00")),
      // u9: a non-purchase fixes the observation horizon at 01:00.
      (9L, "view", t("01:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val out = Relational.purchaseCadence(ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getLong(5),
        r.getString(6))).toMap
    assert(out(1L) == ((3L, Some(29L * 60000000L), 2L * 60000000L, "active")), out.toSeq.toString)
    assert(out(2L) == ((2L, Some(10L * 60000000L), 50L * 60000000L, "at_risk")), out.toSeq.toString)
    assert(out(3L) == ((1L, None, 30L * 60000000L, "single")), out.toSeq.toString)
    assert(out(4L) == ((2L, Some(25L * 60000000L), 35L * 60000000L, "cooling")), out.toSeq.toString)
    assert(!out.contains(9L), "non-purchasing user leaked into the cadence table")
  }

  test("p16 fingerprint stamp: whitespace re-crawl keeps the stamp, one added doc moves it, ALL row is the XOR of sources") {
    import spark.implicits._
    val relA = Seq(
      (1L, "alpha beta", "src0"), (2L, "gamma delta", "src1")
    ).toDF("doc_id", "text", "source")
    // Same contents re-crawled under new ids with whitespace-only edits.
    val relB = Seq(
      (9L, "  alpha   beta ", "src0"), (8L, "gamma\tdelta", "src1")
    ).toDF("doc_id", "text", "source")
    val relC = relB.unionByName(
      Seq((4L, "epsilon", "src1")).toDF("doc_id", "text", "source"))
    def stamp(df: org.apache.spark.sql.DataFrame) =
      Pipeline.releaseFingerprint(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(6)))
        .toMap
    val a = stamp(relA); val b = stamp(relB); val c = stamp(relC)
    // Content-identical releases stamp identically (docs/contents/xor).
    assert(a == b, s"whitespace re-crawl moved the stamp: $a vs $b")
    // One added content must move exactly the touched source and ALL.
    assert(c("src0") == a("src0"), c.toSeq.toString)
    assert(c("src1") != a("src1") && c("__ALL__") != a("__ALL__"), c.toSeq.toString)
    // The ALL digest re-aggregates: XOR of the per-source digests.
    assert(c("__ALL__")._3 == (c("src0")._3 ^ c("src1")._3), c.toSeq.toString)
    assert(c("__ALL__")._1 == c("src0")._1 + c("src1")._1)
  }

  test("m15 interleave pack: per-modality token mass is conserved and every interior window is exactly full") {
    import graft.functions.TextFns
    val docs = Tables.documents(spark, sf)
    // Sorted by window_id: query results are unordered; sort at the assertion.
    val out = SparkEntry.queries("m15_interleave_pack")(spark, sf).collect()
      .sortBy(_.getLong(0))
    // Conservation: the window rollup must hold every text token exactly
    // once and one 64-token slot per payload-bearing doc — interval
    // splitting can neither drop nor double-count a position.
    val totText = docs
      .select(sum(size(TextFns.tokens(col("text"))).cast("long"))).head.getLong(0)
    val nMedia = docs
      .filter(octet_length(col("text").cast("binary")) > 0).count()
    assert(out.map(_.getLong(2)).sum == totText, "text token mass moved")
    assert(out.map(_.getLong(3)).sum == 64L * nMedia, "media slot mass moved")
    // Greedy packing leaves no gaps: windows are contiguous from 0 and
    // every window but the last is byte-exactly full.
    assert(out.map(_.getLong(0)).toSeq == (0L until out.length).toSeq)
    out.dropRight(1).foreach { r =>
      assert(r.getDouble(5) == 1.0, s"interior window not full: $r")
    }
    // The interleave is real on this corpus: some window holds both
    // modalities.
    assert(out.exists(r => r.getLong(2) > 0 && r.getLong(3) > 0))
  }

  test("q47 fulfillment latency: bands partition every lineitem, the pre_order tripwire fires, shares close per priority") {
    val out = SparkEntry.queries("q47_fulfillment_latency")(spark, sf).collect()
    // Every lineitem lands in exactly one (priority, band) cell.
    assert(out.map(_.getLong(3)).sum == Tables.lineitem(spark, sf).count())
    // The impossible-latency band is non-vacuous on this corpus — the
    // data-quality tripwire the band exists for actually fires.
    assert(out.filter(_.getInt(1) == 0).map(_.getLong(3)).sum > 0)
    out.groupBy(_.getString(0)).foreach { case (p, rows) =>
      val s = rows.map(_.getDouble(4)).sum
      assert(math.abs(s - 1.0) < 1e-4, s"priority $p shares sum to $s")
    }
  }

  test("t43 fertility: >= 1 per cell, training only lowers it, and the rollup conserves t25's totals") {
    import graft.operators.TextOps
    val docs = Tables.documents(spark, sf)
    val merges = TextOps.bpeMerges(docs, 8).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val trained = TextOps.bpeFertility(docs, merges).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // Merges never cross word boundaries: every word is >= 1 symbol.
    trained.foreach { case (cell, (w, b, f)) =>
      assert(b >= w && f >= 1.0, s"$cell fertility below 1: $f")
    }
    // The unmerged baseline is chars-per-word; training can only lower
    // each cell (a merge never increases any word's symbol count).
    val baseline = TextOps.bpeFertility(docs, Seq.empty).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(5))).toMap
    trained.foreach { case (cell, (_, _, f)) =>
      assert(f <= baseline(cell) + 1e-9, s"$cell rose over baseline")
    }
    // Conservation: the cell rollup holds exactly t25's corpus totals.
    val t25 = SparkEntry.queries("t25_bpe_encode")(spark, sf).collect()
    assert(trained.values.map(_._1).sum == t25.map(_.getLong(1)).sum)
    assert(trained.values.map(_._2).sum == t25.map(_.getLong(2)).sum)
  }

  test("d32 incremental near-dup: the re-crawl the exact gate misses bounces, novelty admits, residents emit no rows") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "en", "s0", 10L),                     // resident
      (2L, "one two three four five six", "en", "s0", 6L), // resident
      (7L, base + " lambda", "en", "s0", 11L),         // wave: near-dup of 1 (J≈0.89), NOT byte-equal
      (14L, "red orange yellow green blue indigo violet", "en", "s0", 7L) // wave: novel
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.incrementalNearDup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)), r.getBoolean(4)))
      .toMap
    // Only wave docs get verdict rows.
    assert(out.keySet == Set(7L, 14L), out.toString)
    // The whitespace-edited re-crawl is exactly what d10's byte gate
    // misses — here it must bounce, naming its resident original.
    assert(out(7L) == ((1L, Some(1L), false)), out.toString)
    assert(out(14L) == ((0L, None, true)), out.toString)
  }

  test("p17 mix reweight: shares renormalize, the step moves mass toward novelty, eta=0 is the identity") {
    val docs = Tables.documents(spark, sf)
    val out = Pipeline.mixReweight(docs).collect()
      .map(r => (r.getString(0), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // Round-6 shares renormalize: both columns sum to 1 on the grid.
    assert(math.abs(out.map(_._2).sum - 1.0) < out.length * 5e-7)
    assert(math.abs(out.map(_._4).sum - 1.0) < out.length * 5e-7)
    // exp(η·nov_max) is ≥ the share-weighted mean factor, so the most
    // novel source can only gain; the least novel can only lose.
    val maxNov = out.maxBy(_._3); val minNov = out.minBy(_._3)
    assert(maxNov._5 >= -2e-6, s"most novel source lost mass: $maxNov")
    assert(minNov._5 <= 2e-6, s"least novel source gained mass: $minNov")
    // η = 0 is the identity step on the rounding grid.
    Pipeline.mixReweight(docs, eta = 0.0).collect().foreach { r =>
      assert(math.abs(r.getDouble(5)) <= 2e-6, s"eta=0 moved ${r.getString(0)}")
    }
  }

  test("q48 spend concentration: gini in [0,1), top decile carries at least its proportional share, orders partition") {
    val out = SparkEntry.queries("q48_spend_concentration")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(out.map(_._2).sum == Tables.orders(spark, sf).count())
    out.foreach { case (seg, n, tot, gini, top) =>
      assert(gini >= 0.0 && gini < 1.0, s"$seg gini out of range: $gini")
      // The top (n div 10) orders BY VALUE hold at least their count
      // share of spend (their mean >= the overall mean) — rounded-6
      // share, so allow the rounding grid.
      assert(top + 5e-7 >= (n / 10).toDouble / n.toDouble,
        s"$seg top decile under proportional: $top vs ${(n / 10).toDouble / n}")
      assert(tot > 0L)
    }
  }

  test("s19 nprobe curve: recall and scan are monotone in nprobe and the nprobe=k row IS brute force") {
    val out = SparkEntry.queries("s19_nprobe_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getDouble(4))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    // More probes can only widen the candidate set: scanned rows and hits
    // are non-decreasing in nprobe.
    out.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 >= lo._2 && hi._4 >= lo._4, s"curve not monotone: $lo -> $hi")
    }
    // The proof anchor: probing all k cells scans everything and recovers
    // the exact ground truth — recall and scan_frac are EXACTLY 1.0, not
    // approximately (integer-milli arithmetic end to end).
    val full = out.last
    assert(full._3 == 1.0 && full._5 == 1.0, s"nprobe=k row not exact: $full")
    // And the knob is real on this corpus: nprobe=1 scans strictly less.
    assert(out.head._2 < full._2)
  }

  test("d31 soft dedup: cross-source copies split mass that hard attribution destroys, and soft mass conserves unique mass") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c", "s0"),   // unique, 3 tokens
      (2L, "x y", "s0"),     // copy pair across sources: csize 2
      (3L, "x y", "s1"),
      (4L, "z", "s1")        // unique, 1 token
    ).toDF("doc_id", "text", "source")
    val out = Dedup.softDedupWeights(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // s0 keeps both its contents (doc 2 is the pair's keeper): unique =
    // raw = 5; soft = 3 + 2/2 = 4 — the copy contributes HALF here.
    assert(out("s0") == ((2L, 5L, 5L, 4000000L, 4L)), out.toSeq.toString)
    // s1's copy is keeper-attributed to s0 — hard unique sees 1 token,
    // soft attribution restores the half share: 1 + 2/2 = 2.
    assert(out("s1") == ((2L, 3L, 1L, 2000000L, 2L)), out.toSeq.toString)
    // Conservation: total soft micro mass == total unique mass × 10⁶
    // (exact whenever every cluster size divides 10⁶ — here csize = 2).
    assert(out.values.map(_._4).sum == (out.values.map(_._3).sum * 1000000L))
  }

  test("round-13 operating curves: monotone in their sweep parameter, consistent with the queries they calibrate") {
    // d33: candidates grow with the cap; emitted pairs can only grow too
    // (candidate sets nest); at the shipped cap the pair count IS d04's.
    val d33 = SparkEntry.queries("d33_cap_operating_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(d33.map(_._1).toSeq == Seq(8L, 64L, 256L))
    assert(d33.sliding(2).forall(w => w(0)._2 <= w(1)._2), s"d33 candidates not monotone: $d33")
    assert(d33.sliding(2).forall(w => w(0)._3 <= w(1)._3), s"d33 pairs not monotone: $d33")
    val d04n = SparkEntry.queries("d04_ngram_jaccard")(spark, sf).count()
    assert(d33.find(_._1 == 64L).get._3 == d04n,
      s"d33 at the shipped cap disagrees with d04: ${d33.toSeq} vs $d04n")
    // d34: candidates/verified/recall grow with the band prefix (candidate
    // sets nest); verified never exceeds candidates; recall stays in [0,1].
    val d34 = SparkEntry.queries("d34_band_operating_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(_._1)
    assert(d34.map(_._1).toSeq == Seq(4L, 8L, 16L))
    assert(d34.sliding(2).forall(w => w(0)._2 <= w(1)._2), s"d34 candidates not monotone: $d34")
    assert(d34.sliding(2).forall(w => w(0)._3 <= w(1)._3), s"d34 verified not monotone: $d34")
    assert(d34.sliding(2).forall(w => w(0)._4 <= w(1)._4), s"d34 recall not monotone: $d34")
    assert(d34.forall(r => r._3 <= r._2 && r._4 >= 0.0 && r._4 <= 1.0))
    // d35: an n+1-gram match implies n-gram matches, so every column is a
    // survival function of n — non-increasing.
    val d35 = SparkEntry.queries("d35_contam_ngram_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(d35.map(_._1).toSeq == Seq(3L, 5L, 8L))
    assert(d35.sliding(2).forall(w => w(0)._2 >= w(1)._2), s"d35 pairs not anti-monotone: $d35")
    assert(d35.sliding(2).forall(w => w(0)._3 >= w(1)._3), s"d35 docs not anti-monotone: $d35")
    assert(d35.sliding(2).forall(w => w(0)._4 >= w(1)._4), s"d35 evals not anti-monotone: $d35")
    assert(d35.head._2 > 0, "vacuous curve: no contamination at n=3 on this corpus")
  }

  test("q49 purchase gaps: shares sum to 1 and gap count is purchases minus users-with-purchases") {
    val out = SparkEntry.queries("q49_purchase_gap_bands")(spark, sf).collect()
    val p = Tables.events(spark, sf).filter(col("event_type") === "purchase")
    val expectGaps = p.count() - p.select("user_id").distinct().count()
    assert(out.map(_.getLong(2)).sum == expectGaps,
      s"gap total ${out.map(_.getLong(2)).sum} != purchases-users $expectGaps")
    assert(math.abs(out.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }
}
