package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.sources.Tables

/** The df-cap contract for the d04/d18 shared-shingle candidate join
  * ([[Dedup.dfCappedCandidates]]):
  *
  *  1. EQUIVALENCE — on corpora where every true pair shares at least one
  *     sub-cap shingle (all shipped test corpora), the capped plan's output
  *     is row-identical to the uncapped plan's, because the cap touches
  *     candidate generation ONLY; intersection counts and size denominators
  *     still run over all shingles.
  *  2. PRUNING — on a planted boilerplate corpus (k docs all sharing one
  *     hot shingle, otherwise pairwise-disjoint), the uncapped join emits
  *     the full k·(k−1)/2 candidate set while the capped join emits zero —
  *     the k² term the cap exists to kill.
  *  3. BOUNDARY — a pair whose ONLY shared shingles are corpus-hot is, by
  *     contract, not emitted by the capped plan (such overlap is
  *     boilerplate, not duplication). Asserted so the contract line can
  *     never drift silently.
  */
class DedupCapSpec extends SparkSpec {

  private def uncappedJaccard(docs: org.apache.spark.sql.DataFrame) = {
    val hs = Dedup.materializedShingleHashes(docs)
    Dedup.jaccardPairsHashed(hs, None)
  }

  private def cappedJaccard(docs: org.apache.spark.sql.DataFrame, cap: Int) = {
    val hs = Dedup.materializedShingleHashes(docs)
    Dedup.jaccardPairsCapped(hs, cap)
  }

  test("capped d04 ≡ uncapped d04 on the sf0.001 corpus (shipped cap)") {
    val docs = Tables.documents(spark, sf)
    val un = uncappedJaccard(docs).filter(col("jaccard") >= 0.12)
      .orderBy("a", "b").collect().toSeq
    val cp = cappedJaccard(docs, Dedup.ShingleDfCap).filter(col("jaccard") >= 0.12)
      .orderBy("a", "b").collect().toSeq
    assert(cp == un, s"capped=${cp.size} rows, uncapped=${un.size} rows")
    assert(un.nonEmpty, "vacuous equivalence: corpus produced no pairs")
  }

  test("capped d18 ≡ uncapped d18 on the sf0.001 corpus (shipped cap)") {
    val docs = Tables.documents(spark, sf)
    // Uncapped d18 = capped with an unreachable cap (df can't exceed #docs).
    val n = docs.count().toInt + 1
    val un = Dedup.containmentPairs(docs, 0.5, dfCap = n).collect().toSeq
    val cp = Dedup.containmentPairs(docs, 0.5).collect().toSeq
    assert(cp == un, s"capped=${cp.size} rows, uncapped=${un.size} rows")
    assert(un.nonEmpty, "vacuous equivalence: corpus produced no pairs")
  }

  test("planted boilerplate: cap collapses the k² candidate term") {
    import spark.implicits._
    // k docs that all share one boilerplate 3-shingle but are otherwise
    // pairwise shingle-disjoint: uncapped candidates = k·(k−1)/2; capped
    // (cap < k) = 0. True near-dup structure is absent by construction.
    val k = 40
    val docs = (0 until k).map { i =>
      (i.toLong, s"all rights reserved legally unique$i content$i tokens$i here$i")
    }.toDF("doc_id", "text")
    val hs = Dedup.materializedShingleHashes(docs)
    val uncapped = hs.select(col("doc_id").as("a"), col("sh_h"))
      .join(hs.select(col("doc_id").as("b"), col("sh_h")), "sh_h")
      .filter(col("a") < col("b")).select("a", "b").distinct().count()
    assert(uncapped == k.toLong * (k - 1) / 2,
      s"planted corpus malformed: expected full pairing, got $uncapped")
    val capped = Dedup.dfCappedCandidates(hs, dfCap = k - 1).count()
    assert(capped == 0, s"cap failed to prune the boilerplate fan-out: $capped")
  }

  test("hot-shingle intersections still counted exactly (mixed corpus)") {
    import spark.implicits._
    // Every doc carries the same boilerplate prefix (its shingles go hot
    // at cap=4: df = 14 > 4); docs 100/101 additionally share rare
    // content. The capped plan must emit (100,101) with a Jaccard that
    // counts the shared HOT shingles too — i.e. exactly the uncapped
    // value — because the cap gates candidate generation, not arithmetic.
    val boiler = "copyright terms apply to this page"
    val docs = ((0 until 12).map(i => (i.toLong, s"$boiler unique$i filler$i words$i")) ++
      Seq((100L, s"$boiler shared rare content alpha beta gamma"),
          (101L, s"$boiler shared rare content alpha beta delta"))).toDF("doc_id", "text")
    val hs = Dedup.materializedShingleHashes(docs)
    def at(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("a") === 100 && col("b") === 101)
        .select("jaccard").collect().map(_.getDouble(0)).toSeq
    val un = at(Dedup.jaccardPairsHashed(hs, None))
    val cp = at(Dedup.jaccardPairsCapped(hs, dfCap = 4))
    assert(un.nonEmpty && cp == un, s"capped=$cp uncapped=$un")
    // And the emitted pair SET equals the dfCappedCandidates contract.
    val set1 = Dedup.cappedPairCounts(hs, 4).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val set2 = Dedup.dfCappedCandidates(hs, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(set1 == set2)
  }

  test("capped d21 ≡ uncapped d21 on the sf0.001 corpus (shipped cap)") {
    val docs = Tables.documents(spark, sf)
    val n = docs.count().toInt + 1
    val un = Dedup.splitLeakage(docs, dfCap = n).collect().toSeq
    val cp = Dedup.splitLeakage(docs).collect().toSeq
    assert(cp == un, s"capped=${cp.size} rows, uncapped=${un.size} rows")
    assert(un.nonEmpty, "vacuous equivalence: corpus produced no leakage rows")
  }

  test("d21 boilerplate corpus: cap kills the val×train fan-out, keeps real leaks exact") {
    import spark.implicits._
    // Every doc carries the same boilerplate sentence (its 5-gram shingles
    // go hot at df = 60 > cap = 4); one val-bucket doc and one train-bucket
    // doc additionally share a rare passage — the one REAL split leak.
    // Capped d21 must emit exactly that val doc, with n_shared counting the
    // hot boilerplate shingles too (recovered from the hot arrays), i.e.
    // the uncapped pair's exact mass — while every boilerplate-only
    // val×train pair (the 0.09·n² detonator) is gone.
    val buckets = spark.range(0, 300)
      .select(col("id"), graft.operators.Sampling.hashBucket(col("id")).as("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val valIds = (0L until 300L).filter(buckets(_) < 10)
    val trainIds = (0L until 300L).filter(buckets(_) >= 10)
    val leakVal = valIds.head
    val leakTrain = trainIds.head
    val boiler = "all rights reserved the template page body repeats verbatim"
    val rarePassage = "zebra quark nebula vortex lattice prism glyph"
    val ids = (valIds.take(6) ++ trainIds.take(54)).toSet
    val docs = ids.toSeq.sorted.map { i =>
      val extra =
        if (i == leakVal || i == leakTrain) s" $rarePassage"
        else s" unique$i filler$i words$i more$i stuff$i"
      (i, s"$boiler$extra")
    }.toDF("doc_id", "text")
    val capped = Dedup.splitLeakage(docs, dfCap = 4).collect()
    assert(capped.map(_.getLong(0)).toSeq == Seq(leakVal),
      s"capped val set = ${capped.map(_.getLong(0)).toSeq}, want Seq($leakVal)")
    val row = capped.head
    assert(row.getLong(1) == 1L, s"n_train_neighbors = ${row.getLong(1)}")
    // Exact hot-mass recovery: the leak pair's two texts are identical, so
    // its shared-shingle mass must equal the doc's FULL distinct 5-gram
    // count — including the boilerplate shingles the cap kept out of the
    // pairing join (df = 60 > 4), which the hot arrays must add back.
    val allShingles = Dedup.hashedShingles(
      Dedup.shingleSets(Seq((leakVal, s"$boiler $rarePassage"))
        .toDF("doc_id", "text"), 5)).count()
    assert(row.getLong(2) == allShingles,
      s"n_shared_ngrams capped=${row.getLong(2)}, full shingle count=$allShingles")
    assert(row.getLong(2) > 3L, "leak pair should share rare AND hot shingles")
  }

  test("boundary contract: a pair sharing ONLY hot shingles is not emitted") {
    import spark.implicits._
    // Docs 0 and 1 are exact copies (every shared shingle has df ≥ 2 and,
    // with 10 more copies, df = 12 > cap=4): the capped plan must NOT pair
    // them — that overlap is corpus-boilerplate by the contract. Docs 100
    // and 101 share a rare shingle and must still appear.
    val hot = (0 until 12).map(i => (i.toLong, "the quick brown fox jumps over"))
    val rare = Seq(
      (100L, "rare shared shingle here plus alpha"),
      (101L, "rare shared shingle here plus beta"))
    val docs = (hot ++ rare).toDF("doc_id", "text")
    val hs = Dedup.materializedShingleHashes(docs)
    val cands = Dedup.dfCappedCandidates(hs, dfCap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.contains((0L, 1L)), "hot-only pair leaked through the cap")
    assert(cands.contains((100L, 101L)), "rare-shingle pair wrongly pruned")
  }

  test("capped d09/d19 ≡ uncapped on the sf0.001 corpus (shipped cap)") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 19 =!= 0)
    val evalD = docs.filter(col("doc_id") % 19 === 0)
    val n = docs.count().toInt + 1
    val un09 = Dedup.decontaminate(corpus, evalD, 5, dfCap = n).collect().toSeq
    val cp09 = Dedup.decontaminate(corpus, evalD, 5).collect().toSeq
    assert(cp09 == un09, s"d09 capped=${cp09.size} rows, uncapped=${un09.size} rows")
    assert(un09.nonEmpty, "vacuous equivalence: no contamination rows at sf0.001")
    val un19 = Dedup.evalLeakReport(corpus, evalD, 5, dfCap = n).collect().toSeq
    val cp19 = Dedup.evalLeakReport(corpus, evalD, 5).collect().toSeq
    assert(cp19 == un19, s"d19 capped=${cp19.size} rows, uncapped=${un19.size} rows")
    assert(un19.nonEmpty, "vacuous equivalence: no leak-report rows at sf0.001")
  }

  test("d09/d19 boilerplate corpus: cap kills corpus×eval fan-out, keeps real contamination exact") {
    import spark.implicits._
    // Every doc carries the same boilerplate sentence (its 5-gram shingles
    // go hot at df = 60 > cap = 4); eval slice = doc_id % 19 == 0 (the
    // shipped d09/d19 split), and corpus doc 20 is an exact copy of eval
    // doc 19 — the one REAL contamination. Capped d09 must emit exactly
    // doc 20, with n_shared_ngrams counting the hot boilerplate shingles
    // too (recovered from the hot arrays) — the uncapped pair's exact
    // mass — while every boilerplate-only corpus×eval pair (the
    // df_corpus·df_eval detonator) is gone.
    val boiler = "all rights reserved the template page body repeats verbatim"
    val rarePassage = "zebra quark nebula vortex lattice prism glyph"
    val docs = (0L until 60L).map { i =>
      val extra =
        if (i == 19L || i == 20L) s" $rarePassage"
        else s" unique$i filler$i words$i more$i stuff$i"
      (i, s"$boiler$extra")
    }.toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 19 =!= 0)
    val evalD = docs.filter(col("doc_id") % 19 === 0)
    val cp09 = Dedup.decontaminate(corpus, evalD, 5, dfCap = 4).collect()
    assert(cp09.map(_.getLong(0)).toSeq == Seq(20L),
      s"capped corpus set = ${cp09.map(_.getLong(0)).toSeq}, want Seq(20)")
    val row = cp09.head
    assert(row.getLong(1) == 1L, s"n_eval_docs = ${row.getLong(1)}")
    // Exact hot-mass recovery: docs 19/20 are identical, so the shared
    // mass must equal the doc's FULL distinct 5-gram count — including
    // the boilerplate shingles the cap kept out of the pairing join.
    val allShingles = Dedup.hashedShingles(
      Dedup.shingleSets(Seq((20L, s"$boiler $rarePassage"))
        .toDF("doc_id", "text"), 5)).count()
    assert(row.getLong(2) == allShingles,
      s"n_shared_ngrams capped=${row.getLong(2)}, full shingle count=$allShingles")
    assert(row.getLong(2) > 3L, "leak pair should share rare AND hot shingles")
    // d19 reads the same pair table the other way: exactly eval doc 19,
    // one leaking doc, the same exact mass.
    val cp19 = Dedup.evalLeakReport(corpus, evalD, 5, dfCap = 4).collect()
    assert(cp19.map(_.getLong(0)).toSeq == Seq(19L),
      s"capped eval set = ${cp19.map(_.getLong(0)).toSeq}, want Seq(19)")
    assert(cp19.head.getLong(1) == 1L && cp19.head.getLong(2) == allShingles &&
      cp19.head.getLong(3) == allShingles, s"wrong d19 row: ${cp19.head}")
  }

  /** The cap boundary planted at dfCap = `cap`: segment R sits in exactly
    * `cap` docs (df == cap — must stay rare, and pairs sharing ONLY R must
    * still be emitted); segment H sits in exactly cap + 1 (df == cap + 1 —
    * goes hot), and every pair of H docs also shares a pair-unique
    * segment, so the capped plans emit every pair the uncapped ones do
    * while H's mass comes back only through the hot-set recovery.
    * Segments are 5 tokens (one internal 5-gram, three 3-grams) joined by
    * doc-unique separators, so no boundary n-gram is shared. Each group
    * holds one doc that is both d09-eval (id % 19 == 0) and d21-val
    * (bucket < 10), so every kernel arm sees crossing pairs. */
  private def capBoundaryCorpus(cap: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val ids = 0L until 4000L
    val bucket = spark.range(0, 4000)
      .select(col("id"), graft.operators.Sampling.hashBucket(col("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val both = ids.filter(i => i % 19 == 0 && bucket(i) < 10)
    val neither = ids.filter(i => i % 19 != 0 && bucket(i) >= 10)
    val rIds = both(0) +: neither.take(cap - 1)
    val hIds = both(1) +: neither.slice(cap - 1, 2 * cap - 1)
    def seg(tag: String) = (0 until 5).map(j => s"$tag$j").mkString(" ")
    def doc(i: Long, segs: Seq[String]) =
      (i, segs.zipWithIndex.map { case (t, k) => s"$t s${i}x$k" }.mkString(" "))
    val rDocs = rIds.map(i => doc(i, Seq(seg("rr"), s"u${i}a u${i}b u${i}c")))
    val hDocs = hIds.map { i =>
      doc(i, seg("hh") +: hIds.filter(_ != i).map(j =>
        seg(s"p${math.min(i, j)}y${math.max(i, j)}w")))
    }
    (rDocs ++ hDocs).toDF("doc_id", "text")
  }

  test("cap boundary: df == cap stays rare, df == cap + 1 goes hot (d04/d18, d09/d19, d21, d33)") {
    val cap = 4
    val docs = capBoundaryCorpus(cap)
    val n = docs.count().toInt + 1
    val hs = Dedup.materializedShingleHashes(docs)
    // The fixture itself: the corpus's df values are exactly {1, 2, cap, cap + 1}.
    Seq(hs, Dedup.hashedShingles(Dedup.shingleSets(docs, 5))).foreach { t =>
      val dfs = t.groupBy("sh_h").count().select("count").distinct()
        .collect().map(_.getLong(0)).toSet
      assert(dfs == Set(1L, 2L, cap.toLong, cap + 1L), s"planted df values drifted: $dfs")
    }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    def same(what: String, capped: org.apache.spark.sql.DataFrame,
        uncapped: org.apache.spark.sql.DataFrame) = {
      val (c, u) = (rows(capped), rows(uncapped))
      assert(c == u, s"$what capped=$c uncapped=$u")
      assert(u.nonEmpty, s"vacuous $what: no rows")
    }
    same("d04", Dedup.jaccardPairsCapped(hs, cap), Dedup.jaccardPairsCapped(hs, n))
    same("d18", Dedup.containmentPairsHashed(hs, 0.0, cap),
      Dedup.containmentPairsHashed(hs, 0.0, n))
    val corpus = docs.filter(col("doc_id") % 19 =!= 0)
    val evalD = docs.filter(col("doc_id") % 19 === 0)
    same("d09", Dedup.decontaminate(corpus, evalD, 5, cap),
      Dedup.decontaminate(corpus, evalD, 5, n))
    same("d19", Dedup.evalLeakReport(corpus, evalD, 5, cap),
      Dedup.evalLeakReport(corpus, evalD, 5, n))
    same("d21", Dedup.splitLeakage(docs, dfCap = cap), Dedup.splitLeakage(docs, dfCap = n))
    same("d33", Dedup.capOperatingCurveFromHashes(hs, Seq(cap.toLong)).drop("df_cap"),
      Dedup.capOperatingCurveFromHashes(hs, Seq(n.toLong)).drop("df_cap"))
    // Self pairs recover hot shared counts from ONE hot-set checkpoint
    // read by both sides: hs + hot + hot sets = 3 checkpoints in the plan.
    val ckpts = Dedup.cappedPairCounts(hs, cap).queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.distinct
    assert(ckpts.size == 3, s"self-pair plan reads ${ckpts.size} checkpoints, want 3")
  }

  // -------------------------------------------- LSH band-bucket cap (d02/d32)

  test("band-capped LSH candidates ≡ uncapped on the sf0.001 corpus (shipped cap)") {
    val docs = Tables.documents(spark, sf)
    val banded = Dedup.bandBuckets(
      Dedup.signaturesFromHashes(Dedup.materializedShingleHashes(docs)))
      .localCheckpoint()
    // Uncapped candidate set = the raw banded self-join (the pre-cap plan).
    val un = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cp = Dedup.lshCandidatesFromBanded(banded)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cp == un, s"capped=${cp.size} uncapped=${un.size}")
    assert(un.nonEmpty, "vacuous equivalence: corpus produced no candidates")
  }

  test("planted boiler bucket: band cap collapses the k² candidate term") {
    import spark.implicits._
    // k byte-identical docs: identical signatures ⇒ all k land in the same
    // bucket in EVERY band. Uncapped candidates = k·(k−1)/2; capped
    // (k > BandBucketCap) = 0 — the quadratic term the cap exists to kill.
    // (A cluster this hot is the exact-fingerprint gate's catch, not LSH's.)
    val k = Dedup.BandBucketCap + 16
    val docs = (0 until k).map(i =>
      (i.toLong, "the same boilerplate template page body repeats verbatim here"))
      .toDF("doc_id", "text")
    val banded = Dedup.bandBuckets(
      Dedup.signaturesFromHashes(Dedup.materializedShingleHashes(docs)))
      .localCheckpoint()
    val un = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct().count()
    assert(un == k.toLong * (k - 1) / 2, s"planted corpus malformed: $un")
    assert(Dedup.lshCandidatesFromBanded(banded).count() == 0,
      "band cap failed to prune the boiler bucket")
  }

  test("d32 bipartite probe: boiler-hot resident bucket generates zero candidates; healthy near-dup still bounces") {
    import spark.implicits._
    val boiler = "the same boilerplate template page body repeats verbatim here"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // Residents: BandBucketCap+10 boiler copies (ids ≢ 0 mod 7) + one
    // healthy doc. Wave: one boiler copy (would match every resident
    // through the hot bucket — the wave × corpus detonator) and one
    // near-dup of the healthy resident (J ≈ 0.89 through healthy buckets).
    val nBoiler = Dedup.BandBucketCap + 10
    val boilerIds = Iterator.from(1).filter(_ % 7 != 0).take(nBoiler).map(_.toLong).toSeq
    val docs = (boilerIds.map(i => (i, boiler)) ++ Seq(
      (9999L, base),                    // healthy resident (9999 % 7 = 3)
      (7007L, boiler),                  // wave boiler copy (7007 % 7 = 0)
      (7000L, base + " lambda")         // wave near-dup of 9999
    )).map { case (id, t) => (id, t, "en", "s0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Dedup.incrementalNearDup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    // The boiler wave doc's only matches run through the over-cap bucket:
    // the near gate admits it with zero candidates (the exact gate d01/d10
    // owns byte-copies), instead of materializing wave × corpus pairs.
    assert(out(7007L) == ((0L, true)), s"boiler wave row: ${out(7007L)}")
    // The healthy near-dup still bounces through its healthy buckets.
    assert(out(7000L)._1 >= 1L && !out(7000L)._2, s"near-dup wave row: ${out(7000L)}")
  }

  test("d10 incremental ≡ recompute on a boiler corpus where the band cap binds") {
    import spark.implicits._
    val boiler = "the same boilerplate template page body repeats verbatim here"
    val nBoiler = Dedup.BandBucketCap + 8
    // Corpus: nBoiler boiler copies + one healthy doc. Delta: one more
    // boiler copy (exact dup — caught by the fp gate even though the band
    // cap suppresses its LSH candidates) + one novel doc. Both paths cap
    // on corpus ∪ delta bucket population, so the verdicts must be
    // IDENTICAL — the equivalence oracle on the corpus where the cap binds.
    val corpus = ((0 until nBoiler).map(i => (i.toLong, boiler)) ++
      Seq((500L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
      .toDF("doc_id", "text")
    val delta = Seq(
      (1000L, boiler),
      (1001L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalKeepList(corpus, delta, 0.5)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    val expected = Dedup.keepListFrom(corpus.unionAll(delta), 0.5)
      .filter(col("doc_id") >= 1000L).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(got == expected, s"got=$got expected=$expected")
    assert(got.exists(r => r._3 == "exact_dup") && got.exists(_._3 == "keep"),
      s"fixture degenerate: $got")
  }

  test("d33 curve on a planted boiler corpus: flat pairs over a detonating candidate column") {
    import spark.implicits._
    // 140 docs share a 12-token boiler tail whose internal 3-gram df
    // (140) sits BETWEEN the curve's 64 and 256 points; bodies are
    // 45 unique tokens each, so boiler-only overlap Jaccard ≈ 0.10 —
    // below d04's 0.12. Five planted near-dup pairs share 43/45 body
    // tokens (df = 2 shingles → candidates at every cap, Jaccard ≫ 0.12).
    // Expected curve: n_pairs FLAT at 5 for all caps; n_candidates flat
    // at 5 through cap 64, then DETONATING to ~C(140,2) at cap 256 when
    // the boiler shingles qualify — the cap scaladoc's operating argument,
    // pinned.
    val boiler = "all rights reserved contact us terms of service apply here today now ok"
    def body(tag: String) = (0 until 45).map(j => s"$tag$j").mkString(" ")
    val base = (0 until 130).map(i => (i.toLong, s"${body(s"u${i}t")} $boiler"))
    val dups = (0 until 5).flatMap { p =>
      val shared = (0 until 43).map(j => s"p${p}s$j").mkString(" ")
      Seq(
        (1000L + 2 * p, s"$shared p${p}xa p${p}xb $boiler"),
        (1001L + 2 * p, s"$shared p${p}ya p${p}yb $boiler"))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val curve = Dedup.capOperatingCurveFromHashes(
        Dedup.materializedShingleHashes(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byCap = curve.map(r => r._1 -> (r._2, r._3)).toMap
    assert(byCap(8L)._2 == 5 && byCap(64L)._2 == 5 && byCap(256L)._2 == 5,
      s"pair column not flat at the planted 5: $curve")
    assert(byCap(8L)._1 == 5 && byCap(64L)._1 == 5,
      s"sub-boiler caps should see only the 5 planted candidates: $curve")
    assert(byCap(256L)._1 >= 100L * byCap(64L)._1,
      s"cap 256 should detonate the candidate column (boiler df = 140): $curve")
  }

  test("d34 curve on a planted hot-bucket corpus: candidates bounded at every prefix") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val natural = Dedup.bandOperatingCurveFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // H byte-copies of one base doc: every copy minhashes into the SAME
    // bucket in ALL 16 bands, so each band's clone bucket holds H+1 > cap
    // members and is dropped from candidate generation — uncapped, the
    // clone cluster alone would add ≥ H·(H−1)/2 = 4950 pairs per prefix.
    val h = 100L
    val base = docs.orderBy("doc_id").limit(1).select("text").head().getString(0)
    val stride = docs.agg(max("doc_id")).head().getLong(0) + 1L
    val clones = spark.range(h).select(
      (col("id") + lit(stride)).as("doc_id"), lit(base).as("text"))
    val hot = docs.select("doc_id", "text").unionAll(clones)
    val curve = Dedup.bandOperatingCurveFrom(hot)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    curve.foreach { case (nb, nc) =>
      assert(nc <= natural(nb),
        s"hot-bucket corpus grew candidates at $nb bands: $nc > ${natural(nb)}")
      assert(nc < h * (h - 1) / 2,
        s"clone-cluster pairs leaked into candidates at $nb bands: $nc")
    }
    // More bands only ADD banding chances: the curve is nondecreasing.
    val sorted = curve.sortBy(_._1).map(_._2)
    assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
      s"candidate curve not monotone in n_bands: $curve")
  }

  test("d35 curve on a planted boiler corpus: boiler excluded, strictly ordered by n-gram reach") {
    import spark.implicits._
    // 80 base docs (eval slice = doc_id % 19 == 0) all share an 11-token
    // boiler tail — every boiler n-gram's df ≈ 85 > cap, so uncapped the
    // curve would report ~375 (corpus × eval) pairs at every n. Planted
    // leaks of three strengths: 12-token sentences match at n = 3/5/8,
    // a 6-token one at 3/5 only, a 4-token one at 3 only. Expected
    // n_pairs: 5, 4, 3 — the survival-function reading, with zero
    // boiler contamination.
    val boiler = "copyright terms conditions privacy policy site map contact help about us"
    def body(tag: String) = (0 until 30).map(j => s"$tag$j").mkString(" ")
    val base = (0 until 80).map(i => (i.toLong, s"${body(s"b${i}w")} $boiler"))
    def leak(p: Int, len: Int) = (0 until len).map(j => s"leak${p}w$j").mkString(" ")
    // A doc-UNIQUE separator sits between boiler and leak so the only
    // shared sub-cap n-grams are the leak sentence's INTERNAL ones — a
    // boiler→leak boundary n-gram would otherwise be pair-unique-shared
    // at every n and flatten the curve.
    val partners = Seq(
      (1001L, s"${body("c1w")} $boiler sepc1 ${leak(1, 12)}"),
      (1002L, s"${body("c2w")} $boiler sepc2 ${leak(2, 12)}"),
      (1003L, s"${body("c3w")} $boiler sepc3 ${leak(3, 12)}"),
      (1004L, s"${body("c4w")} $boiler sepc4 ${leak(4, 6)}"),
      (1005L, s"${body("c5w")} $boiler sepc5 ${leak(5, 4)}"))
    val evalLeaks = Map(19L -> 1, 38L -> 2, 57L -> 3, 76L -> 4, 0L -> 5)
    val docs = (base.map { case (id, t) =>
      evalLeaks.get(id) match {
        case Some(p) =>
          val len = if (p <= 3) 12 else if (p == 4) 6 else 4
          (id, s"$t sepe$id ${leak(p, len)}")
        case None => (id, t)
      }
    } ++ partners).toDF("doc_id", "text")
    val curve = Dedup.contamNgramCurveFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(curve == Map(3L -> 5L, 5L -> 4L, 8L -> 3L),
      s"d35 boiler curve drifted from the planted (5, 4, 3): $curve")
  }
}
