package graft

import java.math.BigInteger
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.concurrent.{Callable, Executors}

import org.scalacheck.Gen
import graft.functions.{Md5Mod, RollingMinHash}

/** Property tests (beyond the reference's example-based suite — SURVEY.md §5
  * notes it has none): algebraic invariants of the routing, hashing and
  * fingerprint primitives over ScalaCheck-generated inputs. (Raw Gen
  * sampling — the scalatest/scalacheck bridge artifact is not on the
  * offline classpath.)
  */
class PropertySpec extends SparkSpec {

  private val keyGen: Gen[String] = Gen.asciiPrintableStr.map(_.take(40))
  private def samples[T](g: Gen[T], n: Int = 100): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong)))

  test("md5 routing: always in [0, n) and deterministic") {
    for (k <- samples(keyGen); n <- Seq(1, 2, 3, 7, 32)) {
      val p = Md5Mod.partitionOf(k, n)
      assert(p >= 0 && p < n)
      assert(p == Md5Mod.partitionOf(k, n))
    }
  }

  test("md5 routing: n=1 sends everything to partition 0") {
    samples(keyGen).foreach(k => assert(Md5Mod.partitionOf(k, 1) == 0))
  }

  // The reference's formula written out (`int(md5(key).hexdigest(), 16) % n`),
  // the oracle for the byte-wise kernel.
  private def referenceRoute(k: String, n: Int): Int = {
    val hex = MessageDigest.getInstance("MD5").digest(k.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    new BigInteger(hex, 16).mod(BigInteger.valueOf(n.toLong)).intValue()
  }
  private lazy val routingKeys: Seq[String] =
    Seq("", " ", "a", "hello", "naïve", "日本", "😀\t[x]", "x" * 1024, "日本語" * 400) ++
      samples(keyGen)

  test("md5 routing: kernel == int(hexdigest, 16) mod n over ASCII, UTF-8 and 1 KB keys") {
    for (k <- routingKeys; n <- Seq(1, 2, 3, 7, 8, 16, 1000003, Int.MaxValue))
      assert(Md5Mod.partitionOf(k, n) == referenceRoute(k, n), s"n=$n key=${k.take(16)}")
  }

  test("md5 routing: concurrent callers on 8 threads get the serial results") {
    val keys = routingKeys ++ (0 until 5000).map(i => s"key-$i")
    val serial = keys.map(Md5Mod.partitionOf(_, 1000003))
    val pool = Executors.newFixedThreadPool(8)
    try {
      val runs = (1 to 8).map(_ => pool.submit(new Callable[Seq[Int]] {
        def call(): Seq[Int] = keys.map(Md5Mod.partitionOf(_, 1000003))
      }))
      runs.foreach(r => assert(r.get() == serial))
    } finally pool.shutdown()
  }

  test("rolling min hash: deterministic, monotone under append, total on short/empty") {
    assert(RollingMinHash.minWindowHash(Array.emptyByteArray, 32) == 0L)
    for (s <- samples(Gen.alphaNumStr, 200)) {
      val b = s.getBytes("UTF-8")
      val h = RollingMinHash.minWindowHash(b, 32)
      assert(h == RollingMinHash.minWindowHash(b, 32))
      // Appending only adds windows: the min can only stay or decrease.
      assert(RollingMinHash.minWindowHash((s + "zzz").getBytes("UTF-8"), 32) <= h
        || b.length < 32) // short inputs hash whole content, append changes it
    }
  }

  test("simhash banding pigeonhole: any pair within Hamming distance 3 shares a 16-bit chunk") {
    // The recall-1.0 claim of d03's candidate generation: 4 chunks, ≤3
    // differing bits ⇒ ≥1 chunk untouched. Verified over random signatures
    // with planted 0..3-bit flips at random positions.
    def chunks(x: Long): Seq[Long] = (0 until 4).map(c => (x >>> (c * 16)) & 0xFFFFL)
    val cases = for {
      seed <- 1 to 300
      rng = new scala.util.Random(seed)
      base = rng.nextLong()
      nFlips = rng.nextInt(4) // 0..3
      flipped = (1 to nFlips).foldLeft(base)((v, _) => v ^ (1L << rng.nextInt(64)))
    } yield (base, flipped)
    cases.foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(a ^ b) <= 3)
      assert(chunks(a).zip(chunks(b)).exists(p => p._1 == p._2),
        f"pair within distance 3 shares no chunk: $a%x vs $b%x")
    }
    // And the converse direction is honestly loose: a 4-bit spread across
    // all chunks CAN miss — banding is recall-complete only to distance 3.
    val spread = 0L ^ (1L << 0) ^ (1L << 16) ^ (1L << 32) ^ (1L << 48)
    assert(!chunks(0L).zip(chunks(spread)).exists(p => p._1 == p._2))
  }

  test("connectedComponents == union-find on random graphs (incl. chains and stars)") {
    import spark.implicits._
    // In-memory union-find ground truth.
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      nodes.map(v => v -> find(v)).toMap
    }
    val edgeGen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 40)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es.distinct
    // A long chain (worst case for plain propagation — exercises the
    // path-halving log-round convergence) and a star, plus random graphs.
    val chain = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toList
    val star = (1L to 15L).map(i => (0L, i)).toList
    (samples(edgeGen, 12).filter(_.nonEmpty) ++ Seq(chain, star)).foreach { edges =>
      val pairs = edges.toDF("a", "b").localCheckpoint()
      // Small-graph driver path (default threshold) …
      val got = graft.operators.Dedup.connectedComponents(pairs, maxIters = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == unionFind(0, edges), s"CC mismatch on edges $edges")
      // … and the distributed propagation loop, forced via threshold 0 —
      // both paths must produce identical component-minimum labels.
      val gotDist = graft.operators.Dedup
        .connectedComponents(pairs, maxIters = 20, driverThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == unionFind(0, edges), s"distributed CC mismatch on edges $edges")
    }
  }

  test("decontamination == brute-force n-gram intersection on random corpora") {
    import spark.implicits._
    // Random docs over a small vocabulary (5-grams collide often — the
    // interesting regime); the distributed probe must equal a driver-side
    // set-intersection check exactly.
    val vocab = Vector("a", "b", "c", "d", "e")
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val docs = (0L until 40L).map { id =>
        (id, (1 to (5 + rng.nextInt(20))).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" "))
      }
      val n = 5
      def grams(text: String): Set[Seq[String]] = {
        val t = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
        if (t.length < n) Set.empty else t.sliding(n).map(_.toSeq).toSet
      }
      val evalGrams = docs.filter(_._1 % 19 == 0).map { case (id, t) => id -> grams(t) }
      val expected = docs.filter(_._1 % 19 != 0).flatMap { case (id, t) =>
        val g = grams(t)
        val hitDocs = evalGrams.filter { case (_, eg) => eg.intersect(g).nonEmpty }
        if (hitDocs.isEmpty) None
        else Some(id -> hitDocs.size.toLong)
      }.toMap
      val df = docs.toDF("doc_id", "text")
      val got = graft.operators.Dedup.decontaminate(
        df.filter(df("doc_id") % 19 =!= 0),
        df.filter(df("doc_id") % 19 === 0), n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed $seed: got $got want $expected")
    }
  }

  test("sq8_err == naive reimplementation on random vectors (incl. negatives)") {
    for (seed <- 1 to 50) {
      val rng = new scala.util.Random(seed)
      val n = 1 + rng.nextInt(16)
      val v = Array.fill(n)((rng.nextDouble() * 2 - 1).toFloat)
      val got = graft.functions.Sq8Error.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.map(_.toDouble)),
        isFloat = false)
      val d = v.map(_.toDouble)
      val maxAbs = d.map(math.abs).max
      if (maxAbs == 0.0) assert(got == null)
      else {
        val scale = maxAbs / 127.0
        val resid = d.map(x => x - math.floor(x / scale + 0.5) * scale)
        val mae = resid.map(math.abs).sum / n
        val rmse = math.sqrt(resid.map(x => x * x).sum / n)
        val arr = got.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toDoubleArray()
        assert(arr.toSeq == Seq(mae, rmse), s"seed $seed: ${arr.toSeq} vs ${Seq(mae, rmse)}")
        // quantized values stay inside int8: |round(x/scale)| ≤ 127
        d.foreach(x => assert(math.abs(math.floor(x / scale + 0.5)) <= 127.0))
      }
    }
  }

  test("two-phase prefix scan == sequential running sum on random inputs") {
    import spark.implicits._
    for (seed <- 1 to 3) {
      val rng = new scala.util.Random(seed)
      val rows = (0L until (50 + rng.nextInt(200)).toLong)
        .map(id => (id, rng.nextInt(100).toLong))
      val got = graft.operators.TextOps.prefixSummed(
          rows.toDF("doc_id", "n_new_tokens"))
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(2)))
      val expected = rows.sortBy(_._1)
        .scanLeft((-1L, 0L)) { case ((_, acc), (id, n)) => (id, acc + n) }.drop(1)
      assert(got.toSeq == expected, s"seed $seed prefix mismatch")
    }
  }

  test("generalized prefix scan (arbitrary order key) == sequential reference on random inputs") {
    import spark.implicits._
    for (seed <- 4 to 6) {
      val rng = new scala.util.Random(seed)
      // Random string keys WITH planted duplicates: the (key, id) pair must
      // form the total order, and the scan must follow it — not doc_id
      // order, not input order.
      val keys = Vector("kx", "ab", "zz", "mm", "qr")
      // Deltas include NEGATIVES: the partition-total handoff must carry
      // the partition's LAST running value (= sum of deltas), which only
      // equals max(local_prefix) when deltas are non-negative — the
      // signed case is the one a wrong aggregate silently corrupts.
      val rows = (0L until (60 + rng.nextInt(150)).toLong)
        .map(id => (keys(rng.nextInt(keys.size)), id, rng.nextInt(101).toLong - 50L))
      val shuffled = rng.shuffle(rows)
      val got = graft.operators.TextOps.prefixSummedBy(
          shuffled.toDF("k", "doc_id", "v").repartition(5),
          Seq("k", "doc_id"), "v", "cum")
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
      val expected = rows.sortBy(t => (t._1, t._2))
        .scanLeft((("", -1L), 0L)) { case ((_, acc), (k, id, v)) =>
          ((k, id), acc + v)
        }.drop(1).toMap
      assert(got == expected, s"seed $seed generalized prefix mismatch")
    }
  }

  test("repeated spans == brute-force k-gram occurrence counting + run coalescing") {
    import spark.implicits._
    val k = 3
    for (seed <- 1 to 6) {
      val rng = new scala.util.Random(seed)
      // A tiny alphabet forces genuine cross-doc and in-doc repeats.
      val docs = (0L until (4 + rng.nextInt(5)).toLong).map { id =>
        id -> (1 to (10 + rng.nextInt(30))).map(_ => s"w${rng.nextInt(8)}").mkString(" ")
      }
      val got = graft.operators.Dedup.repeatedSpans(docs.toDF("doc_id", "text"), k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // Reference: count every positional k-gram globally, flag positions
      // whose gram occurs >= 2 times anywhere, coalesce consecutive runs.
      val grams = docs.flatMap { case (id, t) =>
        val ts = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        if (ts.length < k) Nil
        else ts.sliding(k).zipWithIndex.map { case (w, i) => (id, i + 1, w.mkString(" ")) }.toSeq
      }
      val occ = grams.groupBy(_._3).map { case (g, os) => g -> os.size }
      val expected = grams.filter(g => occ(g._3) >= 2)
        .groupBy(_._1).flatMap { case (id, gs) =>
          val ps = gs.map(_._2).sorted
          val spans = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
          var start = ps.head; var prev = ps.head
          for (p <- ps.tail) {
            if (p == prev + 1) prev = p
            else { spans += ((id, start.toLong, (prev - start + k).toLong)); start = p; prev = p }
          }
          spans += ((id, start.toLong, (prev - start + k).toLong))
          spans
        }.toSet
      assert(got == expected,
        s"seed $seed: missing=${expected.diff(got).take(3)} extra=${got.diff(expected).take(3)}")
    }
  }

  test("shingle novelty == brute-force first-occurrence accounting") {
    import spark.implicits._
    for (seed <- 1 to 6) {
      val rng = new scala.util.Random(seed)
      val docs = (0L until (4 + rng.nextInt(5)).toLong).map { id =>
        id -> (1 to (5 + rng.nextInt(25))).map(_ => s"w${rng.nextInt(6)}").mkString(" ")
      }
      val got = graft.operators.TextOps.shingleNovelty(docs.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sh = docs.map { case (id, t) =>
        val ts = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        id -> ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty)
      val firstDoc = sh.flatMap { case (id, s) => s.map(_ -> id) }
        .groupBy(_._1).map { case (g, os) => g -> os.map(_._2).min }
      val expected = sh.map { case (id, s) =>
        (id, s.size.toLong, s.count(g => firstDoc(g) == id).toLong)
      }.toSet
      assert(got == expected, s"seed $seed novelty mismatch")
    }
  }

  test("sequence packing == sequential concatenation arithmetic") {
    import spark.implicits._
    for (seed <- 1 to 4; budget <- Seq(7, 32)) {
      val rng = new scala.util.Random(seed)
      val docs = (0L until (5 + rng.nextInt(30)).toLong).map { id =>
        id -> (0 to rng.nextInt(20)).map(_ => s"w${rng.nextInt(9)}").mkString(" ")
      }
      val got = graft.operators.TextOps.packSequences(docs.toDF("doc_id", "text"), budget)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      var cum = 0L
      val expected = docs.sortBy(_._1).flatMap { case (id, t) =>
        val n = t.toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty).toLong
        val start = cum; cum += n
        if (n == 0) None
        else Some((id, n, start / budget, (cum - 1) / budget,
          (cum - 1) / budget - start / budget + 1))
      }
      assert(got.toSeq == expected, s"seed $seed budget $budget packing mismatch")
    }
  }

  test("funnel conversion == brute-force latest-preceding-view scan on random event logs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val hour = 3600L * 1000000L
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val types = Seq("view", "purchase", "click")
      // Coarse 6-minute grid: same-timestamp collisions are common, so the
      // lexicographic (us, event_id) tie-break is genuinely exercised.
      val events = (1L to (40 + rng.nextInt(60)).toLong).map { id =>
        (id, (1 + rng.nextInt(5)).toLong, types(rng.nextInt(3)),
          rng.nextInt(30).toLong * (hour / 10))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft-funnel-prop").toString
      events.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_micros(us)").as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.operators.Relational.q29.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      // Reference: per purchase, the latest view strictly (us, event_id)-
      // before it; converted iff that view is within the hour.
      val expected = events.groupBy(_._2).map { case (uid, evs) =>
        val views = evs.filter(_._3 == "view").map(e => (e._4, e._1))
        val purchases = evs.filter(_._3 == "purchase").map(e => (e._4, e._1))
        val nConv = purchases.count { case (pus, pid) =>
          val preceding = views.filter { case (vus, vid) =>
            vus < pus || (vus == pus && vid < pid) }
          preceding.nonEmpty && pus - preceding.map(_._1).max <= hour
        }
        (uid, views.size.toLong, purchases.size.toLong, nConv.toLong)
      }.toSet
      assert(got == expected,
        s"seed $seed: missing=${expected.diff(got).take(3)} extra=${got.diff(expected).take(3)}")
    }
  }

  test("event transitions == brute-force per-user successor scan on random event logs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val types = Seq("view", "purchase", "click")
      // Coarse timestamp grid so same-us collisions exercise the
      // (us, event_id) tie-break that defines the successor order.
      val events = (1L to (40 + rng.nextInt(60)).toLong).map { id =>
        (id, (1 + rng.nextInt(5)).toLong, types(rng.nextInt(3)),
          rng.nextInt(12).toLong * 360000000L)
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-trans-prop").toString
      events.toDF("event_id", "user_id", "event_type", "us")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_micros(us)").as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = graft.operators.Relational.q33.fn(spark, dir).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet
      // Reference: sort each user's log by (us, event_id), pair consecutive
      // types, count (from, to) cells, derive per-from totals and the exact
      // integer micro-probability.
      val pairs = events.groupBy(_._2).toSeq.flatMap { case (_, evs) =>
        evs.sortBy(e => (e._4, e._1)).map(_._3).sliding(2)
          .filter(_.length == 2).map(p => (p(0), p(1)))
      }
      val cells = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val fromTotals = cells.groupBy(_._1._1).map { case (f, cs) => f -> cs.values.sum }
      val expected = cells.map { case ((f, t), n) =>
        (f, t, n, fromTotals(f), n * 1000000L / fromTotals(f))
      }.toSet
      assert(got == expected,
        s"seed $seed: missing=${expected.diff(got).take(3)} extra=${got.diff(expected).take(3)}")
    }
  }

  test("release-gate token kernel == batch d09 join count on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import graft.streaming.DocStreams
    // Tiny vocabulary + short docs force heavy cross-doc shingle sharing
    // (incl. one shingle hitting SEVERAL eval docs — the multiset case
    // where a naive distinct-hash-set lookup would undercount), plus
    // empty / sub-n / punctuation-only texts for the degenerate paths.
    val vocab = Seq("aa", "bb", "cc", "dd", "ee")
    val n = 3
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(100 + seed)
      def doc(): String = rng.nextInt(10) match {
        case 0 => ""
        case 1 => "!!! ???"
        case 2 => (1 to rng.nextInt(n)).map(_ => vocab(rng.nextInt(vocab.size))).mkString(" ")
        case _ => (1 to (n + rng.nextInt(8)))
          .map(_ => vocab(rng.nextInt(vocab.size)))
          .mkString(Seq(" ", ", ", "  ", "\t")(rng.nextInt(4)))
      }
      val docs = (0L until 30L).map(i => (i, doc()))
      val df = docs.toDF("doc_id", "text")
      val evalDf = df.filter(col("doc_id") < 8)
      val corpusDf = df.filter(col("doc_id") >= 8)
      val expected = Dedup.decontaminate(corpusDf, evalDf, n).collect()
        .map(r => r.getLong(0) -> r.getAs[Long]("n_shared_ngrams")).toMap
      val evalMap = DocStreams.evalShingleCounts(evalDf, n).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      docs.filter(_._1 >= 8L).foreach { case (id, text) =>
        val got = DocStreams.sharedNgramCount(text, n, evalMap)
        assert(got == expected.getOrElse(id, 0L),
          s"seed $seed doc $id: scalar $got != batch ${expected.getOrElse(id, 0L)} for '$text'")
      }
      // The multiset direction must actually occur, else the run is vacuous.
      assert(evalMap.values.exists(_ > 1L),
        s"seed $seed: no shingle shared by several eval docs — fixture too sparse")
      assert(expected.values.exists(_ > 0L), s"seed $seed: nothing contaminated")
    }
  }

  test("BPE merges == reference greedy trainer on random corpora") {
    import spark.implicits._
    // 3-letter alphabet, short words: pair counts collide constantly, so
    // the (count desc, pair asc) tie rule and the greedy left-to-right
    // overlap handling are both genuinely exercised.
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val docs = (1L to (3 + rng.nextInt(4)).toLong).map { id =>
        id -> (1 to (5 + rng.nextInt(20)))
          .map(_ => (1 to (1 + rng.nextInt(4)))
            .map(_ => ('a' + rng.nextInt(3)).toChar).mkString)
          .mkString(" ")
      }
      val n = 6
      val got = graft.operators.TextOps.bpeMerges(docs.toDF("doc_id", "text"), n)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      // Reference: the same algorithm run sequentially on the driver.
      var vocab = docs.flatMap(_._2.toLowerCase.split("[^a-z0-9]+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) => (w.map(_.toString).toList, ws.size.toLong) }
        .toSeq
      val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var stop = false
      for (i <- 1L to n.toLong if !stop) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, f) =>
          syms.zip(syms.tail).foreach(p => pc(p) = pc.getOrElse(p, 0L) + f)
        }
        if (pc.isEmpty) stop = true
        else {
          val ((l, r), c) = pc.toSeq.minBy { case ((a, b), k) => (-k, a, b) }
          expected += ((i, l, r, c))
          vocab = vocab.map { case (syms, f) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            syms.foreach { s =>
              if (out.nonEmpty && out.last == l && s == r) out(out.length - 1) = l + r
              else out += s
            }
            (out.toList, f)
          }
        }
      }
      assert(got == expected.toSeq,
        s"seed $seed BPE mismatch:\n  got      $got\n  expected $expected")
    }
  }

  test("d17 both paths == driver brute force on random vectors, incl. threshold boundaries") {
    // The slack-bound argument behind the bucketed path's exactness claim
    // (pruning can only drop pairs provably below threshold − 1e-6), plus
    // the inline scan's arg-max tie-break, checked against a driver-side
    // brute force over random gaussians — thresholds chosen to land near
    // raw cosine values so rounding boundaries actually get exercised.
    import spark.implicits._
    import graft.operators.Dedup
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val dim = 6
      val n = 40
      val nEval = 5
      val vecs = (0 until n).map(i =>
        (i.toLong, Array.fill(dim)((rng.nextGaussian() * 0.5).toFloat)))
      def cosD(a: Array[Float], b: Array[Float]): Double = {
        def dot(x: Array[Float], y: Array[Float]) =
          x.zip(y).map { case (p, q) => p.toDouble * q.toDouble }.sum
        dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
      }
      // Pick the threshold AT an actual rounded cosine value — the
      // boundary case where an off-by-slack bucketed bound would diverge.
      val allCos = for {
        (ci, cv) <- vecs.drop(nEval); (ei, evv) <- vecs.take(nEval)
      } yield BigDecimal(cosD(cv, evv))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val threshold = allCos.sorted.apply(allCos.length / 2) // median, exactly attained
      val expected = vecs.drop(nEval).flatMap { case (id, v) =>
        val scored = vecs.take(nEval).map { case (eid, evv) =>
          (BigDecimal(cosD(v, evv)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble, eid)
        }
        val best = scored.maxBy { case (c, eid) => (c, -eid) }
        if (best._1 >= threshold) Some((id, best._1, best._2)) else None
      }.sortBy(_._1)
      val df = vecs.toDF("vec_id", "embedding")
      val inline = Dedup.embeddingDecontaminateFrom(df, nEval, threshold)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      val (bDf, _) = Dedup.embeddingDecontaminateBucketed(df, nEval, threshold,
        nCells = 4, kmeansIters = 2)
      val bucketed = bDf.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
      assert(inline == expected,
        s"seed $seed: inline != brute force at threshold $threshold: " +
          s"${expected.diff(inline).take(3)} vs ${inline.diff(expected).take(3)}")
      assert(bucketed == expected,
        s"seed $seed: bucketed != brute force at threshold $threshold: " +
          s"${expected.diff(bucketed).take(3)} vs ${bucketed.diff(expected).take(3)}")
      assert(expected.nonEmpty, s"seed $seed: degenerate fixture (median threshold)")
    }
  }

  test("mapreduce pipeline == reference groupBy-sum semantics for arbitrary inputs") {
    import graft.operators.MapReduceJob
    // SURVEY.md §5: partition-routing ∘ sort ∘ merge ∘ group must equal a
    // global groupBy for arbitrary inputs. One Spark run over generated data.
    val words = samples(Gen.oneOf("a", "b", "cc", "ddd", "e f", "Z"), 200)
    val dir = java.nio.file.Files.createTempDirectory("graft-prop").toFile
    java.nio.file.Files.write(
      new java.io.File(dir, "f1").toPath,
      words.mkString("\n").getBytes("UTF-8"))
    val out = MapReduceJob.run(
      spark,
      MapReduceJob.JobSpec(dir.getAbsolutePath, MapReduceJob.wcMapper, MapReduceJob.wcReducer, 3))
    val got = out.collect().map { l => val Array(k, v) = l.split("\t", 2); k -> v.toInt }.toMap
    val expected = words
      .flatMap(_.toLowerCase.split("[ \t\\[\\]]", -1))
      .groupBy(identity).map { case (k, vs) => k -> vs.size }
    assert(got == expected)
  }

  test("wc and grep mappers lowercase the same under a Turkish default locale") {
    import graft.operators.MapReduceJob
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr"))
      assert("TITLE".toLowerCase != "title") // the locale really is dotless-i
      assert(MapReduceJob.wcMapper("TITLE").iterator.toList == List("title" -> "1"))
      assert(MapReduceJob.grepMapper("title")("A TITLE line").iterator.toList ==
        List("1" -> "A TITLE line"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("scrubProfile (streaming kernel) == batch templateScrub on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, lit}
    // Small vocabularies force shared (and therefore hot) trigrams;
    // varied doc lengths exercise the <3-token and fully-scrubbed edges.
    val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen: Gen[String] = Gen.choose(0, 12)
      .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    for (seed <- 1 to 8) {
      val texts = samples(docGen, 30).zipWithIndex
        .map { case (t, i) => (i.toLong + seed * 1000L, t) }
        .filter(_._2.trim.nonEmpty)
      val docs = texts.toDF("doc_id", "text")
      val batch = graft.operators.Dedup.templateScrub(docs, 4).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(4))))
        .toMap
      // Scalar kernel against the SAME hot vocabulary the batch derived.
      val hot = graft.operators.Dedup.hashedShingles(
          graft.operators.Dedup.shingleSets(docs)).distinct()
        .groupBy("sh_h").agg(count(lit(1)).as("df")).filter(col("df") >= 4)
        .select("sh_h").as[Long].collect().toSet
      texts.foreach { case (id, text) =>
        val (nTok, nScrub, keptMd5) = graft.streaming.DocStreams.scrubProfile(text, hot)
        if (nTok > 0) {
          val b = batch(id)
          assert((b._1, b._2, b._3) == ((nTok, nScrub, keptMd5)),
            s"seed=$seed doc=$id kernel (${(nTok, nScrub, keptMd5)}) != batch $b for: '$text'")
        } else assert(!batch.contains(id), s"zero-token doc $id present in batch output")
      }
    }
  }

  test("bounded_min_ids == distinct-sort-take reference over random inputs, partitionings, and duplicates") {
    // The primitive-buffer collector's binary-search/arraycopy logic vs
    // the obvious reference: keep all distinct ids if ≤ cap, else exactly
    // cap+1 (the over-cap sentinel the caller filters on) — always the
    // SMALLEST, always sorted, independent of row order and partitioning.
    import spark.implicits._
    for (seed <- 1 to 12) {
      val rng = new scala.util.Random(seed)
      val limit = 1 + rng.nextInt(9) // the caller's cap+1
      val n = rng.nextInt(60)
      // Duplicates on purpose: merge replay delivers the same id twice.
      val xs = Seq.fill(n)(rng.nextInt(30).toLong - 10L)
      val expect = xs.distinct.sorted.take(limit)
      if (xs.nonEmpty) {
        val got = xs.toDF("doc_id").repartition(1 + rng.nextInt(7))
          .agg(org.apache.spark.sql.functions.expr(s"bounded_min_ids(doc_id, $limit)"))
          .head().getSeq[Long](0).toSeq
        assert(got == expect, s"seed=$seed limit=$limit: $got != $expect (input $xs)")
      }
    }
  }

  test("top_k_pairs == sort-by-(score desc, id)-take-k reference over random inputs incl. NaN and ties") {
    import spark.implicits._
    for (seed <- 1 to 12) {
      val rng = new scala.util.Random(seed)
      val k = 1 + rng.nextInt(8)
      val n = 1 + rng.nextInt(60)
      // Distinct ids (the call sites' contract), scores drawn from a small
      // grid so ties are common; an occasional NaN checks the Double
      // total-order agreement with the window form (NaN largest).
      val rows = rng.shuffle((0 until n).map(_.toLong)).map { id =>
        val s = if (rng.nextInt(20) == 0) Double.NaN
          else (rng.nextInt(7) - 3) / 4.0
        (s, id)
      }
      // Reference via the explicit comparator matching the window's total
      // order (a plain scala sortBy would put NaN LAST, not first).
      val ref = rows.sorted(new Ordering[(Double, Long)] {
        def compare(a: (Double, Long), b: (Double, Long)): Int = {
          val c = java.lang.Double.compare(b._1, a._1)
          if (c != 0) c else java.lang.Long.compare(a._2, b._2)
        }
      }).take(k).map(_._2)
      val got = rows.toDF("c", "neighbor_id").repartition(1 + rng.nextInt(7))
        .agg(org.apache.spark.sql.functions.expr(s"top_k_pairs(c, neighbor_id, $k)"))
        .head().getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0)).toSeq
      assert(got == ref, s"seed=$seed k=$k: $got != $ref (input $rows)")
    }
  }

  test("long_vec_sum == elementwise reference over random vectors and partitionings") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rng = new scala.util.Random(seed)
      val dim = 1 + rng.nextInt(16)
      val n = 1 + rng.nextInt(40)
      val vecs = Seq.fill(n)(Seq.fill(dim)(rng.nextLong() % 1000000L))
      val expect = (0 until dim).map(i => vecs.map(_(i)).sum)
      val got = vecs.map(Tuple1(_)).toDF("qe").repartition(1 + rng.nextInt(7))
        .agg(org.apache.spark.sql.functions.expr("long_vec_sum(qe)"))
        .head().getSeq[Long](0).toSeq
      assert(got == expect, s"seed=$seed dim=$dim: $got != $expect")
    }
  }
}
