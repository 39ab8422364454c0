package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Round-17 shingle-pass restructure: hs@n now derives from ONE shared
  * token-array pass (expression shingling over arrays) instead of a
  * tokenize-per-n typed flatMap. These tests pin row-set equality of the
  * two forms — the contract every capped kernel and the d04/d18/d21/d35
  * oracles stand on — including the edge corpora the expression form
  * could plausibly get wrong (docs shorter than n, repeated shingles,
  * delimiter-only text, empty text). */
class ShingleFromTokensSpec extends SparkSpec {
  import spark.implicits._

  private def legacy(docs: org.apache.spark.sql.DataFrame, n: Int) =
    Dedup.hashedShingles(Dedup.shingleSets(docs, n))

  private def viaTokens(docs: org.apache.spark.sql.DataFrame, n: Int) =
    Dedup.hashedShinglesFromTokens(Dedup.spreadTokenArrays(docs), n)

  private def assertSame(docs: org.apache.spark.sql.DataFrame, n: Int): Unit = {
    val a = legacy(docs, n)
    val b = viaTokens(docs, n)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"hs@$n rows differ between flatMap and token-array forms")
  }

  test("token-array shingles == per-n flatMap shingles on the sf0.001 corpus, n in {3,5,8}") {
    val docs = sources.Tables.documents(spark, sf)
    Seq(3, 5, 8).foreach(n => assertSame(docs, n))
  }

  test("edge corpora: short docs, repeats, delimiter-only, empty") {
    val docs = Seq(
      (1L, "one two"),                        // shorter than every n
      (2L, "a b c a b c a b c"),              // repeated shingles (per-doc dedup)
      (3L, ";;; --- !!!"),                    // tokenizes to nothing
      (4L, ""),                               // empty text
      (5L, "Mixed CASE tokens 42 mixed case TOKENS 42 mixed case")
    ).toDF("doc_id", "text")
    Seq(2, 3, 5).foreach(n => assertSame(docs, n))
  }

  test("doc with exactly n tokens emits exactly one shingle") {
    val docs = Seq((7L, "alpha beta gamma")).toDF("doc_id", "text")
    val out = viaTokens(docs, 3).collect()
    assert(out.length == 1 && out.head.getLong(0) == 7L)
  }

  test("positional shingles == sliding-window flatMap (pos kept, no dedup)") {
    val docs = Seq(
      (1L, "a b c a b c a b"),   // repeated windows must ALL appear
      (2L, "x y"),               // shorter than k
      (3L, "p q r s t")
    ).toDF("doc_id", "text")
    Seq(2, 3).foreach { k =>
      val expr = Dedup.positionalShingleHashes(Dedup.spreadTokenArrays(docs), k)
      val legacy = Dedup.spread(docs).as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
          if (toks.length < k) Iterator.empty
          else toks.sliding(k).zipWithIndex.map {
            case (w, i) => (id, i + 1L, w.mkString(" "))
          }
        }.toDF("doc_id", "pos", "shingle")
        .select(col("doc_id"), col("pos"), Dedup.md5Hash60(col("shingle")).as("sh_h"))
      assert(expr.exceptAll(legacy).isEmpty && legacy.exceptAll(expr).isEmpty,
        s"positional k=$k rows differ")
    }
  }

  test("cdc chunks from tokens == legacy per-token-MD5 walk") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog the quick brown fox"),
      (2L, ""),
      (3L, "one"),
      (4L, "a a a a a a a a a a a a a a a a")
    ).toDF("doc_id", "text")
    val neu = Dedup.cdcChunksFromTokens(Dedup.spreadTokenArrays(docs), 8, 3)
    val legacy = {
      val occ0 = Dedup.spread(docs).as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Int)]
          val buf = scala.collection.mutable.ArrayBuffer.empty[String]
          val md = java.security.MessageDigest.getInstance("MD5")
          def close(): Unit = if (buf.nonEmpty) {
            out += ((id, out.length + 1L, buf.mkString(" "), buf.length))
            buf.clear()
          }
          toks.foreach { t =>
            buf += t
            md.reset()
            val hex = md.digest(t.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.take(15)
            if (java.lang.Long.parseLong(hex, 16) % 8 == 0) close()
          }
          close()
          out.iterator
        }.toDF("doc_id", "pos", "sent", "ntk")
      occ0.select(col("doc_id"), col("pos"), col("sent"),
        Dedup.md5Hash60(col("sent")).as("sk"),
        (col("ntk") >= 3).as("dedupable"))
    }
    assert(neu.exceptAll(legacy).isEmpty && legacy.exceptAll(neu).isEmpty,
      "cdc chunk rows differ between token-array and legacy walks")
  }
}
