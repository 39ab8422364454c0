package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions.
  *
  * All pure `org.apache.spark.sql.functions` compositions — no Scala UDFs —
  * so every operator here stays inside whole-stage codegen and its
  * predicates/projections remain visible to Catalyst. This is the
  * generalized form of the reference's tokenizing mapper
  * (reference `tests/testdata/exec/wc_map.sh:12`: split on `[ \t]`,
  * lowercase) lifted to columnar expressions.
  */
object TextFns {

  /** Lowercased alphanumeric tokens, empties dropped.
    * Mirror SQL (DuckDB):
    * `list_filter(regexp_split_to_array(lower(x), '[^a-z0-9]+'), t -> t <> '')`.
    */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= lit(""))

  /** Whitespace-collapsed, trimmed, lowercased normal form used for
    * fingerprinting and exact dedup. */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Word n-gram shingles over a token array (empty when < n tokens). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))

  /** Count of characters in `c` matching regex char-class `cls`. */
  def charClassCount(c: Column, cls: String): Column =
    length(c) - length(regexp_replace(c, cls, ""))

  /** Language-ID stopword tables (tiny, deterministic; broadcast at scale). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "you", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ich", "nicht", "mit", "ein", "zu"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "ser", "se", "no"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "une", "ce", "pas"))

  /** Number of tokens of `toks` found in `set`. */
  def stopwordHits(toks: Column, set: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(set)))

  /** ANSI-safe ratio: `num / den` as double, NULL when `den` is 0.
    * Spark 4 runs ANSI mode by default, where `/` raises DIVIDE_BY_ZERO
    * even for doubles — so every per-document or per-slice ratio whose
    * denominator can legitimately be 0 at web scale (empty documents,
    * all-whitespace sources, a zero-row daily delta) must route through
    * this guard. Mirror SQL (DuckDB): `num / NULLIF(den, 0)` — both
    * engines then agree on NULL for the degenerate rows, and three-valued
    * logic keeps gate conjunctions (`n_tokens >= 20 AND frac >= 0.02`)
    * FALSE, not NULL, whenever a leading conjunct already failed. */
  def safeFrac(num: Column, den: Column): Column =
    when(den =!= 0, num.cast("double") / den.cast("double"))
}
