package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic k× corpora built from a scale-factor directory's tables, for
  * the checks that need more (or more skewed) data than a testdata
  * directory carries: the linearity ceilings of [[graft.ScaleLinearitySpec]]
  * and the clustered-corpus recall floors of [[graft.SourcesAndSkewSpec]]
  * and [[graft.NoOracleReport]] (s08).
  */
object ScaledCorpora {

  /** The k× documents corpus: copy i is doc_id-offset; copy 0 keeps its
    * text verbatim and every other copy suffixes each whitespace token
    * `x$i`, making copies mutually shingle-disjoint while replicating each
    * copy's internal dup/near-dup structure — dup groups, candidates, and
    * verified pairs scale exactly k×. The copy stride is `max(doc_id) + 1`
    * (one tiny agg), so copies can NEVER collide with base ids whatever
    * range a scale-factor directory carries — a fixed literal stride would
    * silently alias ids the moment a corpus crossed it. */
  def scaledDocs(docs: DataFrame, k: Int): DataFrame = {
    val stride = docs.agg(max("doc_id")).head().getLong(0) + 1L
    (0 until k).map { i =>
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1x" + i)
      docs.select(
        (col("doc_id") + lit(i * stride)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
  }

  /** k× embeddings table: copy c keeps each vector VERBATIM under an
    * offset vec_id (unlike [[scaledDocs]]' tagged tokens, identical
    * vectors are the point — each copy's cosines against the id<25 eval
    * slice reproduce copy 0's exactly, which is what gives d17 its exact
    * k-scaling law: flagged(k×) = k·flagged(1×) + (k−1)·|eval|, the
    * second term being the copies of the eval vectors themselves, all
    * cos 1.0 self-matches in the corpus half). Copy stride is
    * `max(vec_id) + 1`, same no-collision guarantee as [[scaledDocs]]. */
  def scaledVecs(vecs: DataFrame, k: Int): DataFrame = {
    val stride = vecs.agg(max("vec_id")).head().getLong(0) + 1L
    (0 until k).map { i =>
      if (i == 0) vecs
      else vecs.withColumn("vec_id", col("vec_id") + lit(i * stride))
    }.reduce(_ unionAll _)
  }

  /** Hot-cell embedding corpus: the k× uniform vector corpus with HALF of
    * all vectors re-pointed into one tight cluster around the base
    * corpus's lowest-id vector — after IVF training, one cell ends up
    * holding ~50% of stored vectors, the clustered-real-data shape that
    * attacks cell-partitioned ANN serving (one cell's candidate scan
    * dominates every probe that touches it). Jitter is deterministic in
    * (vec_id, dim), so corpora are rebuild-stable. */
  def hotCellVecs(vecs: DataFrame, k: Int): DataFrame = {
    val hot = vecs.orderBy("vec_id").select("embedding").head()
      .getSeq[Float](0).toArray
    val clustered = transform(array(hot.map(x => lit(x)): _*), (x, i) =>
      x + pmod(col("vec_id") * 31L + i.cast("long"), lit(1009L))
        .cast("double") / lit(100000.0))
      .cast("array<float>")
    scaledVecs(vecs, k).withColumn("embedding",
      when(col("vec_id") % 2 === 0, clustered).otherwise(col("embedding")))
  }
}
