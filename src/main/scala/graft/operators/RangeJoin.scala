package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Range joins — non-equi joins on an ordered column, re-expressed as
  * equi-joins on bucketed keys.
  *
  * Spark plans a pure inequality join condition as a cartesian /
  * broadcast-nested-loop product — O(n·m) compares, which is exactly what
  * cannot run at 100 TB. The standard scale-out formulation buckets the
  * ordered column so that every qualifying pair shares a bucket (or lands
  * in adjacent buckets), turning the join into a shuffle equi-join on the
  * bucket id with a cheap exact post-filter. Both sides shuffle once; the
  * candidate fan-out is bounded by per-bucket density, never |L|×|R|.
  *
  * (Reference scope note: the reference engine has no joins at all —
  * SURVEY.md §2 "does NOT have" — so this operator family is part of the
  * training-pipeline extension surface, built from the same hash-partition
  * primitive as its shuffle, SURVEY.md §2a op 4.)
  */
object RangeJoin {

  /** All pairs of rows within `radiusMicros` of each other (|tA − tB| ≤ r),
    * self-join form, emitted once with idA < idB.
    *
    * Buckets are radius-wide, so a qualifying pair is at most one bucket
    * apart: the left side probes (bin−1, bin, bin+1) via a 3-element
    * explode, the right side keeps its single bin, and the join is a plain
    * shuffle equi-join on the bin. Each qualifying pair (x, y) with x < y
    * surfaces exactly once — y carries one bin and only x's explode set
    * contains it — so no distinct() pass is needed.
    */
  def proximityPairs(
      df: DataFrame, idCol: String, tsCol: String, radiusMicros: Long): DataFrame = {
    require(radiusMicros > 0, s"radiusMicros must be positive, got $radiusMicros")
    val t = unix_micros(col(tsCol))
    val bin = expr(s"unix_micros($tsCol) div ${radiusMicros}L")
    val probes = df
      .select(col(idCol).as("a"), t.as("__ta"), bin.as("__bin0"))
      .select(col("a"), col("__ta"),
        explode(array(col("__bin0") - 1, col("__bin0"), col("__bin0") + 1)).as("__bin"))
    val build = df.select(col(idCol).as("b"), t.as("__tb"), bin.as("__bin"))
    probes.join(build, "__bin")
      .filter(col("a") < col("b") &&
        abs(col("__ta") - col("__tb")) <= radiusMicros)
      .select(col("a"), col("b"), (col("__tb") - col("__ta")).as("dt_us"))
  }

  /** Point-in-interval join: rows of `points` matched to rows of
    * `intervals` with `lo ≤ t ≤ hi`. Intervals explode to every
    * `binWidthMicros`-wide bucket they overlap, points carry one bucket;
    * equi-join on the bucket + exact containment filter. Fan-out per
    * interval is length/binWidth + 1, so pick binWidth near the typical
    * interval length. Returns the requested projections from both sides.
    */
  def pointInInterval(
      points: DataFrame, pointCols: Seq[String], tsCol: String,
      intervals: DataFrame, intervalCols: Seq[String], loCol: String, hiCol: String,
      binWidthMicros: Long): DataFrame = {
    require(binWidthMicros > 0, s"binWidthMicros must be positive, got $binWidthMicros")
    val dup = pointCols.intersect(intervalCols)
    require(dup.isEmpty,
      s"pointCols and intervalCols must be disjoint (the joined output keeps both " +
        s"sides' projections); shared: ${dup.mkString(", ")} — alias one side first")
    val reserved = (pointCols ++ intervalCols).filter(_.startsWith("__"))
    require(reserved.isEmpty,
      s"column names starting with '__' are reserved for the join's internal keys " +
        s"(__bin/__t/__lo/__hi); rename: ${reserved.mkString(", ")}")
    val w = s"${binWidthMicros}L"
    val p = points.select(
      (pointCols.map(col) :+ unix_micros(col(tsCol)).as("__t") :+
        expr(s"unix_micros($tsCol) div $w").as("__bin")): _*)
    val iv = intervals.select(
      (intervalCols.map(col) :+ unix_micros(col(loCol)).as("__lo") :+
        unix_micros(col(hiCol)).as("__hi")): _*)
      .withColumn("__bin",
        explode(sequence(expr(s"__lo div $w"), expr(s"__hi div $w"))))
    p.join(iv, "__bin")
      .filter(col("__t") >= col("__lo") && col("__t") <= col("__hi"))
      .select((pointCols ++ intervalCols).map(col): _*)
  }

  /** Time-proximity event pairs: co-occurring events within 5 seconds,
    * across all users (no equi key exists — the case the bucketing is for).
    * The oracle states the band as a BETWEEN over BIGINT microseconds,
    * which DuckDB plans as an inequality join; the equivalent
    * `abs(a - b) <= r` form ran as a nested loop (102 s vs 0.4 s at
    * sf0.1). */
  val q17 = Q(
    "q17_range_join",
    (s, d) =>
      proximityPairs(
        Tables.events(s, d).select("event_id", "ts"),
        "event_id", "ts", radiusMicros = 5000000L)
        .select(col("a").as("a_id"), col("b").as("b_id"), col("dt_us")),
    Some("""SELECT a.event_id AS a_id, b.event_id AS b_id,
                   epoch_us(b.ts) - epoch_us(a.ts) AS dt_us
            FROM events a JOIN events b
              ON a.event_id < b.event_id
             AND epoch_us(b.ts) BETWEEN epoch_us(a.ts) - 5000000
                                    AND epoch_us(a.ts) + 5000000
            ORDER BY a_id, b_id"""))
}
