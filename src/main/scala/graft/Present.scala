package graft

import org.apache.spark.sql.{Column, DataFrame}

/** Presentation-order seam for final query results.
  *
  * Every inventory query used to end in a global `orderBy(...)` whose ONLY
  * purpose was deterministic presentation of the dump: the correctness
  * gate (driver-side, mimicked by `tools/check_oracle.py`) canonicalizes
  * results — columns sorted by name, rows sorted — before comparing and
  * hashing, so the row ORDER of a dumped result is not load-bearing.
  * That trailing sort is exactly the guide §2.4 "accidental Exchange": a
  * range-partitioning shuffle (plus the range-sampling job that sizes its
  * bounds) per query, paid at EVERY scale — at the 100 TB design point a
  * global sort of a corpus-grain result is a full extra pass over the
  * output for cosmetics.
  *
  * `Present.by` keeps the seam explicit instead of deleting the sorts:
  * result SETS are identical either way (the flag never changes a row,
  * only row order), semantic sorts (orderBy feeding a limit / window /
  * prefix scan) are NOT routed through here, and a human diffing dumps can
  * re-enable ordered output with GRAFT_PRESENT_SORT=1 (specs that assert
  * ordered golden sequences sort at the assertion).
  */
object Present {
  /** Default OFF: the bench and the driver's gate both canonicalize, so
    * the shipped configuration skips the cosmetic global sort. Env
    * override for humans. */
  val enabled: Boolean =
    sys.env.get("GRAFT_PRESENT_SORT").exists(v => v != "0" && v != "")

  def by(cols: Column*)(df: DataFrame): DataFrame =
    if (enabled) df.orderBy(cols: _*) else df

  def byNames(cols: String*)(df: DataFrame): DataFrame =
    if (enabled) df.orderBy(cols.head, cols.tail: _*) else df
}
