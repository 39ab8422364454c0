package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** As-of join — for each left row, the most recent right row with
  * `right.time <= left.time` on the same key. Spark has no built-in; the
  * scalable formulation is NOT a per-row lookup join but a tagged union +
  * one hash-partition by key + one in-partition sort by (time, side) + a
  * running `last(..., ignoreNulls)` window — O(n log n) per key group, one
  * shuffle total, no row explosion regardless of fan-in (the plan a
  * time-series engine would generate).
  *
  * Tie rule (made explicit so results are deterministic and the oracle can
  * mirror it): right rows at time t are visible to left rows at the same t,
  * and among equal-time right rows the one with the greatest tiebreak
  * column wins.
  */
object AsOfJoin {

  /** Generic as-of: returns `left` columns plus `rightPayload` columns of
    * the matched right row (null when no prior right row exists).
    *
    * @param leftTime/rightTime  comparable time columns (same type)
    * @param rightTiebreak      orders equal-time right rows (max wins)
    */
  def asOf(
      left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTime: String, rightTime: String,
      rightTiebreak: String, rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // Partition on the NATIVE key type — a silent cast (e.g. string→long)
    // would null every key and merge unrelated groups. Union-side type
    // equality is validated up front so incompatible keys fail fast.
    val lkType = left.schema(leftKey).dataType
    val rkType = right.schema(rightKey).dataType
    require(lkType == rkType,
      s"asOf: key dtype mismatch — left `$leftKey`: $lkType vs right `$rightKey`: $rkType; " +
        "cast one side explicitly before joining")
    val tbType = right.schema(rightTiebreak).dataType
    val rightStructType =
      right.select(struct(rightPayload.map(col): _*).as("s")).schema("s").dataType
    val leftStructType =
      left.select(struct(leftCols.map(col): _*).as("s")).schema("s").dataType
    // Tagged union: side 0 = right (candidates), side 1 = left (probes), so
    // at equal time the sort places right rows before the probes reading them.
    val l = left.select(
      col(leftKey).as("__key"), col(leftTime).as("__t"), lit(1).as("__side"),
      lit(null).cast(tbType).as("__tb"),
      lit(null).cast(rightStructType).as("__payload"),
      struct(leftCols.map(col): _*).as("__leftrow"))
    val r = right.select(
      col(rightKey).as("__key"), col(rightTime).as("__t"), lit(0).as("__side"),
      col(rightTiebreak).as("__tb"),
      struct(rightPayload.map(col): _*).as("__payload"),
      lit(null).cast(leftStructType).as("__leftrow"))
    val unioned = l.unionByName(r)
    val w = Window.partitionBy("__key")
      .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__match", last("__payload", ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(
        leftCols.map(c => col(s"__leftrow.$c").as(c)) ++
          rightPayload.map(c => col(s"__match.$c").as(c)): _*)
  }

  /** Each event joined as-of to the user's most recent order
    * (o_custkey = user_id, o_orderdate <= ts). */
  val q16 = Q(
    "q16_asof_join",
    (s, d) => {
      val events = Tables.events(s, d).select("event_id", "user_id", "ts", "event_type")
      val orders = Tables.orders(s, d)
      asOf(
        events, orders,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightTiebreak = "o_orderkey", rightPayload = Seq("o_orderkey", "o_orderdate"))
    },
    Some("""WITH l AS (
              SELECT user_id AS k, ts AS t, 1 AS side, NULL::BIGINT AS tb,
                     event_id, event_type,
                     NULL::BIGINT AS o_orderkey, NULL::TIMESTAMP AS o_orderdate
              FROM events),
            r AS (
              SELECT o_custkey AS k, o_orderdate AS t, 0 AS side, o_orderkey AS tb,
                     NULL::BIGINT AS event_id, NULL::VARCHAR AS event_type,
                     o_orderkey, o_orderdate
              FROM orders),
            u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
            m AS (
              SELECT *,
                last_value(CASE WHEN side = 0 THEN o_orderkey END IGNORE NULLS)
                  OVER w AS match_key,
                last_value(CASE WHEN side = 0 THEN o_orderdate END IGNORE NULLS)
                  OVER w AS match_date
              FROM u
              WINDOW w AS (PARTITION BY k ORDER BY t ASC, side ASC, tb ASC NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT event_id, k AS user_id, t AS ts, event_type,
                   match_key AS o_orderkey, match_date AS o_orderdate
            FROM m WHERE side = 1 ORDER BY event_id"""))
}
