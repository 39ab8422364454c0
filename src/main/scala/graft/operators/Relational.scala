package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Q
import graft.sources.Tables

/** Generalized relational operator inventory (SURVEY.md §2 ops 1–23 lifted
  * to the TPC-H-ish testdata), declarative DataFrame plans so Catalyst keeps
  * pushdown/pruning and AQE picks physical strategies.
  *
  * Scale notes per query are inline — the stated plan is the one `.explain`
  * shows and the one we want at 100 TB.
  */
object Relational {

  /** Scan + filter + project (ops 1/22/23 generalized).
    * Filter and the 4-column projection both reach the parquet reader
    * (PushedFilters + ReadSchema) — at 100 TB this is an I/O-bound scan of
    * 4 columns, not 11.
    */
  val q01 = Q(
    "q01_scan_filter_project",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp"))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // No round(): both engines do the identical IEEE double multiply,
          // so raw values match bit-for-bit, while round() semantics differ
          // (Spark rounds the shortest decimal repr, DuckDB the raw binary).
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price")),
    Some("""SELECT l_orderkey, l_linenumber,
            l_extendedprice * (1.0 - l_discount) AS net_price
            FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
            ORDER BY l_orderkey, l_linenumber"""))

  /** Group-by aggregate, TPC-H Q1 style (ops 20/21 generalized: sum/count by
    * key with map-side partial aggregation — Spark's HashAggregate does the
    * reference's combiner role automatically). Low-cardinality keys ⇒ the
    * shuffle moves only num_groups × num_partitions rows.
    */
  val q02 = Q(
    "q02_agg_pricing_summary",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
            round(sum(l_quantity), 2) AS sum_qty,
            round(sum(l_extendedprice), 2) AS sum_base_price,
            round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
            round(avg(l_quantity), 4) AS avg_qty,
            round(avg(l_discount), 4) AS avg_disc,
            count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus"""))

  /** Shuffle (sort-merge/hash) equi-join + aggregate. Both sides hash-
    * partition on the join key — the §2-op-4 boundary; at scale AQE converts
    * to broadcast if the filtered build side fits.
    */
  val q03 = Q(
    "q03_join_orders_customer",
    (s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue")),
    Some("""SELECT c_mktsegment, count(*) AS n_orders,
            round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Broadcast join: `part` is a small dimension — broadcast it explicitly
    * so the 100 TB fact side never shuffles (map-side hash join).
    */
  val q04 = Q(
    "q04_broadcast_join_part",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(
          broadcast(Tables.part(s, d).filter(col("p_size") <= lit(10))),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum("l_quantity"), 2).as("total_qty")),
    Some("""SELECT p_brand, count(*) AS n_items,
            round(sum(l_quantity), 2) AS total_qty
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size <= 10
            GROUP BY p_brand ORDER BY p_brand"""))

  /** Multi-way join (TPC-H Q5 shape): fact table joins one shuffle join to
    * orders, everything else broadcast; Catalyst reorders and pushes the
    * region/date filters below the joins.
    */
  val q05 = Q(
    "q05_local_supplier_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val c = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    },
    Some("""SELECT n_name,
            round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  /** Top-k: aggregate then `orderBy().limit(k)` — Spark plans TakeOrderedAndProject,
    * a per-partition heap + driver-side merge of k rows, never a global sort.
    */
  val q06 = Q(
    "q06_topk_customers",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(
          round(sum("o_totalprice"), 2).as("total_spent"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("total_spent").desc, col("o_custkey"))
        .limit(10),
    Some("""SELECT o_custkey, round(sum(o_totalprice), 2) AS total_spent,
            count(*) AS n_orders
            FROM orders GROUP BY o_custkey
            ORDER BY total_spent DESC, o_custkey LIMIT 10"""))

  /** Window function: rank within partition — single hash-partition by
    * o_custkey + in-partition sort; no global sort.
    */
  val q07 = Q(
    "q07_window_top_orders",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
            WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  /** Distinct aggregation (count distinct expands to a two-phase aggregate;
    * partial distinct on the map side bounds the shuffle).
    */
  val q08 = Q(
    "q08_distinct_parts_per_flag",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct("l_partkey").as("n_parts"),
          count(lit(1)).as("n_rows")),
    Some("""SELECT l_returnflag,
            CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
            count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Semi/anti join: customers with ≥1 urgent order and customers with none.
    * Left-semi/anti avoid materializing the probe side's payload.
    */
  val q09 = Q(
    "q09_semi_anti_join",
    (s, d) => {
      val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
      val c = Tables.customer(s, d)
      val withUrgent = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_mktsegment"), lit("has_urgent").as("bucket"))
      val without = c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_mktsegment"), lit("no_urgent").as("bucket"))
      withUrgent.unionAll(without)
        .groupBy("c_mktsegment", "bucket")
        .agg(count(lit(1)).as("n_customers"))
    },
    Some("""WITH u AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
            SELECT c_mktsegment, bucket, count(*) AS n_customers FROM (
              SELECT c_mktsegment, 'has_urgent' AS bucket FROM customer
              WHERE c_custkey IN (SELECT o_custkey FROM u)
              UNION ALL
              SELECT c_mktsegment, 'no_urgent' AS bucket FROM customer
              WHERE c_custkey NOT IN (SELECT o_custkey FROM u))
            GROUP BY c_mktsegment, bucket ORDER BY c_mktsegment, bucket"""))

  /** Grouping sets / rollup: one pass computes every level (Spark Expand). */
  val q10 = Q(
    "q10_rollup_order_status",
    (s, d) =>
      Tables.orders(s, d)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue")),
    Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
            round(sum(o_totalprice), 2) AS revenue
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
            ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  /** Events: tumbling-window (hourly) aggregation — the batch shape of the
    * Structured Streaming query in graft.streaming.EventStreams.
    */
  val q11 = Q(
    "q11_events_hourly",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(
          date_trunc("hour", col("ts")).as("hour"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value")),
    Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
            count(*) AS n_events, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""))

  /** Sessionization via window lag: a >30 min gap starts a new session.
    * One shuffle on user_id, in-partition sort by ts — the classic
    * log-sessionize plan that scales linearly with events per user.
    */
  val q12 = Q(
    "q12_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("session_value"))
    },
    Some("""WITH g AS (
              SELECT user_id, ts, event_id, value,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_session
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            se AS (
              SELECT user_id, value,
                CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g)
            SELECT user_id, session_id, count(*) AS n_events,
              round(sum(value), 2) AS session_value
            FROM se GROUP BY user_id, session_id ORDER BY user_id, session_id"""))

  /** Daily active users: date truncation + exact distinct per day. The
    * two-phase distinct aggregate keeps the shuffle at (day, user) grain. */
  val q13 = Q(
    "q13_daily_active_users",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value")),
    Some("""SELECT date_trunc('day', ts) AS day,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            count(*) AS n_events, round(sum(value), 2) AS total_value
            FROM events GROUP BY 1 ORDER BY day"""))

  /** Semi-structured extraction: events.props is a JSON string; extract a
    * typed field and aggregate. get_json_object is codegen'd — at scale this
    * is a pure scan-side projection, no shuffle beyond the final agg. */
  val q14 = Q(
    "q14_json_props",
    (s, d) =>
      Tables.events(s, d)
        .select(
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .filter(col("k_val").isNotNull)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(avg("k_val"), 4).as("avg_k"),
          min("k_val").as("min_k"),
          max("k_val").as("max_k")),
    Some("""SELECT event_type, count(*) AS n,
            round(avg(k_val), 4) AS avg_k,
            min(k_val) AS min_k, max(k_val) AS max_k
            FROM (SELECT event_type,
                    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
                  FROM events)
            WHERE k_val IS NOT NULL
            GROUP BY event_type ORDER BY event_type"""))

  /** Sketch-based distinct: HyperLogLog approx_count_distinct next to the
    * exact value. Rows-only check (HLL implementations differ between
    * engines); the accuracy bound is asserted in OperatorSpec. At 100 TB
    * the approx column is the one you can afford: fixed-size sketch,
    * mergeable map-side, no (key, value)-grain shuffle. */
  val q15 = Q(
    "q15_approx_distinct",
    (s, d) =>
      // Pre-distinct once, then sketch + count the distinct rows (round
      // 16): the multi-distinct aggregate planned an Expand that doubled
      // every lineitem row through the shuffle. An HLL sketch is
      // duplicate-insensitive, so approx_count_distinct over the distinct
      // (flag, partkey) set inserts exactly the same values — identical
      // estimate, identical exact count, no Expand (plan diff in
      // plans/r16; the q15 NOORACLE rel-err floor re-measures it).
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct("l_partkey", 0.02).as("approx_parts"),
          // count(col), not count(*): countDistinct excluded NULL keys,
          // and a NULL l_partkey survives the distinct as its own row.
          count(col("l_partkey")).as("exact_parts")),
    None)

  /** Set operations (INTERSECT / EXCEPT — distinct set semantics). Both
    * compile to aggregate-based plans (hash-partition on the full row),
    * never a product; at scale each is one shuffle of the key column only.
    */
  val q18 = Q(
    "q18_set_ops",
    (s, d) => {
      val custKeys = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val activeBuyers = custKeys
        .intersect(Tables.orders(s, d).select(col("o_custkey").as("k")))
        .select(lit("active_buyer").as("tag"), col("k"))
      val noEvents = custKeys
        .except(Tables.events(s, d).select(col("user_id").as("k")))
        .select(lit("no_events").as("tag"), col("k"))
      activeBuyers.unionAll(noEvents)
    },
    Some("""SELECT 'active_buyer' AS tag, k FROM
              (SELECT c_custkey AS k FROM customer
               INTERSECT
               SELECT o_custkey FROM orders)
            UNION ALL
            SELECT 'no_events' AS tag, k FROM
              (SELECT c_custkey AS k FROM customer
               EXCEPT
               SELECT user_id FROM events)
            ORDER BY tag, k"""))

  /** CUBE over two dimensions with grouping_id — all 4 grouping sets in one
    * pass (Spark expands the cube map-side; one shuffle keyed by the padded
    * grouping key). Keys are coalesced to 'ALL' so the output needs no
    * NULL-ordering contract with the oracle.
    */
  val q19 = Q(
    "q19_cube",
    (s, d) =>
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
        .select(
          col("gid"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("total_price")),
    Some("""SELECT CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            GROUP BY CUBE (o_orderstatus, o_orderpriority)
            ORDER BY gid, status, priority"""))

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`, both linear interpolation). Exact percentile
    * is a per-group sort; the 100 TB path swaps in `percentile_approx`
    * (one-pass sketch, fixed memory) — same query shape, see q15 for the
    * sketch-accuracy pattern.
    */
  val q20 = Q(
    "q20_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, array(0.25D, 0.5D, 0.9D))").as("ps"))
        .select(
          col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p90")),
    Some("""SELECT l_returnflag,
                   round(qs[1], 4) AS p25, round(qs[2], 4) AS p50, round(qs[3], 4) AS p90
            FROM (SELECT l_returnflag,
                         quantile_cont(l_quantity, [0.25, 0.5, 0.9]) AS qs
                  FROM lineitem GROUP BY l_returnflag)
            ORDER BY l_returnflag"""))

  /** Pivot (dynamic columns from a categorical) with an explicit value list
    * — the list keeps the schema static so the plan is a single groupBy
    * with conditional aggregates (no extra pass to discover values, which
    * at 100 TB would be a full scan before the real one).
    */
  val q21 = Q(
    "q21_pivot",
    (s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p")),
    Some("""SELECT o_orderpriority,
                   count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                   count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                   count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority"""))

  /** Fact-stream enrichment: events joined to the customer→nation dimension
    * chain, aggregated per nation × event_type. Both dims are broadcast
    * (customer/nation are KB–GB while events is the 100 TB fact side), so
    * the plan is scan → 2 broadcast hash joins → partial agg → one shuffle
    * of num_nations × num_types rows. The streaming twin is
    * [[graft.streaming.EventStreams.enriched]] — same join, same agg, over
    * `readStream`.
    */
  val q22 = Q(
    "q22_events_enriched",
    (s, d) =>
      Tables.events(s, d)
        .join(broadcast(Tables.customer(s, d)), col("user_id") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value")),
    Some("""SELECT n_name, event_type, count(*) AS n_events,
                   round(sum(value), 2) AS total_value
            FROM events
            JOIN customer ON user_id = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name, event_type
            ORDER BY n_name, event_type"""))

  /** Latest-record compaction (SCD-1 / upsert-materialization): one row per
    * (user_id, event_type) carrying the most recent event. `max_by` keeps
    * this a single hash-aggregate with map-side partials — at 100 TB that
    * beats the window-function form (row_number over a sort) by an entire
    * per-partition sort; the shuffle carries one row per key per map
    * partition. The order key is struct(ts, event_id) — a ts tie (possible
    * in any real event stream) breaks deterministically on event_id instead
    * of on partition arrival order, so results are stable across runs and
    * cluster layouts. The oracle's row_number form spells out the same
    * tie-break (DuckDB's arg_max cannot take a composite key).
    */
  val q25 = Q(
    "q25_latest_snapshot",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id", "event_type")
        .agg(
          max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("last_event_id"),
          max(col("ts")).as("last_ts"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("last_value")),
    Some("""SELECT user_id, event_type,
                   event_id AS last_event_id, ts AS last_ts, value AS last_value
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                               ORDER BY ts DESC, event_id DESC) AS rn
                  FROM events)
            WHERE rn = 1
            ORDER BY user_id, event_type"""))

  /** Full outer join: per-customer event activity including customers with
    * no events (the coverage/completeness audit shape). Events are
    * pre-aggregated to one row per user BEFORE the join, so the outer join
    * is dim-sized on both sides — never full-outer-join a raw 100 TB fact
    * table when an aggregate-then-join gives the same answer.
    */
  val q26 = Q(
    "q26_activity_coverage",
    (s, d) => {
      val perUser = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      Tables.customer(s, d)
        .join(perUser, col("c_custkey") === col("user_id"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("user_id")).as("cust"),
          when(col("user_id").isNull, lit("no_events"))
            .when(col("c_custkey").isNull, lit("unknown_user"))
            .otherwise(lit("active")).as("status"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
    },
    Some("""SELECT coalesce(c_custkey, user_id) AS cust,
                   CASE WHEN user_id IS NULL THEN 'no_events'
                        WHEN c_custkey IS NULL THEN 'unknown_user'
                        ELSE 'active' END AS status,
                   coalesce(n_events, 0) AS n_events
            FROM customer
            FULL OUTER JOIN (SELECT user_id, count(*) AS n_events
                             FROM events GROUP BY user_id) e
              ON c_custkey = e.user_id
            ORDER BY cust"""))

  /** Sketch-based percentiles next to q20's exact form — the q15 accuracy
    * pattern applied to quantiles. `percentile_approx` is a one-pass,
    * fixed-memory, mergeable sketch: map-side partials shuffle a sketch per
    * group instead of every value, which is the only affordable shape at
    * 100 TB (q20's exact interpolation needs the full per-group sort).
    * Rows-only check (sketch internals are engine-specific); the error
    * vs the exact percentiles is asserted in spec. */
  val q27 = Q(
    "q27_percentile_sketch",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr(
          "percentile_approx(l_quantity, array(0.25D, 0.5D, 0.9D), 10000)").as("ps"))
        .select(
          col("l_returnflag"),
          element_at(col("ps"), 1).as("p25"),
          element_at(col("ps"), 2).as("p50"),
          element_at(col("ps"), 3).as("p90")),
    None)

  /** Funnel conversion over the event stream: per user, purchases that
    * happened within one hour of a PRECEDING view — the temporal-sequence
    * (view → purchase) pattern product analytics runs constantly, and the
    * one family member (ordered within-key sequence matching) q11/q12/q16
    * don't cover. The "last view at or before this event" is a running
    * `max` over a user-keyed window (monotone ts makes max == latest);
    * ties at identical timestamps break deterministically on event_id in
    * both engines.
    *
    * Scale shape: ONE shuffle keyed by user_id (the window), then the
    * user-keyed aggregate rides the same partitioning — no join, no
    * self-join on events (the naive formulation is events⋈events per
    * user), state per window row is one long. Linear in event volume.
    */
  val q29 = Q(
    "q29_funnel_conversion",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isConv = col("event_type") === "purchase" &&
        col("last_view_us").isNotNull &&
        col("us") - col("last_view_us") <= 3600L * 1000000L
      ev.withColumn("last_view_us",
          max(when(col("event_type") === "view", col("us"))).over(w))
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_views"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"),
          sum(when(isConv, 1L).otherwise(0L)).as("n_converted"))
        .withColumn("converted", col("n_converted") > 0)
    },
    Some("""WITH staged AS (
              SELECT user_id, event_type, epoch_us(ts) AS us,
                max(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_view_us
              FROM events)
            SELECT user_id,
              CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
              CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
              CAST(sum(CASE WHEN event_type = 'purchase' AND last_view_us IS NOT NULL
                        AND us - last_view_us <= 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_converted,
              (sum(CASE WHEN event_type = 'purchase' AND last_view_us IS NOT NULL
                        AND us - last_view_us <= 3600000000 THEN 1 ELSE 0 END) > 0)
                AS converted
            FROM staged GROUP BY user_id ORDER BY user_id"""))

  /** Weekly cohort retention — the longitudinal engagement readout next to
    * q13's daily actives: users are bucketed by first-activity day (their
    * cohort), and each cohort's distinct active users are counted at weekly
    * offsets from it. The classic triangular retention matrix falls out as
    * (cohort_day × week_offset).
    *
    * Scale shape: the cohort assignment is a user-keyed window (ONE shuffle
    * by user_id — never a join of events against a first-seen table), then
    * distinct + count ride (cohort, offset, user)-keyed exchanges with
    * map-side combine. No self-join, no broadcast; linear in event volume.
    */
  val q30 = Q(
    "q30_cohort_retention",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      ev.withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
        .select(
          col("cohort_day"),
          expr("datediff(day, cohort_day) div 7").as("week_offset"),
          col("user_id"))
        .distinct()
        .groupBy("cohort_day", "week_offset")
        .agg(count(lit(1)).as("n_active"))
    },
    Some("""WITH ev AS (
              SELECT user_id, date_trunc('day', ts) AS day FROM events),
            coh AS (
              SELECT user_id, day,
                min(day) OVER (PARTITION BY user_id) AS cohort_day
              FROM ev),
            act AS (
              SELECT DISTINCT cohort_day,
                date_diff('day', cohort_day, day) // 7 AS week_offset, user_id
              FROM coh)
            SELECT cohort_day, CAST(week_offset AS BIGINT) AS week_offset,
              CAST(count(*) AS BIGINT) AS n_active
            FROM act GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Last-touch attribution — which click gets credit for each purchase:
    * the latest strictly-preceding click by the same user within a 24 h
    * lookback, with the conversion lag. The marketing-analytics twin of
    * q29's funnel (q29 counts conversions per user; this names the
    * attributed touchpoint per purchase).
    *
    * Plan: NO events⋈events self-join — the classic formulation — but one
    * user-keyed running `max` over a STRUCT (us, event_id): struct
    * ordering is lexicographic in both engines, so the window carries the
    * latest click's timestamp AND identity in one pass, with the
    * (ts, event_id) tie rule making attribution deterministic when clicks
    * share a timestamp. `ROWS ... AND 1 PRECEDING` keeps same-instant
    * attribution strict (a click at the purchase's own timestamp
    * attributes only if it sorts before it). Unattributed purchases carry
    * the -1 sentinel (both engines emit int64 — the p01 rule, not null).
    *
    * Scale shape: ONE shuffle keyed by user_id; per-key rows = that
    * user's events (bounded by activity, not corpus); output =
    * purchase-count rows. Linear at any event volume.
    */
  val q32 = Q(
    "q32_last_touch_attribution",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lookbackUs = 86400L * 1000000L
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val lc = max(when(col("event_type") === "click",
        struct(col("us"), col("event_id")))).over(w)
      val attributed = col("lc").isNotNull &&
        col("us") - col("lc").getField("us") <= lookbackUs
      ev.withColumn("lc", lc)
        .filter(col("event_type") === "purchase")
        .select(
          col("event_id"), col("user_id"), col("us"),
          when(attributed, col("lc").getField("event_id"))
            .otherwise(-1L).as("click_id"),
          when(attributed, col("us") - col("lc").getField("us"))
            .otherwise(-1L).as("gap_us"))
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id, event_type, epoch_us(ts) AS us
              FROM events),
            staged AS (
              SELECT user_id, event_id, event_type, us,
                max(CASE WHEN event_type = 'click'
                         THEN {us: us, event_id: event_id} END)
                  OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lc
              FROM ev)
            SELECT event_id, user_id, us,
              CAST(CASE WHEN lc IS NOT NULL AND us - lc.us <= 86400000000
                        THEN lc.event_id ELSE -1 END AS BIGINT) AS click_id,
              CAST(CASE WHEN lc IS NOT NULL AND us - lc.us <= 86400000000
                        THEN us - lc.us ELSE -1 END AS BIGINT) AS gap_us
            FROM staged WHERE event_type = 'purchase' ORDER BY event_id"""))

  /** Event-transition matrix — the first-order Markov readout of user
    * journeys (which event type follows which, and how often): per user,
    * each event's successor via `lead` over the (ts, event_id) order, then
    * the (from, to) transition counts and per-from-state probabilities.
    * The journey-structure twin of q29's funnel (q29 asks "did view lead
    * to purchase within an hour"; this measures the whole transition
    * graph product analytics builds sankey/flow diagrams from).
    *
    * Plan: ONE shuffle keyed by user_id (the `lead` window — never an
    * events self-join on consecutive row numbers), then a keyed count with
    * map-side combine. The probability window partitions by from_type over
    * the AGGREGATED matrix — |event types|² rows, not events — so the
    * no-global-window rule holds (input is type-bounded, not
    * corpus-bounded). Probabilities are integer micro-units via `div`
    * (the t17 rule): exact in both engines at any event volume, no float
    * summation anywhere.
    */
  val q33 = Q(
    "q33_event_transitions",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val wSeq = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val wFrom = Window.partitionBy("from_type")
      ev.withColumn("to_type", lead(col("event_type"), 1).over(wSeq))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n_transitions"))
        .withColumn("n_from_total", sum("n_transitions").over(wFrom))
        .withColumn("p_micro",
          expr("n_transitions * 1000000L div n_from_total"))
    },
    Some("""WITH seq AS (
              SELECT user_id, event_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY epoch_us(ts), event_id) AS to_type
              FROM events),
            t AS (
              SELECT event_type AS from_type, to_type,
                CAST(count(*) AS BIGINT) AS n_transitions
              FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
            tot AS (
              SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_from_total
              FROM t GROUP BY 1)
            SELECT t.from_type, t.to_type, t.n_transitions, tot.n_from_total,
              CAST(t.n_transitions * 1000000 // tot.n_from_total AS BIGINT)
                AS p_micro
            FROM t JOIN tot USING (from_type)
            ORDER BY t.from_type, t.to_type"""))

  /** RFM (recency / frequency / monetary) user segmentation — the
    * engagement-scoring readout growth analytics and churn models key on.
    * Per user: last-seen time, event count, purchase value; each metric is
    * scored 1–4 against its own corpus-wide quartile cut points and the
    * three scores concatenate into the segment label ("444" = best).
    *
    * Exactness: monetary is integer cents via `floor(value*100)` (the same
    * IEEE product floored identically in both engines — never a fp SUM,
    * never an engine-divergent double→int cast), recency/frequency are
    * BIGINT, and the quartile thresholds interpolate between integers at
    * f ∈ {.25,.5,.75} — exactly representable, so the score comparisons
    * are bit-identical cross-engine. Scoring by VALUE THRESHOLD rather
    * than `ntile` is deliberate twice over: equal metrics always land in
    * the same bucket (ntile splits ties by row position — partition-
    * dependent), and there is no global ntile window (a single-reducer
    * sort at corpus scale).
    *
    * Scale shape: one user-keyed shuffle (map-side combined agg), one
    * 1-row exact-percentile agg over the user table (the 100 TB path swaps
    * in percentile_approx — q20's documented trade), then a map-side
    * crossJoin with that 1-row cut table (bnlj-allowlisted, q31's
    * pattern). No events self-join, no global window.
    */
  val q34 = Q(
    "q34_rfm_segments",
    (s, d) => {
      val ev = Tables.events(s, d).select(
        col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val perUser = ev.groupBy("user_id").agg(
        max("us").as("r_us"),
        count(lit(1)).as("f_events"),
        coalesce(sum(when(col("event_type") === "purchase", col("cents"))), lit(0L))
          .as("m_cents"))
      val cuts = perUser.agg(
        expr("percentile(r_us, array(0.25D, 0.5D, 0.75D))").as("rq"),
        expr("percentile(f_events, array(0.25D, 0.5D, 0.75D))").as("fq"),
        expr("percentile(m_cents, array(0.25D, 0.5D, 0.75D))").as("mq"))
      def score(metric: String, q: String) =
        lit(1L) +
          when(col(metric) > element_at(col(q), 1), 1L).otherwise(0L) +
          when(col(metric) > element_at(col(q), 2), 1L).otherwise(0L) +
          when(col(metric) > element_at(col(q), 3), 1L).otherwise(0L)
      perUser.crossJoin(cuts)
        .withColumn("r_score", score("r_us", "rq"))
        .withColumn("f_score", score("f_events", "fq"))
        .withColumn("m_score", score("m_cents", "mq"))
        .select(
          col("user_id"), col("r_us"), col("f_events"), col("m_cents"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score").cast("string"), col("f_score").cast("string"),
            col("m_score").cast("string")).as("segment"))
    },
    Some("""WITH pu AS (
              SELECT user_id, max(epoch_us(ts)) AS r_us,
                CAST(count(*) AS BIGINT) AS f_events,
                CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(floor(value * 100) AS BIGINT) END), 0) AS BIGINT)
                  AS m_cents
              FROM events GROUP BY user_id),
            cuts AS (
              SELECT quantile_cont(r_us, [0.25, 0.5, 0.75]) AS rq,
                     quantile_cont(f_events, [0.25, 0.5, 0.75]) AS fq,
                     quantile_cont(m_cents, [0.25, 0.5, 0.75]) AS mq
              FROM pu),
            sc AS (
              SELECT user_id, r_us, f_events, m_cents,
                CAST(1 + (r_us > rq[1])::INT + (r_us > rq[2])::INT
                       + (r_us > rq[3])::INT AS BIGINT) AS r_score,
                CAST(1 + (f_events > fq[1])::INT + (f_events > fq[2])::INT
                       + (f_events > fq[3])::INT AS BIGINT) AS f_score,
                CAST(1 + (m_cents > mq[1])::INT + (m_cents > mq[2])::INT
                       + (m_cents > mq[3])::INT AS BIGINT) AS m_score
              FROM pu CROSS JOIN cuts)
            SELECT user_id, r_us, f_events, m_cents, r_score, f_score, m_score,
              r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
            FROM sc ORDER BY user_id"""))

  /** SCD2-style history intervals — the temporal-table complement of
    * q25's latest-snapshot compaction: per user, each run of a SUSTAINED
    * state (consecutive events with the same event_type) becomes one
    * versioned validity interval [valid_from, valid_to), open-ended
    * (NULL valid_to) for the current state. This is how a warehouse turns
    * an event stream into a dimension you can join "as of" any time —
    * q16's as-of join probes exactly this shape.
    *
    * Scale shape: three window passes all over the SAME user-keyed
    * partitioning (lag to find change points, lead for the interval end,
    * row_number for the version) — Catalyst plans ONE Exchange + one
    * sort for the first two (same partition key and ordering), and the
    * change-point filter shrinks the data before the version window.
    * Per-user rows bound each window buffer; nothing global.
    */
  /** q37's SCD2 builder as a reusable operator (q45 probes it built from
    * a filtered stream): per user, each maximal run of the same
    * event_type becomes one versioned validity interval. */
  def scd2History(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val changes = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag("event_type", 1).over(byUser))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val byUserChanges = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // Open intervals close at the standard far-future sentinel rather
    // than NULL: every row then carries a concrete [from, to) range an
    // as-of probe can compare against without null branches (and the
    // value-hash compare never sees an engine-specific NULL encoding).
    changes
      .withColumn("next_ts", lead("ts", 1).over(byUserChanges))
      .withColumn("version", row_number().over(byUserChanges).cast("long"))
      .select(
        col("user_id"), col("event_type").as("state"),
        col("ts").as("valid_from"),
        coalesce(col("next_ts"), lit("2200-01-01 00:00:00").cast("timestamp"))
          .as("valid_to"),
        col("next_ts").isNull.as("is_current"),
        col("version"))
  }

  val q37 = Q(
    "q37_scd2_history",
    (s, d) => scd2History(Tables.events(s, d)),
    Some("""WITH marked AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type
              FROM events),
            changes AS (
              SELECT user_id, event_type, ts, event_id
              FROM marked
              WHERE prev_type IS NULL OR prev_type <> event_type),
            iv AS (
              SELECT user_id, event_type, ts,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS next_ts,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS version
              FROM changes)
            SELECT user_id, event_type AS state, ts AS valid_from,
              coalesce(next_ts, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
              (next_ts IS NULL) AS is_current,
              CAST(version AS BIGINT) AS version
            FROM iv
            ORDER BY user_id, version"""))

  /** Arbitrary GROUPING SETS — the non-hierarchical complement of q10's
    * ROLLUP and q19's CUBE: the shipped sets ((status, priority),
    * (priority), ()) include a (priority)-only level without its (status)
    * parent, which neither rollup nor cube can express. Spark plans all
    * three levels through one Expand + one shuffle keyed by the padded
    * grouping key (same physical shape as cube — each input row fans out
    * to one row per set map-side, partial aggregation applies before the
    * exchange), so the cost is sets × input scan, not sets × shuffles.
    * Keys are coalesced to 'ALL' per q19's rule so the output carries no
    * NULL-ordering contract.
    */
  val q36 = Q(
    "q36_grouping_sets",
    (s, d) =>
      Tables.orders(s, d)
        .groupingSets(
          Seq(
            Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderpriority")),
            Seq.empty[org.apache.spark.sql.Column]),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .select(
          col("gid"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("revenue")),
    Some("""SELECT CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
                   coalesce(o_orderstatus, 'ALL') AS status,
                   coalesce(o_orderpriority, 'ALL') AS priority,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                    (o_orderpriority), ())
            ORDER BY gid, status, priority"""))

  // --------------------------------------------------- key skew profile (q38)
  /** q38: join/shuffle-key skew profile — per distinct key: row count,
    * corpus share, ratio to the hottest key, and a `is_hot` flag at
    * `hotShare`. This is the operational readout a pipeline computes
    * BEFORE keying a 100 TB shuffle: a key whose share exceeds what one
    * task should own is the signal to reach for AQE skew splitting or an
    * explicitly salted join (`SkewJoin.saltedJoin`, last held by commit
    * `69118af`, with the skewed-corpus rehearsal that timed both; this
    * query is how a run decides it needs them). Shipped over the
    * documents `lang` key, whose distribution is genuinely skewed (en ≈
    * 44%, others ≈ 14%), so the flag is exercised in both directions.
    *
    * Scale shape: one keyed count with map-side partials (output =
    * key-cardinality), one 1-row aggregate attached by cross join —
    * deliberately NO rank window (the plan-audit gate bans unpartitioned
    * windows; the result is unordered, the flag is the decision). */
  def keySkewProfile(df: org.apache.spark.sql.DataFrame, keyCol: String,
      hotShare: Double): org.apache.spark.sql.DataFrame = {
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(
      sum("n_rows").as("n_total"), max("n_rows").as("max_rows"))
    counts.crossJoin(tot)
      .select(
        col(keyCol),
        col("n_rows"),
        round(col("n_rows").cast("double") / col("n_total").cast("double"), 6)
          .as("share"),
        round(col("n_rows").cast("double") / col("max_rows").cast("double"), 6)
          .as("vs_hottest"),
        (col("n_rows").cast("double") / col("n_total").cast("double") >= hotShare)
          .as("is_hot"))
  }

  val q38 = Q(
    "q38_key_skew_profile",
    (s, d) => keySkewProfile(Tables.documents(s, d), "lang", 0.25),
    Some("""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
                       FROM documents GROUP BY 1),
            t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
                         CAST(max(n_rows) AS BIGINT) AS max_rows FROM c)
            SELECT lang, n_rows,
              round(CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
              round(CAST(n_rows AS DOUBLE) / CAST(max_rows AS DOUBLE), 6) AS vs_hottest,
              (CAST(n_rows AS DOUBLE) / CAST(n_total AS DOUBLE) >= 0.25) AS is_hot
            FROM c, t ORDER BY n_rows DESC, lang"""))

  // ------------------------------------------------- rate anomaly (q39)
  /** q39: ingestion-rate anomaly detection — per (event_type, hour): the
    * event count, its z-score against the TRAILING 24 observations of
    * the same type, and a spike flag at |z| ≥ 3. The monitor a data
    * pipeline runs over its own ingest: a feed that doubles overnight
    * (scraper loop, replay, upstream incident) shows up as a spike row
    * before it poisons mixing weights downstream (q31 reads volumes).
    *
    * Exactness: the trailing mean/std derive from BIGINT window sums
    * (Σx, Σx² over counts — order-independent), closed with ONE
    * identically-written double expression in both engines; variance is
    * clamped at 0 (fp dust) and a zero std yields NULL z via NULLIF —
    * the t32 discipline. z is rounded to 6 BEFORE the flag compare, so
    * the |z| ≥ 3 boundary cannot drift between engines.
    *
    * Scale shape: one (hour, type)-keyed count with map-side partials
    * collapses the corpus to hours × types rows; the trailing windows
    * are PARTITIONED BY event_type (bounded partitions: hours per type),
    * never global. Output ∝ hours × types — tiny at any event volume. */
  /** The z-score closer q39 and the streaming rate gate share: one
    * identically-written double expression over BIGINT (n_events, n_base,
    * s1, s2) columns, rounded to 6 BEFORE any flag compare (the t32
    * discipline). Kept as ONE string so the streaming twin scores with
    * the batch monitor's exact arithmetic — column math, no scalar
    * mirror needed (the langGate precedent). */
  val rateZExpr: String =
    """CASE WHEN n_base >= 12 THEN
         round((CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
           / NULLIF(sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_base AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE)), 0.0)), 0.0), 6)
       ELSE NULL END"""

  val q39 = Q(
    "q39_rate_anomaly",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      val w = Window.partitionBy("event_type").orderBy("hour")
        .rowsBetween(-24, -1)
      val zExpr = rateZExpr
      hourly
        .withColumn("n_base", count(lit(1)).over(w))
        .withColumn("s1", coalesce(sum("n_events").over(w), lit(0L)))
        .withColumn("s2",
          coalesce(sum(col("n_events") * col("n_events")).over(w), lit(0L)))
        .withColumn("z", expr(zExpr))
        .withColumn("is_spike", coalesce(abs(col("z")) >= 3.0, lit(false)))
        .select("hour", "event_type", "n_events", "n_base", "z", "is_spike")
    },
    Some("""WITH hourly AS (
              SELECT date_trunc('hour', ts) AS hour, event_type,
                CAST(count(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1, 2),
            win AS (
              SELECT hour, event_type, n_events,
                CAST(count(*) OVER tw AS BIGINT) AS n_base,
                CAST(coalesce(sum(n_events) OVER tw, 0) AS BIGINT) AS s1,
                CAST(coalesce(sum(n_events * n_events) OVER tw, 0) AS BIGINT) AS s2
              FROM hourly
              WINDOW tw AS (PARTITION BY event_type ORDER BY hour
                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
            scored AS (
              SELECT hour, event_type, n_events, n_base,
                CASE WHEN n_base >= 12 THEN
                  round((CAST(n_events AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
                    / NULLIF(sqrt(greatest(CAST(s2 AS DOUBLE) / CAST(n_base AS DOUBLE)
                        - (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
                          * (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE)), 0.0)), 0.0), 6)
                ELSE NULL END AS z
              FROM win)
            SELECT hour, event_type, n_events, n_base, z,
              coalesce(abs(z) >= 3.0, false) AS is_spike
            FROM scored ORDER BY hour, event_type"""))

  /** q40: rolling-engagement stickiness — per day: exact DAU, trailing-7-day
    * WAU, trailing-30-day MAU, and DAU/MAU stickiness. q13 gives the daily
    * point reads; this is the retention dashboard's rolling view, and the
    * classic hard case for naive SQL (a sliding COUNT DISTINCT is not
    * decomposable over days — you cannot sum daily distincts).
    *
    * Scale shape: ONE events scan, not one per window. Events collapse to
    * the distinct (user, day) grain (one shuffle, already orders of
    * magnitude smaller than raw events); each grain row explodes to the 30
    * window-END days it can contribute to, tagged with its offset; one
    * day-keyed aggregate computes all three rolling distincts as
    * FILTERED distincts over the same exploded stream (offset 0 → DAU,
    * < 7 → WAU, any → MAU — Spark plans the multi-distinct as a single
    * Expand, so the whole query is scan → distinct → explode → one
    * aggregate). The first formulation tried — three independent
    * dau/wau/mau branches joined on day — re-scanned events and re-ran
    * the (user, day) distinct THREE times (no exchange reuse: the
    * branches' subtrees differ); at 100 TB that triples the dominant
    * cost, which is why this is one pass. Days with no direct activity
    * (dau = 0) are trimmed to match q13's day set. When even 30× of the
    * compressed grain is too dear, q15's HLL sketches are the
    * approximate alternative (sketches merge across days; exact
    * distincts don't — that merge-ability is what the explode buys back
    * while staying exact).
    */
  val q40 = Q(
    "q40_wau_stickiness",
    (s, d) => {
      val ud = Tables.events(s, d)
        .select(to_date(col("ts")).as("aday"), col("user_id")).distinct()
      val exploded = ud
        .select(col("user_id"),
          explode(sequence(lit(0), lit(29))).as("i"), col("aday"))
        .select(col("user_id"), col("i"), date_add(col("aday"), col("i")).as("day"))
      // Three countDistincts over the 30×-exploded stream was Spark's
      // Expand rewrite — ×3 the exploded rows again through the shuffle.
      // A user counts toward dau/wau iff ANY of their (day, i) rows has
      // i = 0 / i < 7, i.e. iff min(i) per (day, user) does — so a
      // two-phase aggregate (per-(day, user) min(i) with map-side
      // partials, then plain conditional counts) is value-identical with
      // no Expand and ~1/3 the shuffled rows (q15's pre-distinct move,
      // guide §2).
      exploded.groupBy("day", "user_id").agg(min("i").as("mi"))
        .groupBy("day")
        .agg(
          count(when(col("mi") === 0, 1)).as("dau"),
          count(when(col("mi") < 7, 1)).as("wau"),
          count(lit(1)).as("mau"))
        .filter(col("dau") > 0)
        .select(col("day").cast("timestamp").as("day"),
          col("dau"), col("wau"), col("mau"),
          round(col("dau").cast("double") / col("mau").cast("double"), 6)
            .as("stickiness"))
    },
    Some("""WITH ud AS (
              SELECT DISTINCT CAST(ts AS DATE) AS aday, user_id FROM events),
            ex AS (
              SELECT user_id, i, aday + CAST(i AS INTEGER) AS day
              FROM ud, range(30) t(i)),
            agg AS (
              SELECT day,
                CAST(count(DISTINCT CASE WHEN i = 0 THEN user_id END) AS BIGINT) AS dau,
                CAST(count(DISTINCT CASE WHEN i < 7 THEN user_id END) AS BIGINT) AS wau,
                CAST(count(DISTINCT user_id) AS BIGINT) AS mau
              FROM ex GROUP BY day)
            SELECT CAST(day AS TIMESTAMP) AS day, dau, wau, mau,
              round(CAST(dau AS DOUBLE) / CAST(mau AS DOUBLE), 6) AS stickiness
            FROM agg WHERE dau > 0 ORDER BY day"""))

  /** q41: conversion-latency distribution — for every user whose journey
    * contains a view, the latency from their FIRST view to their first
    * purchase at-or-after it (in the (ts, event_id) total order), bucketed
    * into operational latency bands (sub-minute … ≥ 1 day, plus the
    * no-conversion band). q29 counts conversions and q32 names the
    * attributed touchpoint; this is the "how long does conversion take"
    * histogram a team reads BEFORE choosing an attribution window —
    * q32's 24 h lookback is exactly such a choice, and this table is the
    * evidence for it.
    *
    * Exactness: latencies are BIGINT microsecond differences (no float
    * until the final share division, rounded to 6); first view / first
    * qualifying purchase are minima under the unique (us, event_id)
    * total order, identical in both engines. The per-row running first
    * view (fv_us) makes "purchase at-or-after a view" a row-local
    * predicate, and min(fv_us) over the user's rows recovers the overall
    * first view — so one window pass feeds one aggregate.
    *
    * Scale shape: q29's — ONE user-keyed window shuffle, with the
    * per-user aggregate riding the same exchange (no events self-join,
    * which is the naive formulation); the bucket rollup collapses to
    * ≤ 7 rows and the 1-row viewer-total attaches by bounded crossJoin
    * (q38's shape). Linear in event volume.
    */
  val q41 = Q(
    "q41_conversion_latency",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val perUser = ev
        .withColumn("fv_us",
          min(when(col("event_type") === "view", col("us"))).over(w))
        .groupBy("user_id")
        .agg(
          min(col("fv_us")).as("fv"),
          min(when(col("event_type") === "purchase" && col("fv_us").isNotNull,
            col("us"))).as("fp"))
        .filter(col("fv").isNotNull)
      val lat = col("fp") - col("fv")
      val counts = perUser
        .select(
          when(col("fp").isNull, lit(6))
            .when(lat < lit(60000000L), lit(0))
            .when(lat < lit(600000000L), lit(1))
            .when(lat < lit(3600000000L), lit(2))
            .when(lat < lit(21600000000L), lit(3))
            .when(lat < lit(86400000000L), lit(4))
            .otherwise(lit(5)).as("bucket_id"))
        .groupBy("bucket_id")
        .agg(count(lit(1)).as("n_users"))
      val tot = counts.agg(sum("n_users").as("n_viewers"))
      counts.crossJoin(tot)
        .select(
          col("bucket_id"),
          element_at(
            lit(Array("lt_1m", "1m_10m", "10m_1h", "1h_6h", "6h_1d", "ge_1d",
              "no_convert")), col("bucket_id") + 1).as("bucket"),
          col("n_users"),
          round(col("n_users").cast("double") / col("n_viewers").cast("double"), 6)
            .as("share"))
    },
    Some("""WITH staged AS (
              SELECT user_id, event_type, epoch_us(ts) AS us,
                min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
                  OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fv_us
              FROM events),
            per_user AS (
              SELECT user_id, min(fv_us) AS fv,
                min(CASE WHEN event_type = 'purchase' AND fv_us IS NOT NULL
                         THEN us END) AS fp
              FROM staged GROUP BY user_id),
            bucketed AS (
              SELECT CASE WHEN fp IS NULL THEN 6
                          WHEN fp - fv < 60000000 THEN 0
                          WHEN fp - fv < 600000000 THEN 1
                          WHEN fp - fv < 3600000000 THEN 2
                          WHEN fp - fv < 21600000000 THEN 3
                          WHEN fp - fv < 86400000000 THEN 4
                          ELSE 5 END AS bucket_id
              FROM per_user WHERE fv IS NOT NULL),
            c AS (SELECT bucket_id, CAST(count(*) AS BIGINT) AS n_users
                  FROM bucketed GROUP BY 1),
            t AS (SELECT CAST(sum(n_users) AS BIGINT) AS n_viewers FROM c)
            SELECT bucket_id,
              CASE bucket_id WHEN 0 THEN 'lt_1m' WHEN 1 THEN '1m_10m'
                   WHEN 2 THEN '10m_1h' WHEN 3 THEN '1h_6h' WHEN 4 THEN '6h_1d'
                   WHEN 5 THEN 'ge_1d' ELSE 'no_convert' END AS bucket,
              n_users,
              round(CAST(n_users AS DOUBLE) / CAST(n_viewers AS DOUBLE), 6) AS share
            FROM c, t ORDER BY bucket_id"""))

  // ------------------------------------------------ session paths (q42)
  /** q42: top session event-type paths — q12's sessionization rolled up to
    * the PATH grain: each session's first ≤8 events in (ts, event_id)
    * order joined with '>' ("view>click>purchase"), then the corpus-wide
    * top-25 paths with session counts and share. The behavioral complement
    * of q33's per-STEP Markov transitions: the whole-walk readout a funnel
    * designer and a bot detector both read (a scripted scraper is one
    * dominant path; organic traffic is a long tail).
    *
    * Determinism: within-session order is the total order (ts, event_id);
    * the path string is the group key; the final (n_sessions DESC, path)
    * sort is total, so LIMIT 25 is stable in both engines.
    *
    * Scale shape: q12's ONE user-keyed window shuffle (the session pass
    * and the within-session row_number share it — hash(user_id)
    * satisfies the (user_id, session_id) clustering, so no second
    * exchange), a (user, session) aggregate whose per-group state is ≤8
    * structs (the rn≤8 gate runs BEFORE collect, so even a gap-free
    * bot mega-session stays O(1) state; n_events is a plain count), a
    * path-keyed aggregate with map-side partials, and the 1-row total
    * attached by bounded crossJoin (q38's allowlisted shape). Output is
    * 25 rows at any corpus size. */
  def sessionPaths(events: org.apache.spark.sql.DataFrame,
      maxPathLen: Int = 8, topK: Int = 25): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val sess = events
        .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
        .withColumn("prev_ts", lag("ts", 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // Rank within the session BEFORE collecting, so the aggregation
      // buffer holds ≤8 structs per session instead of the whole session:
      // the one session shape that breaks the 30-minute-gap bound — a bot
      // that never pauses — is precisely the one this query exists to
      // surface, so the per-group state must not scale with session
      // length. The rn window re-uses the user-keyed shuffle (hash
      // partitioning on user_id satisfies the (user_id, session_id)
      // clustering requirement — no second exchange, one extra local
      // sort); collect_list drops the null that `when` leaves for rn > 8.
      val ranked = sess.withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")))
      val paths = ranked.groupBy("user_id", "session_id")
        .agg(
          concat_ws(">", transform(
            array_sort(collect_list(when(col("rn") <= maxPathLen,
              struct(col("ts"), col("event_id"), col("event_type"))))),
            e => e.getField("event_type"))).as("path"),
          count(lit(1)).as("n_events"))
      val byPath = paths.groupBy("path").agg(
        count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      byPath.crossJoin(byPath.agg(sum("n_sessions").as("n_total")))
        .select(col("path"), col("n_sessions"), col("n_events"),
          round(col("n_sessions").cast("double") / col("n_total").cast("double"), 6)
            .as("session_share"))
        .orderBy(desc("n_sessions"), col("path")).limit(topK)
  }

  val q42 = Q(
    "q42_session_paths",
    (s, d) => sessionPaths(Tables.events(s, d)),
    Some("""WITH g AS (
              SELECT user_id, ts, event_id, event_type,
                CASE WHEN lag(ts) OVER w IS NULL
                     OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                     THEN 1 ELSE 0 END AS new_session
              FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            se AS (
              SELECT user_id, ts, event_id, event_type,
                CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM g),
            p AS (
              SELECT user_id, session_id,
                array_to_string((array_agg(event_type ORDER BY ts, event_id))[1:8], '>') AS path,
                CAST(count(*) AS BIGINT) AS n_events
              FROM se GROUP BY 1, 2),
            bp AS (
              SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
                CAST(sum(n_events) AS BIGINT) AS n_events
              FROM p GROUP BY path),
            t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total FROM bp)
            SELECT path, n_sessions, n_events,
              round(CAST(n_sessions AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS session_share
            FROM bp, t ORDER BY n_sessions DESC, path LIMIT 25"""))

  // --------------------------------- incremental view maintenance (q43)
  /** q43: incremental maintenance of q02's pricing-summary view — the
    * engine capability every warehouse ships as materialized-view
    * refresh. The newest fifth of l_orderkey space plays today's append
    * delta (d10's convention on the fact axis): the RESIDENT aggregate
    * stands in for the persisted view state (production reads it from
    * storage instead of recomputing — that substitution is exactly what
    * the associativity below licenses), the DELTA aggregate scans only
    * the new rows, and the view updates by a #groups-sized full-outer
    * MERGE of partial states. The oracle is the plain FULL recompute
    * over lineitem — so the driver's hash equality IS the
    * merge-≡-recompute theorem, checked value-exact per group.
    *
    * Exactness is designed in, not hoped for: quantities quantize to
    * centi-units (BIGINT) before any aggregation, so partial sums merge
    * associatively — a double sum would differ between the split and
    * full orderings by fp error and the view would drift from its own
    * definition after enough refreshes (the silent IVM bug this
    * formulation makes impossible).
    *
    * Scale shape: the refresh cost is ONE delta-proportional scan + a
    * #groups-keyed merge join (both sides ≤ |returnflag × linestatus|)
    * — independent of resident-corpus size, which is the entire point
    * of maintaining a view instead of recomputing it. */
  def incrementalAgg(lineitem: org.apache.spark.sql.DataFrame,
      splitAt: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val li = lineitem.select(
      col("l_orderkey"), col("l_returnflag"), col("l_linestatus"),
      floor(col("l_quantity") * 100 + 0.5).cast("long").as("qc"))
    val split = splitAt.getOrElse {
      val mxRow = li.agg(max("l_orderkey")).head()
      if (mxRow.isNullAt(0)) 0L else mxRow.getLong(0) * 4 / 5
    }
    def state(df: org.apache.spark.sql.DataFrame, q: String, c: String) =
      df.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("qc").as(q), count(lit(1)).as(c))
    val resident = state(li.filter(col("l_orderkey") < split), "rq", "rc")
    val delta = state(li.filter(col("l_orderkey") >= split), "dq", "dc")
    resident.join(delta, Seq("l_returnflag", "l_linestatus"), "full_outer")
      .select(
        col("l_returnflag"), col("l_linestatus"),
        round((coalesce(col("rq"), lit(0L)) + coalesce(col("dq"), lit(0L)))
          .cast("double") / 100.0, 2).as("sum_qty"),
        (coalesce(col("rc"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("count_rows"),
        coalesce(col("dc"), lit(0L)).as("n_delta_rows"))
  }

  val q43 = Q(
    "q43_incremental_agg",
    (s, d) => incrementalAgg(Tables.lineitem(s, d)),
    Some("""WITH mx AS (SELECT max(l_orderkey) AS m FROM lineitem),
            q AS (
              SELECT l_returnflag, l_linestatus,
                CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc,
                (l_orderkey >= (SELECT m * 4 // 5 FROM mx)) AS is_delta
              FROM lineitem)
            SELECT l_returnflag, l_linestatus,
              round(CAST(sum(qc) AS DOUBLE) / 100.0, 2) AS sum_qty,
              CAST(count(*) AS BIGINT) AS count_rows,
              CAST(coalesce(sum(CASE WHEN is_delta THEN 1 END), 0) AS BIGINT)
                AS n_delta_rows
            FROM q GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q44: referential-integrity + participation audit over the warehouse
    * star — the pre-ingest contract check an ETL gate runs before a
    * snapshot is declared queryable: for each relationship, how many rows
    * on the one side have NO partner on the other (orphaned lineitems /
    * childless orders are corruption; never-ordered parts / never-used
    * suppliers / orderless customers are legitimate but mix-shifting, and
    * a sudden rate jump is the tripwire). One row per check with the
    * violation count, the checked-side total, and the rate in exact
    * round-6 units.
    *
    * Scale shape: each check is ONE left join of the checked table
    * against the DISTINCT keys of the partner table (the distinct
    * collapses the fact side map-side before its shuffle; the join is
    * key-equi and AQE broadcasts whichever side is small — dimensions at
    * any scale, the distinct-orderkey set only while it fits) folded
    * immediately into a 1-row aggregate — no row ever survives the leg,
    * so the union of five 1-row legs is five independent subtrees with
    * nothing to co-partition. No crossJoin anywhere: total and violation
    * counts ride the SAME aggregate (count vs null-partner sum). */
  def referentialAudit(customer: org.apache.spark.sql.DataFrame,
      orders: org.apache.spark.sql.DataFrame,
      lineitem: org.apache.spark.sql.DataFrame,
      part: org.apache.spark.sql.DataFrame,
      supplier: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def leg(name: String, checked: org.apache.spark.sql.DataFrame, key: String,
        partnerKeys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val pk = partnerKeys.columns.head
      checked.join(partnerKeys.withColumn("hit", lit(1)),
          checked(key) === partnerKeys(pk), "left")
        .agg(
          lit(name).as("check"),
          count(lit(1)).as("n_checked"),
          sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_violations"))
    }
    val orderKeys = orders.select(col("o_orderkey").as("k1")).distinct()
    val liOrderKeys = lineitem.select(col("l_orderkey").as("k2")).distinct()
    val liPartKeys = lineitem.select(col("l_partkey").as("k3")).distinct()
    val liSuppKeys = lineitem.select(col("l_suppkey").as("k4")).distinct()
    val custKeys = orders.select(col("o_custkey").as("k5")).distinct()
    Seq(
      leg("customer_without_order", customer, "c_custkey", custKeys),
      leg("lineitem_orphaned", lineitem, "l_orderkey", orderKeys),
      leg("order_without_lineitem", orders, "o_orderkey", liOrderKeys),
      leg("part_never_ordered", part, "p_partkey", liPartKeys),
      leg("supplier_never_used", supplier, "s_suppkey", liSuppKeys))
      .reduce(_ unionAll _)
      .select(col("check"), col("n_checked"), col("n_violations"),
        round(graft.functions.TextFns.safeFrac(
          col("n_violations"), col("n_checked")), 6)
          .as("violation_rate"))
  }

  val q44 = Q(
    "q44_referential_audit",
    (s, d) => referentialAudit(Tables.customer(s, d), Tables.orders(s, d),
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d)),
    Some("""WITH legs AS (
              SELECT 'customer_without_order' AS check,
                CAST(count(*) AS BIGINT) AS n_checked,
                CAST(coalesce(sum(CASE WHEN o.k IS NULL THEN 1 END), 0) AS BIGINT)
                  AS n_violations
              FROM customer c
              LEFT JOIN (SELECT DISTINCT o_custkey AS k FROM orders) o
                ON c.c_custkey = o.k
              UNION ALL
              SELECT 'lineitem_orphaned',
                CAST(count(*) AS BIGINT),
                CAST(coalesce(sum(CASE WHEN o.k IS NULL THEN 1 END), 0) AS BIGINT)
              FROM lineitem l
              LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) o
                ON l.l_orderkey = o.k
              UNION ALL
              SELECT 'order_without_lineitem',
                CAST(count(*) AS BIGINT),
                CAST(coalesce(sum(CASE WHEN li.k IS NULL THEN 1 END), 0) AS BIGINT)
              FROM orders o
              LEFT JOIN (SELECT DISTINCT l_orderkey AS k FROM lineitem) li
                ON o.o_orderkey = li.k
              UNION ALL
              SELECT 'part_never_ordered',
                CAST(count(*) AS BIGINT),
                CAST(coalesce(sum(CASE WHEN li.k IS NULL THEN 1 END), 0) AS BIGINT)
              FROM part p
              LEFT JOIN (SELECT DISTINCT l_partkey AS k FROM lineitem) li
                ON p.p_partkey = li.k
              UNION ALL
              SELECT 'supplier_never_used',
                CAST(count(*) AS BIGINT),
                CAST(coalesce(sum(CASE WHEN li.k IS NULL THEN 1 END), 0) AS BIGINT)
              FROM supplier s
              LEFT JOIN (SELECT DISTINCT l_suppkey AS k FROM lineitem) li
                ON s.s_suppkey = li.k)
            SELECT "check", n_checked, n_violations,
              round(CAST(n_violations AS DOUBLE)
                / NULLIF(CAST(n_checked AS DOUBLE), 0.0), 6) AS violation_rate
            FROM legs ORDER BY "check""""))

  // ---------------------------- point-in-time enrichment (q45)
  /** q45: point-in-time-correct enrichment — the feature-store
    * primitive: enrich each fact with the dimension attribute that was
    * VALID AT fact time, never the current one (training a model on
    * today's attribute for yesterday's fact is label leakage, the
    * temporal twin of d09's split leakage). The dimension is q37's SCD2
    * history built from the user's sustained NON-purchase states (the
    * engagement signal); each purchase probes it at its own ts: "what
    * state was this user in when they bought".
    *
    * Execution: the naive formulation — equi-join on user plus a
    * BETWEEN(valid_from, valid_to) filter — materializes the per-user
    * intervals × purchases product before filtering (q17's per-key
    * quadratic, with no pair-output semantics to justify it). Because
    * SCD2 intervals are CONTIGUOUS per user, the containing interval IS
    * the latest interval with valid_from ≤ ts, so the probe rides the
    * shared [[AsOfJoin.asOf]] kernel: tagged union, ONE user-keyed
    * shuffle, a running last() window — no row explosion at any
    * interval or purchase density. `in_history` makes the containment
    * claim visible (false only for purchases before the user's first
    * recorded state, where state_at is NULL; ts < valid_to is the
    * audited invariant, not an assumption).
    *
    * Scale shape: q37's user-keyed windows (one Exchange), the as-of
    * union's user-keyed window (one Exchange), output rows = #purchase
    * events. Nothing global, nothing pairwise. */
  val q45 = Q(
    "q45_point_in_time_enrich",
    (s, d) => {
      val ev = Tables.events(s, d)
      val dim = scd2History(ev.filter(col("event_type") =!= "purchase"))
      val probes = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      AsOfJoin.asOf(probes, dim,
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "ts", rightTime = "valid_from",
        rightTiebreak = "version",
        rightPayload = Seq("state", "valid_to", "version"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("state").as("state_at"),
          col("version").as("state_version"),
          (col("state").isNotNull && col("ts") < col("valid_to"))
            .as("in_history"))
    },
    Some("""WITH nev AS (
              SELECT user_id, event_type, ts, event_id FROM events
              WHERE event_type <> 'purchase'),
            marked AS (
              SELECT user_id, event_type, ts, event_id,
                lag(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS prev_type
              FROM nev),
            changes AS (
              SELECT user_id, event_type, ts, event_id
              FROM marked
              WHERE prev_type IS NULL OR prev_type <> event_type),
            scd AS (
              SELECT user_id, event_type AS state, ts AS valid_from,
                coalesce(lead(ts) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id),
                  TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
                CAST(row_number() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS version
              FROM changes),
            l AS (
              SELECT user_id AS k, ts AS t, 1 AS side, NULL::BIGINT AS tb,
                     event_id,
                     NULL::VARCHAR AS state, NULL::TIMESTAMP AS valid_to,
                     NULL::BIGINT AS version
              FROM events WHERE event_type = 'purchase'),
            r AS (
              SELECT user_id AS k, valid_from AS t, 0 AS side, version AS tb,
                     NULL::BIGINT AS event_id,
                     state, valid_to, version
              FROM scd),
            u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
            m AS (
              SELECT *,
                last_value(CASE WHEN side = 0 THEN state END IGNORE NULLS)
                  OVER w AS m_state,
                last_value(CASE WHEN side = 0 THEN valid_to END IGNORE NULLS)
                  OVER w AS m_vt,
                last_value(CASE WHEN side = 0 THEN version END IGNORE NULLS)
                  OVER w AS m_version
              FROM u
              WINDOW w AS (PARTITION BY k ORDER BY t ASC, side ASC, tb ASC NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT event_id, k AS user_id, t AS ts,
              m_state AS state_at, m_version AS state_version,
              (m_state IS NOT NULL AND t < m_vt) AS in_history
            FROM m WHERE side = 1 ORDER BY event_id"""))

  // ---------------------------- purchase cadence & churn risk (q46)
  /** q46: per-user purchase cadence and at-risk banding — the retention
    * readout a growth team reads next to q30's cohort matrix: for every
    * purchasing user, how often do they buy (mean inter-purchase gap)
    * and how stale are they NOW relative to their own cadence. q41
    * measures time-to-FIRST-conversion; this is the steady-state
    * complement (time BETWEEN conversions, and time since the last one).
    *
    * Exactness: the mean of consecutive gaps telescopes — sum(gaps) =
    * last − first — so `avg_gap_us = (last_us − first_us) div (n−1)` is
    * one BIGINT integer division per user and needs NO lag window at
    * all. The banding compares idle time against the user's own cadence
    * division-free (idle·(n−1) vs span and 2·span, the s17/p15
    * cross-multiplication stance), in MILLIsecond units so the product
    * stays far from BIGINT overflow under ANSI mode (ms spans ≤ ~3·10¹⁰
    * for a millennium × counts ≤ 2³¹ < 2⁶³). Single-purchase users have
    * no cadence evidence and band as 'single' with a NULL gap.
    *
    * Scale shape: ONE filtered scan into a user-keyed aggregate (no
    * window, no self-join — min/max/count suffice by the telescoping
    * identity) plus a 1-row observation-horizon aggregate attached by
    * bounded crossJoin (q38's shape). Output is #purchasing-users rows;
    * linear in event volume, one shuffle. */
  /** q46's per-user state is EXACTLY mergeable — (count, min µs, max µs)
    * per user is an associative/commutative triple, which is why the
    * cadence view has a streaming maintenance twin
    * ([[graft.streaming.ViewStreams.maintainCadenceView]]). This is the
    * shared close: from (user_id, n_purchases, first_us, last_us,
    * now_us) state rows to the published cadence table — one column
    * expression set, so batch and maintained-view reads can never
    * drift. */
  def cadenceFromState(st: DataFrame): DataFrame =
    st.select(col("user_id"), col("n_purchases"),
        timestamp_micros(col("first_us")).as("first_purchase"),
        timestamp_micros(col("last_us")).as("last_purchase"),
        when(col("n_purchases") > 1,
          expr("(last_us - first_us) div (n_purchases - 1)")).as("avg_gap_us"),
        (col("now_us") - col("last_us")).as("idle_us"),
        when(col("n_purchases") === 1, lit("single"))
          .when(expr("((now_us - last_us) div 1000) * (n_purchases - 1)" +
            " <= ((last_us - first_us) div 1000)"), lit("active"))
          .when(expr("((now_us - last_us) div 1000) * (n_purchases - 1)" +
            " <= 2 * ((last_us - first_us) div 1000)"), lit("cooling"))
          .otherwise(lit("at_risk")).as("band"))

  def purchaseCadence(ev: DataFrame): DataFrame = {
      val perU = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_purchases"),
          min("us").as("first_us"), max("us").as("last_us"))
      val horizon = ev.agg(max(unix_micros(col("ts"))).as("now_us"))
      cadenceFromState(perU.crossJoin(horizon))
  }

  val q46 = Q(
    "q46_purchase_cadence",
    (s, d) => purchaseCadence(Tables.events(s, d)),
    Some("""WITH p AS (
              SELECT user_id, epoch_us(ts) AS us, ts FROM events
              WHERE event_type = 'purchase'),
            per_u AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
                min(us) AS first_us, max(us) AS last_us,
                min(ts) AS first_purchase, max(ts) AS last_purchase
              FROM p GROUP BY user_id),
            h AS (SELECT max(epoch_us(ts)) AS now_us FROM events)
            SELECT user_id, n_purchases, first_purchase, last_purchase,
              CASE WHEN n_purchases > 1 THEN
                CAST((last_us - first_us) // (n_purchases - 1) AS BIGINT)
              END AS avg_gap_us,
              now_us - last_us AS idle_us,
              CASE WHEN n_purchases = 1 THEN 'single'
                   WHEN ((now_us - last_us) // 1000) * (n_purchases - 1)
                        <= ((last_us - first_us) // 1000) THEN 'active'
                   WHEN ((now_us - last_us) // 1000) * (n_purchases - 1)
                        <= 2 * ((last_us - first_us) // 1000) THEN 'cooling'
                   ELSE 'at_risk' END AS band
            FROM per_u, h ORDER BY user_id"""))

  // ---------------------------- fulfillment latency bands (q47)
  /** q47: order-fulfillment latency bands — per order priority, the
    * distribution of order-date → ship-date lag across operational bands,
    * including the `pre_order` band (a line SHIPPED before its order was
    * placed — impossible latency, so it is a data-quality tripwire, the
    * temporal complement of q44's referential audit; this corpus has
    * such rows, which is exactly why the band exists rather than being
    * folded into `lt_30d`). q41 bands user-journey latency on the events
    * axis; this is the same read on the warehouse's fact-fact axis — the
    * "is priority actually honored" dashboard.
    *
    * Exactness: lag is an integer day difference (both engines cast to
    * DATE and subtract — no timezone arithmetic under the UTC session);
    * band cuts are integer compares; shares are round-6 of exact counts
    * with the per-priority total from a window over the ≤ priorities × 5
    * aggregate (bounded partitions — not a corpus window).
    *
    * Scale shape: THE canonical fact-fact shuffle join (lineitem ⋈
    * orders on orderkey, both sides projected to 2-3 columns before the
    * exchange, AQE free to pick sides), then one (priority, band)
    * aggregate with map-side partials. Output ≤ priorities × 5 rows at
    * any scale; linear in facts, one join shuffle + one agg shuffle. */
  /** q47's banding: enriched fulfillment facts (priority, o_orderdate,
    * l_shipdate) → (priority, band_id, n_items) counts. The associative
    * BIGINT partial state the streaming twin maintains — shared with the
    * batch query so stream ≡ batch is the same code
    * ([[graft.streaming.ViewStreams.maintainFulfillmentView]]). */
  def fulfillmentCounts(enriched: DataFrame): DataFrame =
    enriched
      .select(col("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).as("lag_days"))
      .select(col("priority"),
        when(col("lag_days") < 0, lit(0))
          .when(col("lag_days") < 30, lit(1))
          .when(col("lag_days") < 60, lit(2))
          .when(col("lag_days") < 90, lit(3))
          .otherwise(lit(4)).as("band_id"))
      .groupBy("priority", "band_id")
      .agg(count(lit(1)).as("n_items"))

  /** q47's close over a (priority, band_id, n_items) counts table —
    * band names + per-priority shares from a window over the ≤
    * priorities × 5 aggregate (bounded partitions). Shared by the batch
    * query and the maintained view's read path. */
  def fulfillmentFromCounts(counts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    counts
      .withColumn("n_priority",
        sum("n_items").over(Window.partitionBy("priority")))
      .select(col("priority"), col("band_id"),
        element_at(lit(Array("pre_order", "lt_30d", "30_60d", "60_90d",
          "ge_90d")), col("band_id") + 1).as("band"),
        col("n_items"),
        round(col("n_items").cast("double") /
          col("n_priority").cast("double"), 6).as("share"))
  }

  val q47 = Q(
    "q47_fulfillment_latency",
    (s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      fulfillmentFromCounts(fulfillmentCounts(
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderpriority").as("priority"),
            col("o_orderdate"), col("l_shipdate"))))
    },
    Some("""WITH j AS (
              SELECT o.o_orderpriority AS priority,
                date_diff('day', CAST(o.o_orderdate AS DATE),
                  CAST(l.l_shipdate AS DATE)) AS lag_days
              FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
            b AS (
              SELECT priority,
                CASE WHEN lag_days < 0 THEN 0
                     WHEN lag_days < 30 THEN 1
                     WHEN lag_days < 60 THEN 2
                     WHEN lag_days < 90 THEN 3
                     ELSE 4 END AS band_id
              FROM j),
            c AS (
              SELECT priority, band_id, CAST(count(*) AS BIGINT) AS n_items
              FROM b GROUP BY 1, 2)
            SELECT priority, band_id,
              ['pre_order', 'lt_30d', '30_60d', '60_90d', 'ge_90d'][band_id + 1]
                AS band,
              n_items,
              round(CAST(n_items AS DOUBLE)
                / CAST(sum(n_items) OVER (PARTITION BY priority) AS DOUBLE), 6)
                AS share
            FROM c ORDER BY priority, band_id"""))

  // ---------------------------- spend concentration (q48)
  /** q48: order-spend concentration per market segment — exact Gini
    * coefficient and top-decile spend share, the "how unequal is this
    * revenue" readout next to q34's RFM segmentation. The interesting
    * part is HOW: Gini needs every order's rank within its segment, and
    * a rank window PARTITIONED BY segment is still a corpus-scale
    * window (5 partitions of n/5 rows each — the one-reducer-per-key
    * shape the global-window ban exists to prevent, just sharded 5
    * ways). So ranks come from the t33/m09 TWO-PHASE range-partitioned
    * prefix scan over the (segment, cents, o_orderkey) total order with
    * m09's per-writer base subtraction — per-segment dense ranks at any
    * partition count, no window wider than a partition.
    *
    * Exactness: spend is quantized once to BIGINT cents (q43's
    * centi-unit move); ranks are exact longs; Σ(rank·cents) is summed
    * in DECIMAL(38,0) — rank·cents alone can pass 2⁶³ near ~10⁹ orders
    * per segment, and 38 digits cover n²·v̄ to ~10¹⁵ orders (DuckDB
    * mirrors in HUGEINT) — so G = (2·Σ(r·v) − (n+1)·Σv) / (n·Σv) and
    * the decile cut (rank > n − n div 10) are closed over exact
    * integers with ONE identically-written double expression each.
    *
    * Scale shape: one broadcast dim join (customer→segment), the
    * range-exchange prefix scan, one segment-keyed aggregate, one
    * broadcast of the ≤ #segments-row totals back over the ranked
    * stream for the decile sum, and a ≤ #segments join. Two passes over
    * the ranked stream, no self-join, no corpus-partition window. */
  val q48 = Q(
    "q48_spend_concentration",
    (s, d) => {
      val o = Tables.orders(s, d).select(col("o_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      val seg = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
      val rows = o.join(broadcast(seg), col("o_custkey") === col("c_custkey"))
        .select(col("segment"), col("cents"), col("o_orderkey"))
        .withColumn("one", lit(1L))
      val cum = TextOps.prefixSummedBy(rows,
        Seq("segment", "cents", "o_orderkey"), "one", "cum")
      // The per-segment tables below are ≤ #segments rows but derive from
      // a checkpoint scan (no stats), so the static planner would pick a
      // sort-merge join HASHED ON SEGMENT — ≤ #segments reducers for the
      // corpus-sized probe side, the sharded-hot-reducer shape. Hint the
      // broadcast (structural bound: grouped-by-segment aggregates,
      // plateauing cardinality). PlanAudit's corpus-side-broadcast gate
      // never sees this hint — the checkpoint breaks corpus lineage, so
      // the broadcast side is a LogicalRDD leaf, not a tracked table —
      // which is why there is no q48 allowlist entry; the structural
      // bound above is the justification the allowlist would carry.
      val base = cum.groupBy("segment").agg((min("cum") - 1L).as("base"))
      val ranked = cum.join(broadcast(base), "segment")
        .select(col("segment"), col("cents"), (col("cum") - col("base")).as("rnk"))
        .localCheckpoint()
      val a = ranked.groupBy("segment").agg(
        count(lit(1)).as("n_orders"),
        sum("cents").as("total_cents"),
        sum(col("rnk").cast("decimal(38,0)") * col("cents").cast("decimal(38,0)"))
          .as("srv"))
      val top = ranked
        .join(broadcast(a.select(col("segment"), col("n_orders"))), "segment")
        .groupBy("segment").agg(
          sum(when(expr("rnk > n_orders - (n_orders div 10)"), col("cents"))
            .otherwise(0L)).as("top_cents"))
      a.join(top, "segment")
        .select(col("segment"), col("n_orders"), col("total_cents"),
          round((lit(2.0) * col("srv").cast("double") -
            (col("n_orders").cast("double") + 1.0) * col("total_cents").cast("double")) /
            (col("n_orders").cast("double") * col("total_cents").cast("double")), 6)
            .as("gini"),
          round(col("top_cents").cast("double") / col("total_cents").cast("double"), 6)
            .as("top10_share"))
    },
    Some("""WITH o AS (
              SELECT c.c_mktsegment AS segment,
                CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
                o.o_orderkey
              FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
            r AS (
              SELECT segment, cents,
                CAST(row_number() OVER (PARTITION BY segment
                  ORDER BY cents, o_orderkey) AS BIGINT) AS rnk
              FROM o),
            a AS (
              SELECT segment, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(cents) AS BIGINT) AS total_cents,
                sum(rnk * cents) AS srv
              FROM r GROUP BY segment),
            t AS (
              SELECT r.segment,
                CAST(sum(CASE WHEN r.rnk > a.n_orders - a.n_orders // 10
                  THEN r.cents ELSE 0 END) AS BIGINT) AS top_cents
              FROM r JOIN a ON a.segment = r.segment GROUP BY r.segment)
            SELECT a.segment, a.n_orders, a.total_cents,
              round((2.0 * CAST(srv AS DOUBLE)
                  - (CAST(n_orders AS DOUBLE) + 1.0) * CAST(total_cents AS DOUBLE))
                / (CAST(n_orders AS DOUBLE) * CAST(total_cents AS DOUBLE)), 6)
                AS gini,
              round(CAST(top_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
                AS top10_share
            FROM a JOIN t ON t.segment = a.segment ORDER BY 1"""))

  // ---------------------------- purchase-gap bands (q49)
  /** q49: the DISTRIBUTION of inter-purchase gaps, banded — q46 reports
    * each user's MEAN cadence (one number per user); this is the
    * corpus-level companion a retention team actually plots: how many
    * consecutive-purchase gaps land under a day (bursty refills), within
    * the week, within the month, or beyond (churn-risk territory). Gaps
    * are per-user consecutive µs differences, banded on integer day
    * cuts, with exact counts and round-6 shares.
    *
    * Determinism: purchases are ordered (ts µs, event_id) within each
    * user, so equal-timestamp pairs band identically in both engines.
    *
    * Scale shape: one user-keyed lag window (partitioned — per-user
    * purchase history is the bounded axis, q12/q33's argument), a ≤4-row
    * band aggregate with map-side partials, and the 1-row total attach
    * (q41's bounded × 1 row crossJoin, allowlisted). Output ≤ 4 rows at
    * any scale. */
  val q49 = Q(
    "q49_purchase_gap_bands",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val us = lit(86400000000L) // µs per day
      val p = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val counts = p
        .withColumn("gap_us", col("us") - lag("us", 1).over(w))
        .filter(col("gap_us").isNotNull)
        .select(
          when(col("gap_us") < us, lit(0))
            .when(col("gap_us") < us * 7, lit(1))
            .when(col("gap_us") < us * 30, lit(2))
            .otherwise(lit(3)).as("band_id"))
        .groupBy("band_id").agg(count(lit(1)).as("n_gaps"))
      counts
        .crossJoin(counts.agg(sum("n_gaps").as("n_total")))
        .select(col("band_id"),
          element_at(lit(Array("lt_1d", "1_7d", "7_30d", "ge_30d")),
            col("band_id") + 1).as("band"),
          col("n_gaps"),
          round(col("n_gaps").cast("double") /
            col("n_total").cast("double"), 6).as("share"))
    },
    Some("""WITH p AS (
              SELECT user_id, epoch_us(ts) AS us, event_id
              FROM events WHERE event_type = 'purchase'),
            g AS (
              SELECT us - lag(us) OVER (
                PARTITION BY user_id ORDER BY us, event_id) AS gap_us
              FROM p),
            b AS (
              SELECT CASE WHEN gap_us < 86400000000 THEN 0
                          WHEN gap_us < 7 * 86400000000 THEN 1
                          WHEN gap_us < 30 * 86400000000 THEN 2
                          ELSE 3 END AS band_id
              FROM g WHERE gap_us IS NOT NULL),
            c AS (SELECT band_id, CAST(count(*) AS BIGINT) AS n_gaps
                  FROM b GROUP BY 1)
            SELECT band_id,
              ['lt_1d', '1_7d', '7_30d', 'ge_30d'][band_id + 1] AS band,
              n_gaps,
              round(CAST(n_gaps AS DOUBLE)
                / CAST((SELECT sum(n_gaps) FROM c) AS DOUBLE), 6) AS share
            FROM c ORDER BY band_id"""))

  val all: Seq[Q] =
    Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14, q15,
      q18, q19, q20, q21, q22, q25, q26, q27, q29, q30, q32, q33, q34, q36, q37,
      q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49)
}
