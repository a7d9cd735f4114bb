package graft
package ops

import graft.funcs._
import graft.ir.Expr.{Op => _, _}
import graft.model.Model
import Shared._

/** Semantic-layer queries: scans, filters, aggregates, joins,
  * windows, grouping sets, date grains, SQL text, retention, sessions,
  * match-steps and funnels (SURVEY.md §2). */
object RelationalOps {
  val ops: Seq[Op] = Seq(
    // --- TableNameSource scan + PickSource (SURVEY §2.1) ---
    Op("q_scan_pick", (s, dir) =>
      m(dir, "region").pick(col("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey")).run(s),
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    // --- FilterSource (σ) ---
    Op("q_filter", (s, dir) =>
      m(dir, "lineitem")
        .filter(col("l_quantity") > lit(45.0) && col("l_returnflag") === lit("R"))
        .pick(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .sort(col("l_orderkey")).sort(col("l_linenumber"))
        .run(s),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_quantity > 45.0 AND l_returnflag = 'R'
         ORDER BY l_orderkey, l_linenumber"""),

    // --- AggregateSource (γ): the TPC-H Q1 shape ---
    Op("q1_agg", (s, dir) =>
      m(dir, "lineitem")
        .aggregate(
          groups = Seq(col("l_returnflag"), col("l_linestatus")),
          measures = Seq(
            moneySum(col("l_quantity")).named("sum_qty"),
            moneySum(col("l_extendedprice")).named("sum_base_price"),
            exactAvg(col("l_discount")).named("avg_disc"),
            count().named("count_order")))
        .sort(col("l_returnflag")).sort(col("l_linestatus"))
        .run(s),
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
                CAST(sum(CAST(l_discount AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS avg_disc,
                count(*) AS count_order
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- global aggregate (zero groups) ---
    Op("q_agg_global", (s, dir) =>
      m(dir, "orders")
        .aggregate(measures = Seq(
          count().named("n"),
          moneySum(col("o_totalprice")).named("total"),
          max(col("o_orderdate")).named("last_order")))
        .run(s),
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total,
                max(o_orderdate) AS last_order
         FROM orders"""),

    // --- SortSource + LimitSource (offset) ---
    Op("q_sort_limit", (s, dir) =>
      m(dir, "customer")
        .sort(col("c_acctbal"), dir = "desc")
        .sort(col("c_custkey"))
        .limit(50, offset = 10)
        .pick(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .run(s),
      """SELECT c_custkey, c_name, c_acctbal FROM
         (SELECT * FROM customer ORDER BY c_acctbal DESC, c_custkey
          LIMIT 50 OFFSET 10) t"""),

    // --- UnionSource ---
    Op("q_union_all", (s, dir) => {
      val hi = m(dir, "part").filter(col("p_size") >= lit(48))
        .pick(col("p_partkey"), col("p_name"))
      val lo = m(dir, "part").filter(col("p_size") <= lit(2))
        .pick(col("p_partkey"), col("p_name"))
      hi.unionAll(lo).sort(col("p_partkey")).run(s)
    },
      """SELECT * FROM (
           SELECT p_partkey, p_name FROM part WHERE p_size >= 48
           UNION ALL
           SELECT p_partkey, p_name FROM part WHERE p_size <= 2
         ) t ORDER BY p_partkey"""),

    // --- GranularityColumnExpression (by_month; Sunday-based week too) ---
    Op("q_granularity", (s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(
            col("o_orderdate").byMonth.named("month"),
            col("o_orderdate").byWeek.named("week")),
          measures = Seq(count().named("n")))
        .sort(col("month")).sort(col("week"))
        .run(s),
      """SELECT date_trunc('month', o_orderdate) AS month,
                date_trunc('week', o_orderdate + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- week start as a compile setting (reference settings.py:5-10):
    // same query, Monday-start deployment (DuckDB weeks are natively
    // Monday-based, so the oracle is the plain date_trunc) ---
    Op("q_week_monday", (s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(col("o_orderdate").byWeek.named("week")),
          measures = Seq(count().named("n")))
        .sort(col("week"))
        .run(s, graft.compile.CompileSettings(weekStartDay = "monday")),
      """SELECT date_trunc('week', o_orderdate) AS week, count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // --- fine-grained granularities (hour/minute/second truncation) ---
    Op("q_granularity_fine", (s, dir) =>
      m(dir, "events")
        .filter(col("event_id") < lit(500L))
        .aggregate(
          groups = Seq(
            col("ts").byHour.named("hour"),
            col("ts").byMinute.named("minute"),
            col("ts").bySecond.named("second")),
          measures = Seq(count().named("n")))
        .sort(col("hour")).sort(col("minute")).sort(col("second"))
        .run(s),
      """SELECT date_trunc('hour', ts) AS hour,
                date_trunc('minute', ts) AS minute,
                date_trunc('second', ts) AS second,
                count(*) AS n
         FROM events WHERE event_id < 500
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),

    // --- explicit NULLS FIRST / NULLS LAST sort directions ---
    Op("q_sort_nulls", (s, dir) =>
      m(dir, "orders")
        .filter(col("o_orderkey") <= lit(200L))
        .pick(
          col("o_orderkey"),
          cases(Seq((col("o_orderstatus") === lit("P")) -> lit(null)),
            col("o_orderstatus")).named("status_or_null"))
        .sort(col("status_or_null"), dir = "desc", nulls = "first")
        .sort(col("o_orderkey"))
        .run(s),
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status_or_null
         FROM orders WHERE o_orderkey <= 200
         ORDER BY status_or_null DESC NULLS FIRST, o_orderkey"""),

    // --- JoinOneSource: lazy LEFT join through a named relation ---
    Op("q_join_one", (s, dir) => {
      val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
      val orders = m(dir, "orders")
        .withJoinOne(customer, named = "customer", foreignKey = col("o_custkey"))
      orders
        .aggregate(
          groups = Seq(orders.rel("customer").attr("c_mktsegment").named("segment")),
          measures = Seq(
            count().named("n_orders"),
            moneySum(col("o_totalprice")).named("revenue")))
        .sort(col("segment"))
        .run(s)
    },
      """SELECT c.c_mktsegment AS segment, count(*) AS n_orders,
                CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
         FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1 ORDER BY 1"""),

    // --- multi-hop join chain with dropUnmatched (INNER) + theta condition ---
    Op("q_join_chain", (s, dir) => joinChainModel(dir).run(s),
      """SELECT n.n_name AS nation_name, count(*) AS n
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         WHERE c.c_acctbal > 9990.0
         GROUP BY 1 ORDER BY 1"""),

    // --- wire-format DRIVER gating: the same nested join-chain model
    //     (joins + measures + filter + aggregate + sort) serialized to
    //     versioned JSON and REBUILT via WireFormat.toJson/fromJson, then
    //     run; the oracle is identical to q_join_chain's, so a lossy codec
    //     (a dropped join condition, a reordered attribute map) fails the
    //     driver hash — not just a unit spec ---
    Op("q_wire_roundtrip", (s, dir) =>
      graft.wire.WireFormat.fromJson(
        graft.wire.WireFormat.toJson(joinChainModel(dir))).run(s),
      Op.oracleOf("q_join_chain")),

    // --- SqlTextSource (raw-SQL scan) ---
    Op("q_sql_text", (s, dir) => {
      table(s, dir, "supplier").createOrReplaceTempView("supplier_v")
      Model.sqlQuery(
        "SELECT s_nationkey, s_acctbal FROM supplier_v WHERE s_acctbal > 5000")
        .aggregate(
          groups = Seq(col("s_nationkey")),
          measures = Seq(count().named("n"), moneySum(col("s_acctbal")).named("bal")))
        .sort(col("s_nationkey"))
        .run(s)
    },
      """SELECT s_nationkey, count(*) AS n,
                CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS bal
         FROM supplier WHERE s_acctbal > 5000
         GROUP BY 1 ORDER BY 1"""),

    // --- CasesColumnExpression ---
    Op("q_cases", (s, dir) =>
      m(dir, "customer")
        .aggregate(
          groups = Seq(cases(
            Seq(
              (col("c_acctbal") < lit(0.0)) -> lit("negative"),
              (col("c_acctbal") < lit(5000.0)) -> lit("low")),
            lit("high")).named("bal_bucket")),
          measures = Seq(count().named("n")))
        .sort(col("bal_bucket"))
        .run(s),
      """SELECT CASE WHEN c_acctbal < 0.0 THEN 'negative'
                     WHEN c_acctbal < 5000.0 THEN 'low'
                     ELSE 'high' END AS bal_bucket, count(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1"""),

    // --- named measure definitions referenced via msr() (model.py:265-279:
    //     measures are definitions only until an aggregate references them) ---
    // --- hierarchical subtotals: GROUP BY ROLLUP (single-shuffle Expand
    //     lowering; subtotal rows carry NULL in rolled-up columns) ---
    Op("q_rollup", (s, dir) =>
      m(dir, "lineitem")
        .rollup(
          groups = Seq(col("l_returnflag"), col("l_linestatus")),
          measures = Seq(moneySum(col("l_quantity")).named("sum_qty"),
            count().named("n")))
        .sort(col("l_returnflag"), nulls = "last")
        .sort(col("l_linestatus"), nulls = "last")
        .run(s),
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                count(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST"""),

    // --- all grouping combinations: GROUP BY CUBE ---
    Op("q_cube", (s, dir) =>
      m(dir, "orders")
        .cube(
          groups = Seq(col("o_orderstatus"), col("o_orderpriority")),
          measures = Seq(count().named("n"),
            moneySum(col("o_totalprice")).named("total")))
        .sort(col("o_orderstatus"), nulls = "last")
        .sort(col("o_orderpriority"), nulls = "last")
        .run(s),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY o_orderstatus NULLS LAST, o_orderpriority NULLS LAST"""),

    // --- arbitrary GROUPING SETS: a non-hierarchical set list a rollup
    //     can't express — (flag, status), (status), grand total ---
    Op("q_grouping_sets", (s, dir) =>
      m(dir, "lineitem")
        .groupingSets(
          groups = Seq(col("l_returnflag"), col("l_linestatus")),
          sets = Seq(Seq(0, 1), Seq(1), Seq.empty),
          measures = Seq(moneySum(col("l_quantity")).named("sum_qty"),
            count().named("n")))
        .sort(col("l_returnflag"), nulls = "last")
        .sort(col("l_linestatus"), nulls = "last")
        .run(s),
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
                count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
         ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST"""),

    // --- first-class semi/anti joins (EXISTS / NOT EXISTS semantics) ---
    Op("q_semi_join", (s, dir) =>
      m(dir, "customer")
        .semiJoin(m(dir, "orders"), on = Seq((col("c_custkey"), col("o_custkey"))))
        .aggregate(groups = Seq(col("c_mktsegment")),
          measures = Seq(count().named("n")))
        .sort(col("c_mktsegment"))
        .run(s),
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         GROUP BY 1 ORDER BY 1"""),

    Op("q_anti_join", (s, dir) =>
      // customers with NO urgent order (the right side is a filtered
      // model, so the anti set is non-empty at every scale factor)
      m(dir, "customer")
        .antiJoin(
          m(dir, "orders").filter(col("o_orderpriority") === lit("1-URGENT")),
          on = Seq((col("c_custkey"), col("o_custkey"))))
        .aggregate(groups = Seq(col("c_mktsegment")),
          measures = Seq(count().named("n")))
        .sort(col("c_mktsegment"))
        .run(s),
      """SELECT c_mktsegment, count(*) AS n FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
         GROUP BY 1 ORDER BY 1"""),

    // --- exact interpolated percentile / median measures (sort-based,
    //     deterministic; DuckDB quantile_cont replays the interpolation,
    //     6-dp rounding on both sides absorbs ulps) ---
    Op("q_percentile", (s, dir) =>
      m(dir, "lineitem")
        .aggregate(
          groups = Seq(col("l_returnflag")),
          measures = Seq(
            round(median(col("l_quantity")), 6).named("med_qty"),
            round(percentile(col("l_quantity"), 0.9), 6).named("p90_qty"),
            round(percentile(col("l_extendedprice"), 0.99), 6).named("p99_price"),
            count().named("n")))
        .sort(col("l_returnflag"))
        .run(s),
      """SELECT l_returnflag,
                round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
                round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
                round(quantile_cont(l_extendedprice, 0.99), 6) AS p99_price,
                count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    Op("q_measures", (s, dir) => {
      val orders = m(dir, "orders").withMeasures(
        moneySum(col("o_totalprice")).named("revenue"),
        countIf(col("o_orderstatus") === lit("F")).named("n_fulfilled"))
      orders.aggregate(
        groups = Seq(col("o_orderpriority")),
        measures = Seq(orders.msr("revenue"), orders.msr("n_fulfilled")))
        .sort(col("o_orderpriority"))
        .run(s)
    },
      """SELECT o_orderpriority,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_fulfilled
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // --- count_if / distinct / count(x) ---
    Op("q_count_if", (s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(col("o_orderpriority")),
          measures = Seq(
            countIf(col("o_orderstatus") === lit("F")).named("n_f"),
            countIf(col("o_totalprice") > lit(100000.0)).named("n_big"),
            countDistinct(col("o_custkey")).named("n_cust"),
            count(col("o_orderkey")).named("n")))
        .sort(col("o_orderpriority"))
        .run(s),
      """SELECT o_orderpriority,
                CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                CAST(sum(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
                count(DISTINCT o_custkey) AS n_cust,
                count(o_orderkey) AS n
         FROM orders GROUP BY 1 ORDER BY 1"""),

    // --- binary-op arithmetic incl. floorDiv (fixed reference gap) ---
    Op("q_arith", (s, dir) =>
      m(dir, "lineitem")
        .filter(col("l_orderkey") <= lit(100L))
        .pick(
          col("l_orderkey"),
          col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).named("net"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).named("gross"),
          (col("l_quantity") + lit(1.0)).named("qplus"),
          (col("l_partkey") floorDiv lit(100L)).named("bucket"),
          ceiling(col("l_quantity") / lit(7.0)).named("qceil"))
        .sort(col("l_orderkey")).sort(col("l_linenumber"))
        .run(s),
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS net,
                l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS gross,
                l_quantity + 1.0 AS qplus,
                CAST(floor(l_partkey / 100) AS BIGINT) AS bucket,
                CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qceil
         FROM lineitem WHERE l_orderkey <= 100
         ORDER BY l_orderkey, l_linenumber"""),

    // --- NULL-aware IN over literal values ---
    Op("q_in_values", (s, dir) =>
      m(dir, "orders")
        // nullif-style derived column so NULL handling is actually exercised
        .pick(
          col("o_orderkey"),
          cases(Seq((col("o_orderstatus") === lit("P")) -> lit(null)),
            col("o_orderstatus")).named("status_or_null"))
        .filter(ColRef("status_or_null").in(Seq("F", null)))
        .sort(col("o_orderkey"))
        .run(s),
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS status_or_null
         FROM orders
         WHERE o_orderstatus = 'F' OR o_orderstatus = 'P'
         ORDER BY o_orderkey"""),

    // --- IN (model subquery): top-3 brands by part count ---
    Op("q_in_model", (s, dir) => {
      val top = m(dir, "part")
        .aggregate(groups = Seq(col("p_brand")), measures = Seq(count().named("n")))
        .sort(col("n"), dir = "desc").sort(col("p_brand"))
        .limit(3)
      m(dir, "part")
        .filter(InModel(col("p_brand"), top, col("p_brand")))
        .aggregate(groups = Seq(col("p_brand")), measures = Seq(count().named("n")))
        .sort(col("p_brand"))
        .run(s)
    },
      """SELECT p_brand, count(*) AS n FROM part
         WHERE p_brand IN (
           SELECT p_brand FROM part GROUP BY 1
           ORDER BY count(*) DESC, p_brand LIMIT 3)
         GROUP BY 1 ORDER BY 1"""),

    // --- bucket_other (top-N breakout, literal list) ---
    Op("q_bucket_other", (s, dir) =>
      m(dir, "part")
        .aggregate(
          groups = Seq(
            bucketOther(col("p_brand"), Seq("Brand#11", "Brand#22", "Brand#33"))
              .named("brand_group")),
          measures = Seq(count().named("n"),
            moneySum(col("p_retailprice")).named("price_sum")))
        .sort(col("brand_group"))
        .run(s),
      """SELECT CASE WHEN p_brand IN ('Brand#11','Brand#22','Brand#33')
                     THEN p_brand ELSE 'Other' END AS brand_group,
                count(*) AS n,
                CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS price_sum
         FROM part GROUP BY 1 ORDER BY 1"""),

    // --- scalar subquery: orders above average price ---
    Op("q_scalar_subquery", (s, dir) => {
      val avgPrice = m(dir, "orders")
        .aggregate(measures = Seq(avg(col("o_totalprice")).named("a")))
      m(dir, "orders")
        .filter(col("o_totalprice") > scalar(avgPrice))
        .aggregate(measures = Seq(count().named("n"),
          min(col("o_totalprice")).named("min_price")))
        .run(s)
    },
      """SELECT count(*) AS n, min(o_totalprice) AS min_price
         FROM orders
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)"""),

    // --- EXISTS(model) ---
    Op("q_exists", (s, dir) => {
      val bigOrders = m(dir, "orders").filter(col("o_totalprice") > lit(400000.0))
      m(dir, "region")
        .filter(exists(bigOrders))
        .pick(col("r_regionkey"), col("r_name"))
        .sort(col("r_regionkey"))
        .run(s)
    },
      """SELECT r_regionkey, r_name FROM region
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_totalprice > 400000.0)
         ORDER BY r_regionkey"""),

    // --- LIKE / ILIKE / contains ---
    Op("q_like", (s, dir) =>
      m(dir, "part")
        .filter(col("p_type").like("%BRASS%") ||
          col("p_name").contains("green") ||
          col("p_brand").ilike("brand#4%"))
        .aggregate(measures = Seq(count().named("n")))
        .run(s),
      """SELECT count(*) AS n FROM part
         WHERE p_type LIKE '%BRASS%' OR p_name LIKE '%green%'
            OR p_brand ILIKE 'brand#4%'"""),

    // --- diff_seconds (Databricks recipe: unix_timestamp difference) ---
    Op("q_diff_seconds", (s, dir) =>
      m(dir, "events")
        .aggregate(
          groups = Seq(col("event_type")),
          measures = Seq(
            avg(diffSeconds(col("ts"), col("ts").byDay)).named("avg_secs_in_day"),
            count().named("n")))
        .sort(col("event_type"))
        .run(s),
      """SELECT event_type,
                avg(floor(epoch(ts)) - floor(epoch(date_trunc('day', ts)))) AS avg_secs_in_day,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY 1"""),

    // --- format_timestamp: python tokens incl. %Q quarter splice ---
    Op("q_format_ts", (s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(
            FormatTs(col("o_orderdate"), "%Y-%m").named("ym"),
            FormatTs(col("o_orderdate"), "Q%Q/%Y").named("quarter_label")),
          measures = Seq(count().named("n")))
        .sort(col("ym"))
        .run(s),
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym,
                'Q' || CAST(quarter(o_orderdate) AS VARCHAR) || '/' ||
                  strftime(o_orderdate, '%Y') AS quarter_label,
                count(*) AS n
         FROM orders GROUP BY 1, 2 ORDER BY 1"""),

    // --- temporal predicates (is_this_week etc.) with pinned now() ---
    Op("q_temporal_preds", (s, dir) => {
      val at = java.time.Instant.parse("2024-01-15T12:00:00Z")
      m(dir, "events")
        .aggregate(measures = Seq(
          countIf(isToday(col("ts"), at)).named("n_today"),
          countIf(isYesterday(col("ts"), at)).named("n_yesterday"),
          countIf(isThisWeek(col("ts"), at)).named("n_this_week"),
          countIf(isLastWeek(col("ts"), at)).named("n_last_week"),
          countIf(isThisMonth(col("ts"), at)).named("n_this_month"),
          countIf(isLastMonth(col("ts"), at)).named("n_last_month"),
          countIf(isThisQuarter(col("ts"), at)).named("n_this_quarter"),
          countIf(isLastQuarter(col("ts"), at)).named("n_last_quarter"),
          countIf(isThisYear(col("ts"), at)).named("n_this_year"),
          countIf(isLastYear(col("ts"), at)).named("n_last_year")))
        .run(s)
    },
      """SELECT
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END) AS BIGINT) AS n_today,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-14' AND ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END) AS BIGINT) AS n_yesterday,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-14' AND ts < TIMESTAMP '2024-01-21' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_week,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-07' AND ts < TIMESTAMP '2024-01-14' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_week,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_month,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2023-12-01' AND ts < TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_month,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-04-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_quarter,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2023-10-01' AND ts < TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_quarter,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_this_year,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '2023-01-01' AND ts < TIMESTAMP '2024-01-01' THEN 1 ELSE 0 END) AS BIGINT) AS n_last_year
         FROM events"""),

    // --- array contains on a computed array column ---
    Op("q_array_contains", (s, dir) =>
      m(dir, "documents")
        .filter(ArrContains(sql("split(text, ' ')"), lit("spark")))
        .aggregate(
          groups = Seq(col("lang")),
          measures = Seq(count().named("n")))
        .sort(col("lang"))
        .run(s),
      """SELECT lang, count(*) AS n FROM documents
         WHERE list_contains(regexp_split_to_array(text, ' '), 'spark')
         GROUP BY 1 ORDER BY 1"""),

    // --- interval arithmetic: shipdate within 90 days after order date ---
    Op("q_interval", (s, dir) => {
      val orders = m(dir, "orders").withPrimaryKey(col("o_orderkey"))
      val li = m(dir, "lineitem")
        .withJoinOne(orders, named = "ord", foreignKey = col("l_orderkey"))
      li.filter(col("l_shipdate") <=
          AddInterval(li.rel("ord").attr("o_orderdate"), interval(90, "day"), negate = false))
        .aggregate(measures = Seq(count().named("n")))
        .run(s)
    },
      """SELECT count(*) AS n
         FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
         WHERE l.l_shipdate <= o.o_orderdate + INTERVAL 90 DAY"""),

    // --- cast ---
    Op("q_cast", (s, dir) =>
      m(dir, "lineitem")
        .filter(col("l_orderkey") <= lit(500L))
        .pick(
          col("l_orderkey"),
          col("l_linenumber"),
          cast(col("l_quantity"), "bigint").named("qty_int"),
          cast(col("l_linenumber"), "double").named("ln_dbl"))
        .sort(col("l_orderkey")).sort(col("l_linenumber"))
        .run(s),
      """SELECT l_orderkey, l_linenumber,
                CAST(l_quantity AS BIGINT) AS qty_int,
                CAST(l_linenumber AS DOUBLE) AS ln_dbl
         FROM lineitem WHERE l_orderkey <= 500
         ORDER BY l_orderkey, l_linenumber"""),

    // --- per-group top-k via Source.RankLimit (WindowGroupLimit plan) ---
    Op("q_topk_group", (s, dir) =>
      m(dir, "orders")
        .topK(
          partitionBy = Seq(col("o_orderpriority")),
          orderBy = Seq(graft.ir.SortKey(col("o_totalprice"), asc = false),
            graft.ir.SortKey(col("o_orderkey"))),
          k = 2)
        .pick(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          col("rank"))
        .sort(col("o_orderpriority")).sort(col("rank"))
        .run(s),
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                    ORDER BY o_totalprice DESC, o_orderkey) AS rank
           FROM orders) t
         WHERE rank <= 2 ORDER BY o_orderpriority, rank"""),

    // --- windowed analytics: row_number + lag + running sum + moving avg
    //     over ONE shared window spec (single exchange + single sort;
    //     integer-cents running sum so both engines agree bit-for-bit) ---
    Op("q_window_calc", (s, dir) => {
      val cents = cast(floor(col("o_totalprice") * lit(100.0) + lit(0.5)), "bigint")
      m(dir, "orders")
        .filter(col("o_custkey") < lit(150L))
        .withWindow(
          partitionBy = Seq(col("o_custkey")),
          orderBy = Seq(graft.ir.SortKey(col("o_orderdate")),
            graft.ir.SortKey(col("o_orderkey"))),
          cols = Seq(
            graft.ir.Source.WinCol("order_seq", "row_number", None),
            graft.ir.Source.WinCol("prev_date", "lag", Some(col("o_orderdate"))),
            graft.ir.Source.WinCol("run_cents", "running_sum", Some(cents)),
            graft.ir.Source.WinCol("avg3_cents", "moving_avg", Some(cents),
              frame = 3)))
        .pick(col("o_orderkey"), col("o_custkey"), col("order_seq"),
          col("prev_date"), col("run_cents"),
          round(col("avg3_cents"), 6).named("avg3_cents"))
        .sort(col("o_orderkey"))
        .run(s)
    },
      """WITH base AS (
           SELECT o_orderkey, o_custkey, o_orderdate,
                  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
           FROM orders WHERE o_custkey < 150)
         SELECT o_orderkey, o_custkey,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS order_seq,
                lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS prev_date,
                CAST(sum(cents) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents,
                round(avg(cents) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3_cents
         FROM base ORDER BY o_orderkey"""),

    // --- rank-family window kinds. Two chained WindowCalc nodes on the
    //     SAME partition key: the first orders by a tie-HEAVY key (floor of
    //     value) so rank/dense_rank/percent_rank/cume_dist exercise real
    //     tie semantics; the second adds the unique tie-break so ntile is
    //     deterministic. Catalyst reuses the single hash(user_id) exchange
    //     across both sorts. ---
    Op("q_window_rank", (s, dir) => {
      import graft.ir.{SortKey, Source => S}
      m(dir, "events")
        .filter(col("user_id") < lit(40L))
        .withWindow(
          partitionBy = Seq(col("user_id")),
          orderBy = Seq(SortKey(floor(col("value")), asc = false)),
          cols = Seq(
            S.WinCol("rnk", "rank", None),
            S.WinCol("drnk", "dense_rank", None),
            S.WinCol("prnk_raw", "percent_rank", None),
            S.WinCol("cd_raw", "cume_dist", None)))
        .withWindow(
          partitionBy = Seq(col("user_id")),
          orderBy = Seq(SortKey(floor(col("value")), asc = false),
            SortKey(col("event_id"))),
          cols = Seq(
            S.WinCol("quartile", "ntile", None, frame = 4),
            S.WinCol("top_val", "first_value", Some(col("value"))),
            // last_value ignores NULLs: latest purchase-typed event so far
            S.WinCol("latest_purchase", "last_value",
              Some(cases(Seq((col("event_type") === lit("purchase"),
                col("event_type"))), lit(null))))))
        .pick(col("event_id"), col("user_id"), col("rnk"), col("drnk"),
          round(col("prnk_raw"), 6).named("prnk"),
          round(col("cd_raw"), 6).named("cd"),
          col("quartile"),
          round(col("top_val"), 6).named("top_val"),
          col("latest_purchase"))
        .sort(col("event_id"))
        .run(s)
    },
      """WITH base AS (
           SELECT event_id, user_id, event_type, value, floor(value) AS fv
           FROM events WHERE user_id < 40
         )
         SELECT event_id, user_id,
           rank() OVER (PARTITION BY user_id ORDER BY fv DESC) AS rnk,
           dense_rank() OVER (PARTITION BY user_id ORDER BY fv DESC) AS drnk,
           round(percent_rank() OVER (PARTITION BY user_id ORDER BY fv DESC), 6) AS prnk,
           round(cume_dist() OVER (PARTITION BY user_id ORDER BY fv DESC), 6) AS cd,
           ntile(4) OVER (PARTITION BY user_id ORDER BY fv DESC, event_id) AS quartile,
           round(first_value(value) OVER (PARTITION BY user_id ORDER BY fv DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS top_val,
           last_value(CASE WHEN event_type = 'purchase' THEN event_type END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY fv DESC, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS latest_purchase
         FROM base ORDER BY event_id"""),

    // --- as-of join: each purchase event picks up the customer's most
    //     recent order at that moment (tag-union + last-non-null window;
    //     one exchange on the key, no range-join explosion) ---
    Op("q_asof_join", (s, dir) =>
      m(dir, "events")
        .filter(col("event_type") === lit("purchase") && col("user_id") < lit(50L))
        .pick(col("event_id"), col("user_id"), col("ts"))
        .asofJoin(m(dir, "orders"),
          on = (col("user_id"), col("o_custkey")),
          ts = (col("ts"), col("o_orderdate")),
          pick = Seq(col("o_orderkey").named("last_order_key"),
            col("o_totalprice").named("last_order_price")),
          seq = col("o_orderkey"),
          // the left keys (user_id < 50) cover ~3% of the order history:
          // exactly the selective case the right-side prune exists for
          pruneRight = true)
        .sort(col("event_id"))
        .run(s),
      """SELECT e.event_id, e.user_id, e.ts,
              (SELECT o.o_orderkey FROM orders o
                WHERE o.o_custkey = e.user_id
                  AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                LIMIT 1) AS last_order_key,
              (SELECT o.o_totalprice FROM orders o
                WHERE o.o_custkey = e.user_id
                  AND CAST(o.o_orderdate AS TIMESTAMP) <= e.ts
                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                LIMIT 1) AS last_order_price
         FROM events e
         WHERE e.event_type = 'purchase' AND e.user_id < 50
         ORDER BY e.event_id"""),

    // --- bucketed interval/range join: every (click, purchase) pair
    //     where the click falls in the 2-hour window BEFORE the same
    //     user's purchase — attribution, the DISTRIBUTED form of a
    //     BETWEEN theta join (equi-join on (user, time-bucket) + exact
    //     filter, never a BNLJ/cartesian; see Source.RangeJoin). One
    //     output row PER PAIR (unlike asof's latest-only), so the
    //     oracle is the plain inequality join. ---
    Op("q_range_join", (s, dir) =>
      m(dir, "events")
        .filter(col("event_type") === lit("click"))
        .pick(col("event_id"), col("user_id"), col("ts"))
        .rangeJoin(
          m(dir, "events")
            .filter(col("event_type") === lit("purchase")),
          point = col("ts"),
          between = (
            AddInterval(col("ts"), interval(2, "hour"), negate = true),
            col("ts")),
          pick = Seq(col("event_id").named("purchase_event")),
          on = (col("user_id"), col("user_id")))
        .sort(col("event_id")).sort(col("purchase_event"))
        .run(s),
      """SELECT e.event_id, e.user_id, e.ts,
                p.event_id AS purchase_event
         FROM events e
         JOIN events p
           ON p.user_id = e.user_id
          AND e.ts >= p.ts - INTERVAL 2 HOUR
          AND e.ts <  p.ts
         WHERE e.event_type = 'click' AND p.event_type = 'purchase'
         ORDER BY e.event_id, purchase_event"""),

    // --- general scalar helpers (coalesce/abs/round/concat/substring/
    //     replace — beyond-reference convenience funcs) ---
    Op("q_scalar_funcs", (s, dir) =>
      m(dir, "customer")
        .pick(
          col("c_custkey"),
          coalesce(cases((col("c_acctbal") < lit(0.0)) -> col("c_mktsegment")),
            lit("none")).named("neg_seg"),
          abs(col("c_acctbal")).named("abs_bal"),
          round(col("c_acctbal") / lit(3.0), 6).named("bal_third"),
          concat(col("c_mktsegment"), lit("-"), substring(col("c_name"), 1, 8))
            .named("tag"),
          replace(col("c_mktsegment"), lit("MACHINERY"), lit("MACH")).named("seg"))
        .filter(col("c_custkey") <= lit(100))
        .sort(col("c_custkey"))
        .run(s),
      """SELECT c_custkey,
                coalesce(CASE WHEN c_acctbal < 0 THEN c_mktsegment END, 'none') AS neg_seg,
                abs(c_acctbal) AS abs_bal,
                round(c_acctbal / 3, 6) AS bal_third,
                (c_mktsegment || '-' || substring(c_name, 1, 8)) AS tag,
                replace(c_mktsegment, 'MACHINERY', 'MACH') AS seg
         FROM customer WHERE c_custkey <= 100 ORDER BY c_custkey"""),

    // --- fold (unpivot wide→long) + pivot (its inverse) ---
    // --- pivot: the inverse of fold, composed from the aggregate algebra.
    // l_quantity is integer-valued, so double sums are exact and
    // order-independent without the cents dance. ---
    Op("q_pivot", (s, dir) =>
      m(dir, "lineitem")
        .pivot(
          groups = Seq(col("l_linestatus")),
          keyCol = col("l_returnflag"),
          valueCol = col("l_quantity"),
          keys = Seq("A", "N", "R"))
        .sort(col("l_linestatus"))
        .run(s),
      """SELECT l_linestatus,
                sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
                sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
                sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
         FROM lineitem GROUP BY 1 ORDER BY 1"""),

    Op("q_fold", (s, dir) =>
      m(dir, "orders")
        .aggregate(
          groups = Seq(col("o_orderpriority")),
          measures = Seq(
            countIf(col("o_orderstatus") === lit("O")).named("n_open"),
            countIf(col("o_orderstatus") === lit("F")).named("n_fulfilled"),
            countIf(col("o_orderstatus") === lit("P")).named("n_pending")))
        .fold(
          ids = Seq(col("o_orderpriority")),
          values = Seq(col("n_open"), col("n_fulfilled"), col("n_pending")),
          keyName = "status", valueName = "n")
        .sort(col("o_orderpriority")).sort(col("status"))
        .run(s),
      """SELECT o_orderpriority, status, n FROM (
           SELECT o_orderpriority, 'n_open' AS status,
                  CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS n
           FROM orders GROUP BY 1
           UNION ALL
           SELECT o_orderpriority, 'n_fulfilled',
                  CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders GROUP BY 1
           UNION ALL
           SELECT o_orderpriority, 'n_pending',
                  CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT)
           FROM orders GROUP BY 1
         ) t ORDER BY o_orderpriority, status"""),

    // --- raw SQL fragment escape hatch (column(sql=...)) ---
    Op("q_raw_sql", (s, dir) =>
      m(dir, "customer")
        .aggregate(
          groups = Seq(sql("substring(c_name, 1, 9)").named("name_prefix")),
          measures = Seq(count().named("n")))
        .sort(col("name_prefix"))
        .limit(20)
        .run(s),
      """SELECT substring(c_name, 1, 9) AS name_prefix, count(*) AS n
         FROM customer GROUP BY 1 ORDER BY 1 LIMIT 20"""),

    // --- contains_any / contains_all (reference column_expression.py:602-622) ---
    Op("q_contains_any", (s, dir) =>
      m(dir, "part")
        .filter(col("p_name").containsAny(Seq("green", "blue")) &&
          col("p_type").containsAll(Seq("PLATED", "BRASS")))
        .aggregate(measures = Seq(count().named("n")))
        .run(s),
      """SELECT count(*) AS n FROM part
         WHERE (p_name LIKE '%green%' OR p_name LIKE '%blue%')
           AND (p_type LIKE '%PLATED%' AND p_type LIKE '%BRASS%')"""),

    // --- distinct(x) in pick context → SELECT DISTINCT ---
    Op("q_distinct_pick", (s, dir) =>
      m(dir, "orders")
        .pick(distinct(col("o_orderpriority")))
        .sort(col("o_orderpriority"))
        .run(s),
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1"),

    // --- {{ name }} substitution in raw SQL fragments (sql_text.py:38-158),
    //     incl. a nested fragment-in-fragment reference ---
    Op("q_sql_template", (s, dir) =>
      m(dir, "orders")
        .withAttributes(
          (col("o_totalprice") * (lit(1.0) - lit(0.1))).named("net"),
          sql("{{ net }} * 2").named("double_net"))
        .filter(sql("{{ double_net }} > 500000"))
        .aggregate(measures = Seq(count().named("n"),
          moneySum(col("o_totalprice")).named("total")))
        .run(s),
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
         FROM orders
         WHERE (o_totalprice * (1.0 - 0.1)) * 2 > 500000"""),

    // --- `self.`-qualified references in raw fragments (sql_text.py:
    //     124-155 re-points `self` at the current query layer) ---
    Op("q_sql_self", (s, dir) =>
      m(dir, "orders")
        .filter(sql(
          "self.o_totalprice * 2 > 500000 AND self.o_orderpriority = '1-URGENT'"))
        .aggregate(measures = Seq(count().named("n"),
          moneySum(col("o_totalprice")).named("total")))
        .run(s),
      """SELECT count(*) AS n,
                CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
         FROM orders
         WHERE o_totalprice * 2 > 500000 AND o_orderpriority = '1-URGENT'"""),

    // --- nested join namespace: orders → customer → nation without
    //     pre-materializing the inner join ---
    Op("q_join_nested", (s, dir) => {
      val nation = m(dir, "nation").withPrimaryKey(col("n_nationkey"))
      val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
        .withJoinOne(nation, named = "nation", foreignKey = col("c_nationkey"))
      val orders = m(dir, "orders")
        .withJoinOne(customer, named = "cust", foreignKey = col("o_custkey"))
      orders
        .aggregate(
          groups = Seq(orders.rel("cust").rel("nation").attr("n_name").named("nation_name")),
          measures = Seq(count().named("n")))
        .sort(col("nation_name"))
        .run(s)
    },
      """SELECT n.n_name AS nation_name, count(*) AS n
         FROM orders o
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey
         LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1 ORDER BY 1"""),

    // --- segments pattern: distinct-group segment + semi-join filter +
    //     double aggregate (docs/pattern_guides/segments.md LTV) ---
    Op("q_segment_ltv", (s, dir) => {
      val loyal = m(dir, "orders")
        .filter(col("o_orderpriority") === lit("1-URGENT"))
        .aggregate(groups = Seq(distinct(col("o_custkey")).named("loyal_key")))
      val orders = m(dir, "orders")
        .withJoinOne(loyal, named = "loyal",
          condition = col("o_custkey") === ColRef("loyal_key", Some("loyal")))
      orders
        .filter(ColRef("loyal_key", Some("loyal")) =!= Lit(null))
        .aggregate(
          groups = Seq(col("o_custkey")),
          measures = Seq(moneySum(col("o_totalprice")).named("total")))
        .aggregate(measures = Seq(
          (cast(sum(cast(col("total"), "decimal(18,6)")), "double") / count())
            .named("ltv"),
          count().named("n_customers")))
        .run(s)
    },
      """SELECT CAST(sum(CAST(total AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS ltv,
                count(*) AS n_customers
         FROM (
           SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
           FROM orders
           WHERE o_custkey IN (
             SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
           GROUP BY 1) t"""),

    // --- timeframes pattern: weekly aggregate self-joined on prev_week for
    //     week-over-week comparison (docs/pattern_guides/timeframes.md) ---
    Op("q_timeframe_compare", (s, dir) => {
      val weekly = m(dir, "orders")
        .aggregate(
          groups = Seq(
            col("o_orderdate").byWeek.named("week"),
            AddInterval(col("o_orderdate").byWeek, interval(7, "day"),
              negate = true).named("prev_week")),
          measures = Seq(moneySum(col("o_totalprice")).named("revenue")))
        .withPrimaryKey(col("week"))
      val joined = weekly.withJoinOne(weekly, named = "prev",
        foreignKey = col("prev_week"))
      joined
        .pick(
          col("week"),
          col("revenue").named("this_week"),
          joined.rel("prev").attr("revenue").named("last_week"),
          (col("revenue") - joined.rel("prev").attr("revenue")).named("wow_change"))
        .sort(col("week"))
        .run(s)
    },
      """WITH weekly AS (
           SELECT date_trunc('week', o_orderdate + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                  date_trunc('week', o_orderdate + INTERVAL 1 DAY) - INTERVAL 1 DAY - INTERVAL 7 DAY AS prev_week,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
           FROM orders GROUP BY 1, 2)
         SELECT a.week, a.revenue AS this_week, b.revenue AS last_week,
                a.revenue - b.revenue AS wow_change
         FROM weekly a LEFT JOIN weekly b ON a.prev_week = b.week
         ORDER BY a.week"""),

    // =============== event analytics (match_steps family) ===============

    // --- match_steps: per-user greedy step timestamps + last matched step ---
    // --- weekly retention cohorts, composed ENTIRELY through the public
    //     Model API (joinOne onto an aggregated cohort model + granularity
    //     + count-distinct): the classic product-analytics matrix ---
    Op("q_retention", (s, dir) => {
      val cohorts = m(dir, "events")
        .aggregate(
          groups = Seq(col("user_id")),
          measures = Seq(min(col("ts").byWeek).named("cohort_week")))
        .withPrimaryKey(col("user_id"))
      val ev = m(dir, "events")
        .withJoinOne(cohorts, named = "cohort", foreignKey = col("user_id"),
          dropUnmatched = true)
      ev.aggregate(
          groups = Seq(
            ev.rel("cohort").attr("cohort_week").named("cohort_week"),
            floor(diffSeconds(col("ts").byWeek,
              ev.rel("cohort").attr("cohort_week")) / lit(604800))
              .named("week_offset")),
          measures = Seq(countDistinct(col("user_id")).named("active_users")))
        .sort(col("cohort_week")).sort(col("week_offset"))
        .run(s)
    },
      """WITH cohorts AS (
           SELECT user_id,
                  min(date_trunc('week', ts + INTERVAL 1 DAY) - INTERVAL 1 DAY) AS cohort_week
           FROM events GROUP BY 1)
         SELECT c.cohort_week,
                CAST(floor(date_diff('second', c.cohort_week,
                    date_trunc('week', e.ts + INTERVAL 1 DAY) - INTERVAL 1 DAY)
                  / 604800) AS BIGINT) AS week_offset,
                count(DISTINCT e.user_id) AS active_users
         FROM events e JOIN cohorts c ON e.user_id = c.user_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- gap-based sessionization over the activity schema ---
    Op("q_sessionize", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .sessionize(gapSeconds = 1800)
        .sort(col("user_id")).sort(col("session_start"))
        .run(s),
      """WITH flags AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                       THEN ts END AS bnd
           FROM events WHERE ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sess AS (
           SELECT user_id, ts,
                  max(bnd) OVER (PARTITION BY user_id ORDER BY ts) AS session_start
           FROM flags)
         SELECT user_id, session_start, count(*) AS n_events, max(ts) AS session_end
         FROM sess GROUP BY 1, 2 ORDER BY 1, 2"""),

    // --- sessionize composes with the relational layers (weekly rollup) ---
    Op("q_sessions_weekly", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .sessionize(gapSeconds = 1800)
        .aggregate(
          groups = Seq(col("session_start").byWeek.named("week")),
          measures = Seq(count().named("n_sessions"),
            // integer sum / count: exact and order-independent
            (cast(sum(col("n_events")), "double") / count())
              .named("avg_events")))
        .sort(col("week"))
        .run(s),
      """WITH flags AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                            OR ts > lag(ts) OVER w + INTERVAL 1800 SECOND
                       THEN ts END AS bnd
           FROM events WHERE ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sess AS (
           SELECT user_id, ts,
                  max(bnd) OVER (PARTITION BY user_id ORDER BY ts) AS session_start
           FROM flags
         ), sessions AS (
           SELECT user_id, session_start, count(*) AS n_events
           FROM sess GROUP BY 1, 2)
         SELECT date_trunc('week', session_start + INTERVAL 1 DAY) - INTERVAL 1 DAY AS week,
                count(*) AS n_sessions,
                CAST(sum(n_events) AS DOUBLE) / count(*) AS avg_events
         FROM sessions GROUP BY 1 ORDER BY 1"""),

    Op("q_match_steps", (s, dir) => {
      val matched = m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .matchSteps(Seq[graft.model.StepSpec]("view", "click", "purchase"))
      matched.pick(
        col("user_id"),
        matched.rel("view").attr("ts").named("view_ts"),
        matched.rel("click").attr("ts").named("click_ts"),
        matched.rel("purchase").attr("ts").named("purchase_ts"),
        matched.attr("last_matched_step_name"),
        matched.attr("last_matched_step_index"))
        .sort(col("user_id"))
        .run(s)
    },
      (FunnelCtes +
      """SELECT u.user_id, s0.t0 AS view_ts, s1.t1 AS click_ts, s2.t2 AS purchase_ts,
           CASE WHEN s2.t2 IS NOT NULL THEN 'purchase'
                WHEN s1.t1 IS NOT NULL THEN 'click'
                WHEN s0.t0 IS NOT NULL THEN 'view' END AS last_matched_step_name,
           CAST(CASE WHEN s2.t2 IS NOT NULL THEN 2
                WHEN s1.t1 IS NOT NULL THEN 1
                WHEN s0.t0 IS NOT NULL THEN 0 END AS BIGINT) AS last_matched_step_index
         FROM (SELECT DISTINCT user_id FROM events) u
         LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
         LEFT JOIN s2 USING (user_id)
         ORDER BY user_id""")),

    // --- the user-visible per-step event indices (reference
    //     match_steps.py:120-133): each matched event's 1-based position
    //     in its group's time-ordered event sequence. v3 pins the
    //     deterministic refinement of the reference's tie-arbitrary
    //     row_number: count of strictly-earlier events + 1, so
    //     same-instant ties collapse to the first slot (FunnelSpec) and
    //     the oracle can replay the exact values ---
    Op("q_match_steps_index", (s, dir) => {
      val matched = m(dir, "events")
        .withActivitySchema(group = col("user_id"), timestamp = col("ts"),
          eventKey = col("event_type"))
        .matchSteps(Seq[graft.model.StepSpec]("view", "click", "purchase"))
      matched.pick(
        col("user_id"),
        col("step_0_event_index").named("view_index"),
        col("step_1_event_index").named("click_index"),
        col("step_2_event_index").named("purchase_index"))
        .sort(col("user_id"))
        .run(s)
    },
      // Replays the pinned index semantics exactly: matched index = count
      // of the group's events STRICTLY before the matched instant, + 1
      // (ties collapse to the first slot — deterministic, unlike a bare
      // row_number over an arbitrary tie order).
      (FunnelCtes +
      """, idx AS (
           SELECT u.user_id, s0.t0, s1.t1, s2.t2
           FROM (SELECT DISTINCT user_id FROM events) u
           LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
           LEFT JOIN s2 USING (user_id))
         SELECT i.user_id,
           CAST(CASE WHEN i.t0 IS NOT NULL
                THEN 1 + count(CASE WHEN e.ts < i.t0 THEN 1 END) END AS BIGINT)
             AS view_index,
           CAST(CASE WHEN i.t1 IS NOT NULL
                THEN 1 + count(CASE WHEN e.ts < i.t1 THEN 1 END) END AS BIGINT)
             AS click_index,
           CAST(CASE WHEN i.t2 IS NOT NULL
                THEN 1 + count(CASE WHEN e.ts < i.t2 THEN 1 END) END AS BIGINT)
             AS purchase_index
         FROM idx i LEFT JOIN events e ON e.user_id = i.user_id
         GROUP BY i.user_id, i.t0, i.t1, i.t2
         ORDER BY i.user_id""")),

    // --- the STREAMING chain matcher in batch/backfill mode: update-mode
    //     emission over full history = one row per group whose chain
    //     matched step 0 — oracle-checkable because the frontier state
    //     machine is deterministic for any processing order ---
    Op("q_stream_chain", (s, dir) =>
      m(dir, "events")
        .native(df => graft.streaming.Streams.streamingMatchSteps(
          df, "user_id", "ts", "event_type", Seq("view", "click", "purchase")))
        .sort(col("group"))
        .run(s),
      // One row per group that matched step 0 (the streaming operator's
      // update-mode emission over full history); group key is the string
      // form, the price of the schema-generic streaming operator.
      (FunnelCtes +
      """SELECT CAST(s0.user_id AS VARCHAR) AS "group",
                s0.t0 AS view_ts, s1.t1 AS click_ts, s2.t2 AS purchase_ts
         FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
         ORDER BY 1""")),

    // --- funnel (top_of_funnel as named total row) ---
    Op("q_funnel", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          topOfFunnel = "users")
        .run(s),
      (FunnelCtes +
      """SELECT step, entities FROM (
           SELECT 'users' AS step, count(DISTINCT user_id) AS entities, 0 AS si FROM events
           UNION ALL SELECT 'view', (SELECT count(*) FROM s0), 1
           UNION ALL SELECT 'click', (SELECT count(*) FROM s1), 2
           UNION ALL SELECT 'purchase', (SELECT count(*) FROM s2), 3
         ) t ORDER BY si""")),

    // --- funnel with time limit ---
    Op("q_funnel_time_limit", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          timeLimit = interval(7, "day"), topOfFunnel = "users")
        .run(s),
      (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, s0.t0,
                  CASE WHEN epoch(s1.t1) - epoch(s0.t0) < 604800 THEN s1.t1 END AS t1,
                  CASE WHEN epoch(s2.t2) - epoch(s0.t0) < 604800 THEN s2.t2 END AS t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT step, entities FROM (
           SELECT 'users' AS step, count(DISTINCT user_id) AS entities, 0 AS si FROM events
           UNION ALL SELECT 'view', (SELECT count(t0) FROM j), 1
           UNION ALL SELECT 'click', (SELECT count(t1) FROM j), 2
           UNION ALL SELECT 'purchase', (SELECT count(t2) FROM j), 3
         ) t ORDER BY si""")),

    // --- funnel partitioned by start-event month ---
    Op("q_funnel_partition", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionStartEvents = Seq(col("ts").byMonth.named("month")))
        .run(s),
      """WITH p0 AS (
           SELECT user_id, date_trunc('month', ts) AS month, min(ts) AS t0
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         c1 AS (
           SELECT p0.user_id, p0.month, min(e.ts) AS t1
           FROM events e JOIN p0 ON e.user_id = p0.user_id AND e.ts > p0.t0
           WHERE e.event_type = 'click' GROUP BY 1, 2),
         c2 AS (
           SELECT c1.user_id, c1.month, min(e.ts) AS t2
           FROM events e JOIN c1 ON e.user_id = c1.user_id AND e.ts > c1.t1
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         sel AS (
           SELECT p0.month, p0.t0, c1.t1, c2.t2
           FROM p0 LEFT JOIN c1 USING (user_id, month)
                   LEFT JOIN c2 USING (user_id, month))
         SELECT month, step, entities FROM (
           SELECT month, 'view' AS step, count(t0) AS entities, 0 AS si FROM sel GROUP BY 1
           UNION ALL SELECT month, 'click', count(t1), 1 FROM sel GROUP BY 1
           UNION ALL SELECT month, 'purchase', count(t2), 2 FROM sel GROUP BY 1
         ) t ORDER BY month, si"""),

    // --- partitions AND time limit together: per-partition anchors pin
    //     each replica's chain start, the calendar cutoff then nulls late
    //     steps per (group, partition) — the combined codepath of the
    //     round-8 greedy_chain lowering ---
    Op("q_funnel_partition_limit", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionStartEvents = Seq(col("ts").byMonth.named("month")),
          timeLimit = interval(7, "day"))
        .run(s),
      // Greedy chain assembled WITHOUT the limit (the reference's documented
      // pessimism), then each later step nulled independently when at or
      // beyond anchor + 7 days — per (user, month) anchor.
      """WITH p0 AS (
           SELECT user_id, date_trunc('month', ts) AS month, min(ts) AS t0
           FROM events WHERE event_type = 'view' GROUP BY 1, 2),
         c1 AS (
           SELECT p0.user_id, p0.month, min(e.ts) AS t1
           FROM events e JOIN p0 ON e.user_id = p0.user_id AND e.ts > p0.t0
           WHERE e.event_type = 'click' GROUP BY 1, 2),
         c2 AS (
           SELECT c1.user_id, c1.month, min(e.ts) AS t2
           FROM events e JOIN c1 ON e.user_id = c1.user_id AND e.ts > c1.t1
           WHERE e.event_type = 'purchase' GROUP BY 1, 2),
         sel AS (
           SELECT p0.month, p0.t0,
                  CASE WHEN c1.t1 < p0.t0 + INTERVAL 7 DAY THEN c1.t1 END AS t1,
                  CASE WHEN c2.t2 < p0.t0 + INTERVAL 7 DAY THEN c2.t2 END AS t2
           FROM p0 LEFT JOIN c1 USING (user_id, month)
                   LEFT JOIN c2 USING (user_id, month))
         SELECT month, step, entities FROM (
           SELECT month, 'view' AS step, count(t0) AS entities, 0 AS si FROM sel GROUP BY 1
           UNION ALL SELECT month, 'click', count(t1), 1 FROM sel GROUP BY 1
           UNION ALL SELECT month, 'purchase', count(t2), 2 FROM sel GROUP BY 1
         ) t ORDER BY month, si"""),

    // --- funnel grouped by partition_matches (cohort attribute of the
    //     matched model — reference model.py:548,689-692) ---
    Op("q_funnel_cohort", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionMatches = Seq((col("user_id") floorDiv lit(50L)).named("cohort")))
        .run(s),
      (FunnelCtes +
      """, j AS (
           SELECT u.user_id, CAST(u.user_id // 50 AS BIGINT) AS cohort,
                  s0.t0, s1.t1, s2.t2
           FROM (SELECT DISTINCT user_id FROM events) u
           LEFT JOIN s0 USING (user_id) LEFT JOIN s1 USING (user_id)
           LEFT JOIN s2 USING (user_id))
         SELECT cohort, step, entities FROM (
           SELECT cohort, 'view' AS step, count(t0) AS entities, 0 AS si FROM j GROUP BY 1
           UNION ALL SELECT cohort, 'click', count(t1), 1 FROM j GROUP BY 1
           UNION ALL SELECT cohort, 'purchase', count(t2), 2 FROM j GROUP BY 1
         ) t ORDER BY cohort, si""")),

    // --- funnel_conversion_rate ---
    Op("q_funnel_rate", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnelConversionRate(Seq[graft.model.StepSpec]("view", "click", "purchase"))
        .run(s),
      (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, s0.t0, s1.t1, s2.t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT count(t2) / count(t0) AS rate,
                count(t0) AS startedCount,
                count(t2) AS convertedCount,
                avg(floor(epoch(t2)) - floor(epoch(t0))) AS avgSecondsToConvert
         FROM j""")),

    // --- conversion rate per cohort (partition_matches) ---
    Op("q_funnel_rate_cohort", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnelConversionRate(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          partitionMatches = Seq((col("user_id") floorDiv lit(50L)).named("cohort")))
        .run(s),
      (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, CAST(s0.user_id // 50 AS BIGINT) AS cohort,
                  s0.t0, s1.t1, s2.t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT cohort,
                count(t2) / count(t0) AS rate,
                count(t0) AS startedCount,
                count(t2) AS convertedCount,
                avg(floor(epoch(t2)) - floor(epoch(t0))) AS avgSecondsToConvert
         FROM j GROUP BY 1 ORDER BY 1""")),

    // --- funnel with calendar-unit time limit (cutoff = step0 + INTERVAL
    //     1 MONTH, calendar-aware — not 30-day seconds) ---
    Op("q_funnel_time_limit_month", (s, dir) =>
      m(dir, "events")
        .withActivitySchema(col("user_id"), col("ts"), col("event_type"))
        .funnel(Seq[graft.model.StepSpec]("view", "click", "purchase"),
          timeLimit = interval(1, "month"), topOfFunnel = "users")
        .run(s),
      (FunnelCtes +
      """, j AS (
           SELECT s0.user_id, s0.t0,
                  CASE WHEN s1.t1 < s0.t0 + INTERVAL 1 MONTH THEN s1.t1 END AS t1,
                  CASE WHEN s2.t2 < s0.t0 + INTERVAL 1 MONTH THEN s2.t2 END AS t2
           FROM s0 LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id))
         SELECT step, entities FROM (
           SELECT 'users' AS step, count(DISTINCT user_id) AS entities, 0 AS si FROM events
           UNION ALL SELECT 'view', (SELECT count(t0) FROM j), 1
           UNION ALL SELECT 'click', (SELECT count(t1) FROM j), 2
           UNION ALL SELECT 'purchase', (SELECT count(t2) FROM j), 3
         ) t ORDER BY si""")),

    // --- JSON field extraction through the Model API (funcs.jsonGet).
    //     The field is extracted ONCE in a pick below the aggregate:
    //     Spark does not CSE get_json_object across aggregate functions,
    //     so inlining jsonGet into sum+avg+max re-parses the JSON blob
    //     three times per row (a measured 2× cost on this query). Hoist
    //     the parse, aggregate the extracted value. ---
    Op("q_json_props", (s, dir) =>
      m(dir, "events")
        .pick(col("event_type"),
          cast(jsonGet(col("props"), "$.k"), "bigint").named("k_val"))
        .aggregate(
          groups = Seq(col("event_type")),
          measures = Seq(
            count().named("n"),
            sum(col("k_val")).named("sum_k"),
            round(cast(sum(col("k_val")), "double") / count(), 6).named("avg_k"),
            max(col("k_val")).named("max_k")))
        .sort(col("event_type"))
        .run(s),
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           round(CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
                 / count(*), 6) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
         FROM events GROUP BY 1 ORDER BY 1"""),
  )

  /** q_join_chain's model: orders → customer (with its nation's name) on
    * rich customers, counted per nation. q_wire_roundtrip runs the same
    * model after a wire-format round trip. */
  private def joinChainModel(dir: String): Model = {
    val nation = m(dir, "nation").withPrimaryKey(col("n_nationkey"))
    val customer = m(dir, "customer").withPrimaryKey(col("c_custkey"))
      .withJoinOne(nation, named = "nation", foreignKey = col("c_nationkey"))
    val cWithNation = customer.pick(
      col("c_custkey"), col("c_acctbal"),
      customer.rel("nation").attr("n_name").named("nation_name"))
      .withPrimaryKey(col("c_custkey"))
    val orders = m(dir, "orders")
      .withJoinOne(cWithNation, named = "cust", foreignKey = col("o_custkey"),
        dropUnmatched = true)
    orders
      .filter(orders.rel("cust").attr("c_acctbal") > lit(9990.0))
      .aggregate(
        groups = Seq(orders.rel("cust").attr("nation_name").named("nation_name")),
        measures = Seq(count().named("n")))
      .sort(col("nation_name"))
  }

  /** Order-independent mean: exact decimal sum divided by count, identical
    * on the oracle side as CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE)/count(*). */
  private def exactAvg(e: graft.ir.Expr): graft.ir.Expr =
    cast(sum(cast(e, "decimal(18,9)")), "double") / count()

  /** Shared greedy first-after step CTEs for the events funnel oracles:
    * step k = first matching event strictly after step k-1's match
    * ((user_id, ts) is unique in the events table, so ts-ordering equals
    * event-index ordering). */
  private val FunnelCtes: String =
    """WITH s0 AS (
         SELECT user_id, min(ts) AS t0 FROM events
         WHERE event_type = 'view' GROUP BY 1),
       s1 AS (
         SELECT e.user_id, min(e.ts) AS t1
         FROM events e JOIN s0 ON e.user_id = s0.user_id AND e.ts > s0.t0
         WHERE e.event_type = 'click' GROUP BY 1),
       s2 AS (
         SELECT e.user_id, min(e.ts) AS t2
         FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
         WHERE e.event_type = 'purchase' GROUP BY 1)
    """
}
