package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Percentiles
import Fixtures._

/** Relational gates (`q*`): the TPC-H queries and the SQL surface over
  * lineitem/orders/customer and events (joins, windows, grouping sets,
  * as-of joins, sessions, cohorts, quantiles).
  */
object RelationalGates {

  def gates: Seq[Gate] = Seq(

    Gate("q1_pricing_summary", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg("l_quantity").as("avg_qty"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Gate("q3_shipping_priority", { (s, dir) =>
      val c = tbl(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = tbl(s, dir, "orders").where(col("o_orderdate") < lit("1998-01-01"))
      val l = tbl(s, dir, "lineitem").where(col("l_shipdate") > lit("1998-01-01"))
      broadcast(c).join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    Gate("q5_local_supplier", { (s, dir) =>
      val r = tbl(s, dir, "region").where(col("r_name") === "ASIA")
      val joined = broadcast(r)
        .join(tbl(s, dir, "nation"), col("r_regionkey") === col("n_regionkey"))
        .join(tbl(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"))
        .join(tbl(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(tbl(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
      joined.where(col("o_orderdate") < lit("1999-01-01"))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy("n_name")
    },
      """SELECT n_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey
        |  AND n_nationkey = c_nationkey AND c_custkey = o_custkey
        |  AND o_orderkey = l_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin),

    Gate("q_pareto_front", { (s, dir) =>
      // 2-D Pareto frontier (skyline): maximize p_size, minimize price.
      // Scale-correct two-level shape — min price per size is a parallel
      // groupBy, the running strictly-better min is a window over the
      // DISTINCT-size table only (dimension-scale, never a global per-row
      // window), broadcast back to the fact rows. A part survives iff it
      // holds its size's min price and no strictly larger size is
      // cheaper-or-equal. Comparisons only on the raw double — no float
      // arithmetic lane needed.
      val parts = tbl(s, dir, "part")
      val bySize = parts.groupBy("p_size")
        .agg(min("p_retailprice").as("mn"))
      val run = bySize.withColumn("mn_gt",
        min("mn").over(Window.orderBy(col("p_size").desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      parts.join(broadcast(run), Seq("p_size"))
        .where(col("p_retailprice") === col("mn") &&
          (col("mn_gt").isNull || col("mn_gt") > col("p_retailprice")))
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        .orderBy(desc("p_size"), col("p_partkey"))
    },
      // skyline membership is comparison-only on the raw doubles; the
      // running min walks the distinct-size table exactly as Spark does
      """WITH s AS (SELECT p_size, min(p_retailprice) AS mn
        |  FROM part GROUP BY p_size),
        |r AS (SELECT p_size, mn, min(mn) OVER (ORDER BY p_size DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mn_gt
        |  FROM s)
        |SELECT p.p_partkey, p.p_size, p.p_retailprice
        |FROM part p JOIN r USING (p_size)
        |WHERE p.p_retailprice = r.mn
        |  AND (r.mn_gt IS NULL OR r.mn_gt > p.p_retailprice)
        |ORDER BY p_size DESC, p_partkey""".stripMargin),

    Gate("q_window_top_orders", { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
        .orderBy("o_custkey", "rnk")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin),

    Gate("q_rollup_lineitem", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    Gate("q_intersect_custkeys", { (s, dir) =>
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.where(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin),

    Gate("q_anti_no_big_orders", { (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").where(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin),

    Gate("q_semi_open_orders", { (s, dir) =>
      tbl(s, dir, "customer")
        .join(tbl(s, dir, "orders").where(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),

    Gate("q_scalar_funcs", { (s, dir) =>
      tbl(s, dir, "orders")
        .where(col("o_orderpriority").like("%URGENT") &&
          col("o_totalprice").between(1000, 200000))
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("mo"),
          upper(substring(col("o_orderpriority"), 1, 3)).as("pri"),
          when(col("o_orderstatus") === "F", "done")
            .otherwise("open").as("status_class"),
          floor(col("o_totalprice")).as("price_floor"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  upper(substr(o_orderpriority, 1, 3)) AS pri,
        |  CASE WHEN o_orderstatus = 'F' THEN 'done' ELSE 'open' END AS status_class,
        |  CAST(floor(o_totalprice) AS BIGINT) AS price_floor
        |FROM orders
        |WHERE o_orderpriority LIKE '%URGENT'
        |  AND o_totalprice BETWEEN 1000 AND 200000
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_in_between", { (s, dir) =>
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column for a deterministic row order
      tbl(s, dir, "lineitem")
        .where(col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag IN ('A', 'R')
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin),

    Gate("q_outer_join_nations", { (s, dir) =>
      // full outer: nations with customers but no suppliers (and vice
      // versa) survive with nulls; left join folded in via coalesce
      val c = tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
      val su = tbl(s, dir, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_supp"))
      c.join(su, col("c_nationkey") === col("s_nationkey"), "full_outer")
        .select(
          coalesce(col("c_nationkey"), col("s_nationkey")).as("nk"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nk")
    },
      """WITH c AS (SELECT c_nationkey, count(*) AS n_cust FROM customer
        |           GROUP BY c_nationkey),
        |s AS (SELECT s_nationkey, count(*) AS n_supp FROM supplier
        |      GROUP BY s_nationkey)
        |SELECT coalesce(c_nationkey, s_nationkey) AS nk,
        |  coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        |ORDER BY nk""".stripMargin),

    Gate("q_left_join_regions", { (s, dir) =>
      // left join keeping nations with zero high-balance suppliers
      tbl(s, dir, "nation")
        .join(tbl(s, dir, "supplier").where(col("s_acctbal") > 0),
          col("n_nationkey") === col("s_nationkey"), "left")
        .groupBy("n_name")
        .agg(count(col("s_suppkey")).as("n_supp"))
        .orderBy("n_name")
    },
      """SELECT n_name, count(s_suppkey) AS n_supp
        |FROM nation LEFT JOIN supplier
        |  ON n_nationkey = s_nationkey AND s_acctbal > 0
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Gate("q_asof_last_purchase", { (s, dir) =>
      // as-of join: each click event gets the user's latest purchase value
      // at or before the click (AsOf.join = union + running-last window)
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pv"))
      graft.operators.AsOf.join(clicks, purchases,
          key = "user_id", tCol = "ts", valueCol = "pv", out = "last_purchase")
        .orderBy("event_id")
    },
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pv FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, l.value, r.pv AS last_purchase
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin),

    Gate("q_asof_tolerance", { (s, dir) =>
      // tolerance-bounded as-of: the last purchase counts only if it is
      // at most 1 hour old at click time ("last reading unless stale") —
      // the alignment rule sensor/feature pipelines actually need. Same
      // union + running-last window as q_asof_last_purchase (one
      // shuffle); staleness in floored epoch seconds on both engines.
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pv"))
      graft.operators.AsOf.joinWithin(clicks, purchases,
          key = "user_id", tCol = "ts", valueCol = "pv",
          out = "recent_purchase", toleranceSec = 3600L)
        .orderBy("event_id")
    },
      // ASOF LEFT JOIN exposes the matched right ts; the staleness bound
      // applies on floored epoch seconds (≡ Spark unix_timestamp)
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pv FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.event_id, l.user_id, l.ts, l.value,
        |  CASE WHEN r.ts IS NOT NULL
        |    AND CAST(floor(epoch(l.ts)) AS BIGINT)
        |      - CAST(floor(epoch(r.ts)) AS BIGINT) <= 3600
        |    THEN r.pv END AS recent_purchase
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin),

    Gate("q_asof_nearest", { (s, dir) =>
      // nearest-event join: each click aligned to its CLOSEST purchase
      // in either direction (seconds-floored distance, ties backward) —
      // the alignment rule when "latest before" is too strict and the
      // next reading is closer. Union + both-direction running windows,
      // one shuffle.
      val ev = events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts", "value")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("pv"))
      graft.operators.AsOf.joinNearest(clicks, purchases,
          key = "user_id", tCol = "ts", valueCol = "pv",
          out = "nearest_purchase")
        .orderBy("event_id")
    },
      // two ASOF joins (DuckDB supports both inequality directions);
      // nearer wins on floored-epoch distance, ties backward
      """WITH l AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, max(value) AS pv FROM events
        |      WHERE event_type = 'purchase' GROUP BY user_id, ts),
        |b AS (SELECT l.event_id, l.user_id, l.ts, l.value,
        |    r.ts AS bt, r.pv AS bv
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND r.ts <= l.ts),
        |f AS (SELECT l.event_id, r.ts AS ft, r.pv AS fv
        |  FROM l ASOF LEFT JOIN r
        |    ON l.user_id = r.user_id AND r.ts >= l.ts)
        |SELECT b.event_id, b.user_id, b.ts, b.value,
        |  CASE WHEN bt IS NULL THEN fv
        |       WHEN ft IS NULL THEN bv
        |       WHEN CAST(floor(epoch(b.ts)) AS BIGINT)
        |           - CAST(floor(epoch(bt)) AS BIGINT)
        |         <= CAST(floor(epoch(ft)) AS BIGINT)
        |           - CAST(floor(epoch(b.ts)) AS BIGINT) THEN bv
        |       ELSE fv END AS nearest_purchase
        |FROM b JOIN f ON b.event_id = f.event_id
        |ORDER BY b.event_id""".stripMargin),

    Gate("q_distinct_counts", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Gate("q_grouping_sets", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    Gate("q_pivot_user_type", { (s, dir) =>
      events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .avg("value")
        .orderBy("user_id")
    },
      """PIVOT (SELECT user_id, event_type, value FROM events)
        |ON event_type USING avg(value) GROUP BY user_id
        |ORDER BY user_id""".stripMargin),

    Gate("q_token_freq", { (s, dir) =>
      // explode (UDTF-shaped generator) + aggregation: corpus token counts
      tbl(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    },
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin),

    Gate("q_json_props", { (s, dir) =>
      // events.props is a JSON string (SURVEY §2.4 scalar fns row)
      events(s, dir).groupBy("event_type")
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          avg(get_json_object(col("props"), "$.k").cast("long")).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    Gate("q_window_frames", { (s, dir) =>
      val byId = Window.partitionBy("user_id").orderBy("event_id")
      val frame = byId.rowsBetween(-3, 0)
      val byVal = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      events(s, dir).select(
          col("user_id"), col("event_id"),
          lag(col("value"), 1).over(byId).as("prev_v"),
          lead(col("value"), 1).over(byId).as("next_v"),
          min(col("value")).over(frame).as("frame_min"),
          count(lit(1)).over(frame).cast("long").as("frame_n"),
          row_number().over(byVal).cast("long").as("val_rank"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |  lag(value) OVER w AS prev_v,
        |  lead(value) OVER w AS next_v,
        |  min(value) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS frame_min,
        |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS frame_n,
        |  CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY value DESC, event_id) AS BIGINT) AS val_rank
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY user_id, event_id""".stripMargin),

    Gate("q_window_range_frame", { (s, dir) =>
      // RANGE frame over a numeric order key: per user, the rolling sum of
      // the last 60 seconds of activity. RANGE includes all peers of the
      // current second, so same-second ties are deterministic; values sum
      // as integer cents so the result is summation-order-free and
      // hash-exact across engines.
      val w = Window.partitionBy("user_id")
        .orderBy(col("sec")).rangeBetween(-60, 0)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"),
          floor(col("value") * 100).cast("long").as("cents"))
        .select(col("user_id"), col("event_id"),
          sum(col("cents")).over(w).as("win_cents"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |    RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS win_cents
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin),

    Gate("q_sessionize", { (s, dir) =>
      // gap-based sessionization: a new session starts after >30 min of
      // per-user silence. Two stacked windows (lag for the boundary flag,
      // running sum for the session id) — one shuffle by user_id, then
      // per-session aggregation reuses the same partitioning. Total order
      // (sec, event_id) pins lag() under same-second ties.
      sessionIntervals(s, dir).orderBy("user_id", "sess_id")
    },
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |g AS (SELECT user_id, event_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS gap FROM e),
        |n AS (SELECT user_id, event_id, sec,
        |    CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM g),
        |s AS (SELECT user_id, sec,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY sec, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sess_id FROM n)
        |SELECT user_id, sess_id, count(*) AS n_events,
        |  min(sec) AS sess_start, max(sec) AS sess_end
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin),

    Gate("q_streaks", { (s, dir) =>
      // gaps-and-islands: per-user consecutive-PURCHASE-day streaks via
      // the day − row_number() island key (constant within a run of
      // consecutive days, jumps across gaps). One shuffle by user_id;
      // both the window and the two aggs reuse that partitioning.
      import org.apache.spark.sql.expressions.Window
      val d = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"),
          expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)").as("d"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("d")
      val islands = d.withColumn("grp", col("d") - row_number().over(w))
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      islands.groupBy("user_id").agg(
          sum("len").as("n_days"), count(lit(1)).as("n_streaks"),
          max("len").as("longest"))
        .orderBy("user_id")
    },
      // same day − row_number() island key
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts) / 86400) AS BIGINT) AS d
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT user_id, d,
        |    d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        |  FROM d),
        |s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
        |  FROM g GROUP BY user_id, grp)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_streaks, max(len) AS longest
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin),

    Gate("q_interval_overlap", { (s, dir) =>
      // interval-overlap join via bucketed range join (Intervals): pairs
      // of cross-user sessions active at the same time — the equi-join-
      // on-bucket formulation instead of an O(n²) nested-loop range join
      val iv = sessionIntervals(s, dir, maxUser = Some(12))
        .withColumnRenamed("sess_start", "t0")
        .withColumnRenamed("sess_end", "t1")
      graft.operators.Intervals
        .overlapPairs(iv, bucketWidth = 3600L, Seq("user_id", "sess_id"))
        .select("a_user_id", "a_sess_id", "b_user_id", "b_sess_id",
          "overlap_secs")
        .orderBy("a_user_id", "a_sess_id", "b_user_id", "b_sess_id")
    },
      """WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events WHERE user_id < 12),
        |g AS (SELECT user_id, event_id, sec,
        |    sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      AS gap FROM e),
        |s AS (SELECT user_id, sec,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY sec, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sess_id FROM g),
        |iv AS (SELECT user_id, sess_id, min(sec) AS t0, max(sec) AS t1
        |  FROM s GROUP BY user_id, sess_id)
        |SELECT a.user_id AS a_user_id, a.sess_id AS a_sess_id,
        |  b.user_id AS b_user_id, b.sess_id AS b_sess_id,
        |  least(a.t1, b.t1) - greatest(a.t0, b.t0) AS overlap_secs
        |FROM iv a, iv b
        |WHERE (a.user_id, a.sess_id) < (b.user_id, b.sess_id)
        |  AND a.t0 <= b.t1 AND b.t0 <= a.t1
        |ORDER BY a_user_id, a_sess_id, b_user_id, b_sess_id""".stripMargin),

    Gate("q_next_event_probs", { (s, dir) =>
      // first-order journey model: the event-type transition matrix over
      // (sec, event_id)-ordered per-user sequences, probabilities in
      // exact integer bp. One window shuffle on user_id + two tiny aggs.
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val ev = events(s, dir).select(col("user_id"), col("event_id"),
          col("event_type"), unix_timestamp(col("ts")).as("sec"))
        .withColumn("nxt", lead("event_type", 1).over(w))
        .where(col("nxt").isNotNull)
      val pairs = ev.groupBy(col("event_type").as("cur"), col("nxt"))
        .agg(count(lit(1)).as("n_pairs"))
      val totals = pairs.groupBy("cur").agg(sum("n_pairs").as("n_total"))
      pairs.join(totals, "cur")
        .withColumn("p_bp", expr("(10000 * n_pairs) div n_total"))
        .select("cur", "nxt", "n_pairs", "n_total", "p_bp")
        .orderBy("cur", "nxt")
    },
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |t AS (SELECT event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY sec, event_id) AS nxt
        |  FROM e),
        |p AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM t WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |tot AS (SELECT cur, CAST(sum(n_pairs) AS BIGINT) AS n_total
        |  FROM p GROUP BY cur)
        |SELECT p.cur, p.nxt, p.n_pairs, tot.n_total,
        |  (10000 * p.n_pairs) // tot.n_total AS p_bp
        |FROM p JOIN tot USING (cur) ORDER BY cur, nxt""".stripMargin),

    Gate("q_skew_report", { (s, dir) =>
      // the pre-flight skew diagnostic a join/groupBy tuner runs before
      // choosing salting factors: top-20 heaviest keys with exact
      // integer basis-point shares (cnt·10000 div total — no float
      // lane) and the cumulative concentration curve. One keyed agg +
      // one ORDER-limited window over the (small) key histogram.
      val hist = tbl(s, dir, "lineitem").groupBy("l_suppkey")
        .agg(count(lit(1)).as("cnt"))
      val tot = hist.agg(sum("cnt").as("total"))
      // r17: two-level top-k (the q_tfidf_top_terms discipline) — the
      // key histogram scales with the key domain, so the global rank
      // pre-filters to each hash bucket's top 20 first (structural
      // recall); the final window ranks <= 20·64 survivors.
      val wb = Window.partitionBy("bkt")
        .orderBy(col("cnt").desc, col("l_suppkey"))
      val w = Window.orderBy(col("cnt").desc, col("l_suppkey"))
      hist
        .withColumn("bkt", pmod(xxhash64(col("l_suppkey")), lit(64)))
        .withColumn("brnk", row_number().over(wb))
        .where(col("brnk") <= 20)
        .crossJoin(broadcast(tot))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 20)
        .withColumn("share_bps", expr("cnt * 10000 div total"))
        .withColumn("cum_bps", expr(
          "sum(cnt) OVER (ORDER BY cnt DESC, l_suppkey" +
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)" +
            " * 10000 div total"))
        .select("rnk", "l_suppkey", "cnt", "share_bps", "cum_bps")
        .orderBy("rnk")
    },
      """WITH h AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem GROUP BY l_suppkey),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM h),
        |r AS (SELECT l_suppkey, cnt, total,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, l_suppkey)
        |      AS BIGINT) AS rnk,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, l_suppkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM h, t)
        |SELECT rnk, l_suppkey, cnt, cnt * 10000 // total AS share_bps,
        |  cum * 10000 // total AS cum_bps
        |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin),

    Gate("q_salted_join", { (s, dir) =>
      // manual skew-spread equi-join (Skew.saltedJoin): the probe side
      // salts deterministically from l_orderkey, the build side
      // replicates ×8, the join runs on (key, salt) — row-identical to
      // the plain join, so the oracle is the plain SQL; the plan-level
      // spread (Generate on the build side, salt in the join key) is
      // pinned in ScaleSpec with auto-broadcast off.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_orderkey"),
          col("l_quantity"))
      val sup = tbl(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      graft.operators.Skew
        .saltedJoin(li, sup, "suppkey", col("l_orderkey"), 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"),
          sum(expr("CAST(round(l_quantity * 100) AS BIGINT)"))
            .as("qty_cents"))
        .orderBy("s_name")
    },
      // the salt is a Spark-side physical device; the oracle sees the
      // plain equi-join
      """SELECT s_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        |    AS qty_cents
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),

    Gate("q_skyline_pareto", { (s, dir) =>
      // 2D Pareto frontier (skyline): parts with no other part both
      // smaller and cheaper. Two phases, each ONE sort + two RANGE-frame
      // running minima — never the O(n²) NOT-EXISTS self-join: phase 1
      // prunes per hash bucket IN PARALLEL (local non-dominated ⊇ global
      // frontier, dominance is transitive), phase 2 runs the same
      // two-window trick on the tiny survivor set. keep ⟺ no
      // smaller-or-equal size is strictly cheaper (min_le = price) and
      // no strictly-smaller size is cheaper-or-equal (min_lt > price).
      def frontier(df: DataFrame, part: Seq[String]): DataFrame = {
        val w1 = Window.partitionBy(part.map(col): _*).orderBy("p_size")
          .rangeBetween(Window.unboundedPreceding, -1)
        val w2 = Window.partitionBy(part.map(col): _*).orderBy("p_size")
          .rangeBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("min_lt", min("p_retailprice").over(w1))
          .withColumn("min_le", min("p_retailprice").over(w2))
          .where(col("min_le") === col("p_retailprice") &&
            (col("min_lt").isNull || col("min_lt") > col("p_retailprice")))
          .drop("min_lt", "min_le")
      }
      val p = tbl(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("long").as("p_size"),
          col("p_retailprice"))
        .withColumn("bkt", pmod(col("p_partkey"), lit(32)))
      frontier(frontier(p, Seq("bkt")).drop("bkt"), Seq.empty)
        .orderBy("p_size", "p_retailprice", "p_partkey")
    },
      // the bucketed local-prune phase is a Spark-side parallelism
      // device; frontier(frontier(X)) = frontier(X), so the oracle is
      // the direct global two-window skyline
      """WITH p AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |    p_retailprice FROM part),
        |w AS (SELECT *,
        |    min(p_retailprice) OVER (ORDER BY p_size
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_lt,
        |    min(p_retailprice) OVER (ORDER BY p_size
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_le
        |  FROM p)
        |SELECT p_partkey, p_size, p_retailprice FROM w
        |WHERE min_le = p_retailprice
        |  AND (min_lt IS NULL OR min_lt > p_retailprice)
        |ORDER BY p_size, p_retailprice, p_partkey""".stripMargin),

    Gate("q_first_last_window", { (s, dir) =>
      // value-position window functions (first/last/nth over an unbounded
      // frame): each user-day's opening, closing and second event type
      val w = Window.partitionBy("user_id", "day").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_id"), col("event_type"))
        .withColumn("first_type", first("event_type").over(w))
        .withColumn("last_type", last("event_type").over(w))
        .withColumn("second_type", nth_value(col("event_type"), 2).over(w))
        .select("user_id", "day", "first_type", "last_type", "second_type")
        .distinct()
        .orderBy("user_id", "day")
    },
      """SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
        |  first_value(event_type) OVER fr AS first_type,
        |  last_value(event_type) OVER fr AS last_type,
        |  nth_value(event_type, 2) OVER fr AS second_type
        |FROM events
        |WINDOW fr AS (PARTITION BY user_id, CAST(ts AS DATE)
        |  ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, day""".stripMargin),

    Gate("q_explode_pos", { (s, dir) =>
      // generator with ordinality: posexplode of a computed token array
      // (1-based pos to match SQL generate_subscripts conventions)
      tbl(s, dir, "documents").where(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("token"))
        .orderBy("doc_id", "pos")
    },
      """SELECT doc_id, CAST(generate_subscripts(tk, 1) AS BIGINT) AS pos,
        |  unnest(tk) AS token
        |FROM (SELECT doc_id, string_split(text, ' ') AS tk
        |      FROM documents WHERE doc_id < 20)
        |ORDER BY doc_id, pos""".stripMargin),

    Gate("q_ntile_cume", { (s, dir) =>
      // distribution rank functions: ntile/percent_rank/cume_dist over a
      // total order. A single global window — fine for a dimension-sized
      // table; a fact-scale ranking would partition first (see
      // q_window_rankfuncs for the partitioned shape).
      val w = Window.orderBy(col("c_acctbal"), col("c_custkey"))
      tbl(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_acctbal,
        |  ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile,
        |  percent_rank() OVER (ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (ORDER BY c_acctbal, c_custkey) AS cume
        |FROM customer ORDER BY c_custkey""".stripMargin),

    Gate("q_argmax_customer", { (s, dir) =>
      // max_by/arg_max: top customer per nation in ONE aggregation pass —
      // no window sort, no self-join. Deterministic because the per-nation
      // max acctbal is unique in this data at every SF (verified); with
      // ties one would max_by on a (bal, id) struct (DuckDB's arg_max
      // can't, hence the plain key here).
      tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(max("c_acctbal").as("top_bal"),
          max_by(col("c_custkey"), col("c_acctbal")).as("top_cust"))
        .orderBy("c_nationkey")
    },
      """SELECT c_nationkey, max(c_acctbal) AS top_bal,
        |  arg_max(c_custkey, c_acctbal) AS top_cust
        |FROM customer GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin),

    Gate("q_benford_digits", { (s, dir) =>
      // first-digit Benford audit on order totals — the classic
      // anomalous-amounts data-quality probe. The leading digit comes
      // from the BIGINT floor (decimal formatting never crosses engines),
      // the observed share and its deviation from the Benford expectation
      // are exact integer basis points (share_bp = 10000·n div total; the
      // expected bps are shared literals summing to 10000). One hash agg
      // over the scan + a broadcast of the single-row total.
      val digits = tbl(s, dir, "orders")
        .where(col("o_totalprice") >= 1.0)
        .select(substring(floor(col("o_totalprice")).cast("string"), 1, 1)
          .as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val total = digits.agg(sum("n").as("total"))
      val benford = typedLit(Map(
        "1" -> 3010L, "2" -> 1761L, "3" -> 1249L, "4" -> 969L,
        "5" -> 792L, "6" -> 669L, "7" -> 580L, "8" -> 512L, "9" -> 458L))
      digits.crossJoin(broadcast(total))
        .select(col("digit"), col("n"),
          expr("(10000L * n) div total").as("share_bp"),
          benford(col("digit")).as("benford_bp"))
        .withColumn("dev_bp", col("share_bp") - col("benford_bp"))
        .orderBy("digit")
    },
      // leading digit from the BIGINT floor (never decimal formatting);
      // shares and deviations in exact integer basis points, Benford
      // expectation as shared literals summing to 10000
      """WITH d AS (SELECT substring(
        |    CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
        |      AS digit
        |  FROM orders WHERE o_totalprice >= 1.0),
        |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM g),
        |b AS (SELECT digit, n, (10000 * n) // total AS share_bp,
        |    CAST(CASE digit WHEN '1' THEN 3010 WHEN '2' THEN 1761
        |      WHEN '3' THEN 1249 WHEN '4' THEN 969 WHEN '5' THEN 792
        |      WHEN '6' THEN 669 WHEN '7' THEN 580 WHEN '8' THEN 512
        |      WHEN '9' THEN 458 END AS BIGINT) AS benford_bp
        |  FROM g, t)
        |SELECT digit, n, share_bp, benford_bp,
        |  share_bp - benford_bp AS dev_bp
        |FROM b ORDER BY digit""".stripMargin),

    Gate("q_cube_orders", { (s, dir) =>
      tbl(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority"))
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  sum(o_totalprice) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    Gate("q_union_all_balances", { (s, dir) =>
      tbl(s, dir, "customer").select(lit("cust").as("side"), col("c_acctbal").as("bal"))
        .unionByName(
          tbl(s, dir, "supplier").select(lit("supp").as("side"), col("s_acctbal").as("bal")))
        .groupBy("side")
        .agg(count(lit(1)).as("n"), min("bal").as("min_bal"), max("bal").as("max_bal"))
        .orderBy("side")
    },
      """SELECT side, count(*) AS n, min(bal) AS min_bal, max(bal) AS max_bal
        |FROM (SELECT 'cust' AS side, c_acctbal AS bal FROM customer
        |      UNION ALL SELECT 'supp', s_acctbal FROM supplier)
        |GROUP BY side ORDER BY side""".stripMargin),

    Gate("q_sql_quarter_topn", { (s, dir) =>
      // the engine's SQL entry point: same Catalyst plans as the
      // DataFrame API, exercised end-to-end via spark.sql over registered
      // views (star join + windowed top-n per quarter)
      Seq("orders", "customer", "nation")
        .foreach(t => tbl(s, dir, t).createOrReplaceTempView(t))
      s.sql("""
        WITH r AS (
          SELECT n.n_name AS nation,
                 CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS qtr,
                 sum(o.o_totalprice) AS revenue
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY 1, 2)
        SELECT nation, qtr, revenue, rnk FROM (
          SELECT nation, qtr, revenue,
                 CAST(rank() OVER (PARTITION BY qtr
                              ORDER BY revenue DESC, nation) AS BIGINT) AS rnk
          FROM r)
        WHERE rnk <= 3
        ORDER BY qtr, rnk, nation""")
    },
      """WITH r AS (
        |  SELECT n.n_name AS nation,
        |         CAST(date_trunc('quarter', o.o_orderdate) AS DATE) AS qtr,
        |         sum(o.o_totalprice) AS revenue
        |  FROM orders o
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY 1, 2)
        |SELECT nation, qtr, revenue, rnk FROM (
        |  SELECT nation, qtr, revenue,
        |         rank() OVER (PARTITION BY qtr
        |                      ORDER BY revenue DESC, nation) AS rnk
        |  FROM r) t
        |WHERE rnk <= 3
        |ORDER BY qtr, rnk, nation""".stripMargin),

    Gate("q_union_distinct", { (s, dir) =>
      // UNION (distinct) completes the set-op family alongside union-all /
      // intersect / except
      tbl(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(tbl(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")
    },
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier
        |ORDER BY nk""".stripMargin),

    Gate("q_corr_regr", { (s, dir) =>
      // statistical co-moment aggregates: Pearson correlation, pop/sample
      // covariance, and OLS slope/intercept of price on quantity — all
      // single-pass partial-aggregatable (each is a fold over
      // (n, Σx, Σy, Σxy, Σx², Σy²)), so they scale like any hash agg
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          corr("l_quantity", "l_extendedprice").as("corr_qp"),
          covar_pop("l_quantity", "l_extendedprice").as("covar_p"),
          covar_samp("l_quantity", "l_extendedprice").as("covar_s"),
          regr_slope(col("l_extendedprice"), col("l_quantity")).as("slope"),
          regr_intercept(col("l_extendedprice"), col("l_quantity")).as("icept"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  corr(l_quantity, l_extendedprice) AS corr_qp,
        |  covar_pop(l_quantity, l_extendedprice) AS covar_p,
        |  covar_samp(l_quantity, l_extendedprice) AS covar_s,
        |  regr_slope(l_extendedprice, l_quantity) AS slope,
        |  regr_intercept(l_extendedprice, l_quantity) AS icept
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Gate("q_decimal_money", { (s, dir) =>
      // exact DECIMAL money arithmetic (SURVEY §7 watch list: decimal
      // values): the money columns are cents-clean doubles, so the
      // decimal(12,2) casts are exact and the products are exact integer
      // cent (x100) / basis-point (x10000) counts. The output emits those
      // counts as BIGINT — never a raw DECIMAL column — because Spark
      // (decimal(22,2)/decimal(28,4)) and DuckDB (decimal(38,_)) widen
      // aggregate decimals differently and the r4 gate hash compares cell
      // *representations*, not just values. BIGINT is representation-stable
      // across engines; the values themselves are identical and exact.
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_extendedprice").cast("decimal(12,2)").as("price"),
          col("l_discount").cast("decimal(4,2)").as("disc"))
        .groupBy("l_returnflag")
        .agg(
          sum((col("price") * 100).cast("long")).as("sum_price_cents"),
          sum((col("price") * (lit(1).cast("decimal(3,2)") - col("disc"))
            * 10000).cast("long")).as("sum_disc_price_x10000"),
          count(lit(1)).as("n"))
        .withColumn("avg_price",
          col("sum_price_cents").cast("double") / lit(100) / col("n"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * (1::DECIMAL(3,2) - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price_x10000,
        |  count(*) AS n,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS DOUBLE) / 100 / count(*) AS avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Gate("q_agg_filter", { (s, dir) =>
      // ANSI FILTER-clause conditional aggregation — one hash-agg pass;
      // each filtered agg is a guarded partial, never an extra scan or
      // shuffle per condition
      tbl(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_linestatus,
          count(*) AS n_all,
          count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
          sum(l_extendedprice) FILTER (WHERE l_quantity > 25) AS sum_big,
          min(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS first_ret
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""")
    },
      """SELECT l_linestatus,
        |  count(*) AS n_all,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
        |  sum(l_extendedprice) FILTER (WHERE l_quantity > 25) AS sum_big,
        |  min(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS first_ret
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    Gate("q_snowflake_volume", { (s, dir) =>
      // 7-table snowflake join (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
      // region ⋈ supplier ⋈ nation again): the fact tables join on their
      // shuffle keys, every dimension is explicitly broadcast — zero
      // dimension shuffles regardless of fact-table scale, and Catalyst
      // is free to reorder the fact joins under AQE
      val n = tbl(s, dir, "nation")
      tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n.as("cn")), col("c_nationkey") === col("cn.n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")),
          col("cn.n_regionkey") === col("r_regionkey") &&
            col("r_name") === lit("AMERICA"))
        .join(broadcast(tbl(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.as("sn")), col("s_nationkey") === col("sn.n_nationkey"))
        .groupBy(year(col("o_orderdate")).as("yr"),
          col("sn.n_name").as("supp_nation"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("volume"),
          count(lit(1)).as("n_items"))
        .orderBy("yr", "supp_nation")
    },
      """SELECT CAST(year(o.o_orderdate) AS INT) AS yr, sn.n_name AS supp_nation,
        |  sum(l.l_extendedprice * (1 - l.l_discount)) AS volume,
        |  count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = 'AMERICA'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |GROUP BY yr, supp_nation ORDER BY yr, supp_nation""".stripMargin),

    Gate("q_bool_bit_aggs", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
          bool_and(col("l_discount") <= 0.1).as("all_small_disc"),
          bool_or(col("l_quantity") > 45).as("any_big_qty"),
          bit_and(col("l_linenumber")).as("ln_and"),
          bit_or(col("l_linenumber")).as("ln_or"),
          bit_xor(col("l_linenumber")).as("ln_xor"))
        .orderBy("l_linestatus")
    },
      """SELECT l_linestatus,
        |  bool_and(l_discount <= 0.1) AS all_small_disc,
        |  bool_or(l_quantity > 45) AS any_big_qty,
        |  bit_and(l_linenumber) AS ln_and,
        |  bit_or(l_linenumber) AS ln_or,
        |  bit_xor(l_linenumber) AS ln_xor
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),

    Gate("q_string_funcs", { (s, dir) =>
      tbl(s, dir, "part").select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lc"),
          regexp_replace(col("p_type"), " ", "_").as("type_us"),
          lpad(col("p_size").cast("string"), 5, "0").as("size_pad"),
          regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).as("brand_num"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, lower(p_name) AS name_lc,
        |  replace(p_type, ' ', '_') AS type_us,
        |  lpad(CAST(p_size AS VARCHAR), 5, '0') AS size_pad,
        |  regexp_extract(p_brand, 'Brand#(\d+)', 1) AS brand_num
        |FROM part ORDER BY p_partkey""".stripMargin),

    Gate("q_array_agg_suppliers", { (s, dir) =>
      tbl(s, dir, "supplier")
        .join(broadcast(tbl(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        // array_join: the driver's pandas compare can't hash raw array
        // cells (CORRECTNESS_r01: unhashable numpy.ndarray), so the
        // collected+sorted list is emitted as one joined string.
        .agg(array_join(sort_array(collect_list(col("s_name"))), ",").as("suppliers"),
          count(lit(1)).as("n"))
        .orderBy("n_name")
    },
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
        |  count(*) AS n
        |FROM supplier, nation WHERE s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Gate("q_monthly_revenue", { (s, dir) =>
      tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
        .orderBy("m")
    },
      """SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
        |  count(*) AS n_orders, sum(o_totalprice) AS revenue
        |FROM orders GROUP BY 1 ORDER BY m""".stripMargin),

    Gate("q_mom_growth", { (s, dir) =>
      // month-over-month revenue growth in exact integer bp: BIGINT
      // cents, lag over the (bounded) month dimension, and the division
      // runs on a NON-NEGATIVE numerator with the sign re-applied after
      // — `div`/`//` truncation semantics on negatives never enter.
      val monthly = tbl(s, dir, "orders")
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))")
          .as("cents"))
      monthly
        .withColumn("prev_cents", lag("cents", 1).over(Window.orderBy("m")))
        .withColumn("growth_bp", expr(
          "CASE WHEN prev_cents IS NOT NULL THEN " +
            "((10000 * abs(cents - prev_cents)) div prev_cents) * " +
            "(CASE WHEN cents >= prev_cents THEN 1 ELSE -1 END) END"))
        .orderBy("m")
    },
      // same sign-split division: non-negative numerator, sign after
      """WITH m AS (SELECT CAST(date_trunc('month', o_orderdate)
        |      AS TIMESTAMP) AS m,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |l AS (SELECT m, cents,
        |    lag(cents) OVER (ORDER BY m) AS prev_cents FROM m)
        |SELECT m, cents, prev_cents,
        |  CASE WHEN prev_cents IS NOT NULL THEN
        |    ((10000 * abs(cents - prev_cents)) // prev_cents) *
        |    (CASE WHEN cents >= prev_cents THEN 1 ELSE -1 END) END
        |    AS growth_bp
        |FROM l ORDER BY m""".stripMargin),

    Gate("q_gini_revenue", { (s, dir) =>
      // revenue-concentration audit per market segment: EXACT integer
      // Gini. G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) on cents sorted
      // ascending — numerator and denominator are BIGINTs, the bp lane
      // floors a NON-NEGATIVE numerator (Chebyshev sum inequality).
      // r16: the per-row row_number().over(partitionBy(seg)) (every
      // customer ranked in 5 partitions — the q_percentile_disc weak
      // class) is GONE: Σi·xᵢ decomposes exactly over the distinct-value
      // CDF — a tied value v with k rows after `below` predecessors
      // contributes v·(k·below + k(k+1)/2), the same fixed tied-block
      // Σi the row_number lane relied on. One partial-aggregated corpus
      // shuffle + a distinct-table window; no fact-row window at all.
      // Headroom: 10⁴·2·wsum needs n·total ≤ 4.6e14 — at larger group
      // sizes consumers should divide num/den themselves.
      val cust = tbl(s, dir, "orders").groupBy("o_custkey")
        .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT))")
          .as("cents"))
      val seg = tbl(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("seg"))
      val vc = cust.join(seg, "o_custkey")
        .groupBy("seg", "cents").agg(count(lit(1)).as("k"))
      val wc = Window.partitionBy("seg").orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vc.withColumn("below", sum("k").over(wc) - col("k"))
        .groupBy("seg")
        .agg(sum("k").as("n"), sum(expr("cents * k")).as("total_cents"),
          sum(expr("cents * (k * below + (k * (k + 1)) div 2)")).as("wsum"))
        .withColumn("gini_bp", expr(
          "(10000 * (2 * wsum - (n + 1) * total_cents)) div (n * total_cents)"))
        .orderBy("seg")
    },
      // exact integer Gini: ascending row_number rank (tie blocks are
      // permutation-invariant), BIGINT casts off DuckDB's HUGEINT sums,
      // floor division on a provably non-negative numerator
      """WITH cust AS (SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |x AS (SELECT c_mktsegment AS seg, cents, o_custkey
        |  FROM cust JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, cents, CAST(row_number() OVER (
        |    PARTITION BY seg ORDER BY cents, o_custkey) AS BIGINT) AS i
        |  FROM x),
        |g AS (SELECT seg, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total_cents,
        |    CAST(sum(i * cents) AS BIGINT) AS wsum
        |  FROM r GROUP BY seg)
        |SELECT seg, n, total_cents, wsum,
        |  (10000 * (2 * wsum - (n + 1) * total_cents))
        |    // (n * total_cents) AS gini_bp
        |FROM g ORDER BY seg""".stripMargin),

    Gate("q_seq_patterns", { (s, dir) =>
      // sequential-pattern support: users exhibiting "t1 then t2" =
      // users where min_sec(t1) < max_sec(t2) — EXISTS over ordered
      // occurrence collapses to one per-(user, type) min/max agg + a
      // tiny per-user type-pair join (|types|² rows/user), never a
      // per-user event scan. t1 = t2 counts repeat patterns (≥2 events
      // at distinct seconds). Strict < on floor-epoch seconds is the
      // cross-engine tie rule.
      val ext = events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("sec"))
        .groupBy("user_id", "event_type")
        .agg(min("sec").as("first_sec"), max("sec").as("last_sec"))
      val a = ext.select(col("user_id"), col("event_type").as("t1"),
        col("first_sec"))
      val b = ext.select(col("user_id"), col("event_type").as("t2"),
        col("last_sec"))
      a.join(b, "user_id").where(col("first_sec") < col("last_sec"))
        .groupBy("t1", "t2").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("t1"), col("t2"))
    },
      // same min/max-extent EXISTS collapse; floor-epoch strict <
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |x AS (SELECT user_id, event_type, min(sec) AS first_sec,
        |    max(sec) AS last_sec FROM e GROUP BY 1, 2)
        |SELECT a.event_type AS t1, b.event_type AS t2,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM x a JOIN x b ON a.user_id = b.user_id
        |WHERE a.first_sec < b.last_sec
        |GROUP BY 1, 2 ORDER BY n_users DESC, t1, t2""".stripMargin),

    Gate("q_decay_popularity", { (s, dir) =>
      // exponentially time-decayed popularity per event type, EXACT
      // integer lane: half-life = 1 day over a 30-day horizon, so each
      // event's weight is the BIGINT 2^(30 − age_days) — powers of two
      // need no float pow and sum exactly on any engine. The horizon cap
      // is also the overflow bound (2³⁰·n events fits BIGINT at any
      // realistic n) and the scan prune (only the trailing window reads).
      val e = events(s, dir)
        .select(to_date(col("ts")).as("d"), col("event_type"))
      val maxd = e.agg(max(col("d")).as("maxd"))
      e.crossJoin(broadcast(maxd))
        .withColumn("age", datediff(col("maxd"), col("d")))
        .where(col("age") <= 30)
        .withColumn("wt", expr("shiftleft(CAST(1 AS BIGINT), 30 - age)"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), sum("wt").as("decay_score"))
        .orderBy(col("decay_score").desc, col("event_type"))
    }, decayPopularityOracleSql),

    Gate("q_decay_popularity_stream", { (s, dir) =>
      // batch≡streaming decayed popularity: replay events TIME-ORDERED
      // through Streaming.decayPopularity (O(horizon) integer state per
      // type — trailing per-day counts, pruned against the key's own max
      // day) in 3 micro-batches, elect each type's final snapshot by its
      // strictly-increasing version, then apply the GLOBAL horizon cut +
      // power-of-2 weights batch-side. The global cut is only knowable
      // at read time (a global max day doesn't exist mid-stream), and
      // per-key pruning provably keeps a superset of the globally-live
      // days — so the result is bit-equal to q_decay_popularity and the
      // oracle SQL is shared verbatim.
      import s.implicits._
      implicit val ctx = s.sqlContext
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.Streaming.KeyDay]
      val name = s"decay_replay_${System.nanoTime()}"
      val prevParts = s.conf.get("spark.sql.shuffle.partitions")
      s.conf.set("spark.sql.shuffle.partitions", "8")
      try {
        val q = graft.streaming.Streaming.decayPopularity(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          val rows = events(s, dir)
            .select(col("event_type"),
              expr("unix_timestamp(ts) div 86400").as("day"),
              col("event_id"))
            .orderBy("day", "event_id").collect()
            .map(r => graft.streaming.Streaming.KeyDay(
              r.getString(0), r.getLong(1)))
          rows.grouped(rows.length / 3 + 1).foreach { b =>
            mem.addData(b.toSeq); q.processAllAvailable()
          }
        } finally q.stop()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
      val fin = s.table(name)
        .groupBy("key")
        .agg(max(struct(col("version"), col("packed"))).as("snap"))
        .select(col("key").as("event_type"),
          explode(col("snap.packed")).as("p"))
        .withColumn("day", expr("p div 1000000000000"))
        .withColumn("cnt", expr("p % 1000000000000"))
      fin.crossJoin(broadcast(fin.agg(max("day").as("maxd"))))
        .withColumn("age", col("maxd") - col("day"))
        .where(col("age") <= 30)
        .withColumn("wt",
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
        .groupBy("event_type")
        .agg(sum("cnt").as("n_events"),
          sum(col("cnt") * col("wt")).as("decay_score"))
        .orderBy(col("decay_score").desc, col("event_type"))
    }, decayPopularityOracleSql),

    Gate("q_ts_range_reverse", { (s, dir) =>
      // get_data A4 semantics: time-range scan, reverse order, projection
      events(s, dir)
        .where(col("ts") >= lit("2024-01-10") && col("ts") < lit("2024-01-20"))
        .select("event_id", "ts", "value")
        .orderBy(col("ts").desc, col("event_id"))
        .limit(100)
    },
      """SELECT event_id, ts, value FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin),

    Gate("q_above_cust_avg", { (s, dir) =>
      // correlated-subquery shape: orders priced far above their
      // customer's average (window formulation — no per-row subquery)
      val w = Window.partitionBy("o_custkey")
      tbl(s, dir, "orders")
        .withColumn("cust_avg", avg("o_totalprice").over(w))
        .where(col("o_totalprice") > lit(1.5) * col("cust_avg"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders i
        |                            WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_unpivot_flags", { (s, dir) =>
      tbl(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum("l_quantity").as("qty"), sum("l_extendedprice").as("price"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("qty"), col("price")), "metric", "val")
        .orderBy("l_returnflag", "metric")
    },
      """WITH agg AS (SELECT l_returnflag, sum(l_quantity) AS qty,
        |    sum(l_extendedprice) AS price FROM lineitem GROUP BY l_returnflag)
        |UNPIVOT agg ON qty, price INTO NAME metric VALUE val
        |ORDER BY l_returnflag, metric""".stripMargin),

    Gate("q_salted_distinct", { (s, dir) =>
      // two-stage skew-spread distinct count; exact by construction
      graft.operators.Skew
        .saltedDistinctCount(tbl(s, dir, "lineitem"), "l_returnflag", "l_partkey")
        .withColumnRenamed("l_returnflag", "flag")
        .orderBy("flag")
    },
      """SELECT l_returnflag AS flag,
        |  count(DISTINCT l_partkey) AS n_distinct
        |FROM lineitem GROUP BY l_returnflag ORDER BY flag""".stripMargin),

    Gate("q_percentiles", { (s, dir) =>
      // exact interpolated percentiles (same definition as quantile_cont)
      // in the DISTRIBUTED rank lane (r14 — replaces percentile(col,
      // array(...)): that ObjectHashAggregate merged one value-count map
      // per group into a single reducer, GB-scale buffers at 100×).
      // Distinct-value CDF + broadcast range join + Spark percentile's
      // exact interpolation arithmetic — bit-identical results, no
      // per-group value buffer anywhere (ScaleSpec pins the plan).
      graft.operators.Percentiles.exactInterpolated(
        tbl(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        "l_returnflag", "l_extendedprice",
        Seq(0.5 -> "med", 0.9 -> "p90"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS med,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Gate("q_funnel_pattern", { (s, dir) =>
      // ordered-sequence funnel (MATCH_RECOGNIZE staple): per user the
      // earliest view → click-after-view → purchase-after-click chain;
      // greedy-earliest semantics, one keyed agg + join per step
      // (Temporal.funnel) — no whole-stream window, no per-key loop
      graft.operators.Temporal.funnel(
          events(s, dir).select(col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("sec")),
          steps = Seq("view", "click", "purchase"),
          keyCol = "user_id", typeCol = "event_type", secCol = "sec")
        .orderBy("user_id")
    },
      // greedy-earliest chain mirrored step by step; steps_completed
      // counts non-null stage times
      """WITH e AS (SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |s1 AS (SELECT user_id, min(sec) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |    min(CASE WHEN e.sec > s1.t1 THEN e.sec END) AS t2
        |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
        |    AND e.event_type = 'click'
        |  GROUP BY s1.user_id, s1.t1),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |    min(CASE WHEN e.sec > s2.t2 THEN e.sec END) AS t3
        |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
        |    AND e.event_type = 'purchase'
        |  GROUP BY s2.user_id, s2.t1, s2.t2)
        |SELECT user_id, t1, t2, t3,
        |  CAST((t1 IS NOT NULL)::INT + (t2 IS NOT NULL)::INT
        |    + (t3 IS NOT NULL)::INT AS BIGINT) AS steps_completed
        |FROM s3 ORDER BY user_id""".stripMargin),

    Gate("q_cohort_retention", { (s, dir) =>
      // cohort retention: users grouped by first-activity day, distinct
      // active users per (cohort, day offset) — two keyed aggs and one
      // join on user_id; day arithmetic via datediff (DATE-DATE is an
      // INTERVAL in DuckDB, so both engines use explicit day counts)
      val e = events(s, dir).select(col("user_id"), to_date(col("ts")).as("d"))
      val cohorts = e.groupBy("user_id").agg(min("d").as("cohort_day"))
      e.join(cohorts, "user_id")
        .select(col("user_id"), col("cohort_day"),
          datediff(col("d"), col("cohort_day")).cast("long").as("offset_days"))
        .distinct()
        .groupBy("cohort_day", "offset_days")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_day", "offset_days")
    },
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, c.cohort_day,
        |    CAST(date_diff('day', c.cohort_day, e.d) AS BIGINT) AS offset_days
        |  FROM e JOIN c USING (user_id))
        |SELECT cohort_day, offset_days, count(*) AS n_users
        |FROM a GROUP BY cohort_day, offset_days
        |ORDER BY cohort_day, offset_days""".stripMargin),

    Gate("q_dq_report", { (s, dir) =>
      // declarative data-quality report (the Deequ/expectations family):
      // four row rules fold into ONE conditional-agg scan, uniqueness is
      // one count-vs-distinct aggregate, referential integrity one
      // equi-join vs the deduped parent keys; report rows are
      // metadata-scale (Quality)
      import graft.operators.Quality
      val l = tbl(s, dir, "lineitem")
      val o = tbl(s, dir, "orders")
      Quality.report(Seq(
        Quality.rowRules(l, Seq(
          "l1_qty_above_45" -> (col("l_quantity") > 45),
          "l2_discount_above_7pct" -> (col("l_discount") > 0.07),
          "l3_null_returnflag" -> col("l_returnflag").isNull,
          "l4_flag_domain" -> (col("l_returnflag").isNotNull &&
            !col("l_returnflag").isin("A", "N", "R")))),
        Quality.uniquenessRule(l, "l5_uniq_line",
          Seq("l_orderkey", "l_linenumber")),
        Quality.referentialRule(l, "l_orderkey", o, "o_orderkey",
          "l6_ref_orderkey")))
    },
      """SELECT * FROM (
        |  SELECT 'l1_qty_above_45' AS rule,
        |    CAST(sum(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
        |    count(*) AS n_checked FROM lineitem
        |  UNION ALL
        |  SELECT 'l2_discount_above_7pct',
        |    CAST(sum(CASE WHEN l_discount > 0.07 THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l3_null_returnflag',
        |    CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l4_flag_domain',
        |    CAST(sum(CASE WHEN l_returnflag IS NOT NULL
        |        AND l_returnflag NOT IN ('A', 'N', 'R') THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l5_uniq_line',
        |    CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT),
        |    count(*) FROM lineitem
        |  UNION ALL
        |  SELECT 'l6_ref_orderkey',
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    count(*)
        |  FROM lineitem l
        |  LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey)
        |ORDER BY rule""".stripMargin),

    Gate("q_bucket_join", { (s, dir) =>
      // co-located join: both sides persisted BUCKETED on the join key
      // (bucketBy + sortBy at write time), then joined with the merge
      // hint — the executed plan reads Bucketed: true and has ZERO
      // exchange under the join (ScaleSpec pins it). The 100 TB
      // repeated-join story: pay the layout shuffle once when writing,
      // every downstream join on that key is shuffle-free.
      val suf = java.lang.Long.toHexString(System.nanoTime())
      val base = java.nio.file.Files.createTempDirectory("graft_bkt")
        .toString
      tbl(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$base/o")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"graft_bo_$suf")
      tbl(s, dir, "customer").select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").option("path", s"$base/c")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"graft_bc_$suf")
      s.table(s"graft_bo_$suf").hint("merge")
        .join(s.table(s"graft_bc_$suf"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .as("cents"))
        .orderBy("c_mktsegment")
    },
      // the bucketed layout is a Spark-side physical property; the
      // oracle sees the same logical join on the raw tables
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    Gate("q_null_filter_nations", { (s, dir) =>
      // IS NULL predicate over outer-join null extension (anti-join via
      // left join, the classic null-filter shape)
      tbl(s, dir, "nation").as("n")
        .join(tbl(s, dir, "supplier").as("su"),
          col("n.n_nationkey") === col("su.s_nationkey"), "left")
        .where(col("su.s_suppkey").isNull)
        .select(col("n.n_nationkey"), col("n.n_name"))
        .orderBy("n_nationkey")
    },
      """SELECT n.n_nationkey, n.n_name
        |FROM nation n LEFT JOIN supplier s ON n.n_nationkey = s.s_nationkey
        |WHERE s.s_suppkey IS NULL
        |ORDER BY n.n_nationkey""".stripMargin),

    Gate("q_except_custkeys", { (s, dir) =>
      val o = tbl(s, dir, "orders")
      o.where(col("o_orderstatus") === "F").select("o_custkey")
        .except(o.where(col("o_orderstatus") === "O").select("o_custkey"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin),

    Gate("q_window_rankfuncs", { (s, dir) =>
      // the remaining analytic-window family: ntile, lead, first_value,
      // cume_dist — composite unique ORDER BY keys so every rank is total
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val w2 = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      tbl(s, dir, "orders").select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).cast("long").as("quartile"),
          lead(col("o_orderdate"), 1).over(w2).as("next_order"),
          first(col("o_totalprice")).over(w).as("min_price"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  lead(o_orderdate, 1) OVER w2 AS next_order,
        |  first_value(o_totalprice) OVER w AS min_price,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    Gate("q_returned_items", { (s, dir) =>
      // TPC-H Q10 shape: returned-item revenue per customer for a quarter —
      // date filter pushed to the orders scan, lineitem filtered pre-join
      val o = tbl(s, dir, "orders")
        .where(col("o_orderdate") >= lit("1995-10-01") &&
               col("o_orderdate") < lit("1996-01-01"))
      tbl(s, dir, "lineitem").where(col("l_returnflag") === "R")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal")
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue, c_acctbal
        |FROM customer, orders, lineitem
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal
        |ORDER BY c_custkey""".stripMargin),

    Gate("q_case_date_arith", { (s, dir) =>
      // CASE classification + date arithmetic (datediff/year/quarter)
      tbl(s, dir, "orders").select(
          col("o_orderkey"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("age_days"),
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
            .when(col("o_orderpriority") === "3-MEDIUM", "normal")
            .otherwise("low").as("class"),
          round(col("o_totalprice") * 0.1, 4).as("fee"),
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
        |  datediff('day', o_orderdate, TIMESTAMP '2002-01-01') AS age_days,
        |  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
        |       WHEN o_orderpriority = '3-MEDIUM' THEN 'normal'
        |       ELSE 'low' END AS class,
        |  round(o_totalprice * 0.1, 4) AS fee,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    Gate("q_right_join_nations", { (s, dir) =>
      // RIGHT OUTER: every nation survives, customer aggregates null-fill
      // to zero — completes the join-type matrix (inner/left/full/semi/
      // anti/asof are covered elsewhere)
      tbl(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"))
        .join(tbl(s, dir, "nation").select("n_nationkey", "n_name"),
          col("c_nationkey") === col("n_nationkey"), "right")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"))
        .orderBy("n_nationkey")
    },
      """SELECT n_nationkey, n_name, coalesce(n_cust, 0) AS n_cust
        |FROM (SELECT c_nationkey, count(*) AS n_cust FROM customer
        |      GROUP BY c_nationkey) c
        |RIGHT JOIN (SELECT n_nationkey, n_name FROM nation) n
        |  ON c_nationkey = n_nationkey
        |ORDER BY n_nationkey""".stripMargin),

    Gate("q_exists_late_ship", { (s, dir) =>
      // TPC-H Q4 shape: EXISTS-correlated subquery with a non-equi
      // condition — planned as a left-semi join on the key with the date
      // predicate folded into the join condition
      val o = tbl(s, dir, "orders")
      val l = tbl(s, dir, "lineitem")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    Gate("q_having_in_bigqty", { (s, dir) =>
      // TPC-H Q18 shape: IN over an aggregated HAVING subquery — the
      // subquery reduces to (key) pairs, then a semi join; no correlated
      // re-execution
      val big = tbl(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum("l_quantity").as("qty"))
        .where(col("qty") > 120)
        .select(col("l_orderkey").as("o_orderkey"))
      tbl(s, dir, "orders")
        .join(big, Seq("o_orderkey"), "left_semi")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING sum(l_quantity) > 120)
        |ORDER BY o_orderkey""".stripMargin),

    Gate("q_rfm_segments", { (s, dir) =>
      // RFM customer segmentation over purchase events: recency in days
      // vs the corpus's last purchase date, frequency count, monetary
      // exact cents; each metric quintiled by ntile(5) over a TOTAL
      // order (metric, user_id) so bucket assignment is deterministic
      // and engine-identical. The three global ntile windows are
      // single-partition by design — user-dimension scale, the
      // q_ntile_cume precedent.
      val ev = events(s, dir).where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("d"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val agg = ev.groupBy("user_id").agg(max("d").as("last_d"),
        count(lit(1)).as("f_cnt"), sum("cents").as("m_cents"))
      val ref = ev.agg(max("d").as("ref_d"))
      agg.crossJoin(broadcast(ref))
        .withColumn("r_days", datediff(col("ref_d"), col("last_d")).cast("long"))
        .withColumn("r_b", ntile(5).over(
          Window.orderBy(col("r_days").desc, col("user_id"))).cast("long"))
        .withColumn("f_b", ntile(5).over(
          Window.orderBy(col("f_cnt"), col("user_id"))).cast("long"))
        .withColumn("m_b", ntile(5).over(
          Window.orderBy(col("m_cents"), col("user_id"))).cast("long"))
        .withColumn("segment", col("r_b") * 100 + col("f_b") * 10 + col("m_b"))
        .select("user_id", "r_days", "f_cnt", "m_cents", "r_b", "f_b",
          "m_b", "segment")
        .orderBy("user_id")
    },
      // identical total orders under ntile(5); datediff ≡
      // date_diff('day', a, b); exact cents
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT user_id, max(d) AS last_d,
        |    CAST(count(*) AS BIGINT) AS f_cnt,
        |    CAST(sum(cents) AS BIGINT) AS m_cents
        |  FROM ev GROUP BY user_id),
        |r AS (SELECT *, CAST(date_diff('day', last_d,
        |    (SELECT max(d) FROM ev)) AS BIGINT) AS r_days FROM a),
        |b AS (SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY r_days DESC, user_id) AS BIGINT)
        |      AS r_b,
        |    CAST(ntile(5) OVER (ORDER BY f_cnt, user_id) AS BIGINT) AS f_b,
        |    CAST(ntile(5) OVER (ORDER BY m_cents, user_id) AS BIGINT) AS m_b
        |  FROM r)
        |SELECT user_id, r_days, f_cnt, m_cents, r_b, f_b, m_b,
        |  r_b * 100 + f_b * 10 + m_b AS segment
        |FROM b ORDER BY user_id""".stripMargin),

    Gate("q_percentile_disc", { (s, dir) =>
      // exact DISCRETE percentiles (type-1 order statistics) per group:
      // the element at rank ceil(p·n) — an actual data value, so
      // arbitrary p is cross-engine-safe where interpolated quantiles
      // are not (the CLAUDE invariant: only p50 midpoints of BIGINTs
      // are ulp-safe). r16: the raw-row row_number().over(partitionBy(
      // flag)) lane shuffled the whole fact table into 3 partitions
      // (parallelism capped at the group count — the r15 weak); now the
      // distinct-value CDF rank lane (Percentiles.exactDiscrete, the
      // q_percentiles discipline): one partial-aggregated corpus
      // shuffle, sort window over the DISTINCT table only, target
      // ranks ceil(p·n) = (num·n + den − 1) div den on a broadcast.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      Percentiles.exactDiscrete(li, "flag", "cents",
          Seq((1, 4, "p25_cents"), (1, 2, "p50_cents"), (9, 10, "p90_cents")))
        .orderBy("flag")
    },
      // identical integer rank arithmetic: ceil(a*n/b) = (a*n+b-1)//b
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (SELECT flag, cents,
        |    CAST(row_number() OVER (PARTITION BY flag ORDER BY cents)
        |      AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM li)
        |SELECT flag, max(n) AS n_rows,
        |  max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS p25_cents,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents
        |FROM r GROUP BY flag ORDER BY flag""".stripMargin),

    Gate("q_weighted_median", { (s, dir) =>
      // weighted order statistics per group: the lower/upper WEIGHTED
      // median of price-cents with quantity weights — the smallest value
      // whose cumulative weight reaches half the group total. All
      // integer: cents and qty are exact BIGINTs, the crossing test is
      // `2·cumw >= totw` (never 0.5·totw). r16: the raw-row cumulative
      // RANGE window (a per-group whole-partition pass over fact rows —
      // the q_percentile_disc weak class) is now the distinct-value
      // lane (Percentiles.weightedMedian): weights fold map-side into
      // per-(flag, cents) sums, the cumulative window spans per-group
      // DISTINCT cardinality, totals ride a broadcast. Identical
      // row-for-row — the distinct-table cumw at value v IS the RANGE
      // frame's shared-peer cumw.
      val li = tbl(s, dir, "lineitem").select(
        col("l_returnflag").as("flag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"))
      Percentiles.weightedMedian(li, "flag", "cents", "qty",
          "total_weight", "wmed_lo_cents", "wmed_hi_cents")
        .orderBy("flag")
    },
      // same integer crossing test; RANGE frame pins peer handling,
      // CASTs collapse DuckDB's HUGEINT sums back to BIGINT
      """WITH li AS (SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(round(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem),
        |tot AS (SELECT flag, CAST(sum(qty) AS BIGINT) AS totw
        |  FROM li GROUP BY flag),
        |c AS (SELECT flag, cents, CAST(sum(qty) OVER (
        |      PARTITION BY flag ORDER BY cents
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cumw
        |  FROM li)
        |SELECT c.flag, max(totw) AS total_weight,
        |  min(CASE WHEN 2 * cumw >= totw THEN cents END) AS wmed_lo_cents,
        |  min(CASE WHEN 2 * cumw > totw THEN cents END) AS wmed_hi_cents
        |FROM c JOIN tot ON c.flag = tot.flag
        |GROUP BY c.flag ORDER BY c.flag""".stripMargin),

    Gate("q_assoc_rules", { (s, dir) =>
      // market-basket association rules over co-purchased parts:
      // directed rules a→b with support (co-basket count, from the
      // basket-collect cooccurrence shape — ONE collect_set shuffle +
      // map-side pair explode, never a basket self-join), confidence
      // = support/n(a) and lift = support·N/(n(a)·n(b)), both in exact
      // integer ppm (1e6-scaled floor division — no float ratios cross
      // engines). Item base counts and the basket total come from the
      // same distinct (basket, item) projection; the pair subtree is
      // the MEMOIZED co-purchase edge fixture (r16 — same
      // cooccurrenceEdges(lineitem, orderkey, partkey, minSupport=2)
      // call the graph family shares; this query rebuilt an identical
      // private copy, ~5 CPU s of duplicate fixture at sf0.1), already
      // checkpointed so the two rule directions don't re-plan it (the
      // Union-replans-the-subtree trap). Overflow headroom:
      // 1e6·support·N ≤ ~1e15 at sf0.1 « 2⁶³.
      val li = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val pairs = copurchaseEdges(s, dir)
      val base = li.distinct()
      val itemN = base.groupBy("pk").agg(count(lit(1)).as("n_item"))
      val totB = base.select("ok").distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val rules = pairs.select(col("u").as("a"), col("v").as("b"),
          col("support"))
        .unionAll(pairs.select(col("v").as("a"), col("u").as("b"),
          col("support")))
      rules
        .join(itemN.select(col("pk").as("a"), col("n_item").as("n_a")),
          Seq("a"))
        .join(itemN.select(col("pk").as("b"), col("n_item").as("n_b")),
          Seq("b"))
        .crossJoin(broadcast(totB))
        .withColumn("conf_ppm", expr("(1000000 * support) div n_a"))
        .withColumn("lift_ppm",
          expr("(1000000 * support * n_baskets) div (n_a * n_b)"))
        .select("a", "b", "support", "n_a", "n_b", "conf_ppm", "lift_ppm")
        .orderBy("a", "b")
    },
      // distinct (basket, item) base; pair support via the u<v
      // self-join; HUGEINT counts cast back; ppm = 1e6 floor division
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |p AS (SELECT a.pk AS u, b.pk AS v,
        |    CAST(count(*) AS BIGINT) AS support
        |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |n AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_item
        |  FROM lp GROUP BY pk),
        |tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_baskets
        |  FROM lp),
        |r AS (SELECT u AS a, v AS b, support FROM p
        |  UNION ALL SELECT v AS a, u AS b, support FROM p)
        |SELECT r.a, r.b, r.support, na.n_item AS n_a, nb.n_item AS n_b,
        |  (1000000 * r.support) // na.n_item AS conf_ppm,
        |  (1000000 * r.support * tot.n_baskets)
        |    // (na.n_item * nb.n_item) AS lift_ppm
        |FROM r JOIN n na ON na.pk = r.a JOIN n nb ON nb.pk = r.b, tot
        |ORDER BY a, b""".stripMargin),

    Gate("q_cohort_ltv", { (s, dir) =>
      // cohort lifetime-value curves: users cohorted by FIRST-event
      // epoch-week, purchase revenue accumulated per cohort over
      // week-age, reported as exact cumulative cents and floor-divided
      // cents-per-user. Week index = epoch-seconds div 604800 on both
      // engines (never date_trunc — the events span ~1 month, so weekly
      // cohorts give a real curve where monthly would give one row).
      // Cohort sizes ride a broadcast; the running sum's window is
      // (cohort × age) — metadata scale.
      val ev = events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 604800").as("wk"),
        col("event_type"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val first = ev.groupBy("user_id").agg(min("wk").as("w0"))
      val sizes = first.groupBy("w0").agg(count(lit(1)).as("n_users"))
      val rev = ev.where(col("event_type") === "purchase")
        .join(first, Seq("user_id"))
        .withColumn("age", col("wk") - col("w0"))
        .groupBy("w0", "age").agg(sum("cents").as("week_cents"))
      rev
        .withColumn("cum_cents", sum("week_cents").over(
          Window.partitionBy("w0").orderBy("age")
            .rangeBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(sizes), Seq("w0"))
        .withColumn("ltv_cents", expr("cum_cents div n_users"))
        .select(col("w0").as("cohort_week"), col("age"), col("n_users"),
          col("cum_cents"), col("ltv_cents"))
        .orderBy("cohort_week", "age")
    },
      // same epoch-week cohorting; floor(epoch()) is the event-seconds
      // invariant, floor(value·100) the cents lane
      """WITH ev AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
        |    event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
        |f AS (SELECT user_id, min(wk) AS w0 FROM ev GROUP BY user_id),
        |sz AS (SELECT w0, CAST(count(*) AS BIGINT) AS n_users
        |  FROM f GROUP BY w0),
        |rev AS (SELECT f.w0, ev.wk - f.w0 AS age,
        |    CAST(sum(cents) AS BIGINT) AS week_cents
        |  FROM ev JOIN f ON ev.user_id = f.user_id
        |  WHERE ev.event_type = 'purchase'
        |  GROUP BY f.w0, ev.wk - f.w0),
        |c AS (SELECT w0, age, CAST(sum(week_cents) OVER (
        |      PARTITION BY w0 ORDER BY age
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS cum_cents
        |  FROM rev)
        |SELECT c.w0 AS cohort_week, c.age, sz.n_users, c.cum_cents,
        |  c.cum_cents // sz.n_users AS ltv_cents
        |FROM c JOIN sz ON c.w0 = sz.w0
        |ORDER BY cohort_week, age""".stripMargin),

    Gate("q_attribution", { (s, dir) =>
      // last-touch marketing attribution: each purchase is credited to
      // the most recent PRECEDING click/view by the same user within a
      // 30-min lookback; older or absent touches credit 'none'. The
      // candidate touch rides as ONE packed BIGINT (sec·4 + type code)
      // through last(IGNORE NULLS) over a ROWS frame ending 1 PRECEDING
      // — exact integers end-to-end, and the (sec, event_id) order
      // makes "most recent" deterministic under same-second ties.
      // Revenue stays exact via floor(value·100) cents. One window
      // shuffle on user_id + a 3-row agg.
      val ev = events(s, dir).select(
        col("user_id"), col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"),
        expr("CAST(floor(value * 100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val packed = when(col("event_type") === "click", col("sec") * 4 + 1)
        .when(col("event_type") === "view", col("sec") * 4 + 2)
      ev.withColumn("touch", last(packed, ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .withColumn("attr",
          when(col("touch").isNull ||
            col("sec") - expr("touch div 4") > 1800, lit("none"))
          .when(expr("touch % 4") === 1, lit("click"))
          .otherwise(lit("view")))
        .groupBy("attr")
        .agg(count(lit(1)).as("n_purchases"),
          sum("cents").as("revenue_cents"))
        .orderBy("attr")
    },
      // same packed-BIGINT last-touch carry; floor(epoch()) pins the
      // fractional-seconds invariant, floor(value*100) the cents lane
      """WITH ev AS (SELECT user_id, event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |t AS (SELECT *, last_value(
        |      CASE WHEN event_type = 'click' THEN sec * 4 + 1
        |           WHEN event_type = 'view' THEN sec * 4 + 2 END
        |      IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY sec, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM ev),
        |p AS (SELECT CASE
        |      WHEN touch IS NULL OR sec - touch // 4 > 1800 THEN 'none'
        |      WHEN touch % 4 = 1 THEN 'click' ELSE 'view' END AS attr,
        |    cents
        |  FROM t WHERE event_type = 'purchase')
        |SELECT attr, CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM p GROUP BY attr ORDER BY attr""".stripMargin))

  /** Exponentially time-decayed popularity, shared VERBATIM by the batch
    * q_decay_popularity and streaming q_decay_popularity_stream (trailing
    * per-day count state, final global horizon cut) gate queries.
    * CAST(ts AS DATE) on the NTZ micros lane ≡ Spark to_date under the
    * UTC session; 2^(30−age) via BIGINT shift, no float pow. */
  private val decayPopularityOracleSql: String =
    """WITH e AS (SELECT CAST(ts AS DATE) AS d, event_type FROM events),
      |m AS (SELECT max(d) AS maxd FROM e),
      |x AS (SELECT event_type,
      |    date_diff('day', d, maxd) AS age FROM e, m
      |  WHERE date_diff('day', d, maxd) <= 30)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(1 AS BIGINT) << CAST(30 - age AS INTEGER))
      |    AS BIGINT) AS decay_score
      |FROM x GROUP BY event_type
      |ORDER BY decay_score DESC, event_type""".stripMargin
}
