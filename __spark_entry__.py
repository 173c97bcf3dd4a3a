"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator inventory (SURVEY.md §2 + the
training-data-pipeline operators) over the driver's testdata tables;
``oracle_sql()`` provides the DuckDB ground truth for each. Every computed
column is aliased identically on both sides. Queries are pure-Catalyst
DataFrame plans except where a vectorized pandas UDF is the point of the
operator (URL canonicalization), in which case the package zip is shipped to
executors via addPyFile.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cord19_crawler_spark import write_package_zip  # noqa: E402
from cord19_crawler_spark.functions.hashes import (  # noqa: E402
    MINHASH_PRIME,
    md5_long56,
    md5_long56_sql,
    minhash_expr,
    minhash_expr_sql,
    minhash_params,
)
from cord19_crawler_spark.operators.spread import (  # noqa: E402, F401
    _SCAN_UNITS_CAP,
    _scan_units,
    spread_input,
)

_PKG_ZIP = None
# (applicationId, zip) of the last addPyFile: one add per SparkContext
_SHIPPED = None


def _ensure_workers(spark: SparkSession) -> None:
    """Ship the package to executor Python workers (addPyFile), so pandas
    UDFs defined in the package deserialize there. Equivalent of
    ``spark-submit --py-files`` for a driver that didn't pass it; ships
    once per SparkContext. A caller may preset ``_PKG_ZIP`` to ship a zip
    it built elsewhere."""
    global _PKG_ZIP, _SHIPPED
    if _PKG_ZIP is None:
        _PKG_ZIP = write_package_zip(
            os.path.join("/tmp", "cord19_crawler_spark_pkg.zip")
        )
    shipped = (spark.sparkContext.applicationId, _PKG_ZIP)
    if _SHIPPED != shipped:
        spark.sparkContext.addPyFile(_PKG_ZIP)
        _SHIPPED = shipped


# Input-skew guard: the sf* test tables are SINGLE-ROW-GROUP parquet
# files, so the big fact tables are spread by their unique key right after
# the scan (``operators.spread.spread_input`` holds the rule).
_SPREAD_KEY = {
    "documents": "doc_id",
    "orders": "o_orderkey",
    "events": "event_id",
}


def _t(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = True
) -> DataFrame:
    """``spread=False`` opts a query out of the input-skew guard: for
    narrow-key aggregate shapes (a handful of grouping keys, trivial
    per-row work) the map-side partial aggregate already collapses the
    scan output, and exchanging the full rows first costs more than the
    single-task scan saves — measured +0.2..1.0s per light query at
    sf1.0.  Queries with heavy scan-side kernels (regex tokenizers, gram
    builders, JSON/HTML parsing) keep the default."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    key = _SPREAD_KEY.get(name)
    if key is None or not spread:
        return df
    return spread_input(df, key)


# ---------------------------------------------------------------------------
# 1. Relational coverage (scans, joins, aggs, windows, sorts, sets)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape — flagship scan+agg (A1/A11 analogue). Catalyst does
    partial+final hash agg; filter + 7-column projection push into the
    parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)       AS sum_qty,
       round(sum(l_extendedprice), 2)  AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 2)       AS avg_qty,
       count(*)                        AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_top_orders(spark, sf_dir):
    """Customer×orders×lineitem join chain + agg + top-k (J1/A9-shape/O3)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


_Q3_SQL = """
SELECT o_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY o_orderkey
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q5_revenue_by_nation(spark, sf_dir):
    """Five-table join chain: region→nation→customer→orders→lineitem."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders", spread=False)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


_Q5_SQL = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def rollup_revenue(spark, sf_dir):
    """ROLLUP grouping sets: revenue at (region, nation), (region), () —
    beyond the reference's operator set; Catalyst Expand + hash agg."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("r_name", "n_name")
    )


_ROLLUP_SQL = """
SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY r_name, n_name
"""


def pivot_qty_by_linestatus(spark, sf_dir):
    """Pivot: quantity by returnflag × linestatus (explicit value list so
    the output schema is static — the scale-safe pivot form)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .orderBy("l_returnflag")
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS "O",
       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS "F"
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def broadcast_dim_join(spark, sf_dir):
    """J1: fact×small-dim broadcast hash join, agg by brand."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


_BROADCAST_SQL = """
SELECT p_brand, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


def anti_join_no_orders(spark, sf_dir):
    """J2 (the URL-seen operator shape): left_anti — customers without any
    urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_ANTI_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def semi_join_big_spenders(spark, sf_dir):
    """J6: left_semi — customers having at least one big order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


_SEMI_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def window_topk_orders_per_customer(spark, sf_dir):
    """W3/O3: top-3 orders per customer (custkey<100) by totalprice."""
    o = _t(spark, sf_dir, "orders", spread=False).filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rank")
    )


_WTOPK_SQL = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
  FROM orders WHERE o_custkey < 100
) WHERE rank <= 3
"""


def global_rank_suppliers(spark, sf_dir):
    """W1: global rank by acctbal desc (barrel W1 analogue), top 50.
    Two-phase global rank (operators/ranking.py) — no single-reducer
    window over the suppliers table."""
    from cord19_crawler_spark.operators.ranking import global_row_number

    s = _t(spark, sf_dir, "supplier")
    ranked = global_row_number(
        s, [F.desc("s_acctbal"), F.asc("s_suppkey")], name="rank"
    )
    return (
        ranked.filter(F.col("rank") <= 50)
        .select("rank", "s_suppkey", F.round("s_acctbal", 2).alias("acctbal"))
    )


_GRANK_SQL = """
SELECT rank, s_suppkey, round(s_acctbal, 2) AS acctbal FROM (
  SELECT CAST(row_number() OVER (ORDER BY s_acctbal DESC, s_suppkey ASC) AS INTEGER) AS rank,
         s_suppkey, s_acctbal
  FROM supplier
) WHERE rank <= 50
"""


def minmax_per_nation(spark, sf_dir):
    """O7: min/max per group through a join."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.min("s_acctbal"), 2).alias("min_bal"),
            F.round(F.max("s_acctbal"), 2).alias("max_bal"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
        .orderBy("n_name")
    )


_MINMAX_SQL = """
SELECT n_name, round(min(s_acctbal), 2) AS min_bal,
       round(max(s_acctbal), 2) AS max_bal, count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def union_order_classes(spark, sf_dir):
    """U1: unionByName of two tagged slices + agg."""
    o = _t(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 150000).withColumn("class", F.lit("high"))
    lo = o.filter(F.col("o_totalprice") < 20000).withColumn("class", F.lit("low"))
    return (
        hi.unionByName(lo)
        .groupBy("class", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("class", "o_orderpriority")
    )


_UNION_SQL = """
SELECT class, o_orderpriority, count(*) AS n_orders FROM (
  SELECT 'high' AS class, o_orderpriority FROM orders WHERE o_totalprice > 150000
  UNION ALL
  SELECT 'low'  AS class, o_orderpriority FROM orders WHERE o_totalprice < 20000
) GROUP BY class, o_orderpriority ORDER BY class, o_orderpriority
"""


def split_explode_types(spark, sf_dir):
    """P6: multi-value split + explode (sha ';' split analogue)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(F.split(F.col("p_type"), " ")).alias("type_word"))
        .filter(F.col("type_word") != "")
        .groupBy("type_word")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("type_word")
    )


_SPLIT_SQL = """
SELECT type_word, count(*) AS n_parts
FROM (SELECT unnest(string_split(p_type, ' ')) AS type_word FROM part)
WHERE type_word <> ''
GROUP BY type_word ORDER BY type_word
"""


def coalesce_fallback(spark, sf_dir):
    """P10: coalesce chain (pdf→pmc→abstract analogue)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.coalesce(
                F.nullif(F.col("o_orderstatus"), F.lit("O")),
                F.col("o_orderpriority"),
            ).alias("status_or_priority")
        )
        .groupBy("status_or_priority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status_or_priority")
    )


_COALESCE_SQL = """
SELECT coalesce(nullif(o_orderstatus, 'O'), o_orderpriority) AS status_or_priority,
       count(*) AS n
FROM orders GROUP BY 1 ORDER BY 1
"""


def events_hourly_rollup(spark, sf_dir):
    """Event-time rollup: truncate to hour, agg per type."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min idle gap): lag + cumulative sum —
    the window-in-disguise pattern (W-class) on the events stream table."""
    e = _t(spark, sf_dir, "events", spread=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    with_gap = e.withColumn(
        "new_session",
        (F.coalesce(epoch - F.lag(epoch).over(w), F.lit(10**9)) > 1800).cast("int"),
    )
    sessions = with_gap.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_SESSION_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL THEN 1
              WHEN epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


def events_session_window(spark, sf_dir):
    """Native session windows (F.session_window, 30-min gap): the
    streaming-first sessionization operator — identical semantics to the
    lag+cumsum formulation (events_sessionize) but expressed as Spark's
    built-in session window, which also runs under Structured Streaming
    with a watermark. Oracle reconstructs sessions via gap/cumsum and
    emits the same [start, last_event + gap) bounds."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


_SESSION_WINDOW_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL THEN 1
              WHEN epoch(ts) - lag(epoch(ts)) OVER w >= 1800 THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id < 40
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_start
"""


def events_json_props(spark, sf_dir):
    """S3 JSON parse in relational form: extract props.k, agg per type."""
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_EVENTS_JSON_SQL = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
       max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_range_join(spark, sf_dir):
    """Range join (beyond the reference's equi-only joins — the politeness
    min-delay predicate generalized): first 'purchase' within 30 min after
    each 'click', per user. Equi key (user_id) + range predicate; Spark
    plans SMJ on the key with the range as a post-filter + min-agg."""
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("buy_id"), F.col("ts").alias("buy_ts")
    )
    joined = clicks.join(buys, "user_id").filter(
        (F.col("buy_ts") > F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    return (
        joined.groupBy("user_id", "click_id")
        .agg(F.min(F.struct("buy_ts", "buy_id"))["buy_id"].alias("first_buy_id"))
        .orderBy("user_id", "click_id")
    )


_RANGE_JOIN_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), buys AS (
  SELECT user_id, event_id AS buy_id, ts AS buy_ts
  FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT c.user_id, c.click_id, b.buy_id, b.buy_ts
  FROM clicks c JOIN buys b ON c.user_id = b.user_id
  WHERE b.buy_ts > c.click_ts AND b.buy_ts <= c.click_ts + INTERVAL 30 MINUTE
)
SELECT user_id, click_id,
       (min({'ts': buy_ts, 'id': buy_id})).id AS first_buy_id
FROM joined GROUP BY user_id, click_id ORDER BY user_id, click_id
"""


def events_asof_join(spark, sf_dir):
    """AS-OF JOIN (beyond Spark's operator set — brief-listed custom op):
    for each click, the value of the user's most recent purchase at or
    before the click. Spark-side: the union-tag composition
    (operators/asof.py — one shuffle, no range explosion); oracle: DuckDB's
    NATIVE ASOF LEFT JOIN, so the semantics are checked against a first-
    class implementation."""
    from cord19_crawler_spark.operators.asof import asof_join_backward

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    buys = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("last_purchase_value"))  # unique per (key, ts)
    )
    out = asof_join_backward(
        clicks, buys, ["user_id"], "ts", "ts", ["last_purchase_value"]
    )
    return out.select("user_id", "click_id", "last_purchase_value")


_ASOF_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'
), buys AS (
  SELECT user_id, ts, max(value) AS last_purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT c.user_id, c.click_id, b.last_purchase_value
FROM clicks c ASOF LEFT JOIN buys b
  ON c.user_id = b.user_id AND c.ts >= b.ts
"""


def events_asof_null_payload(spark, sf_dir):
    """AS-OF with NULLABLE payload + row integrity, vs DuckDB's native ASOF:
    the matched right row must win AS A ROW — a genuinely-NULL payload value
    stays NULL (not resurrected from an older row) and the second payload
    column (the matched row's own ts) can never mix with another row's
    value. Pins the struct-payload carry in operators/asof.py."""
    from cord19_crawler_spark.operators.asof import asof_join_backward

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    buys = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v"))
        .select(
            "user_id",
            "ts",
            # deterministically NULL ~20% of payloads (value-derived, so
            # nulls vary WITHIN a user's purchase timeline)
            F.when(
                F.round(F.col("v") * 100).cast("long") % 5 == 0,
                F.lit(None).cast("double"),
            )
            .otherwise(F.col("v"))
            .alias("pv"),
            F.col("ts").alias("src_ts"),
        )
    )
    out = asof_join_backward(
        clicks, buys, ["user_id"], "ts", "ts", ["pv", "src_ts"]
    )
    return out.select("user_id", "click_id", "pv", "src_ts")


_ASOF_NULL_SQL = """
WITH clicks AS (
  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'
), buys AS (
  SELECT user_id, ts,
         CASE WHEN CAST(round(v * 100) AS BIGINT) % 5 = 0 THEN NULL ELSE v END AS pv,
         ts AS src_ts
  FROM (
    SELECT user_id, ts, max(value) AS v
    FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
  )
)
SELECT c.user_id, c.click_id, b.pv, b.src_ts
FROM clicks c ASOF LEFT JOIN buys b
  ON c.user_id = b.user_id AND c.ts >= b.ts
"""


def running_total_per_customer(spark, sf_dir):
    """C6 shape: prefix-sum window (running revenue per customer <50)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2)
       AS running_total
FROM orders WHERE o_custkey < 50
"""


# ---------------------------------------------------------------------------
# 2. Search-engine family (documents table): lexicon, postings, TF-IDF, ...
# ---------------------------------------------------------------------------

def _stops_sql() -> str:
    from cord19_crawler_spark.functions.text import STOPWORDS

    return ", ".join(f"'{w}'" for w in STOPWORDS)


# Mirrors indexing.tokens_from_text EXACTLY (the library index tokenizer):
# [a-z0-9]{2,} runs from lowercased text (punctuation splits off, like the
# reference's spaCy + is_punct drop), pos assigned BEFORE the drop filters,
# then standalone digit runs and stopwords dropped (is_stop/like_num,
# reference src/crawler.py:190-193).
_TOKENS_CTE = f"""
tokens AS (
  SELECT doc_id, CAST(t.pos - 1 AS INTEGER) AS pos, t.word
  FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}')) AS word,
           generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}'), 1) AS pos
    FROM documents
  ) t(doc_id, word, pos)
  WHERE NOT regexp_matches(t.word, '^[0-9]+$')
    AND t.word NOT IN ({_stops_sql()})
)
"""


def _tokens(spark, sf_dir):
    # the LIBRARY tokenizer, not a local replica — the driver gate then
    # checks indexing.tokens_from_text itself against _TOKENS_CTE
    from cord19_crawler_spark.operators.indexing import tokens_from_text

    return tokens_from_text(_t(spark, sf_dir, "documents"))


def lexicon_first_encounter(spark, sf_dir):
    """A2: deterministic first-encounter word ids (reference arrival-order
    ids made parallelism-proof via min-first-position rank)."""
    toks = _tokens(spark, sf_dir)
    from cord19_crawler_spark.operators.ranking import global_row_number

    stats = toks.groupBy("word").agg(
        F.min(F.col("doc_id") * 100000 + F.col("pos")).alias("first_key"),
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("total_count"),
    )
    ranked = global_row_number(
        stats, [F.asc("first_key"), F.asc("word")], name="word_id"
    )
    return ranked.select("word", "word_id", "doc_freq", "total_count")


_LEXICON_SQL = f"""
WITH {_TOKENS_CTE},
stats AS (
  SELECT word, min(doc_id * 100000 + pos) AS first_key,
         count(DISTINCT doc_id) AS doc_freq, count(*) AS total_count
  FROM tokens GROUP BY word
)
SELECT word, CAST(row_number() OVER (ORDER BY first_key, word) AS INTEGER) AS word_id,
       doc_freq, total_count
FROM stats
"""


def postings_tf(spark, sf_dir):
    """A1: term-frequency postings (word, doc_id, tf)."""
    return (
        _tokens(spark, sf_dir)
        .groupBy("word", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


_POSTINGS_SQL = f"""
WITH {_TOKENS_CTE}
SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
"""


def word_stats_query(spark, sf_dir):
    """A5: per-word doc_freq + total_freq over postings."""
    p = postings_tf(spark, sf_dir)
    return p.groupBy("word").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.sum("tf").alias("total_freq"),
    )


_WORD_STATS_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id)
SELECT word, count(DISTINCT doc_id) AS doc_freq, CAST(sum(tf) AS BIGINT) AS total_freq
FROM postings GROUP BY word
"""

def forward_index_rows(spark, sf_dir):
    """A4 forward index (doc → ordered word list, src/index.py:89-93) in
    exploded scalar form (doc_id, seq, word): order restored via
    sort_array over (pos, word) structs, so the result is deterministic at
    any parallelism; oracle renumbers the kept tokens per doc."""
    from cord19_crawler_spark.operators.indexing import forward_index

    toks = _tokens(spark, sf_dir).filter(F.col("doc_id") < 100)
    fi = forward_index(toks)
    return fi.select("doc_id", F.posexplode("words").alias("seq", "word"))


_FWD_INDEX_SQL = f"""
WITH {_TOKENS_CTE}
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos, word) - 1
            AS INTEGER) AS seq,
       word
FROM tokens WHERE doc_id < 100
"""


_QUERY_TERMS = ["spark", "window", "fast"]


def tfidf_multiword_search(spark, sf_dir):
    """A9+A10+O3: the reference's multi-word TF-IDF ranking formula
    (src/multiwordSearch.py:115-131) over the documents table, top-20."""
    from cord19_crawler_spark.operators.search import tfidf_search

    d = _t(spark, sf_dir, "documents")
    p = postings_tf(spark, sf_dir)
    # pass the docs DF: N is counted INSIDE the plan (broadcast 1-row agg),
    # so the query is one Spark job — no separate driver .count() action
    return tfidf_search(p, _QUERY_TERMS, d, k=20)


_TFIDF_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id),
total AS (SELECT count(*) AS n FROM documents),
terms AS (SELECT unnest(['spark','window','fast']) AS word),
hits AS (
  SELECT p.word AS term, p.doc_id, max(p.tf) AS f
  FROM postings p JOIN terms t ON p.word = t.word
  GROUP BY p.word, p.doc_id
),
dfs AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM hits GROUP BY term),
scored AS (
  SELECT h.doc_id,
         (CASE WHEN h.f > 1 THEN 1.0 + ln(h.f) ELSE 1.0 END) *
         (ln((total.n + 1.0) / (d.term_df + 1.0)) + 1.0) AS tfidf
  FROM hits h JOIN dfs d USING (term) CROSS JOIN total
),
combined AS (
  SELECT doc_id, sum(tfidf) AS base, count(*) AS matched_terms
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       round(base * (CASE WHEN matched_terms > 1
                          THEN 1.0 + 0.1 * (matched_terms - 1) ELSE 1.0 END), 6) AS score,
       CAST(matched_terms AS INTEGER) AS matched_terms
FROM combined
ORDER BY score DESC, doc_id ASC
LIMIT 20
"""


def tfidf_all_matches(spark, sf_dir):
    """The serving layer's total_hits path (serving.py /api/search):
    ``tfidf_search(k=None)`` returns EVERY matched doc score-ordered, so
    top-k and the reference's ``total_found`` (len(combined),
    src/multiwordSearch.py:154) derive from ONE cached frame. Oracled with
    the full (un-LIMITed) result set."""
    from cord19_crawler_spark.operators.search import tfidf_search

    d = _t(spark, sf_dir, "documents")
    p = postings_tf(spark, sf_dir)
    return tfidf_search(p, _QUERY_TERMS, d, k=None)


# identical scoring pipeline, no LIMIT — string-derived so the two oracles
# can never drift apart
_TFIDF_ALL_SQL = _TFIDF_SQL.rsplit("LIMIT", 1)[0]


def bm25_search_topk(spark, sf_dir):
    """Okapi BM25 top-20 (Robertson et al. TREC-3; Lucene idf variant)
    over the same postings and query terms as tfidf_multiword_search —
    the length-normalized, tf-saturating upgrade of the reference's
    formula. N and avgdl are computed INSIDE the plan (1-row broadcast
    aggregates); the oracle replays doclen/df/idf and the full scoring
    sum, with the rounded-score + doc_id tiebreak pinning the limit."""
    from cord19_crawler_spark.operators.search import bm25_search

    d = _t(spark, sf_dir, "documents")
    p = postings_tf(spark, sf_dir)
    return bm25_search(p, _QUERY_TERMS, d, k1=1.2, b=0.75, k=20)


_BM25_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), doclens AS (
  SELECT doc_id, sum(tf) AS doclen FROM postings GROUP BY doc_id
), consts AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         CAST((SELECT sum(tf) FROM postings) AS DOUBLE)
           / (SELECT count(*) FROM documents) AS avgdl
), hits AS (
  SELECT * FROM postings
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), dfs AS (
  SELECT word, count(DISTINCT doc_id) AS term_df FROM hits GROUP BY word
)
SELECT h.doc_id,
  round(sum(
    ln(1 + (c.n - d.term_df + 0.5) / (d.term_df + 0.5))
    * (h.tf * 2.2)
    / (h.tf + 1.2 * (1 - 0.75 + 0.75 * l.doclen / c.avgdl))
  ), 6) AS score,
  CAST(count(*) AS INTEGER) AS matched_terms
FROM hits h JOIN dfs d USING (word) JOIN doclens l USING (doc_id), consts c
GROUP BY h.doc_id
ORDER BY score DESC, h.doc_id
LIMIT 20
"""


_ZIPF_TOP_N = 500


def zipf_fit_q(spark, sf_dir):
    """Zipf rank-frequency fit over the top-500 vocabulary: LS slope and
    intercept of ln(freq) vs ln(rank) via explicit normal-equation sums
    (no engine regression aggregate) — the corpus-health diagnostic that
    flags template/spam-flattened frequency curves. Ranks pinned by
    (freq desc, word asc)."""
    from cord19_crawler_spark.operators.termstats import zipf_fit

    return zipf_fit(_tokens(spark, sf_dir), top_n=_ZIPF_TOP_N)


_ZIPF_SQL = f"""
WITH {_TOKENS_CTE},
freqs AS (
  SELECT word, count(*) AS freq FROM tokens GROUP BY word
  ORDER BY freq DESC, word LIMIT {_ZIPF_TOP_N}
), ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, word) AS rank
  FROM freqs
), xy AS (
  SELECT ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y
  FROM ranked
)
SELECT CAST(count(*) AS BIGINT) AS n_words,
       CASE WHEN count(*) >= 2 THEN
         round((count(*) * sum(x * y) - sum(x) * sum(y))
               / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) END AS slope,
       CASE WHEN count(*) >= 2 THEN
         round((sum(y) - ((count(*) * sum(x * y) - sum(x) * sum(y))
                          / (count(*) * sum(x * x) - sum(x) * sum(x)))
                         * sum(x)) / count(*), 6) END AS intercept
FROM xy
"""


def proximity_min_span_q(spark, sf_dir):
    """Proximity retrieval (minimal cover span, Clarke et al. cover
    density): docs containing ALL three query terms ranked by the
    smallest position window covering one occurrence of each, computed
    in one ordered pass via per-term conditional running maxes. The
    oracle replays the same windowed scan with SQL window functions."""
    from cord19_crawler_spark.operators.search import proximity_min_span

    return proximity_min_span(_tokens(spark, sf_dir), _QUERY_TERMS, k=20)


def _prox_sql() -> str:
    lasts = ",\n         ".join(
        f"max(CASE WHEN word = '{t}' THEN pos END) OVER wdef AS l{i}"
        for i, t in enumerate(_QUERY_TERMS)
    )
    notnull = " AND ".join(f"l{i} IS NOT NULL" for i in range(len(_QUERY_TERMS)))
    least = ", ".join(f"l{i}" for i in range(len(_QUERY_TERMS)))
    return f"""
WITH {_TOKENS_CTE},
occ AS (
  SELECT doc_id, pos, word FROM tokens
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), wl AS (
  SELECT doc_id, pos,
         {lasts}
  FROM occ
  WINDOW wdef AS (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
), spans AS (
  SELECT doc_id, pos AS end_pos, pos - least({least}) + 1 AS span
  FROM wl WHERE {notnull}
), agg AS (
  SELECT doc_id, min(span) AS min_span FROM spans GROUP BY doc_id
)
SELECT s.doc_id, CAST(a.min_span AS BIGINT) AS min_span,
       CAST(min(s.end_pos) AS BIGINT) AS best_end
FROM spans s JOIN agg a ON s.doc_id = a.doc_id AND s.span = a.min_span
GROUP BY s.doc_id, a.min_span
ORDER BY min_span, s.doc_id
LIMIT 20
"""


_BM25F_TITLE_LEN = 8
_BM25F_WEIGHTS = {"title": 2.5, "body": 1.0}
_BM25F_B = {"title": 0.5, "body": 0.75}


def bm25f_fielded_topk(spark, sf_dir):
    """BM25F fielded ranking (Robertson/Zaragoza/Taylor CIKM 2004): the
    first 8 token positions are the 'title' field (weight 2.5, b 0.5),
    the rest 'body' (1.0, 0.75); per-field length normalization and
    weighting feed ONE k1 saturation. The oracle replays field lengths,
    per-field avgdl, the any-field df/idf, and the fused scoring sum."""
    from cord19_crawler_spark.operators.search import bm25f_search

    toks = _tokens(spark, sf_dir)
    fposts = (
        toks.withColumn(
            "field",
            F.when(F.col("pos") < _BM25F_TITLE_LEN, F.lit("title")).otherwise(
                F.lit("body")
            ),
        )
        .groupBy("word", "doc_id", "field")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    d = _t(spark, sf_dir, "documents")
    return bm25f_search(
        fposts, _QUERY_TERMS, d, _BM25F_WEIGHTS, _BM25F_B, k1=1.2, k=20
    )


_BM25F_SQL = f"""
WITH {_TOKENS_CTE},
fposts AS (
  SELECT word, doc_id,
         CASE WHEN pos < {_BM25F_TITLE_LEN} THEN 'title' ELSE 'body' END AS field,
         count(*) AS tf
  FROM tokens GROUP BY 1, 2, 3
), flens AS (
  SELECT doc_id, field, sum(tf) AS flen FROM fposts GROUP BY 1, 2
), nn AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), avglens AS (
  SELECT field, CAST(sum(flen) AS DOUBLE) / (SELECT n FROM nn) AS avgfl
  FROM flens GROUP BY field
), hits AS (
  SELECT * FROM fposts
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), dfs AS (
  SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
  FROM hits GROUP BY word
), wmap AS (
  SELECT * FROM (VALUES
    ('body', {_BM25F_WEIGHTS["body"]!r}, {_BM25F_B["body"]!r}),
    ('title', {_BM25F_WEIGHTS["title"]!r}, {_BM25F_B["title"]!r})
  ) AS t(field, wf, bf)
), tfw AS (
  SELECT h.word, h.doc_id,
         sum(w.wf * h.tf / (1 - w.bf + w.bf * l.flen / a.avgfl)) AS tfw
  FROM hits h
  JOIN flens l USING (doc_id, field)
  JOIN avglens a USING (field)
  JOIN wmap w USING (field)
  GROUP BY h.word, h.doc_id
)
SELECT t.doc_id,
       round(sum(ln(1 + (nn.n - d.df + 0.5) / (d.df + 0.5))
                 * t.tfw / (1.2 + t.tfw)), 6) AS score,
       CAST(count(*) AS INTEGER) AS matched_terms
FROM tfw t JOIN dfs d USING (word), nn
GROUP BY t.doc_id
ORDER BY score DESC, t.doc_id
LIMIT 20
"""


_DIRICHLET_MU = 100.0
_RRF_K0, _RRF_K = 60, 15


def rrf_fusion_q(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al. SIGIR 2009) of the BM25
    and Dirichlet-QL runs for the same query terms: rank each FULL
    match set (rounded scores, doc_id tie-break), sum 1/(60 + rank),
    top-15 by round-9 fused score. The hybrid-search combiner; the
    oracle recomputes both runs, both rankings, and the fusion."""
    from cord19_crawler_spark.operators.search import (
        bm25_search,
        lm_dirichlet_search,
        rrf_fuse,
    )

    d = _t(spark, sf_dir, "documents")
    p = postings_tf(spark, sf_dir)
    bm = bm25_search(p, _QUERY_TERMS, d, k1=1.2, b=0.75, k=None)
    ql = lm_dirichlet_search(p, _QUERY_TERMS, mu=_DIRICHLET_MU, k=None)
    return rrf_fuse([bm, ql], k0=_RRF_K0, k=_RRF_K)


_RRF_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), doclens AS (
  SELECT doc_id, sum(tf) AS doclen FROM postings GROUP BY doc_id
), hits AS (
  SELECT * FROM postings
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), consts AS (
  SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n,
         CAST((SELECT sum(tf) FROM postings) AS DOUBLE)
           / (SELECT count(*) FROM documents) AS avgdl
), dfs AS (
  SELECT word, count(DISTINCT doc_id) AS term_df FROM hits GROUP BY word
), bm AS MATERIALIZED (
  SELECT h.doc_id,
    round(sum(
      ln(1 + (c.n - d.term_df + 0.5) / (d.term_df + 0.5))
      * (h.tf * 2.2)
      / (h.tf + 1.2 * (1 - 0.75 + 0.75 * l.doclen / c.avgdl))
    ), 6) AS score
  FROM hits h JOIN dfs d USING (word) JOIN doclens l USING (doc_id), consts c
  GROUP BY h.doc_id
), mass AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS m FROM postings
), ctf AS (
  SELECT word, CAST(sum(tf) AS DOUBLE) AS ctf FROM hits GROUP BY word
), nq AS (
  SELECT CAST(count(*) AS DOUBLE) AS nq FROM ctf
), ql AS MATERIALIZED (
  SELECT h.doc_id,
    round(sum(ln(1 + h.tf / ({_DIRICHLET_MU} * c.ctf / m.m)))
          + any_value(q.nq)
            * ln({_DIRICHLET_MU} / (l.doclen + {_DIRICHLET_MU})), 6) AS score
  FROM hits h JOIN ctf c USING (word) JOIN doclens l USING (doc_id),
       mass m, nq q
  GROUP BY h.doc_id, l.doclen
), rb AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm
), rq AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM ql
), u AS (
  SELECT doc_id, 1.0 / ({_RRF_K0} + r) AS c FROM rb
  UNION ALL
  SELECT doc_id, 1.0 / ({_RRF_K0} + r) AS c FROM rq
)
SELECT doc_id, round(sum(c), 9) AS rrf_score,
       CAST(count(*) AS INTEGER) AS runs_matched
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id
LIMIT {_RRF_K}
"""


_PHRASE = ["order", "sort"]


def phrase_search_bigram(spark, sf_dir):
    """Exact-phrase search by positional-posting intersection (IIR ch.
    2.4) for the corpus bigram 'order sort': every phrase word becomes a
    pushed-down filter on the positional token table, re-anchored as
    (doc_id, pos - i) and intersected on (doc_id, anchor); overlapping
    occurrences count separately. The oracle is an INDEPENDENT
    formulation — a positional self-join on pos adjacency."""
    from cord19_crawler_spark.operators.search import phrase_search

    return phrase_search(_tokens(spark, sf_dir), _PHRASE, k=None)


_PHRASE_SQL = f"""
WITH {_TOKENS_CTE}
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS phrase_tf
FROM tokens a JOIN tokens b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.word = '{_PHRASE[0]}' AND b.word = '{_PHRASE[1]}'
GROUP BY a.doc_id
"""


def bm25_pruned_topk(spark, sf_dir):
    """MaxScore-style two-phase threshold-pruned BM25 (Turtle & Flood
    1995, recast as a Spark bulk plan): the rarest query term seeds a
    broadcast k-th-score threshold, doclen-free per-doc upper bounds
    prune candidates BEFORE the doclen join, survivors are scored
    exactly. The oracle is the FULL unpruned BM25 SQL — result equality
    with the exhaustive plan is the operator's whole contract."""
    from cord19_crawler_spark.operators.search import bm25_search_pruned

    d = _t(spark, sf_dir, "documents")
    p = postings_tf(spark, sf_dir)
    return bm25_search_pruned(p, _QUERY_TERMS, d, k1=1.2, b=0.75, k=20)


_SPELL_QUERY = "sow"


def spelling_correction_q(spark, sf_dir):
    """Did-you-mean spelling correction (SymSpell delete-neighborhood
    candidates + exact Levenshtein verify) for the misspelling 'sow' over
    the corpus lexicon — both 'row' (substitution) and 'slow' (deletion)
    sit at distance 1, so the frequency tiebreak is value-checked. The
    oracle is an INDEPENDENT formulation: DuckDB's native levenshtein()
    over the whole lexicon (no delete index), same ranking."""
    from cord19_crawler_spark.operators.search import spelling_correction

    lex = word_stats_query(spark, sf_dir).select(
        "word", F.col("total_freq").alias("total_count")
    )
    return spelling_correction(lex, _SPELL_QUERY, max_edit=1, k=5)


_SPELL_SQL = f"""
WITH {_TOKENS_CTE},
lexicon AS (
  SELECT word, CAST(count(*) AS BIGINT) AS total_count
  FROM tokens GROUP BY word
)
SELECT word, CAST(levenshtein(word, '{_SPELL_QUERY}') AS INTEGER) AS dist,
       total_count
FROM lexicon
WHERE levenshtein(word, '{_SPELL_QUERY}') <= 1
ORDER BY dist, total_count DESC, word
LIMIT 5
"""


_SNIPPET_WINDOW = 10


def search_snippets(spark, sf_dir):
    """Best snippet window per matching doc (passage scoring, Turpin et
    al. SIGIR 2007): the width-10 token span with the most query-term
    hits, anchored at a hit, earliest-start tiebreak. Spark computes the
    argmax via a max_by comparable struct; the oracle independently via a
    row_number window — both over the same hit-anchored band join."""
    from cord19_crawler_spark.operators.search import best_snippet_windows

    return best_snippet_windows(
        _tokens(spark, sf_dir), _QUERY_TERMS, window=_SNIPPET_WINDOW
    )


_SNIPPET_SQL = f"""
WITH {_TOKENS_CTE},
hits AS (
  SELECT doc_id, pos, word FROM tokens
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), wins AS (
  SELECT a.doc_id, a.pos AS start,
         CAST(count(*) AS INTEGER) AS n_hits,
         CAST(count(DISTINCT b.word) AS INTEGER) AS n_terms
  FROM hits a JOIN hits b
    ON a.doc_id = b.doc_id
   AND b.pos >= a.pos AND b.pos < a.pos + {_SNIPPET_WINDOW}
  GROUP BY a.doc_id, a.pos
), best AS (
  SELECT doc_id, start, n_hits, n_terms,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_hits DESC, start) AS rn
  FROM wins
)
SELECT doc_id, start, n_hits AS hits, n_terms FROM best WHERE rn = 1
"""




def lm_dirichlet_topk(spark, sf_dir):
    """Query-likelihood ranking with Dirichlet-prior smoothing (Zhai &
    Lafferty SIGIR 2001) over the same postings and query terms as the
    BM25/TF-IDF rows — the language-modeling branch of the ranking
    family. The oracle replays the sparse decomposition exactly:
    collection LM from the query words' full posting mass, matched-term
    sum plus the |q|·ln(mu/(doclen+mu)) length penalty."""
    from cord19_crawler_spark.operators.search import lm_dirichlet_search

    p = postings_tf(spark, sf_dir)
    return lm_dirichlet_search(p, _QUERY_TERMS, mu=_DIRICHLET_MU, k=20)


_LM_DIRICHLET_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), doclens AS (
  SELECT doc_id, sum(tf) AS doclen FROM postings GROUP BY doc_id
), mass AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS m FROM postings
), hits AS (
  SELECT * FROM postings
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), ctf AS (
  SELECT word, CAST(sum(tf) AS DOUBLE) AS ctf FROM hits GROUP BY word
), nq AS (
  SELECT CAST(count(*) AS DOUBLE) AS nq FROM ctf
)
SELECT h.doc_id,
       round(sum(ln(1 + h.tf / ({_DIRICHLET_MU} * c.ctf / m.m)))
             + any_value(q.nq)
               * ln({_DIRICHLET_MU} / (l.doclen + {_DIRICHLET_MU})),
             6) AS score,
       CAST(count(*) AS INTEGER) AS matched_terms
FROM hits h JOIN ctf c USING (word) JOIN doclens l USING (doc_id),
     mass m, nq q
GROUP BY h.doc_id, l.doclen
ORDER BY score DESC, h.doc_id
LIMIT 20
"""


_RM3_FB_DOCS, _RM3_FB_TERMS, _RM3_LAM = 10, 10, 0.5


def rm3_expansion_q(spark, sf_dir):
    """RM3 pseudo-relevance-feedback expansion (Lavrenko & Croft 2001 /
    Abdul-Jaleel 2004) over the same postings and query terms as the
    Dirichlet-QL row: softmax doc weights over the top-10 QL scores,
    relevance-model term distribution, top-10 term cut on round-9
    weights, lambda=0.5 interpolation with the uniform query model. The
    oracle replays every stage — feedback selection, softmax, RM1 sums,
    term cut, interpolation — in chained CTEs."""
    from cord19_crawler_spark.operators.search import rm3_expansion

    p = postings_tf(spark, sf_dir)
    return rm3_expansion(
        p,
        _QUERY_TERMS,
        mu=_DIRICHLET_MU,
        fb_docs=_RM3_FB_DOCS,
        fb_terms=_RM3_FB_TERMS,
        lam=_RM3_LAM,
    )


_RM3_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), doclens AS (
  SELECT doc_id, sum(tf) AS doclen FROM postings GROUP BY doc_id
), mass AS (
  SELECT CAST(sum(tf) AS DOUBLE) AS m FROM postings
), qhits AS (
  SELECT * FROM postings
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), ctf AS (
  SELECT word, CAST(sum(tf) AS DOUBLE) AS ctf FROM qhits GROUP BY word
), nq AS (
  SELECT CAST(count(*) AS DOUBLE) AS nq FROM ctf
), fb AS MATERIALIZED (
  SELECT h.doc_id,
         round(sum(ln(1 + h.tf / ({_DIRICHLET_MU} * c.ctf / m.m)))
               + any_value(q.nq)
                 * ln({_DIRICHLET_MU} / (l.doclen + {_DIRICHLET_MU})),
               6) AS score
  FROM qhits h JOIN ctf c USING (word) JOIN doclens l USING (doc_id),
       mass m, nq q
  GROUP BY h.doc_id, l.doclen
  ORDER BY score DESC, h.doc_id
  LIMIT {_RM3_FB_DOCS}
), ex AS (
  SELECT doc_id, exp(score - (SELECT max(score) FROM fb)) AS ee FROM fb
), pd AS MATERIALIZED (
  SELECT doc_id, ee / (SELECT sum(ee) FROM ex) AS p_d FROM ex
), fbpost AS MATERIALIZED (
  SELECT p.doc_id, p.word, p.tf, pd.p_d FROM postings p JOIN pd USING (doc_id)
), fdl AS (
  SELECT doc_id, CAST(sum(tf) AS DOUBLE) AS dl FROM fbpost GROUP BY doc_id
), rm1 AS (
  SELECT word, round(sum(tf / f.dl * p_d), 9) AS p_rm1
  FROM fbpost JOIN fdl f USING (doc_id) GROUP BY word
), top AS MATERIALIZED (
  SELECT word, p_rm1 FROM rm1 ORDER BY p_rm1 DESC, word ASC
  LIMIT {_RM3_FB_TERMS}
), orig AS (
  SELECT unnest([{", ".join(f"'{t}'" for t in _QUERY_TERMS)}]) AS word,
         1.0 / {len(_QUERY_TERMS)} AS p_q
)
SELECT coalesce(o.word, t.word) AS word,
       round({_RM3_LAM} * coalesce(o.p_q, 0)
             + {1.0 - _RM3_LAM} * coalesce(t.p_rm1, 0), 6) AS weight,
       o.word IS NOT NULL AS from_query,
       t.word IS NOT NULL AS from_feedback
FROM orig o FULL JOIN top t ON o.word = t.word
"""


def conjunctive_and_search(spark, sf_dir):
    """Boolean-AND retrieval (posting-list intersection, IIR ch. 1.3)
    for the same three query terms: only docs containing ALL of them,
    ranked by total query-term mass with the weakest term's tf as the
    secondary signal. The oracle is the direct HAVING-count
    formulation."""
    from cord19_crawler_spark.operators.search import conjunctive_search

    p = postings_tf(spark, sf_dir)
    return conjunctive_search(p, _QUERY_TERMS)


_CONJUNCTIVE_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), hits AS (
  SELECT * FROM postings
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf,
       CAST(min(tf) AS BIGINT) AS min_tf
FROM hits GROUP BY doc_id HAVING count(*) = {len(_QUERY_TERMS)}
ORDER BY total_tf DESC, doc_id
"""


_CHAMPION_M = 3


def champion_list_topk(spark, sf_dir):
    """Champion-list tiered retrieval (IIR ch. 7.1.3): the index keeps
    only each word's top-3 highest-tf postings (ties to the lower doc_id)
    and the reference TF-IDF formula runs over that tier alone — dfs and
    scores therefore reflect the PRUNED posting file, which is the
    operator's contract. The oracle replays the per-word rank cut and
    the full scoring chain."""
    from cord19_crawler_spark.operators.search import (
        champion_lists,
        tfidf_search,
    )

    d = _t(spark, sf_dir, "documents")
    champs = champion_lists(postings_tf(spark, sf_dir), m=_CHAMPION_M)
    return tfidf_search(champs, _QUERY_TERMS, d, k=10)


_CHAMPION_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), champs AS (
  SELECT word, doc_id, tf FROM (
    SELECT *, row_number() OVER (PARTITION BY word
                                 ORDER BY tf DESC, doc_id) AS r
    FROM postings
  ) WHERE r <= {_CHAMPION_M}
), hits AS (
  SELECT * FROM champs
  WHERE word IN ({", ".join(f"'{t}'" for t in _QUERY_TERMS)})
), total AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), dfs AS (
  SELECT word, count(DISTINCT doc_id) AS term_df FROM hits GROUP BY word
), scored AS (
  SELECT h.doc_id,
         (CASE WHEN h.tf > 1 THEN 1.0 + ln(h.tf) ELSE 1.0 END) *
         (ln((total.n + 1.0) / (d.term_df + 1.0)) + 1.0) AS tfidf
  FROM hits h JOIN dfs d USING (word) CROSS JOIN total
), combined AS (
  SELECT doc_id, sum(tfidf) AS base, count(*) AS matched_terms
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       round(base * (CASE WHEN matched_terms > 1
                          THEN 1.0 + 0.1 * (matched_terms - 1)
                          ELSE 1.0 END), 6) AS score,
       CAST(matched_terms AS INTEGER) AS matched_terms
FROM combined
ORDER BY score DESC, doc_id
LIMIT 10
"""


_PMI_MIN_COUNT = 5


def pmi_collocations_q(spark, sf_dir):
    """PMI bigram collocation mining (Church & Hanks 1990) over the
    positional token table: directly-adjacent kept-token pairs (same
    adjacency as phrase_search), pairs under the min-count guard
    dropped, ln-PMI against the unigram language model. The oracle
    replays the adjacency self-join and the exact probability ratio."""
    from cord19_crawler_spark.operators.termstats import pmi_collocations

    return pmi_collocations(
        _tokens(spark, sf_dir), min_count=_PMI_MIN_COUNT
    )


_PMI_SQL = f"""
WITH {_TOKENS_CTE},
pairs AS (
  SELECT a.word AS w1, b.word AS w2, count(*) AS pair_count
  FROM tokens a JOIN tokens b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  GROUP BY 1, 2
), uni AS (
  SELECT word, count(*) AS c FROM tokens GROUP BY word
), consts AS (
  SELECT (SELECT CAST(sum(pair_count) AS DOUBLE) FROM pairs) AS np,
         (SELECT CAST(count(*) AS DOUBLE) FROM tokens) AS n
)
SELECT p.w1, p.w2, CAST(p.pair_count AS BIGINT) AS pair_count,
       round(ln((p.pair_count / c.np)
                / ((u1.c / c.n) * (u2.c / c.n))), 6) AS pmi
FROM pairs p JOIN uni u1 ON u1.word = p.w1
             JOIN uni u2 ON u2.word = p.w2, consts c
WHERE p.pair_count >= {_PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2
"""


def tfidf_doc_keywords_q(spark, sf_dir):
    """Top-3 TF-IDF keywords per document (the curation pipeline's
    document-tagging pass) using the reference's exact term weight; the
    per-doc rank cut lowers to WindowGroupLimit. The oracle replays df,
    the weight formula and the (weight desc, word) rank."""
    from cord19_crawler_spark.operators.termstats import tfidf_doc_keywords

    d = _t(spark, sf_dir, "documents")
    return tfidf_doc_keywords(postings_tf(spark, sf_dir), d, k=3)


_DOC_KEYWORDS_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), dfs AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM postings GROUP BY word
), total AS (
  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
), weighted AS (
  SELECT p.doc_id, p.word,
         (CASE WHEN p.tf > 1 THEN 1.0 + ln(p.tf) ELSE 1.0 END)
         * (ln((t.n + 1.0) / (d.df + 1.0)) + 1.0) AS w
  FROM postings p JOIN dfs d USING (word) CROSS JOIN total t
), ranked AS (
  SELECT doc_id, word, w,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY w DESC, word) AS rank
  FROM weighted
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, word,
       round(w, 6) AS weight
FROM ranked WHERE rank <= 3
"""


_COMPACT_MIN_SIZE, _COMPACT_FANOUT = 1000, 4


def segment_compaction_plan_q(spark, sf_dir):
    """Size-tiered compaction planner (LSM/Lucene tiered policy) for
    the delta-index segment catalog: integer-exact tiers via bin-length
    (floor-log2 of size/min_size), oldest-first ranking within a tier,
    and merge groups only for COMPLETE fanout-sized runs — the
    O(log_fanout N) write-amplification maintenance plan the read-time
    union needs once upserts accumulate. Segment catalog synthesized
    deterministically from orders (every 37th order; size = floored
    total price — floor pinned in BOTH engines because double->bigint
    casts truncate in Spark but round in DuckDB)."""
    from cord19_crawler_spark.operators.delta import plan_compaction

    o = _t(spark, sf_dir, "orders")
    seg = o.filter(F.col("o_orderkey") % 37 == 0).select(
        F.col("o_orderkey").alias("segment_id"),
        F.floor("o_totalprice").cast("long").alias("size_bytes"),
        (F.col("o_orderkey") % 11).alias("created_round"),
    )
    out = plan_compaction(
        seg, min_size=_COMPACT_MIN_SIZE, fanout=_COMPACT_FANOUT
    )
    return out.select(
        "segment_id",
        "size_bytes",
        F.col("tier").cast("int").alias("tier"),
        "merge_group",
    )


_COMPACTION_SQL = f"""
WITH seg AS (
  SELECT o_orderkey AS segment_id,
         CAST(floor(o_totalprice) AS BIGINT) AS size_bytes,
         o_orderkey % 11 AS created_round
  FROM orders WHERE o_orderkey % 37 = 0
), t AS (
  SELECT segment_id, size_bytes, created_round,
         length(bin(greatest(size_bytes // {_COMPACT_MIN_SIZE}, 1))) - 1 AS tier
  FROM seg
), r AS (
  SELECT segment_id, size_bytes, tier,
         row_number() OVER (PARTITION BY tier
                            ORDER BY created_round, segment_id) - 1 AS rn,
         count(*) OVER (PARTITION BY tier) AS n
  FROM t
)
SELECT segment_id, size_bytes, CAST(tier AS INTEGER) AS tier,
       CASE WHEN rn // {_COMPACT_FANOUT} < n // {_COMPACT_FANOUT}
            THEN tier * 1000000 + rn // {_COMPACT_FANOUT} END AS merge_group
FROM r
"""


_DELTA_TERMS = ["merge", "batch"]


def delta_merged_search(spark, sf_dir):
    """T2/T3/J9: delta-index read-time merge — docs ≥ 450 are 'uploaded
    after the build' (delta), docs < 450 are the static postings; the
    merged search must EQUAL a full-rebuild index, so the DuckDB oracle
    computes the full-corpus ranking directly. This is the reference's
    no-rebuild upload path (src/dynamic_indexer.py + union at query time,
    src/singlewordSearch.py:374-398)."""
    from cord19_crawler_spark.operators.delta import search_with_delta
    from cord19_crawler_spark.operators.indexing import postings, tokens_from_text

    d = _t(spark, sf_dir, "documents")
    static_docs = d.filter(F.col("doc_id") < 450).select("doc_id", "text")
    delta_docs = d.filter(F.col("doc_id") >= 450).select("doc_id", "text")
    static_p = postings(tokens_from_text(static_docs))
    return search_with_delta(
        static_p, delta_docs, _DELTA_TERMS, total_docs=d, k=15
    )


def _delta_search_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _DELTA_TERMS)
    return f"""
WITH {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id),
total AS (SELECT count(*) AS n FROM documents),
terms AS (SELECT unnest([{terms}]) AS word),
hits AS (
  SELECT p.word AS term, p.doc_id, max(p.tf) AS f
  FROM postings p JOIN terms t ON p.word = t.word
  GROUP BY p.word, p.doc_id
),
dfs AS (SELECT term, count(DISTINCT doc_id) AS term_df FROM hits GROUP BY term),
scored AS (
  SELECT h.doc_id,
         (CASE WHEN h.f > 1 THEN 1.0 + ln(h.f) ELSE 1.0 END) *
         (ln((total.n + 1.0) / (d.term_df + 1.0)) + 1.0) AS tfidf
  FROM hits h JOIN dfs d USING (term) CROSS JOIN total
),
combined AS (
  SELECT doc_id, sum(tfidf) AS base, count(*) AS matched_terms
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       round(base * (CASE WHEN matched_terms > 1
                          THEN 1.0 + 0.1 * (matched_terms - 1) ELSE 1.0 END), 6) AS score,
       CAST(matched_terms AS INTEGER) AS matched_terms
FROM combined
ORDER BY score DESC, doc_id ASC
LIMIT 15
"""


def autocomplete_top3(spark, sf_dir):
    """W3: top-3 words per 2-char prefix by total_count (trie replacement)."""
    from cord19_crawler_spark.operators.search import autocomplete_topk

    lex = lexicon_first_encounter(spark, sf_dir)
    return autocomplete_topk(lex, prefix_len=2, k=3)


_AUTOCOMPLETE_SQL = f"""
WITH {_TOKENS_CTE},
lex AS (
  SELECT word, count(*) AS total_count FROM tokens GROUP BY word
),
pref AS (
  SELECT substr(word, 1, 2) AS prefix, word, total_count,
         CAST(row_number() OVER (PARTITION BY substr(word, 1, 2)
                        ORDER BY total_count DESC, word ASC) AS INTEGER) AS rank
  FROM lex WHERE length(word) >= 2
)
SELECT prefix, word, total_count, rank FROM pref WHERE rank <= 3
"""


def round_robin_barrel_head(spark, sf_dir):
    """W1+W2: frequency-ranked round-robin partition assignment of the top-30
    words over 4 barrels (src/barrel.py:104-112 analogue)."""
    from cord19_crawler_spark.operators.ranking import global_row_number

    stats = word_stats_query(spark, sf_dir)
    ranked = global_row_number(
        stats, [F.desc("doc_freq"), F.asc("word")], name="rank"
    )
    return (
        ranked.filter(F.col("rank") <= 30)
        .withColumn("barrel_id", ((F.col("rank") - 1) % 4).cast("int"))
        .select("word", "doc_freq", "rank", "barrel_id")
    )


_RR_BARREL_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id),
stats AS (SELECT word, count(DISTINCT doc_id) AS doc_freq FROM postings GROUP BY word),
ranked AS (
  SELECT word, doc_freq,
         CAST(row_number() OVER (ORDER BY doc_freq DESC, word ASC) AS INTEGER) AS rank
  FROM stats
)
SELECT word, doc_freq, rank, CAST((rank - 1) % 4 AS INTEGER) AS barrel_id
FROM ranked WHERE rank <= 30
"""


def doc_id_dense_mapping(spark, sf_dir):
    """O8: dense int ids by sorted doc id (src/barreled_index.py:139-156)."""
    from cord19_crawler_spark.operators.ranking import global_row_number

    d = _t(spark, sf_dir, "documents")
    return global_row_number(
        d.select("doc_id").distinct(), [F.asc("doc_id")], name="int_id"
    )


_DOCMAP_SQL = """
SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS INTEGER) AS int_id
FROM (SELECT DISTINCT doc_id FROM documents)
"""


def gap_encode_postings(spark, sf_dir):
    """C3 as SQL: per-word doc-id gap encoding via lag (words 'spark','agg')."""
    p = postings_tf(spark, sf_dir).filter(F.col("word").isin("spark", "agg"))
    w = Window.partitionBy("word").orderBy("doc_id")
    return p.select(
        "word",
        "doc_id",
        (F.col("doc_id") - F.coalesce(F.lag("doc_id").over(w), F.lit(0))).alias("gap"),
    )


_GAP_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id)
SELECT word, doc_id,
       doc_id - coalesce(lag(doc_id) OVER (PARTITION BY word ORDER BY doc_id), 0) AS gap
FROM postings WHERE word IN ('spark', 'agg')
"""


_EF_WORDS = ["spark", "agg", "window"]


def elias_fano_postings_q(spark, sf_dir):
    """Elias-Fano posting encoding (Vigna WSDM 2013) with the integer-
    only split parameter l = bit_length(U // n) - 1 (no FP log2): U and
    per-word n come from the FULL posting file; three words' streams are
    emitted. The oracle replays U/n/l, the low/high split and the
    unary-gap deltas via window functions."""
    from cord19_crawler_spark.operators.compression import (
        elias_fano_encode_df,
    )

    p = postings_tf(spark, sf_dir)
    return elias_fano_encode_df(p).filter(F.col("word").isin(_EF_WORDS))


_EF_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (
  SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id
), u AS (
  SELECT max(doc_id) + 1 AS u FROM postings
), nl AS (
  SELECT word, count(*) AS n FROM postings GROUP BY word
), rows_ AS (
  SELECT p.word, p.doc_id,
         CAST(length(bin(u.u // n.n)) - 1 AS INTEGER) AS l,
         row_number() OVER (PARTITION BY p.word ORDER BY p.doc_id) - 1 AS idx
  FROM postings p JOIN nl n USING (word), u
), split AS (
  SELECT word, idx, l,
         doc_id % (CAST(1 AS BIGINT) << l) AS low,
         doc_id >> l AS high
  FROM rows_
)
SELECT word, CAST(idx AS INTEGER) AS idx, l, CAST(low AS BIGINT) AS low,
       CAST(high - coalesce(lag(high) OVER (PARTITION BY word ORDER BY idx), 0)
            AS BIGINT) AS high_delta
FROM split
WHERE word IN ({", ".join(f"'{t}'" for t in _EF_WORDS)})
"""


_CMS_D, _CMS_W, _CMS_THRESHOLD = 4, 4096, 500


def cms_heavy_hitters_q(spark, sf_dir):
    """Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    one 4x4096 counter table over the full token stream (row-salted
    md5_long56 cells — the repo's cross-engine base hash), probed for
    every vocabulary word, keeping estimates >= 500. The oracle rebuilds
    every counter cell and the min-over-rows estimate exactly."""
    from cord19_crawler_spark.operators.sketches import cms_heavy_hitters

    toks = _tokens(spark, sf_dir).select("word")
    vocab = toks.distinct()
    return cms_heavy_hitters(
        toks, vocab, d=_CMS_D, w=_CMS_W, threshold=_CMS_THRESHOLD
    )


def _cms_cell_sql(row: int, key: str = "word") -> str:
    return (
        f"CAST(('0x' || substr(md5('{row}:' || {key}), 1, 14)) AS BIGINT)"
        f" % {_CMS_W}"
    )


_CMS_SQL = f"""
WITH {_TOKENS_CTE},
cells AS (
  {" UNION ALL ".join(
      f"SELECT {r} AS row, {_cms_cell_sql(r)} AS col, word FROM tokens"
      for r in range(_CMS_D)
  )}
), counters AS (
  SELECT row, col, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY row, col
), vocab AS (
  SELECT DISTINCT word FROM tokens
), probe AS (
  {" UNION ALL ".join(
      f"SELECT word, {r} AS row, {_cms_cell_sql(r)} AS col FROM vocab"
      for r in range(_CMS_D)
  )}
), est AS (
  SELECT p.word, min(coalesce(c.cnt, 0)) AS est
  FROM probe p LEFT JOIN counters c USING (row, col)
  GROUP BY p.word
)
SELECT word, CAST(est AS BIGINT) AS est FROM est
WHERE est >= {_CMS_THRESHOLD}
ORDER BY est DESC, word
"""


_HLL_P = 12


def hll_distinct_users_q(spark, sf_dir):
    """HyperLogLog distinct counting (Flajolet et al. 2007) per stream
    key: one fixed-size (<= 2^12-row per group) register table instead
    of an exact countDistinct shuffle of every key — the crawl-scale
    primitive for distinct-URLs-per-host / distinct-users-per-type over
    10^11-row streams, mergeable across days/shards by max on (group,
    bucket). The estimate is bit-exact cross-engine (integer harmonic
    sum, one pinned double division), so the oracle matches it to full
    precision; the exact countDistinct sits alongside to expose the
    sketch error."""
    from cord19_crawler_spark.operators.sketches import hll_cardinality

    ev = _t(spark, sf_dir, "events")
    est = hll_cardinality(ev, "user_id", group_cols=("event_type",), p=_HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "buckets_used", "hll_est", "exact_distinct"
    )


def _hll_sql() -> str:
    from cord19_crawler_spark.operators.sketches import hll_alpha

    p = _HLL_P
    w = 56 - p
    m = 1 << p
    numer = hll_alpha(p) * m * m * float(1 << (w + 1))
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
), r AS (
  SELECT event_type, h >> {w} AS bucket,
         CASE WHEN h % {1 << w} = 0 THEN {w + 1}
              ELSE {w + 1} - length(bin(h % {1 << w})) END AS m0
  FROM h
), reg AS (
  SELECT event_type, bucket, max(m0) AS m FROM r GROUP BY 1, 2
), s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS buckets_used,
         CAST(sum(1::BIGINT << ({w + 1} - m)) AS BIGINT) AS s_present
  FROM reg GROUP BY 1
), est AS (
  SELECT event_type, buckets_used,
         {numer!r} / CAST(s_present + ({m} - buckets_used) * {1 << (w + 1)} AS DOUBLE) AS e_raw,
         CAST({m} - buckets_used AS DOUBLE) AS zeros
  FROM s
)
SELECT e.event_type, e.buckets_used,
       CASE WHEN e_raw <= {2.5 * m!r} AND zeros > 0
            THEN {float(m)!r} * ln({float(m)!r} / zeros)
            ELSE e_raw END AS hll_est,
       x.exact_distinct
FROM est e
JOIN (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
) x USING (event_type)
"""


_EXPAND_TERMS = ["customer", "filtering", "orders", "spark"]


def lemma_variant_expansion(spark, sf_dir):
    """P9 EXACT: query term → {term} ∪ {lexicon's stored lemma} via a join
    against the lemma field (reference expand_word_with_lemmas,
    src/multiwordSearch.py:36-44 → src/singlewordSearch.py:441-476); OOV
    terms expand to themselves. The lemma column is the codegen'd Catalyst
    mirror of the lemmatizer stub (functions/text.py:lemma_expr)."""
    from cord19_crawler_spark.functions.text import lemma_expr

    vocab = _tokens(spark, sf_dir).select("word").distinct()
    lex = vocab.withColumn("lemma", lemma_expr(F.col("word")))
    terms = spark.createDataFrame([(t,) for t in _EXPAND_TERMS], "term string")
    # scale shape: prune the (vocab-sized) lexicon to the query terms FIRST
    # (isin predicate pushes into the scan), then broadcast the ≤len(terms)-
    # row result — never broadcast the vocabulary itself
    lex_small = lex.filter(F.col("word").isin(_EXPAND_TERMS))
    j = terms.join(F.broadcast(lex_small), terms.term == lex_small.word, "left")
    return (
        j.select(
            "term",
            F.explode(
                F.array_distinct(
                    F.array(F.col("term"), F.coalesce(F.col("lemma"), F.col("term")))
                )
            ).alias("variant"),
        )
        .orderBy("term", "variant")
    )


def _lemma_case_sql(expr: str) -> str:
    """DuckDB CASE mirroring functions/text.py:_lemma_one / lemma_expr."""
    from cord19_crawler_spark.functions.text import _SUFFIXES

    whens = []
    for suf in _SUFFIXES:
        base = f"substr({expr}, 1, length({expr}) - {len(suf)})"
        if suf == "ies":
            base = f"({base} || 'y')"
        whens.append(
            f"WHEN {expr} LIKE '%{suf}' AND length({expr}) >= {len(suf) + 3} THEN {base}"
        )
    return "CASE " + " ".join(whens) + f" ELSE {expr} END"


def _lemma_expand_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _EXPAND_TERMS)
    return f"""
WITH {_TOKENS_CTE},
vocab AS (SELECT DISTINCT word FROM tokens),
lex AS (SELECT word, {_lemma_case_sql("word")} AS lemma FROM vocab),
j AS (
  SELECT t.term, l.lemma
  FROM (SELECT unnest([{terms}]) AS term) t
  LEFT JOIN lex l ON l.word = t.term
)
SELECT term, variant FROM (
  SELECT term, term AS variant FROM j
  UNION
  SELECT term, coalesce(lemma, term) AS variant FROM j
) ORDER BY term, variant
"""


# ---------------------------------------------------------------------------
# 3. Frontier family — the north-star pipeline over oracle-constructible URLs
# ---------------------------------------------------------------------------
# URLs are deterministically constructed from orders rows; the DuckDB oracle
# constructs the *canonical* form directly, so these queries validate the
# Arrow-UDF canonicalizer and the scheduling operators against ground truth.


def _messy_urls(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    host = F.concat(F.lit("host"), (F.col("o_custkey") % 7).cast("string"), F.lit(".example.com"))
    base = F.concat(F.lit("/doc/"), F.col("o_orderkey").cast("string"))
    v = F.col("o_orderkey") % 4
    messy = (
        F.when(v == 0, F.concat(F.lit("HTTPS://"), F.upper(host), base, F.lit("#frag")))
        .when(v == 1, F.concat(F.lit("https://"), host, F.lit(":443"), base))
        .when(v == 2, F.concat(F.lit("https://"), host, base, F.lit("?b=2&a=1")))
        .otherwise(F.concat(F.lit("https://"), host, base))
    )
    return o.select(
        messy.alias("raw_url"),
        host.alias("host"),
        F.round(F.col("o_totalprice"), 2).alias("priority"),
        F.col("o_orderkey"),
    )


_CANON_URL_SQL_EXPR = """
  'https://host' || (o_custkey % 7) || '.example.com/doc/' || o_orderkey ||
  CASE WHEN o_orderkey % 4 = 2 THEN '?a=1&b=2' ELSE '' END
"""


def frontier_canonicalize(spark, sf_dir):
    """P1 analogue (THE canonicalization kernel): messy URL variants →
    canonical form via the pure-Catalyst canonicalizer (codegen'd, no
    Python boundary — equality with canonicalize_one on this grammar is
    test-pinned); oracle constructs the canonical string directly."""
    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    m = _messy_urls(spark, sf_dir)
    return (
        m.select(canonicalize_url_sql(F.col("raw_url")).alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_raw"))
        .orderBy("url")
    )


_CANON_SQL = f"""
SELECT url, count(*) AS n_raw FROM (
  SELECT {_CANON_URL_SQL_EXPR} AS url FROM orders
) GROUP BY url ORDER BY url
"""


def frontier_indegree_priority(spark, sf_dir):
    """The indegree priority lever (frontier/scheduler.py run_round,
    extra["priority_mode"]="indegree") as a driver-gated kernel: canonical
    URL reference counts on the dedup shuffle key, log1p-damped priority,
    deterministic top-20 (priority DESC, url ASC — the scheduler's total
    order). Oracle replays canonicalization + ln(1+refs) in DuckDB."""
    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    m = _messy_urls(spark, sf_dir)
    counted = (
        m.select(canonicalize_url_sql(F.col("raw_url")).alias("url"))
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("refs"))
    )
    return (
        counted.withColumn(
            "priority",
            F.round(
                F.lit(0.5) * (F.lit(1.0) + F.log1p(F.col("refs").cast("double"))),
                6,
            ),
        )
        .orderBy(F.desc("priority"), F.asc("url"))
        .limit(20)
    )


_INDEGREE_SQL = f"""
SELECT url, refs, round(0.5 * (1 + ln(1 + refs)), 6) AS priority FROM (
  SELECT {_CANON_URL_SQL_EXPR} AS url, count(*) AS refs FROM orders GROUP BY 1
) ORDER BY priority DESC, url ASC LIMIT 20
"""


def frontier_seen_antijoin(spark, sf_dir):
    """J2/URL-seen: candidates minus seen set (exact anti-join), counted per
    host. Seen = URLs of orders with o_orderkey % 3 = 0."""
    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    m = _messy_urls(spark, sf_dir)
    canon = m.select(
        canonicalize_url_sql(F.col("raw_url")).alias("url"),
        "host",
        (F.col("o_orderkey") % 3 == 0).alias("is_seen"),
    )
    # single-pass formulation of the anti-join: a candidate row survives iff
    # NO row with its canonical url is seen — group-by-url max(is_seen)
    # instead of a self-join, so the canonicalize UDF runs ONCE over the data
    per_url = canon.groupBy("url", "host").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.col("is_seen").cast("int")).alias("any_seen"),
    )
    return (
        per_url.filter(F.col("any_seen") == 0)
        .groupBy("host")
        .agg(F.sum("n_rows").alias("n_new"))
        .orderBy("host")
    )


_SEEN_ANTI_SQL = f"""
WITH canon AS (
  SELECT {_CANON_URL_SQL_EXPR} AS url,
         'host' || (o_custkey % 7) || '.example.com' AS host,
         (o_orderkey % 3 = 0) AS is_seen
  FROM orders
)
SELECT host, count(*) AS n_new
FROM canon c
WHERE NOT EXISTS (SELECT 1 FROM canon s WHERE s.is_seen AND s.url = c.url)
GROUP BY host ORDER BY host
"""


def frontier_per_host_topk(spark, sf_dir):
    """The per-host priority queue (politeness max-in-flight = 3):
    Window.partitionBy(host).orderBy(priority desc, url) ≤ 3."""
    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    m = _messy_urls(spark, sf_dir)
    canon = m.select(
        canonicalize_url_sql(F.col("raw_url")).alias("url"), "host", "priority"
    )
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    return (
        canon.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("host", "url", "priority", "rank")
    )


_HOST_TOPK_SQL = f"""
WITH canon AS (
  SELECT {_CANON_URL_SQL_EXPR} AS url,
         'host' || (o_custkey % 7) || '.example.com' AS host,
         round(o_totalprice, 2) AS priority
  FROM orders
)
SELECT host, url, priority, rank FROM (
  SELECT host, url, priority,
         CAST(row_number() OVER (PARTITION BY host
                        ORDER BY priority DESC, url ASC) AS INTEGER) AS rank
  FROM canon
) WHERE rank <= 3
"""


def frontier_fetch_batch(spark, sf_dir):
    """Global fetch-batch order: top-40 by (priority desc, url) with seq —
    the deterministic crawl-order statement (O3 + total-order tie-break)."""
    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    m = _messy_urls(spark, sf_dir)
    canon = m.select(
        canonicalize_url_sql(F.col("raw_url")).alias("url"), "priority"
    )
    batch = canon.orderBy(F.desc("priority"), F.asc("url")).limit(40)
    # seq window runs AFTER the limit → bounded at any scale; the partition
    # key is a column-derived constant (a bare lit would be folded away,
    # re-triggering the unpartitioned-window warning)
    w = Window.partitionBy(F.length("url") * 0).orderBy(
        F.desc("priority"), F.asc("url")
    )
    return batch.withColumn("seq", F.row_number().over(w))


_FETCH_BATCH_SQL = f"""
WITH canon AS (
  SELECT {_CANON_URL_SQL_EXPR} AS url, round(o_totalprice, 2) AS priority
  FROM orders
)
SELECT url, priority,
       CAST(row_number() OVER (ORDER BY priority DESC, url ASC) AS INTEGER) AS seq
FROM canon ORDER BY priority DESC, url ASC LIMIT 40
"""


def hot_host_split_plan_q(spark, sf_dir):
    """Skew-splitting plan: n_salt = ceil(pending/threshold) per host
    (barrel.py:104-122 analogue as a per-round plan)."""
    m = _messy_urls(spark, sf_dir)
    return (
        m.groupBy("host")
        .agg(F.count(F.lit(1)).alias("pending_cnt"))
        .withColumn(
            "n_salt",
            F.greatest(F.lit(1), F.ceil(F.col("pending_cnt") / F.lit(500)).cast("int")),
        )
        .orderBy("host")
    )


_HOT_SPLIT_SQL = """
SELECT host, pending_cnt,
       CAST(greatest(1, ceil(pending_cnt / 500.0)) AS INTEGER) AS n_salt
FROM (
  SELECT 'host' || (o_custkey % 7) || '.example.com' AS host, count(*) AS pending_cnt
  FROM orders GROUP BY 1
) ORDER BY host
"""


def politeness_eligibility_q(spark, sf_dir):
    """Politeness min-delay filter: hosts last scheduled within min_delay
    rounds are ineligible. host_state derived deterministically from the
    host index; current round = 10."""
    m = _messy_urls(spark, sf_dir)
    hs = m.select("host").distinct().withColumn(
        "last_scheduled_round",
        F.when(F.substring("host", 5, 1).cast("int") % 3 == 0, F.lit(9)).otherwise(F.lit(5)),
    ).withColumn("min_delay_rounds", F.lit(2))
    eligible = (
        m.join(hs, "host")
        .filter((F.lit(10) - F.col("last_scheduled_round")) >= F.col("min_delay_rounds"))
    )
    return (
        eligible.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_eligible"))
        .orderBy("host")
    )


_POLITE_SQL = """
WITH m AS (
  SELECT 'host' || (o_custkey % 7) || '.example.com' AS host FROM orders
), hs AS (
  SELECT host,
         CASE WHEN CAST(substr(host, 5, 1) AS INTEGER) % 3 = 0 THEN 9 ELSE 5 END
           AS last_scheduled_round,
         2 AS min_delay_rounds
  FROM (SELECT DISTINCT host FROM m)
)
SELECT m.host, count(*) AS n_eligible
FROM m JOIN hs ON m.host = hs.host
WHERE (10 - last_scheduled_round) >= min_delay_rounds
GROUP BY m.host ORDER BY m.host
"""


def politeness_wallclock_q(spark, sf_dir):
    """Wall-clock politeness gate (round 3: min_delay_seconds enforced
    against last_fetch_ts in frontier/politeness.eligible_urls): hosts
    fetched 10 s before the round's reference time (even host index) are
    ineligible under a 30 s budget; hosts fetched 50 s ago pass. The
    round-granularity rule is disabled (delay 0) so only the wall clock
    decides."""
    from cord19_crawler_spark.frontier import politeness

    m = _messy_urls(spark, sf_dir)
    hidx = F.substring("host", 5, 1).cast("int")
    hs = (
        m.select("host")
        .distinct()
        .withColumn("min_delay_rounds", F.lit(0))
        .withColumn("max_in_flight", F.lit(3))
        .withColumn("last_scheduled_round", F.lit(1))
        .withColumn("min_delay_seconds", F.lit(30.0))
        .withColumn(
            "last_fetch_ts",
            F.when(hidx % 2 == 0, F.lit(990.0)).otherwise(F.lit(950.0)),
        )
    )
    elig = politeness.eligible_urls(
        m.select("raw_url", "host"), hs, 2, now=1000.0
    )
    return (
        elig.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_eligible"))
        .orderBy("host")
    )


_POLITE_WALLCLOCK_SQL = """
WITH m AS (
  SELECT 'host' || (o_custkey % 7) || '.example.com' AS host FROM orders
)
SELECT host, count(*) AS n_eligible
FROM m
WHERE (CAST(substr(host, 5, 1) AS INTEGER) % 2) <> 0  -- ts=950: 50s >= 30s
GROUP BY host ORDER BY host
"""


def psl_registrable_domain_q(spark, sf_dir):
    """PSL registrable domains (round 3: frontier/psl.py): customer-derived
    hosts under multi-label public suffixes (co.uk at depth 3, com.au at
    depth 4) resolve by longest-suffix match against the broadcast PSL
    dimension; .com hosts take the default last-two-labels rule."""
    from cord19_crawler_spark.frontier.psl import (
        load_psl,
        with_registrable_domain,
    )

    c = _t(spark, sf_dir, "customer")
    k5 = (F.col("c_custkey") % 5).cast("string")
    k11 = (F.col("c_custkey") % 11).cast("string")
    host = (
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("sub"), k5, F.lit(".brand"), k11, F.lit(".co.uk")),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(
                F.lit("deep"), k5, F.lit(".sub"), k5,
                F.lit(".brand"), k11, F.lit(".com.au"),
            ),
        )
        .otherwise(
            F.concat(F.lit("sub"), k5, F.lit(".brand"), k11, F.lit(".example.com"))
        )
    )
    hosts = c.select(host.alias("host")).distinct()
    out = with_registrable_domain(hosts, load_psl(spark))
    return (
        out.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
        .orderBy("domain")
    )


_PSL_DOMAIN_SQL = """
WITH hosts AS (
  SELECT DISTINCT
    CASE c_custkey % 3
      WHEN 0 THEN 'sub' || (c_custkey % 5) || '.brand' || (c_custkey % 11) || '.co.uk'
      WHEN 1 THEN 'deep' || (c_custkey % 5) || '.sub' || (c_custkey % 5)
                  || '.brand' || (c_custkey % 11) || '.com.au'
      ELSE 'sub' || (c_custkey % 5) || '.brand' || (c_custkey % 11) || '.example.com'
    END AS host,
    CASE c_custkey % 3
      WHEN 0 THEN 'brand' || (c_custkey % 11) || '.co.uk'
      WHEN 1 THEN 'brand' || (c_custkey % 11) || '.com.au'
      ELSE 'example.com'  -- no PSL rule: default last-two-labels
    END AS domain
  FROM customer
)
SELECT domain, count(*) AS n_hosts FROM hosts GROUP BY domain ORDER BY domain
"""


# ---------------------------------------------------------------------------
# 4. Training-data pipeline: dedup / similarity / text analysis
# ---------------------------------------------------------------------------


def set_ops_vocab(spark, sf_dir):
    """U3/U4 set operations: per-source vocabulary intersect/except sizes —
    words shared by sources src0 and src1 vs exclusive to src0.

    ONE Spark job (vs the r2 shape's two driver-side .count() actions +
    createDataFrame): per-word membership flags via conditional agg, a
    global conditional sum, then ``stack`` reshapes the two counters to
    (set_kind, n_words) rows — the library shape for set-cardinality
    queries (VERDICT r2 nit #2)."""
    d = _t(spark, sf_dir, "documents")
    words = (
        d.filter(F.col("source").isin("src0", "src1"))
        .select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("word"),
        )
        .filter(F.length("word") >= 2)
    )
    per_word = words.groupBy("word").agg(
        F.max(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("in0"),
        F.max(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("in1"),
    )
    counts = per_word.agg(
        F.sum(
            F.when((F.col("in0") == 1) & (F.col("in1") == 1), 1).otherwise(0)
        ).alias("shared"),
        F.sum(
            F.when((F.col("in0") == 1) & (F.col("in1") == 0), 1).otherwise(0)
        ).alias("only_src0"),
    )
    return counts.select(
        F.expr(
            "stack(2, 'only_src0', only_src0, 'shared', shared) "
            "AS (set_kind, n_words)"
        )
    ).orderBy("set_kind")


_SET_OPS_SQL = """
WITH words AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
), f AS (SELECT DISTINCT source, word FROM words WHERE length(word) >= 2),
v0 AS (SELECT word FROM f WHERE source = 'src0'),
v1 AS (SELECT word FROM f WHERE source = 'src1')
SELECT 'only_src0' AS set_kind,
       (SELECT count(*) FROM (SELECT word FROM v0 EXCEPT SELECT word FROM v1)) AS n_words
UNION ALL
SELECT 'shared',
       (SELECT count(*) FROM (SELECT word FROM v0 INTERSECT SELECT word FROM v1))
ORDER BY set_kind
"""


def dedup_exact_prefix(spark, sf_dir):
    """Exact dedup by md5 fingerprint of the first 40 chars (hash-groupBy)."""
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", F.md5(F.substring(F.col("text"), 1, 40)).alias("fp")
    )
    return (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fp")
    )


_DEDUP_EXACT_SQL = """
SELECT fp, count(*) AS n_docs, min(doc_id) AS keeper
FROM (SELECT doc_id, md5(substr(text, 1, 40)) AS fp FROM documents)
GROUP BY fp HAVING count(*) > 1 ORDER BY fp
"""

_SHINGLE_CTE = """
words AS (
  SELECT doc_id, word,
         row_number() OVER (PARTITION BY doc_id ORDER BY raw_pos) AS pos
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word,
           generate_subscripts(string_split(lower(text), ' '), 1) AS raw_pos
    FROM documents WHERE doc_id < 60
  ) w(doc_id, word, raw_pos)
  WHERE word <> ''
),
shingles AS (
  SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS shingle
  FROM words a
  JOIN words b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  JOIN words c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
)
"""


def _shingles_df(spark, sf_dir):
    from cord19_crawler_spark.operators.dedup import shingles

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return shingles(d, "doc_id", "text", 3)


def dedup_minhash_signatures_q(spark, sf_dir):
    """MinHash signatures (8 perms) over word-3-gram shingles, docs < 60."""
    sh = _shingles_df(spark, sf_dir)
    params = minhash_params(8)
    h = md5_long56(F.col("shingle"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(minhash_expr(h, a, b)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)
        ]
    )


def _minhash_sql() -> str:
    params = minhash_params(8)
    h = md5_long56_sql("shingle")
    mins = ",\n  ".join(
        f"min({minhash_expr_sql(h, a, b)}) AS mh_{i}" for i, (a, b) in enumerate(params)
    )
    return f"WITH {_SHINGLE_CTE}\nSELECT doc_id,\n  {mins}\nFROM shingles GROUP BY doc_id"


def dedup_ngram_jaccard_q(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (docs < 60, word-level grams,
    threshold 0.7 — the synthetic corpus shares a small vocabulary, so
    unigram Jaccard is the non-degenerate choice at this scale; the 3-gram
    variant is exercised by minhash/LSH). Runs the package operator WITH
    its stop-shingle document-frequency cap (≤ 50 of the 60 docs) — the
    guard that keeps the gram-equi-join from exploding on a shingle present
    in every document; the oracle mirrors the capped universe."""
    from cord19_crawler_spark.operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=1, threshold=0.7, max_shingle_df=50
    )


_NGRAM_JACCARD_SQL = """
WITH shingles0 AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS shingle
  FROM documents WHERE doc_id < 60
),
keep AS (
  SELECT shingle FROM shingles0 GROUP BY shingle HAVING count(*) <= 50
),
shingles AS (
  SELECT s.doc_id, s.shingle FROM shingles0 s JOIN keep USING (shingle)
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(common / (sa.n + sb.n - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common / (sa.n + sb.n - common), 6) >= 0.7
"""


def dedup_minhash_lsh_e2e(spark, sf_dir):
    """FULL MinHash-LSH pipeline (shingle → sign → band → bucket-join
    candidates → exact-Jaccard verify ≥ 0.7) via the package operator, over
    docs < 60 with unigram shingles (the corpus's near-dup regime). The
    DuckDB oracle replays every stage — md5-56bit permutations, 4×2
    banding, candidate join, verification — so LSH recall behavior (a
    banding-missed pair is missing on BOTH sides) is deterministic and
    checkable."""
    from cord19_crawler_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return minhash_near_duplicates(
        d, num_perm=8, bands=4, threshold=0.7, ngram=1,
        max_bucket_df=None,  # exact/oracle mode: uncapped (prod default is 10^4)
    )


def _minhash_e2e_sql(max_bucket_df: int | None = None) -> str:
    params = minhash_params(8)
    h = md5_long56_sql("shingle")
    mins = ", ".join(
        f"min({minhash_expr_sql(h, a, b)}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(mh_{2 * b} AS VARCHAR) || ':' || "
        f"CAST(mh_{2 * b + 1} AS VARCHAR) AS key FROM sigs"
        for b in range(4)
    )
    if max_bucket_df is None:
        bands_cte = f"bands AS ({band_selects})"
    else:
        # replay the hot-bucket cap: keep the cap smallest doc_ids per
        # (band, key) — mirrors _cap_hot_buckets' deterministic sub-sample
        bands_cte = (
            f"bands_raw AS ({band_selects}), "
            "bands AS (SELECT doc_id, band, key FROM bands_raw "
            "QUALIFY row_number() OVER (PARTITION BY band, key "
            f"ORDER BY doc_id) <= {max_bucket_df})"
        )
    return f"""
WITH shingles AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS shingle
  FROM documents WHERE doc_id < 60
),
sigs AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id),
{bands_cte},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       round(common / (sa.n + sb.n - common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(common / (sa.n + sb.n - common), 6) >= 0.7
"""


def minhash_error_q(spark, sf_dir):
    """MinHash estimator accuracy (Broder 1997): per LSH candidate pair
    (docs < 60, unigram shingles, 8 perms, 4 bands, uncapped), the
    agreeing-permutation Jaccard estimate next to the exact shingle
    Jaccard and the absolute error — the harness that sizes num_perm at
    scale. The oracle replays signatures, banding, the candidate join,
    the match count, and the exact verify."""
    from cord19_crawler_spark.operators.dedup import minhash_estimate_error

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return minhash_estimate_error(
        d, num_perm=8, bands=4, ngram=1, max_bucket_df=None
    )


def _minhash_error_sql() -> str:
    params = minhash_params(8)
    h = md5_long56_sql("shingle")
    mins = ", ".join(
        f"min({minhash_expr_sql(h, a, b)}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(mh_{2 * b} AS VARCHAR) || ':' || "
        f"CAST(mh_{2 * b + 1} AS VARCHAR) AS key FROM sigs"
        for b in range(4)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(8)
    )
    return f"""
WITH shingles AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS shingle
  FROM documents WHERE doc_id < 60
),
sigs AS (SELECT doc_id, {mins} FROM shingles GROUP BY doc_id),
bands AS ({band_selects}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
est AS (
  SELECT c.doc_a, c.doc_b,
         round(({match_sum}) / 8.0, 6) AS est_jaccard
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
),
sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS common
  FROM cand c
  JOIN shingles sa ON sa.doc_id = c.doc_a
  JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
  GROUP BY c.doc_a, c.doc_b
),
exact AS (
  SELECT doc_a, doc_b,
         round(common / (za.n + zb.n - common), 6) AS jaccard
  FROM common
  JOIN sizes za ON za.doc_id = doc_a
  JOIN sizes zb ON zb.doc_id = doc_b
)
SELECT e.doc_a, e.doc_b, e.est_jaccard,
       coalesce(x.jaccard, 0) AS jaccard,
       round(abs(e.est_jaccard - coalesce(x.jaccard, 0)), 6) AS abs_err
FROM est e LEFT JOIN exact x USING (doc_a, doc_b)
"""


def dedup_minhash_lsh_capped(spark, sf_dir):
    """MinHash-LSH e2e WITH the hot-bucket guard (max_bucket_df=5): band
    buckets over 5 members are deterministically sub-sampled to their 5
    smallest doc_ids before the candidate join — the bounded-shuffle
    semantics the 100-TB path runs with (operators/dedup.py:
    _cap_hot_buckets). The oracle replays the cap with a QUALIFY
    row_number per (band, key), so the exact recall trade of the capped
    plan is pinned, not just its blowup-avoidance."""
    from cord19_crawler_spark.operators.dedup import minhash_near_duplicates

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return minhash_near_duplicates(
        d, num_perm=8, bands=4, threshold=0.7, ngram=1, max_bucket_df=5
    )


def dedup_embedding_cosine_capped(spark, sf_dir):
    """Embedding near-dup with the bucket cap (max_bucket_df=10 on ~25-row
    sign buckets, so the guard actually fires): per-bucket pair joins see
    at most 10 members each. Oracle replays the QUALIFY sub-sample."""
    from cord19_crawler_spark.operators.dedup import embedding_near_duplicates

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    return embedding_near_duplicates(
        e, threshold=0.35, bucket_dims=4, max_bucket_df=10
    )


_EMB_DEDUP_CAPPED_SQL = """
WITH b_raw AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
         (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
         (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) +
         (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings WHERE vec_id < 400
),
b AS (
  SELECT vid, v, bucket FROM b_raw
  QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vid) <= 10
)
SELECT l.vid AS vec_a, r.vid AS vec_b,
       round(list_dot_product(l.v, r.v) /
             (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
             6) AS cosine
FROM b l JOIN b r ON l.bucket = r.bucket AND l.vid < r.vid
WHERE round(list_dot_product(l.v, r.v) /
            (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
            6) >= 0.35
"""


def dedup_simhash_q(spark, sf_dir):
    """SimHash fingerprints (16 bits) per doc (docs < 60)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    toks = d.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    ).filter(F.col("word") != "")
    h = md5_long56(F.col("word")) % F.lit(MINHASH_PRIME)
    bits = 16
    sums = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i) % 2 == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    return sums.select(
        "doc_id",
        sum(
            (F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)))
            for i in range(bits)
        ).cast("long").alias("simhash"),
    )


def _simhash_sql() -> str:
    h = f"({md5_long56_sql('word')} % {MINHASH_PRIME})"
    bits = 16
    sums = ", ".join(
        f"sum(CASE WHEN ({h} >> {i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents WHERE doc_id < 60
), sums AS (
  SELECT doc_id, {sums} FROM toks WHERE word <> '' GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


def dedup_simhash_capped(spark, sf_dir):
    """SimHash near-dup PAIRS with the hot-bucket guard (bits=16, 4 chunk
    bands of 4 bits → only 16 buckets per band over 60 docs, so the cap=5
    sub-sample actually fires): pigeonhole banding → capped per-(band,
    chunk) join → exact Hamming ≤ 3 via JVM bit_count. The oracle replays
    fingerprints, banding, the QUALIFY cap, and xor/bit_count — pinning
    the capped plan's exact output, recall trade included."""
    from cord19_crawler_spark.operators.dedup import simhash_near_duplicates

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return simhash_near_duplicates(
        d, bits=16, max_hamming=3, bands=4, max_bucket_df=5
    )


def _simhash_capped_sql(bits: int = 16, bands: int = 4, cap: int = 5,
                        max_hamming: int = 3) -> str:
    h = md5_long56_sql("word")
    chunk = bits // bands
    sums = ", ".join(
        f"sum(CASE WHEN (({h}) >> {i}) % 2 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"(simhash >> {b * chunk}) % {1 << chunk} AS chunk_val FROM fp"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents WHERE doc_id < 60
), sums AS (
  SELECT doc_id, {sums} FROM toks WHERE word <> '' GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
), banded_raw AS ({band_selects}),
banded AS (
  SELECT doc_id, simhash, band, chunk_val FROM banded_raw
  QUALIFY row_number() OVER (PARTITION BY band, chunk_val ORDER BY doc_id) <= {cap}
),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
                  l.simhash AS fa, r.simhash AS fb
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.chunk_val = r.chunk_val AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


def similarity_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 vs the vec_id=0 embedding (JVM-side
    higher-order-function dot product, TakeOrderedAndProject top-k)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    joined = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    dot = F.aggregate(
        F.zip_with(
            "embedding", "qv", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_v = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    norm_q = F.sqrt(
        F.aggregate("qv", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    return (
        joined.select(
            "vec_id", F.round(dot / (norm_v * norm_q), 6).alias("cosine")
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


def hard_negatives_q(spark, sf_dir):
    """Contrastive hard-negative mining (training-data family): per
    anchor (vec_id < 4), the top-5 most cosine-similar vectors with a
    DIFFERENT label. Anchors broadcast; corpus scanned once; per-anchor
    top-k via WindowGroupLimit (rank over round-6 cosine with neg_id
    tie-break, so selection is reproducible cross-engine)."""
    from cord19_crawler_spark.operators.similarity import hard_negatives

    e = _t(spark, sf_dir, "embeddings")
    return hard_negatives(e, e.filter(F.col("vec_id") < 4), k=5)


_HARD_NEG_SQL = """
WITH a AS (
  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av, label AS albl
  FROM embeddings WHERE vec_id < 4
), p AS (
  SELECT a.anchor_id, e.vec_id AS neg_id,
         round(list_dot_product(CAST(e.embedding AS DOUBLE[]), a.av) /
               (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[]))) *
                sqrt(list_dot_product(a.av, a.av))), 6) AS cosine
  FROM embeddings e CROSS JOIN a
  WHERE e.label <> a.albl
), r AS (
  SELECT anchor_id, neg_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY anchor_id ORDER BY cosine DESC, neg_id ASC
         ) AS INTEGER) AS rank
  FROM p
)
SELECT anchor_id, neg_id, cosine, rank FROM r WHERE rank <= 5
"""


_ANN_RECALL_K, _ANN_RECALL_DIMS = 10, 6


def ann_recall_q(spark, sf_dir):
    """Recall@10 of the sign-bucket ANN path (bucket + hamming-1 probes
    — the partition-pruned scale path of ann_lsh_topk) against
    brute-force cosine, per anchor (vec_id < 8). The evaluation harness
    for the approximate path: the oracle recomputes both pinned top-k
    selections and the intersection exactly."""
    from cord19_crawler_spark.operators.similarity import ann_recall_at_k

    e = _t(spark, sf_dir, "embeddings")
    return ann_recall_at_k(
        e, e.filter(F.col("vec_id") < 8), k=_ANN_RECALL_K,
        bucket_dims=_ANN_RECALL_DIMS,
    )


def _ann_recall_sql() -> str:
    bucket = " + ".join(
        f"(CASE WHEN embedding[{d + 1}] >= 0 THEN {1 << d} ELSE 0 END)"
        for d in range(_ANN_RECALL_DIMS)
    )
    k = _ANN_RECALL_K
    return f"""
WITH a AS (
  SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS av,
         {bucket} AS ab
  FROM embeddings WHERE vec_id < 8
), c AS (
  SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v,
         {bucket} AS nb
  FROM embeddings
), p AS MATERIALIZED (
  SELECT a.anchor_id, c.nid,
         round(list_dot_product(c.v, a.av) /
               (sqrt(list_dot_product(c.v, c.v)) *
                sqrt(list_dot_product(a.av, a.av))), 6) AS cosine,
         bit_count(xor(c.nb, a.ab)) AS hd
  FROM c CROSS JOIN a WHERE c.nid <> a.anchor_id
), ex AS (
  SELECT anchor_id, nid FROM (
    SELECT anchor_id, nid,
           row_number() OVER (PARTITION BY anchor_id
                              ORDER BY cosine DESC, nid) AS r
    FROM p) WHERE r <= {k}
), ls AS (
  SELECT anchor_id, nid FROM (
    SELECT anchor_id, nid,
           row_number() OVER (PARTITION BY anchor_id
                              ORDER BY cosine DESC, nid) AS r
    FROM p WHERE hd <= 1) WHERE r <= {k}
), sizes AS (
  SELECT anchor_id, CAST(count(*) AS BIGINT) AS lsh_k FROM ls GROUP BY 1
), hit AS (
  SELECT e.anchor_id, CAST(count(*) AS BIGINT) AS hits
  FROM ex e JOIN ls l ON e.anchor_id = l.anchor_id AND e.nid = l.nid
  GROUP BY 1
), base AS (
  SELECT anchor_id, CAST(count(*) AS BIGINT) AS exact_k FROM ex GROUP BY 1
)
SELECT b.anchor_id, b.exact_k,
       coalesce(s.lsh_k, 0) AS lsh_k,
       coalesce(h.hits, 0) AS hits,
       CAST(coalesce(h.hits, 0) AS DOUBLE) / {float(k)!r} AS recall
FROM base b
LEFT JOIN sizes s USING (anchor_id)
LEFT JOIN hit h USING (anchor_id)
"""


_COSINE_SQL = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
             (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
FROM embeddings e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
"""


def similarity_sign_buckets(spark, sf_dir):
    """ANN bucket histogram: sign-projection bucket (first 6 dims) → count.
    At scale the table is partitioned by this bucket → partition pruning."""
    from cord19_crawler_spark.operators.similarity import sign_bucket_expr

    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select(sign_bucket_expr("embedding", 6).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


_SIGN_BUCKET_SQL = """
SELECT CAST(
         (CASE WHEN embedding[1] >= 0 THEN 1  ELSE 0 END) +
         (CASE WHEN embedding[2] >= 0 THEN 2  ELSE 0 END) +
         (CASE WHEN embedding[3] >= 0 THEN 4  ELSE 0 END) +
         (CASE WHEN embedding[4] >= 0 THEN 8  ELSE 0 END) +
         (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END) +
         (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END) AS INTEGER) AS bucket,
       count(*) AS n_vectors
FROM embeddings GROUP BY 1 ORDER BY 1
"""


_RP_DIMS, _RP_SEED = 8, 7


def embedding_random_projection(spark, sf_dir):
    """Seeded sparse random projection (Achlioptas JCSS 2003) 64-d → 8-d
    as ONE zero-shuffle scan projection: the projection matrix is an
    inline arithmetic hash of (in-dim, out-dim, seed), never
    materialized, so the oracle recomputes every weight independently
    from the same integer arithmetic and every output element must
    match to 6 decimals."""
    from cord19_crawler_spark.operators.similarity import random_project

    e = _t(spark, sf_dir, "embeddings")
    return random_project(
        e, out_dims=_RP_DIMS, seed=_RP_SEED
    ).select("vec_id", "projected")


_RP_SQL = f"""
WITH ev AS (
  SELECT vec_id, t.x, t.i - 1 AS i
  FROM (
    SELECT vec_id, unnest(embedding) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
  ) t(vec_id, x, i)
), pr AS (
  SELECT vec_id, j,
    sum(CAST(x AS DOUBLE) * (
      CASE ((((1103515245 * ((1103515245 * (i * {_RP_DIMS} + j + {_RP_SEED})
                              + 12345) % 2147483648) + 12345)
              % 2147483648) >> 16) % 6)
        WHEN 0 THEN sqrt(3.0 / {_RP_DIMS})
        WHEN 1 THEN -sqrt(3.0 / {_RP_DIMS})
        ELSE 0.0 END)) AS p
  FROM ev CROSS JOIN (SELECT unnest(range({_RP_DIMS})) AS j) js
  GROUP BY vec_id, j
)
SELECT vec_id, list(round(p, 6) ORDER BY j) AS projected
FROM pr GROUP BY vec_id
"""


def embedding_sq_rerank(spark, sf_dir):
    """Scalar-quantized cosine search (8-bit codes, 4x scan reduction):
    every vector scored in the DECODED int8 domain, top-50 candidates by
    (rounded approx desc, vec_id), exact full-precision rerank to
    top-10. The oracle replays the per-dim min/max training, the
    round-half-up code rule, the midstep-free reconstruction and both
    ranking cuts."""
    from cord19_crawler_spark.operators.quantize import sq_search

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    t = e.filter(F.col("vec_id") != 0)
    return sq_search(t, q, k=10, rerank=50)


_SQ_RERANK_SQL = """
WITH base AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0
), qv AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0
), elems AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM base
), params AS MATERIALIZED (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM elems GROUP BY dim
), dec AS MATERIALIZED (
  SELECT e.vec_id, e.dim,
         CASE WHEN p.hi = p.lo THEN p.lo
              ELSE p.lo + least(255, greatest(0,
                     floor((e.x - p.lo) / (p.hi - p.lo) * 255.0 + 0.5)))
                   * (p.hi - p.lo) / 255.0
         END AS xd
  FROM elems e JOIN params p USING (dim)
), qe AS MATERIALIZED (
  SELECT generate_subscripts(q, 1) AS dim, unnest(q) AS qx FROM qv
), approx AS MATERIALIZED (
  SELECT d.vec_id,
         round(sum(d.xd * q.qx)
               / (sqrt(sum(d.xd * d.xd)) * sqrt(sum(q.qx * q.qx))),
               6) AS approx_cosine
  FROM dec d JOIN qe q USING (dim) GROUP BY d.vec_id
), cand AS MATERIALIZED (
  SELECT vec_id, approx_cosine FROM approx
  ORDER BY approx_cosine DESC, vec_id LIMIT 50
)
SELECT c.vec_id, c.approx_cosine,
       round(list_dot_product(b.v, (SELECT q FROM qv))
             / (sqrt(list_dot_product(b.v, b.v))
                * sqrt((SELECT list_dot_product(q, q) FROM qv))),
             6) AS cosine
FROM cand c JOIN base b USING (vec_id)
ORDER BY cosine DESC, c.vec_id
LIMIT 10
"""


def pq_adc_search(spark, sf_dir):
    """Product quantization with asymmetric-distance scoring (Jegou et
    al. TPAMI 2011): m=8 subspaces, ksub=16 exemplar codewords (the 16
    lowest-id vectors — deterministic, so every stage is replayable),
    codes from the 9-decimal-pinned L2 argmin, then ADC top-10 where the
    query's LUT joins the stored codes and the corpus embeddings are
    never read. The oracle unrolls codebook, encode argmin and LUT sum."""
    from cord19_crawler_spark.operators.quantize import (
        pq_adc_topk,
        pq_codebook,
        pq_encode,
    )

    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    t = e.filter(F.col("vec_id") != 0)
    cb = pq_codebook(e, m=8, ksub=16, dims=64)
    codes = pq_encode(t, cb, m=8, dims=64)
    return pq_adc_topk(codes, cb, q, k=10, m=8, dims=64)


_PQ_ADC_SQL = """
WITH allel AS MATERIALIZED (
  SELECT vec_id,
         ((generate_subscripts(v, 1) - 1) // 8) AS subspace,
         ((generate_subscripts(v, 1) - 1) % 8) AS within,
         unnest(v) AS x
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
), cbids AS MATERIALIZED (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
), cb AS MATERIALIZED (
  SELECT i.code, e.subspace, e.within, e.x
  FROM cbids i JOIN allel e USING (vec_id)
), dists AS MATERIALIZED (
  SELECT e.vec_id, e.subspace, c.code,
         round(sum((e.x - c.x) * (e.x - c.x)), 9) AS d
  FROM allel e JOIN cb c
    ON c.subspace = e.subspace AND c.within = e.within
  WHERE e.vec_id <> 0
  GROUP BY 1, 2, 3
), codes AS MATERIALIZED (
  SELECT vec_id, subspace, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
                                 ORDER BY d, code) AS rn
    FROM dists
  ) WHERE rn = 1
), qel AS MATERIALIZED (
  SELECT ((generate_subscripts(q, 1) - 1) // 8) AS subspace,
         ((generate_subscripts(q, 1) - 1) % 8) AS within,
         unnest(q) AS qx
  FROM (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
        WHERE vec_id = 0)
), lut AS MATERIALIZED (
  SELECT c.subspace, c.code, sum((c.x - q.qx) * (c.x - q.qx)) AS qd
  FROM cb c JOIN qel q
    ON q.subspace = c.subspace AND q.within = c.within
  GROUP BY 1, 2
)
SELECT s.vec_id, round(sum(l.qd), 6) AS adist
FROM codes s JOIN lut l
  ON l.subspace = s.subspace AND l.code = s.code
GROUP BY s.vec_id
ORDER BY adist, s.vec_id
LIMIT 10
"""


def kmeans_assign(spark, sf_dir):
    """Fixed-iteration Lloyd k-means (k=4, 3 update rounds + final
    assignment, lowest-id seeding, lowest-cluster tie-break) over the
    embeddings table. The oracle UNROLLS every Lloyd round as chained
    MATERIALIZED CTEs — each intermediate assignment and each per-
    dimension centroid mean must match, not just the final clustering —
    so the iterative operator is value-checked the same way the
    pagerank/HITS/OPIC family is."""
    from cord19_crawler_spark.operators.similarity import lloyd_kmeans

    e = _t(spark, sf_dir, "embeddings")
    return lloyd_kmeans(e, k=4, iterations=3)


def _kmeans_sql(k: int = 4, iterations: int = 3) -> str:
    parts = [
        f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), c0 AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster,
         v AS centroid
  FROM (SELECT * FROM base ORDER BY vec_id LIMIT {k})
)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", s{i} AS MATERIALIZED (
  SELECT vec_id, cluster FROM (
    SELECT b.vec_id, c.cluster,
           row_number() OVER (PARTITION BY b.vec_id
             ORDER BY list_distance(b.v, c.centroid), c.cluster) AS rn
    FROM base b CROSS JOIN c{i - 1} c
  ) WHERE rn = 1
), m{i} AS MATERIALIZED (
  SELECT cluster, i, avg(x) AS mx FROM (
    SELECT s.cluster, unnest(b.v) AS x, generate_subscripts(b.v, 1) AS i
    FROM s{i} s JOIN base b USING (vec_id)
  ) t(cluster, x, i) GROUP BY cluster, i
), c{i} AS MATERIALIZED (
  SELECT c.cluster, coalesce(n.centroid, c.centroid) AS centroid
  FROM c{i - 1} c LEFT JOIN (
    SELECT cluster, list(mx ORDER BY i) AS centroid FROM m{i} GROUP BY cluster
  ) n USING (cluster)
)"""
        )
    parts.append(
        f"""
SELECT f.vid AS vec_id, f.cl AS cluster,
       round(list_distance(b.v, c.centroid), 6) AS dist
FROM (
  SELECT b2.vec_id AS vid, c2.cluster AS cl,
         row_number() OVER (PARTITION BY b2.vec_id
           ORDER BY list_distance(b2.v, c2.centroid), c2.cluster) AS rn
  FROM base b2 CROSS JOIN c{iterations} c2
) f JOIN base b ON b.vec_id = f.vid
     JOIN c{iterations} c ON c.cluster = f.cl
WHERE f.rn = 1
"""
    )
    return "".join(parts)


def dedup_embedding_cosine_q(spark, sf_dir):
    """Embedding-cosine near-dup (sign-bucket → per-bucket pair join →
    exact cosine ≥ threshold) via the package operator. Vectors cast to
    double so the left-fold dot product is bit-identical to DuckDB's
    list_dot_product; threshold 0.35 because the synthetic embeddings are
    random (max pairwise cosine ≈ 0.47) — production near-dups use ≥0.95
    with the identical plan."""
    from cord19_crawler_spark.operators.dedup import embedding_near_duplicates

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    return embedding_near_duplicates(
        e, threshold=0.35, bucket_dims=4,
        max_bucket_df=None,  # exact/oracle mode: uncapped (prod default is 10^4)
    )


_EMB_DEDUP_SQL = """
WITH b AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
         (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
         (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) +
         (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings WHERE vec_id < 400
)
SELECT l.vid AS vec_a, r.vid AS vec_b,
       round(list_dot_product(l.v, r.v) /
             (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
             6) AS cosine
FROM b l JOIN b r ON l.bucket = r.bucket AND l.vid < r.vid
WHERE round(list_dot_product(l.v, r.v) /
            (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
            6) >= 0.35
"""


def semdedup_keep_q(spark, sf_dir):
    """SemDedup (Abbas et al. 2023): cluster-restricted semantic dedup
    with the deterministic lower-id survivor rule, sign-bucket backend
    (bucket_dims=4, threshold 0.35 for the random synthetic embeddings —
    production uses learned k-means cells + >=0.95 on the identical
    plan). The oracle replays bucketing, the per-cluster pair join, and
    the exists-lower-id-similar drop rule."""
    from cord19_crawler_spark.operators.dedup import semantic_dedup

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
    )
    return semantic_dedup(
        e, threshold=0.35, clusters="sign", bucket_dims=4,
        max_cluster_df=None,  # exact/oracle mode: uncapped (prod default is 10^4)
    )


_SEMDEDUP_SQL = """
WITH b AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v,
         (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END) +
         (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END) +
         (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END) +
         (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS bucket
  FROM embeddings WHERE vec_id < 400
), dropped AS (
  SELECT DISTINCT r.vid
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vid < r.vid
  WHERE round(list_dot_product(l.v, r.v) /
        (sqrt(list_dot_product(l.v, l.v)) * sqrt(list_dot_product(r.v, r.v))),
        6) >= 0.35
)
SELECT b.vid AS vec_id, CAST(b.bucket AS BIGINT) AS cluster,
  (d.vid IS NULL) AS kept
FROM b LEFT JOIN dropped d ON b.vid = d.vid
"""


def length_quantiles_q(spark, sf_dir):
    """EXACT per-language doc-length quantiles (quantile_cont linear
    interpolation) via positional order statistics on the two-phase
    range-partitioned global rank — no single-reducer window, no
    percentile() per-group value buffering. The oracle is DuckDB's native
    quantile_cont, so the interpolation arithmetic itself is
    cross-checked."""
    from cord19_crawler_spark.operators.traindata import exact_quantiles

    d = _t(spark, sf_dir, "documents", spread=False)
    return exact_quantiles(
        d, "n_chars", [0.25, 0.5, 0.9, 0.99], group_col="lang"
    )


_LENGTH_QUANTILES_SQL = """
WITH q AS (
  SELECT lang,
    quantile_cont(CAST(n_chars AS DOUBLE), [0.25, 0.5, 0.9, 0.99]) AS qs
  FROM documents GROUP BY lang
)
SELECT lang, CAST(0.25 AS DOUBLE) AS p, round(qs[1], 6) AS quantile FROM q
UNION ALL
SELECT lang, CAST(0.5 AS DOUBLE), round(qs[2], 6) FROM q
UNION ALL
SELECT lang, CAST(0.9 AS DOUBLE), round(qs[3], 6) FROM q
UNION ALL
SELECT lang, CAST(0.99 AS DOUBLE), round(qs[4], 6) FROM q
"""


def winnowing_fingerprints_q(spark, sf_dir):
    """Winnowing fingerprints (Schleimer et al. SIGMOD 2003, robust
    variant): k=5 token grams hashed with the engine-wide md5-56bit, a
    4-wide sliding window selecting the RIGHTMOST minimal hash — the
    selection with the guaranteed-detection property (any >= k+w-1-token
    overlap shares a fingerprint). Scan-side HOFs; the only exchange is
    the final distinct. The oracle replays gram hashing, the window fold
    and the tie rule in DuckDB."""
    from cord19_crawler_spark.operators.dedup import winnowing_fingerprints

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return winnowing_fingerprints(d, k=5, window=4)


_WINNOWING_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, list_transform(
    generate_series(1, len(toks) - 4),
    i -> CAST(('0x' || substr(md5(array_to_string(
           toks[CAST(i AS INT):CAST(i AS INT) + 4], ' ')), 1, 14)) AS BIGINT)
  ) AS gs
  FROM t WHERE len(toks) >= 5
), w AS (
  -- short gram sequences (len < window) get ONE truncated window over
  -- the whole sequence (greatest(1, ...)), mirroring the Spark edge rule
  SELECT doc_id, gs, unnest(generate_series(1, greatest(1, len(gs) - 3))) AS s
  FROM g
), pick AS (
  SELECT doc_id, s, gs,
    list_min(gs[CAST(s AS INT):CAST(least(s + 3, len(gs)) AS INT)]) AS fp
  FROM w
), located AS (
  SELECT doc_id, fp,
    list_max(list_filter(
      generate_series(s, least(s + 3, len(gs))),
      j -> list_extract(gs, CAST(j AS INT)) = fp)) - 1 AS pos
  FROM pick
)
SELECT DISTINCT doc_id, pos, fp FROM located
"""


def host_budget_apportionment_q(spark, sf_dir):
    """Fetch-budget apportionment (largest-remainder / Hamilton): 997
    fetch slots split across 25 synthetic hosts proportionally to their
    order counts, floored quotas + leftover units to the largest
    fractional parts (frac DESC, host ASC), summing to the budget
    EXACTLY. Global frac rank runs through the two-phase
    global_row_number (no single-reducer window); the oracle replays
    quotas, floors, and the leftover assignment."""
    from cord19_crawler_spark.frontier.budget import apportion_budget

    o = _t(spark, sf_dir, "orders")
    w = (
        o.select(
            F.concat(F.lit("h"), (F.col("o_custkey") % 25).cast("string"))
            .alias("host")
        )
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    return apportion_budget(w, total=997)


_HOST_BUDGET_SQL = """
WITH w AS (
  SELECT 'h' || CAST(o_custkey % 25 AS VARCHAR) AS host,
         CAST(count(*) AS DOUBLE) AS weight
  FROM orders GROUP BY 1
), t AS (SELECT sum(weight) AS wsum FROM w),
q AS (
  SELECT host, weight,
    floor(weight / t.wsum * 997) AS baseq,
    weight / t.wsum * 997 - floor(weight / t.wsum * 997) AS frac
  FROM w, t
), lo AS (SELECT 997 - CAST(sum(baseq) AS BIGINT) AS leftover FROM q),
r AS (
  SELECT host, weight, CAST(baseq AS BIGINT) AS base, frac,
    row_number() OVER (ORDER BY frac DESC, host ASC) AS rnk
  FROM q
)
SELECT host, weight, base,
  CAST(CASE WHEN rnk <= lo.leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
  base + CASE WHEN rnk <= lo.leftover THEN 1 ELSE 0 END AS budget
FROM r, lo
"""


def cdx_surt_index_q(spark, sf_dir):
    """CDX-style URL index rows under the SURT sort key (the Internet
    Archive / Common Crawl cc-index convention: reversed comma-joined
    host + ')' + path, www. and default ports stripped) over synthetic
    URLs from orders that exercise www/port/subdomain variants. Sorting
    by SURT clusters a domain's URLs for prefix range scans; the oracle
    replays the full transform in DuckDB."""
    from cord19_crawler_spark.functions.urls import surt_key

    o = _t(spark, sf_dir, "orders")
    c, k = F.col("o_custkey"), F.col("o_orderkey")
    host = (
        F.when(c % 4 == 0, F.concat(F.lit("www.shop"), (c % 7).cast("string"), F.lit(".example.com")))
        .when(c % 4 == 1, F.concat(F.lit("shop"), (c % 7).cast("string"), F.lit(".example.com:443")))
        .when(c % 4 == 2, F.concat(F.lit("api.shop"), (c % 7).cast("string"), F.lit(".example.com")))
        .otherwise(F.concat(F.lit("shop"), (c % 7).cast("string"), F.lit(".example.org:80")))
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/p/"), (k % 500).cast("string")
    )
    d = o.select(url.alias("url")).distinct()
    return d.select(
        surt_key(F.col("url")).alias("surt"),
        "url",
        F.md5(F.col("url")).alias("digest"),
    )


_CDX_SURT_SQL = """
WITH u AS (
  SELECT DISTINCT 'https://' ||
    CASE WHEN o_custkey % 4 = 0
           THEN 'www.shop' || CAST(o_custkey % 7 AS VARCHAR) || '.example.com'
         WHEN o_custkey % 4 = 1
           THEN 'shop' || CAST(o_custkey % 7 AS VARCHAR) || '.example.com:443'
         WHEN o_custkey % 4 = 2
           THEN 'api.shop' || CAST(o_custkey % 7 AS VARCHAR) || '.example.com'
         ELSE 'shop' || CAST(o_custkey % 7 AS VARCHAR) || '.example.org:80'
    END || '/p/' || CAST(o_orderkey % 500 AS VARCHAR) AS url
  FROM orders
), parts AS (
  SELECT url,
    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS auth,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+(.*)$', 1) AS rest
  FROM u
), hp AS (
  SELECT url, scheme, rest,
    regexp_extract(auth, ':([0-9]+)$', 1) AS port,
    regexp_replace(regexp_replace(auth, ':[0-9]+$', ''), '^www\\.', '')
      AS host
  FROM parts
)
SELECT
  array_to_string(list_reverse(string_split(host, '.')), ',')
  || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
            OR (scheme = 'https' AND port = '443')
       THEN '' ELSE ':' || port END
  || ')' || CASE WHEN rest = '' THEN '/' ELSE rest END AS surt,
  url, md5(url) AS digest
FROM hp WHERE host <> ''
"""


def robots_sitemap_discovery_q(spark, sf_dir):
    """Sitemap discovery from robots.txt bodies (RFC 9309 §2.3 non-group
    directive — valid anywhere in the file, any case, multiple lines):
    synthetic robots bodies from orders, Catalyst (?im) line regex, one
    explode + distinct. Discovered URLs are what read_sitemap_seeds
    consumes — the standard crawl bootstrap. Oracle replays the same RE2
    pattern in DuckDB."""
    from cord19_crawler_spark.frontier.robots import sitemap_urls_expr

    o = _t(spark, sf_dir, "orders")
    c, k = F.col("o_custkey"), F.col("o_orderkey")
    host = F.concat(F.lit("h"), (c % 20).cast("string"), F.lit(".example.com"))
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /p"),
        (k % 5).cast("string"),
        F.lit("\n"),
        F.when(
            k % 2 == 0,
            F.concat(
                F.lit("Sitemap: https://"), host, F.lit("/sm"),
                (k % 4).cast("string"), F.lit(".xml\n"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("sitemap: https://"), host, F.lit("/extra.xml\n")),
        ).otherwise(F.lit("")),
    )
    d = o.select(host.alias("host"), body.alias("robots_txt"))
    return (
        d.select(
            "host",
            F.explode(sitemap_urls_expr("robots_txt")).alias("sitemap_url"),
        )
        .distinct()
    )


_ROBOTS_SITEMAP_SQL = r"""
WITH b AS (
  SELECT 'h' || CAST(o_custkey % 20 AS VARCHAR) || '.example.com' AS host,
    'User-agent: *' || chr(10) || 'Disallow: /p'
      || CAST(o_orderkey % 5 AS VARCHAR) || chr(10)
      || CASE WHEN o_orderkey % 2 = 0
           THEN 'Sitemap: https://h' || CAST(o_custkey % 20 AS VARCHAR)
             || '.example.com/sm' || CAST(o_orderkey % 4 AS VARCHAR)
             || '.xml' || chr(10) ELSE '' END
      || CASE WHEN o_orderkey % 3 = 0
           THEN 'sitemap: https://h' || CAST(o_custkey % 20 AS VARCHAR)
             || '.example.com/extra.xml' || chr(10) ELSE '' END AS robots_txt
  FROM orders
)
SELECT DISTINCT host,
  unnest(regexp_extract_all(robots_txt,
    '(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)[ \t]*(?:#[^\r\n]*)?\r?$', 1))
    AS sitemap_url
FROM b
"""


def adaptive_quality_cut_q(spark, sf_dir):
    """Adaptive per-group quality thresholding (FineWeb/CCNet practice):
    drop each language's bottom 30% by length — the cut is each group's
    OWN p=0.3 quantile, not a global constant, so lower-scoring
    languages aren't over-pruned. Composes exact_quantiles (positional
    order statistics) with a broadcast threshold join; the oracle
    replays quantile_cont thresholds and the >= comparison."""
    from cord19_crawler_spark.operators.traindata import adaptive_quality_cut

    d = _t(spark, sf_dir, "documents")
    return adaptive_quality_cut(d, "n_chars", 0.3, group_col="lang")


_ADAPTIVE_CUT_SQL = """
WITH t AS (
  SELECT lang,
    round(quantile_cont(CAST(n_chars AS DOUBLE), 0.3), 6) AS threshold
  FROM documents GROUP BY lang
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS DOUBLE) AS score,
  t.threshold, (CAST(d.n_chars AS DOUBLE) >= t.threshold) AS kept
FROM documents d JOIN t ON d.lang = t.lang
"""


def text_token_stats(spark, sf_dir):
    """Language/token analytics: per lang, doc count + avg whitespace-token
    count + avg chars (training-data quality rollup)."""
    d = _t(spark, sf_dir, "documents")
    tc = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        d.select("lang", tc.alias("tc"), F.col("n_chars"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("tc"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


_TOKEN_STATS_SQL = """
SELECT lang, count(*) AS n_docs,
       round(avg(len(regexp_split_to_array(trim(text), '\\s+'))), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def text_quality_scores(spark, sf_dir):
    """Quality scoring + language-ID heuristics (training-data filters) —
    pure Catalyst expressions (functions/text.py:quality_score, lang_id),
    mirrored exactly in DuckDB (same op order so double arithmetic and the
    0.05 boundary agree bit-for-bit)."""
    from cord19_crawler_spark.functions.text import lang_id, quality_score

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        lang_id("text").alias("lang_guess"),
        quality_score("text").alias("quality"),
    )


def _text_quality_sql() -> str:
    stops = _stops_sql()
    return f"""
WITH base AS (
  SELECT doc_id,
         length(text) AS n,
         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
         regexp_extract_all(lower(text), '[a-z0-9]{{2,}}') AS toks
  FROM documents WHERE doc_id < 200
), m AS (
  SELECT doc_id, n, alpha, len(toks) AS n_toks,
         len(list_filter(toks, t -> list_contains([{stops}], t))) AS stop_hits
  FROM base
)
SELECT doc_id,
       CASE WHEN (CASE WHEN n_toks > 0 THEN stop_hits / CAST(n_toks AS DOUBLE)
                       ELSE 0.0 END) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_guess,
       round(0.4 * least(n / 500.0, 1.0)
           + 0.4 * (CASE WHEN n > 0 THEN alpha / CAST(n AS DOUBLE) ELSE 0.0 END)
           + 0.2 * (CASE WHEN n_toks > 0 THEN stop_hits / CAST(n_toks AS DOUBLE)
                         ELSE 0.0 END), 6) AS quality
FROM m
"""


def text_fingerprints(spark, sf_dir):
    """Document fingerprinting: md5 of normalized text + 56-bit int form."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        md5_long56(norm).alias("fp56"),
    )


_NORM_EXPR = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5({_NORM_EXPR}) AS fp,
       {md5_long56_sql(_NORM_EXPR)} AS fp56
FROM documents
"""


def title_truncation(spark, sf_dir):
    """P11: the reference's display truncation (title[:67] + '...' when
    over length, src/singlewordSearch.py:508) over the documents text as
    the title stand-in — pure Catalyst."""
    from cord19_crawler_spark.functions.text import truncate_title

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id",
        truncate_title(F.substring(F.col("text"), 1, 100)).alias("display"),
    )


_TITLE_TRUNC_SQL = """
SELECT doc_id,
       CASE WHEN length(substr(text, 1, 100)) > 67
            THEN substr(substr(text, 1, 100), 1, 67) || '...'
            ELSE substr(text, 1, 100) END AS display
FROM documents WHERE doc_id < 200
"""


def text_repetition_metrics_q(spark, sf_dir):
    """Gopher-style within-document repetition metrics (Rae et al. 2021
    §A1.1, word-level): token count, distinct/top token fractions, top
    bigram fraction, duplicate-trigram positional fraction. Pure-Catalyst
    higher-order functions — zero shuffles, the whole metric family is one
    codegen'd projection per row (plan-asserted in tests/test_quality.py)."""
    from cord19_crawler_spark.functions.quality import repetition_metrics

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = repetition_metrics(d)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


# DuckDB mirror: same tokenizer, same window construction (generate_series
# is empty for len<n, matching Spark's guarded sequence), same per-distinct
# lambda counting, same round placement.
_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, toks,
    list_transform(generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1]) AS bi,
    list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS tri
  FROM t
)
SELECT doc_id,
  len(toks) AS n_tokens,
  CASE WHEN len(toks) > 0
       THEN round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6)
       ELSE 1.0 END AS distinct_token_frac,
  CASE WHEN len(toks) > 0
       THEN round(list_max(list_transform(list_distinct(toks),
                    d -> len(list_filter(toks, x -> x = d))))
            / CAST(len(toks) AS DOUBLE), 6)
       ELSE 0.0 END AS top_token_frac,
  CASE WHEN len(bi) > 0
       THEN round(list_max(list_transform(list_distinct(bi),
                    d -> len(list_filter(bi, x -> x = d))))
            / CAST(len(bi) AS DOUBLE), 6)
       ELSE 0.0 END AS top_bigram_frac,
  CASE WHEN len(tri) > 0
       THEN round(len(list_filter(tri,
                    x -> len(list_filter(tri, y -> y = x)) > 1))
            / CAST(len(tri) AS DOUBLE), 6)
       ELSE 0.0 END AS dup_trigram_frac
FROM g
"""


def gopher_quality_filters_q(spark, sf_dir):
    """Gopher-style per-document quality gate: each rule its own boolean
    (word count, mean word length, alphabetic-word fraction, stopword
    occurrences) plus the conjunction — the per-rule breakdown is what a
    pipeline ablates on. Pure Catalyst, shuffle-free."""
    from cord19_crawler_spark.functions.quality import gopher_flags

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = gopher_flags(d)
    return out.withColumn("n_words", F.col("n_words").cast("long"))


def _gopher_sql() -> str:
    stops = _stops_sql()
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{{2,}}') AS toks
  FROM documents WHERE doc_id < 300
), m AS (
  SELECT doc_id, len(toks) AS n,
    CASE WHEN len(toks) > 0
         THEN list_sum(list_transform(toks, t -> length(t)))
              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS mean_len,
    CASE WHEN len(toks) > 0
         THEN len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
              / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS alpha_frac,
    len(list_filter(toks, t -> list_contains([{stops}], t))) AS stop_hits
  FROM t
)
SELECT doc_id, n AS n_words, round(mean_len, 6) AS mean_word_len,
  (n >= 5 AND n <= 100000) AS flag_word_count,
  (mean_len >= 3.0 AND mean_len <= 10.0) AS flag_mean_word_len,
  (alpha_frac >= 0.8) AS flag_alpha_word_frac,
  (stop_hits >= 2) AS flag_stop_hits,
  ((n >= 5 AND n <= 100000) AND (mean_len >= 3.0 AND mean_len <= 10.0)
   AND (alpha_frac >= 0.8) AND (stop_hits >= 2)) AS keep
FROM m
"""


def dup_ngram_coverage_q(spark, sf_dir):
    """Cross-document duplicated-trigram coverage (CCNet-style boilerplate
    signal): per doc, the fraction of trigram positions whose trigram
    appears in >= 2 distinct documents. Distributed shape: explode →
    per-(doc,gram) count (map-side combine) → per-gram doc count → join
    back → per-doc rollup; hot grams hit an AGGREGATE (linear), never a
    pair join, so no hot-bucket cap is needed."""
    from cord19_crawler_spark.operators.dedup import duplicated_ngram_coverage

    d = _t(spark, sf_dir, "documents")
    return duplicated_ngram_coverage(d, n=3, min_docs=2)


_DUP_COVERAGE_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), g AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(toks) - 2),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM t
), pc AS (
  SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
), dg AS (
  SELECT gram FROM pc GROUP BY gram HAVING count(*) >= 2
)
SELECT pc.doc_id,
  CAST(sum(pc.c) AS BIGINT) AS n_ngrams,
  CAST(sum(CASE WHEN dg.gram IS NOT NULL THEN pc.c ELSE 0 END) AS BIGINT)
    AS dup_ngrams,
  round(sum(CASE WHEN dg.gram IS NOT NULL THEN pc.c ELSE 0 END)
        / CAST(sum(pc.c) AS DOUBLE), 6) AS dup_coverage
FROM pc LEFT JOIN dg ON pc.gram = dg.gram
GROUP BY pc.doc_id
"""


def pii_redaction_q(spark, sf_dir):
    """PII redaction audit: plant a deterministic email + IPv4 per document
    (the synthetic corpus carries none — planting makes the oracle
    non-trivial), redact, and report per-type match counts plus the
    redacted tail. Patterns are the cross-dialect-safe subset (no
    backreferences/lookaround) so Java regex and RE2 agree."""
    from cord19_crawler_spark.functions.quality import pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".9 end"),
    )
    d = d.select("doc_id", planted.alias("planted"))
    counts = pii_counts(F.col("planted"))
    return d.select(
        "doc_id",
        F.substring(redact_pii(F.col("planted")), -30, 30).alias("redacted_tail"),
        counts["email"].cast("long").alias("n_email"),
        counts["ipv4"].cast("long").alias("n_ipv4"),
        counts["phone"].cast("long").alias("n_phone"),
    )


_PII_SQL = r"""
WITH p AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         || '.9 end' AS planted
  FROM documents WHERE doc_id < 200
), r AS (
  SELECT doc_id,
    regexp_replace(
      regexp_replace(
        regexp_replace(planted,
          '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '(\+?\d{1,2}[-. ]?)?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]?\d{4}\b',
      '<PHONE>', 'g') AS red,
    len(regexp_extract_all(planted,
      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_email,
    len(regexp_extract_all(planted,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
    len(regexp_extract_all(planted,
      '(\+?\d{1,2}[-. ]?)?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]?\d{4}\b')) AS n_phone
  FROM p
)
SELECT doc_id,
  CASE WHEN length(red) >= 30 THEN substr(red, length(red) - 29, 30)
       ELSE red END AS redacted_tail,
  CAST(n_email AS BIGINT) AS n_email,
  CAST(n_ipv4 AS BIGINT) AS n_ipv4,
  CAST(n_phone AS BIGINT) AS n_phone
FROM r
"""


def token_budget_q(spark, sf_dir):
    """Token counting both ways (task brief: whitespace + a BPE-ish regex):
    per-doc whitespace tokens vs GPT-2 pre-tokenizer segments — the numbers
    a pipeline sizes a training mix with. Pure Catalyst, shuffle-free."""
    from cord19_crawler_spark.functions.text import bpe_token_count, token_count

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return d.select(
        "doc_id",
        token_count("text").cast("long").alias("ws_tokens"),
        bpe_token_count("text").cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def _token_budget_sql() -> str:
    from cord19_crawler_spark.functions.text import BPE_SPLIT_PATTERN

    pat = BPE_SPLIT_PATTERN.replace("'", "''")
    return f"""
SELECT doc_id,
  CASE WHEN trim(text) = '' THEN 0
       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS ws_tokens,
  len(regexp_extract_all(text, '{pat}')) AS bpe_tokens,
  CAST(length(text) AS BIGINT) AS n_chars
FROM documents WHERE doc_id < 300
"""


def deterministic_hash_sample_q(spark, sf_dir):
    """Deterministic corpus sampling: keep iff (doc_id * 2654435761) mod
    2^32 < 0.25 * 2^32 (Knuth multiplicative hash). Reproducible across
    engines/partitionings/runs — a training pipeline must be able to
    re-derive exactly which docs a model saw — and the predicate is pure
    arithmetic, so it reaches the scan (no shuffle, no UDF; plan-asserted
    in tests/test_quality.py)."""
    from cord19_crawler_spark.functions.quality import hash_sample_pred

    d = _t(spark, sf_dir, "documents")
    return d.filter(hash_sample_pred("doc_id", 0.25)).select("doc_id", "lang")


_HASH_SAMPLE_SQL = """
SELECT doc_id, lang FROM documents
WHERE (doc_id * 2654435761) % 4294967296 < 1073741824
"""


def mean_tf_per_word(spark, sf_dir):
    """A8: mean frequency per group (the reference's frequency-centering
    statistic, src/barrel.py-adjacent compression path) — avg(tf) over the
    postings grouped by word, top-200 words by doc_freq for a bounded
    result."""
    p = postings_tf(spark, sf_dir)
    stats = p.groupBy("word").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.round(F.avg("tf"), 6).alias("mean_tf"),
    )
    return stats.orderBy(F.desc("doc_freq"), F.asc("word")).limit(200)


_MEAN_TF_SQL = f"""
WITH {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id)
SELECT word, count(*) AS doc_freq, round(avg(tf), 6) AS mean_tf
FROM postings GROUP BY word
ORDER BY doc_freq DESC, word ASC LIMIT 200
"""


def min_length_doc_filter(spark, sf_dir):
    """P5: the reference's minimum-length document filter (drop docs whose
    text is too short to index, src/crawler.py length>50 pattern) — counts
    per outcome so the whole-table predicate is oracle-checked."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("kept", (F.length("text") > 50).cast("int"))
        .groupBy("kept")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.length("text")).alias("min_len"),
            F.max(F.length("text")).alias("max_len"),
        )
        .orderBy("kept")
    )


_MIN_LEN_SQL = """
SELECT CAST(length(text) > 50 AS INTEGER) AS kept,
       count(*) AS n_docs,
       CAST(min(length(text)) AS INTEGER) AS min_len,
       CAST(max(length(text)) AS INTEGER) AS max_len
FROM documents GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------


def frontier_robots_filter(spark, sf_dir):
    """robots.txt longest-prefix matcher (broadcast rules + Arrow UDF) vs a
    SQL oracle that encodes the same rule table directly: hosts 0/1 deny
    /doc/1*, host 2 denies everything except /doc/2* (allow-override)."""
    _ensure_workers(spark)
    from pyspark.sql import Row

    from cord19_crawler_spark.frontier.robots import filter_robots
    from cord19_crawler_spark.functions.urls import canonicalize_url_sql

    m = _messy_urls(spark, sf_dir)
    canon = m.select(
        canonicalize_url_sql(F.col("raw_url")).alias("url"), "host"
    )
    robots = spark.createDataFrame(
        [
            Row(host="host0.example.com",
                rules=[Row(allow=False, path_prefix="/doc/1")]),
            Row(host="host1.example.com",
                rules=[Row(allow=False, path_prefix="/doc/1")]),
            Row(host="host2.example.com",
                rules=[Row(allow=False, path_prefix="/"),
                       Row(allow=True, path_prefix="/doc/2")]),
        ]
    )
    allowed = filter_robots(canon, robots)
    return (
        allowed.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_allowed"))
        .orderBy("host")
    )


def robots_wildcard_rules_q(spark, sf_dir):
    """RFC 9309 §2.2.3 wildcard matching: ``*`` spans octets, ``$``
    anchors the end, precedence is raw-pattern octet length (§2.2.2)
    with allow winning ties. Planted paths exercise every branch: a
    plain allow, a trailing-``*`` deny, a ``/*.pdf$`` deny whose ``$``
    must NOT catch ``.pdfx``, a LONGER allow overriding the pdf deny for
    one file, and an exact length tie (deny ``/t/a$`` vs allow
    ``/t/a*``) that allow must win. The oracle encodes the same rule
    table as explicit LIKE/regexp precedence."""
    _ensure_workers(spark)
    from pyspark.sql import Row

    from cord19_crawler_spark.frontier.robots import robots_allowed

    o = _t(spark, sf_dir, "orders")
    k = (F.col("o_orderkey") % 89).cast("string")
    f = F.col("o_orderkey") % 5
    path = (
        F.when(f == 0, F.concat(F.lit("/public/p"), k))
        .when(f == 1, F.concat(F.lit("/private"), k, F.lit("/x")))
        .when(f == 2, F.concat(F.lit("/docs/f"), k, F.lit(".pdf")))
        .when(f == 3, F.concat(F.lit("/docs/f"), k, F.lit(".pdfx")))
        .otherwise(F.lit("/t/a"))
    )
    urls = o.select(
        F.concat(F.lit("https://w.example.com"), path).alias("url")
    ).distinct()
    rules = spark.createDataFrame(
        [
            Row(
                rules=[
                    Row(allow=True, path_prefix="/public"),
                    Row(allow=False, path_prefix="/private*"),
                    Row(allow=False, path_prefix="/*.pdf$"),
                    Row(allow=True, path_prefix="/docs/f1.pdf"),
                    Row(allow=False, path_prefix="/t/a$"),
                    Row(allow=True, path_prefix="/t/a*"),
                ]
            )
        ]
    )
    return (
        urls.crossJoin(F.broadcast(rules))
        .select(
            "url",
            robots_allowed(F.col("url"), F.col("rules")).alias("allowed"),
        )
        .orderBy("url")
    )


_ROBOTS_WILDCARD_SQL = """
WITH p AS (
  SELECT DISTINCT
    CASE WHEN o_orderkey % 5 = 0
           THEN '/public/p' || CAST(o_orderkey % 89 AS VARCHAR)
         WHEN o_orderkey % 5 = 1
           THEN '/private' || CAST(o_orderkey % 89 AS VARCHAR) || '/x'
         WHEN o_orderkey % 5 = 2
           THEN '/docs/f' || CAST(o_orderkey % 89 AS VARCHAR) || '.pdf'
         WHEN o_orderkey % 5 = 3
           THEN '/docs/f' || CAST(o_orderkey % 89 AS VARCHAR) || '.pdfx'
         ELSE '/t/a' END AS path
  FROM orders
)
SELECT 'https://w.example.com' || path AS url,
  CASE
    WHEN path LIKE '/docs/f1.pdf%' THEN TRUE   -- allow, 12 octets, wins
    WHEN path LIKE '/private%' THEN FALSE      -- deny via trailing *
    WHEN path LIKE '/public%' THEN TRUE        -- plain allow
    WHEN regexp_matches(path, '^/.*\\.pdf$') THEN FALSE  -- $-anchored deny
    WHEN regexp_matches(path, '^/t/a') THEN TRUE  -- 5-octet tie: allow wins
    ELSE TRUE
  END AS allowed
FROM p
ORDER BY url
"""


_ROBOTS_SQL = f"""
WITH canon AS (
  SELECT {_CANON_URL_SQL_EXPR} AS url,
         'host' || (o_custkey %% 7) || '.example.com' AS host,
         '/doc/' || o_orderkey AS path
  FROM orders
)
SELECT host, count(*) AS n_allowed FROM canon
WHERE CASE
  WHEN host IN ('host0.example.com', 'host1.example.com')
    THEN NOT path LIKE '/doc/1%%'
  WHEN host = 'host2.example.com'
    THEN path LIKE '/doc/2%%'
  ELSE TRUE END
GROUP BY host ORDER BY host
""".replace("%%", "%")


def pos_distribution_q(spark, sf_dir):
    """A13 POS rollup through the Arrow lemmatizer black box (F1). The
    linguistic model is a deterministic stub (functions/text.py:_lemma_one)
    whose token/POS rules are pure string logic — the DuckDB oracle mirrors
    them exactly (regexp token split + CASE POS guess)."""
    _ensure_workers(spark)
    from cord19_crawler_spark.functions.text import lemmatize_tokens
    from cord19_crawler_spark.operators.indexing import pos_distribution

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select(
        F.explode(lemmatize_tokens(F.col("text"))).alias("tok")
    ).select(F.col("tok.pos").alias("pos_tag"))
    return pos_distribution(toks)


def barrel_assignment_greedy(spark, sf_dir):
    """Full barrel placement policy (round-robin head + greedy least-loaded
    tail, src/barrel.py:87-122). Greedy is inherently sequential — the
    DuckDB oracle emulates the heap loop with a recursive CTE (one word per
    recursion step, argmin load with lowest-barrel tie-break = heap tuple
    order); parity vs a pure-Python reimpl is also asserted in
    tests/test_operators.py."""
    _ensure_workers(spark)
    from cord19_crawler_spark.operators.barrels import assign_barrels

    stats = word_stats_query(spark, sf_dir)
    return assign_barrels(stats, num_barrels=4, top_n=10)


def multimodal_features(spark, sf_dir):
    """Multimodal plumbing over driver tables: synthesize a media column per
    document, decode+featurize via Arrow mapInPandas (decode stubbed — the
    fake features are md5-56bit-derived, so the DuckDB oracle recomputes the
    exact float32 values). Output is exploded to scalar (doc_id, dim, value)
    rows — hashable for the driver's row canonicalizer; the array<float>
    form stays available via operators.multimodal.decode_and_featurize."""
    _ensure_workers(spark)
    from cord19_crawler_spark.operators.multimodal import decode_and_featurize

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    media = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("media://doc/"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = decode_and_featurize(media, dim=8)
    return feats.select(
        "doc_id",
        "media_ref",
        F.posexplode("feature").alias("dim", "value"),
        "decode_status",
    ).select(
        "doc_id",
        "media_ref",
        "dim",
        F.round(F.col("value").cast("double"), 6).alias("value"),
        "decode_status",
    )


# float32 quantization mirrored via CAST(.. AS REAL) before the round —
# decode_and_featurize emits float32 features (real embed-kernel contract)
_MULTIMODAL_SQL = """
WITH dims AS (SELECT CAST(unnest(range(8)) AS INTEGER) AS dim),
m AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media://doc/' || doc_id AS media_ref,
         text
  FROM documents WHERE doc_id < 40
)
SELECT doc_id, media_ref, dim,
       round(CAST(CAST(
         (CAST(('0x' || substr(md5(text || ':' || dim), 1, 14)) AS BIGINT)
          / 72057594037927936.0) * 2.0 - 1.0
       AS REAL) AS DOUBLE), 6) AS value,
       'ok-fake' AS decode_status
FROM m CROSS JOIN dims
"""


_POS_DIST_SQL = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}')) AS tok
  FROM documents WHERE doc_id < 100
)
SELECT CASE WHEN tok LIKE '%ing' THEN 'VERB' ELSE 'NOUN' END AS pos_tag,
       count(*) AS cnt
FROM toks
WHERE NOT regexp_matches(tok, '^[0-9]+$') AND tok NOT IN ({_stops_sql()})
GROUP BY 1 ORDER BY cnt DESC, pos_tag
"""


def lemma_pos_counts(spark, sf_dir):
    """A3: per-lemma POS counts through the Arrow lemmatizer (the
    reference lexicon's pos_counts map, src/index.py:86) in exploded
    scalar form (lemma, pos_tag, cnt); the map shape is materialized at
    the edge via map_from_entries (tested in tests/test_operators.py).
    Oracle mirrors the stub's lemma + POS rules."""
    _ensure_workers(spark)
    from cord19_crawler_spark.functions.text import lemmatize_tokens

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select(F.explode(lemmatize_tokens(F.col("text"))).alias("tok"))
    return (
        toks.groupBy(
            F.col("tok.lemma").alias("lemma"), F.col("tok.pos").alias("pos_tag")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _lemma_pos_sql() -> str:
    return f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}')) AS tok
  FROM documents WHERE doc_id < 100
)
SELECT {_lemma_case_sql("tok")} AS lemma,
       CASE WHEN tok LIKE '%ing' THEN 'VERB' ELSE 'NOUN' END AS pos_tag,
       count(*) AS cnt
FROM toks
WHERE NOT regexp_matches(tok, '^[0-9]+$') AND tok NOT IN ({_stops_sql()})
GROUP BY 1, 2
"""


def backward_index_rows(spark, sf_dir):
    """Backward index (doc → ordered token dicts, src/index.py:67-68) in
    exploded relational form (doc_id, seq, lemma, pos_tag) through the
    Arrow lemmatizer black box; the DuckDB oracle recomputes the stub's
    token split, lemma rules and POS guess exactly."""
    _ensure_workers(spark)
    from cord19_crawler_spark.operators.indexing import backward_index

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    bi = backward_index(d)
    return bi.select("doc_id", F.posexplode("tokens").alias("seq", "tok")).select(
        "doc_id",
        "seq",
        F.col("tok.lemma").alias("lemma"),
        F.col("tok.pos").alias("pos_tag"),
    )


def _backward_index_sql() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}')) AS tok,
         generate_subscripts(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}'), 1) AS ord
  FROM documents WHERE doc_id < 50
), kept AS (
  SELECT doc_id, tok, ord FROM toks
  WHERE NOT regexp_matches(tok, '^[0-9]+$') AND tok NOT IN ({_stops_sql()})
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
            AS INTEGER) AS seq,
       {_lemma_case_sql("tok")} AS lemma,
       CASE WHEN tok LIKE '%ing' THEN 'VERB' ELSE 'NOUN' END AS pos_tag
FROM kept
"""


def index_stats_q(spark, sf_dir):
    """Consolidated index statistics (reference index_statistics.json field
    family, src/index.py:174-199): paper/vocab totals + POS distribution
    pivoted to columns — one row, fully oracle-mirrored. The file-sink form
    (exact reference field names, incl. sizes/timings) is written by
    plans/search_pipeline.build_index as index_statistics.json."""
    _ensure_workers(spark)
    from cord19_crawler_spark.functions.text import lemmatize_tokens

    d = _t(spark, sf_dir, "documents")
    toks = _tokens(spark, sf_dir)
    agg_docs = d.agg(F.count(F.lit(1)).alias("total_papers_indexed"))
    agg_vocab = toks.agg(F.countDistinct("word").alias("total_unique_words"))
    pos = (
        d.select(F.explode(lemmatize_tokens(F.col("text"))).alias("tok"))
        .agg(
            F.sum((F.col("tok.pos") == "NOUN").cast("long")).alias("noun_count"),
            F.sum((F.col("tok.pos") == "VERB").cast("long")).alias("verb_count"),
            # structurally 0 since the lemmatizer's reference filter drops
            # digit tokens (like_num); the column is kept because the
            # reference stats artifact carries the NUM slot — the oracle's
            # FILTER (pos = 'NUM') is identically dead
            F.sum((F.col("tok.pos") == "NUM").cast("long")).alias("num_count"),
        )
    )
    return (
        agg_docs.crossJoin(agg_vocab)
        .crossJoin(pos)
        .withColumn("inverted_index_terms", F.col("total_unique_words"))
        .select(
            "total_papers_indexed",
            "total_unique_words",
            "inverted_index_terms",
            "noun_count",
            "verb_count",
            "num_count",
        )
    )


_INDEX_STATS_SQL = f"""
WITH {_TOKENS_CTE},
postoks AS (
  SELECT CASE WHEN tok LIKE '%ing' THEN 'VERB' ELSE 'NOUN' END AS pos
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}')) AS tok
        FROM documents)
  WHERE NOT regexp_matches(tok, '^[0-9]+$') AND tok NOT IN ({_stops_sql()})
)
SELECT
  (SELECT count(*) FROM documents) AS total_papers_indexed,
  (SELECT count(DISTINCT word) FROM tokens) AS total_unique_words,
  (SELECT count(DISTINCT word) FROM tokens) AS inverted_index_terms,
  (SELECT CAST(count(*) FILTER (pos = 'NOUN') AS BIGINT) FROM postoks) AS noun_count,
  (SELECT CAST(count(*) FILTER (pos = 'VERB') AS BIGINT) FROM postoks) AS verb_count,
  (SELECT CAST(count(*) FILTER (pos = 'NUM') AS BIGINT) FROM postoks) AS num_count
"""


# Greedy least-loaded tail emulated as a recursive CTE: one vocabulary word
# per recursion step; barrel = argmin(load) with lowest-barrel-id tie-break,
# exactly the heap tuple-order semantics of operators/barrels.py:assign_barrels
_BARREL_GREEDY_SQL = f"""
WITH RECURSIVE {_TOKENS_CTE},
postings AS (SELECT word, doc_id, count(*) AS tf FROM tokens GROUP BY word, doc_id),
stats AS (
  SELECT word, count(DISTINCT doc_id) AS doc_freq, CAST(sum(tf) AS BIGINT) AS total_freq
  FROM postings GROUP BY word
),
ranked AS (
  SELECT word, doc_freq, total_freq,
         row_number() OVER (ORDER BY doc_freq DESC, word ASC) AS rank
  FROM stats
),
head AS (
  SELECT word, doc_freq, total_freq, rank,
         CAST((rank - 1) % 4 AS INTEGER) AS barrel_id
  FROM ranked WHERE rank <= 10
),
init AS (
  SELECT CAST(coalesce(max(rank), 0) AS BIGINT) AS rank,
         CAST(NULL AS VARCHAR) AS word,
         CAST(NULL AS BIGINT) AS doc_freq,
         CAST(NULL AS BIGINT) AS total_freq,
         CAST(NULL AS INTEGER) AS barrel_id,
         CAST(coalesce(sum(CASE WHEN barrel_id = 0 THEN doc_freq END), 0) AS BIGINT) AS l0,
         CAST(coalesce(sum(CASE WHEN barrel_id = 1 THEN doc_freq END), 0) AS BIGINT) AS l1,
         CAST(coalesce(sum(CASE WHEN barrel_id = 2 THEN doc_freq END), 0) AS BIGINT) AS l2,
         CAST(coalesce(sum(CASE WHEN barrel_id = 3 THEN doc_freq END), 0) AS BIGINT) AS l3
  FROM head
),
step AS (
  SELECT * FROM init
  UNION ALL
  SELECT rank, word, doc_freq, total_freq, b AS barrel_id,
         l0 + CASE WHEN b = 0 THEN doc_freq ELSE 0 END AS l0,
         l1 + CASE WHEN b = 1 THEN doc_freq ELSE 0 END AS l1,
         l2 + CASE WHEN b = 2 THEN doc_freq ELSE 0 END AS l2,
         l3 + CASE WHEN b = 3 THEN doc_freq ELSE 0 END AS l3
  FROM (
    SELECT r.rank, r.word, r.doc_freq, r.total_freq, s.l0, s.l1, s.l2, s.l3,
           CASE WHEN s.l0 <= least(s.l1, s.l2, s.l3) THEN 0
                WHEN s.l1 <= least(s.l2, s.l3) THEN 1
                WHEN s.l2 <= s.l3 THEN 2 ELSE 3 END AS b
    FROM step s JOIN ranked r ON r.rank = s.rank + 1
  )
)
SELECT word, doc_freq, total_freq, barrel_id FROM head
UNION ALL
SELECT word, doc_freq, total_freq, barrel_id FROM step WHERE word IS NOT NULL
"""


def barrel_stats_q(spark, sf_dir):
    """A6 per-barrel rollup (word count, load sums, word range) over the
    full greedy placement — oracle reuses the recursive-CTE assignment."""
    _ensure_workers(spark)
    from cord19_crawler_spark.operators.barrels import assign_barrels, barrel_stats

    stats = word_stats_query(spark, sf_dir)
    return barrel_stats(assign_barrels(stats, num_barrels=4, top_n=10))


_BARREL_STATS_SQL = f"""
WITH assigned AS ({_BARREL_GREEDY_SQL})
SELECT barrel_id,
       count(*) AS word_count,
       CAST(sum(doc_freq) AS BIGINT) AS total_doc_freq,
       CAST(sum(total_freq) AS BIGINT) AS total_word_freq,
       min(word) AS range_start,
       max(word) AS range_end
FROM assigned GROUP BY barrel_id ORDER BY barrel_id
"""


def doc_to_barrels_q(spark, sf_dir):
    """A7: doc → set of barrels containing its words (reference does this
    as an O(words×docs×barrels) loop, src/barrel.py:131-143; here one join
    + one agg), exploded to scalar (doc_id, barrel_id) rows for the
    driver's canonicalizer."""
    _ensure_workers(spark)
    from cord19_crawler_spark.operators.barrels import assign_barrels, doc_to_barrels

    stats = word_stats_query(spark, sf_dir)
    assigned = assign_barrels(stats, num_barrels=4, top_n=10)
    dtb = doc_to_barrels(assigned, postings_tf(spark, sf_dir))
    return dtb.select(
        "doc_id", F.explode("barrels").alias("barrel_id")
    )


_DOC_TO_BARRELS_SQL = f"""
WITH assigned AS ({_BARREL_GREEDY_SQL})
SELECT DISTINCT t.doc_id, a.barrel_id
FROM (
  SELECT DISTINCT doc_id, word FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]{{2,}}')) AS word
    FROM documents
  ) WHERE NOT regexp_matches(word, '^[0-9]+$')
    AND word NOT IN ({_stops_sql()})
) t JOIN assigned a USING (word)
"""


def dedup_connected_components_q(spark, sf_dir):
    """Near-duplicate CLUSTERING end-to-end: star edges between docs
    sharing a rare 5-gram (df in [2,10] — the hot-gram window guard),
    then connected components via alternating Large-Star/Small-Star
    (Kiveris et al. SoCC'14 — O(log^2 n) rounds, diameter-independent),
    then per-cluster size + canonical-doc flag. This is the step a dedup
    pipeline runs AFTER pair generation: transitive closure picks ONE
    keeper per cluster. The oracle replays the closure as a recursive
    CTE, so the iterative distributed algorithm is value-checked, not
    just rows-counted."""
    from cord19_crawler_spark.operators.graph import (
        components_with_size,
        connected_components,
        shared_gram_star_edges,
    )

    d = _t(spark, sf_dir, "documents")
    edges = shared_gram_star_edges(d, n=5, min_df=2, max_df=10)
    cc = connected_components(edges, algorithm="two-phase")
    return components_with_size(cc).select(
        F.col("node").alias("doc_id"),
        "component",
        F.col("component_size").cast("long").alias("component_size"),
        "is_canonical",
    )


_CONNECTED_COMPONENTS_SQL = """
WITH RECURSIVE t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, len(toks) - 4),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
           || toks[i+3] || ' ' || toks[i+4])) AS gram
  FROM t
), hub AS (
  SELECT gram, min(doc_id) AS hub FROM g GROUP BY gram
  HAVING count(*) BETWEEN 2 AND 10
), e AS (
  SELECT DISTINCT h.hub AS a, g.doc_id AS b
  FROM g JOIN hub h USING (gram) WHERE g.doc_id <> h.hub
), sym AS (
  SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e
), nodes AS (
  SELECT DISTINCT a AS node FROM sym
), walk(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.b, w.lab FROM walk w JOIN sym s ON s.a = w.node
), cc AS (
  SELECT node AS doc_id, min(lab) AS component FROM walk GROUP BY node
)
SELECT cc.doc_id, cc.component,
  CAST(sz.c AS BIGINT) AS component_size,
  (cc.doc_id = cc.component) AS is_canonical
FROM cc JOIN (
  SELECT component, count(*) AS c FROM cc GROUP BY component
) sz USING (component)
"""


def benchmark_decontamination_q(spark, sf_dir):
    """GPT-3/Llama-style n-gram decontamination: docs with doc_id % 97
    == 0 play the benchmark/eval set; every training doc reports how many
    of its distinct 3-grams appear anywhere in the benchmark set. The
    benchmark gram side is explicitly broadcast — the training corpus is
    scanned once, never shuffled (plan-asserted in tests). Real pipelines
    use 8-13-grams; the synthetic corpus's tiny vocabulary makes 3 the
    discriminative choice (167/494 docs flagged at sf0.01)."""
    from cord19_crawler_spark.operators.traindata import benchmark_decontamination

    d = _t(spark, sf_dir, "documents")
    return benchmark_decontamination(d, (F.col("doc_id") % 97) == 0, n=3)


_DECONTAMINATION_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), g AS (
  SELECT DISTINCT doc_id,
    unnest(list_transform(generate_series(1, len(toks) - 2),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
  FROM t
), bench AS (
  SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0
)
SELECT g.doc_id,
  CAST(count(*) AS BIGINT) AS n_grams,
  CAST(count(*) FILTER (WHERE b.gram IS NOT NULL) AS BIGINT) AS n_contaminated,
  round(count(*) FILTER (WHERE b.gram IS NOT NULL)
        / CAST(count(*) AS DOUBLE), 6) AS contamination_frac,
  (count(*) FILTER (WHERE b.gram IS NOT NULL) > 0) AS is_contaminated
FROM g LEFT JOIN bench b USING (gram)
WHERE g.doc_id % 97 <> 0
GROUP BY g.doc_id
"""


def mixture_temperature_sample_q(spark, sf_dir):
    """Deterministic temperature-weighted source sampling (p_s ∝
    count_s^0.5, target 50% of the corpus — the XLM-R/Llama source
    re-balancing rule): per-source keep rates from one tiny groupBy,
    membership by the engine-wide Knuth sampling hash so the SAMPLE
    ITSELF (not just its size) is reproducible and oracle-checked."""
    from cord19_crawler_spark.operators.traindata import temperature_mixture_sample

    d = _t(spark, sf_dir, "documents", spread=False)
    return temperature_mixture_sample(d, alpha=0.5, target_frac=0.5)


_MIXTURE_SAMPLE_SQL = """
WITH c AS (
  SELECT source, count(*) AS c FROM documents GROUP BY source
), tot AS (
  SELECT sum(pow(c, 0.5)) AS wsum, sum(c) AS n_total FROM c
), r AS (
  SELECT source,
    least(1.0, (pow(c, 0.5) / tot.wsum) * (0.5 * tot.n_total) / c)
      AS keep_rate
  FROM c, tot
)
SELECT d.doc_id, d.source, round(r.keep_rate, 6) AS keep_rate
FROM documents d JOIN r USING (source)
WHERE (d.doc_id * 2654435761) % 4294967296
      < floor(r.keep_rate * 4294967296)
"""


def sequence_packing_q(spark, sf_dir):
    """Next-fit packing of documents into 256-token training sequences
    across 8 deterministic shards (doc_id % 8): token counts are pure
    Catalyst; only the genuinely-sequential per-shard scan runs as one
    Arrow-batched applyInPandas over (doc_id, n_tokens) longs. The
    oracle replays the scan as a per-shard recursive CTE, so the PACKING
    (which doc lands in which sequence), not just counts, is checked."""
    from cord19_crawler_spark.operators.traindata import pack_sequences

    d = _t(spark, sf_dir, "documents", spread=False).filter(F.col("doc_id") < 2000)
    return pack_sequences(d, budget=256, num_shards=8)


_SEQUENCE_PACKING_SQL = """
WITH RECURSIVE t AS (
  SELECT doc_id, doc_id % 8 AS shard,
    len(regexp_extract_all(lower(text), '[a-z0-9]{2,}')) AS n_tokens
  FROM documents WHERE doc_id < 2000
), o AS (
  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
  FROM t
), pack(shard, rn, doc_id, n_tokens, seq_id, fill) AS (
  SELECT shard, rn, doc_id, n_tokens, 0, n_tokens FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tokens,
    CASE WHEN p.fill + o.n_tokens <= 256 THEN p.seq_id ELSE p.seq_id + 1 END,
    CASE WHEN p.fill + o.n_tokens <= 256 THEN p.fill + o.n_tokens
         ELSE o.n_tokens END
  FROM o JOIN pack p ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT CAST(shard AS BIGINT) AS shard, doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens, CAST(seq_id AS BIGINT) AS seq_id
FROM pack
"""


def dedup_cluster_canonical_q(spark, sf_dir):
    """The end-to-end dedup DELIVERABLE: MinHash-LSH verified pairs
    (the oracled dedup_minhash_lsh_e2e stage) → connected components
    (transitive closure — A~B, B~C ⇒ one cluster) → per-document
    keep/drop decision, singletons included (they are their own
    canonical). The oracle composes the full minhash SQL replay with a
    recursive-CTE closure, so every stage of "which docs do I keep" is
    value-checked."""
    from cord19_crawler_spark.operators.graph import connected_components

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    from cord19_crawler_spark.operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(
        d, num_perm=8, bands=4, threshold=0.7, ngram=1, max_bucket_df=None
    )
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("_c"))
    return (
        d.select(F.col("doc_id").cast("long").alias("doc_id"))
        .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("component", F.coalesce("component", "doc_id"))
        .join(F.broadcast(sizes), "component", "left")
        .select(
            "doc_id",
            "component",
            F.coalesce("_c", F.lit(1)).cast("long").alias("component_size"),
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
        )
    )


def _dedup_cluster_canonical_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
{_minhash_e2e_sql()}
), sym AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM sym
), walk(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT s.b, w.lab FROM walk w JOIN sym s ON s.a = w.node
), cc AS (
  SELECT node, min(lab) AS component FROM walk GROUP BY node
), sz AS (
  SELECT component, count(*) AS c FROM cc GROUP BY component
)
SELECT d.doc_id,
  coalesce(cc.component, d.doc_id) AS component,
  CAST(coalesce(sz.c, 1) AS BIGINT) AS component_size,
  (d.doc_id = coalesce(cc.component, d.doc_id)) AS is_canonical
FROM (SELECT doc_id FROM documents WHERE doc_id < 60) d
LEFT JOIN cc ON cc.node = d.doc_id
LEFT JOIN sz ON sz.component = cc.component
"""


def dedup_substring_spans_q(spark, sf_dir):
    """Exact substring-level dedup (Lee et al. 2022 ExactSubstr, the
    hash-windowed distributed equivalent): every duplicated 6-token run
    in the corpus — within-doc repeats count — merged into maximal
    per-document [start_tok, end_tok) remove-spans. k=6 because the
    synthetic corpus's ~30-word vocabulary makes random 6-gram collisions
    ~0 while the planted mirrored passages survive (2,107 duplicated
    positions across 47 docs at sf0.01). The only wide shuffle is a
    LINEAR hash aggregate over window hashes (no pair join, no hot-bucket
    cap needed); the island merge is a per-document window."""
    from cord19_crawler_spark.operators.dedup import duplicate_substring_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_substring_spans(d, k=6, min_count=2)


_SUBSTRING_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), p AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 5),
    i -> {'p0': i - 1, 'gram': array_to_string(toks[i:i+5], ' ')})) AS s
  FROM t WHERE len(toks) >= 6
), f AS (
  SELECT doc_id, s.p0 AS p0, s.gram AS gram FROM p
), dup AS (
  SELECT gram FROM f GROUP BY gram HAVING count(*) >= 2
), h AS (
  SELECT doc_id, p0 FROM f SEMI JOIN dup USING (gram)
), w AS (
  SELECT doc_id, p0,
    lag(p0) OVER (PARTITION BY doc_id ORDER BY p0) AS prev
  FROM h
), isl AS (
  SELECT doc_id, p0,
    sum(CASE WHEN prev IS NULL OR p0 > prev + 6 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY p0) AS island
  FROM w
)
SELECT doc_id, CAST(min(p0) AS BIGINT) AS start_tok,
  CAST(max(p0) + 6 AS BIGINT) AS end_tok,
  count(*) AS n_dup_grams
FROM isl GROUP BY doc_id, island
"""


def link_pagerank_q(spark, sf_dir):
    """Fixed-iteration PageRank (5 rounds, d=0.85) over a deterministic
    synthetic link graph derived from orders (src = o_custkey % 200,
    dst = o_orderkey % 237 — the mod-237 side guarantees dangling nodes,
    so the stochastic-fix redistribution path is value-checked too). The
    oracle UNROLLS the five power iterations as chained CTEs, so every
    intermediate rank vector — not just row counts — must match. This is
    the principled upgrade of the frontier's indegree priority lever."""
    from cord19_crawler_spark.operators.graph import pagerank

    o = _t(spark, sf_dir, "orders", spread=False)
    edges = o.select(
        (F.col("o_custkey") % 200).alias("src"),
        (F.col("o_orderkey") % 237).alias("dst"),
    )
    pr = pagerank(edges, iterations=5, damping=0.85)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_sql(iterations: int = 5, d: float = 0.85) -> str:
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 200 AS src, o_orderkey % 237 AS dst
  FROM orders WHERE o_custkey % 200 <> o_orderkey % 237
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (
  SELECT n.node, coalesce(o.c, 0) AS outdeg
  FROM nodes n LEFT JOIN (
    SELECT src AS node, count(*) AS c FROM e GROUP BY src) o USING (node)
), r0 AS (
  SELECT node, 1.0 / nn.n AS rank FROM nodes, nn
)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", dm{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0) AS m
  FROM r{i - 1} r JOIN deg USING (node) WHERE outdeg = 0
), c{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS contrib
  FROM e JOIN r{i - 1} r ON r.node = e.src JOIN deg ON deg.node = e.src
  GROUP BY e.dst
), r{i} AS MATERIALIZED (
  SELECT n.node,
    (1 - {d}) / nn.n + {d} * (coalesce(c.contrib, 0) + dm.m / nn.n) AS rank
  FROM nodes n LEFT JOIN c{i} c USING (node), nn, dm{i} dm
)"""
        )
    parts.append(f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}")
    return "".join(parts)


def link_reciprocity_q(spark, sf_dir):
    """Per-node link reciprocity (Davison SIGIR 2000): the fraction of
    out-links reciprocated — link-exchange rings score near 1, organic
    links near 0. One self-semi-join on the reversed edge pair over the
    same synthetic link-graph family as the other link_* rows."""
    from cord19_crawler_spark.operators.graph import link_reciprocity

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_orderkey") % 131).alias("src"),
        (F.col("o_custkey") % 131).alias("dst"),
    )
    return link_reciprocity(edges)


_RECIPROCITY_SQL = """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_orderkey % 131 AS src, o_custkey % 131 AS dst
  FROM orders WHERE o_orderkey % 131 <> o_custkey % 131
), m AS (
  SELECT e.src, CAST(count(*) AS BIGINT) AS mutual
  FROM e WHERE EXISTS (
    SELECT 1 FROM e b WHERE b.src = e.dst AND b.dst = e.src
  )
  GROUP BY e.src
), o AS (
  SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY src
)
SELECT o.src AS node, o.outdeg,
       coalesce(m.mutual, 0) AS mutual,
       CAST(coalesce(m.mutual, 0) AS DOUBLE) / CAST(o.outdeg AS DOUBLE)
         AS reciprocity
FROM o LEFT JOIN m USING (src)
"""


_HB_RADIUS, _HB_P = 3, 6


def link_hyperball_q(spark, sf_dir):
    """HyperBall (Boldi & Vigna 2013): per-node radius-3 out-ball size
    estimated by iterated max-merge of per-node HLL registers along the
    edges — the web-scale neighborhood/centrality primitive (exact
    multi-source BFS is O(N^2) mass). Register max-merge IS sketch
    union, so the oracle unrolls all three rounds as MATERIALIZED CTEs
    and must reproduce every register of every round plus the
    integer-exact HLL estimate."""
    from cord19_crawler_spark.operators.graph import hyperball

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 140).alias("src"),
        (F.col("o_orderkey") % 163).alias("dst"),
    )
    return hyperball(edges, radius=_HB_RADIUS, p=_HB_P)


def _hyperball_sql(radius: int = _HB_RADIUS, p: int = _HB_P) -> str:
    from cord19_crawler_spark.operators.sketches import hll_alpha

    w = 56 - p
    m = 1 << p
    numer = hll_alpha(p) * m * m * float(1 << (w + 1))
    parts = [
        f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 140 AS src, o_orderkey % 163 AS dst
  FROM orders WHERE o_custkey % 140 <> o_orderkey % 163
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), r0 AS MATERIALIZED (
  SELECT node, h >> {w} AS bucket,
         CASE WHEN h % {1 << w} = 0 THEN {w + 1}
              ELSE {w + 1} - length(bin(h % {1 << w})) END AS m
  FROM (
    SELECT node,
           CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 14)) AS BIGINT) AS h
    FROM nodes)
)"""
    ]
    for i in range(1, radius + 1):
        parts.append(
            f""", r{i} AS MATERIALIZED (
  SELECT node, bucket, max(m) AS m FROM (
    SELECT node, bucket, m FROM r{i - 1}
    UNION ALL
    SELECT e.src AS node, r.bucket, r.m
    FROM e JOIN r{i - 1} r ON r.node = e.dst
  ) GROUP BY node, bucket
)"""
        )
    parts.append(
        f""", s AS (
  SELECT node, CAST(count(*) AS BIGINT) AS buckets_used,
         CAST(sum(1::BIGINT << ({w + 1} - m)) AS BIGINT) AS sp
  FROM r{radius} GROUP BY node
)
SELECT node, buckets_used,
       CASE WHEN {numer!r} / CAST(sp + ({m} - buckets_used) * {1 << (w + 1)} AS DOUBLE)
                 <= {2.5 * m!r}
             AND buckets_used < {m}
            THEN {float(m)!r} * ln({float(m)!r} / CAST({m} - buckets_used AS DOUBLE))
            ELSE {numer!r} / CAST(sp + ({m} - buckets_used) * {1 << (w + 1)} AS DOUBLE)
       END AS ball_est
FROM s"""
    )
    return "".join(parts)


def link_salsa_q(spark, sf_dir):
    """SALSA (Lempel & Moran WWW 2000, 4 synchronous two-hop-walk
    rounds, no renormalization — the stochastic walk conserves each
    chain's L1 mass exactly) over a deterministic synthetic link graph
    (src = o_custkey % 160, dst = o_orderkey % 191; sources-only and
    sinks-only nodes exist, so the zero-side paths are value-checked).
    The TKC-resistant complement of link_hits for spam-robust crawl
    prioritization. The oracle unrolls all four rounds as chained
    MATERIALIZED CTEs."""
    from cord19_crawler_spark.operators.graph import salsa

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 160).alias("src"),
        (F.col("o_orderkey") % 191).alias("dst"),
    )
    s = salsa(edges, iterations=4)
    return s.select(
        "node",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def _salsa_sql(iterations: int = 4) -> str:
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 160 AS src, o_orderkey % 191 AS dst
  FROM orders WHERE o_custkey % 160 <> o_orderkey % 191
), ind AS MATERIALIZED (
  SELECT dst AS node, CAST(count(*) AS DOUBLE) AS ind FROM e GROUP BY dst
), outd AS MATERIALIZED (
  SELECT src AS node, CAST(count(*) AS DOUBLE) AS outd FROM e GROUP BY src
), na AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ind),
nh AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM outd),
a0 AS MATERIALIZED (SELECT node, 1.0 / na.n AS a FROM ind, na),
h0 AS MATERIALIZED (SELECT node, 1.0 / nh.n AS h FROM outd, nh)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", sa{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.a / ind.ind) AS s
  FROM e JOIN a{i - 1} a ON a.node = e.dst JOIN ind ON ind.node = e.dst
  GROUP BY e.src
), a{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(sa.s / outd.outd) AS a
  FROM e JOIN sa{i} sa ON sa.node = e.src JOIN outd ON outd.node = e.src
  GROUP BY e.dst
), sh{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.h / outd.outd) AS s
  FROM e JOIN h{i - 1} h ON h.node = e.src JOIN outd ON outd.node = e.src
  GROUP BY e.dst
), h{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(sh.s / ind.ind) AS h
  FROM e JOIN sh{i} sh ON sh.node = e.dst JOIN ind ON ind.node = e.dst
  GROUP BY e.src
)"""
        )
    parts.append(
        f"""
SELECT coalesce(a.node, h.node) AS node,
       round(coalesce(a.a, 0), 6) AS authority,
       round(coalesce(h.h, 0), 6) AS hub
FROM a{iterations} a FULL JOIN h{iterations} h ON a.node = h.node"""
    )
    return "".join(parts)


def link_hits_q(spark, sf_dir):
    """Fixed-iteration HITS hubs/authorities (Kleinberg JACM 1999, 4
    rounds of I-then-O with L2 normalization) over the same deterministic
    synthetic link graph family as link_pagerank (src = o_custkey % 150,
    dst = o_orderkey % 173 — sources-only and sinks-only nodes exist, so
    the zero-authority/zero-hub paths are value-checked). The oracle
    UNROLLS all four iterations as chained CTEs — every intermediate
    normalized vector must match, not just the final ranking."""
    from cord19_crawler_spark.operators.graph import hits

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 150).alias("src"),
        (F.col("o_orderkey") % 173).alias("dst"),
    )
    h = hits(edges, iterations=4)
    return h.select(
        "node",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def _hits_sql(iterations: int = 4) -> str:
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 150 AS src, o_orderkey % 173 AS dst
  FROM orders WHERE o_custkey % 150 <> o_orderkey % 173
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), h0 AS (SELECT node, 1.0 AS hub FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS a
  FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst
), an{i} AS MATERIALIZED (SELECT sqrt(sum(a * a)) AS s FROM ar{i}),
a{i} AS MATERIALIZED (
  SELECT n.node,
    coalesce(ar.a, 0) / (CASE WHEN an.s > 0 THEN an.s ELSE 1 END) AS auth
  FROM nodes n LEFT JOIN ar{i} ar USING (node), an{i} an
), hr{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS h
  FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
), hn{i} AS MATERIALIZED (SELECT sqrt(sum(h * h)) AS s FROM hr{i}),
h{i} AS MATERIALIZED (
  SELECT n.node,
    coalesce(hr.h, 0) / (CASE WHEN hn.s > 0 THEN hn.s ELSE 1 END) AS hub
  FROM nodes n LEFT JOIN hr{i} hr USING (node), hn{i} hn
)"""
        )
    parts.append(
        f"""
SELECT a.node, round(a.auth, 6) AS authority, round(h.hub, 6) AS hub
FROM a{iterations} a JOIN h{iterations} h USING (node)"""
    )
    return "".join(parts)


def link_opic_q(spark, sf_dir):
    """OPIC online importance (Abiteboul et al. WWW 2003, 4 synchronous
    rounds with the virtual-root dangling fix) over a deterministic
    synthetic link graph (src = o_custkey % 180, dst = o_orderkey % 211
    — source-only and dangling nodes exist, so the root path is
    value-checked). The oracle UNROLLS every round as chained
    MATERIALIZED CTEs — per-round cash AND history vectors must match,
    not just the final ordering."""
    from cord19_crawler_spark.operators.graph import opic

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 180).alias("src"),
        (F.col("o_orderkey") % 211).alias("dst"),
    )
    out = opic(edges, iterations=4)
    return out.select(
        "node",
        F.round("importance", 6).alias("importance"),
        F.round("history", 6).alias("history"),
        F.round("cash", 6).alias("cash"),
    )


def _opic_sql(iterations: int = 4) -> str:
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 180 AS src, o_orderkey % 211 AS dst
  FROM orders WHERE o_custkey % 180 <> o_orderkey % 211
), nodes AS MATERIALIZED (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS MATERIALIZED (
  SELECT n.node, coalesce(o.c, 0) AS outdeg
  FROM nodes n LEFT JOIN (
    SELECT src AS node, count(*) AS c FROM e GROUP BY src) o USING (node)
), s0 AS MATERIALIZED (
  SELECT node, 1.0 / nn.n AS cash, 0.0 AS hist FROM nodes, nn
)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", root{i} AS MATERIALIZED (
  SELECT coalesce(sum(cash), 0) AS rc
  FROM s{i - 1} JOIN deg USING (node) WHERE outdeg = 0
), recv{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(s.cash / deg.outdeg) AS r
  FROM e JOIN s{i - 1} s ON s.node = e.src JOIN deg ON deg.node = e.src
  GROUP BY e.dst
), s{i} AS MATERIALIZED (
  SELECT n.node,
    coalesce(rv.r, 0) + rt.rc / nn.n AS cash,
    s.hist + s.cash AS hist
  FROM nodes n
  LEFT JOIN recv{i} rv USING (node)
  JOIN s{i - 1} s USING (node), root{i} rt, nn
)"""
        )
    parts.append(
        f""", th AS (SELECT sum(hist) AS t FROM s{iterations})
SELECT node,
  round((hist + cash) / (t + 1.0), 6) AS importance,
  round(hist, 6) AS history, round(cash, 6) AS cash
FROM s{iterations}, th"""
    )
    return "".join(parts)


_KCORE_K, _KCORE_UNROLL = 4, 4


def link_kcore_q(spark, sf_dir):
    """4-core of the order-supplier bipartite graph (supplier ids offset
    by 10^6 into a disjoint node space) by iterative peeling. The k-core
    is the UNIQUE maximal subgraph with min degree >= k, so the oracle
    needs no round-count pin: it unrolls 4 peel rounds as MATERIALIZED
    CTEs — at or past the fixpoint at every scale factor — and the
    operator early-exits whenever it converges."""
    from cord19_crawler_spark.operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    return kcore(edges, k=_KCORE_K)


def _kcore_sql(k: int = _KCORE_K, rounds: int = _KCORE_UNROLL) -> str:
    parts = [
        """
WITH raw AS (
  SELECT l_orderkey AS s, 1000000 + l_suppkey AS d FROM lineitem
), ce AS MATERIALIZED (
  SELECT DISTINCT greatest(s, d) AS a, least(s, d) AS b
  FROM raw WHERE s <> d
), adj0 AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM ce
  UNION ALL
  SELECT b AS node, a AS nbr FROM ce
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", keep{i} AS MATERIALIZED (
  SELECT node FROM adj{i - 1} GROUP BY node HAVING count(*) >= {k}
), adj{i} AS MATERIALIZED (
  SELECT e.node, e.nbr FROM adj{i - 1} e
  JOIN keep{i} k1 ON k1.node = e.node
  JOIN keep{i} k2 ON k2.node = e.nbr
)"""
        )
    parts.append(
        f"""
SELECT node, CAST(count(*) AS BIGINT) AS core_degree
FROM adj{rounds} GROUP BY node
"""
    )
    return "".join(parts)


def link_triangles_q(spark, sf_dir):
    """Per-node triangle counts (degree-oriented compact-forward, Latapy
    TCS 2008 / Suri & Vassilvitskii WWW 2011 — the web-spam local-
    clustering feature of Becchetti KDD 2008) over a deterministic
    synthetic undirected graph (src = o_custkey % 120,
    dst = o_orderkey % 137). The oracle is an INDEPENDENT formulation:
    id-ordered canonical edges closed by a three-way join (no degree
    orientation), so the two plans must agree on every corner count."""
    from cord19_crawler_spark.operators.graph import triangle_count

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 120).alias("src"),
        (F.col("o_orderkey") % 137).alias("dst"),
    )
    return triangle_count(edges)


_TRIANGLES_SQL = """
WITH raw AS (
  SELECT o_custkey % 120 AS s, o_orderkey % 137 AS d FROM orders
), ce AS MATERIALIZED (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
  FROM raw WHERE s <> d
), tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
       JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
), corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS triangles
FROM corners GROUP BY node
"""


def link_clustering_q(spark, sf_dir):
    """Per-node local clustering coefficient C = 2T/(d(d-1))
    (Watts-Strogatz; with the raw triangle count it is the
    Becchetti KDD 2008 spam feature pair) over the SAME synthetic graph
    as link_triangles. C is an exact small-integer ratio — no rounding
    needed for cross-engine equality; d<2 nodes pin C=0."""
    from cord19_crawler_spark.operators.graph import clustering_coefficient

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 120).alias("src"),
        (F.col("o_orderkey") % 137).alias("dst"),
    )
    return clustering_coefficient(edges)


_CLUSTERING_SQL = """
WITH raw AS (
  SELECT o_custkey % 120 AS s, o_orderkey % 137 AS d FROM orders
), ce AS MATERIALIZED (
  SELECT DISTINCT least(s, d) AS a, greatest(s, d) AS b
  FROM raw WHERE s <> d
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT a AS node FROM ce UNION ALL SELECT b FROM ce
  ) GROUP BY node
), tri AS MATERIALIZED (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ce e1 JOIN ce e2 ON e2.a = e1.b
       JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b
), tcount AS (
  SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT d.node, d.degree, coalesce(t.triangles, 0) AS triangles,
       CASE WHEN d.degree >= 2 THEN
         2.0 * coalesce(t.triangles, 0)
           / CAST(d.degree * (d.degree - 1) AS DOUBLE)
       ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN tcount t USING (node)
"""


def link_cocitation_q(spark, sf_dir):
    """Co-citation pair strengths (Small JASIS 1973): pages cited
    together by the same source, over a deterministic synthetic link
    graph (src = o_custkey % 90, dst = o_orderkey % 161), top-50 by
    (strength desc, node_a, node_b). Uncapped exact mode here
    (max_degree=None — oracle contract); the production default caps
    grouping-key fanout like dedup's hot-bucket cap."""
    from cord19_crawler_spark.operators.graph import copair_counts

    o = _t(spark, sf_dir, "orders")
    edges = o.select(
        (F.col("o_custkey") % 90).alias("src"),
        (F.col("o_orderkey") % 161).alias("dst"),
    )
    return (
        copair_counts(edges, mode="cocitation", max_degree=None)
        .orderBy(F.desc("strength"), F.asc("node_a"), F.asc("node_b"))
        .limit(50)
    )


_COCITATION_SQL = """
WITH raw AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 90 AS k, o_orderkey % 161 AS i
  FROM orders WHERE o_custkey % 90 <> o_orderkey % 161
)
SELECT a.i AS node_a, b.i AS node_b, CAST(count(*) AS BIGINT) AS strength
FROM raw a JOIN raw b ON a.k = b.k AND a.i < b.i
GROUP BY a.i, b.i
ORDER BY strength DESC, node_a, node_b
LIMIT 50
"""


def link_coupling_capped_q(spark, sf_dir):
    """Bibliographic coupling (Kessler 1963 — pairs of SOURCES sharing a
    destination) WITH the production hot-key cap biting PARTIALLY: the
    synthetic graph gives each destination key k a fanout ceiling of
    (k % 60) + 3 distinct sources, so max_degree=30 drops roughly half
    the keys (the 'hub' half) and keeps the rest — the oracle mirrors
    the cap as a HAVING on grouping-key fanout, value-checking the
    capped semantics rather than a vacuous all-kept/all-dropped case."""
    from cord19_crawler_spark.operators.graph import copair_counts

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 161
    edges = o.select(
        (F.col("o_custkey") % (k % 60 + 3)).alias("src"),
        k.alias("dst"),
    )
    return (
        copair_counts(edges, mode="coupling", max_degree=30)
        .orderBy(F.desc("strength"), F.asc("node_a"), F.asc("node_b"))
        .limit(50)
    )


_COUPLING_CAPPED_SQL = """
WITH base AS (
  SELECT o_orderkey % 161 AS k,
         o_custkey % ((o_orderkey % 161) % 60 + 3) AS i
  FROM orders
), raw AS MATERIALIZED (
  SELECT DISTINCT k, i FROM base WHERE k <> i
), kept AS MATERIALIZED (
  SELECT k, i FROM raw
  WHERE k IN (SELECT k FROM raw GROUP BY k HAVING count(*) <= 30)
)
SELECT a.i AS node_a, b.i AS node_b, CAST(count(*) AS BIGINT) AS strength
FROM kept a JOIN kept b ON a.k = b.k AND a.i < b.i
GROUP BY a.i, b.i
ORDER BY strength DESC, node_a, node_b
LIMIT 50
"""


def link_trustrank_q(spark, sf_dir):
    """Fixed-iteration TrustRank (Gyongyi et al. VLDB 2004, 5 rounds,
    d=0.85) over the same deterministic link-graph family as
    link_pagerank (src = o_custkey % 200, dst = o_orderkey % 237 —
    dangling nodes exist, so the seed-weighted redistribution path is
    value-checked), with the 25 nation keys as the trusted seed set
    (some may be absent from the graph, pinning the seeds-intersect-
    nodes normalization). The oracle UNROLLS all five biased power
    iterations as chained CTEs — every intermediate trust vector must
    match, not just the final ordering."""
    from cord19_crawler_spark.operators.graph import trustrank

    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    edges = o.select(
        (F.col("o_custkey") % 200).alias("src"),
        (F.col("o_orderkey") % 237).alias("dst"),
    )
    seeds = n.select(F.col("n_nationkey").alias("node"))
    tr = trustrank(edges, seeds, iterations=5, damping=0.85)
    return tr.select("node", F.round("trust", 6).alias("trust"))


def _trustrank_core_sql(iterations: int, d: float) -> str:
    """Shared CTE chain for the trustrank / spam-mass oracles: biased
    power iterations rt0..rt{n} with the seed-vector dangling fix."""
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 200 AS src, o_orderkey % 237 AS dst
  FROM orders WHERE o_custkey % 200 <> o_orderkey % 237
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), sin AS MATERIALIZED (
  SELECT DISTINCT s.node
  FROM (SELECT n_nationkey AS node FROM nation) s JOIN nodes USING (node)
), ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM sin),
deg AS (
  SELECT n.node, coalesce(o.c, 0) AS outdeg
  FROM nodes n LEFT JOIN (
    SELECT src AS node, count(*) AS c FROM e GROUP BY src) o USING (node)
), sw AS MATERIALIZED (
  SELECT n.node,
    CASE WHEN si.node IS NULL THEN 0.0 ELSE 1.0 / ns.k END AS w
  FROM nodes n LEFT JOIN sin si USING (node), ns
), rt0 AS (SELECT node, w AS trust FROM sw)"""
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f""", tdm{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.trust), 0) AS m
  FROM rt{i - 1} r JOIN deg USING (node) WHERE outdeg = 0
), tc{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.trust / deg.outdeg) AS contrib
  FROM e JOIN rt{i - 1} r ON r.node = e.src JOIN deg ON deg.node = e.src
  GROUP BY e.dst
), rt{i} AS MATERIALIZED (
  SELECT sw.node,
    (1 - {d}) * sw.w + {d} * (coalesce(c.contrib, 0) + dm.m * sw.w) AS trust
  FROM sw LEFT JOIN tc{i} c USING (node), tdm{i} dm
)"""
        )
    return "".join(parts)


def _trustrank_sql(iterations: int = 5, d: float = 0.85) -> str:
    return (
        _trustrank_core_sql(iterations, d)
        + f"\nSELECT node, round(trust, 6) AS trust FROM rt{iterations}"
    )


def link_spam_mass_q(spark, sf_dir):
    """Relative spam mass (Gyongyi et al. VLDB 2006) over the
    link_trustrank graph and seed set: sm = (pagerank - trustrank) /
    pagerank at the same damping, both 5-round. The oracle chains BOTH
    unrolled power methods (10 intermediate vectors) and joins them —
    the combined identity is value-checked node by node."""
    from cord19_crawler_spark.operators.graph import spam_mass

    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    edges = o.select(
        (F.col("o_custkey") % 200).alias("src"),
        (F.col("o_orderkey") % 237).alias("dst"),
    )
    seeds = n.select(F.col("n_nationkey").alias("node"))
    sm = spam_mass(edges, seeds, iterations=5, damping=0.85)
    return sm.select(
        "node",
        F.round("rank", 6).alias("rank"),
        F.round("trust", 6).alias("trust"),
        F.round("spam_mass", 6).alias("spam_mass"),
    )


def _spam_mass_sql(iterations: int = 5, d: float = 0.85) -> str:
    parts = [_trustrank_core_sql(iterations, d)]
    parts.append(
        """, nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
rp0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn)"""
    )
    for i in range(1, iterations + 1):
        parts.append(
            f""", pdm{i} AS MATERIALIZED (
  SELECT coalesce(sum(r.rank), 0) AS m
  FROM rp{i - 1} r JOIN deg USING (node) WHERE outdeg = 0
), pc{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS contrib
  FROM e JOIN rp{i - 1} r ON r.node = e.src JOIN deg ON deg.node = e.src
  GROUP BY e.dst
), rp{i} AS MATERIALIZED (
  SELECT n.node,
    (1 - {d}) / nn.n + {d} * (coalesce(c.contrib, 0) + dm.m / nn.n) AS rank
  FROM nodes n LEFT JOIN pc{i} c USING (node), nn, pdm{i} dm
)"""
        )
    parts.append(
        f"""
SELECT p.node, round(p.rank, 6) AS rank, round(t.trust, 6) AS trust,
  round((p.rank - t.trust) / p.rank, 6) AS spam_mass
FROM rp{iterations} p JOIN rt{iterations} t USING (node)"""
    )
    return "".join(parts)


def crawl_depth_bfs_q(spark, sf_dir):
    """Minimum-hop crawl depth from a seed set (the breadth-first
    frontier ordering of Najork & Wiener WWW 2001 / Cho et al. WWW
    1998) over a deterministic link graph (src = o_custkey % 211,
    dst = o_orderkey % 211 — one shared id space so multi-hop chains
    exist), seeded at the five region keys, horizon 6. Unreachable
    nodes are absent; every seed is depth 0. The oracle is an
    INDEPENDENT formulation: a DuckDB recursive CTE enumerating all
    (node, depth<=6) walks with min(depth) per node — BFS and
    walk-enumeration must agree exactly."""
    from cord19_crawler_spark.operators.graph import bfs_depth

    o = _t(spark, sf_dir, "orders")
    r = _t(spark, sf_dir, "region")
    edges = o.select(
        (F.col("o_custkey") % 211).alias("src"),
        (F.col("o_orderkey") % 211).alias("dst"),
    )
    seeds = r.select(F.col("r_regionkey").alias("node"))
    return bfs_depth(edges, seeds, max_depth=6)


_BFS_SQL = """
WITH RECURSIVE e AS MATERIALIZED (
  SELECT DISTINCT o_custkey % 211 AS src, o_orderkey % 211 AS dst
  FROM orders WHERE o_custkey % 211 <> o_orderkey % 211
), seeds AS (
  SELECT DISTINCT CAST(r_regionkey AS BIGINT) AS node FROM region
), walk (node, depth) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.dst, w.depth + 1
  FROM walk w JOIN e ON e.src = w.node
  WHERE w.depth < 6
)
SELECT node, min(depth) AS depth FROM walk GROUP BY node
"""


def anchor_text_topk_q(spark, sf_dir):
    """Anchor-text aggregation per link target (Brin & Page 1998 §2.2):
    top-3 anchor phrases per target by vote count with per-target inlink /
    source-breadth / vocabulary rollups, over a deterministic synthetic
    anchor edge list from orders (src = o_custkey % 200, dst =
    o_orderkey % 97, anchor = o_orderpriority — parallel edges are votes,
    NOT collapsed). Two linear aggregates + a WindowGroupLimit top-k; the
    oracle replays votes, rollups and the (votes DESC, anchor ASC) total
    order in DuckDB."""
    from cord19_crawler_spark.operators.graph import anchor_text_index

    o = _t(spark, sf_dir, "orders", spread=False)
    edges = o.select(
        (F.col("o_custkey") % 200).alias("src"),
        (F.col("o_orderkey") % 97).alias("dst"),
        F.col("o_orderpriority").alias("anchor"),
    )
    return anchor_text_index(edges, k=3)


_ANCHOR_TEXT_SQL = """
WITH e AS (
  SELECT o_custkey % 200 AS src, o_orderkey % 97 AS dst,
         trim(o_orderpriority) AS anchor
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND trim(o_orderpriority) <> ''
), votes AS (
  SELECT dst, anchor, count(*) AS votes FROM e GROUP BY dst, anchor
), per_dst AS (
  SELECT dst, CAST(sum(votes) AS BIGINT) AS inlinks,
         count(*) AS n_anchors
  FROM votes GROUP BY dst
), breadth AS (
  SELECT dst, count(DISTINCT src) AS distinct_srcs FROM e GROUP BY dst
), topk AS (
  SELECT dst, anchor, votes,
    row_number() OVER (PARTITION BY dst ORDER BY votes DESC, anchor ASC)
      AS anchor_rank
  FROM votes
  QUALIFY anchor_rank <= 3
)
SELECT t.dst, CAST(t.anchor_rank AS BIGINT) AS anchor_rank, t.anchor,
  t.votes, p.inlinks, b.distinct_srcs, p.n_anchors
FROM topk t JOIN per_dst p USING (dst) JOIN breadth b USING (dst)
"""


def recrawl_staleness_q(spark, sf_dir):
    """Freshness-driven re-crawl priority (Cho & Garcia-Molina, ACM TOIT
    2003): per-URL Poisson change-rate estimates from a synthetic fetch
    history over events (url keyed by event_id % 120, changed = value >
    50), then staleness = 1 - exp(-lambda * age) at now = max(ts) + 7
    days. One linear aggregate per URL (min_by pulls the first-fetch flag
    — no per-URL window); the oracle replays the bias-corrected estimator
    -ln((n-X+.5)/(n+.5))/mean_interval and the staleness curve exactly."""
    from cord19_crawler_spark.frontier.recrawl import change_rate_estimates

    ev = _t(spark, sf_dir, "events", spread=False)
    hist = ev.select(
        F.concat(
            F.lit("https://h"),
            ((F.col("event_id") % 120) % 7).cast("string"),
            F.lit(".example.com/p/"),
            (F.col("event_id") % 120).cast("string"),
        ).alias("url"),
        F.col("ts").alias("fetch_ts"),
        (F.col("value") > 50.0).alias("changed"),
    )
    est = change_rate_estimates(hist)
    now = (
        est.agg(F.max("last_fetch_ts").alias("m")).collect()[0]["m"]
        + 7 * 86400.0
    )
    age = F.greatest(F.lit(now) - F.col("last_fetch_ts"), F.lit(0.0))
    return est.select(
        "url",
        "n_fetches",
        "n_changes",
        F.round(F.col("lambda_hat") * 86400.0, 6).alias("lambda_per_day"),
        F.round(
            F.lit(1.0) - F.exp(-F.col("lambda_hat") * age), 6
        ).alias("staleness"),
    )


_RECRAWL_SQL = """
WITH h AS (
  SELECT 'https://h' || CAST((event_id % 120) % 7 AS VARCHAR)
           || '.example.com/p/' || CAST(event_id % 120 AS VARCHAR) AS url,
         epoch(ts) AS ts, (value > 50.0) AS changed
  FROM events
), agg AS (
  SELECT url, count(*) AS n_fetches,
    CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS raw_changes,
    min(ts) AS first_ts, max(ts) AS last_ts
  FROM h GROUP BY url
), firsts AS (
  SELECT url, changed AS first_changed
  FROM (
    SELECT url, changed,
      row_number() OVER (PARTITION BY url ORDER BY ts, changed DESC) AS rn
    FROM h
  ) WHERE rn = 1
), est AS (
  SELECT a.url, a.n_fetches,
    a.raw_changes - CASE WHEN f.first_changed THEN 1 ELSE 0 END AS n_changes,
    a.last_ts - a.first_ts AS span_seconds, a.last_ts,
    a.n_fetches - 1 AS n
  FROM agg a JOIN firsts f USING (url)
), lam AS (
  SELECT url, n_fetches, n_changes, last_ts,
    CASE WHEN n > 0 AND span_seconds > 0
      THEN -ln((n - n_changes + 0.5) / (n + 0.5)) / (span_seconds / n)
      ELSE 1e-6 END AS lambda_hat
  FROM est
), now_t AS (SELECT max(ts) + 7 * 86400.0 AS now FROM h)
SELECT url, n_fetches, n_changes,
  round(lambda_hat * 86400.0, 6) AS lambda_per_day,
  round(1.0 - exp(-lambda_hat * greatest(now_t.now - last_ts, 0.0)), 6)
    AS staleness
FROM lam, now_t
"""


def bpe_pair_counts_q(spark, sf_dir):
    """BPE tokenizer training, iteration-0 statistics (Sennrich et al.
    2016): corpus → word-frequency table (the ONE pass over raw text) →
    adjacent character-pair counts weighted by word frequency, with the
    paper's </w> end-of-word sentinel; top-300 pairs by (count DESC,
    left ASC, right ASC — a total order). The oracle replays
    pre-tokenize, char split, sentinel append and the weighted pair
    aggregate in DuckDB."""
    from cord19_crawler_spark.operators.bpe import (
        _initial_symbols,
        pair_counts,
        word_frequencies,
    )

    d = _t(spark, sf_dir, "documents")
    sym = word_frequencies(d).select(
        "word", _initial_symbols(F.col("word")).alias("symbols"), "freq"
    )
    return (
        pair_counts(sym)
        .orderBy(F.desc("pair_count"), F.asc("left"), F.asc("right"))
        .limit(300)
    )


_BPE_PAIRS_SQL = """
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), wf AS (
  SELECT word, count(*) AS freq FROM w GROUP BY word
), sym AS (
  SELECT freq, list_append(regexp_extract_all(word, '.'), '</w>') AS s
  FROM wf
), idx AS (
  SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i FROM sym
), pairs AS (
  SELECT freq, s[CAST(i AS INT)] AS lft, s[CAST(i AS INT) + 1] AS rgt
  FROM idx
)
SELECT lft AS "left", rgt AS "right",
  CAST(sum(freq) AS BIGINT) AS pair_count
FROM pairs GROUP BY 1, 2
ORDER BY pair_count DESC, "left" ASC, "right" ASC LIMIT 300
"""


# static merge table for the ENCODE oracle (training is oracled via
# bpe_pair_counts + the exact Python replay in tests; data-dependent
# merges inside one static SQL would require replaying the full argmax
# loop): chained rules (t,h then th,e), sentinel merges, common bigrams
_BPE_ENCODE_MERGES = [
    ("t", "h"), ("th", "e"), ("e", "</w>"), ("a", "n"),
    ("an", "d"), ("i", "n"), ("o", "n"), ("e", "r"),
]


def bpe_encode_words_q(spark, sf_dir):
    """BPE ENCODING (the production tokenize step): apply a merge table
    to the distinct-word table with the same greedy left-to-right
    Catalyst fold training uses. The oracle replays each merge as a
    single-pass string replace over pipe-delimited symbols
    ('|l||r|' -> '|lr|' — replace() scans left-to-right and never
    rescans behind the cursor, exactly the fold's semantics; pipes make
    cross-symbol false matches impossible since symbols never contain
    '|')."""
    from cord19_crawler_spark.operators.bpe import (
        encode_words,
        word_frequencies,
    )

    d = _t(spark, sf_dir, "documents")
    enc = encode_words(word_frequencies(d), _BPE_ENCODE_MERGES)
    return enc.select(
        "word",
        "freq",
        F.array_join("tokens", " ").alias("encoded"),
        F.size("tokens").alias("n_subwords"),
    ).orderBy("word")


def _bpe_encode_sql() -> str:
    steps, prev = [], "s0"
    for i, (l, r) in enumerate(_BPE_ENCODE_MERGES, 1):
        steps.append(
            f", s{i} AS (SELECT word, freq,"
            f" replace(s, '|{l}||{r}|', '|{l}{r}|') AS s FROM {prev})"
        )
        prev = f"s{i}"
    return f"""
WITH w AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), wf AS (
  SELECT word, count(*) AS freq FROM w GROUP BY word
), s0 AS (
  SELECT word, freq,
    '|' || array_to_string(
      list_append(regexp_extract_all(word, '.'), '</w>'), '||') || '|' AS s
  FROM wf
){chr(10).join(steps)}
SELECT word, freq, replace(trim({prev}.s, '|'), '||', ' ') AS encoded,
  CAST(len(string_split(replace(trim({prev}.s, '|'), '||', ' '), ' '))
    AS INT) AS n_subwords
FROM {prev} ORDER BY word
"""


def fetch_retry_schedule_q(spark, sf_dir):
    """Per-URL retry state + truncated exponential backoff from a
    synthetic fetch-attempt log over events (url = event_id % 200, ts =
    event_id — unique, so the reduction is tie-free; status cycles
    through 2xx/3xx/permanent-4xx/408/429/5xx/network-0). ONE linear
    url-key aggregate (no window/self-join — plan-asserted in pytest);
    the oracle recomputes the trailing-transient streak via the
    last-solid-timestamp join and replays the state machine and delay
    formula exactly."""
    from cord19_crawler_spark.frontier.retry import retry_schedule

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    status = F.element_at(
        F.array(*[F.lit(s) for s in
                  (200, 403, 304, 301, 404, 410, 500, 503, 429, 0)]),
        (e % 10 + 1).cast("int"),
    )
    log = ev.select(
        F.concat(F.lit("https://r"), (e % 200).cast("string"),
                 F.lit(".example.com/doc")).alias("url"),
        e.cast("double").alias("ts"),
        status.alias("status"),
    )
    return retry_schedule(
        log, base_delay=60.0, max_delay=86400.0, max_retries=5
    ).orderBy("url")


_RETRY_SQL = """
WITH log AS (
  SELECT 'https://r' || CAST(event_id % 200 AS VARCHAR)
           || '.example.com/doc' AS url,
    CAST(event_id AS DOUBLE) AS ts,
    CASE event_id % 10 WHEN 0 THEN 200 WHEN 1 THEN 403 WHEN 2 THEN 304
      WHEN 3 THEN 301 WHEN 4 THEN 404 WHEN 5 THEN 410 WHEN 6 THEN 500
      WHEN 7 THEN 503 WHEN 8 THEN 429 ELSE 0 END AS status
  FROM events
), cls AS (
  SELECT url, ts, status,
    CASE WHEN status BETWEEN 200 AND 399 THEN 'success'
         WHEN status BETWEEN 400 AND 499 AND status NOT IN (408, 429)
           THEN 'permanent'
         ELSE 'transient' END AS cl
  FROM log
), agg AS (
  SELECT url, CAST(count(*) AS BIGINT) AS n_attempts, max(ts) AS last_ts,
    arg_max(status, ts) AS last_status,
    max(ts) FILTER (WHERE cl <> 'transient') AS solid_ts
  FROM cls GROUP BY url
), st AS (
  SELECT a.url, CAST(count(c.ts) AS BIGINT) AS fail_streak
  FROM agg a LEFT JOIN cls c
    ON c.url = a.url AND c.cl = 'transient'
   AND (a.solid_ts IS NULL OR c.ts > a.solid_ts)
  GROUP BY a.url
), fin AS (
  SELECT a.url, a.n_attempts, a.last_ts, a.last_status, st.fail_streak,
    CASE WHEN a.last_status BETWEEN 200 AND 399 THEN 'ok'
         WHEN a.last_status BETWEEN 400 AND 499
              AND a.last_status NOT IN (408, 429) THEN 'gone'
         WHEN st.fail_streak > 5 THEN 'dead' ELSE 'retry' END AS state
  FROM agg a JOIN st ON st.url = a.url
)
SELECT url, n_attempts, last_ts, last_status, fail_streak, state,
  CASE WHEN state = 'retry'
    THEN least(86400.0, 60.0 * power(2.0, fail_streak - 1)) END
    AS retry_delay,
  last_ts + CASE WHEN state = 'retry'
    THEN least(86400.0, 60.0 * power(2.0, fail_streak - 1)) END
    AS next_attempt_ts
FROM fin ORDER BY url
"""


def robots_fetch_policy_q(spark, sf_dir):
    """Per-host effective robots policy (RFC 9309 §2.3.1) over a
    synthetic robots fetch log from events: hosts cycle through
    2xx/3xx/4xx/5xx/network-0 last fetches with unreachable spans on
    both sides of the 30-day grace. One linear host aggregate; the
    oracle recomputes the last-reachable timestamp and replays the state
    machine (incl. the never-reachable-from-first-attempt clause) and
    the 24h staleness rule."""
    from cord19_crawler_spark.frontier.robots import robots_fetch_policy

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    status = F.element_at(
        F.array(*[F.lit(s) for s in
                  (200, 301, 404, 500, 503, 0, 200, 429)]),
        (e % 8 + 1).cast("int"),
    )
    # ts spread over ~60 days so the grace boundary is exercised
    log = ev.select(
        F.concat(F.lit("rp"), (e % 120).cast("string"),
                 F.lit(".example.com")).alias("host"),
        ((e * 37) % 5184000).cast("double").alias("ts"),
        status.alias("status"),
    )
    return robots_fetch_policy(log, now=5270400.0).orderBy("host")


_ROBOTS_POLICY_SQL = """
WITH log AS (
  SELECT 'rp' || CAST(event_id % 120 AS VARCHAR) || '.example.com' AS host,
    CAST((event_id * 37) % 5184000 AS DOUBLE) AS ts,
    CASE event_id % 8 WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404
      WHEN 3 THEN 500 WHEN 4 THEN 503 WHEN 5 THEN 0 WHEN 6 THEN 200
      ELSE 429 END AS status
  FROM events
), agg AS (
  SELECT host, max(ts) AS last_ts,
    arg_max(status, ts) AS last_status,
    max(ts) FILTER (WHERE status BETWEEN 100 AND 499) AS last_reach,
    min(ts) AS first_ts
  FROM log GROUP BY host
), d AS (
  SELECT host, last_ts, last_status,
    CASE WHEN last_status NOT BETWEEN 100 AND 499
      THEN (5270400.0 - coalesce(last_reach, first_ts)) / 86400.0 END
      AS days_unreachable
  FROM agg
)
SELECT host, last_ts, last_status,
  CASE WHEN last_status BETWEEN 200 AND 299 THEN 'rules'
       WHEN last_status BETWEEN 300 AND 399 THEN 'redirect'
       WHEN last_status BETWEEN 400 AND 499 THEN 'allow_all'
       WHEN days_unreachable > 30.0 THEN 'allow_all'
       ELSE 'deny_all' END AS state,
  days_unreachable,
  (5270400.0 - last_ts > 86400.0) AS stale
FROM d ORDER BY host
"""


def text_blocks_q(spark, sf_dir):
    """Boilerplate removal (link-density family, Kohlschütter et al.
    WSDM 2010): documents text wrapped in a full page skeleton —
    nav bar (link-dominated), real prose, a linky stub, a short footer,
    a script whose body contains fake block tags — run through the
    Catalyst block segmenter + signal projection; the oracle replays
    drop-subtrees → split → strip/decode/collapse → word/link-density
    rules with the identical regex set in DuckDB (global-flag
    replaces)."""
    from cord19_crawler_spark.functions.html import text_blocks

    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>T</title><style>p{color:red}</style>"
              "</head><body>"
              '<nav><a href="/h">Home</a> <a href="/a">About</a> '
              '<a href="/c">Contact</a></nav><p>'),
        F.col("text"),
        F.lit('</p><div><a href="/x">x'), (F.col("doc_id") % 7).cast("string"),
        F.lit("</a> short</div><footer>Copyright 2026</footer>"
              "<script>var q=\"<p>no</p>\";</script></body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        html.alias("html"),
    )
    return text_blocks(pages).orderBy("url", "block_pos")


_TEXT_BLOCKS_SQL = r"""
WITH pages AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
    '<html><head><title>T</title><style>p{color:red}</style></head><body>'
    || '<nav><a href="/h">Home</a> <a href="/a">About</a> '
    || '<a href="/c">Contact</a></nav><p>' || text
    || '</p><div><a href="/x">x' || CAST(doc_id % 7 AS VARCHAR)
    || '</a> short</div><footer>Copyright 2026</footer>'
    || '<script>var q="<p>no</p>";</script></body></html>' AS html
  FROM documents
), cleaned AS (
  SELECT url, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
    html,
    '(?is)<script\b.*?</script>', ' ', 'g'),
    '(?is)<style\b.*?</style>', ' ', 'g'),
    '(?is)<!--.*?-->', ' ', 'g'),
    '(?is)<head\b.*?</head>', ' ', 'g') AS c
  FROM pages
), arr AS (
  SELECT url, regexp_split_to_array(c,
    '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|tr|td|th|table|section|article|header|footer|nav|blockquote|pre)\b[^>]*>'
  ) AS b FROM cleaned
), raw AS (
  SELECT url, CAST(i - 1 AS INT) AS block_pos, b[CAST(i AS INT)] AS blk
  FROM (SELECT url, b, unnest(generate_series(1, len(b))) AS i FROM arr)
), txt AS (
  SELECT url, block_pos,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(blk, '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
        '&amp;', '&'),
      '\s+', ' ', 'g')) AS text,
    trim(regexp_replace(
      replace(replace(replace(replace(replace(
        regexp_replace(
          coalesce(array_to_string(
            regexp_extract_all(blk, '(?is)<a\b[^>]*>(.*?)</a>', 1), ' '),
            ''),
          '<[^>]*>', ' ', 'g'),
        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
        '&amp;', '&'),
      '\s+', ' ', 'g')) AS atext
  FROM raw
)
SELECT url, block_pos, text,
  CAST(CASE WHEN text = '' THEN 0
    ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_words,
  CAST(length(atext) AS DOUBLE) / greatest(length(text), 1)
    AS link_density,
  (CAST(CASE WHEN text = '' THEN 0
     ELSE len(string_split(text, ' ')) END AS BIGINT) >= 5
   AND CAST(length(atext) AS DOUBLE) / greatest(length(text), 1) <= 0.33)
    AS kept
FROM txt WHERE text <> '' ORDER BY url, block_pos
"""


def percent_normalize_q(spark, sf_dir):
    """RFC 3986 §6.2.2 percent-encoding normalization: synthetic URLs
    from orders carry decodable-unreserved escapes (%7e → ~, %4a → J),
    a reserved escape that must stay encoded but uppercase (%2f → %2F),
    and a malformed escape (%g) that must pass through; the oracle
    derives the expected normalized string straight from the key
    arithmetic — independent of the tokenizer regex and the hex math."""
    from cord19_crawler_spark.functions.urls import percent_normalize_expr

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    url = F.concat(
        F.lit("https://pn"), (c % 9).cast("string"),
        F.lit(".example.com/a%7e"), (k % 5).cast("string"),
        F.lit("/b%2f"), (k % 3).cast("string"),
        F.lit("?q=%4a"), (k % 7).cast("string"),
        F.when(k % 4 == 0, F.lit("&bad=%g1")).otherwise(F.lit("")),
    )
    return (
        o.select(url.alias("url"))
        .distinct()
        .select("url", percent_normalize_expr(F.col("url")).alias("normalized"))
        .orderBy("url")
    )


_PERCENT_NORM_SQL = """
WITH o AS (
  SELECT DISTINCT o_orderkey % 5 AS a, o_orderkey % 3 AS b,
    o_orderkey % 7 AS q, o_orderkey % 4 = 0 AS bad,
    o_custkey % 9 AS h
  FROM orders
)
SELECT
  'https://pn' || CAST(h AS VARCHAR) || '.example.com/a%7e'
    || CAST(a AS VARCHAR) || '/b%2f' || CAST(b AS VARCHAR)
    || '?q=%4a' || CAST(q AS VARCHAR)
    || CASE WHEN bad THEN '&bad=%g1' ELSE '' END AS url,
  'https://pn' || CAST(h AS VARCHAR) || '.example.com/a~'
    || CAST(a AS VARCHAR) || '/b%2F' || CAST(b AS VARCHAR)
    || '?q=J' || CAST(q AS VARCHAR)
    || CASE WHEN bad THEN '&bad=%g1' ELSE '' END AS normalized
FROM o ORDER BY url
"""


def discovery_pipeline_q(spark, sf_dir):
    """The composed discovery round (plans/discovery_pipeline.py) end to
    end: synthetic HTML pages from orders-key arithmetic run through
    extraction → RFC 3986 resolution → canonicalization (unsorted params
    + fragment + uppercase host planted) → within-batch dedup with
    breadth evidence → seen anti-join (every 4th (k+1)-doc pre-seen) →
    robots filter (the frontier_robots_filter rule table) → per-host
    top-3. The oracle composes the SAME stages from the arithmetic:
    expected link rows built directly, set-subtract for seen, the rule
    table as CASE, and the (n_src_pages DESC, n_refs DESC, url) window."""
    _ensure_workers(spark)
    from pyspark.sql import Row

    from cord19_crawler_spark.plans.discovery_pipeline import (
        discovery_pipeline,
    )

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    page = F.concat(
        F.lit("https://host"), (c % 7).cast("string"),
        F.lit(".example.com/page/"), k.cast("string"),
    )
    html = F.concat(
        F.lit('<html><body><a href="/doc/'), (k % 23).cast("string"),
        F.lit('?b=2&amp;a=1#x">a</a><a href="../doc/'),
        ((k + 1) % 23).cast("string"), F.lit('">b</a>'),
        F.when(
            k % 2 == 0,
            F.concat(F.lit('<a href="HTTPS://HOST'),
                     ((c + 1) % 7).cast("string"),
                     F.lit(".EXAMPLE.COM/doc/"), (k % 19).cast("string"),
                     F.lit('">c</a>')),
        ).otherwise(F.lit("")),
        F.lit('<a href="#top">n</a><a href="mailto:u@x.com">m</a>'
              "</body></html>"),
    )
    pages = o.select(page.alias("url"), html.alias("html"))
    seen = (
        o.filter(k % 4 == 0)
        .select(
            F.concat(F.lit("https://host"), (c % 7).cast("string"),
                     F.lit(".example.com/doc/"),
                     ((k + 1) % 23).cast("string")).alias("url")
        )
        .distinct()
    )
    robots = spark.createDataFrame(
        [
            Row(host="host0.example.com",
                rules=[Row(allow=False, path_prefix="/doc/1")]),
            Row(host="host1.example.com",
                rules=[Row(allow=False, path_prefix="/doc/1")]),
            Row(host="host2.example.com",
                rules=[Row(allow=False, path_prefix="/"),
                       Row(allow=True, path_prefix="/doc/2")]),
        ]
    )
    return discovery_pipeline(
        pages, seen=seen, robots=robots, per_host_k=3
    ).orderBy("host", "rank")


_DISCOVERY_SQL = """
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS c FROM orders
), links AS (
  SELECT 'https://host' || CAST(c % 7 AS VARCHAR)
           || '.example.com/page/' || CAST(k AS VARCHAR) AS src,
    'https://host' || CAST(c % 7 AS VARCHAR) || '.example.com/doc/'
      || CAST(k % 23 AS VARCHAR) || '?a=1&b=2' AS url,
    'host' || CAST(c % 7 AS VARCHAR) || '.example.com' AS host,
    '/doc/' || CAST(k % 23 AS VARCHAR) AS path
  FROM o
  UNION ALL
  SELECT 'https://host' || CAST(c % 7 AS VARCHAR)
           || '.example.com/page/' || CAST(k AS VARCHAR),
    'https://host' || CAST(c % 7 AS VARCHAR) || '.example.com/doc/'
      || CAST((k + 1) % 23 AS VARCHAR),
    'host' || CAST(c % 7 AS VARCHAR) || '.example.com',
    '/doc/' || CAST((k + 1) % 23 AS VARCHAR)
  FROM o
  UNION ALL
  SELECT 'https://host' || CAST(c % 7 AS VARCHAR)
           || '.example.com/page/' || CAST(k AS VARCHAR),
    'https://host' || CAST((c + 1) % 7 AS VARCHAR) || '.example.com/doc/'
      || CAST(k % 19 AS VARCHAR),
    'host' || CAST((c + 1) % 7 AS VARCHAR) || '.example.com',
    '/doc/' || CAST(k % 19 AS VARCHAR)
  FROM o WHERE k % 2 = 0
), cand AS (
  SELECT url, any_value(host) AS host, any_value(path) AS path,
    CAST(count(*) AS BIGINT) AS n_refs,
    CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages
  FROM links GROUP BY url
), unseen AS (
  SELECT * FROM cand WHERE url NOT IN (
    SELECT DISTINCT 'https://host' || CAST(c % 7 AS VARCHAR)
      || '.example.com/doc/' || CAST((k + 1) % 23 AS VARCHAR)
    FROM o WHERE k % 4 = 0)
), allowed AS (
  SELECT * FROM unseen WHERE CASE
    WHEN host IN ('host0.example.com', 'host1.example.com')
      THEN NOT path LIKE '/doc/1%'
    WHEN host = 'host2.example.com' THEN path LIKE '/doc/2%'
    ELSE TRUE END
), ranked AS (
  SELECT host, url, n_refs, n_src_pages,
    CAST(row_number() OVER (PARTITION BY host
      ORDER BY n_src_pages DESC, n_refs DESC, url ASC) AS INTEGER) AS rank
  FROM allowed
)
SELECT host, url, n_refs, n_src_pages, rank
FROM ranked WHERE rank <= 3 ORDER BY host, rank
"""


def domain_link_graph_q(spark, sf_dir):
    """Registrable-domain-level link graph: synthetic URL pairs from
    orders run through host extraction + PSL rollup + intra-domain
    exclusion + (n_links, n_src_pages) aggregation; the oracle derives
    the expected domains straight from the key arithmetic (co.uk PSL
    rule at depth 3, default last-two-labels for .com), so PSL
    resolution and the rollup are checked independently. dst family
    k%5==0 collides with the odd-c src domain to exercise the
    intra-domain drop; src paths repeat mod 50 so n_src_pages < n_links."""
    from cord19_crawler_spark.frontier.psl import load_psl
    from cord19_crawler_spark.operators.graph import domain_link_graph

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    src_host = F.when(
        c % 2 == 0,
        F.concat(F.lit("sub"), (c % 5).cast("string"), F.lit(".brand"),
                 (c % 11).cast("string"), F.lit(".co.uk")),
    ).otherwise(
        F.concat(F.lit("www.brand"), (c % 11).cast("string"), F.lit(".com"))
    )
    dst_host = (
        F.when(
            k % 5 == 0,
            F.concat(F.lit("www.brand"), (c % 11).cast("string"),
                     F.lit(".com")),
        )
        .when(
            k % 3 == 0,
            F.concat(F.lit("cdn"), (k % 4).cast("string"), F.lit(".site"),
                     (k % 13).cast("string"), F.lit(".com.au")),
        )
        .otherwise(
            F.concat(F.lit("www.site"), (k % 13).cast("string"),
                     F.lit(".com"))
        )
    )
    edges = o.select(
        F.concat(F.lit("https://"), src_host, F.lit("/p/"),
                 (k % 50).cast("string")).alias("src_url"),
        F.concat(F.lit("https://"), dst_host, F.lit("/x")).alias("dst_url"),
    )
    return (
        domain_link_graph(edges, load_psl(spark))
        .orderBy("src_domain", "dst_domain")
    )


_DOMAIN_GRAPH_SQL = """
WITH e AS (
  SELECT
    CASE WHEN o_custkey % 2 = 0
      THEN 'brand' || CAST(o_custkey % 11 AS VARCHAR) || '.co.uk'
      ELSE 'brand' || CAST(o_custkey % 11 AS VARCHAR) || '.com' END
      AS src_domain,
    CASE WHEN o_orderkey % 5 = 0
      THEN 'brand' || CAST(o_custkey % 11 AS VARCHAR) || '.com'
      WHEN o_orderkey % 3 = 0
      THEN 'site' || CAST(o_orderkey % 13 AS VARCHAR) || '.com.au'
      ELSE 'site' || CAST(o_orderkey % 13 AS VARCHAR) || '.com' END
      AS dst_domain,
    'https://' ||
      CASE WHEN o_custkey % 2 = 0
        THEN 'sub' || CAST(o_custkey % 5 AS VARCHAR) || '.brand'
             || CAST(o_custkey % 11 AS VARCHAR) || '.co.uk'
        ELSE 'www.brand' || CAST(o_custkey % 11 AS VARCHAR) || '.com' END
      || '/p/' || CAST(o_orderkey % 50 AS VARCHAR) AS src_url
  FROM orders
)
SELECT src_domain, dst_domain,
  CAST(count(*) AS BIGINT) AS n_links,
  CAST(count(DISTINCT src_url) AS BIGINT) AS n_src_pages
FROM e WHERE src_domain <> dst_domain
GROUP BY src_domain, dst_domain
ORDER BY src_domain, dst_domain
"""


def html_outlinks_q(spark, sf_dir):
    """HTML outlink discovery: synthetic pages BUILT from orders-key
    arithmetic (relative/parent/query-only/absolute/fragment/mailto
    links, entity-escaped queries, optional <base href>) run through the
    real extractor + RFC 3986 resolver (functions/html.py), while the
    oracle constructs the EXPECTED (url, kind, ref, resolved) rows
    directly from the same arithmetic — fully independent of the
    extraction regexes and the Catalyst dot-segment fold. The RFC's own
    §5.4 vectors are pinned in pytest; this row oracles the e2e
    extract→effective-base→resolve→filter pipeline at corpus scale."""
    _ensure_workers(spark)
    from cord19_crawler_spark.functions.html import extract_outlinks

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    host = F.concat(F.lit("w"), (c % 40).cast("string"), F.lit(".example.com"))
    page = F.concat(
        F.lit("https://"), host, F.lit("/a"), (k % 6).cast("string"),
        F.lit("/b"), (k % 4).cast("string"), F.lit("/page"),
        k.cast("string"), F.lit(".html"),
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            k % 5 == 0,
            F.concat(F.lit('<base href="/base'), (k % 7).cast("string"),
                     F.lit('/">')),
        ).otherwise(F.lit("")),
        F.lit('</head><body><a href="rel'), (k % 9).cast("string"),
        F.lit('.html">r</a><a href="../up'), (k % 3).cast("string"),
        F.lit('.html">u</a>'),
        F.when(
            k % 2 == 0,
            F.concat(F.lit('<a href="?p='), (k % 11).cast("string"),
                     F.lit('&amp;s=1">q</a>')),
        ).otherwise(F.lit("")),
        F.when(
            k % 3 == 0,
            F.concat(F.lit('<a href="https://ext'), (k % 8).cast("string"),
                     F.lit('.example.com/x">e</a>')),
        ).otherwise(F.lit("")),
        F.when(k % 4 == 0, F.lit('<a href="#top">t</a>')).otherwise(F.lit("")),
        F.when(
            k % 6 == 0,
            F.concat(F.lit('<a href="mailto:u'), k.cast("string"),
                     F.lit('@x.com">m</a>')),
        ).otherwise(F.lit("")),
        F.lit('<img src="/img/i'), (k % 5).cast("string"),
        F.lit('.png"></body></html>'),
    )
    # _t already spreads the single-row-group sf parquet across cores, so
    # the (codegen-fallback, HOF-bearing) resolver parallelizes without an
    # extra exchange of the built HTML
    pages = o.select(page.alias("url"), html.alias("html"))
    return extract_outlinks(pages).orderBy("url", "kind", "ref")


_HTML_OUTLINKS_SQL = """
WITH o AS (
  SELECT o_orderkey AS k,
    'w' || CAST(o_custkey % 40 AS VARCHAR) || '.example.com' AS host
  FROM orders
), p AS (
  SELECT k, host,
    'https://' || host || '/a' || CAST(k % 6 AS VARCHAR)
      || '/b' || CAST(k % 4 AS VARCHAR)
      || '/page' || CAST(k AS VARCHAR) || '.html' AS url,
    CASE WHEN k % 5 = 0
      THEN '/base' || CAST(k % 7 AS VARCHAR) || '/'
      ELSE '/a' || CAST(k % 6 AS VARCHAR) || '/b' || CAST(k % 4 AS VARCHAR)
           || '/' END AS dir,
    CASE WHEN k % 5 = 0 THEN '/base' || CAST(k % 7 AS VARCHAR) || '/'
      ELSE '/a' || CAST(k % 6 AS VARCHAR) || '/b' || CAST(k % 4 AS VARCHAR)
           || '/page' || CAST(k AS VARCHAR) || '.html' END AS qpath
  FROM o
), rows AS (
  SELECT url, 'href' AS kind,
    'rel' || CAST(k % 9 AS VARCHAR) || '.html' AS ref,
    'https://' || host || dir || 'rel' || CAST(k % 9 AS VARCHAR)
      || '.html' AS resolved
  FROM p
  UNION ALL
  SELECT url, 'href', '../up' || CAST(k % 3 AS VARCHAR) || '.html',
    'https://' || host
      || CASE WHEN k % 5 = 0 THEN '/'
         ELSE '/a' || CAST(k % 6 AS VARCHAR) || '/' END
      || 'up' || CAST(k % 3 AS VARCHAR) || '.html'
  FROM p
  UNION ALL
  SELECT url, 'href', '?p=' || CAST(k % 11 AS VARCHAR) || '&s=1',
    'https://' || host || qpath || '?p=' || CAST(k % 11 AS VARCHAR) || '&s=1'
  FROM p WHERE k % 2 = 0
  UNION ALL
  SELECT url, 'href',
    'https://ext' || CAST(k % 8 AS VARCHAR) || '.example.com/x',
    'https://ext' || CAST(k % 8 AS VARCHAR) || '.example.com/x'
  FROM p WHERE k % 3 = 0
  UNION ALL
  SELECT url, 'src', '/img/i' || CAST(k % 5 AS VARCHAR) || '.png',
    'https://' || host || '/img/i' || CAST(k % 5 AS VARCHAR) || '.png'
  FROM p
)
SELECT url, kind, ref, resolved FROM rows ORDER BY url, kind, ref
"""


def soft404_detection_q(spark, sf_dir):
    """Soft-404 detection by random-probe signature matching
    (Bar-Yossef et al. WWW 2004) over a synthetic fetch log from events:
    20 hosts, every-37th row a random-path probe; hosts h0/h3/h6/...
    answer probes 200 with an error fingerprint shared by every 4th
    regular page (the planted soft-404 population), the rest refuse
    probes with 404; every 13th fingerprint is NULL (must never become
    a catch-all signature). The oracle rebuilds signature and behavior
    tables in plain SQL."""
    from cord19_crawler_spark.frontier.soft404 import soft404_detect

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    hid = e % 20
    is_probe = (e % 37) == 0
    soft = (hid % 3) == 0
    status = (
        F.when(is_probe & soft, F.lit(200))
        .when(is_probe, F.lit(404))
        .when(e % 10 == 0, F.lit(404))
        .when(e % 10 == 1, F.lit(500))
        .otherwise(F.lit(200))
    )
    fp = (
        F.when(e % 13 == 0, F.lit(None).cast("string"))
        .when(
            soft & (is_probe | (e % 4 == 0)),
            F.concat(F.lit("err-"), hid.cast("string")),
        )
        .otherwise(F.concat(F.lit("fp-"), e.cast("string")))
    )
    log = ev.select(
        F.concat(
            F.lit("https://h"), hid.cast("string"),
            F.lit(".example.com/p/"), e.cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), hid.cast("string")).alias("host"),
        status.cast("int").alias("status"),
        fp.alias("fingerprint"),
        is_probe.alias("is_probe"),
    )
    return soft404_detect(log)


_SOFT404_SQL = """
WITH log AS (
  SELECT
    'https://h' || CAST(event_id % 20 AS VARCHAR) || '.example.com/p/'
      || CAST(event_id AS VARCHAR) AS url,
    'h' || CAST(event_id % 20 AS VARCHAR) AS host,
    CAST(CASE
      WHEN event_id % 37 = 0 AND (event_id % 20) % 3 = 0 THEN 200
      WHEN event_id % 37 = 0 THEN 404
      WHEN event_id % 10 = 0 THEN 404
      WHEN event_id % 10 = 1 THEN 500
      ELSE 200 END AS INTEGER) AS status,
    CASE
      WHEN event_id % 13 = 0 THEN NULL
      WHEN (event_id % 20) % 3 = 0
           AND (event_id % 37 = 0 OR event_id % 4 = 0)
        THEN 'err-' || CAST(event_id % 20 AS VARCHAR)
      ELSE 'fp-' || CAST(event_id AS VARCHAR) END AS fingerprint,
    event_id % 37 = 0 AS is_probe
  FROM events
), sigs AS (
  SELECT DISTINCT host, fingerprint FROM log
  WHERE is_probe AND status BETWEEN 200 AND 299 AND fingerprint IS NOT NULL
), beh AS (
  SELECT host,
    CASE WHEN max(CASE WHEN status BETWEEN 200 AND 299 THEN 1 ELSE 0 END) = 1
           THEN 'soft404'
         WHEN max(CASE WHEN status BETWEEN 400 AND 499 THEN 1 ELSE 0 END) = 1
           THEN 'hard404'
         ELSE 'unknown' END AS host_behavior
  FROM log WHERE is_probe GROUP BY host
)
SELECT l.url, l.host, l.status, l.fingerprint,
  coalesce(b.host_behavior, 'unknown') AS host_behavior,
  (l.status BETWEEN 200 AND 299 AND s.host IS NOT NULL) AS soft404
FROM log l
LEFT JOIN beh b USING (host)
LEFT JOIN sigs s
  ON s.host = l.host AND s.fingerprint = l.fingerprint
WHERE NOT l.is_probe
"""


def host_throttle_q(spark, sf_dir):
    """Adaptive per-host crawl delay from 429/503 + Retry-After
    (RFC 6585 / RFC 9110) over a synthetic fetch log from events: 25
    hosts with throttle rates varying BY host (h mod 5 of every 12
    fetches 429, every 12th a 503), Retry-After stated on every 3rd
    throttle. Exercises base-floor, backoff, Retry-After-dominates and
    max-delay-cap regimes in one result; the oracle replays the pinned
    integer-step formula."""
    from cord19_crawler_spark.frontier.throttle import host_throttle

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    hid = e % 25
    status = (
        F.when(e % 12 < hid % 5, F.lit(429))
        .when(e % 12 == 11, F.lit(503))
        .when(e % 12 == 10, F.lit(404))
        .otherwise(F.lit(200))
    )
    log = ev.select(
        F.concat(F.lit("h"), hid.cast("string")).alias("host"),
        status.cast("int").alias("status"),
        F.when(
            status.isin(429, 503) & (e % 3 == 0),
            ((e % 7) * 15).cast("double"),
        ).alias("retry_after"),
    )
    return host_throttle(
        log, base_delay=1.0, max_delay=600.0, backoff=2.0, max_steps=10
    )


_HOST_THROTTLE_SQL = """
WITH log AS (
  SELECT 'h' || CAST(event_id % 25 AS VARCHAR) AS host,
    CAST(CASE
      WHEN event_id % 12 < (event_id % 25) % 5 THEN 429
      WHEN event_id % 12 = 11 THEN 503
      WHEN event_id % 12 = 10 THEN 404
      ELSE 200 END AS INTEGER) AS status,
    CASE WHEN (event_id % 12 < (event_id % 25) % 5 OR event_id % 12 = 11)
              AND event_id % 3 = 0
      THEN CAST((event_id % 7) * 15 AS DOUBLE) END AS retry_after
  FROM events
), agg AS (
  SELECT host,
    count(*) AS n_fetches,
    count(*) FILTER (WHERE status IN (429, 503)) AS n_throttled,
    max(retry_after) FILTER (WHERE status IN (429, 503)) AS max_retry_after
  FROM log GROUP BY host
)
SELECT host, n_fetches, n_throttled,
  CAST(n_throttled AS DOUBLE) / n_fetches AS throttle_rate,
  max_retry_after,
  least(600.0, greatest(
    1.0 * pow(2.0, CAST(least((20 * n_throttled) // n_fetches, 10) AS DOUBLE)),
    coalesce(max_retry_after, 0.0), 1.0)) AS recommended_delay
FROM agg
"""


def revalidation_plan_q(spark, sf_dir):
    """Conditional-GET planning (RFC 9110 §13) over a synthetic fetch
    history from events: per-URL freshest ETag and Last-Modified tracked
    INDEPENDENTLY (max_by over a null-when-absent ts — most recent
    response that carried each header), plus the 304-share of terminal
    responses. One linear url-key aggregate (plan-asserted in pytest);
    the oracle replays with FILTERed arg_max."""
    from cord19_crawler_spark.frontier.revalidate import revalidation_plan

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    status = F.element_at(
        F.array(*[F.lit(s) for s in (200, 304, 200, 301, 503)]),
        (e % 5 + 1).cast("int"),
    )
    hist = ev.select(
        F.concat(F.lit("https://v"), (e % 150).cast("string"),
                 F.lit(".example.com/doc")).alias("url"),
        e.cast("double").alias("ts"),
        status.alias("status"),
        F.when(e % 3 == 0,
               F.concat(F.lit('"e'), (e % 7).cast("string"), F.lit('"')))
        .alias("etag"),
        F.when(e % 4 == 0,
               F.concat(F.lit("LM-"), (e % 9).cast("string")))
        .alias("last_modified"),
    )
    return revalidation_plan(hist).orderBy("url")


_REVALIDATE_SQL = """
WITH hist AS (
  SELECT 'https://v' || CAST(event_id % 150 AS VARCHAR)
           || '.example.com/doc' AS url,
    CAST(event_id AS DOUBLE) AS ts,
    CASE event_id % 5 WHEN 0 THEN 200 WHEN 1 THEN 304 WHEN 2 THEN 200
      WHEN 3 THEN 301 ELSE 503 END AS status,
    CASE WHEN event_id % 3 = 0
      THEN '"e' || CAST(event_id % 7 AS VARCHAR) || '"' END AS etag,
    CASE WHEN event_id % 4 = 0
      THEN 'LM-' || CAST(event_id % 9 AS VARCHAR) END AS last_modified
  FROM events
)
SELECT url,
  arg_max(etag, ts) FILTER (WHERE etag IS NOT NULL) AS if_none_match,
  arg_max(last_modified, ts) FILTER (WHERE last_modified IS NOT NULL)
    AS if_modified_since,
  (count(etag) > 0 OR count(last_modified) > 0) AS revalidable,
  CAST(count(*) FILTER (WHERE status = 200) AS BIGINT) AS n_full,
  CAST(count(*) FILTER (WHERE status = 304) AS BIGINT) AS n_not_modified,
  CASE WHEN count(*) FILTER (WHERE status IN (200, 304)) > 0
    THEN CAST(count(*) FILTER (WHERE status = 304) AS DOUBLE)
         / (count(*) FILTER (WHERE status = 200)
            + count(*) FILTER (WHERE status = 304)) END
    AS not_modified_rate
FROM hist GROUP BY url ORDER BY url
"""


def http_cache_plan_q(spark, sf_dir):
    """HTTP cache-freshness planning (RFC 9111) over a synthetic fetch
    history from events: Cache-Control directive parsing (delimiter-
    anchored regex — the planted `maxage=5` decoy must NOT satisfy
    max-age), the §4.2.1 lifetime precedence (s-maxage > max-age >
    Expires−Date > Last-Modified heuristic), shared-cache storage vetoes
    (no-store/private), the no-cache always-revalidate marker, §4.2.3
    corrected age, and the staleness instant. One url-key aggregate +
    a 1-row broadcast `now`; the oracle replays the arithmetic with a
    row_number latest-pick."""
    from cord19_crawler_spark.frontier.cache import http_cache_plan

    ev = _t(spark, sf_dir, "events")
    e = F.col("event_id")
    ts = e.cast("double") * 10.0
    date_ts = ts - (e % 30).cast("double")
    cc = F.element_at(
        F.array(
            F.lit("max-age=3600"),
            F.lit("no-store"),
            F.lit("public, max-age=600, s-maxage=1200"),
            F.lit("no-cache, max-age=300"),
            F.lit(None).cast("string"),
            F.lit("private, max-age=60"),
            F.lit("max-age=0, must-revalidate"),
            F.lit("weird=xyz, maxage=5"),
        ),
        (e % 8 + 1).cast("int"),
    )
    hist = ev.select(
        F.concat(
            F.lit("https://c"), (e % 120).cast("string"),
            F.lit(".example.com/p"), (e % 4).cast("string"),
        ).alias("url"),
        ts.alias("ts"),
        cc.alias("cache_control"),
        date_ts.alias("date_ts"),
        F.when(e % 3 == 0, date_ts + 7200.0)
        .when(e % 3 == 1, date_ts - 100.0)
        .alias("expires_ts"),
        F.when(e % 4 == 0, (e % 50).cast("double")).alias("age"),
        F.when(e % 2 == 0, ts - 86400.0 * (e % 10 + 1).cast("double"))
        .alias("last_modified_ts"),
    )
    return http_cache_plan(hist).orderBy("url")


_HTTP_CACHE_SQL = r"""
WITH base AS (
  SELECT event_id AS e, CAST(event_id AS DOUBLE) * 10.0 AS ts FROM events
), hist AS (
  SELECT
    'https://c' || CAST(e % 120 AS VARCHAR) || '.example.com/p'
      || CAST(e % 4 AS VARCHAR) AS url,
    ts,
    CASE e % 8
      WHEN 0 THEN 'max-age=3600'
      WHEN 1 THEN 'no-store'
      WHEN 2 THEN 'public, max-age=600, s-maxage=1200'
      WHEN 3 THEN 'no-cache, max-age=300'
      WHEN 4 THEN NULL
      WHEN 5 THEN 'private, max-age=60'
      WHEN 6 THEN 'max-age=0, must-revalidate'
      ELSE 'weird=xyz, maxage=5' END AS cache_control,
    ts - CAST(e % 30 AS DOUBLE) AS date_ts,
    CASE WHEN e % 3 = 0 THEN ts - CAST(e % 30 AS DOUBLE) + 7200.0
         WHEN e % 3 = 1 THEN ts - CAST(e % 30 AS DOUBLE) - 100.0 END
      AS expires_ts,
    CASE WHEN e % 4 = 0 THEN CAST(e % 50 AS DOUBLE) END AS age,
    CASE WHEN e % 2 = 0
         THEN ts - 86400.0 * CAST(e % 10 + 1 AS DOUBLE) END
      AS last_modified_ts
  FROM base
), latest AS (
  SELECT url, ts AS last_ts, lower(coalesce(cache_control, '')) AS lcc,
         date_ts, expires_ts, age, last_modified_ts AS lm
  FROM (SELECT *, row_number() OVER (PARTITION BY url ORDER BY ts DESC) AS rn
        FROM hist)
  WHERE rn = 1
), dir AS (
  SELECT url, last_ts, date_ts, expires_ts, age, lm,
    regexp_matches(lcc, '(?:^|[,\s])no-store(?:$|[,\s])') AS no_store,
    regexp_matches(lcc, '(?:^|[,\s])private(?:$|[,\s])') AS private,
    regexp_matches(lcc, '(?:^|[,\s])no-cache(?:$|[,\s])') AS no_cache,
    TRY_CAST(NULLIF(regexp_extract(lcc,
      '(?:^|[,\s])max-age=([0-9]+)(?:$|[,\s])', 1), '') AS DOUBLE) AS max_age,
    TRY_CAST(NULLIF(regexp_extract(lcc,
      '(?:^|[,\s])s-maxage=([0-9]+)(?:$|[,\s])', 1), '') AS DOUBLE) AS s_maxage
  FROM latest
), calc AS (
  SELECT url, last_ts, no_store, private, no_cache, max_age, s_maxage,
    CASE WHEN expires_ts IS NOT NULL AND date_ts IS NOT NULL
         THEN CASE WHEN expires_ts - date_ts < 0 THEN 0.0
              ELSE expires_ts - date_ts END END AS expires_life,
    CASE WHEN lm IS NOT NULL AND date_ts IS NOT NULL
         THEN 0.1 * (CASE WHEN date_ts - lm < 0 THEN 0.0
                     ELSE date_ts - lm END) END AS heuristic_life,
    (CASE WHEN date_ts IS NOT NULL
          THEN CASE WHEN last_ts - date_ts < 0 THEN 0.0
               ELSE last_ts - date_ts END
          ELSE 0.0 END) + COALESCE(age, 0.0) AS age_at_response
  FROM dir
), plan AS (
  SELECT url, last_ts,
    NOT (no_store OR private) AS cacheable,
    no_cache,
    COALESCE(s_maxage, max_age, expires_life, heuristic_life) AS lifetime_s,
    (s_maxage IS NULL AND max_age IS NULL AND expires_life IS NULL
     AND heuristic_life IS NOT NULL) AS heuristic,
    age_at_response
  FROM calc
), planned AS (
  SELECT *,
    CASE WHEN cacheable AND lifetime_s IS NOT NULL
         THEN last_ts + lifetime_s - age_at_response END AS due_ts
  FROM plan
)
SELECT url, last_ts, cacheable, no_cache, lifetime_s, heuristic,
  age_at_response, due_ts,
  (cacheable AND NOT no_cache
   AND COALESCE((SELECT max(ts) FROM hist) < due_ts, FALSE)) AS fresh_now
FROM planned ORDER BY url
"""


def html_canonical_meta_q(spark, sf_dir):
    """rel=canonical (RFC 6596) + robots-meta extraction: synthetic page
    HEADs BUILT from orders-key arithmetic (relative/absolute/self/absent
    canonicals in both attribute orders, entity-escaped query, optional
    <base href>, a stylesheet-link decoy, robots meta in both orders with
    noindex/nofollow/all/none/absent) run through the real extractor +
    RFC 3986 resolver (functions/html.py:canonical_meta), while the
    oracle derives the EXPECTED per-page row directly from the same key
    arithmetic — independent of the regexes and the resolver."""
    _ensure_workers(spark)
    from cord19_crawler_spark.functions.html import canonical_meta

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    host = F.concat(F.lit("w"), (c % 40).cast("string"), F.lit(".example.com"))
    page = F.concat(
        F.lit("https://"), host, F.lit("/a"), (k % 6).cast("string"),
        F.lit("/b"), (k % 4).cast("string"), F.lit("/page"),
        k.cast("string"), F.lit(".html"),
    )
    canon_ref = (
        F.when(
            k % 3 == 0,
            F.concat(
                F.lit("c"), (k % 10).cast("string"), F.lit(".html"),
                F.when(k % 6 == 3, F.lit("?x=1&amp;y=2")).otherwise(F.lit("")),
            ),
        )
        .when((k % 3 == 1) & (k % 9 == 1), page)
        .when(
            k % 3 == 1,
            F.concat(F.lit("https://canon"), (k % 5).cast("string"),
                     F.lit(".example.com/c")),
        )
    )
    canon_tag = F.when(
        canon_ref.isNotNull(),
        F.when(
            k % 2 == 0,
            F.concat(F.lit('<link rel="canonical" href="'), canon_ref,
                     F.lit('">')),
        ).otherwise(
            F.concat(F.lit("<link href='"), canon_ref,
                     F.lit("' rel=canonical>")),
        ),
    ).otherwise(F.lit(""))
    meta_tag = (
        F.when(k % 4 == 0,
               F.lit('<meta name="robots" content="noindex, nofollow">'))
        .when(k % 4 == 1, F.lit('<meta content="NOINDEX" name=robots>'))
        .when(
            k % 4 == 2,
            F.when(k % 8 == 2,
                   F.lit('<meta name="robots" content="all">'))
            .otherwise(F.lit('<meta name="robots" content="none">')),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            k % 5 == 0,
            F.concat(F.lit('<base href="/base'), (k % 7).cast("string"),
                     F.lit('/">')),
        ).otherwise(F.lit("")),
        F.lit('<link rel="stylesheet" href="/css/s.css">'),
        canon_tag,
        meta_tag,
        F.lit('</head><body><a href="other.html">o</a></body></html>'),
    )
    pages = o.select(page.alias("url"), html.alias("html"))
    return canonical_meta(pages).orderBy("url")


_HTML_CANONICAL_SQL = """
WITH o AS (
  SELECT o_orderkey AS k,
    'w' || CAST(o_custkey % 40 AS VARCHAR) || '.example.com' AS host
  FROM orders
), p AS (
  SELECT k, host,
    'https://' || host || '/a' || CAST(k % 6 AS VARCHAR)
      || '/b' || CAST(k % 4 AS VARCHAR)
      || '/page' || CAST(k AS VARCHAR) || '.html' AS url,
    CASE WHEN k % 5 = 0 THEN '/base' || CAST(k % 7 AS VARCHAR) || '/'
      ELSE '/a' || CAST(k % 6 AS VARCHAR) || '/b' || CAST(k % 4 AS VARCHAR)
           || '/' END AS dir
  FROM o
), rows AS (
  SELECT url,
    CASE
      WHEN k % 3 = 0 THEN 'c' || CAST(k % 10 AS VARCHAR) || '.html'
        || CASE WHEN k % 6 = 3 THEN '?x=1&y=2' ELSE '' END
      WHEN k % 3 = 1 AND k % 9 = 1 THEN url
      WHEN k % 3 = 1 THEN 'https://canon' || CAST(k % 5 AS VARCHAR)
        || '.example.com/c'
    END AS canonical_ref,
    CASE
      WHEN k % 3 = 0 THEN 'https://' || host || dir
        || 'c' || CAST(k % 10 AS VARCHAR) || '.html'
        || CASE WHEN k % 6 = 3 THEN '?x=1&y=2' ELSE '' END
      WHEN k % 3 = 1 AND k % 9 = 1 THEN url
      WHEN k % 3 = 1 THEN 'https://canon' || CAST(k % 5 AS VARCHAR)
        || '.example.com/c'
    END AS canonical_url,
    CASE WHEN k % 3 = 2 THEN NULL
         ELSE (k % 3 = 1 AND k % 9 = 1) END AS is_self_canonical,
    (k % 4 = 0 OR k % 4 = 1 OR (k % 4 = 2 AND k % 8 = 6)) AS noindex,
    (k % 4 = 0 OR (k % 4 = 2 AND k % 8 = 6)) AS nofollow
  FROM p
)
SELECT url, canonical_ref, canonical_url, is_self_canonical,
  noindex, nofollow
FROM rows ORDER BY url
"""


def sitemap_parse_q(spark, sf_dir):
    """Sitemap XML parsing (sitemaps.org protocol): synthetic urlset +
    sitemapindex bodies are BUILT from orders-key arithmetic, run through
    the real Catalyst parser (frontier/sitemaps.py — kind classification,
    per-entry field extraction, entity decode, changefreq vocabulary,
    priority clamping/defaulting, loc-required drop), while the oracle
    derives the EXPECTED rows directly from the same key arithmetic —
    an independent derivation, so a parser bug cannot hide in a shared
    regex. Bodies exercise: &amp; entity in loc, case-normalized and
    invalid changefreq, out-of-range/unparsable/absent priority, CRLF +
    whitespace-padded loc, loc-less entries (dropped), index files
    carrying lastmod-less children."""
    from cord19_crawler_spark.frontier.sitemaps import parse_sitemaps

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    ks, cs = k.cast("string"), c.cast("string")
    host = F.concat(F.lit("s"), (c % 50).cast("string"), F.lit(".example.com"))
    cf = F.array(*[F.lit(x) for x in (
        "daily", "WEEKLY", "never", "sometimes", "hourly",
        "monthly", "always", "yearly", "annually",
    )])
    pr = F.array(*[F.lit(x) for x in ("0.1", "0.9", "1.5", "x", "0")])
    urlset_body = F.concat(
        F.lit("<urlset>\r\n<url><loc>https://"), host, F.lit("/p"),
        (k % 13).cast("string"), F.lit("?a=1&amp;b="),
        (c % 17).cast("string"), F.lit("</loc>"),
        F.when(
            k % 2 == 0,
            F.concat(F.lit("<lastmod>2026-0"), (k % 9 + 1).cast("string"),
                     F.lit("-15</lastmod>")),
        ).otherwise(F.lit("")),
        F.lit("<changefreq>"), F.element_at(cf, (k % 9 + 1).cast("int")),
        F.lit("</changefreq><priority>"),
        F.element_at(pr, (k % 5 + 1).cast("int")),
        F.lit("</priority></url>\r\n"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("<url><loc> https://"), host,
                     F.lit("/extra </loc></url>\r\n")),
        ).otherwise(F.lit("")),
        F.when(
            k % 5 == 0,
            F.lit("<url><priority>0.9</priority></url>\r\n"),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    index_body = F.concat(
        F.lit("<sitemapindex>\r\n<sitemap><loc>https://"), host,
        F.lit("/child"), (k % 11).cast("string"),
        F.lit(".xml</loc><lastmod>2026-02-01T10:00:00Z</lastmod></sitemap>\r\n"
              "<sitemap><loc>https://"), host,
        F.lit("/child"), ((k + 1) % 11).cast("string"),
        F.lit(".xml</loc></sitemap>\r\n</sitemapindex>"),
    )
    files = o.select(
        F.concat(F.lit("https://"), host, F.lit("/sm"), ks, F.lit(".xml"))
        .alias("url"),
        F.when(k % 7 == 0, index_body).otherwise(urlset_body).alias("body"),
    )
    return parse_sitemaps(files).orderBy("sitemap_url", "entry_pos")


_SITEMAP_PARSE_SQL = """
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS c,
    's' || CAST(o_custkey % 50 AS VARCHAR) || '.example.com' AS host
  FROM orders
), f AS (
  SELECT k, c, host,
    'https://' || host || '/sm' || CAST(k AS VARCHAR) || '.xml' AS sitemap_url
  FROM o
), rows AS (
  SELECT sitemap_url, 'urlset' AS kind, 0 AS entry_pos,
    'https://' || host || '/p' || CAST(k % 13 AS VARCHAR)
      || '?a=1&b=' || CAST(c % 17 AS VARCHAR) AS loc,
    CASE WHEN k % 2 = 0
      THEN '2026-0' || CAST(k % 9 + 1 AS VARCHAR) || '-15' END AS lastmod,
    CASE k % 9 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly' WHEN 2 THEN 'never'
      WHEN 4 THEN 'hourly' WHEN 5 THEN 'monthly' WHEN 6 THEN 'always'
      WHEN 7 THEN 'yearly' END AS changefreq,
    CASE k % 5 WHEN 0 THEN 0.1 WHEN 1 THEN 0.9 WHEN 4 THEN 0.0
      ELSE 0.5 END AS priority
  FROM f WHERE k % 7 <> 0
  UNION ALL
  SELECT sitemap_url, 'urlset', 1, 'https://' || host || '/extra',
    NULL, NULL, 0.5
  FROM f WHERE k % 7 <> 0 AND k % 3 = 0
  UNION ALL
  SELECT sitemap_url, 'index', 0,
    'https://' || host || '/child' || CAST(k % 11 AS VARCHAR) || '.xml',
    '2026-02-01T10:00:00Z', NULL, NULL
  FROM f WHERE k % 7 = 0
  UNION ALL
  SELECT sitemap_url, 'index', 1,
    'https://' || host || '/child' || CAST((k + 1) % 11 AS VARCHAR) || '.xml',
    NULL, NULL, NULL
  FROM f WHERE k % 7 = 0
)
SELECT sitemap_url, kind, entry_pos, loc, lastmod, changefreq,
  CAST(priority AS DOUBLE) AS priority
FROM rows ORDER BY sitemap_url, entry_pos
"""


def feed_parse_q(spark, sf_dir):
    """RSS 2.0 / Atom feed parsing (frontier/feeds.py): synthetic feed
    bodies BUILT from orders-key arithmetic run through the real
    Catalyst parser, while the oracle derives the EXPECTED rows from the
    same arithmetic — independent of the regexes. Bodies exercise: both
    formats + an unknown root (no rows), channel/feed-level link+title
    decoys outside entry blocks, RSS whitespace-padded entity-escaped
    links + attribute-bearing <guid>, Atom rel=self decoy links before
    the alternate (both alternate attribute orders), the no-rel href
    fallback, <updated>-over-<published> preference, and link-less
    entries (position-counted, then dropped)."""
    from cord19_crawler_spark.frontier.feeds import parse_feeds

    o = _t(spark, sf_dir, "orders")
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    ks = k.cast("string")
    host = F.concat(F.lit("f"), (c % 40).cast("string"), F.lit(".example.com"))
    rss_body = F.concat(
        F.lit('<rss version="2.0"><channel>\n<title>Chan '),
        (c % 9).cast("string"),
        F.lit("</title>\n<link>https://"), host, F.lit("/</link>\n"),
        F.lit("<item><title>Post "), (k % 7).cast("string"),
        F.lit("</title><link> https://"), host, F.lit("/post"),
        (k % 13).cast("string"), F.lit("?a=1&amp;b="), (c % 5).cast("string"),
        F.lit(' </link><guid isPermaLink="false">tag:'), host, F.lit(","),
        ks, F.lit("</guid><pubDate>Mon, 0"), (k % 7 + 1).cast("string"),
        F.lit(" Jun 2026 10:00:00 GMT</pubDate></item>\n"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit("<item><link>https://"), host, F.lit("/second"),
                     (k % 11).cast("string"), F.lit("</link></item>\n")),
        ).otherwise(F.lit("")),
        F.when(
            k % 5 == 0,
            F.lit("<item><title>No link here</title></item>\n"),
        ).otherwise(F.lit("")),
        F.lit("</channel></rss>"),
    )
    alt_link = F.when(
        k % 4 == 1,
        F.concat(F.lit('<link href="https://'), host, F.lit("/e"),
                 (k % 13).cast("string"), F.lit('" rel="alternate"/>')),
    ).otherwise(
        F.concat(F.lit('<link rel="alternate" href="https://'), host,
                 F.lit("/e"), (k % 13).cast("string"), F.lit('"/>')),
    )
    atom_body = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom">\n<title>Feed '),
        (c % 9).cast("string"),
        F.lit('</title>\n<link href="https://'), host,
        F.lit('/" rel="self"/>\n'),
        F.lit("<entry><title>Entry "), (k % 7).cast("string"),
        F.lit('</title><link rel="self" href="https://'), host,
        F.lit('/meta"/>'), alt_link,
        F.lit("<id>urn:e:"), ks, F.lit("</id><updated>2026-06-0"),
        (k % 9 + 1).cast("string"), F.lit("T10:00:00Z</updated></entry>\n"),
        F.when(
            k % 3 == 0,
            F.concat(F.lit('<entry><link href="https://'), host,
                     F.lit("/plain"), (k % 11).cast("string"),
                     F.lit('"/><published>2026-01-15T00:00:00Z</published>'
                           "</entry>\n")),
        ).otherwise(F.lit("")),
        F.when(
            k % 5 == 0,
            F.lit("<entry><title>nolink</title></entry>\n"),
        ).otherwise(F.lit("")),
        F.lit("</feed>"),
    )
    files = o.select(
        F.concat(F.lit("https://"), host, F.lit("/feed"), ks,
                 F.lit(".xml")).alias("url"),
        F.when(k % 7 == 0, F.lit("<html>not a feed</html>"))
        .when(k % 2 == 0, rss_body)
        .otherwise(atom_body)
        .alias("body"),
    )
    return parse_feeds(files).orderBy("feed_url", "entry_pos")


_FEED_PARSE_SQL = """
WITH o AS (
  SELECT o_orderkey AS k, o_custkey AS c,
    'f' || CAST(o_custkey % 40 AS VARCHAR) || '.example.com' AS host
  FROM orders
), f AS (
  SELECT k, c, host,
    'https://' || host || '/feed' || CAST(k AS VARCHAR) || '.xml' AS feed_url
  FROM o WHERE k % 7 <> 0
), rows AS (
  SELECT feed_url, 'rss' AS kind, 0 AS entry_pos,
    'https://' || host || '/post' || CAST(k % 13 AS VARCHAR)
      || '?a=1&b=' || CAST(c % 5 AS VARCHAR) AS link,
    'Post ' || CAST(k % 7 AS VARCHAR) AS title,
    'tag:' || host || ',' || CAST(k AS VARCHAR) AS entry_id,
    'Mon, 0' || CAST(k % 7 + 1 AS VARCHAR)
      || ' Jun 2026 10:00:00 GMT' AS published
  FROM f WHERE k % 2 = 0
  UNION ALL
  SELECT feed_url, 'rss', 1,
    'https://' || host || '/second' || CAST(k % 11 AS VARCHAR),
    NULL, NULL, NULL
  FROM f WHERE k % 2 = 0 AND k % 3 = 0
  UNION ALL
  SELECT feed_url, 'atom', 0,
    'https://' || host || '/e' || CAST(k % 13 AS VARCHAR),
    'Entry ' || CAST(k % 7 AS VARCHAR),
    'urn:e:' || CAST(k AS VARCHAR),
    '2026-06-0' || CAST(k % 9 + 1 AS VARCHAR) || 'T10:00:00Z'
  FROM f WHERE k % 2 = 1
  UNION ALL
  SELECT feed_url, 'atom', 1,
    'https://' || host || '/plain' || CAST(k % 11 AS VARCHAR),
    NULL, NULL, '2026-01-15T00:00:00Z'
  FROM f WHERE k % 2 = 1 AND k % 3 = 0
)
SELECT feed_url, kind, entry_pos, link, title, entry_id, published
FROM rows ORDER BY feed_url, entry_pos
"""


def mirror_hosts_q(spark, sf_dir):
    """Host-level mirror detection (frontier/mirrors.py, Bharat & Broder
    1999): documents are assigned to 40 primary hosts by doc_id
    arithmetic; even doc_ids are ALSO served from 5 planted mirror hosts
    (doc_id%5 ≡ host%5, so each mirror overlaps exactly the even half of
    its 8 primaries); every host additionally serves one shared
    TEMPLATE-FOOTER fingerprint spanning all 45 hosts, which the
    max_hosts_per_fp=20 template cap must drop before pairing.
    Fingerprints are md5(text) — computed independently by both engines.
    The oracle replays the pipeline relationally (distinct → per-fp host
    counts → capped self-join pairs → per-host totals → containment /
    jaccard)."""
    from cord19_crawler_spark.frontier.mirrors import mirror_hosts

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    primary = F.concat(F.lit("m"), (did % 40).cast("string"),
                       F.lit(".example.com"))
    mirror = F.concat(F.lit("mirror"), (did % 5).cast("string"),
                      F.lit(".example.com"))
    fp = F.md5(F.col("text"))
    template = F.md5(F.lit("TEMPLATE-FOOTER"))
    obs = (
        d.select(primary.alias("host"), fp.alias("fingerprint"))
        .unionAll(
            d.filter(did % 2 == 0)
            .select(mirror.alias("host"), fp.alias("fingerprint"))
        )
        .unionAll(d.select(primary.alias("host"), template.alias("fingerprint")))
        .unionAll(
            d.filter(did % 2 == 0)
            .select(mirror.alias("host"), template.alias("fingerprint"))
        )
    )
    return mirror_hosts(
        obs, max_hosts_per_fp=20, min_shared=2, min_containment=0.3
    ).orderBy("host_a", "host_b")


_MIRROR_HOSTS_SQL = """
WITH base AS (
  SELECT 'm' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS host,
         md5(text) AS fp
  FROM documents
  UNION ALL
  SELECT 'mirror' || CAST(doc_id % 5 AS VARCHAR) || '.example.com', md5(text)
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 'm' || CAST(doc_id % 40 AS VARCHAR) || '.example.com',
         md5('TEMPLATE-FOOTER')
  FROM documents
  UNION ALL
  SELECT 'mirror' || CAST(doc_id % 5 AS VARCHAR) || '.example.com',
         md5('TEMPLATE-FOOTER')
  FROM documents WHERE doc_id % 2 = 0
), hf AS (
  SELECT DISTINCT host, fp FROM base
), nh AS (
  SELECT fp, COUNT(*) AS n_hosts FROM hf GROUP BY fp
), hf2 AS (
  SELECT h.host, h.fp, n.n_hosts
  FROM hf h JOIN nh n USING (fp) WHERE n.n_hosts <= 20
), totals AS (
  SELECT host, COUNT(*) AS n_fp FROM hf2 GROUP BY host
), pairs AS (
  SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared_fps
  FROM hf2 a JOIN hf2 b ON a.fp = b.fp AND a.host < b.host
  WHERE a.n_hosts >= 2
  GROUP BY a.host, b.host
)
SELECT p.host_a, p.host_b, p.shared_fps, ta.n_fp AS n_a, tb.n_fp AS n_b,
  CAST(p.shared_fps AS DOUBLE) / LEAST(ta.n_fp, tb.n_fp) AS containment,
  CAST(p.shared_fps AS DOUBLE) / (ta.n_fp + tb.n_fp - p.shared_fps) AS jaccard
FROM pairs p
JOIN totals ta ON p.host_a = ta.host
JOIN totals tb ON p.host_b = tb.host
WHERE p.shared_fps >= 2
  AND CAST(p.shared_fps AS DOUBLE) / LEAST(ta.n_fp, tb.n_fp) >= 0.3
ORDER BY host_a, host_b
"""


def rendezvous_shards_q(spark, sf_dir):
    """Rendezvous/HRW crawler-shard assignment (frontier/shards.py,
    Thaler & Ravishankar 1998): distinct hosts derived from orders keys
    are assigned to 16 fetcher shards by argmax over md5(host ':' shard)
    — the weight function is md5 precisely so the oracle can replay it:
    DuckDB computes the same hex digests and ranks them with a window,
    independently of the Spark array-sort implementation. Emits winner
    and runner-up (the failover target)."""
    from cord19_crawler_spark.frontier.shards import rendezvous_shards

    o = _t(spark, sf_dir, "orders")
    hosts = o.select(
        F.concat(F.lit("h"), (F.col("o_custkey") % 500).cast("string"),
                 F.lit(".example.com")).alias("host")
    ).distinct()
    return rendezvous_shards(hosts, "host", 16).orderBy("host")


_RENDEZVOUS_SQL = """
WITH hosts AS (
  SELECT DISTINCT
    'h' || CAST(o_custkey % 500 AS VARCHAR) || '.example.com' AS host
  FROM orders
), w AS (
  SELECT h.host, t.s,
    md5(h.host || ':' || CAST(t.s AS VARCHAR)) AS wt
  FROM hosts h CROSS JOIN range(16) t(s)
), r AS (
  SELECT host, s,
    ROW_NUMBER() OVER (PARTITION BY host ORDER BY wt DESC, s DESC) AS rn
  FROM w
)
SELECT host,
  CAST(MAX(CASE WHEN rn = 1 THEN s END) AS INTEGER) AS shard,
  CAST(MAX(CASE WHEN rn = 2 THEN s END) AS INTEGER) AS backup
FROM r GROUP BY host ORDER BY host
"""


def bpe_encode_corpus_q(spark, sf_dir):
    """BPE CORPUS encoding (encode_words lifted to per-document subword
    sequences): pre-tokenize each document into positioned words, encode
    only the DISTINCT-word table with the merge folds, join the encoded
    vocabulary back to the occurrences (broadcast — the vocab is small)
    and reassemble in document order. The oracle replays the same shape
    in DuckDB: positioned unnest, the per-merge string-replace encode on
    the distinct words, an ORDER BY-position string_agg per document.
    Documents with no words keep a row with an empty sequence."""
    from cord19_crawler_spark.operators.bpe import encode_corpus

    d = _t(spark, sf_dir, "documents")
    seqs = encode_corpus(d, _BPE_ENCODE_MERGES)
    return seqs.select(
        "doc_id",
        F.array_join("tokens", " ").alias("encoded"),
        F.col("n_tokens"),
    ).orderBy("doc_id")


def _bpe_encode_corpus_sql() -> str:
    steps, prev = [], "s0"
    for i, (l, r) in enumerate(_BPE_ENCODE_MERGES, 1):
        steps.append(
            f", s{i} AS (SELECT word,"
            f" replace(s, '|{l}||{r}|', '|{l}{r}|') AS s FROM {prev})"
        )
        prev = f"s{i}"
    return f"""
WITH d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
  FROM documents
), idx AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM d
), occ AS (
  SELECT doc_id, i, ws[CAST(i AS INT)] AS word FROM idx
), s0 AS (
  SELECT DISTINCT word,
    '|' || array_to_string(
      list_append(regexp_extract_all(word, '.'), '</w>'), '||') || '|' AS s
  FROM occ
){chr(10).join(steps)}, enc AS (
  SELECT word, replace(trim({prev}.s, '|'), '||', ' ') AS e,
    len(string_split(replace(trim({prev}.s, '|'), '||', ' '), ' ')) AS n
  FROM {prev}
), seq AS (
  SELECT occ.doc_id, string_agg(enc.e, ' ' ORDER BY occ.i) AS encoded,
    CAST(sum(enc.n) AS BIGINT) AS n_tokens
  FROM occ JOIN enc USING (word) GROUP BY occ.doc_id
)
SELECT d.doc_id, coalesce(seq.encoded, '') AS encoded,
  coalesce(seq.n_tokens, 0) AS n_tokens
FROM d LEFT JOIN seq USING (doc_id)
ORDER BY doc_id
"""


def training_order_shards_q(spark, sf_dir):
    """Deterministic global training-order shuffle (epoch seed 3, 8
    shards): shard + within-shard position from the seeded Knuth-hash
    permutation — reproducible across engines, so the oracle replays the
    full (doc_id, shard, pos) assignment, not just counts."""
    from cord19_crawler_spark.operators.traindata import shuffle_shards

    d = _t(spark, sf_dir, "documents")
    return shuffle_shards(d, n_shards=8, seed=3)


_SHUFFLE_SHARDS_SQL = """
WITH d AS (
  SELECT doc_id,
    CAST(CAST((doc_id + 3) % 4294967296 AS HUGEINT) * 2654435761
         % 4294967296 AS BIGINT) AS hk
  FROM documents
)
SELECT doc_id, CAST(hk % 8 AS BIGINT) AS shard,
  CAST(row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) - 1
    AS BIGINT) AS pos
FROM d
"""


def vocab_oov_rate_q(spark, sf_dir):
    """Tokenizer-coverage diagnostic: per-document OOV rate against the
    corpus's own top-50 word vocabulary (freq DESC, word ASC — a total
    order, so the cutoff is deterministic). Vocabulary is broadcast; the
    corpus is scanned once and reduced by one doc_id rollup."""
    from cord19_crawler_spark.operators.bpe import (
        vocab_coverage,
        word_frequencies,
    )

    d = _t(spark, sf_dir, "documents")
    wf = word_frequencies(d)
    vocab = wf.orderBy(F.desc("freq"), F.asc("word")).limit(50).select("word")
    return vocab_coverage(d, vocab)


_VOCAB_OOV_SQL = """
WITH w AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
  FROM documents
), wf AS (
  SELECT word, count(*) AS freq FROM w GROUP BY word
), vocab AS (
  SELECT word FROM wf ORDER BY freq DESC, word ASC LIMIT 50
)
SELECT w.doc_id, count(*) AS n_tokens,
  CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
    / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM w LEFT JOIN vocab v ON w.word = v.word
GROUP BY w.doc_id
"""


def trap_url_shapes_q(spark, sf_dir):
    """Crawler-trap detection from URL shape (Mercator-style depth/loop/
    query signals, Heydon & Najork WWW 1999): per-host rollups over a
    deterministic synthetic URL set from orders — path depth driven by
    o_orderkey % 6 ('seg/' repeats, so >= 3 repeats trips the loop
    heuristic), query strings on every third URL. One scan projection +
    one host aggregate; the oracle replays parsing, the loop rule and the
    is_suspect thresholds in DuckDB."""
    from cord19_crawler_spark.frontier.traps import url_shape_signals

    o = _t(spark, sf_dir, "orders")
    urls = o.select(
        F.concat(
            F.lit("https://h"),
            (F.col("o_custkey") % 12).cast("string"),
            F.lit(".example.com/"),
            F.expr("repeat('seg/', CAST(o_orderkey % 6 AS INT))"),
            F.lit("p"),
            (F.col("o_orderkey") % 1000).cast("string"),
            F.when(
                F.col("o_orderkey") % 3 == 0,
                F.concat(
                    F.lit("?id="), (F.col("o_orderkey") % 50).cast("string")
                ),
            ).otherwise(F.lit("")),
        ).alias("url")
    )
    return url_shape_signals(urls, min_urls=5)


_TRAP_SHAPES_SQL = """
WITH u AS (
  SELECT 'https://h' || CAST(o_custkey % 12 AS VARCHAR) || '.example.com/'
      || repeat('seg/', CAST(o_orderkey % 6 AS INT))
      || 'p' || CAST(o_orderkey % 1000 AS VARCHAR)
      || CASE WHEN o_orderkey % 3 = 0
           THEN '?id=' || CAST(o_orderkey % 50 AS VARCHAR) ELSE '' END AS url
  FROM orders
), shaped AS (
  SELECT
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
      AS path,
    len(list_filter(string_split(
      regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
      '/'), x -> x <> '')) AS depth,
    CASE WHEN contains(url, '?') THEN 1 ELSE 0 END AS q,
    CASE WHEN len(list_filter(string_split(
           regexp_extract(url,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
           '/'), x -> x <> ''))
         - len(list_distinct(list_filter(string_split(
           regexp_extract(url,
             '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
           '/'), x -> x <> ''))) >= 2 THEN 1 ELSE 0 END AS loop
  FROM u
  WHERE regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) <> ''
), agg AS (
  SELECT host, count(*) AS n_urls, count(DISTINCT path) AS n_paths,
    round(avg(depth), 6) AS avg_depth, max(depth) AS max_depth,
    round(avg(q), 6) AS frac_query,
    CAST(sum(loop) AS BIGINT) AS n_loop_urls
  FROM shaped GROUP BY host
)
SELECT *,
  (n_urls >= 5 AND (avg_depth > 6.0
    OR n_loop_urls > CAST(n_urls AS DOUBLE) * 0.1
    OR frac_query > 0.8)) AS is_suspect
FROM agg
"""


def _dust_pages(o):
    """Deterministic synthetic fetch log (url, content_fp) from orders —
    shared by the DUST mining and canonicalization queries. Content key
    c = o_orderkey % 199 (coprime with the 5-way variant selector, so
    every content appears under several spellings); variants plant a
    session param (supports strip_param:sid), a tracking param
    (strip_param:utm), trailing-slash and www aliases; a 'page' param
    with MIXED evidence (changes content on host h0, irrelevant on
    h1/h2) lands at precision 2/3."""
    c = (F.col("o_orderkey") % 199).cast("string")
    v = F.col("o_orderkey") % 5
    sid = (F.col("o_orderkey") % 97).cast("string")
    item = F.concat(
        F.when(v == 4, F.lit("https://www.shop.example.com/item/p")).otherwise(
            F.lit("https://shop.example.com/item/p")
        ),
        c,
        F.when(v == 3, F.lit("/")).otherwise(F.lit("")),
        F.lit("?id="),
        c,
        F.when(v == 1, F.concat(F.lit("&sid="), sid)).otherwise(F.lit("")),
        F.when(v == 2, F.lit("&utm=x")).otherwise(F.lit("")),
    )
    h = (F.col("o_custkey") % 3).cast("string")
    p = (F.col("o_orderkey") % 4).cast("string")
    lst = F.concat(
        F.lit("https://h"), h, F.lit(".example.com/list?page="), p
    )
    is_list = F.col("o_orderkey") % 11 == 0
    return o.select(
        F.when(is_list, lst).otherwise(item).alias("url"),
        F.when(
            is_list,
            F.when(h == "0", F.concat(F.lit("lp0-"), p)).otherwise(
                F.concat(F.lit("lp"), h)
            ),
        )
        .otherwise(F.concat(F.lit("fp"), c))
        .alias("content_fp"),
    )


def dust_alias_rules_q(spark, sf_dir):
    """DUST URL-alias rule mining (Bar-Yossef et al. WWW 2007): learn
    site-wide URL rewrite rules from (url, content-fingerprint) fetch
    evidence so aliased spellings never reach the fetch queue — see
    ``_dust_pages`` for the planted evidence. Fully linear plan — no
    pair join; the oracle replays parsing, the rule fan-out, grouping,
    support/refutation and the precision cut."""
    from cord19_crawler_spark.frontier.dust import url_alias_rules

    return url_alias_rules(
        _dust_pages(_t(spark, sf_dir, "orders")), max_params=100,
        min_support=2,
    )


def dust_canonicalize_q(spark, sf_dir):
    """DUST rule APPLICATION: the rules mined by ``dust_alias_rules``
    (precision >= 0.9 — takes the four perfect rules, leaves the mixed
    'page' rule behind) rewrite the same fetch log into canonical URLs;
    per canonical host: fetches, distinct spellings before, distinct
    canonicals after, and aliases_removed — the fetches the frontier
    stops re-scheduling. The rewrite is ONE pure-Catalyst projection
    (the rule policy is a bounded driver-side broadcast, <= max_params+2
    rows by construction); the oracle replays mining, selection and the
    rewrite."""
    from cord19_crawler_spark.frontier.dust import (
        apply_alias_rules,
        url_alias_rules,
    )
    from cord19_crawler_spark.functions.urls import authority_expr

    pages = _dust_pages(_t(spark, sf_dir, "orders"))
    rules = url_alias_rules(pages, max_params=100, min_support=2)
    rewritten = apply_alias_rules(
        pages, rules, min_precision=0.9, min_support=2
    )
    return (
        rewritten.groupBy(
            authority_expr(F.col("url_canonical")).alias("host")
        )
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.countDistinct("url").alias("n_spellings"),
            F.countDistinct("url_canonical").alias("n_canonical"),
        )
        .withColumn(
            "aliases_removed", F.col("n_spellings") - F.col("n_canonical")
        )
        .orderBy("host")
    )


_DUST_CTES = """
WITH log AS (
  SELECT
    CASE WHEN o_orderkey % 11 = 0 THEN
      'https://h' || CAST(o_custkey % 3 AS VARCHAR)
        || '.example.com/list?page=' || CAST(o_orderkey % 4 AS VARCHAR)
    ELSE
      CASE WHEN o_orderkey % 5 = 4
        THEN 'https://www.shop.example.com/item/p'
        ELSE 'https://shop.example.com/item/p' END
      || CAST(o_orderkey % 199 AS VARCHAR)
      || CASE WHEN o_orderkey % 5 = 3 THEN '/' ELSE '' END
      || '?id=' || CAST(o_orderkey % 199 AS VARCHAR)
      || CASE WHEN o_orderkey % 5 = 1
           THEN '&sid=' || CAST(o_orderkey % 97 AS VARCHAR) ELSE '' END
      || CASE WHEN o_orderkey % 5 = 2 THEN '&utm=x' ELSE '' END
    END AS url,
    CASE WHEN o_orderkey % 11 = 0 THEN
      CASE WHEN o_custkey % 3 = 0
        THEN 'lp0-' || CAST(o_orderkey % 4 AS VARCHAR)
        ELSE 'lp' || CAST(o_custkey % 3 AS VARCHAR) END
    ELSE 'fp' || CAST(o_orderkey % 199 AS VARCHAR) END AS content_fp
  FROM orders
), base AS (
  SELECT
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
      AS path,
    list_sort(list_filter(
      string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
      x -> x <> '')) AS params,
    content_fp AS fp
  FROM log
  WHERE regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) <> ''
), pnames AS (
  SELECT pname, count(*) AS cnt FROM (
    SELECT unnest(list_distinct(
      list_transform(params, x -> split_part(x, '=', 1)))) AS pname
    FROM base
  ) GROUP BY pname ORDER BY cnt DESC, pname ASC LIMIT 100
), rules AS (
  SELECT 'strip_param:' || pname AS rule, pname AS arg FROM pnames
  UNION ALL SELECT 'trailing_slash', NULL
  UNION ALL SELECT 'strip_www', NULL
), keyed AS (
  SELECT r.rule,
    (CASE WHEN r.rule = 'strip_www'
       THEN regexp_replace(b.host, '^www\\.', '') ELSE b.host END)
    || (CASE WHEN r.rule = 'trailing_slash'
       THEN regexp_replace(b.path, '/+$', '') ELSE b.path END)
    || (CASE WHEN r.rule LIKE 'strip_param:%' THEN
          CASE WHEN len(list_filter(b.params,
                 x -> split_part(x, '=', 1) <> r.arg)) > 0
            THEN '?' || array_to_string(list_filter(b.params,
                 x -> split_part(x, '=', 1) <> r.arg), '&')
            ELSE '' END
        ELSE
          CASE WHEN len(b.params) > 0
            THEN '?' || array_to_string(b.params, '&') ELSE '' END
        END) AS norm,
    b.host || b.path || (CASE WHEN len(b.params) > 0
      THEN '?' || array_to_string(b.params, '&') ELSE '' END) AS orig,
    b.fp
  FROM base b CROSS JOIN rules r
), groups AS (
  SELECT rule, norm,
    count(DISTINCT orig) AS n_originals,
    count(DISTINCT fp) AS n_fps
  FROM keyed GROUP BY rule, norm
), merged AS (
  SELECT * FROM groups WHERE n_originals > 1
), out AS (
  SELECT rule,
    count(*) AS n_groups,
    CAST(sum(CASE WHEN n_fps = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS support_groups,
    CAST(sum(CASE WHEN n_fps = 1 THEN 0 ELSE 1 END) AS BIGINT)
      AS refuted_groups,
    CAST(sum(CASE WHEN n_fps = 1 THEN n_originals - 1 ELSE 0 END) AS BIGINT)
      AS aliases_collapsed
  FROM merged GROUP BY rule
), scored AS (
  SELECT rule, n_groups, support_groups, refuted_groups, aliases_collapsed,
    round(CAST(support_groups AS DOUBLE)
      / (support_groups + refuted_groups), 6) AS prec
  FROM out
  WHERE support_groups >= 2
)"""

_DUST_SQL = _DUST_CTES + """
SELECT rule, n_groups, support_groups, refuted_groups, aliases_collapsed,
  prec AS "precision"
FROM scored
ORDER BY prec DESC, aliases_collapsed DESC, rule ASC
"""

_DUST_CANON_SQL = _DUST_CTES + """
, sel AS (
  SELECT rule FROM scored WHERE prec >= 0.9 AND support_groups >= 2
), pol AS (
  SELECT
    coalesce((SELECT list(split_part(rule, ':', 2)
                          ORDER BY split_part(rule, ':', 2))
              FROM sel WHERE rule LIKE 'strip_param:%'), []) AS strip,
    EXISTS (SELECT 1 FROM sel WHERE rule = 'strip_www') AS www,
    EXISTS (SELECT 1 FROM sel WHERE rule = 'trailing_slash') AS slash
), parsed AS (
  SELECT url,
    regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) AS scheme,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1)
      AS path,
    list_sort(list_filter(
      string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
      x -> x <> '')) AS params
  FROM log
), rewritten AS (
  SELECT p.url,
    CASE WHEN p.host = '' THEN p.url ELSE
      p.scheme || '://'
      || (CASE WHEN pol.www
            THEN regexp_replace(p.host, '^www\\.', '') ELSE p.host END)
      || (CASE WHEN pol.slash
            THEN regexp_replace(p.path, '/+$', '') ELSE p.path END)
      || (CASE WHEN len(list_filter(p.params,
              x -> NOT list_contains(pol.strip, split_part(x, '=', 1)))) > 0
            THEN '?' || array_to_string(list_filter(p.params,
              x -> NOT list_contains(pol.strip, split_part(x, '=', 1))), '&')
            ELSE '' END)
    END AS url_canonical
  FROM parsed p CROSS JOIN pol
)
SELECT
  regexp_extract(url_canonical,
    '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1) AS host,
  count(*) AS n_fetches,
  count(DISTINCT url) AS n_spellings,
  count(DISTINCT url_canonical) AS n_canonical,
  count(DISTINCT url) - count(DISTINCT url_canonical) AS aliases_removed
FROM rewritten
GROUP BY 1
ORDER BY host
"""


def redirect_resolution_q(spark, sf_dir):
    """Redirect-chain resolution (pointer doubling, frontier/redirects.py)
    over a planted functional graph from orders: node n = o_orderkey %
    500; blocks of 50 chain downward to a terminal (n % 50 == 0), so hop
    counts span 1..49 — chains longer than max_hops=32 terminate but are
    cap-cut (RFC 9110 §15.4); nodes 100..104 form a 5-cycle that
    103/.../149 feed into (never resolved). ceil(log2(32)) = 5 self-join
    rounds resolve every chain; the oracle is a recursive CTE walking
    one hop at a time under the same cap."""
    from cord19_crawler_spark.frontier.redirects import resolve_redirects

    o = _t(spark, sf_dir, "orders", spread=False)
    n = F.col("o_orderkey") % 500
    dst_n = (
        F.when((n >= 100) & (n <= 104), F.lit(100) + ((n - 99) % 5))
        .when(n % 50 == 0, F.lit(None).cast("long"))
        .otherwise(n - 1)
    )
    edges = o.select(
        F.concat(F.lit("https://r.example.com/u"), n.cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("https://r.example.com/u"), dst_n.cast("string")
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return resolve_redirects(edges, max_hops=32).orderBy("src")


_REDIRECTS_SQL = """
WITH RECURSIVE e AS (
  SELECT
    'https://r.example.com/u' || CAST(o_orderkey % 500 AS VARCHAR) AS src,
    'https://r.example.com/u' || CAST(
      CASE WHEN o_orderkey % 500 BETWEEN 100 AND 104
             THEN 100 + ((o_orderkey % 500) - 99) % 5
           WHEN o_orderkey % 500 % 50 = 0 THEN NULL
           ELSE o_orderkey % 500 - 1 END AS VARCHAR) AS dst
  FROM orders
), fn AS (
  SELECT src, min(dst) AS dst FROM e WHERE dst IS NOT NULL GROUP BY src
), walk AS (
  SELECT src, dst AS cur, 1 AS hops FROM fn
  UNION ALL
  SELECT w.src, f.dst, w.hops + 1
  FROM walk w JOIN fn f ON w.cur = f.src
  WHERE w.hops <= 32
), res AS (
  SELECT w.src, w.cur, w.hops
  FROM walk w LEFT JOIN fn f ON w.cur = f.src
  WHERE f.src IS NULL AND w.hops <= 32
)
SELECT f.src, r.cur AS final_url, CAST(r.hops AS INT) AS hops,
  r.src IS NOT NULL AS resolved
FROM fn f LEFT JOIN res r ON f.src = r.src
ORDER BY f.src
"""


def crawl_diff_summary_q(spark, sf_dir):
    """Incremental-crawl snapshot diff: two synthetic crawl snapshots from
    orders (old = o_orderkey % 4 != 0, new = % 4 != 1; digest = md5 of
    priority#orderkey, mutated on % 5 == 0, NULL on % 11 == 0 in both — exercising
    the null-safe 'unchanged' — and NULLed only in new on % 13 == 0 —
    a changed-to-null edge), classified added/removed/changed/unchanged
    by ONE full-outer join and rolled up per host. The oracle replays the
    join and every classification rule in DuckDB."""
    from cord19_crawler_spark.frontier.diff import (
        crawl_diff,
        crawl_diff_summary,
    )

    o = _t(spark, sf_dir, "orders", spread=False)
    url = F.concat(
        F.lit("https://h"),
        (F.col("o_custkey") % 15).cast("string"),
        F.lit(".com/o/"),
        F.col("o_orderkey").cast("string"),
    )
    k = F.col("o_orderkey")
    _cm = F.concat(
        F.col("o_orderpriority"), F.lit("#"), k.cast("string")
    )
    old = o.filter(k % 4 != 0).select(
        url.alias("url"),
        F.when(k % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.md5(_cm))
        .alias("digest"),
    )
    new = o.filter(k % 4 != 1).select(
        url.alias("url"),
        F.when(k % 13 == 0, F.lit(None).cast("string"))
        .when(k % 11 == 0, F.lit(None).cast("string"))
        .when(k % 5 == 0, F.md5(F.concat(_cm, F.lit("v2"))))
        .otherwise(F.md5(_cm))
        .alias("digest"),
    )
    return crawl_diff_summary(crawl_diff(old, new))


_CRAWL_DIFF_SQL = """
WITH base AS (
  SELECT o_orderkey AS k,
    'https://h' || CAST(o_custkey % 15 AS VARCHAR) || '.com/o/'
      || CAST(o_orderkey AS VARCHAR) AS url,
    o_orderpriority || '#' || CAST(o_orderkey AS VARCHAR) AS cm
  FROM orders
), old AS (
  SELECT url,
    CASE WHEN k % 11 = 0 THEN NULL ELSE md5(cm) END AS old_digest
  FROM base WHERE k % 4 <> 0
), new AS (
  SELECT url,
    CASE WHEN k % 13 = 0 THEN NULL
         WHEN k % 11 = 0 THEN NULL
         WHEN k % 5 = 0 THEN md5(cm || 'v2')
         ELSE md5(cm) END AS new_digest
  FROM base WHERE k % 4 <> 1
), j AS (
  SELECT coalesce(o.url, n.url) AS url,
    CASE WHEN o.url IS NULL THEN 'added'
         WHEN n.url IS NULL THEN 'removed'
         WHEN o.old_digest IS NOT DISTINCT FROM n.new_digest
           THEN 'unchanged'
         ELSE 'changed' END AS status
  FROM old o FULL OUTER JOIN new n ON o.url = n.url
)
SELECT regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)
    AS host,
  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
    AS added,
  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT)
    AS removed,
  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
    AS changed,
  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
    AS unchanged,
  count(*) AS n_urls
FROM j GROUP BY 1
"""


def document_chunks_q(spark, sf_dir):
    """Fixed-token training-chunk windowing (HF return_overflowing_tokens
    semantics): 40-token chunks with 8-token overlap (stride 32); trailing
    starts whose tokens are fully contained in the previous chunk are
    dropped. Pure per-row Catalyst (sequence → filter → slice →
    posexplode) — no UDF, no shuffle; rows are produced on the scan."""
    from cord19_crawler_spark.operators.traindata import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, max_tokens=40, overlap=8)


_DOCUMENT_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), s AS (
  SELECT doc_id, toks, unnest(list_filter(
      generate_series(0, len(toks) - 1, 32),
      s -> s = 0 OR s < len(toks) - 8)) AS start_tok
  FROM t WHERE len(toks) > 0
), r AS (
  SELECT doc_id, start_tok,
    row_number() OVER (PARTITION BY doc_id ORDER BY start_tok) - 1
      AS chunk_id,
    toks[start_tok + 1 : start_tok + 40] AS w
  FROM s
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(start_tok AS BIGINT) AS start_tok,
  CAST(len(w) AS BIGINT) AS n_tokens,
  array_to_string(w, ' ') AS chunk_text
FROM r
"""


def dedup_substring_removal_q(spark, sf_dir):
    """The full ExactSubstr pipeline end-to-end (Lee et al. 2022): detect
    duplicated 6-token runs → merge to maximal spans → CUT them from the
    token stream. One row per document with the surviving text; docs that
    are pure boilerplate come back empty, untouched docs pass through
    n_removed=0. The span side (only duplicated docs) is rolled up and
    broadcast; the cut is a Catalyst higher-order filter on the corpus
    scan — no UDF, no corpus shuffle."""
    from cord19_crawler_spark.operators.dedup import (
        apply_remove_spans,
        duplicate_substring_spans,
    )

    d = _t(spark, sf_dir, "documents")
    spans = duplicate_substring_spans(d, k=6, min_count=2)
    return apply_remove_spans(d, spans)


_SUBSTRING_REMOVAL_SQL = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), p AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 5),
    i -> {'p0': i - 1, 'gram': array_to_string(toks[i:i+5], ' ')})) AS s
  FROM t WHERE len(toks) >= 6
), f AS (
  SELECT doc_id, s.p0 AS p0, s.gram AS gram FROM p
), dup AS (
  SELECT gram FROM f GROUP BY gram HAVING count(*) >= 2
), h AS (
  SELECT doc_id, p0 FROM f SEMI JOIN dup USING (gram)
), w AS (
  SELECT doc_id, p0,
    lag(p0) OVER (PARTITION BY doc_id ORDER BY p0) AS prev
  FROM h
), isl AS (
  SELECT doc_id, p0,
    sum(CASE WHEN prev IS NULL OR p0 > prev + 6 THEN 1 ELSE 0 END)
      OVER (PARTITION BY doc_id ORDER BY p0) AS island
  FROM w
), spans AS (
  SELECT doc_id, min(p0) AS start_tok, max(p0) + 6 AS end_tok
  FROM isl GROUP BY doc_id, island
), pos AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
    i -> {'i': i - 1, 't': toks[i]})) AS s
  FROM t
), flat AS (
  SELECT doc_id, s.i AS i, s.t AS tok FROM pos
), keep AS (
  SELECT doc_id, i, tok FROM flat fl
  WHERE NOT EXISTS (
    SELECT 1 FROM spans sp
    WHERE sp.doc_id = fl.doc_id
      AND fl.i >= sp.start_tok AND fl.i < sp.end_tok)
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
    string_agg(tok, ' ' ORDER BY i) AS clean
  FROM keep GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
  CAST(len(t.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
  coalesce(agg.clean, '') AS clean_text
FROM t LEFT JOIN agg USING (doc_id)
"""


def dsir_importance_sample_q(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): treat source 'src0'
    as the high-quality target domain, score every other document's
    hashed-bigram distribution against it (Laplace-smoothed bag models
    over 10,000 md5-bucketed features), and take the top-100 by the
    deterministic Gumbel key — i.e. an actual importance-weighted sample,
    reproducible because the uniform comes from the engine-wide Knuth
    hash. Plan: one bucket-count aggregate (B-row partials), the
    log-ratio table collapsed to ONE broadcast map row, scoring as a
    map-side aggregate() HOF — the raw corpus is never shuffled; the
    top-100 is TakeOrderedAndProject."""
    from cord19_crawler_spark.operators.traindata import dsir_importance_weights

    d = _t(spark, sf_dir, "documents")
    scored = dsir_importance_weights(
        d, F.col("source") == "src0", n=2, num_buckets=10_000
    )
    return (
        scored.filter(F.col("n_feats") > 0)  # oracle's gram join drops empty docs
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(100)
    )


_DSIR_SQL = """
WITH t AS (
  SELECT doc_id, source,
    regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), g AS (
  SELECT doc_id, source,
    unnest(list_transform(generate_series(1, len(toks) - 1),
      i -> toks[i] || ' ' || toks[i+1])) AS gram
  FROM t WHERE len(toks) >= 2
), b AS (
  SELECT doc_id, source,
    CAST(('0x' || substr(md5(gram), 1, 14)) AS BIGINT) % 10000 AS bucket
  FROM g
), cnt AS (
  SELECT bucket,
    count(*) FILTER (WHERE source = 'src0') AS tc,
    count(*) FILTER (WHERE source <> 'src0') AS rc
  FROM b GROUP BY bucket
), tot AS (
  SELECT sum(tc) AS tt, sum(rc) AS rt FROM cnt
), lr AS (
  SELECT bucket,
    ln((tc + 1.0) / (tot.tt + 10000)) - ln((rc + 1.0) / (tot.rt + 10000))
      AS lr
  FROM cnt, tot
), score AS (
  SELECT b.doc_id, count(*) AS n_feats, round(sum(lr.lr), 6) AS log_w
  FROM b JOIN lr USING (bucket)
  WHERE b.source <> 'src0'
  GROUP BY b.doc_id
), keyed AS (
  SELECT doc_id, n_feats, log_w,
    round(log_w - ln(-ln(((doc_id * 2654435761) % 4294967296 + 0.5)
                         / 4294967296)), 6) AS sample_key
  FROM score
)
SELECT doc_id, n_feats, log_w, sample_key
FROM keyed ORDER BY sample_key DESC, doc_id ASC LIMIT 100
"""


def dedup_paragraphs_q(spark, sf_dir):
    """Paragraph-level exact dedup (RefinedWeb/Dolma paragraph scrub, Penedo
    et al. 2023 / Soldaini et al. 2024): drop every paragraph whose
    normalized form appears >=2 times corpus-wide, keeping the globally
    first occurrence. The synthetic corpus is single-line, so the stopword
    'the' plays the paragraph boundary (real corpora pass newline runs —
    semantics are delimiter-independent). Plan: paragraphs posexplode off
    the scan, occurrence stats are ONE linear hash aggregate on the 56-bit
    md5 key (map-side partials), stats join back on the same narrow key
    (AQE-splittable), reassembly is one uniform groupBy(doc_id)."""
    from cord19_crawler_spark.operators.dedup import remove_duplicate_paragraphs

    d = _t(spark, sf_dir, "documents")
    return remove_duplicate_paragraphs(
        d, delim=r"\bthe\b", min_count=2, keep_first=True, join_sep="\n"
    )


_PARAGRAPH_DEDUP_SQL = r"""
WITH segs AS (
  SELECT doc_id, regexp_split_to_array(text, '\bthe\b') AS arr
  FROM documents
), p AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(arr)),
    i -> {'pos': i - 1, 'seg': arr[i]})) AS s
  FROM segs
), np AS (
  SELECT doc_id, s.pos AS pos, trim(s.seg) AS para,
    trim(regexp_replace(lower(s.seg), '\s+', ' ', 'g')) AS norm
  FROM p
), nz AS (
  SELECT * FROM np WHERE norm <> ''
), ranked AS (
  SELECT doc_id, pos, para,
    count(*) OVER (PARTITION BY norm) AS c,
    row_number() OVER (PARTITION BY norm ORDER BY doc_id, pos) AS rn
  FROM nz
), marked AS (
  SELECT doc_id, pos, para, (c < 2 OR rn = 1) AS keep FROM ranked
), agg AS (
  SELECT doc_id, count(*) AS n_paragraphs,
    sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_removed,
    coalesce(string_agg(CASE WHEN keep THEN para END, chr(10) ORDER BY pos),
             '') AS clean_text
  FROM marked GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(coalesce(agg.n_paragraphs, 0) AS BIGINT) AS n_paragraphs,
  CAST(coalesce(agg.n_removed, 0) AS BIGINT) AS n_removed,
  coalesce(agg.clean_text, '') AS clean_text
FROM documents d LEFT JOIN agg USING (doc_id)
"""


def lm_perplexity_q(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2020): train a bigram
    stupid-backoff LM (Brants et al. 2007) on the doc_id%10==0 slice and
    score every other document's perplexity under it — the head/middle/
    tail signal of the CCNet / LLaMA-1 recipes. min_bigram_count=2
    exercises the pruned-model backoff path. Plan: the LM trains on the
    SMALL slice (two map-side-partial aggregates), collapses to ONE
    broadcast row of score maps, and scoring is a map-side aggregate()
    HOF — the scored corpus is scanned once and never shuffled."""
    from cord19_crawler_spark.operators.traindata import lm_perplexity_scores

    d = _t(spark, sf_dir, "documents")
    return lm_perplexity_scores(
        d, F.col("doc_id") % 10 == 0, min_bigram_count=2, backoff=0.4
    )


_LM_PPL_SQL = r"""
WITH t AS (
  SELECT doc_id, doc_id % 10 = 0 AS is_train,
    regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM documents
), d AS (
  SELECT * FROM t WHERE len(toks) > 0
), uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(toks) AS w FROM d WHERE is_train) GROUP BY w
), tot AS (
  SELECT sum(c) AS n, count(*) AS v FROM uni
), uni_lp AS (
  SELECT w, ln((c + 1.0) / (tot.n + tot.v + 1)) AS lp FROM uni, tot
), bi AS (
  SELECT s.u AS u, s.w AS w, count(*) AS cuv
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
      i -> {'u': toks[i], 'w': toks[i + 1]})) AS s
    FROM d WHERE is_train
  ) GROUP BY s.u, s.w HAVING count(*) >= 2
), bi_lp AS (
  SELECT bi.u, bi.w, ln(bi.cuv * 1.0 / uni.c) AS lp
  FROM bi JOIN uni ON bi.u = uni.w
), term AS (
  SELECT doc_id, n_tokens,
    CASE WHEN s.i = 1 THEN coalesce(u1.lp, -ln(tot.n + tot.v + 1))
         ELSE coalesce(b.lp, ln(0.4) +
                       coalesce(u1.lp, -ln(tot.n + tot.v + 1))) END AS lp
  FROM (
    SELECT doc_id, len(toks) AS n_tokens,
      unnest(list_transform(generate_series(1, len(toks)), i ->
        {'i': i, 'cur': toks[i],
         'prev': CASE WHEN i = 1 THEN NULL ELSE toks[i - 1] END})) AS s
    FROM d WHERE NOT is_train
  )
  LEFT JOIN bi_lp b ON s.prev = b.u AND s.cur = b.w
  LEFT JOIN uni_lp u1 ON s.cur = u1.w
  CROSS JOIN tot
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(sum(lp), 6) AS log_prob,
  round(exp(-sum(lp) / n_tokens), 6) AS ppl
FROM term GROUP BY doc_id, n_tokens
"""


def gopher_quality_q(spark, sf_dir):
    """Gopher/MassiveText quality-rule signals (Rae et al. 2021 Table A1):
    the full within-document repetition family (dup lines, top 2-4-gram
    and dup 5-10-gram character fractions), symbol/bullet/ellipsis/
    stopword/alpha rules, and the composite keep flag. The synthetic
    corpus is single-line, so 'the' plays the line boundary (real corpora
    pass newline runs). min_words=30 / min_stop_hits=1 fit the synthetic
    doc-length and vocabulary; all other thresholds are the published
    ones. Plan: scalar signals are scan-side Catalyst HOFs (zero
    shuffle); repetition stats hash-aggregate exploded lines/grams keyed
    by doc_id — linear, no cross-document hot keys possible."""
    from cord19_crawler_spark.operators.gopher import gopher_quality_signals

    d = _t(spark, sf_dir, "documents")
    return gopher_quality_signals(
        d, line_delim=r"\\bthe\\b", min_words=30, min_stop_hits=1
    )


_GOPHER_SQL = r"""
WITH dw AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS w,
    list_filter(list_transform(regexp_split_to_array(text, '\bthe\b'),
      l -> regexp_replace(l, '^\s+|\s+$', '', 'g')), l -> l <> '') AS l,
    text AS t
  FROM documents
), base AS (
  SELECT doc_id, len(w) AS n_words,
    CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT)
      AS wc,
    (length(t) - length(replace(t, '#', '')))
      + (length(t) - length(replace(t, '...', ''))) / 3.0
      + (length(t) - length(replace(t, '…', ''))) AS sym,
    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
    len(list_distinct(list_filter(
      list_transform(w, x -> regexp_replace(lower(x), '[^a-z]', '', 'g')),
      s -> list_contains(
        ['the','be','to','of','and','that','have','with'], s)))) AS stops,
    len(l) AS n_lines,
    len(list_filter(l, x ->
      list_contains(['•','‣','▪','-','*'], x[1:1]))) AS bullet,
    len(list_filter(l, x -> x LIKE '%...' OR x LIKE '%…')) AS ell
  FROM dw
), la AS (
  SELECT doc_id, sum(c - 1) AS dup_l,
    sum((c - 1) * length(line)) AS dup_lc,
    sum(c * length(line)) AS tot_lc
  FROM (SELECT doc_id, line, count(*) AS c
        FROM (SELECT doc_id, unnest(l) AS line FROM dw)
        GROUP BY doc_id, line)
  GROUP BY doc_id
), lw AS (
  SELECT doc_id, list_transform(w, x -> lower(x)) AS lw, len(w) AS nw
  FROM dw
), gr AS (
  SELECT doc_id, n.n AS n,
    array_to_string(lw.lw[p.i : p.i + n.n - 1], ' ') AS g
  FROM lw, unnest(generate_series(2, 10)) AS n(n),
       unnest(generate_series(1, lw.nw - n.n + 1)) AS p(i)
), gx AS (
  SELECT doc_id, n, c, c * length(g) AS cov,
    max(c) OVER (PARTITION BY doc_id, n) AS m
  FROM (SELECT doc_id, n, g, count(*) AS c FROM gr GROUP BY doc_id, n, g)
), gn AS (
  SELECT doc_id, n, max(cov) FILTER (WHERE c = m) AS topcov,
    sum(CASE WHEN c >= 2 THEN cov ELSE 0 END) AS dupcov
  FROM gx GROUP BY doc_id, n
), gp AS (
  SELECT doc_id,
    max(topcov) FILTER (WHERE n = 2) AS top2,
    max(topcov) FILTER (WHERE n = 3) AS top3,
    max(topcov) FILTER (WHERE n = 4) AS top4,
    max(dupcov) FILTER (WHERE n = 5) AS dup5,
    max(dupcov) FILTER (WHERE n = 6) AS dup6,
    max(dupcov) FILTER (WHERE n = 7) AS dup7,
    max(dupcov) FILTER (WHERE n = 8) AS dup8,
    max(dupcov) FILTER (WHERE n = 9) AS dup9,
    max(dupcov) FILTER (WHERE n = 10) AS dup10
  FROM gn GROUP BY doc_id
), j AS (
  SELECT base.*,
    coalesce(la.dup_l, 0) AS dup_l, coalesce(la.dup_lc, 0) AS dup_lc,
    coalesce(la.tot_lc, 0) AS tot_lc,
    coalesce(gp.top2, 0) AS top2, coalesce(gp.top3, 0) AS top3,
    coalesce(gp.top4, 0) AS top4, coalesce(gp.dup5, 0) AS dup5,
    coalesce(gp.dup6, 0) AS dup6, coalesce(gp.dup7, 0) AS dup7,
    coalesce(gp.dup8, 0) AS dup8, coalesce(gp.dup9, 0) AS dup9,
    coalesce(gp.dup10, 0) AS dup10
  FROM base LEFT JOIN la USING (doc_id) LEFT JOIN gp USING (doc_id)
), f AS (
  SELECT doc_id, n_words,
    CASE WHEN n_words > 0 THEN round(wc * 1.0 / n_words, 6) ELSE 0.0 END
      AS mean_word_len,
    CASE WHEN n_words > 0 THEN round(sym / n_words, 6) ELSE 0.0 END
      AS symbol_word_ratio,
    CASE WHEN n_words > 0 THEN round(alpha * 1.0 / n_words, 6) ELSE 0.0 END
      AS frac_alpha_words,
    CAST(stops AS BIGINT) AS n_stop_hits, n_lines,
    CASE WHEN n_lines > 0 THEN round(bullet * 1.0 / n_lines, 6) ELSE 0.0 END
      AS frac_bullet_lines,
    CASE WHEN n_lines > 0 THEN round(ell * 1.0 / n_lines, 6) ELSE 0.0 END
      AS frac_ellipsis_lines,
    CASE WHEN n_lines > 0 THEN round(dup_l * 1.0 / n_lines, 6) ELSE 0.0 END
      AS dup_line_frac,
    CASE WHEN tot_lc > 0 THEN round(dup_lc * 1.0 / tot_lc, 6) ELSE 0.0 END
      AS dup_line_char_frac,
    CASE WHEN wc > 0 THEN round(top2 * 1.0 / wc, 6) ELSE 0.0 END
      AS top_2gram_char_frac,
    CASE WHEN wc > 0 THEN round(top3 * 1.0 / wc, 6) ELSE 0.0 END
      AS top_3gram_char_frac,
    CASE WHEN wc > 0 THEN round(top4 * 1.0 / wc, 6) ELSE 0.0 END
      AS top_4gram_char_frac,
    CASE WHEN wc > 0 THEN round(dup5 * 1.0 / wc, 6) ELSE 0.0 END
      AS dup_5gram_char_frac,
    CASE WHEN wc > 0 THEN round(dup6 * 1.0 / wc, 6) ELSE 0.0 END
      AS dup_6gram_char_frac,
    CASE WHEN wc > 0 THEN round(dup7 * 1.0 / wc, 6) ELSE 0.0 END
      AS dup_7gram_char_frac,
    CASE WHEN wc > 0 THEN round(dup8 * 1.0 / wc, 6) ELSE 0.0 END
      AS dup_8gram_char_frac,
    CASE WHEN wc > 0 THEN round(dup9 * 1.0 / wc, 6) ELSE 0.0 END
      AS dup_9gram_char_frac,
    CASE WHEN wc > 0 THEN round(dup10 * 1.0 / wc, 6) ELSE 0.0 END
      AS dup_10gram_char_frac
  FROM j
)
SELECT f.*,
  (n_words >= 30 AND n_words <= 100000
   AND mean_word_len >= 3 AND mean_word_len <= 10
   AND symbol_word_ratio <= 0.1
   AND frac_bullet_lines < 0.9 AND frac_ellipsis_lines < 0.3
   AND frac_alpha_words >= 0.8 AND n_stop_hits >= 1
   AND dup_line_frac <= 0.3 AND dup_line_char_frac <= 0.2
   AND top_2gram_char_frac <= 0.20 AND top_3gram_char_frac <= 0.18
   AND top_4gram_char_frac <= 0.16
   AND dup_5gram_char_frac <= 0.15 AND dup_6gram_char_frac <= 0.14
   AND dup_7gram_char_frac <= 0.13 AND dup_8gram_char_frac <= 0.12
   AND dup_9gram_char_frac <= 0.11 AND dup_10gram_char_frac <= 0.10)
  AS keep
FROM f
"""


def c4_filter_q(spark, sf_dir):
    """C4 cleaning rules (Raffel et al. 2020 §2.2): line-level terminal-
    punctuation + min-word + javascript rules, lorem/brace/badword
    document drops, and the >=3-sentence floor. The synthetic corpus has
    no punctuation or newlines, so the query deterministically injects
    sentence boundaries first (replace ' the ' -> '.\\n' — identical
    preprocessing in the oracle); the blocklist uses two corpus-vocabulary
    words so has_badword is non-trivial. Plan: one scan-side Catalyst
    projection — zero shuffle (plan-asserted in tests)."""
    from cord19_crawler_spark.operators.c4 import c4_quality_filter

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.expr(r"replace(text, ' the ', '.\n')")
    )
    return c4_quality_filter(
        d, badwords=["slow", "vector"], min_line_words=5, min_sentences=3
    )


_C4_SQL = r"""
WITH src AS (
  SELECT doc_id, replace(text, ' the ', '.' || chr(10)) AS text
  FROM documents
), d AS (
  SELECT doc_id,
    list_filter(list_transform(regexp_split_to_array(text, '\n+'),
      l -> regexp_replace(l, '^\s+|\s+$', '', 'g')), l -> l <> '') AS l,
    lower(text) AS lt
  FROM src
), k AS (
  SELECT doc_id, len(l) AS n_lines,
    list_filter(l, x ->
      list_contains(['.', '!', '?', '"'], x[-1:])
      AND len(list_filter(regexp_split_to_array(x, '\s+'),
                          w -> w <> '')) >= 5
      AND NOT regexp_matches(lower(x), '\bjavascript\b')) AS kept,
    lt
  FROM d
), c AS (
  SELECT doc_id, n_lines, CAST(len(kept) AS BIGINT) AS n_lines_kept,
    coalesce(array_to_string(kept, chr(10)), '') AS clean_text, lt
  FROM k
)
SELECT doc_id, n_lines, n_lines_kept,
  CAST(len(regexp_extract_all(clean_text, '[.!?]+')) AS BIGINT)
    AS n_sentences,
  contains(lt, 'lorem ipsum') AS has_lorem,
  contains(lt, '{') AS has_brace,
  regexp_matches(lt, '\b(slow|vector)\b') AS has_badword,
  (NOT contains(lt, 'lorem ipsum') AND NOT contains(lt, '{')
   AND NOT regexp_matches(lt, '\b(slow|vector)\b')
   AND len(regexp_extract_all(clean_text, '[.!?]+')) >= 3) AS keep,
  clean_text
FROM c
"""


def curation_pipeline_q(spark, sf_dir):
    """END-TO-END curation pipeline (plans/curation_pipeline.py): ONE
    composed plan chaining the verified curation stages — Gopher
    structural rules (min_words=30; stop rule disabled: the sentence
    injection consumes 'the') → C4 line cleaning (badword 'dup' ≈ 5% of
    docs — non-trivial, non-fatal) → exact-dedup keep-list (md5
    fingerprint, min-id keeper) → adaptive per-lang quality cut (p=0.3
    of quality_score) → 3000-token budget filled in (quality DESC,
    doc_id) order via the two-phase global running sum. One row per
    input doc with every stage flag + final kept. The oracle replays
    ALL five stages and the budget window in a single SQL statement, so
    the composition itself (not just the pieces) is value-checked."""
    from cord19_crawler_spark.plans.curation_pipeline import curation_report

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.expr(r"replace(text, ' the ', '.\n')")
    )
    return curation_report(
        d,
        quality_p=0.3,
        token_budget=3000,
        gopher_kwargs=dict(min_words=30, min_stop_hits=0),
        c4_kwargs=dict(badwords=["dup"], min_line_words=5, min_sentences=3),
    )


def _curation_pipeline_sql() -> str:
    stops = _stops_sql()
    return r"""
WITH src AS (
  SELECT doc_id, lang, replace(text, ' the ', '.' || chr(10)) AS text
  FROM documents
), base AS (
  SELECT doc_id, lang,
    CAST(CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
      AS n_tokens,
    md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
  FROM src
), q0 AS (
  SELECT doc_id, length(text) AS n,
    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
    regexp_extract_all(lower(text), '[a-z0-9]{2,}') AS toks
  FROM src
), qual AS (
  SELECT doc_id,
    round(0.4 * least(n / 500.0, 1.0)
      + 0.4 * (CASE WHEN n > 0 THEN alpha / CAST(n AS DOUBLE) ELSE 0.0 END)
      + 0.2 * (CASE WHEN len(toks) > 0 THEN
          len(list_filter(toks, t -> list_contains([__STOPS__], t)))
            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END), 6) AS quality
  FROM q0
), gdw AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), w -> w <> '') AS w,
    list_filter(list_transform(regexp_split_to_array(text, '\n+'),
      l -> regexp_replace(l, '^\s+|\s+$', '', 'g')), l -> l <> '') AS l,
    text AS t
  FROM src
), gbase AS (
  SELECT doc_id, len(w) AS n_words,
    CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT)
      AS wc,
    (length(t) - length(replace(t, '#', '')))
      + (length(t) - length(replace(t, '...', ''))) / 3.0
      + (length(t) - length(replace(t, '…', ''))) AS sym,
    len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS alpha,
    len(l) AS n_lines,
    len(list_filter(l, x ->
      list_contains(['•','‣','▪','-','*'], x[1:1]))) AS bullet,
    len(list_filter(l, x -> x LIKE '%...' OR x LIKE '%…')) AS ell
  FROM gdw
), gla AS (
  SELECT doc_id, sum(c - 1) AS dup_l,
    sum((c - 1) * length(line)) AS dup_lc,
    sum(c * length(line)) AS tot_lc
  FROM (SELECT doc_id, line, count(*) AS c
        FROM (SELECT doc_id, unnest(l) AS line FROM gdw)
        GROUP BY doc_id, line)
  GROUP BY doc_id
), glw AS (
  SELECT doc_id, list_transform(w, x -> lower(x)) AS lw, len(w) AS nw
  FROM gdw
), ggr AS (
  SELECT doc_id, n.n AS n,
    array_to_string(glw.lw[p.i : p.i + n.n - 1], ' ') AS g
  FROM glw, unnest(generate_series(2, 10)) AS n(n),
       unnest(generate_series(1, glw.nw - n.n + 1)) AS p(i)
), ggx AS (
  SELECT doc_id, n, c, c * length(g) AS cov,
    max(c) OVER (PARTITION BY doc_id, n) AS m
  FROM (SELECT doc_id, n, g, count(*) AS c FROM ggr GROUP BY doc_id, n, g)
), ggn AS (
  SELECT doc_id, n, max(cov) FILTER (WHERE c = m) AS topcov,
    sum(CASE WHEN c >= 2 THEN cov ELSE 0 END) AS dupcov
  FROM ggx GROUP BY doc_id, n
), ggp AS (
  SELECT doc_id,
    max(topcov) FILTER (WHERE n = 2) AS top2,
    max(topcov) FILTER (WHERE n = 3) AS top3,
    max(topcov) FILTER (WHERE n = 4) AS top4,
    max(dupcov) FILTER (WHERE n = 5) AS dup5,
    max(dupcov) FILTER (WHERE n = 6) AS dup6,
    max(dupcov) FILTER (WHERE n = 7) AS dup7,
    max(dupcov) FILTER (WHERE n = 8) AS dup8,
    max(dupcov) FILTER (WHERE n = 9) AS dup9,
    max(dupcov) FILTER (WHERE n = 10) AS dup10
  FROM ggn GROUP BY doc_id
), gj AS (
  SELECT gbase.*,
    coalesce(gla.dup_l, 0) AS dup_l, coalesce(gla.dup_lc, 0) AS dup_lc,
    coalesce(gla.tot_lc, 0) AS tot_lc,
    coalesce(ggp.top2, 0) AS top2, coalesce(ggp.top3, 0) AS top3,
    coalesce(ggp.top4, 0) AS top4, coalesce(ggp.dup5, 0) AS dup5,
    coalesce(ggp.dup6, 0) AS dup6, coalesce(ggp.dup7, 0) AS dup7,
    coalesce(ggp.dup8, 0) AS dup8, coalesce(ggp.dup9, 0) AS dup9,
    coalesce(ggp.dup10, 0) AS dup10
  FROM gbase LEFT JOIN gla USING (doc_id) LEFT JOIN ggp USING (doc_id)
), gopher AS (
  SELECT doc_id,
    (n_words >= 30 AND n_words <= 100000
     AND (CASE WHEN n_words > 0 THEN round(wc * 1.0 / n_words, 6)
          ELSE 0.0 END) >= 3
     AND (CASE WHEN n_words > 0 THEN round(wc * 1.0 / n_words, 6)
          ELSE 0.0 END) <= 10
     AND (CASE WHEN n_words > 0 THEN round(sym / n_words, 6)
          ELSE 0.0 END) <= 0.1
     AND (CASE WHEN n_lines > 0 THEN round(bullet * 1.0 / n_lines, 6)
          ELSE 0.0 END) < 0.9
     AND (CASE WHEN n_lines > 0 THEN round(ell * 1.0 / n_lines, 6)
          ELSE 0.0 END) < 0.3
     AND (CASE WHEN n_words > 0 THEN round(alpha * 1.0 / n_words, 6)
          ELSE 0.0 END) >= 0.8
     AND (CASE WHEN n_lines > 0 THEN round(dup_l * 1.0 / n_lines, 6)
          ELSE 0.0 END) <= 0.3
     AND (CASE WHEN tot_lc > 0 THEN round(dup_lc * 1.0 / tot_lc, 6)
          ELSE 0.0 END) <= 0.2
     AND (CASE WHEN wc > 0 THEN round(top2 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.20
     AND (CASE WHEN wc > 0 THEN round(top3 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.18
     AND (CASE WHEN wc > 0 THEN round(top4 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.16
     AND (CASE WHEN wc > 0 THEN round(dup5 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.15
     AND (CASE WHEN wc > 0 THEN round(dup6 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.14
     AND (CASE WHEN wc > 0 THEN round(dup7 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.13
     AND (CASE WHEN wc > 0 THEN round(dup8 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.12
     AND (CASE WHEN wc > 0 THEN round(dup9 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.11
     AND (CASE WHEN wc > 0 THEN round(dup10 * 1.0 / wc, 6) ELSE 0.0 END)
       <= 0.10) AS gopher_keep
  FROM gj
), c4d AS (
  SELECT doc_id,
    list_filter(list_transform(regexp_split_to_array(text, '\n+'),
      l -> regexp_replace(l, '^\s+|\s+$', '', 'g')), l -> l <> '') AS l,
    lower(text) AS lt
  FROM src
), c4k AS (
  SELECT doc_id,
    list_filter(l, x ->
      list_contains(['.', '!', '?', '"'], x[-1:])
      AND len(list_filter(regexp_split_to_array(x, '\s+'),
                          w -> w <> '')) >= 5
      AND NOT regexp_matches(lower(x), '\bjavascript\b')) AS kept,
    lt
  FROM c4d
), c4 AS (
  SELECT doc_id,
    (NOT contains(lt, 'lorem ipsum') AND NOT contains(lt, '{')
     AND NOT regexp_matches(lt, '\b(dup)\b')
     AND len(regexp_extract_all(
           coalesce(array_to_string(kept, chr(10)), ''), '[.!?]+')) >= 3)
      AS c4_keep
  FROM c4k
), keepers AS (
  SELECT fp, min(doc_id) AS keeper FROM base GROUP BY fp
), thr AS (
  SELECT b.lang, round(quantile_cont(q.quality, 0.3), 6) AS threshold
  FROM base b JOIN qual q USING (doc_id) GROUP BY b.lang
), rep AS (
  SELECT b.doc_id, b.lang, b.n_tokens, q.quality,
    g.gopher_keep, c.c4_keep,
    (b.doc_id = k.keeper) AS canonical,
    t.threshold,
    coalesce(q.quality >= t.threshold, false) AS quality_keep
  FROM base b
  JOIN qual q USING (doc_id)
  JOIN gopher g USING (doc_id)
  JOIN c4 c USING (doc_id)
  JOIN keepers k ON b.fp IS NOT DISTINCT FROM k.fp
  LEFT JOIN thr t ON b.lang IS NOT DISTINCT FROM t.lang
), ranked AS (
  SELECT doc_id,
    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS BIGINT)
      AS cum_tokens
  FROM rep
  WHERE gopher_keep AND c4_keep AND canonical AND quality_keep
)
SELECT r.doc_id, r.lang, r.n_tokens, r.quality, r.gopher_keep, r.c4_keep,
  r.canonical, r.threshold, r.quality_keep,
  rk.cum_tokens,
  coalesce(rk.cum_tokens <= 3000, false) AS in_budget,
  (r.gopher_keep AND r.c4_keep AND r.canonical AND r.quality_keep
   AND coalesce(rk.cum_tokens <= 3000, false)) AS kept
FROM rep r LEFT JOIN ranked rk USING (doc_id)
""".replace("__STOPS__", stops)


def ccnet_buckets_q(spark, sf_dir):
    """CCNet head/middle/tail bucketing (Wenzek et al. 2020 §4.4): rank
    the lm_perplexity scores ascending (ties by doc_id) and split into
    exact thirds — the LLaMA-1 recipe keeps head+middle. Ranking is the
    engine's two-phase global_row_number (range exchange + local rank,
    no single-reducer window); bucket = floor((rank-1)*3/total)."""
    from cord19_crawler_spark.operators.traindata import ccnet_ppl_buckets

    d = _t(spark, sf_dir, "documents")
    return ccnet_ppl_buckets(
        d, F.col("doc_id") % 10 == 0, min_bigram_count=2, backoff=0.4
    )


_CCNET_BUCKETS_SQL = (
    "WITH scored AS (" + _LM_PPL_SQL + "), ranked AS (\n"
    "  SELECT *, CAST(row_number() OVER (ORDER BY ppl, doc_id) AS BIGINT)\n"
    "    AS rank, count(*) OVER () AS _tot\n"
    "  FROM scored\n"
    ")\n"
    "SELECT doc_id, n_tokens, log_prob, ppl, rank,\n"
    "  (['head', 'middle', 'tail'])[\n"
    "    CAST(floor((rank - 1) * 3.0 / _tot) AS INT) + 1] AS bucket\n"
    "FROM ranked\n"
)


def stratified_sample_q(spark, sf_dir):
    """Exact-k deterministic per-stratum sample: the 7 docs per source
    with the smallest Knuth hash of doc_id (exact quotas — the
    domain-balanced counterpart of the Bernoulli hash sample). The
    row_number window compiles to a partial WindowGroupLimit before the
    exchange (map tasks forward <= k rows per group), so a hot stratum
    never sorts in one task; the oracle replays the hash order."""
    from cord19_crawler_spark.operators.traindata import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), 7, group_col="source"
    )


_STRATIFIED_SAMPLE_SQL = """\
WITH h AS (
  SELECT doc_id, source, (doc_id * 2654435761) % 4294967296 AS hk
  FROM documents
), r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
              AS BIGINT) AS sample_rank
  FROM h
)
SELECT doc_id, source, sample_rank FROM r WHERE sample_rank <= 7
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary at sf0.001."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational coverage
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_revenue_by_nation": q5_revenue_by_nation,
        "rollup_revenue": rollup_revenue,
        "pivot_qty_by_linestatus": pivot_qty_by_linestatus,
        "broadcast_dim_join": broadcast_dim_join,
        "anti_join_no_orders": anti_join_no_orders,
        "semi_join_big_spenders": semi_join_big_spenders,
        "window_topk_orders_per_customer": window_topk_orders_per_customer,
        "global_rank_suppliers": global_rank_suppliers,
        "minmax_per_nation": minmax_per_nation,
        "union_order_classes": union_order_classes,
        "split_explode_types": split_explode_types,
        "coalesce_fallback": coalesce_fallback,
        "events_hourly_rollup": events_hourly_rollup,
        "events_sessionize": events_sessionize,
        "events_session_window": events_session_window,
        "events_json_props": events_json_props,
        "events_range_join": events_range_join,
        "events_asof_join": events_asof_join,
        "events_asof_null_payload": events_asof_null_payload,
        "title_truncation": title_truncation,
        "mean_tf_per_word": mean_tf_per_word,
        "min_length_doc_filter": min_length_doc_filter,
        "running_total_per_customer": running_total_per_customer,
        # search-engine family
        "lexicon_first_encounter": lexicon_first_encounter,
        "forward_index_rows": forward_index_rows,
        "postings_tf": postings_tf,
        "word_stats": word_stats_query,
        "tfidf_multiword_search": tfidf_multiword_search,
        "tfidf_all_matches": tfidf_all_matches,
        "bm25_search_topk": bm25_search_topk,
        "bm25f_fielded_topk": bm25f_fielded_topk,
        "proximity_min_span": proximity_min_span_q,
        "zipf_fit": zipf_fit_q,
        "bm25_pruned_topk": bm25_pruned_topk,
        "lm_dirichlet_topk": lm_dirichlet_topk,
        "rm3_expansion": rm3_expansion_q,
        "rrf_fusion": rrf_fusion_q,
        "conjunctive_and_search": conjunctive_and_search,
        "champion_list_topk": champion_list_topk,
        "pmi_collocations": pmi_collocations_q,
        "tfidf_doc_keywords": tfidf_doc_keywords_q,
        "phrase_search_bigram": phrase_search_bigram,
        "spelling_correction": spelling_correction_q,
        "search_snippets": search_snippets,
        "delta_merged_search": delta_merged_search,
        "segment_compaction_plan": segment_compaction_plan_q,
        "autocomplete_top3": autocomplete_top3,
        "round_robin_barrel_head": round_robin_barrel_head,
        "doc_id_dense_mapping": doc_id_dense_mapping,
        "gap_encode_postings": gap_encode_postings,
        "elias_fano_postings": elias_fano_postings_q,
        "cms_heavy_hitters": cms_heavy_hitters_q,
        "hll_distinct_users": hll_distinct_users_q,
        "lemma_variant_expansion": lemma_variant_expansion,
        # frontier family
        "frontier_canonicalize": frontier_canonicalize,
        "frontier_indegree_priority": frontier_indegree_priority,
        "frontier_seen_antijoin": frontier_seen_antijoin,
        "frontier_per_host_topk": frontier_per_host_topk,
        "frontier_fetch_batch": frontier_fetch_batch,
        "hot_host_split_plan": hot_host_split_plan_q,
        "politeness_eligibility": politeness_eligibility_q,
        "politeness_wallclock": politeness_wallclock_q,
        "psl_registrable_domain": psl_registrable_domain_q,
        # training-data pipeline
        "dedup_exact_prefix": dedup_exact_prefix,
        "set_ops_vocab": set_ops_vocab,
        "dedup_minhash_signatures": dedup_minhash_signatures_q,
        "dedup_minhash_lsh_e2e": dedup_minhash_lsh_e2e,
        "minhash_estimate_error": minhash_error_q,
        "dedup_minhash_lsh_capped": dedup_minhash_lsh_capped,
        "dedup_embedding_cosine_capped": dedup_embedding_cosine_capped,
        "dedup_ngram_jaccard": dedup_ngram_jaccard_q,
        "dedup_simhash": dedup_simhash_q,
        "dedup_simhash_capped": dedup_simhash_capped,
        "dedup_embedding_cosine": dedup_embedding_cosine_q,
        "similarity_cosine_topk": similarity_cosine_topk,
        "hard_negatives_topk": hard_negatives_q,
        "ann_recall_at_k": ann_recall_q,
        "similarity_sign_buckets": similarity_sign_buckets,
        "embedding_random_projection": embedding_random_projection,
        "embedding_sq_rerank": embedding_sq_rerank,
        "pq_adc_search": pq_adc_search,
        "kmeans_assign": kmeans_assign,
        "text_token_stats": text_token_stats,
        "text_quality_scores": text_quality_scores,
        "text_fingerprints": text_fingerprints,
        "text_repetition_metrics": text_repetition_metrics_q,
        "gopher_quality_filters": gopher_quality_filters_q,
        "dup_ngram_coverage": dup_ngram_coverage_q,
        "pii_redaction": pii_redaction_q,
        "deterministic_hash_sample": deterministic_hash_sample_q,
        "token_budget": token_budget_q,
        "dedup_connected_components": dedup_connected_components_q,
        "benchmark_decontamination": benchmark_decontamination_q,
        "mixture_temperature_sample": mixture_temperature_sample_q,
        "sequence_packing": sequence_packing_q,
        "dedup_cluster_canonical": dedup_cluster_canonical_q,
        "dedup_substring_spans": dedup_substring_spans_q,
        "dedup_substring_removal": dedup_substring_removal_q,
        "dsir_importance_sample": dsir_importance_sample_q,
        "document_chunks": document_chunks_q,
        "dedup_paragraphs": dedup_paragraphs_q,
        "lm_perplexity": lm_perplexity_q,
        "ccnet_buckets": ccnet_buckets_q,
        "stratified_sample": stratified_sample_q,
        "gopher_quality": gopher_quality_q,
        "c4_filter": c4_filter_q,
        "curation_pipeline": curation_pipeline_q,
        "link_pagerank": link_pagerank_q,
        "link_hits": link_hits_q,
        "link_salsa": link_salsa_q,
        "link_hyperball": link_hyperball_q,
        "link_reciprocity": link_reciprocity_q,
        "link_opic": link_opic_q,
        "link_triangles": link_triangles_q,
        "link_clustering_coeff": link_clustering_q,
        "link_kcore": link_kcore_q,
        "link_cocitation": link_cocitation_q,
        "link_coupling_capped": link_coupling_capped_q,
        "link_trustrank": link_trustrank_q,
        "link_spam_mass": link_spam_mass_q,
        "crawl_depth_bfs": crawl_depth_bfs_q,
        "anchor_text_topk": anchor_text_topk_q,
        "recrawl_staleness": recrawl_staleness_q,
        "bpe_pair_counts": bpe_pair_counts_q,
        "bpe_encode_words": bpe_encode_words_q,
        "bpe_encode_corpus": bpe_encode_corpus_q,
        "sitemap_parse": sitemap_parse_q,
        "feed_parse": feed_parse_q,
        "mirror_hosts": mirror_hosts_q,
        "rendezvous_shards": rendezvous_shards_q,
        "fetch_retry_schedule": fetch_retry_schedule_q,
        "soft404_detection": soft404_detection_q,
        "host_throttle": host_throttle_q,
        "revalidation_plan": revalidation_plan_q,
        "http_cache_plan": http_cache_plan_q,
        "html_canonical_meta": html_canonical_meta_q,
        "html_outlinks": html_outlinks_q,
        "domain_link_graph": domain_link_graph_q,
        "discovery_pipeline": discovery_pipeline_q,
        "percent_normalize": percent_normalize_q,
        "text_blocks": text_blocks_q,
        "robots_fetch_policy": robots_fetch_policy_q,
        "training_order_shards": training_order_shards_q,
        "vocab_oov_rate": vocab_oov_rate_q,
        "trap_url_shapes": trap_url_shapes_q,
        "dust_alias_rules": dust_alias_rules_q,
        "dust_canonicalize": dust_canonicalize_q,
        "redirect_resolution": redirect_resolution_q,
        "crawl_diff_summary": crawl_diff_summary_q,
        "semdedup_keep": semdedup_keep_q,
        "length_quantiles": length_quantiles_q,
        "winnowing_fingerprints": winnowing_fingerprints_q,
        "host_budget_apportionment": host_budget_apportionment_q,
        "cdx_surt_index": cdx_surt_index_q,
        "robots_sitemap_discovery": robots_sitemap_discovery_q,
        "adaptive_quality_cut": adaptive_quality_cut_q,
        "frontier_robots_filter": frontier_robots_filter,
        "robots_wildcard_rules": robots_wildcard_rules_q,
        # Arrow-UDF / sequential-policy operators with exact oracle mirrors
        "barrel_assignment_greedy": barrel_assignment_greedy,
        "barrel_stats": barrel_stats_q,
        "doc_to_barrels": doc_to_barrels_q,
        "multimodal_features": multimodal_features,
        "pos_distribution": pos_distribution_q,
        "lemma_pos_counts": lemma_pos_counts,
        "backward_index_rows": backward_index_rows,
        "index_stats": index_stats_q,
        # NOTE: semantic_expansion (Word2Vec, iterative ML — not
        # SQL-expressible) lives in tests/test_semantic_delta.py, not here,
        # so the driver table carries no permanent rows-only row.
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": _Q1_SQL,
        "q3_top_orders": _Q3_SQL,
        "q5_revenue_by_nation": _Q5_SQL,
        "rollup_revenue": _ROLLUP_SQL,
        "pivot_qty_by_linestatus": _PIVOT_SQL,
        "broadcast_dim_join": _BROADCAST_SQL,
        "anti_join_no_orders": _ANTI_SQL,
        "semi_join_big_spenders": _SEMI_SQL,
        "window_topk_orders_per_customer": _WTOPK_SQL,
        "global_rank_suppliers": _GRANK_SQL,
        "minmax_per_nation": _MINMAX_SQL,
        "union_order_classes": _UNION_SQL,
        "split_explode_types": _SPLIT_SQL,
        "coalesce_fallback": _COALESCE_SQL,
        "events_hourly_rollup": _EVENTS_HOURLY_SQL,
        "events_sessionize": _SESSION_SQL,
        "events_session_window": _SESSION_WINDOW_SQL,
        "events_json_props": _EVENTS_JSON_SQL,
        "events_range_join": _RANGE_JOIN_SQL,
        "events_asof_join": _ASOF_SQL,
        "events_asof_null_payload": _ASOF_NULL_SQL,
        "title_truncation": _TITLE_TRUNC_SQL,
        "mean_tf_per_word": _MEAN_TF_SQL,
        "min_length_doc_filter": _MIN_LEN_SQL,
        "running_total_per_customer": _RUNNING_SQL,
        "lexicon_first_encounter": _LEXICON_SQL,
        "forward_index_rows": _FWD_INDEX_SQL,
        "postings_tf": _POSTINGS_SQL,
        "word_stats": _WORD_STATS_SQL,
        "tfidf_multiword_search": _TFIDF_SQL,
        "tfidf_all_matches": _TFIDF_ALL_SQL,
        "bm25_search_topk": _BM25_SQL,
        "bm25f_fielded_topk": _BM25F_SQL,
        "proximity_min_span": _prox_sql(),
        "zipf_fit": _ZIPF_SQL,
        "bm25_pruned_topk": _BM25_SQL,
        "lm_dirichlet_topk": _LM_DIRICHLET_SQL,
        "rm3_expansion": _RM3_SQL,
        "rrf_fusion": _RRF_SQL,
        "conjunctive_and_search": _CONJUNCTIVE_SQL,
        "champion_list_topk": _CHAMPION_SQL,
        "pmi_collocations": _PMI_SQL,
        "tfidf_doc_keywords": _DOC_KEYWORDS_SQL,
        "phrase_search_bigram": _PHRASE_SQL,
        "spelling_correction": _SPELL_SQL,
        "search_snippets": _SNIPPET_SQL,
        "delta_merged_search": _delta_search_sql(),
        "segment_compaction_plan": _COMPACTION_SQL,
        "autocomplete_top3": _AUTOCOMPLETE_SQL,
        "round_robin_barrel_head": _RR_BARREL_SQL,
        "doc_id_dense_mapping": _DOCMAP_SQL,
        "gap_encode_postings": _GAP_SQL,
        "elias_fano_postings": _EF_SQL,
        "cms_heavy_hitters": _CMS_SQL,
        "hll_distinct_users": _hll_sql(),
        "lemma_variant_expansion": _lemma_expand_sql(),
        "frontier_canonicalize": _CANON_SQL,
        "frontier_indegree_priority": _INDEGREE_SQL,
        "frontier_seen_antijoin": _SEEN_ANTI_SQL,
        "frontier_per_host_topk": _HOST_TOPK_SQL,
        "frontier_fetch_batch": _FETCH_BATCH_SQL,
        "hot_host_split_plan": _HOT_SPLIT_SQL,
        "politeness_eligibility": _POLITE_SQL,
        "politeness_wallclock": _POLITE_WALLCLOCK_SQL,
        "psl_registrable_domain": _PSL_DOMAIN_SQL,
        "dedup_exact_prefix": _DEDUP_EXACT_SQL,
        "set_ops_vocab": _SET_OPS_SQL,
        "dedup_minhash_signatures": _minhash_sql(),
        "dedup_minhash_lsh_e2e": _minhash_e2e_sql(),
        "minhash_estimate_error": _minhash_error_sql(),
        "dedup_minhash_lsh_capped": _minhash_e2e_sql(max_bucket_df=5),
        "dedup_embedding_cosine_capped": _EMB_DEDUP_CAPPED_SQL,
        "dedup_ngram_jaccard": _NGRAM_JACCARD_SQL,
        "dedup_simhash": _simhash_sql(),
        "dedup_simhash_capped": _simhash_capped_sql(),
        "dedup_embedding_cosine": _EMB_DEDUP_SQL,
        "similarity_cosine_topk": _COSINE_SQL,
        "hard_negatives_topk": _HARD_NEG_SQL,
        "ann_recall_at_k": _ann_recall_sql(),
        "similarity_sign_buckets": _SIGN_BUCKET_SQL,
        "embedding_random_projection": _RP_SQL,
        "kmeans_assign": _kmeans_sql(),
        "embedding_sq_rerank": _SQ_RERANK_SQL,
        "pq_adc_search": _PQ_ADC_SQL,
        "text_token_stats": _TOKEN_STATS_SQL,
        "text_quality_scores": _text_quality_sql(),
        "text_repetition_metrics": _REPETITION_SQL,
        "gopher_quality_filters": _gopher_sql(),
        "dup_ngram_coverage": _DUP_COVERAGE_SQL,
        "pii_redaction": _PII_SQL,
        "deterministic_hash_sample": _HASH_SAMPLE_SQL,
        "token_budget": _token_budget_sql(),
        "dedup_connected_components": _CONNECTED_COMPONENTS_SQL,
        "benchmark_decontamination": _DECONTAMINATION_SQL,
        "mixture_temperature_sample": _MIXTURE_SAMPLE_SQL,
        "sequence_packing": _SEQUENCE_PACKING_SQL,
        "dedup_cluster_canonical": _dedup_cluster_canonical_sql(),
        "dedup_substring_spans": _SUBSTRING_SPANS_SQL,
        "dedup_substring_removal": _SUBSTRING_REMOVAL_SQL,
        "dsir_importance_sample": _DSIR_SQL,
        "document_chunks": _DOCUMENT_CHUNKS_SQL,
        "dedup_paragraphs": _PARAGRAPH_DEDUP_SQL,
        "lm_perplexity": _LM_PPL_SQL,
        "ccnet_buckets": _CCNET_BUCKETS_SQL,
        "stratified_sample": _STRATIFIED_SAMPLE_SQL,
        "gopher_quality": _GOPHER_SQL,
        "c4_filter": _C4_SQL,
        "curation_pipeline": _curation_pipeline_sql(),
        "link_pagerank": _pagerank_sql(),
        "link_hits": _hits_sql(),
        "link_salsa": _salsa_sql(),
        "link_hyperball": _hyperball_sql(),
        "link_reciprocity": _RECIPROCITY_SQL,
        "link_opic": _opic_sql(),
        "link_triangles": _TRIANGLES_SQL,
        "link_clustering_coeff": _CLUSTERING_SQL,
        "link_kcore": _kcore_sql(),
        "link_cocitation": _COCITATION_SQL,
        "link_coupling_capped": _COUPLING_CAPPED_SQL,
        "link_trustrank": _trustrank_sql(),
        "link_spam_mass": _spam_mass_sql(),
        "crawl_depth_bfs": _BFS_SQL,
        "anchor_text_topk": _ANCHOR_TEXT_SQL,
        "recrawl_staleness": _RECRAWL_SQL,
        "bpe_pair_counts": _BPE_PAIRS_SQL,
        "bpe_encode_words": _bpe_encode_sql(),
        "bpe_encode_corpus": _bpe_encode_corpus_sql(),
        "sitemap_parse": _SITEMAP_PARSE_SQL,
        "feed_parse": _FEED_PARSE_SQL,
        "mirror_hosts": _MIRROR_HOSTS_SQL,
        "rendezvous_shards": _RENDEZVOUS_SQL,
        "fetch_retry_schedule": _RETRY_SQL,
        "soft404_detection": _SOFT404_SQL,
        "host_throttle": _HOST_THROTTLE_SQL,
        "revalidation_plan": _REVALIDATE_SQL,
        "http_cache_plan": _HTTP_CACHE_SQL,
        "html_canonical_meta": _HTML_CANONICAL_SQL,
        "html_outlinks": _HTML_OUTLINKS_SQL,
        "domain_link_graph": _DOMAIN_GRAPH_SQL,
        "discovery_pipeline": _DISCOVERY_SQL,
        "percent_normalize": _PERCENT_NORM_SQL,
        "text_blocks": _TEXT_BLOCKS_SQL,
        "robots_fetch_policy": _ROBOTS_POLICY_SQL,
        "training_order_shards": _SHUFFLE_SHARDS_SQL,
        "vocab_oov_rate": _VOCAB_OOV_SQL,
        "trap_url_shapes": _TRAP_SHAPES_SQL,
        "dust_alias_rules": _DUST_SQL,
        "dust_canonicalize": _DUST_CANON_SQL,
        "redirect_resolution": _REDIRECTS_SQL,
        "crawl_diff_summary": _CRAWL_DIFF_SQL,
        "semdedup_keep": _SEMDEDUP_SQL,
        "length_quantiles": _LENGTH_QUANTILES_SQL,
        "winnowing_fingerprints": _WINNOWING_SQL,
        "host_budget_apportionment": _HOST_BUDGET_SQL,
        "cdx_surt_index": _CDX_SURT_SQL,
        "robots_sitemap_discovery": _ROBOTS_SITEMAP_SQL,
        "adaptive_quality_cut": _ADAPTIVE_CUT_SQL,
        "text_fingerprints": _FINGERPRINT_SQL,
        "frontier_robots_filter": _ROBOTS_SQL,
        "robots_wildcard_rules": _ROBOTS_WILDCARD_SQL,
        "barrel_assignment_greedy": _BARREL_GREEDY_SQL,
        "barrel_stats": _BARREL_STATS_SQL,
        "doc_to_barrels": _DOC_TO_BARRELS_SQL,
        "multimodal_features": _MULTIMODAL_SQL,
        "pos_distribution": _POS_DIST_SQL,
        "lemma_pos_counts": _lemma_pos_sql(),
        "backward_index_rows": _backward_index_sql(),
        "index_stats": _INDEX_STATS_SQL,
    }
