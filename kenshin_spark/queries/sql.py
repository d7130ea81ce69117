"""Relational analytics rows (``q*``): TPC-H-style queries adapted to
the testdata columns, plus warehouse and event-stream SQL — grouping
sets, windows, percentiles, cohorts, funnels and sessions. Most rows run
one shared SQL text on both engines (``_sql_query``), swapping only the
epoch function where the dialects differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_spark.io import load_table
from kenshin_spark.queries._common import _sql_query, register


#: money math goes through DECIMAL so both engines do exact integer
#: arithmetic, then one identical decimal→double conversion at the end.
_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))"
)

Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
  round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS sum_disc_price,
  round(CAST(sum({_DISC_PRICE} * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE), 2) AS sum_charge,
  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / count(*), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

Q3_SQL = f"""
SELECT l_orderkey,
  round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS revenue,
  CAST(o_orderdate AS STRING) AS o_orderdate,
  o_orderpriority
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15'
  AND l_shipdate > TIMESTAMP '1996-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""

Q5_SQL = f"""
SELECT n_name,
  round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""

TOPK_SQL = """
SELECT n_name, c_custkey, c_acctbal, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT n.n_name, c.c_custkey, c.c_acctbal,
         row_number() OVER (
           PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey
         ) AS rnk
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
) t WHERE rnk <= 3
"""

EVENTS_DAILY_SQL = """
SELECT event_type, CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING) AS day,
       count(*) AS n_events,
       round(sum(value), 4) AS total_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY event_type, date_trunc('day', ts)
"""

Q6_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                    CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE), 2)
         AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""

Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS revenue
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""

Q13_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
) t GROUP BY c_count
"""

Q14_SQL = """
SELECT round(
  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
    THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
         (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
    AS DOUBLE),
  6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""

Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS STRING) AS o_orderdate,
       round(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS sum_qty
FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250
"""

ROLLUP_SQL = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

SESSIONS_SQL = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end,
       max(ts) - min(ts) AS duration_s
FROM sessions GROUP BY user_id, session_id
"""

Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""

Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
           AS volume
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

Q16_SQL = """
SELECT p_brand, p_size, CAST(count(DISTINCT l_suppkey) AS BIGINT)
         AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_type <> 'PROMO' AND p_size IN (1, 9, 19, 29, 39, 49)
GROUP BY p_brand, p_size
"""

Q19_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
         (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
       AS DOUBLE), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 20)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
       AND l_quantity >= 10 AND l_quantity <= 30)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 20 AND 50
       AND l_quantity >= 20 AND l_quantity <= 50)
"""


register(
    "q1_pricing_summary",
    Q1_SQL,
    "TPC-H Q1-style pricing summary — groupBy agg over the fact table; "
    "exact DECIMAL money math, identical SQL on both engines",
)(_sql_query(Q1_SQL, ("lineitem",)))


register(
    "q3_shipping_priority",
    Q3_SQL,
    "TPC-H Q3-style: 3-way join + agg + deterministic top-10",
)(_sql_query(Q3_SQL, ("customer", "orders", "lineitem")))


register(
    "q5_local_supplier",
    Q5_SQL,
    "TPC-H Q5-style: 6-way join with co-nation predicate",
)(_sql_query(Q5_SQL, ("customer", "orders", "lineitem", "supplier",
                           "nation", "region")))


register(
    "q4_late_orders",
    Q4_SQL,
    "TPC-H Q4-style: EXISTS semi-join (orders with a late-shipped "
    "line) + priority counts — Catalyst plans a left-semi hash join",
)(_sql_query(Q4_SQL, ("orders", "lineitem")))


register(
    "q7_nation_volume",
    Q7_SQL,
    "TPC-H Q7-style: bidirectional two-nation shipping volume by "
    "year; nation dims broadcast, fact table never shuffles for the dims",
)(_sql_query(
        Q7_SQL, ("lineitem", "orders", "customer", "supplier", "nation")
    ))


register(
    "q16_supplier_cnt",
    Q16_SQL,
    "TPC-H Q16-style: distinct-supplier counts per brand/size bucket "
    "(multi-distinct agg over a dim join)",
)(_sql_query(Q16_SQL, ("part", "lineitem")))


register(
    "q19_disjunctive",
    Q19_SQL,
    "TPC-H Q19-style: three OR-blocks of brand/size/quantity "
    "predicates — exercises disjunctive predicate pushdown",
)(_sql_query(Q19_SQL, ("lineitem", "part")))


register(
    "q_window_topk_customers",
    TOPK_SQL,
    "window functions: per-nation top-3 customers by balance",
)(_sql_query(TOPK_SQL, ("customer", "nation")))


register(
    "q_events_daily",
    EVENTS_DAILY_SQL,
    "event-stream daily rollup: counts, distinct users, value sums",
)(_sql_query(EVENTS_DAILY_SQL, ("events",)))


register(
    "q6_forecast_revenue",
    Q6_SQL,
    "TPC-H Q6-style: tight multi-predicate scan + scalar agg — the "
    "pushdown showcase (all three filters reach the parquet scan)",
)(_sql_query(Q6_SQL, ("lineitem",)))


register(
    "q10_returned_items",
    Q10_SQL,
    "TPC-H Q10-style: returned-item revenue per customer, top-20",
)(_sql_query(Q10_SQL, ("customer", "orders", "lineitem", "nation")))


register(
    "q13_order_distribution",
    Q13_SQL,
    "TPC-H Q13-style: outer join + double aggregation (count "
    "distribution of orders per customer, including zero-order customers)",
)(_sql_query(Q13_SQL, ("customer", "orders")))


register(
    "q14_promo_effect",
    Q14_SQL,
    "TPC-H Q14-style: promo revenue share, conditional agg over a join",
)(_sql_query(Q14_SQL, ("lineitem", "part")))


register(
    "q18_large_orders",
    Q18_SQL,
    "TPC-H Q18-style: HAVING on a grouped join (large-volume orders)",
)(_sql_query(Q18_SQL, ("customer", "orders", "lineitem")))


register(
    "q_rollup_orders",
    ROLLUP_SQL,
    "GROUP BY ROLLUP (status, priority) with subtotal + grand-total "
    "rows — grouping-sets surface the reference never had (SURVEY §2.7)",
)(_sql_query(ROLLUP_SQL, ("orders",)))


register(
    "q_event_sessions",
    SESSIONS_SQL,
    "event sessionization: 30-min-gap session ids via lag + running "
    "sum windows, then per-session stats — the classic stream-analytics "
    "pattern over the events table",
)(_sql_query(
        SESSIONS_SQL.replace("floor(epoch(ts))", "unix_timestamp(ts)"),
        ("events",),
    ))


_PROFILE_NUM = ("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
_PROFILE_TXT = ("l_returnflag", "l_linestatus")


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM + _PROFILE_TXT:
        lo, hi = (
            (
                f"CAST(CAST(min({c}) AS DECIMAL(18,2)) AS VARCHAR)",
                f"CAST(CAST(max({c}) AS DECIMAL(18,2)) AS VARCHAR)",
            )
            if c in _PROFILE_NUM
            else (f"min({c})", f"max({c})")
        )
        parts.append(
            f"""SELECT '{c}' AS col_name,
              CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_nulls,
              CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
              {lo} AS min_value, {hi} AS max_value
            FROM lineitem"""
        )
    return "\nUNION ALL\n".join(parts)


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profiler (the data-quality step every ingestion
    pipeline runs before training): nulls, exact distinct counts, and
    min/max — ONE sub-aggregate per column, unioned.

    Why not one multi-distinct aggregate: six ``count_distinct`` columns
    in a single agg make Catalyst expand to grouping-id form — an Expand
    that multiplies the full scan ×7 before the exchange (measured 14 s
    at sf0.1, the slowest query in the repo; a 100 TB fact table would
    shuffle 700 TB). Per-column sub-aggregates each scan ONE pruned
    parquet column with a single-distinct two-stage agg (partial distinct
    map-side, no Expand): total bytes read equals one 6-column scan and
    every exchange carries only distinct values. Numeric bounds go
    through DECIMAL(18,2) so the string repr is engine-neutral."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = []
    for c in _PROFILE_NUM + _PROFILE_TXT:
        if c in _PROFILE_NUM:
            lo = F.min(c).cast("decimal(18,2)").cast("string")
            hi = F.max(c).cast("decimal(18,2)").cast("string")
        else:
            lo, hi = F.min(c), F.max(c)
        parts.append(
            li.select(F.col(c))
            .agg(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_nulls"),
                F.count_distinct(F.col(c)).alias("n_distinct"),
                lo.alias("min_value"),
                hi.alias("max_value"),
            )
            .select(
                F.lit(c).alias("col_name"),
                "n_nulls",
                "n_distinct",
                "min_value",
                "max_value",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


register(
    "q_table_profile",
    _profile_oracle(),
    "per-column profiler over lineitem: nulls / exact distincts / "
    "min-max via per-column single-distinct sub-aggregates unioned — no "
    "Expand, each scan reads one pruned parquet column",
)(_q_table_profile)


def _q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kenshin_spark.operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts"),
    )
    return funnel(ev, ["view", "click", "purchase"], within=7 * 86400)


register(
    "q_event_funnel",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts
      FROM events
    ),
    s1 AS (
      SELECT user_id, min(ts) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= s1.t_view AND e.ts <= s1.t_view + 604800
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= s2.t_click AND e.ts <= s2.t_click + 604800
      GROUP BY 1
    )
    SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    "sequential funnel (operators/funnel.py): first view, first "
    "click within 7d of it, first purchase within 7d of that — one "
    "filtered user-keyed aggregate + join per step, no full-stream "
    "windows; drop-offs keep NULL step columns",
)(_q_event_funnel)


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kenshin_spark.operators.interval import interval_join

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events")
    sessions = spark.sql(
        SESSIONS_SQL.replace("floor(epoch(ts))", "unix_timestamp(ts)")
    ).select("user_id", "session_id", "session_start", "session_end")
    pts = ev.select(
        "user_id", "event_id", F.unix_timestamp("ts").cast("long").alias("ts")
    )
    return interval_join(
        pts,
        sessions,
        ts_col="ts",
        start_col="session_start",
        end_col="session_end",
        on="user_id",
        bucket=3600,
    )


register(
    "q_interval_join",
    f"""
    WITH s AS ({SESSIONS_SQL}),
    e AS (
      SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts
      FROM events
    )
    SELECT e.user_id, e.event_id, e.ts,
           s.session_id, s.session_start, s.session_end
    FROM e JOIN s ON e.user_id = s.user_id
                 AND e.ts BETWEEN s.session_start AND s.session_end
    """,
    "bucketized interval join (operators/interval.py): events "
    "equi-joined to their containing session windows on (user_id, time "
    "bucket) + exact containment post-filter — no nested-loop join; the "
    "oracle is the plain theta join",
)(_q_interval_join)


Q8_SQL = """
SELECT o_year,
       round(CAST(sum(CASE WHEN nat = 'NATION_1' THEN volume END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) *
           (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
           AS volume,
         n2.n_name AS nat
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
) all_nations
GROUP BY o_year
"""

Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       round(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

#: Q17's classic form compares l_quantity < 0.2*avg(...) — a DOUBLE
#: threshold whose last-ulp depends on summation order, so the two engines
#: could disagree at a razor-edge boundary. Cross-multiplied DECIMAL form
#: (5·q·count < sum ⟺ q < 0.2·avg) is ORDER-EXACT in both engines while
#: still exercising correlated-scalar-subquery decorrelation (twice).
Q17_SQL = """
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND p_size <= 15
  AND CAST(l_quantity AS DECIMAL(12,2)) * 5 *
        (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = p_partkey)
      < (SELECT sum(CAST(l3.l_quantity AS DECIMAL(12,2)))
         FROM lineitem l3 WHERE l3.l_partkey = p_partkey)
"""

Q9_SQL = f"""
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE p_name LIKE '%widget%'
GROUP BY n_name, year(o_orderdate)
"""

Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s_name
"""

Q22_SQL = """
WITH tot AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS s, count(*) AS n
  FROM customer WHERE c_acctbal > 0.0
)
SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
       count(*) AS numcust,
       round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS totacctbal
FROM customer, tot
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_nationkey
"""


register(
    "q9_nation_revenue",
    Q9_SQL,
    "TPC-H Q9-style (adapted: testdata has no partsupp/supplycost, "
    "so revenue stands in for profit): 5-way join — fact table joins "
    "three broadcastable dims + orders — grouped by supplier nation × "
    "order year; DECIMAL money math",
)(_sql_query(Q9_SQL, ("lineitem", "orders", "supplier", "nation",
                           "part")))


register(
    "q21_sole_return_supplier",
    Q21_SQL,
    "TPC-H Q21-style (adapted: no commit/receipt dates in testdata, "
    "returnflag='R' stands in for late delivery): suppliers who were "
    "the SOLE returning supplier on a multi-supplier finished order — "
    "correlated EXISTS + NOT EXISTS, which Catalyst decorrelates into "
    "left-semi and left-anti hash joins on l_orderkey",
)(_sql_query(Q21_SQL, ("supplier", "lineitem", "orders")))


register(
    "q22_dormant_customers",
    Q22_SQL,
    "TPC-H Q22-style (adapted: above-mean acctbal via exact DECIMAL "
    "cross-multiplication instead of a float avg threshold; dormant = "
    "no order since 2000-01-01): scalar aggregate broadcast + "
    "NOT EXISTS anti join, grouped by nation",
)(_sql_query(Q22_SQL, ("customer", "orders")))


#: Q2's ps_supplycost has no testdata analog (no partsupp table), so the
#: observed unit price min(l_extendedprice / l_quantity) per
#: (part, supplier) stands in for the catalog supply cost. The division
#: is one IEEE op on two parquet doubles — bit-identical in both engines
#: — and the correlated min + outer equality compare those exact doubles,
#: so no rounding is needed until display.
Q2_SQL = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY 1, 2
)
SELECT round(CAST(s_acctbal AS DOUBLE), 2) AS s_acctbal, s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
       round(CAST(unit_price AS DOUBLE), 6) AS unit_price
FROM part, unit, supplier, nation, region
WHERE p_partkey = unit.l_partkey AND s_suppkey = unit.l_suppkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE' AND p_size <= 10 AND p_type = 'LARGE'
  AND unit_price = (
    SELECT min(u2.unit_price)
    FROM unit u2, supplier s2, nation n2, region r2
    WHERE u2.l_partkey = p_partkey AND s2.s_suppkey = u2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""

Q11_SQL = """
WITH val AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey
)
SELECT CAST(l_partkey AS BIGINT) AS partkey,
       round(CAST(v AS DOUBLE), 2) AS total_value
FROM val
WHERE v * (SELECT count(*) FROM val) * 2 > (SELECT sum(v) FROM val) * 3
"""

Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
"""

Q20_SQL = """
SELECT s_name, round(CAST(s_acctbal AS DOUBLE), 2) AS s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE '%widget%')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 100)
"""

#: Spark-side formulation of Q2: the correlated scalar-min subquery would
#: make Catalyst aggregate lineitem TWICE (a WITH body is inlined per
#: reference, and each inlining is a full (part,supp) shuffle — measured
#: 7.1 s at sf0.1). A window min over the region-filtered unit table is
#: the same value set in ONE lineitem pass + one vocab-sized window
#: shuffle (measured 3.2 s). The DuckDB oracle keeps the classic
#: correlated form — two independent formulations agreeing is a stronger
#: check than replaying one.
Q2_SPARK_SQL = """
WITH unit AS (
  SELECT l_partkey, l_suppkey,
         min(l_extendedprice / l_quantity) AS unit_price
  FROM lineitem GROUP BY 1, 2
),
eu AS (
  SELECT u.l_partkey, u.unit_price, s_acctbal, s_name, n_name,
         min(u.unit_price) OVER (PARTITION BY u.l_partkey) AS min_price
  FROM unit u
  JOIN supplier ON s_suppkey = u.l_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT round(CAST(s_acctbal AS DOUBLE), 2) AS s_acctbal, s_name, n_name,
       CAST(p_partkey AS BIGINT) AS p_partkey, p_name,
       round(CAST(unit_price AS DOUBLE), 6) AS unit_price
FROM eu JOIN part ON p_partkey = eu.l_partkey
WHERE p_size <= 10 AND p_type = 'LARGE' AND unit_price = min_price
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
"""


register(
    "q2_min_cost_supplier",
    Q2_SQL,
    "TPC-H Q2-style (adapted: observed min unit price from lineitem "
    "stands in for the missing partsupp supply cost): for each small "
    "LARGE-type part, the EUROPE supplier(s) matching the region-wide "
    "minimum unit price. Spark runs the single-pass window-min "
    "formulation (one lineitem aggregate, dims broadcast); the oracle "
    "runs the classic correlated scalar-min subquery — independent "
    "formulations, identical rows; totally-ordered top-100",
)(_sql_query(Q2_SPARK_SQL, ("part", "lineitem", "supplier", "nation",
                                 "region")))


register(
    "q11_important_parts",
    Q11_SQL,
    "TPC-H Q11-style (adapted: revenue by part from one nation's "
    "suppliers stands in for partsupp stock value; threshold is 2× the "
    "mean share so it stays scale-invariant, unlike Q11's fixed "
    "fraction/SF): filter against two broadcast scalar aggregates, "
    "DECIMAL cross-multiplied (2·v·n > 3·Σv ⟺ v > 1.5·Σv/n) so the "
    "threshold is order-exact in both engines",
)(_sql_query(Q11_SQL, ("lineitem", "supplier", "nation")))


register(
    "q12_priority_lines",
    Q12_SQL,
    "TPC-H Q12-style (adapted: no l_shipmode/commitdate in testdata "
    "— returnflag classes stand in for ship modes, shipdate-year for "
    "the receipt window): two-class CASE counting of urgent vs other "
    "order priorities per class — pushed date filter, one "
    "shuffle-keyed join, conditional aggregation",
)(_sql_query(Q12_SQL, ("orders", "lineitem")))


register(
    "q20_promotion_suppliers",
    Q20_SQL,
    "TPC-H Q20-style (adapted: shipped volume above threshold "
    "stands in for the missing partsupp availqty comparison): "
    "suppliers of widget parts who moved >100 units in 1996 — nested "
    "IN subqueries (part semi-join inside a grouped HAVING semi-join) "
    "that Catalyst turns into two left-semi hash joins; completes the "
    "22/22 TPC-H-style derivative suite",
)(_sql_query(Q20_SQL, ("supplier", "nation", "lineitem", "part")))


CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""

CUME_SQL = """
WITH daily AS (
  SELECT CAST(CAST(o_orderdate AS DATE) AS STRING) AS d,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-07-01'
  GROUP BY CAST(CAST(o_orderdate AS DATE) AS STRING)
)
SELECT d, round(CAST(rev AS DOUBLE), 2) AS day_revenue,
       round(CAST(sum(rev) OVER (
         ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE), 2) AS cum_revenue
FROM daily
"""

#: one percentile aggregate evaluating all three quantiles in a single
#: pass over each group (the three-separate-aggregates form re-built the
#: per-group value buffer three times — measured ~2× slower). Engines
#: differ in list syntax (Spark `array(...)`/0-based, DuckDB `[...]`/
#: 1-based) but both do R-7 linear interpolation over the same parquet
#: doubles — bit-equal.
PCT_SQL = """
SELECT l_returnflag,
       round(CAST(ps[0] AS DOUBLE), 4) AS p25,
       round(CAST(ps[1] AS DOUBLE), 4) AS p50,
       round(CAST(ps[2] AS DOUBLE), 4) AS p95,
       n_lines
FROM (
  SELECT l_returnflag,
         percentile(l_extendedprice, array(0.25D, 0.5D, 0.95D)) AS ps,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem
  GROUP BY l_returnflag
)
"""

PCT_ORACLE = """
SELECT l_returnflag,
       round(CAST(ps[1] AS DOUBLE), 4) AS p25,
       round(CAST(ps[2] AS DOUBLE), 4) AS p50,
       round(CAST(ps[3] AS DOUBLE), 4) AS p95,
       n_lines
FROM (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, [0.25, 0.5, 0.95]) AS ps,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem
  GROUP BY l_returnflag
)
"""


register(
    "q8_market_share",
    Q8_SQL,
    "TPC-H Q8-style: one nation's market share inside a region's "
    "part-type market by order year — 8-way star join where every dim "
    "broadcasts; conditional/total DECIMAL sums divided as DOUBLE",
)(_sql_query(
        Q8_SQL,
        ("part", "lineitem", "orders", "customer", "nation", "region",
         "supplier"),
    ))


register(
    "q15_top_supplier",
    Q15_SQL,
    "TPC-H Q15-style: top supplier by quarterly revenue — CTE reuse "
    "+ scalar-subquery max, DECIMAL-exact equality (no float ties)",
)(_sql_query(Q15_SQL, ("supplier", "lineitem")))


register(
    "q17_small_quantity",
    Q17_SQL,
    "TPC-H Q17-style: lines below 1/5 of their part's mean quantity "
    "— two correlated scalar subqueries (Catalyst decorrelates both "
    "into aggregated joins), cross-multiplied DECIMAL so the threshold "
    "is order-exact across engines",
)(_sql_query(Q17_SQL, ("lineitem", "part")))


register(
    "q_cube_orders",
    CUBE_SQL,
    "GROUP BY CUBE (status × priority): all four grouping levels in "
    "one pass — completes the grouping-sets surface next to ROLLUP",
)(_sql_query(CUBE_SQL, ("orders",)))


register(
    "q_cumulative_revenue",
    CUME_SQL,
    "running-total window over a daily rollup: cumulative revenue by "
    "day, DECIMAL-exact prefix sums rendered as DOUBLE",
)(_sql_query(CUME_SQL, ("orders",)))


register(
    "q_price_percentiles",
    PCT_ORACLE,
    "exact interpolated price percentiles per return flag — Spark "
    "`percentile` vs DuckDB `quantile_cont`, same R-7 linear "
    "interpolation over identical parquet doubles",
)(_sql_query(PCT_SQL, ("lineitem",)))


@register(
    "q_retention_cohorts",
    """
    WITH f AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts)) / 604800) AS BIGINT) AS cohort_week
      FROM events GROUP BY user_id
    ),
    wk AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    )
    SELECT f.cohort_week,
           wk.week - f.cohort_week AS week_offset,
           count(DISTINCT wk.user_id) AS n_users
    FROM wk JOIN f USING (user_id)
    GROUP BY 1, 2
    """,
    "classic cohort-retention matrix: users bucketed by epoch-week of "
    "first activity, counted at each later active week offset. Two "
    "partial-agg shuffles on user_id (co-partitioned — AQE reuses the "
    "exchange) + one join + one final agg; all integer week arithmetic",
)
def q_retention_cohorts(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    firsts = ev.groupBy("user_id").agg(
        F.min(week).alias("cohort_week")
    )
    weeks = ev.select("user_id", week.alias("week")).distinct()
    return (
        weeks.join(firsts, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_event_sessions_native",
    """
    WITH s AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    g AS (
      SELECT *, sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
      ) AS sid FROM s
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM g GROUP BY user_id, sid
    """,
    "Spark's NATIVE session_window operator (the streaming-capable one — "
    "same call tree serves live streams with watermark state eviction) "
    "verified against the lag+cumsum SQL sessionization: merge boundary "
    "is INCLUSIVE (events exactly gap apart merge, probed empirically), "
    "session_end = last event + gap, microsecond-exact timestamps, "
    "DECIMAL-exact value sums",
)
def q_event_sessions_native(spark, sf_dir):
    from kenshin_spark.streaming.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap="30 minutes")


@register(
    "q_events_hopping_window",
    """
    WITH e AS (
      SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts, value
      FROM events
    ),
    w AS (
      SELECT event_type, value, (ts - ts % 1800) - k * 1800 AS w_start
      FROM e, generate_series(0, 1) s(k)
    )
    SELECT event_type,
           w_start AS window_start,
           w_start + 3600 AS window_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM w GROUP BY 1, 2, 3
    """,
    "Spark's native HOPPING window (1 h windows sliding every 30 min — "
    "the streaming-dashboard staple next to tumbling q_events_daily and "
    "session q_event_sessions_native): each event lands in dur/slide "
    "aligned windows; the oracle replays the assignment with a "
    "generate_series fan-out. Epoch-aligned starts, DECIMAL-exact sums; "
    "one partial-agg shuffle keyed (window, type)",
)
def q_events_hopping_window(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            "event_type",
            F.unix_timestamp("window.start").cast("long").alias("window_start"),
            F.unix_timestamp("window.end").cast("long").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_customer_pareto",
    """
    WITH rev AS (
      SELECT o_custkey,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT sum(r) AS t FROM rev),
    ranked AS (
      SELECT o_custkey, r,
             row_number() OVER (ORDER BY r DESC, o_custkey) AS rnk,
             sum(r) OVER (ORDER BY r DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM rev
    )
    SELECT o_custkey,
           CAST(rnk AS BIGINT) AS rank,
           round(CAST(r AS DOUBLE), 2) AS revenue,
           round(CAST(cum AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
             AS cum_share
    FROM ranked, tot WHERE rnk <= 100
    """,
    "Pareto / top-contributor analysis: customers ranked by lifetime "
    "revenue with the cumulative revenue share ('does 20% of customers "
    "drive 80%?'). DECIMAL-exact running sums (order-free), one "
    "deterministic global window over the customer-level aggregate "
    "(small after the groupBy — never over raw orders)",
)
def q_customer_pareto(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("_r")
    )
    total = rev.agg(F.sum("_r")).collect()[0][0]  # scalar agg
    w = Window.orderBy(F.col("_r").desc(), "o_custkey")
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "_cum",
            F.sum("_r").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .where(F.col("rank") <= 100)
        .select(
            "o_custkey",
            F.col("rank").cast("long").alias("rank"),
            F.round(F.col("_r").cast("double"), 2).alias("revenue"),
            F.round(
                F.col("_cum").cast("double") / float(total), 6
            ).alias("cum_share"),
        )
    )


@register(
    "q_events_json_props",
    r"""
    WITH x AS (
      SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           CAST(count(k) AS BIGINT) AS n_with_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_even
    FROM x GROUP BY event_type
    """,
    "semi-structured property extraction: parse the events.props JSON "
    "column (Spark get_json_object ≡ DuckDB json_extract_string) and "
    "aggregate the extracted integer per event type — the schema-on-read "
    "path every event pipeline needs; JSON parsing is JVM-side, "
    "all-integer aggregates, one partial-agg shuffle",
)
def q_events_json_props(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    x = ev.select("event_type", k.alias("k"))
    return x.groupBy("event_type").agg(
        F.count("k").cast("long").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
        F.sum(F.when(F.col("k") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_even"),
    )


@register(
    "q_orders_pivot",
    """
    SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
             AS ym,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS P
    FROM orders GROUP BY 1
    """,
    "Spark's pivot API (groupBy(ym).pivot(status, [F,O,P]).count()): "
    "month × order-status wide counts — the explicit value list keeps "
    "the plan a single pass (no distinct-values pre-query) and the "
    "output schema deterministic; oracle spells the same table as CASE "
    "sums",
)
def q_orders_pivot(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
    out = (
        orders.groupBy(ym.alias("ym"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return out.select(
        "ym",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
          for c in ("F", "O", "P")],
    )


@register(
    "q_median_order_gap",
    """
    WITH gaps AS (
      SELECT o_custkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT)
               - lag(CAST(floor(epoch(o_orderdate)) AS BIGINT)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                 ) AS gap
      FROM orders
    )
    SELECT o_custkey,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           round(CAST(quantile_cont(gap, 0.5) AS DOUBLE) / 86400.0, 6)
             AS median_gap_days
    FROM gaps WHERE gap IS NOT NULL
    GROUP BY o_custkey HAVING count(gap) >= 3
    """,
    "repeat-purchase cadence: per customer, the exact interpolated "
    "median gap between consecutive orders (lag window + grouped "
    "percentile, R-7 interpolation in both engines over exact integer "
    "second gaps), customers with ≥ 3 gaps",
)
def q_median_order_gap(spark, sf_dir):
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    ep = F.unix_timestamp("o_orderdate").cast("long")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey", (ep - F.lag(ep).over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    return (
        gaps.groupBy("o_custkey")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.round(
                F.expr("percentile(gap, 0.5)") / 86400.0, 6
            ).alias("median_gap_days"),
        )
        .where(F.col("n_gaps") >= 3)
    )


@register(
    "q_lineitem_unpivot",
    """
    WITH long AS (
      SELECT 'l_quantity' AS measure,
             CAST(l_quantity AS DECIMAL(18,2)) AS v FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', CAST(l_extendedprice AS DECIMAL(18,2))
      FROM lineitem
      UNION ALL
      SELECT 'l_discount', CAST(l_discount AS DECIMAL(18,2)) FROM lineitem
      UNION ALL
      SELECT 'l_tax', CAST(l_tax AS DECIMAL(18,2)) FROM lineitem
    )
    SELECT measure,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(min(v) AS DOUBLE), 2) AS min_v,
           round(CAST(max(v) AS DOUBLE), 2) AS max_v,
           round(CAST(sum(v) AS DOUBLE), 2) AS sum_v
    FROM long GROUP BY measure
    """,
    "Spark's unpivot/melt API: four numeric lineitem measures to long "
    "form, then one grouped profile — wide→long is the standard reshape "
    "before per-measure statistics; DECIMAL casts keep the sums exact; "
    "oracle spells the melt as UNION ALL",
)
def q_lineitem_unpivot(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.select(
        *[F.col(c).cast("decimal(18,2)").alias(c) for c in cols]
    ).unpivot([], cols, "measure", "v")
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("v").cast("double"), 2).alias("min_v"),
        F.round(F.max("v").cast("double"), 2).alias("max_v"),
        F.round(F.sum("v").cast("double"), 2).alias("sum_v"),
    )


@register(
    "q_rolling_weekly_users",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
      FROM events
    ),
    days AS (SELECT DISTINCT day FROM act),
    contrib AS (
      SELECT user_id, day + k AS report_day
      FROM act, generate_series(0, 6) s(k)
    )
    SELECT d.day AS report_day,
           count(DISTINCT c.user_id) AS wau
    FROM days d JOIN contrib c ON c.report_day = d.day
    GROUP BY d.day
    """,
    "rolling 7-day active users (WAU) per observed day — the sliding "
    "COUNT DISTINCT that window functions can't express: each (user, "
    "day) activity row fans out to the 7 report days it supports "
    "(generate_series explode), then one distinct-agg per day. "
    "Contribution fan-out is 7x the per-day activity table (tiny), "
    "never 7x the event stream",
)
def q_rolling_weekly_users(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    act = ev.select("user_id", day.alias("day")).distinct()
    days = act.select("day").distinct()
    contrib = act.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + 6)
        ).alias("report_day"),
    )
    return (
        days.join(contrib, days["day"] == contrib["report_day"])
        .groupBy(days["day"].alias("report_day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@register(
    "q_orders_yoy_growth",
    """
    WITH m AS (
      SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT)
               AS ym,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT cur.ym,
           round(CAST(cur.rev AS DOUBLE), 2) AS revenue,
           round(CAST(prev.rev AS DOUBLE), 2) AS prev_year_revenue,
           CASE WHEN prev.rev IS NOT NULL THEN
             round(CAST(cur.rev - prev.rev AS DOUBLE)
                   / CAST(prev.rev AS DOUBLE), 6)
           END AS yoy_growth
    FROM m cur LEFT JOIN m prev ON prev.ym = cur.ym - 100
    """,
    "year-over-year monthly revenue growth: monthly DECIMAL rollup "
    "self-joined on ym-100 (an equi-join on the month key — no window "
    "sort over raw orders); growth ratio divides exact decimals once; "
    "months without a prior year keep NULL growth",
)
def q_orders_yoy_growth(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    ym = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("long")
    m = orders.groupBy(ym.alias("ym")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    cur = m.alias("cur")
    prev = m.select(
        (F.col("ym") + 100).alias("_ym"), F.col("rev").alias("_prev")
    )
    return (
        cur.join(prev, F.col("ym") == F.col("_ym"), "left")
        .select(
            "ym",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(F.col("_prev").cast("double"), 2).alias(
                "prev_year_revenue"
            ),
            F.when(
                F.col("_prev").isNotNull(),
                F.round(
                    (F.col("rev") - F.col("_prev")).cast("double")
                    / F.col("_prev").cast("double"),
                    6,
                ),
            ).alias("yoy_growth"),
        )
    )


RFM_SQL = """
WITH cust AS (
  SELECT o_custkey,
         CAST(max(CAST(o_orderdate AS DATE)) AS STRING) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       last_order, frequency,
       round(CAST(monetary AS DOUBLE), 2) AS monetary,
       CAST(ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS BIGINT)
         AS r_bucket,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS BIGINT)
         AS f_bucket,
       CAST(ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS BIGINT)
         AS m_bucket
FROM cust
"""


@register(
    "q_customer_rfm",
    RFM_SQL,
    "RFM segmentation: per-customer recency/frequency/monetary with "
    "ntile(5) buckets on each dimension — integer bucket boundaries with "
    "total (value, custkey) tie-break order so the quintiles are "
    "deterministic; windows run over the customer-level aggregate "
    "(small), never raw orders",
)
def q_customer_rfm(spark, sf_dir):
    return _sql_query(RFM_SQL, ("orders",))(spark, sf_dir)


BASKET_SQL = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(count(*) AS BIGINT) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT part_a, part_b, support FROM pairs WHERE support >= 3
"""


@register(
    "q_market_basket",
    BASKET_SQL,
    "market-basket co-occurrence: part pairs appearing in >= 3 shared "
    "orders — the order-keyed self-join is bounded by per-order line "
    "counts (TPC-H max 7 lines/order => <= 21 pairs per order), so the "
    "pair fan-out is linear in orders, never all-pairs over parts; "
    "support threshold prunes before any wide output",
)
def q_market_basket(spark, sf_dir):
    return _sql_query(BASKET_SQL, ("lineitem",))(spark, sf_dir)


TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
         ) AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n_transitions
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "q_event_transitions",
    TRANSITIONS_SQL,
    "user-journey transition matrix: event-type bigrams per user in "
    "(ts, event_id) order — one lead window co-partitioned with the "
    "user key, then a matrix-sized count; the (ts, event_id) composite "
    "sort key makes simultaneous events deterministic",
)
def q_event_transitions(spark, sf_dir):
    return _sql_query(TRANSITIONS_SQL, ("events",))(spark, sf_dir)


COOCCUR_SQL = """
WITH ue AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_users
FROM ue a JOIN ue b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


@register(
    "q_event_cooccurrence",
    COOCCUR_SQL,
    "event-type co-occurrence matrix: users performing both types, for "
    "every type pair — the user-keyed self-join fans out |types-per-"
    "user|^2 <= |types|^2 rows per user (types is a small fixed set), "
    "never users x users; output is matrix-sized",
)
def q_event_cooccurrence(spark, sf_dir):
    return _sql_query(COOCCUR_SQL, ("events",))(spark, sf_dir)


DECILE_SQL = """
WITH d AS (
  SELECT CAST(ntile(10) OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) AS BIGINT) AS decile,
         l_extendedprice, l_quantity
  FROM lineitem
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(min(l_extendedprice), 2) AS min_price,
       round(max(l_extendedprice), 2) AS max_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
         AS total_qty
FROM d GROUP BY decile
"""


@register(
    "q_price_deciles",
    DECILE_SQL,
    "decile profile of line prices: global ntile(10) with a total "
    "(price, orderkey, linenumber) tie-break so bucket boundaries are "
    "deterministic, then per-decile stats — the single global sort is "
    "the documented cost (at 100 TB swap ntile for approx percentile "
    "cuts + a broadcast range join, same output contract)",
)
def q_price_deciles(spark, sf_dir):
    return _sql_query(DECILE_SQL, ("lineitem",))(spark, sf_dir)


OVERLAP_SQL = """
SELECT CAST(n_nationkey AS BIGINT) AS nation_key, n_name,
       CAST(count(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers
FROM nation
LEFT JOIN supplier ON s_nationkey = n_nationkey
LEFT JOIN customer ON c_nationkey = n_nationkey
GROUP BY n_nationkey, n_name
HAVING count(DISTINCT s_suppkey) > 0 AND count(DISTINCT c_custkey) > 0
"""


@register(
    "q_nation_coverage",
    OVERLAP_SQL,
    "nations with both supplier and customer presence — two broadcast "
    "dimension joins + multi-distinct aggregate (Catalyst expands to "
    "one Expand over the small joined set, not the fact tables)",
)
def q_nation_coverage(spark, sf_dir):
    return _sql_query(OVERLAP_SQL, ("nation", "supplier", "customer"))(
        spark, sf_dir
    )


#: Spark uses `DIV`, DuckDB uses `//` for integer floor division — the
#: only divergence between the two texts; every operand is an exact
#: BIGINT (cents), so the ppm shares and the HHI sum are bit-identical.
HHI_CORE = """
WITH rev AS (
  SELECT s_nationkey,
         l_suppkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY s_nationkey, l_suppkey
),
tot AS (
  SELECT s_nationkey, sum(cents) AS total_cents FROM rev GROUP BY s_nationkey
)
SELECT CAST(r.s_nationkey AS BIGINT) AS nation_key,
       CAST(count(*) AS BIGINT) AS n_suppliers,
       CAST(sum(ppm * ppm) AS BIGINT) AS hhi_e12
FROM (
  SELECT r.s_nationkey, r.l_suppkey,
         r.cents * 1000000 {DIV} t.total_cents AS ppm
  FROM rev r JOIN tot t ON r.s_nationkey = t.s_nationkey
) r
GROUP BY r.s_nationkey
"""


@register(
    "q_supplier_hhi",
    HHI_CORE.format(DIV="//"),
    "supplier revenue concentration per nation: Herfindahl index over "
    "exact-integer ppm shares (cents * 1e6 floor-div total) so the sum "
    "of squares is order-free and bit-identical across engines — a "
    "single-supplier nation scores 1e12; broadcast totals, two "
    "partial-agg shuffles",
)
def q_supplier_hhi(spark, sf_dir):
    return _sql_query(HHI_CORE.format(DIV="DIV"),
                      ("lineitem", "supplier"))(spark, sf_dir)


TRADE_SQL = """
SELECT sr.r_name AS supplier_region, cr.r_name AS customer_region,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region cr ON cn.n_regionkey = cr.r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN region sr ON sn.n_regionkey = sr.r_regionkey
GROUP BY sr.r_name, cr.r_name
"""


@register(
    "q_region_trade_matrix",
    TRADE_SQL,
    "cross-region trade matrix: revenue by (supplier region x customer "
    "region) — an 8-way star join where every dimension broadcasts "
    "(nation/region twice under different roles), one partial-agg "
    "shuffle on the 25-cell matrix key; DECIMAL money math",
)
def q_region_trade_matrix(spark, sf_dir):
    return _sql_query(
        TRADE_SQL,
        ("lineitem", "orders", "customer", "supplier", "nation", "region"),
    )(spark, sf_dir)


LINES_HIST_SQL = """
WITH per_order AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
FROM per_order GROUP BY n_lines
"""


@register(
    "q_order_lines_histogram",
    LINES_HIST_SQL,
    "order-width histogram (lines per order): two partial-agg shuffles, "
    "second one over the tiny 1..7 domain — the cardinality profile "
    "feeding join-planning assumptions like the market-basket bound",
)
def q_order_lines_histogram(spark, sf_dir):
    return _sql_query(LINES_HIST_SQL, ("lineitem",))(spark, sf_dir)


STICKINESS_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
mau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
  GROUP BY d.day
)
SELECT dau.day, dau.dau, mau.mau,
       round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
FROM dau JOIN mau ON dau.day = mau.day
"""

STICKINESS_SPARK_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) AS day
  FROM events
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
mau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS mau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 27 AND d.day
  GROUP BY d.day
)
SELECT dau.day, dau.dau, mau.mau,
       round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness
FROM dau JOIN mau ON dau.day = mau.day
"""


@register(
    "q_events_stickiness",
    STICKINESS_SQL,
    "DAU/MAU stickiness per day: the rolling-28-day distinct-user count "
    "via a day-domain range join (|days| is calendar-sized, so the "
    "range join fans out day x active-day rows, never events x events); "
    "one exact integer division per day",
)
def q_events_stickiness(spark, sf_dir):
    return _sql_query(STICKINESS_SPARK_SQL, ("events",))(spark, sf_dir)


SEASONALITY_SQL = """
SELECT CAST(month(o_orderdate) AS BIGINT) AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM orders GROUP BY month(o_orderdate)
"""


@register(
    "q_orders_seasonality",
    SEASONALITY_SQL,
    "month-of-year order seasonality across all years: one partial-agg "
    "shuffle onto a 12-row domain, DECIMAL money math",
)
def q_orders_seasonality(spark, sf_dir):
    return _sql_query(SEASONALITY_SQL, ("orders",))(spark, sf_dir)


NEW_RETURNING_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
),
firsts AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id)
SELECT ud.day,
       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users
FROM ud JOIN firsts f ON ud.user_id = f.user_id
GROUP BY ud.day
"""

NEW_RETURNING_SPARK_SQL = """
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) AS day
  FROM events
),
firsts AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id)
SELECT ud.day,
       CAST(sum(CASE WHEN ud.day = f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS new_users,
       CAST(sum(CASE WHEN ud.day > f.first_day THEN 1 ELSE 0 END)
            AS BIGINT) AS returning_users
FROM ud JOIN firsts f ON ud.user_id = f.user_id
GROUP BY ud.day
"""


@register(
    "q_new_vs_returning",
    NEW_RETURNING_SQL,
    "daily new-vs-returning user split: per-user first-day aggregate "
    "joined back onto the (user, day) activity set — two partial-agg "
    "shuffles co-partitioned on user_id (AQE reuses the exchange), "
    "all-integer day arithmetic",
)
def q_new_vs_returning(spark, sf_dir):
    return _sql_query(NEW_RETURNING_SPARK_SQL, ("events",))(spark, sf_dir)


#: round-then-compare: the per-class mean and stddev are ROUNDED to 4dp
#: before the threshold test, so aggregation-order ulp noise cannot flip
#: membership — the same determinism trick as emb_centroid_outliers.
OUTLIER_SQL = """
WITH stats AS (
  SELECT o_orderpriority,
         round(avg(o_totalprice), 4) AS mu,
         round(stddev_pop(o_totalprice), 4) AS sigma
  FROM orders GROUP BY o_orderpriority
)
SELECT CAST(o_orderkey AS BIGINT) AS orderkey, o.o_orderpriority,
       round(o_totalprice, 2) AS totalprice,
       round(mu, 2) AS class_mean
FROM orders o JOIN stats s ON o.o_orderpriority = s.o_orderpriority
WHERE o_totalprice > mu + 1.5 * sigma
"""


@register(
    "q_order_value_outliers",
    OUTLIER_SQL,
    "per-priority-class order value outliers (> mean + 1.5 sigma — "
    "totalprice is a bounded sum-of-lines, so its tails end near 2 "
    "sigma): class "
    "stats broadcast, mean/stddev rounded to 4dp BEFORE the threshold "
    "so both engines compare identical operands; one scan + one "
    "broadcast join",
)
def q_order_value_outliers(spark, sf_dir):
    return _sql_query(OUTLIER_SQL, ("orders",))(spark, sf_dir)


#: dow convention differs: DuckDB dayofweek = 0(Sun)..6(Sat), Spark
#: dayofweek = 1(Sun)..7(Sat) — the Spark text subtracts 1.
HEATMAP_SQL = """
SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_value
FROM events GROUP BY dayofweek(ts), hour(ts)
"""

HEATMAP_SPARK_SQL = """
SELECT CAST(dayofweek(ts) - 1 AS BIGINT) AS dow,
       CAST(hour(ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS total_value
FROM events GROUP BY dayofweek(ts), hour(ts)
"""


@register(
    "q_events_hourly_heatmap",
    HEATMAP_SQL,
    "week-hour activity heatmap (dow x hour matrix, the dashboard "
    "staple): one partial-agg shuffle onto a 168-cell domain; values "
    "summed through DECIMAL so the matrix is order-exact",
)
def q_events_hourly_heatmap(spark, sf_dir):
    return _sql_query(HEATMAP_SPARK_SQL, ("events",))(spark, sf_dir)


CONV_SQL = """
WITH v AS (
  SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         min(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_conv, min(v.t_view) AS t_view
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) >= v.t_view
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(quantile_cont(t_conv - t_view, 0.5), 4) AS median_s,
       round(quantile_cont(t_conv - t_view, 0.9), 4) AS p90_s
FROM p
"""

CONV_SPARK_SQL = """
WITH v AS (
  SELECT user_id, min(CAST(floor(unix_timestamp(ts)) AS BIGINT)) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id,
         min(CAST(floor(unix_timestamp(e.ts)) AS BIGINT)) AS t_conv, min(v.t_view) AS t_view
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(floor(unix_timestamp(e.ts)) AS BIGINT) >= v.t_view
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_converted,
       round(percentile(t_conv - t_view, 0.5), 4) AS median_s,
       round(percentile(t_conv - t_view, 0.9), 4) AS p90_s
FROM p
"""


@register(
    "q_funnel_conversion_time",
    CONV_SQL,
    "view-to-purchase conversion latency: first view per user, first "
    "purchase at-or-after it, exact interpolated median/p90 of the gap "
    "(percentile == quantile_cont, R-7 over identical integers — the "
    "q_price_percentiles contract); two user-keyed partial aggregates",
)
def q_funnel_conversion_time(spark, sf_dir):
    return _sql_query(CONV_SPARK_SQL, ("events",))(spark, sf_dir)


ERR_RATE_SQL = """
WITH d AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1
)
SELECT day, n_events, n_errors,
       round(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate
FROM d
"""

ERR_RATE_SPARK_SQL = """
WITH d AS (
  SELECT CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY 1
)
SELECT day, n_events, n_errors,
       round(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate
FROM d
"""


@register(
    "q_events_error_rate",
    ERR_RATE_SQL,
    "daily error-rate SLI: one partial-agg shuffle onto the day domain, "
    "one exact integer division per day — the alerting input next to "
    "ts_availability's uptime view",
)
def q_events_error_rate(spark, sf_dir):
    return _sql_query(ERR_RATE_SPARK_SQL, ("events",))(spark, sf_dir)


GSETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                        (o_orderstatus, o_orderpriority))
"""


@register(
    "q_orders_grouping_sets",
    GSETS_SQL,
    "explicit GROUPING SETS (status | priority | both): the irregular-"
    "lattice companion to the CUBE/ROLLUP queries — one Expand over the "
    "partial aggregate, DECIMAL money math",
)
def q_orders_grouping_sets(spark, sf_dir):
    return _sql_query(GSETS_SQL, ("orders",))(spark, sf_dir)


SESSION_HIST_CORE = """
WITH e AS (
  SELECT user_id, CAST(floor({EPOCH}(ts)) AS BIGINT) AS ts FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
),
d AS (
  SELECT user_id, session_id, max(ts) - min(ts) AS duration_s
  FROM sessions GROUP BY user_id, session_id
)
SELECT CAST(duration_s {DIV} 300 AS BIGINT) AS bucket_5min,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(min(duration_s) AS BIGINT) AS min_s,
       CAST(max(duration_s) AS BIGINT) AS max_s
FROM d GROUP BY duration_s {DIV} 300
"""


@register(
    "q_session_length_histogram",
    SESSION_HIST_CORE.format(EPOCH="epoch", DIV="//"),
    "session-duration histogram in 5-minute buckets over the lag+cumsum "
    "sessionization (the same session definition q_event_sessions "
    "verifies) — engagement-distribution view, all-integer bucketing",
)
def q_session_length_histogram(spark, sf_dir):
    return _sql_query(
        SESSION_HIST_CORE.format(EPOCH="unix_timestamp", DIV="DIV"),
        ("events",),
    )(spark, sf_dir)


DISCOUNT_SQL = """
SELECT round(CAST(CAST(l_discount AS DECIMAL(4,2)) AS DOUBLE), 2)
         AS discount,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS revenue
FROM lineitem GROUP BY CAST(l_discount AS DECIMAL(4,2))
"""


@register(
    "q_discount_distribution",
    DISCOUNT_SQL,
    "discount-level distribution: lines and revenue per exact DECIMAL "
    "discount step (grouping on the DECIMAL, not the float, so bucket "
    "identity is exact) — one partial-agg shuffle onto the ~10-value "
    "discount domain",
)
def q_discount_distribution(spark, sf_dir):
    return _sql_query(DISCOUNT_SQL, ("lineitem",))(spark, sf_dir)


TYPE_PCT_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""

TYPE_PCT_SPARK_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(percentile(value, 0.5D), 6) AS p50,
       round(percentile(value, 0.95D), 6) AS p95,
       round(percentile(value, 0.99D), 6) AS p99
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""


@register(
    "q_events_value_percentiles",
    TYPE_PCT_SQL,
    "latency-style per-type value percentiles (p50/p95/p99): exact "
    "interpolated percentile == quantile_cont over identical parquet "
    "doubles (the q_price_percentiles contract), grouped by type",
)
def q_events_value_percentiles(spark, sf_dir):
    return _sql_query(TYPE_PCT_SPARK_SQL, ("events",))(spark, sf_dir)


#: Spark DIV vs DuckDB // again; every operand is an exact BIGINT of
#: cents, so the ppm share is integer-exact in both engines (DECIMAL
#: division was tried first and the engines pick different result
#: scales — floor-div sidesteps the type negotiation entirely).
PART_SHARE_CORE = """
WITH r AS (
  SELECT p_type,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type
),
tot AS (SELECT sum(cents) AS t FROM r)
SELECT p_type,
       round(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
       CAST(cents * 1000000 {DIV} t AS BIGINT) AS share_ppm
FROM r, tot
"""


@register(
    "q_part_type_share",
    PART_SHARE_CORE.format(DIV="//"),
    "revenue share per part type: BIGINT-cents sums with the share as "
    "an exact integer ppm (cents x 1e6 floor-div total) — no float "
    "division at all; part dim broadcasts, one partial-agg shuffle",
)
def q_part_type_share(spark, sf_dir):
    return _sql_query(
        PART_SHARE_CORE.format(DIV="DIV"), ("lineitem", "part")
    )(spark, sf_dir)


PROPS_HIST_SQL = """
SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
            AS BIGINT) AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE props IS NOT NULL
GROUP BY CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
"""

PROPS_HIST_SPARK_SQL = """
SELECT CAST(CAST(get_json_object(props, '$.k') AS BIGINT) DIV 10
            AS BIGINT) AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_events
FROM events WHERE props IS NOT NULL
GROUP BY CAST(get_json_object(props, '$.k') AS BIGINT) DIV 10
"""


@register(
    "q_events_props_histogram",
    PROPS_HIST_SQL,
    "schema-on-read histogram of the JSON property: decade buckets of "
    "the extracted integer (get_json_object == json_extract_string), "
    "one partial-agg shuffle onto the bucket domain",
)
def q_events_props_histogram(spark, sf_dir):
    return _sql_query(PROPS_HIST_SPARK_SQL, ("events",))(spark, sf_dir)


CUST_RANGE_SQL = """
SELECT CAST(o_custkey AS BIGINT) AS custkey,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS min_order,
       round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS max_order,
       round(CAST(max(CAST(o_totalprice AS DECIMAL(18,2)))
                  - min(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS order_range
FROM orders GROUP BY o_custkey HAVING count(*) >= 2
"""


@register(
    "q_customer_order_range",
    CUST_RANGE_SQL,
    "per-customer order-value spread (repeat customers only): DECIMAL "
    "extrema and exact difference — one partial-agg shuffle keyed by "
    "customer",
)
def q_customer_order_range(spark, sf_dir):
    return _sql_query(CUST_RANGE_SQL, ("orders",))(spark, sf_dir)


_DISC = (
    "CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))"
)

ABC_SQL = f"""
WITH pr AS (
  SELECT l_partkey, sum({_DISC}) AS rev
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, rev,
         sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS cum,
         sum(rev) OVER () AS tot
  FROM pr
)
SELECT l_partkey AS partkey, CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CASE WHEN cum * 100 <= tot * 80 THEN 'A'
            WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS abc_class
FROM ranked
"""


@register(
    "q_abc_analysis",
    ABC_SQL,
    "ABC inventory classification: parts bucketed by cumulative revenue "
    "share (A <= 80%, B <= 95%, C rest) — the running total is an "
    "exact-DECIMAL prefix sum with a total (rev, partkey) tiebreak, and "
    "the class boundaries cross-multiply (cum*100 <= tot*80) so no "
    "float division ever decides a bucket",
)
def q_abc_analysis(spark, sf_dir):
    return _sql_query(ABC_SQL, ("lineitem",))(spark, sf_dir)


RETURN_RATE_SQL = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS return_rate
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@register(
    "q_brand_return_rate",
    RETURN_RATE_SQL,
    "per-brand return rate: share of lineitems flagged 'R' — broadcast "
    "dimension join (part is small), integer-exact numerator, one "
    "float division rounded 6dp",
)
def q_brand_return_rate(spark, sf_dir):
    return _sql_query(RETURN_RATE_SQL, ("lineitem", "part"))(spark, sf_dir)


BREADTH_SQL = """
SELECT l_suppkey AS suppkey,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS gross
FROM lineitem GROUP BY l_suppkey
"""


@register(
    "q_supplier_part_breadth",
    BREADTH_SQL,
    "supplier catalog breadth: distinct parts + distinct orders served "
    "per supplier with DECIMAL-exact gross — two distinct aggregates "
    "share one shuffle on the supplier key (Catalyst expand), no "
    "per-distinct re-scan",
)
def q_supplier_part_breadth(spark, sf_dir):
    return _sql_query(BREADTH_SQL, ("lineitem",))(spark, sf_dir)


SIZE_PROFILE_SQL = """
SELECT CAST(p_size AS BIGINT) AS p_size,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6) AS avg_price,
       min(p_retailprice) AS min_price,
       max(p_retailprice) AS max_price
FROM part GROUP BY p_size
"""


@register(
    "q_part_size_profile",
    SIZE_PROFILE_SQL,
    "part-size pricing profile: count + DECIMAL-exact mean + raw "
    "passthrough extremes per size — single map-side-combinable "
    "aggregate over the dimension table",
)
def q_part_size_profile(spark, sf_dir):
    return _sql_query(SIZE_PROFILE_SQL, ("part",))(spark, sf_dir)


PRIORITY_MIX_SQL = """
WITH m AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mon,
         o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2, 3
)
SELECT yr, mon, o_orderpriority, CAST(n AS BIGINT) AS n_orders,
       round(CAST(n AS DOUBLE)
             / sum(n) OVER (PARTITION BY yr, mon), 6) AS share
FROM m
"""


@register(
    "q_monthly_priority_mix",
    PRIORITY_MIX_SQL,
    "order-priority mix by month: per-priority share of each month's "
    "orders — integer counts, one windowed total per month, a single "
    "rounded division; the window runs over the month-level aggregate "
    "(tiny), never raw orders",
)
def q_monthly_priority_mix(spark, sf_dir):
    return _sql_query(PRIORITY_MIX_SQL, ("orders",))(spark, sf_dir)


BALANCE_DECILES_SQL = """
WITH d AS (
  SELECT c_acctbal,
         ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS dec
  FROM customer
)
SELECT CAST(dec AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_customers,
       min(c_acctbal) AS min_bal,
       max(c_acctbal) AS max_bal
FROM d GROUP BY dec
"""


@register(
    "q_customer_balance_deciles",
    BALANCE_DECILES_SQL,
    "customer account-balance deciles: ntile(10) with a (balance, "
    "custkey) total order so bucket edges are deterministic; min/max "
    "are raw passthrough doubles",
)
def q_customer_balance_deciles(spark, sf_dir):
    return _sql_query(BALANCE_DECILES_SQL, ("customer",))(spark, sf_dir)


NATION_BALANCE_SQL = """
WITH c AS (
  SELECT c_nationkey AS nk, count(*) AS nc,
         sum(CAST(c_acctbal AS DECIMAL(18,2))) AS cb
  FROM customer GROUP BY 1
),
s AS (
  SELECT s_nationkey AS nk, count(*) AS ns,
         sum(CAST(s_acctbal AS DECIMAL(18,2))) AS sb
  FROM supplier GROUP BY 1
)
SELECT n_name,
       CAST(coalesce(nc, 0) AS BIGINT) AS n_customers,
       round(coalesce(CAST(cb AS DOUBLE), CAST(0 AS DOUBLE)), 2)
         AS customer_balance,
       CAST(coalesce(ns, 0) AS BIGINT) AS n_suppliers,
       round(coalesce(CAST(sb AS DOUBLE), CAST(0 AS DOUBLE)), 2)
         AS supplier_balance
FROM nation
LEFT JOIN c ON n_nationkey = c.nk
LEFT JOIN s ON n_nationkey = s.nk
"""


@register(
    "q_nation_balance_profile",
    NATION_BALANCE_SQL,
    "per-nation customer vs supplier footprint: two pre-aggregates "
    "LEFT-joined onto the nation dimension (both sides broadcast-sized) "
    "— empty nations surface with zeroed DECIMAL-exact balances instead "
    "of vanishing",
)
def q_nation_balance_profile(spark, sf_dir):
    return _sql_query(
        NATION_BALANCE_SQL, ("nation", "customer", "supplier")
    )(spark, sf_dir)


DISCOUNT_TAX_GRID_SQL = f"""
SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
       CAST(round(l_tax * 100) AS BIGINT) AS tax_pct,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(round(sum({_DISC} *
             (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))), 2)
             AS DOUBLE) AS net_revenue
FROM lineitem GROUP BY 1, 2
"""


@register(
    "q_discount_tax_grid",
    DISCOUNT_TAX_GRID_SQL,
    "discount x tax percentage grid: lineitems bucketed by integer "
    "percentage points (round() snaps the float percentages; both "
    "engines round the identical doubles) with DECIMAL-exact net "
    "revenue per cell — an 11x9 result from one scan",
)
def q_discount_tax_grid(spark, sf_dir):
    return _sql_query(DISCOUNT_TAX_GRID_SQL, ("lineitem",))(spark, sf_dir)


QP_CORR_SQL = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sq,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS DOUBLE) AS sqq,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sp,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS spp,
         CAST(sum(CAST(l_quantity AS BIGINT) *
                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sqp
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n_lines,
       round((n * sqp - sq * sp) /
             sqrt((n * sqq - sq * sq) * (n * spp - sp * sp)), 6)
         AS qty_price_corr
FROM s
"""


@register(
    "q_quantity_price_corr",
    QP_CORR_SQL,
    "Pearson correlation of quantity vs extended price per return flag "
    "— every sum is exact BIGINT/DECIMAL arithmetic (quantities are "
    "integral, prices 2dp), converted to DOUBLE only for the final "
    "closed-form expression, written op-for-op identically in both "
    "engines (native corr() streams differently) and rounded 6dp",
)
def q_quantity_price_corr(spark, sf_dir):
    return _sql_query(QP_CORR_SQL, ("lineitem",))(spark, sf_dir)


REGION_QUARTER_SQL = """
SELECT r_name,
       CAST(year(o_orderdate) AS BIGINT) AS yr,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2, 3
"""


@register(
    "q_revenue_region_quarter",
    REGION_QUARTER_SQL,
    "revenue by region x quarter: the orders fact joined up the "
    "customer->nation->region snowflake (all dimension sides broadcast) "
    "with DECIMAL-exact quarterly totals",
)
def q_revenue_region_quarter(spark, sf_dir):
    return _sql_query(
        REGION_QUARTER_SQL, ("orders", "customer", "nation", "region")
    )(spark, sf_dir)


TOP3_PARTS_SQL = """
WITH pr AS (
  SELECT p_brand, l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
rk AS (
  SELECT p_brand, l_partkey AS partkey, rev,
         row_number() OVER (
           PARTITION BY p_brand ORDER BY rev DESC, l_partkey
         ) AS rn
  FROM pr
)
SELECT p_brand, partkey, round(CAST(rev AS DOUBLE), 2) AS revenue,
       CAST(rn AS BIGINT) AS rank
FROM rk WHERE rn <= 3
"""


@register(
    "q_top3_parts_per_brand",
    TOP3_PARTS_SQL,
    "top-3 revenue parts per brand: windowed row_number over the "
    "(brand, part) aggregate with DECIMAL-exact ordering and a partkey "
    "tiebreak — the window input is already reduced to one row per "
    "part, so the sort is over the aggregate, not the fact table",
)
def q_top3_parts_per_brand(spark, sf_dir):
    return _sql_query(TOP3_PARTS_SQL, ("lineitem", "part"))(spark, sf_dir)


SUPPLIER_SHARE_SQL = f"""
WITH sr AS (
  SELECT s_nationkey, sum({_DISC}) AS rev
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY 1
)
SELECT n_name, CAST(round(rev, 2) AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / CAST(sum(rev) OVER () AS DOUBLE), 6)
         AS share
FROM sr JOIN nation ON s_nationkey = n_nationkey
"""


@register(
    "q_supplier_nation_share",
    SUPPLIER_SHARE_SQL,
    "each nation's share of global supplier revenue: DECIMAL-exact "
    "numerator and denominator (one unpartitioned window over the "
    "25-row nation aggregate), single rounded division",
)
def q_supplier_nation_share(spark, sf_dir):
    return _sql_query(SUPPLIER_SHARE_SQL, ("lineitem", "supplier", "nation"))(
        spark, sf_dir
    )


def _events_sql(sql: str):
    """Shared text; swap the epoch fn for Spark (q_event_sessions idiom)."""
    return _sql_query(
        sql.replace("floor(epoch(ts))", "unix_timestamp(ts)"), ("events",)
    )


#: 30-min-gap sessionization (identical machinery to SESSIONS_SQL)
_SESSIONS_CTE = """
e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_id
  FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) > 1800
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, min(ts) AS start_ts, count(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
"""

BOUNCE_SQL = f"""
WITH {_SESSIONS_CTE}
SELECT CAST(floor(start_ts / 86400) AS BIGINT) AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bounces,
       round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS bounce_rate
FROM per_session GROUP BY 1
"""


@register(
    "q_event_bounce_rate",
    BOUNCE_SQL,
    "daily bounce rate: share of 30-min-gap sessions containing exactly "
    "one event — sessionization via lag + running-sum windows (the "
    "q_event_sessions machinery) then an integer-exact daily rollup",
)
def q_event_bounce_rate(spark, sf_dir):
    return _events_sql(BOUNCE_SQL)(spark, sf_dir)


DWELL_SQL = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts
  FROM events
),
gaps AS (
  SELECT event_type,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) - ts
           AS gap_s
  FROM e
)
SELECT event_type,
       CAST(count(gap_s) AS BIGINT) AS n_gaps,
       CAST(min(gap_s) AS BIGINT) AS min_gap_s,
       CAST(max(gap_s) AS BIGINT) AS max_gap_s,
       round(CAST(sum(gap_s) AS DOUBLE) / count(gap_s), 6) AS avg_gap_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY event_type
"""


@register(
    "q_event_dwell_time",
    DWELL_SQL,
    "dwell time after each event type: seconds until the same user's "
    "next event — lead window keyed by (ts, event_id) so simultaneous "
    "events are deterministic; integer-exact sums, one rounded division",
)
def q_event_dwell_time(spark, sf_dir):
    return _events_sql(DWELL_SQL)(spark, sf_dir)


PATHS_SQL = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts
  FROM events
),
tri AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path,
       CAST(count(*) AS BIGINT) AS n_paths
FROM tri WHERE e3 IS NOT NULL
GROUP BY 1 HAVING count(*) >= 5
"""


@register(
    "q_event_path_top",
    PATHS_SQL,
    "frequent 3-step user journeys: event-type trigrams per user in "
    "(ts, event_id) order with support >= 5 — both lead offsets share "
    "one window sort; the support threshold replaces a top-k so no "
    "count-tie ordering can flip the result",
)
def q_event_path_top(spark, sf_dir):
    return _events_sql(PATHS_SQL)(spark, sf_dir)


ENTROPY_SQL = """
WITH t AS (
  SELECT event_type, count(*) AS n FROM events GROUP BY event_type
),
tot AS (SELECT sum(n) AS total FROM t)
SELECT event_type,
       CAST(n AS BIGINT) AS n_events,
       round(CAST(n AS DOUBLE) / total, 6) AS share,
       round(-(CAST(n AS DOUBLE) / total) * ln(CAST(n AS DOUBLE) / total),
             6) AS entropy_term
FROM t, tot
"""


@register(
    "q_event_type_entropy",
    ENTROPY_SQL,
    "event-type distribution entropy, reported per type: share and "
    "-p*ln(p) term from integer-exact counts — the terms stay per-row "
    "(no cross-term float sum) so 6dp rounding is engine-stable; the "
    "scalar total joins via a 1-row broadcast",
)
def q_event_type_entropy(spark, sf_dir):
    return _events_sql(ENTROPY_SQL)(spark, sf_dir)


HOUR_OF_WEEK_SQL = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts, value FROM events
)
SELECT (CAST(floor(ts / 86400) AS BIGINT) + 4) % 7 AS dow,
       CAST(floor(ts % 86400 / 3600) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100,
             2) AS total_value
FROM e GROUP BY 1, 2
"""


@register(
    "q_event_hour_of_week",
    HOUR_OF_WEEK_SQL,
    "hour-of-week activity grid: day-of-week from pure epoch arithmetic "
    "((d+4)%7, Thursday-anchored) — sidesteps the engines' different "
    "dayofweek() conventions entirely; values snap to integer cents "
    "before summing so the totals are order-exact",
)
def q_event_hour_of_week(spark, sf_dir):
    return _events_sql(HOUR_OF_WEEK_SQL)(spark, sf_dir)


LIFESPAN_SQL = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events
),
u AS (
  SELECT user_id,
         CAST(floor(max(ts) / 86400) - floor(min(ts) / 86400) AS BIGINT)
           AS span_days,
         count(*) AS n
  FROM e GROUP BY user_id
)
SELECT span_days,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS n_events
FROM u GROUP BY span_days
"""


@register(
    "q_event_user_lifespan",
    LIFESPAN_SQL,
    "user lifespan histogram: whole days between a user's first and "
    "last event (calendar-day aligned) — two integer aggregates, no "
    "floats anywhere",
)
def q_event_user_lifespan(spark, sf_dir):
    return _events_sql(LIFESPAN_SQL)(spark, sf_dir)


PEAK_SQL = """
WITH e AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) AS ts, user_id FROM events
)
SELECT CAST(ts - ts % 600 AS BIGINT) AS bucket_ts,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM e GROUP BY 1 HAVING count(*) >= 2
"""


@register(
    "q_event_peak_minutes",
    PEAK_SQL,
    "peak-load windows: 10-min buckets receiving >= 2 events, with "
    "distinct-user concurrency — integer-only, the HAVING threshold "
    "replaces a top-k so count ties cannot reorder the result",
)
def q_event_peak_minutes(spark, sf_dir):
    return _events_sql(PEAK_SQL)(spark, sf_dir)


INTERARRIVAL_SQL = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts
  FROM events
),
gaps AS (
  SELECT event_type,
         ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS gap_s
  FROM e
)
SELECT event_type,
       CASE WHEN gap_s < 60 THEN 'a_under_1m'
            WHEN gap_s < 600 THEN 'b_1m_10m'
            WHEN gap_s < 3600 THEN 'c_10m_1h'
            WHEN gap_s < 86400 THEN 'd_1h_1d'
            ELSE 'e_over_1d' END AS band,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "q_event_interarrival_bands",
    INTERARRIVAL_SQL,
    "inter-arrival time distribution: per-user gaps bucketed into "
    "log-ish integer bands by preceding event type — band edges are "
    "integer comparisons on integer seconds, fully order-exact",
)
def q_event_interarrival_bands(spark, sf_dir):
    return _events_sql(INTERARRIVAL_SQL)(spark, sf_dir)


FIRST_TOUCH_SQL = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS ts
  FROM events
),
ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM e
)
SELECT event_type AS first_event_type,
       CAST(count(*) AS BIGINT) AS n_users
FROM ranked WHERE rn = 1
GROUP BY 1
"""


@register(
    "q_event_first_touch",
    FIRST_TOUCH_SQL,
    "first-touch attribution: each user's earliest event type ((ts, "
    "event_id)-deterministic) counted by type — the acquisition-channel "
    "split every funnel report starts from",
)
def q_event_first_touch(spark, sf_dir):
    return _events_sql(FIRST_TOUCH_SQL)(spark, sf_dir)


HOLDOUT_SQL = """
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(CAST(sum(converted) AS DOUBLE) / count(*), 6) AS conversion
FROM u GROUP BY arm
"""


@register(
    "q_event_holdout_lift",
    HOLDOUT_SQL,
    "A/B scaffold: users deterministically split into two arms "
    "(user_id parity — the hash-route stand-in), per-arm purchase "
    "conversion from integer-exact counts with one rounded division — "
    "the uplift readout every experiment pipeline ends in",
)
def q_event_holdout_lift(spark, sf_dir):
    return _events_sql(HOLDOUT_SQL)(spark, sf_dir)


SESSION_DEPTH_SQL = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts, event_id
  FROM events
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) > 1800
              OR lag(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id,
         sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
),
depth AS (
  SELECT user_id, session_id, count(*) AS n_events
  FROM sessions GROUP BY user_id, session_id
)
SELECT CAST(count(*) AS BIGINT) AS n_sessions,
       round(quantile_cont(n_events, 0.5), 6) AS p50_depth,
       round(quantile_cont(n_events, 0.9), 6) AS p90_depth,
       round(quantile_cont(n_events, 0.99), 6) AS p99_depth
FROM depth
"""

SESSION_DEPTH_SPARK_SQL = SESSION_DEPTH_SQL.replace(
    "floor(epoch(ts))", "unix_timestamp(ts)"
).replace("quantile_cont(n_events,", "percentile(n_events,")


@register(
    "q_event_session_depth",
    SESSION_DEPTH_SQL,
    "session-depth percentiles: events per 30-min-gap session at "
    "p50/p90/p99 — Spark `percentile` and DuckDB `quantile_cont` share "
    "R-7 linear interpolation over identical integer depths (the "
    "q_price_percentiles contract)",
)
def q_event_session_depth(spark, sf_dir):
    return _sql_query(SESSION_DEPTH_SPARK_SQL, ("events",))(spark, sf_dir)


STREAK_SQL = """
WITH e AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
),
runs AS (
  SELECT user_id, rn,
         rn - row_number() OVER (PARTITION BY user_id
                                 ORDER BY rn) AS grp
  FROM e WHERE event_type = 'error'
),
streaks AS (
  SELECT user_id, count(*) AS streak_len
  FROM runs GROUP BY user_id, grp
),
per_user AS (
  SELECT user_id, max(streak_len) AS max_streak FROM streaks
  GROUP BY user_id
)
SELECT CAST(max_streak AS BIGINT) AS max_streak,
       CAST(count(*) AS BIGINT) AS n_users
FROM per_user GROUP BY max_streak
"""


@register(
    "q_event_error_streaks",
    STREAK_SQL,
    "error-burst histogram: each user's longest run of consecutive "
    "error events (gaps-and-islands on the (ts, event_id)-ordered "
    "stream), bucketed by streak length — pure integer window "
    "arithmetic, the incident-detection shape",
)
def q_event_error_streaks(spark, sf_dir):
    return _sql_query(
        STREAK_SQL, ("events",)
    )(spark, sf_dir)


VALUE_BANDS_SQL = """
SELECT c_mktsegment,
       CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) < 100000 THEN 'a_under_100k'
            WHEN CAST(o_totalprice AS DECIMAL(18,2)) < 250000 THEN 'b_100_250k'
            WHEN CAST(o_totalprice AS DECIMAL(18,2)) < 400000 THEN 'c_250_400k'
            ELSE 'd_over_400k' END AS value_band,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


@register(
    "q_order_value_bands",
    VALUE_BANDS_SQL,
    "order-value bands by market segment: DECIMAL band edges (no float "
    "compare can straddle a boundary) over the broadcast customer "
    "dimension, DECIMAL-exact revenue per cell",
)
def q_order_value_bands(spark, sf_dir):
    return _sql_query(VALUE_BANDS_SQL, ("orders", "customer"))(spark, sf_dir)


NEW_CUSTOMERS_SQL = """
WITH first_order AS (
  SELECT o_custkey,
         min(CAST(year(o_orderdate) AS BIGINT) * 100
             + CAST(month(o_orderdate) AS BIGINT)) AS first_month
  FROM orders GROUP BY o_custkey
),
m AS (
  SELECT first_month, count(*) AS n_new FROM first_order GROUP BY 1
)
SELECT first_month,
       CAST(n_new AS BIGINT) AS n_new_customers,
       CAST(sum(n_new) OVER (ORDER BY first_month) AS BIGINT)
         AS cumulative_customers
FROM m
"""


@register(
    "q_cumulative_new_customers",
    NEW_CUSTOMERS_SQL,
    "customer-acquisition curve: first-order month per customer "
    "(yyyymm integer key), new customers per month, and the running "
    "total — integer-only, the window runs over the month-level "
    "aggregate",
)
def q_cumulative_new_customers(spark, sf_dir):
    return _sql_query(NEW_CUSTOMERS_SQL, ("orders",))(spark, sf_dir)


REPEAT_RATE_SQL = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
),
joined AS (
  SELECT n_nationkey, n_name, n_orders
  FROM per_cust
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_buyers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS repeat_rate
FROM joined GROUP BY n_name
"""


@register(
    "q_repeat_customer_rate",
    REPEAT_RATE_SQL,
    "repeat-purchase rate per nation: buyers with >= 2 orders over all "
    "buyers — per-customer counts shuffle once, dimensions broadcast, "
    "one rounded division per nation",
)
def q_repeat_customer_rate(spark, sf_dir):
    return _sql_query(REPEAT_RATE_SQL, ("orders", "customer", "nation"))(
        spark, sf_dir
    )


ORDER_DOW_SQL = """
WITH o AS (
  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT) AS ts,
         CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders
)
SELECT (CAST(floor(ts / 86400) AS BIGINT) + 4) % 7 AS dow,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(CAST(sum(price) AS DOUBLE), 2) AS revenue
FROM o GROUP BY 1
"""


@register(
    "q_order_dow_profile",
    ORDER_DOW_SQL,
    "order placement by day of week: epoch-arithmetic dow ((d+4)%7, "
    "Thursday-anchored — the engines' dayofweek() conventions differ) "
    "with DECIMAL-exact revenue — the weekly staffing/capacity profile",
)
def q_order_dow_profile(spark, sf_dir):
    return _sql_query(
        ORDER_DOW_SQL.replace("floor(epoch(o_orderdate))",
                              "unix_timestamp(o_orderdate)"),
        ("orders",),
    )(spark, sf_dir)


PART_TOKENS_SQL = """
WITH t AS (
  SELECT unnest(string_split(p_name, ' ')) AS tok,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price
  FROM part
)
SELECT tok,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(price) AS DOUBLE) / count(*), 6) AS avg_price
FROM t GROUP BY tok
"""

PART_TOKENS_SPARK_SQL = """
WITH t AS (
  SELECT explode(split(p_name, ' ')) AS tok,
         CAST(p_retailprice AS DECIMAL(18,2)) AS price
  FROM part
)
SELECT tok,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(CAST(sum(price) AS DOUBLE) / count(*), 6) AS avg_price
FROM t GROUP BY tok
"""


@register(
    "q_part_name_tokens",
    PART_TOKENS_SQL,
    "part-name vocabulary: adjective/noun tokens of p_name with counts "
    "and DECIMAL-exact mean retail price — the catalog-taxonomy "
    "profile (are 'large' parts really pricier)",
)
def q_part_name_tokens(spark, sf_dir):
    return _sql_query(PART_TOKENS_SPARK_SQL, ("part",))(spark, sf_dir)


BASKET_VALUE_SQL = """
WITH width AS (
  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(n_lines AS BIGINT) AS n_lines,
       CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) < 100000
              THEN 'a_under_100k'
            WHEN CAST(o_totalprice AS DECIMAL(18,2)) < 250000
              THEN 'b_100_250k'
            ELSE 'c_over_250k' END AS value_band,
       CAST(count(*) AS BIGINT) AS n_orders
FROM orders JOIN width ON o_orderkey = l_orderkey
GROUP BY 1, 2
"""


@register(
    "q_basket_value_matrix",
    BASKET_VALUE_SQL,
    "basket width x order value interaction: line count joined back "
    "onto the order header, bucketed by DECIMAL value bands — do wide "
    "baskets drive big orders, the 7x3 matrix from two integer "
    "aggregates",
)
def q_basket_value_matrix(spark, sf_dir):
    return _sql_query(BASKET_VALUE_SQL, ("orders", "lineitem"))(spark, sf_dir)


NATION_TYPE_SQL = """
WITH rev AS (
  SELECT c_nationkey, p_type,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
),
rk AS (
  SELECT c_nationkey, p_type, rev,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY rev DESC, p_type) AS rn
  FROM rev
)
SELECT n_name, p_type, CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CAST(rn AS BIGINT) AS rank
FROM rk JOIN nation ON c_nationkey = n_nationkey
WHERE rn <= 2
"""


@register(
    "q_nation_type_affinity",
    NATION_TYPE_SQL,
    "demand affinity: each nation's top-2 part types by customer "
    "revenue — DECIMAL-exact ordering with a type-name tiebreak, the "
    "window over the (nation, type) aggregate; all dimensions broadcast",
)
def q_nation_type_affinity(spark, sf_dir):
    return _sql_query(
        NATION_TYPE_SQL, ("lineitem", "orders", "customer", "part", "nation")
    )(spark, sf_dir)


SUPPLIER_MONTHS_SQL = """
SELECT l_suppkey AS suppkey,
       CAST(count(DISTINCT CAST(year(l_shipdate) AS BIGINT) * 100
                  + CAST(month(l_shipdate) AS BIGINT)) AS BIGINT)
         AS active_months,
       CAST(min(CAST(year(l_shipdate) AS BIGINT) * 100
                + CAST(month(l_shipdate) AS BIGINT)) AS BIGINT)
         AS first_month,
       CAST(max(CAST(year(l_shipdate) AS BIGINT) * 100
                + CAST(month(l_shipdate) AS BIGINT)) AS BIGINT)
         AS last_month
FROM lineitem GROUP BY l_suppkey
"""


@register(
    "q_supplier_active_months",
    SUPPLIER_MONTHS_SQL,
    "supplier activity span: distinct shipping months (yyyymm integer "
    "keys) with first/last — the churn/tenure profile; one distinct "
    "aggregate keyed by supplier",
)
def q_supplier_active_months(spark, sf_dir):
    return _sql_query(SUPPLIER_MONTHS_SQL, ("lineitem",))(spark, sf_dir)


BREADTH_EVENTS_SQL = """
WITH u AS (
  SELECT user_id, count(DISTINCT event_type) AS n_types
  FROM events GROUP BY user_id
)
SELECT CAST(n_types AS BIGINT) AS n_types,
       CAST(count(*) AS BIGINT) AS n_users
FROM u GROUP BY n_types
"""


@register(
    "q_event_type_breadth",
    BREADTH_EVENTS_SQL,
    "engagement breadth histogram: distinct event types touched per "
    "user (1 = single-feature users, 5 = full-surface users) — two "
    "integer aggregates, the second over a 5-value domain",
)
def q_event_type_breadth(spark, sf_dir):
    return _sql_query(BREADTH_EVENTS_SQL, ("events",))(spark, sf_dir)


LINENUMBER_SQL = """
SELECT CAST(l_linenumber AS BIGINT) AS linenumber,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 6) AS avg_price,
       round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*),
             6) AS avg_qty
FROM lineitem GROUP BY l_linenumber
"""


@register(
    "q_order_linenumber_decay",
    LINENUMBER_SQL,
    "order-composition profile by line position (1..7): do later lines "
    "carry smaller quantities/prices — DECIMAL/BIGINT-exact sums, two "
    "rounded divisions over a 7-row domain",
)
def q_order_linenumber_decay(spark, sf_dir):
    return _sql_query(LINENUMBER_SQL, ("lineitem",))(spark, sf_dir)


COVERAGE_SQL = """
WITH cells AS (
  SELECT DISTINCT p_brand, p_size FROM part
),
dims AS (
  SELECT count(DISTINCT p_brand) AS n_brands,
         count(DISTINCT p_size) AS n_sizes
  FROM part
)
SELECT CAST(n_brands AS BIGINT) AS n_brands,
       CAST(n_sizes AS BIGINT) AS n_sizes,
       CAST((SELECT count(*) FROM cells) AS BIGINT) AS observed_cells,
       round(CAST((SELECT count(*) FROM cells) AS DOUBLE)
             / (n_brands * n_sizes), 6) AS coverage
FROM dims
"""


@register(
    "q_part_brand_size_coverage",
    COVERAGE_SQL,
    "catalog matrix coverage: observed (brand, size) cells against the "
    "full cross-domain — sparse coverage warns that brand x size "
    "drill-downs will hit empty cells; two tiny distinct aggregates "
    "and one scalar division",
)
def q_part_brand_size_coverage(spark, sf_dir):
    return _sql_query(COVERAGE_SQL, ("part",))(spark, sf_dir)


WHALE_SQL = """
WITH u AS (
  SELECT user_id,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events GROUP BY user_id
),
d AS (
  SELECT cents, ntile(10) OVER (ORDER BY cents DESC, user_id) AS dec
  FROM u
),
tot AS (SELECT sum(cents) AS total FROM u)
SELECT CAST(dec AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n_users,
       round(CAST(sum(cents) AS DOUBLE) / 100, 2) AS decile_value,
       round(CAST(sum(cents) AS DOUBLE) / total, 6) AS value_share
FROM d, tot GROUP BY dec, total
"""


@register(
    "q_event_whale_curve",
    WHALE_SQL,
    "whale curve: users ranked into value deciles by integer-cent "
    "totals (exact ordering — no float sum can flip a decile edge), "
    "each decile's share of total value — the concentration readout "
    "behind rate limits and capacity planning",
)
def q_event_whale_curve(spark, sf_dir):
    return _sql_query(WHALE_SQL, ("events",))(spark, sf_dir)


ORDER_GAP_BANDS_SQL = """
WITH o AS (
  SELECT o_custkey,
         CAST(floor(epoch(o_orderdate)) / 86400 AS BIGINT) AS day,
         o_orderkey
  FROM orders
),
g AS (
  SELECT day - lag(day) OVER (PARTITION BY o_custkey
                              ORDER BY day, o_orderkey) AS gap_days
  FROM o
)
SELECT CASE WHEN gap_days < 30 THEN 'a_under_30d'
            WHEN gap_days < 90 THEN 'b_30_90d'
            WHEN gap_days < 365 THEN 'c_90_365d'
            ELSE 'd_over_1y' END AS band,
       CAST(count(*) AS BIGINT) AS n_gaps
FROM g WHERE gap_days IS NOT NULL
GROUP BY 1
"""


@register(
    "q_order_gap_bands",
    ORDER_GAP_BANDS_SQL,
    "reorder-cadence distribution: day gaps between a customer's "
    "consecutive orders in integer bands (the histogram companion to "
    "q_median_order_gap's medians) — epoch-day subtraction with a "
    "(day, orderkey) deterministic order, integer band edges",
)
def q_order_gap_bands(spark, sf_dir):
    return _sql_query(
        ORDER_GAP_BANDS_SQL.replace("floor(epoch(o_orderdate))",
                                    "unix_timestamp(o_orderdate)"),
        ("orders",),
    )(spark, sf_dir)


ERR_HOUR_SQL = """
WITH e AS (
  SELECT CAST(floor(floor(epoch(ts)) % 86400 / 3600) AS BIGINT) AS hour,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
  FROM events
)
SELECT hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(is_err) AS BIGINT) AS n_errors,
       round(CAST(sum(is_err) AS DOUBLE) / count(*), 6) AS error_rate
FROM e GROUP BY hour
"""


@register(
    "q_events_error_rate_by_hour",
    ERR_HOUR_SQL,
    "time-of-day error profile: error share per hour-of-day across all "
    "days (systematic nightly-batch breakage shows here; the daily SLI "
    "row catches incidents instead) — integer epoch arithmetic with "
    "floor() before the cast, one rounded division per hour",
)
def q_events_error_rate_by_hour(spark, sf_dir):
    return _sql_query(
        ERR_HOUR_SQL.replace("floor(epoch(ts))", "unix_timestamp(ts)"),
        ("events",),
    )(spark, sf_dir)


BREADTH_CONV_SQL = """
WITH u AS (
  SELECT user_id,
         count(DISTINCT event_type) AS n_types,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           AS converted
  FROM events GROUP BY user_id
)
SELECT CAST(n_types AS BIGINT) AS n_types,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(converted) AS BIGINT) AS n_converted,
       round(CAST(sum(converted) AS DOUBLE) / count(*), 6)
         AS conversion_rate
FROM u GROUP BY n_types
"""


@register(
    "q_event_conversion_by_breadth",
    BREADTH_CONV_SQL,
    "does engagement breadth convert: purchase rate by distinct event "
    "types touched per user — the interaction readout on top of "
    "q_event_type_breadth (note n_types >= 1 includes the purchase "
    "type itself at the top bucket); integer counts, one rounded "
    "division per bucket",
)
def q_event_conversion_by_breadth(spark, sf_dir):
    return _sql_query(BREADTH_CONV_SQL, ("events",))(spark, sf_dir)


@register(
    "q_orders_global_revenue",
    """
    SELECT count(*) AS n_orders,
           CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100)
                AS BIGINT) AS total_cents
    FROM orders
    """,
    "the one-number revenue headline in integer cents: DECIMAL sum, "
    "floor to cents — the figure every other share row divides by, "
    "pinned on its own",
)
def q_q_orders_global_revenue(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.floor(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100
        ).cast("long").alias("total_cents"),
    )


@register(
    "q_customer_top10_balance",
    """
    SELECT c_custkey, c_acctbal FROM (
      SELECT c_custkey, c_acctbal,
             row_number() OVER (
               ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer
    ) t WHERE rnk <= 10
    """,
    "the ten richest customers — exact-value ranking with a key "
    "tie-break, the credit-desk shortlist",
)
def q_q_customer_top10_balance(spark, sf_dir):
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("c_custkey", "c_acctbal")
    )


@register(
    "q_zero_discount_share",
    """
    SELECT count(*) AS n_lines,
           sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) AS n_zero,
           sum(CASE WHEN l_discount = 0 THEN 1 ELSE 0 END) * 1000000
             // count(*) AS zero_ppm
    FROM lineitem
    """,
    "undiscounted share of the fact table as floor-scaled ppm — the "
    "promo-penetration complement",
)
def q_q_zero_discount_share(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    z = (F.col("l_discount") == 0).cast("long")
    # integer `div`, not floor(double /): bit-exact vs the oracle's
    # BIGINT `//` at any scale (VERDICT r8 item 1)
    ppm = F.expr(
        "(sum(CAST(l_discount = 0 AS LONG)) * 1000000) div count(1)"
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(z).alias("n_zero"),
        ppm.alias("zero_ppm"),
    )


@register(
    "q_event_dedup_watermark",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    "the at-least-once ingestion guard (dedup_within_watermark) driven "
    "in its batch form: on a bounded input the watermarked "
    "dropDuplicatesWithinWatermark degrades to plain dropDuplicates "
    "over the same keys — the batch/stream parity invariant the "
    "streaming suite asserts, here hash-checked against the distinct "
    "key set (only the keys are emitted: which physical row survives "
    "dedup is engine-internal)",
)
def q_event_dedup_watermark(spark, sf_dir):
    from kenshin_spark.streaming.sessions import dedup_within_watermark

    ev = load_table(spark, sf_dir, "events")
    return dedup_within_watermark(
        ev, ["user_id", "event_type"], ts_col="ts"
    ).select("user_id", "event_type")


@register(
    "q_conversion_attribution",
    """
    WITH c AS (
      SELECT user_id, ts AS click_ts FROM events
      WHERE event_type IN ('click', 'view')
    ),
    v AS (
      SELECT user_id, ts AS conv_ts FROM events
      WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT v.user_id, c.click_ts, v.conv_ts,
             CAST(floor(epoch(v.conv_ts)) - floor(epoch(c.click_ts))
                  AS BIGINT) AS lag_s
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.click_ts <= v.conv_ts
       AND c.click_ts >= v.conv_ts - INTERVAL 30 MINUTE
    )
    SELECT user_id,
           CAST(floor(epoch(conv_ts)) AS BIGINT) AS conv_ts,
           min(lag_s) AS best_lag_s,
           count(*) AS n_candidate_clicks
    FROM pairs GROUP BY 1, 2
    """,
    "the stream-stream attribution primitive (attribute_conversions) "
    "driven in its batch form: every (purchase, prior click/view) pair "
    "within a 30-minute lookback per user — the watermarked interval "
    "join whose time range bounds streaming state — reduced to the "
    "most-recent-click lag and candidate count per conversion; the "
    "oracle replays the interval join and reduction exactly",
)
def q_conversion_attribution(spark, sf_dir):
    from kenshin_spark.streaming.sessions import attribute_conversions

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type").isin("click", "view"))
    convs = ev.where(F.col("event_type") == "purchase")
    pairs = attribute_conversions(clicks, convs, window="30 minutes")
    return (
        pairs.groupBy(
            "user_id", F.unix_timestamp("conv_ts").alias("conv_ts")
        )
        .agg(
            F.min("lag_s").alias("best_lag_s"),
            F.count(F.lit(1)).alias("n_candidate_clicks"),
        )
    )


@register(
    "q_user_value_deciles",
    """
    WITH u AS (
      SELECT user_id,
             round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS total_value
      FROM events WHERE value IS NOT NULL
      GROUP BY 1
    )
    SELECT user_id, total_value,
           ntile(4) OVER (ORDER BY total_value DESC, user_id)
             AS quartile
    FROM u
    """,
    "per-user lifetime value quartiles: DECIMAL-accumulated value sums "
    "(order-exact — the money-math discipline, no float association "
    "drift) ranked into ntile(4) with a user_id tie-break so both "
    "engines assign identical buckets",
)
def q_q_user_value_deciles(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    u = (
        ev.where(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                6,
            ).alias("total_value")
        )
    )
    w = Window.orderBy(F.col("total_value").desc(), F.col("user_id"))
    return u.select(
        "user_id", "total_value", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "q_event_funnel_daily",
    """
    WITH e AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts
      FROM events
    ),
    s1 AS (
      SELECT user_id, min(ts) AS t_signup FROM e
      WHERE event_type = 'signup' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_view
      FROM e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'view'
        AND e.ts >= s1.t_signup AND e.ts <= s1.t_signup + 86400
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= s2.t_view AND e.ts <= s2.t_view + 86400
      GROUP BY 1
    )
    SELECT s1.user_id, s1.t_signup, s2.t_view, s3.t_purchase
    FROM s1
    LEFT JOIN s2 ON s1.user_id = s2.user_id
    LEFT JOIN s3 ON s1.user_id = s3.user_id
    """,
    "a second funnel shape through operators/funnel.py: first signup, "
    "first view within 24h of it, first purchase within 24h of that — "
    "per-step filtered user-keyed aggregates joined forward, NULLs "
    "from the first missed step on (activation funnel vs the "
    "registry's 7-day shopping funnel)",
)
def q_q_event_funnel_daily(spark, sf_dir):
    from kenshin_spark.operators.funnel import funnel

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("ts"),
    )
    out = funnel(ev, ["signup", "view", "purchase"], within=86400)
    return out.withColumnRenamed("user", "user_id")


@register(
    "q_events_late_watermark_audit",
    """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts,
             max(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS high_water
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           sum(CASE WHEN high_water - ts > 600 THEN 1 ELSE 0 END)
             AS late_10m,
           sum(CASE WHEN high_water - ts > 3600 THEN 1 ELSE 0 END)
             AS late_1h
    FROM e GROUP BY 1
    """,
    "watermark sizing audit — the question every streaming deployment "
    "answers before picking withWatermark bounds: replaying the stream "
    "in arrival order (event_id), how many events arrive more than "
    "10m/1h behind the running high-water mark and would be DROPPED at "
    "that delay; one running-max window pass, replayed exactly",
)
def q_q_events_late_watermark_audit(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("ts"),
    )
    w = Window.orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    e = ev.withColumn("high_water", F.max("ts").over(w))
    late = F.col("high_water") - F.col("ts")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum((late > 600).cast("long")).alias("late_10m"),
        F.sum((late > 3600).cast("long")).alias("late_1h"),
    )


@register(
    "q_events_value_quartiles_by_type",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           count(value) AS n
    FROM events GROUP BY 1
    """,
    "exact interpolated quartiles per event_type: Spark's percentile "
    "(exact, interpolating) against DuckDB's quantile_cont — the same "
    "a + (b-a)*frac arithmetic on the same sorted values, the "
    "discipline the render layer's median/percentile rows rely on",
)
def q_q_events_value_quartiles_by_type(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        F.count("value").alias("n"),
    )


@register(
    "q_segment_balance_profile",
    """
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_balance,
           sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS n_negative
    FROM customer GROUP BY 1
    """,
    "market-segment balance profile: DECIMAL-accumulated account "
    "balances (order-exact money math — float association drift is the "
    "cross-engine trap), negative-balance counts, one map-side-combined "
    "aggregate",
)
def q_q_segment_balance_profile(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total_balance"),
        F.sum((F.col("c_acctbal") < 0).cast("long")).alias("n_negative"),
    )


@register(
    "q_events_burstiness",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts FROM events
    ),
    w AS (
      SELECT user_id,
             count(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
             ) AS in_window
      FROM e
    )
    SELECT user_id, max(in_window) AS peak_10m, count(*) AS n_events
    FROM w GROUP BY 1
    """,
    "per-user burstiness: the maximum number of events inside any "
    "trailing 10-minute window (a RANGE frame over epoch seconds — "
    "the value-based window Spark and DuckDB define identically), the "
    "rate-limiter sizing statistic; integer counts end to end",
)
def q_q_events_burstiness(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_timestamp("ts").cast("long").alias("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(-600, Window.currentRow)
    )
    e = ev.withColumn("in_window", F.count(F.lit(1)).over(w))
    return e.groupBy("user_id").agg(
        F.max("in_window").alias("peak_10m"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_customer_recency_bands",
    """
    WITH mx AS (SELECT max(o_orderdate) AS now FROM orders),
    last_o AS (
      SELECT o_custkey, max(o_orderdate) AS last_order FROM orders
      GROUP BY 1
    )
    SELECT CASE WHEN datediff('day', last_order, now) <= 90 THEN '0-90'
                WHEN datediff('day', last_order, now) <= 365 THEN '91-365'
                ELSE '365+' END AS band,
           count(*) AS n_customers
    FROM last_o, mx GROUP BY 1
    """,
    "customer recency banding off the order stream's own high-water "
    "date: days since each customer's last order, banded into the "
    "retention cohorts a CRM pipeline feeds; integer day arithmetic "
    "on both engines",
)
def q_q_customer_recency_bands(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    now = orders.agg(F.max("o_orderdate").alias("now"))
    last_o = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order")
    )
    d = F.datediff("now", "last_order")
    band = (
        F.when(d <= 90, "0-90").when(d <= 365, "91-365").otherwise("365+")
    )
    return (
        last_o.crossJoin(F.broadcast(now))
        .select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "q_top_parts_by_margin",
    """
    WITH m AS (
      SELECT l_partkey,
             round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))))
                   AS DOUBLE), 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT p.p_type, p.p_partkey, m.revenue, m.n_lines,
             row_number() OVER (
               PARTITION BY p.p_type
               ORDER BY m.revenue DESC, p.p_partkey) AS rnk
      FROM m JOIN part p ON p.p_partkey = m.l_partkey
    )
    SELECT p_type, p_partkey, revenue, n_lines FROM r WHERE rnk <= 3
    """,
    "top-3 revenue parts per type: DECIMAL-exact discounted revenue "
    "per part (the TPC-H money-math discipline), broadcast-joined to "
    "the part dimension and ranked per type with a partkey tie-break",
)
def q_q_top_parts_by_margin(spark, sf_dir):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    m = li.groupBy("l_partkey").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    j = m.join(
        F.broadcast(part), m.l_partkey == part.p_partkey
    )
    w = Window.partitionBy("p_type").orderBy(
        F.col("revenue").desc(), F.col("p_partkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("p_type", "p_partkey", "revenue", "n_lines")
    )


@register(
    "q_orders_status_timeline",
    """
    SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
           o_orderstatus,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_value
    FROM orders GROUP BY 1, 2
    """,
    "order status timeline: monthly order counts and DECIMAL-exact "
    "value per status — the fulfilment monitoring rollup, one "
    "map-side-combined aggregate",
)
def q_q_orders_status_timeline(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total_value"),
    )


@register(
    "q_supplier_regional_coverage",
    """
    SELECT r.r_name,
           count(*) AS n_suppliers,
           count(DISTINCT s.s_nationkey) AS n_nations,
           round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_balance
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY 1
    """,
    "supplier coverage per region: the supplier->nation->region "
    "dimension chain (both dims broadcast — no shuffle beyond the "
    "final aggregate), nation breadth and DECIMAL-exact balances",
)
def q_q_supplier_regional_coverage(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    j = s.join(
        F.broadcast(n), s.s_nationkey == n.n_nationkey
    ).join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.countDistinct("s_nationkey").alias("n_nations"),
        F.round(
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double"),
            2,
        ).alias("total_balance"),
    )


@register(
    "q_events_error_budget_burn",
    """
    WITH d AS (
      SELECT CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS BIGINT)
               AS day,
             count(*) AS n_events,
             sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS n_errors
      FROM events GROUP BY 1
    )
    SELECT day, n_events, n_errors,
           n_errors * 100 > n_events AS over_budget,
           sum(greatest(n_errors * 100 - n_events, 0))
             OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS burn_scaled
    FROM d
    """,
    "SRE error-budget burn-down: daily error counts against a 1% "
    "budget in scaled-integer arithmetic (errors*100 vs events — no "
    "float ratios anywhere), with the running burn of over-budget "
    "excess — the page-the-oncall timeline; one aggregate + one "
    "ordered window",
)
def q_q_events_error_budget_burn(spark, sf_dir):
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(
            (F.unix_timestamp("ts").cast("long") / 86400)
            .cast("long")
            .alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("event_type") == "error").cast("long")).alias(
                "n_errors"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    excess = F.greatest(
        F.col("n_errors") * 100 - F.col("n_events"), F.lit(0)
    )
    return d.select(
        "day", "n_events", "n_errors",
        (F.col("n_errors") * 100 > F.col("n_events")).alias("over_budget"),
        F.sum(excess).over(w).alias("burn_scaled"),
    )


@register(
    "q_order_weekday_value_profile",
    """
    SELECT CAST((datediff('day', DATE '1970-01-01', o_orderdate) + 4) % 7 AS BIGINT)
             AS dow,
           count(*) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                 AS DOUBLE), 2) AS total_value
    FROM orders GROUP BY 1
    """,
    "order volume and DECIMAL-exact value by day of week — computed "
    "via Thursday-anchored epoch-day arithmetic ((days+4) %% 7) "
    "because dayofweek() conventions differ across engines: the "
    "cross-engine determinism rule this row pins",
)
def q_q_order_weekday_value_profile(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    dow = (
        (F.datediff("o_orderdate", F.lit("1970-01-01")) + 4) % 7
    ).cast("long")
    return orders.groupBy(dow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                "double"
            ),
            2,
        ).alias("total_value"),
    )


@register(
    "q_nation_conversion_rate",
    """
    WITH c AS (
      SELECT n.n_name, count(*) AS n_customers
      FROM customer cu JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1
    ),
    o AS (
      SELECT n.n_name, count(DISTINCT o.o_custkey) AS n_buyers
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY 1
    )
    SELECT c.n_name, c.n_customers,
           coalesce(o.n_buyers, 0) AS n_buyers,
           coalesce(o.n_buyers, 0) * 10000 // c.n_customers
             AS conversion_bps
    FROM c LEFT JOIN o ON o.n_name = c.n_name
    """,
    "customer-to-buyer conversion per nation in scaled-integer basis "
    "points (floor division — no float ratio, no rounding trap): the "
    "funnel number a growth dashboard tracks, nation dim broadcast "
    "on both joins",
)
def q_q_nation_conversion_rate(spark, sf_dir):
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = (
        cu.join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    b = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.countDistinct("o_custkey").alias("n_buyers"))
    )
    return c.join(b, "n_name", "left").select(
        "n_name", "n_customers",
        F.coalesce("n_buyers", F.lit(0)).alias("n_buyers"),
        F.floor(
            F.coalesce("n_buyers", F.lit(0)) * 10000 / F.col("n_customers")
        ).cast("long").alias("conversion_bps"),
    )


@register(
    "q_part_brand_type_matrix",
    """
    SELECT p_brand, p_type, count(*) AS n_parts,
           min(p_size) AS min_size, max(p_size) AS max_size
    FROM part GROUP BY 1, 2
    """,
    "brand x type catalog matrix with size envelopes — the "
    "two-dimensional group-by whose partial aggregation collapses "
    "map-side; exact integers",
)
def q_q_part_brand_type_matrix(spark, sf_dir):
    part = load_table(spark, sf_dir, "part")
    return part.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@register(
    "q_events_cohort_triangle",
    """
    WITH e AS (
      SELECT user_id,
             CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS BIGINT)
               AS day
      FROM events
    ),
    first_d AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1)
    SELECT f.cohort, e.day - f.cohort AS offset_days,
           count(DISTINCT e.user_id) AS n_users
    FROM e JOIN first_d f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
    "the cohort retention triangle over the event stream: users "
    "grouped by their FIRST active day, activity counted at each day "
    "offset — the classic growth-accounting matrix; first-touch "
    "derivation and distinct counts replay exactly",
)
def q_q_events_cohort_triangle(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        (F.unix_timestamp("ts").cast("long") / 86400).cast("long").alias(
            "day"
        ),
    )
    first_d = ev.groupBy("user_id").agg(F.min("day").alias("cohort"))
    return (
        ev.join(first_d, "user_id")
        .groupBy(
            "cohort", (F.col("day") - F.col("cohort")).alias("offset_days")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_lineitem_quantity_mode",
    """
    SELECT l_returnflag, quantity_mode, n_at_mode FROM (
      SELECT l_returnflag, l_quantity AS quantity_mode,
             count(*) AS n_at_mode,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY count(*) DESC, l_quantity) AS rnk
      FROM lineitem GROUP BY 1, 2
    ) t WHERE rnk = 1
    """,
    "modal order quantity per return flag: the most frequent quantity "
    "with a value tie-break — exact mode (not approx) via one "
    "grouped count + per-group rank",
)
def q_q_lineitem_quantity_mode(spark, sf_dir):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    counted = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n_at_mode")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("n_at_mode").desc(), F.col("l_quantity")
    )
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("quantity_mode"),
            "n_at_mode",
        )
    )


@register(
    "q_order_benford_audit",
    """
    SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS first_digit,
           count(*) AS n_orders
    FROM orders WHERE o_totalprice >= 1
    GROUP BY 1
    """,
    "Benford first-digit audit over order values: the "
    "fraud/synthetic-data screen — first digit of the floored total "
    "price counted per digit; string-of-integer extraction is "
    "identical on both engines (no float formatting in play)",
)
def q_q_order_benford_audit(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_totalprice") >= 1)
        .select(
            F.substring(
                F.floor("o_totalprice").cast("long").cast("string"), 1, 1
            ).alias("first_digit")
        )
        .groupBy("first_digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "q_supplier_balance_outliers",
    """
    WITH q AS (
      SELECT quantile_cont(s_acctbal, 0.25) AS q1,
             quantile_cont(s_acctbal, 0.75) AS q3
      FROM supplier
    )
    SELECT count(*) AS n_suppliers,
           sum(CASE WHEN s_acctbal < q1 - 1.5 * (q3 - q1)
                    THEN 1 ELSE 0 END) AS n_low_outliers,
           sum(CASE WHEN s_acctbal > q3 + 1.5 * (q3 - q1)
                    THEN 1 ELSE 0 END) AS n_high_outliers
    FROM supplier, q
    """,
    "IQR outlier screen over supplier balances: Tukey fences from "
    "exact interpolated quartiles (the same percentile arithmetic "
    "both engines share), integer outlier counts — the "
    "data-validation pass a dimension load runs",
)
def q_q_supplier_balance_outliers(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    q = s.agg(
        F.expr("percentile(s_acctbal, 0.25)").alias("q1"),
        F.expr("percentile(s_acctbal, 0.75)").alias("q3"),
    )
    j = s.crossJoin(F.broadcast(q))
    iqr = F.col("q3") - F.col("q1")
    return j.agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(
            (F.col("s_acctbal") < F.col("q1") - 1.5 * iqr).cast("long")
        ).alias("n_low_outliers"),
        F.sum(
            (F.col("s_acctbal") > F.col("q3") + 1.5 * iqr).cast("long")
        ).alias("n_high_outliers"),
    )


@register(
    "q_region_revenue_share",
    """
    WITH r AS (
      SELECT rg.r_name,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region rg ON rg.r_regionkey = n.n_regionkey
      GROUP BY 1
    ),
    c2 AS (SELECT r_name, CAST(floor(rev * 100) AS BIGINT) AS cents FROM r),
    t AS (SELECT sum(cents) AS total_cents FROM c2)
    SELECT c2.r_name,
           round(CAST(c2.cents AS DOUBLE) / 100.0, 2) AS revenue,
           c2.cents * 1000000 // t.total_cents AS share_ppm
    FROM c2, t
    """,
    "regional revenue share in DECIMAL end to end: discounted revenue "
    "accumulated exactly, shares as floor-divided DECIMAL ppm — no "
    "double enters until the display column; the five-table star join "
    "with every dimension broadcastable",
)
def q_q_region_revenue_share(spark, sf_dir):
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rg = load_table(spark, sf_dir, "region")
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(rg), n.n_regionkey == rg.r_regionkey)
    )
    r = j.groupBy("r_name").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("rev")
    )
    c2 = r.select(
        "r_name", F.floor(F.col("rev") * 100).cast("long").alias("cents")
    )
    t = c2.agg(F.sum("cents").alias("total_cents"))
    return c2.crossJoin(F.broadcast(t)).select(
        "r_name",
        F.round(F.col("cents").cast("double") / 100.0, 2).alias("revenue"),
        F.expr("cents * 1000000 DIV total_cents").alias("share_ppm"),
    )


@register(
    "q_customer_balance_activity_matrix",
    """
    WITH b AS (
      SELECT c_custkey,
             ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey)
               AS balance_q
      FROM customer
    ),
    o AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY 1)
    SELECT b.balance_q,
           CASE WHEN coalesce(o.n_orders, 0) = 0 THEN '0'
                WHEN o.n_orders <= 5 THEN '1-5'
                WHEN o.n_orders <= 15 THEN '6-15'
                ELSE '16+' END AS order_band,
           count(*) AS n_customers
    FROM b LEFT JOIN o ON o.o_custkey = b.c_custkey
    GROUP BY 1, 2
    """,
    "balance-quartile x activity-band customer matrix: ntile with a "
    "custkey tie-break (identical bucketing on both engines) crossed "
    "with order-count bands — the segmentation grid a CRM load "
    "produces; integers only",
)
def q_q_customer_balance_activity_matrix(spark, sf_dir):
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    b = c.select(
        "c_custkey",
        F.ntile(4)
        .over(Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey")))
        .alias("balance_q"),
    )
    oc = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    j = b.join(oc, b.c_custkey == oc.o_custkey, "left")
    n = F.coalesce("n_orders", F.lit(0))
    band = (
        F.when(n == 0, "0")
        .when(n <= 5, "1-5")
        .when(n <= 15, "6-15")
        .otherwise("16+")
    )
    return j.groupBy("balance_q", band.alias("order_band")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@register(
    "q_purchase_lag_bands",
    """
    WITH c AS (
      SELECT user_id, ts AS view_ts FROM events WHERE event_type = 'view'
    ),
    v AS (
      SELECT user_id, ts AS conv_ts FROM events
      WHERE event_type = 'purchase'
    ),
    pairs AS (
      SELECT CAST(floor(epoch(v.conv_ts)) AS BIGINT)
               - CAST(floor(epoch(c.view_ts)) AS BIGINT) AS lag_s
      FROM v JOIN c ON c.user_id = v.user_id
       AND c.view_ts <= v.conv_ts
       AND c.view_ts >= v.conv_ts - INTERVAL 1 HOUR
    )
    SELECT CASE WHEN lag_s <= 300 THEN '0-5m'
                WHEN lag_s <= 900 THEN '5-15m'
                WHEN lag_s <= 1800 THEN '15-30m'
                ELSE '30-60m' END AS band,
           count(*) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    "view-to-purchase latency bands: every (purchase, prior view "
    "within 1h) pair — the same bounded interval join the streaming "
    "attribution operator state-limits — banded into decision-time "
    "buckets; integer second arithmetic",
)
def q_q_purchase_lag_bands(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    c = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    )
    v = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("conv_ts")
    )
    pairs = v.join(
        c,
        (F.col("uid") == F.col("user_id"))
        & (F.col("view_ts") <= F.col("conv_ts"))
        & (F.col("view_ts") >= F.col("conv_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select(
        (
            F.unix_timestamp("conv_ts").cast("long")
            - F.unix_timestamp("view_ts").cast("long")
        ).alias("lag_s")
    )
    band = (
        F.when(F.col("lag_s") <= 300, "0-5m")
        .when(F.col("lag_s") <= 900, "5-15m")
        .when(F.col("lag_s") <= 1800, "15-30m")
        .otherwise("30-60m")
    )
    return pairs.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


@register(
    "q_top_supplier_per_nation",
    """
    SELECT n_name, s_suppkey, s_acctbal FROM (
      SELECT n.n_name, s.s_suppkey, s.s_acctbal,
             row_number() OVER (
               PARTITION BY n.n_name
               ORDER BY s.s_acctbal DESC, s.s_suppkey) AS rnk
      FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    ) t WHERE rnk = 1
    """,
    "highest-balance supplier per nation: per-group rank with a "
    "suppkey tie-break (identical winner on both engines), nation "
    "dim broadcast",
)
def q_q_top_supplier_per_nation(spark, sf_dir):
    from pyspark.sql import Window

    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") == 1)
        .select("n_name", "s_suppkey", "s_acctbal")
    )


@register(
    "q_ship_latency_bands",
    """
    SELECT CAST(strftime(o_orderdate, '%Y-%m') AS VARCHAR) AS month,
           CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30
                  THEN '0-30'
                WHEN datediff('day', o_orderdate, l_shipdate) <= 60
                  THEN '31-60'
                WHEN datediff('day', o_orderdate, l_shipdate) <= 90
                  THEN '61-90'
                ELSE '90+' END AS band,
           count(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
    "order-to-ship latency bands per order month: the lineitem-orders "
    "key join (co-partitioned on orderkey — the classic TPC-H join "
    "Catalyst plans as one shuffle pair) with integer day arithmetic "
    "banded into fulfilment SLas",
)
def q_q_ship_latency_bands(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    lat = F.datediff("l_shipdate", "o_orderdate")
    band = (
        F.when(lat <= 30, "0-30")
        .when(lat <= 60, "31-60")
        .when(lat <= 90, "61-90")
        .otherwise("90+")
    )
    return (
        j.select(
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
            band.alias("band"),
        )
        .groupBy("month", "band")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
