"""Relational/analytics rows over events + TPC-H tables: pivots, set ops,
as-of/range joins, stats profiles, graph analytics, funnel/rolling/SCD2/
outliers — plus their DuckDB oracle SQL.

Split out of kgx/queries.py in round 5 (VERDICT r4 #7) — bodies moved
verbatim; kgx.queries re-exports everything and holds the ordered
REGISTRY.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from kgx import aggregate as agg_mod
from kgx import (
    asof,
    assemble,
    dedup,
    graph,
    linking,
    mentions,
    multimodal,
    relations,
    resources,
    similarity,
    textops,
)

from kgx.rows.base import _t  # noqa: E501

# ---------------------------------------------------------------------------
# TPC-H-style relational sanity (scan/agg/join pushdown showcases)
# ---------------------------------------------------------------------------

def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # decimal accumulation (exact, row-order independent) cast to
            # double only at the very end → identical across engines
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast("decimal(18,2)"))
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
def tpch_q3_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("revenue")
        )
    )
    return rev.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)
TPCH_Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5-style local-supplier revenue: 6-table join (region → nation →
    customer/supplier → orders → lineitem) with the customer and supplier
    in the SAME nation; dims broadcast, facts join on keys. Decimal
    accumulation for cross-engine exactness."""
    # deterministic region choice without data peeking: smallest key
    region = _t(spark, sf_dir, "region").orderBy("r_regionkey").limit(1)
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nr = nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    out = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .filter(cust["c_nationkey"] == supp["s_nationkey"])
        .join(F.broadcast(nr), supp["s_nationkey"] == nr["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    return out
TPCH_Q5_SQL = """
WITH r AS (SELECT * FROM region ORDER BY r_regionkey LIMIT 1)
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN r        ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
GROUP BY n_name
"""
def tpch_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function showcase: top-2 parts per brand by retail price
    (row_number over a composite deterministic order) — the per-group
    LIMIT pattern (§2.6) as a single window, no per-group scans."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey").asc()
    )
    return (
        p.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("p_brand", "p_partkey", "p_retailprice", F.col("rk").cast("bigint").alias("rk"))
    )
def tpch_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation: order revenue by ROLLUP(nation, order
    priority) — subtotals and a grand total in one pass (Spark expands
    grouping sets map-side; each level still gets partial aggregation).
    Decimal accumulation keeps the cross-row sums order-independent."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).join(
        F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]
    )
    return (
        joined.rollup("n_name", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .select("n_name", "o_orderpriority", "n_orders", "revenue")
    )
TPCH_ROLLUP_SQL = """
SELECT n_name, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, o_orderpriority)
"""
def tpch_cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (returnflag, linestatus): all four grouping sets in
    one shuffle. GROUPING() bits disambiguate a real NULL group key from a
    subtotal row — without them a cube over nullable keys is ambiguous
    (both engines emit the same grouping ids, so the row set is
    hash-comparable)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
        )
        .select("l_returnflag", "l_linestatus", "g_rf", "g_ls", "n_items", "sum_qty")
    )
TPCH_CUBE_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
       CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
       count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format per-user activity matrix via pivot with an EXPLICIT
    value list (an open-ended pivot would need a distinct-scan job and
    yields nondeterministic column sets on drifting data)."""
    ev = _t(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _EVENT_TYPES
        ],
    )
EVENTS_PIVOT_SQL = """
SELECT user_id,
       count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
       count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
       count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
       count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view
FROM events GROUP BY user_id
"""
def setop_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 set operators as set operators (not join rewrites): users
    active in BOTH halves of the month (INTERSECT) vs. first-half users
    who churned (EXCEPT). Both inputs are distinct projections, so
    intersect/exceptAll are exact set semantics; Catalyst plans them as
    aggregated joins (semi/anti) without hand-rolling either."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    h1 = ev.filter(F.col("ts") < cut).select("user_id").distinct()
    h2 = ev.filter(F.col("ts") >= cut).select("user_id").distinct()
    return h1.intersect(h2).withColumn("status", F.lit("retained")).unionByName(
        h1.exceptAll(h2).withColumn("status", F.lit("churned"))
    )
SETOP_RETENTION_SQL = """
WITH h1 AS (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-16'),
     h2 AS (SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-16')
SELECT user_id, 'retained' AS status FROM (SELECT user_id FROM h1 INTERSECT SELECT user_id FROM h2)
UNION ALL
SELECT user_id, 'churned' AS status FROM (SELECT user_id FROM h1 EXCEPT SELECT user_id FROM h2)
"""
TPCH_TOPK_SQL = """
SELECT p_brand, p_partkey, p_retailprice, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey ASC) AS rk
  FROM part
)
WHERE rk <= 2
"""
# ---------------------------------------------------------------------------
# time-series joins: as-of + interval (kgx/asof.py)
# ---------------------------------------------------------------------------

def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event picks up the latest purchase at or
    before it for the same user (union-tag + single-shuffle window — see
    kgx/asof.py). Oracle = DuckDB's NATIVE ASOF JOIN, an independent
    algorithm (build-side (user_id, ts) is unique in this corpus, so the
    native join is deterministic)."""
    ev = _t(spark, sf_dir, "events")
    probe = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    build = ev.filter(F.col("event_type") == "purchase")
    out = asof.asof_join(
        probe, build, on="user_id", payload=["value"], tiebreak="event_id"
    )
    return out.select("event_id", "user_id", "ts", "prior_ts", "prior_value")
ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts, p.ts AS prior_ts, p.value AS prior_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join via time-bin bucketing (kgx/asof.py):
    error events land in the 30-min-gap session of the user's OTHER
    activity whose [first, last] interval contains them. Physical plan is
    a hash equi-join on (user_id, hour-bin) + exact BETWEEN filter — no
    range join, no cartesian."""
    ev = _t(spark, sf_dir, "events")
    act = ev.filter(F.col("event_type") != "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)
    sess = (
        act.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .withColumn(
            "session_id",
            F.sum("new_sess")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint"),
        )
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("start_ts"),
            # the session's open window: last activity + the 30-min gap
            (F.max("ts") + F.expr("INTERVAL 1800 SECOND")).alias("end_ts"),
        )
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    joined = asof.interval_join(
        errors, sess, on="user_id", point_ts="ts", bin_seconds=3600
    )
    return joined.select("event_id", "user_id", "ts", "session_id")
RANGE_JOIN_SQL = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WHERE event_type <> 'error'
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
         ts
  FROM g
),
iv AS (
  SELECT user_id, session_id, min(ts) AS start_ts,
         max(ts) + INTERVAL 1800 SECOND AS end_ts
  FROM s GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts, iv.session_id
FROM events e JOIN iv
  ON e.user_id = iv.user_id AND e.ts BETWEEN iv.start_ts AND iv.end_ts
WHERE e.event_type = 'error'
"""
def stats_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric column profile per event_type (kgx/stats.py): exact grouped
    quantiles + extremes + counts; the approx_percentile sketch variant is
    the same shape for unbounded groups (pytest asserts it brackets the
    exact answer)."""
    from kgx import stats

    return stats.profile_numeric(_t(spark, sf_dir, "events"))
STATS_PROFILE_SQL = """
SELECT event_type,
       count(value) AS n,
       min(value) AS vmin,
       max(value) AS vmax,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events GROUP BY event_type
"""
def stats_hist_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH profile (kgx/stats.profile_numeric_hist): fixed-width
    histogram quantiles with bounded, mergeable per-group state — unlike
    the exact variant's full value buffer, and unlike approx_percentile's
    sketch it is bit-reproducible cross-engine, so the driver hash-checks
    the scale path itself."""
    from kgx import stats

    return stats.profile_numeric_hist(_t(spark, sf_dir, "events"))
STATS_HIST_SQL = """
WITH r AS (
  SELECT event_type, count(value) AS n, min(value) AS vmin, max(value) AS vmax
  FROM events WHERE value IS NOT NULL GROUP BY 1
),
b AS (
  SELECT e.event_type,
         CASE WHEN r.vmax > r.vmin THEN
           least(255, CAST(floor((e.value - r.vmin) / (r.vmax - r.vmin) * 256.0) AS INT))
         ELSE 0 END AS bin
  FROM events e JOIN r USING (event_type)
  WHERE e.value IS NOT NULL
),
h AS (SELECT event_type, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
c AS (
  SELECT event_type, bin,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
  FROM h
),
q AS (
  SELECT c.event_type,
         min(CASE WHEN cum >= ceil(0.5 * r.n)  THEN bin END) AS b50,
         min(CASE WHEN cum >= ceil(0.9 * r.n)  THEN bin END) AS b90,
         min(CASE WHEN cum >= ceil(0.99 * r.n) THEN bin END) AS b99
  FROM c JOIN r USING (event_type) GROUP BY 1
)
SELECT r.event_type, r.n, r.vmin, r.vmax,
       CASE WHEN r.vmax > r.vmin
            THEN r.vmin + (q.b50 + 1) * ((r.vmax - r.vmin) / 256.0)
            ELSE r.vmin END AS p50,
       CASE WHEN r.vmax > r.vmin
            THEN r.vmin + (q.b90 + 1) * ((r.vmax - r.vmin) / 256.0)
            ELSE r.vmin END AS p90,
       CASE WHEN r.vmax > r.vmin
            THEN r.vmin + (q.b99 + 1) * ((r.vmax - r.vmin) / 256.0)
            ELSE r.vmin END AS p99
FROM r JOIN q USING (event_type)
"""
# ---------------------------------------------------------------------------
# graph analytics (kgx/graph.py) over the customer—supplier bipartite graph
# ---------------------------------------------------------------------------

def _cust_supp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
    )
    return graph.undirected_edges(pairs, "o_custkey", "l_suppkey")
_GRAPH_EDGE_CTE = """
e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
                  's' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
und AS (
  SELECT c AS src, s AS dst FROM e0
  UNION ALL
  SELECT s AS src, c AS dst FROM e0
)
"""
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer—supplier graph (graph.degree_histogram)."""
    return graph.degree_histogram(_cust_supp_edges(spark, sf_dir))
GRAPH_DEGREE_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src)
SELECT CAST(deg AS BIGINT) AS deg, count(*) AS n_nodes FROM deg GROUP BY deg
"""
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer PageRank, 3 iterations (graph.pagerank_int): integral
    `div` arithmetic makes the iterative fixpoint bit-identical across
    engines — the oracle unrolls the same three iterations as CTEs."""
    return graph.pagerank_int(_cust_supp_edges(spark, sf_dir), iters=3)
_PR_ITER = """
s{i} AS (
  SELECT e.dst AS node, sum(r{j}.r // r{j}.deg) AS s
  FROM und e JOIN r{j} ON e.src = r{j}.src GROUP BY e.dst
),
r{i} AS (
  SELECT d.src, CAST(150000000000 + (85 * coalesce(s{i}.s, 0)) // 100 AS BIGINT) AS r,
         d.deg
  FROM deg d LEFT JOIN s{i} ON d.src = s{i}.node
)"""
GRAPH_PAGERANK_SQL = (
    f"""
WITH {_GRAPH_EDGE_CTE},
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
r0 AS (SELECT src, CAST(1000000000000 AS BIGINT) AS r, deg FROM deg),"""
    + ",".join(_PR_ITER.format(i=i, j=i - 1) for i in (1, 2, 3))
    + """
SELECT src AS node, r AS rank FROM r3
"""
)
def graph_two_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood sizes for a 1%-sample source set
    (graph.two_hop_counts): customers reachable through a shared supplier."""
    edges = _cust_supp_edges(spark, sf_dir)
    sources = edges.select("src").filter(
        F.col("src").startswith("c")
        & (F.substring("src", 2, 100).cast("long") % 100 == 1)
    ).distinct().withColumnRenamed("src", "node")
    return graph.two_hop_counts(edges, sources)
GRAPH_TWO_HOP_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
sources AS (
  SELECT DISTINCT src AS origin FROM und
  WHERE src LIKE 'c%' AND CAST(substr(src, 2) AS BIGINT) % 100 = 1
),
hop1 AS (
  SELECT s.origin, e.dst AS mid FROM sources s JOIN und e ON e.src = s.origin
),
hop2 AS (
  SELECT h.origin, e.dst AS nbr2 FROM hop1 h JOIN und e ON e.src = h.mid
  WHERE e.dst <> h.origin
)
SELECT origin, count(DISTINCT nbr2) AS n_two_hop FROM hop2 GROUP BY origin
"""
_JACC_CAP = 60
_JACC_MIN_COMMON = 3
def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard link-prediction scores
    (graph.jaccard_similarity) over the customer--supplier graph:
    supplier pairs scored by shared-customer overlap. Middle nodes with
    degree > 60 are excluded from wedge enumeration (every supplier hub,
    deg 443+ at sf0.01 -- the deterministic hot-key cap the oracle
    reproduces); degrees stay exact, min_common = 3 (a support floor — at
    these corpus sizes every supplier pair clears it; the filter itself
    is pinned by the unit test's small graph). One wedge groupBy
    (map-side partials), broadcast degree joins, one double division."""
    return graph.jaccard_similarity(
        _cust_supp_edges(spark, sf_dir),
        max_middle_degree=_JACC_CAP,
        min_common=_JACC_MIN_COMMON,
    )
GRAPH_JACCARD_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
mid AS (SELECT src FROM deg WHERE deg <= {_JACC_CAP}),
nbr AS (SELECT u.src, u.dst FROM und u JOIN mid m ON u.src = m.src),
common AS (
  SELECT l.dst AS a, r.dst AS b, count(*) AS n_common
  FROM nbr l JOIN nbr r ON l.src = r.src AND l.dst < r.dst
  GROUP BY 1, 2
  HAVING count(*) >= {_JACC_MIN_COMMON}
)
SELECT c.a, c.b, c.n_common, da.deg AS deg_a, db.deg AS deg_b,
       CAST(c.n_common AS DOUBLE) / (da.deg + db.deg - c.n_common) AS jaccard
FROM common c
JOIN deg da ON c.a = da.src
JOIN deg db ON c.b = db.src
"""
def graph_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-Allocation link-prediction index (graph.resource_allocation;
    Zhou, Lü & Zhang 2009) over the customer--supplier graph: the
    middle-degree-weighted refinement of the Jaccard row — each shared
    customer contributes 1/deg, so promiscuous middles count less. Same
    wedge machinery and deterministic hub cap (deg > 60 middles excluded)
    as graph_jaccard_similarity; the per-middle contribution is the exact
    integer 10^12 div deg, summed as BIGINTs (order-independent,
    engine-exact), with ONE final IEEE division producing `ra`."""
    return graph.resource_allocation(
        _cust_supp_edges(spark, sf_dir),
        max_middle_degree=_JACC_CAP,
        min_common=_JACC_MIN_COMMON,
    )
GRAPH_RESOURCE_ALLOC_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
mid AS (
  SELECT src, 1000000000000 // deg AS contrib FROM deg
  WHERE deg <= {_JACC_CAP}
),
nbr AS (SELECT u.src, u.dst, m.contrib FROM und u JOIN mid m ON u.src = m.src)
SELECT l.dst AS a, r.dst AS b, count(*) AS n_common,
       CAST(sum(l.contrib) AS BIGINT) AS ra_scaled,
       CAST(CAST(sum(l.contrib) AS BIGINT) AS DOUBLE) / 1000000000000.0 AS ra
FROM nbr l JOIN nbr r ON l.src = r.src AND l.dst < r.dst
GROUP BY 1, 2
HAVING count(*) >= {_JACC_MIN_COMMON}
"""
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the supplier co-purchase
    projection (suppliers linked iff they co-serve >= 2 customers),
    via degree-ordered orientation (graph.triangle_counts) — each
    triangle enumerated once from its lowest-degree corner, the wedge
    join bounded by the small endpoint's degree (O(E^1.5), hub-safe at
    10^9 edges). The oracle counts the same triangles with a plain
    u<v<w 3-way join — orientation changes cost, never the result."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_custkey", "l_suppkey")
    )
    edges = graph.copurchase_edges(pairs, "o_custkey", "l_suppkey", min_support=2)
    counts = graph.triangle_counts(edges)
    return counts.select(F.col("node").cast("bigint").alias("suppkey"), "n_triangles")
GRAPH_TRIANGLES_SQL = """
WITH m AS (
  SELECT DISTINCT o_custkey AS k, l_suppkey AS n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT a.n AS u, b.n AS v
  FROM m a JOIN m b ON a.k = b.k AND a.n < b.n
  GROUP BY 1, 2 HAVING count(*) >= 2
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
)
SELECT CAST(node AS BIGINT) AS suppkey, count(*) AS n_triangles
FROM corners GROUP BY 1
"""
_FUNNEL_STEPS = ("view", "click", "purchase")
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel per user (view -> click -> purchase),
    greedy earliest-completion semantics: step i+1 matches the first
    qualifying event strictly after step i's (ts, event_id). Emits every
    user with the stage reached and the matched event ids.

    Shape: one groupBy(user) builds the time-sorted event array
    (event_type + ids only — slim), then an IN-ROW left fold walks the
    funnel state machine; no window self-joins, one shuffle. Per-user
    state is the user's own history — the same bounded-by-key contract as
    sessionization (document users with 10^6 events via pre-bucketing).
    Deterministic: array_sort orders by (ts, event_id) [event_id unique],
    the fold is sequential by construction."""
    ev = _t(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    grouped = ev.groupBy("user_id").agg(arr.alias("evs"))

    init = F.struct(
        F.lit(0).cast("int").alias("stage"),
        F.lit(None).cast("bigint").alias("e1"),
        F.lit(None).cast("bigint").alias("e2"),
        F.lit(None).cast("bigint").alias("e3"),
    )

    def step(acc, x):
        adv1 = (acc["stage"] == 0) & (x["event_type"] == _FUNNEL_STEPS[0])
        adv2 = (acc["stage"] == 1) & (x["event_type"] == _FUNNEL_STEPS[1])
        adv3 = (acc["stage"] == 2) & (x["event_type"] == _FUNNEL_STEPS[2])
        return F.struct(
            F.when(adv1, F.lit(1))
            .when(adv2, F.lit(2))
            .when(adv3, F.lit(3))
            .otherwise(acc["stage"])
            .cast("int")
            .alias("stage"),
            F.when(adv1, x["event_id"]).otherwise(acc["e1"]).alias("e1"),
            F.when(adv2, x["event_id"]).otherwise(acc["e2"]).alias("e2"),
            F.when(adv3, x["event_id"]).otherwise(acc["e3"]).alias("e3"),
        )

    state = F.aggregate(F.col("evs"), init, step)
    return grouped.select(
        "user_id",
        state["stage"].alias("funnel_stage"),
        state["e1"].alias("view_event_id"),
        state["e2"].alias("click_event_id"),
        state["e3"].alias("purchase_event_id"),
    )
EVENTS_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, ts AS t1, event_id AS e1 FROM (
    SELECT user_id, ts, event_id,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
),
s2 AS (
  SELECT user_id, ts AS t2, event_id AS e2 FROM (
    SELECT e.user_id, e.ts, e.event_id,
           row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND (e.ts, e.event_id) > (s1.t1, s1.e1)
  ) WHERE rn = 1
),
s3 AS (
  SELECT user_id, event_id AS e3 FROM (
    SELECT e.user_id, e.event_id,
           row_number() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND (e.ts, e.event_id) > (s2.t2, s2.e2)
  ) WHERE rn = 1
),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN s3.e3 IS NOT NULL THEN 3
                 WHEN s2.e2 IS NOT NULL THEN 2
                 WHEN s1.e1 IS NOT NULL THEN 1
                 ELSE 0 END AS INTEGER) AS funnel_stage,
       s1.e1 AS view_event_id,
       s2.e2 AS click_event_id,
       s3.e3 AS purchase_event_id
FROM u LEFT JOIN s1 USING (user_id)
       LEFT JOIN s2 USING (user_id)
       LEFT JOIN s3 USING (user_id)
"""
def events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 compaction of the events changelog (asof.scd2_intervals):
    per-user validity intervals for `value`, event_id tie-break, one
    window shuffle."""
    ev = _t(spark, sf_dir, "events")
    return asof.scd2_intervals(
        ev.select("user_id", "event_id", "ts", "value"),
        key_cols=["user_id"],
        ts_col="ts",
        order_tiebreak=["event_id"],
    )
EVENTS_SCD2_SQL = """
SELECT user_id, event_id, ts, value,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL AS is_current
FROM events
"""
def events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-hour rolling profile per user over the event stream — the
    RANGE-frame window (rangeBetween on event-time seconds), the last
    window-frame shape the registry lacked. Aggregates are
    ORDER-INDEPENDENT (count/min/max) on purpose: a float sum over a
    window frame accumulates in engine-chosen order (Spark running-agg vs
    DuckDB segment-tree) and would not hash cross-engine; the exact-sum
    variants live in the decimal groupBy rows.

    GRANULARITY CONTRACT: the frame is ordered by unix_timestamp(ts) —
    WHOLE SECONDS (the oracle floors epoch identically). Events in the
    same second are frame peers regardless of sub-second order, and the
    trailing-hour boundary is second-granular. For microsecond boundaries
    order by the microsecond epoch (ts.cast("bigint") in Spark /
    epoch_us in DuckDB) and scale the range to 3_600_000_000.

    Scale shape: ONE window shuffle keyed by user_id, frame state bounded
    by events-per-key-per-hour. The sessionize/asof family's time-bucket
    notes apply unchanged at 10^12 rows."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_1h"),
        F.min("value").over(w).alias("min_value_1h"),
        F.max("value").over(w).alias("max_value_1h"),
    )
EVENTS_ROLLING_SQL = """
SELECT user_id, event_id, ts, value,
       CAST(count(*) OVER w AS BIGINT) AS n_trailing_1h,
       min(value) OVER w AS min_value_1h,
       max(value) OVER w AS max_value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""
def events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rank-based outlier flagging per event_type: the top 1% of
    events by value (k = (n * 1) div 100, PURE INTEGER — a float
    0.01*n would floor differently from exact arithmetic for some n, and
    moment-based z-scores need float sums whose accumulation order is
    engine-chosen; exact order statistics sidestep both). The
    winsorization/trim prep of a curation pipeline: one window shuffle
    keyed by the group, slim (group, value, id) rows."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    n = F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.row_number().over(w).cast("bigint").alias("value_rank"),
            n.cast("bigint").alias("n_group"),
        )
        .withColumn("k_cut", F.expr("n_group div 100").cast("bigint"))
        .where(F.col("value_rank") <= F.col("k_cut"))
    )
EVENTS_OUTLIERS_SQL = """
WITH r AS (
  SELECT event_type, event_id, value,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY value DESC, event_id ASC) AS BIGINT)
           AS value_rank,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_group
  FROM events
)
SELECT event_type, event_id, value, value_rank, n_group,
       CAST(n_group // 100 AS BIGINT) AS k_cut
FROM r WHERE value_rank <= n_group // 100
"""
def graph_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction training negatives over the customer—supplier edge
    set (graph.negative_samples): k=3 hash-corrupted supplier endpoints
    per positive edge, rank-picked from the supplier dim by a 60-bit md5
    so both engines draw the identical sample, false negatives (corrupted
    pairs that are true edges) anti-joined away."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .join(_t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
    )
    ents = _t(spark, sf_dir, "supplier").select(F.col("s_suppkey").alias("suppkey"))
    return graph.negative_samples(pairs, ents, "custkey", "suppkey", k=3)
GRAPH_NEGSAMPLE_SQL = """
WITH pos AS (
  SELECT DISTINCT o_custkey AS custkey, l_suppkey AS suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
ranks AS (
  SELECT s_suppkey AS suppkey, row_number() OVER (ORDER BY s_suppkey) AS rnk
  FROM supplier
),
n AS (SELECT count(*) AS n_ent FROM supplier),
cand AS (
  SELECT p.custkey, i.neg_idx,
         CAST(CAST(('0x' || substr(md5(CAST(p.custkey AS VARCHAR) || ':' ||
                                       CAST(p.suppkey AS VARCHAR) || ':' ||
                                       CAST(i.neg_idx AS VARCHAR)), 1, 15))
                   AS BIGINT) % n.n_ent + 1 AS INTEGER) AS rnk
  FROM pos p CROSS JOIN n
       CROSS JOIN (SELECT unnest([1, 2, 3]) AS neg_idx) i
),
neg AS (
  SELECT c.custkey, r.suppkey, c.neg_idx
  FROM cand c JOIN ranks r USING (rnk)
  WHERE NOT EXISTS (SELECT 1 FROM pos p
                    WHERE p.custkey = c.custkey AND p.suppkey = r.suppkey)
)
SELECT custkey, suppkey, 1 AS label, 0 AS neg_idx FROM pos
UNION ALL
SELECT custkey, suppkey, 0 AS label, neg_idx FROM neg
"""
def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeepWalk corpus over the customer—supplier graph
    (graph.random_walks): 2 walks of 4 nodes per node, next hop =
    md5-hash-picked neighbor rank, so the oracle unrolls the identical
    walks as CTEs (the same cross-engine scheme as pagerank_int)."""
    return graph.random_walks(
        _cust_supp_edges(spark, sf_dir), walk_len=4, walks_per_node=2,
        edges_unique=True,
    )
_WALK_STEP = """
w{i} AS (
  SELECT w.start, w.walk_id, a.dst AS node
  FROM w{j} w JOIN adj a ON a.src = w.node
   AND a.nbr = CAST(('0x' || substr(md5(w.start || ':' ||
                     CAST(w.walk_id AS VARCHAR) || ':{i}'), 1, 15))
                    AS BIGINT) % a.deg
)"""
_WALK_CTES = (
    f"""{_GRAPH_EDGE_CTE},
adj AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS nbr,
         count(*) OVER (PARTITION BY src) AS deg
  FROM und
),
w0 AS (
  SELECT s.src AS start, i.walk_id, s.src AS node
  FROM (SELECT DISTINCT src FROM adj) s
  CROSS JOIN (SELECT unnest([1, 2]) AS walk_id) i
),"""
    + ",".join(_WALK_STEP.format(i=i, j=i - 1) for i in (1, 2, 3))
    + """,
corpus AS (
  SELECT start, walk_id, 0 AS step, node FROM w0
  UNION ALL SELECT start, walk_id, 1 AS step, node FROM w1
  UNION ALL SELECT start, walk_id, 2 AS step, node FROM w2
  UNION ALL SELECT start, walk_id, 3 AS step, node FROM w3
)"""
)
GRAPH_WALKS_SQL = f"""
WITH {_WALK_CTES}
SELECT start, walk_id, step, node FROM corpus
"""
def graph_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) counts over the walk corpus
    (graph.skipgram_pairs ∘ graph.random_walks): every ordered node pair
    within 2 steps inside a walk, counted corpus-wide — the word2vec
    input a DeepWalk trainer consumes. The oracle reuses the unrolled
    walk CTEs verbatim and self-joins them."""
    walks = graph.random_walks(
        _cust_supp_edges(spark, sf_dir), walk_len=4, walks_per_node=2,
        edges_unique=True,
    )
    return graph.skipgram_pairs(walks, window=2)
GRAPH_SKIPGRAM_SQL = f"""
WITH {_WALK_CTES}
SELECT a.node AS center, b.node AS context, count(*) AS cnt
FROM corpus a JOIN corpus b
  ON a.start = b.start AND a.walk_id = b.walk_id
 AND abs(a.step - b.step) <= 2 AND a.step <> b.step
GROUP BY 1, 2
"""
_LM_COUNT, _LM_DEPTH = 4, 3
def graph_landmark_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark BFS distance table (graph.landmark_distances) over the
    customer—supplier graph: the 4 highest-degree nodes (deterministic
    deg-desc/id-asc pick — supplier hubs at every sf) as pivots, every
    (landmark, node, dist<=3) pair via level-synchronous frontier BFS
    with distinct + seen-anti-join pruning, so each level is bounded by
    |V| rows per landmark instead of deg^k paths (the hub graph's level-3
    path count is ~30M at sf0.1; the pruned frontier is ~16k). The oracle
    unrolls the same three levels with EXCEPT against the union of
    earlier ones — BFS level order makes first-visit minimal, no min()
    re-aggregation."""
    return graph.landmark_distances(
        _cust_supp_edges(spark, sf_dir),
        n_landmarks=_LM_COUNT,
        max_depth=_LM_DEPTH,
    )
GRAPH_LANDMARK_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
lm AS (SELECT src AS landmark FROM deg
       ORDER BY deg DESC, src ASC LIMIT {_LM_COUNT}),
d0 AS (SELECT landmark, landmark AS node FROM lm),
f1 AS (
  SELECT d.landmark, e.dst AS node FROM d0 d JOIN und e ON e.src = d.node
  EXCEPT SELECT landmark, node FROM d0
),
f2 AS (
  SELECT f.landmark, e.dst AS node FROM f1 f JOIN und e ON e.src = f.node
  EXCEPT (SELECT landmark, node FROM d0
          UNION ALL SELECT landmark, node FROM f1)
),
f3 AS (
  SELECT f.landmark, e.dst AS node FROM f2 f JOIN und e ON e.src = f.node
  EXCEPT (SELECT landmark, node FROM d0
          UNION ALL SELECT landmark, node FROM f1
          UNION ALL SELECT landmark, node FROM f2)
)
SELECT landmark, node, CAST(0 AS INTEGER) AS dist FROM d0
UNION ALL SELECT landmark, node, CAST(1 AS INTEGER) FROM f1
UNION ALL SELECT landmark, node, CAST(2 AS INTEGER) FROM f2
UNION ALL SELECT landmark, node, CAST(3 AS INTEGER) FROM f3
"""
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention triangle (stats.cohort_retention): users
    bucketed by ISO week of first event, active-user counts per
    (cohort_week, week_offset), retention = count / week-0 cohort size
    (one IEEE division). date_trunc('week') is ISO-Monday in both
    engines and both dates are week-truncated, so offset day-arithmetic
    is an exact multiple of 7. The per-user cohort dim joins on the
    same user_id key the weekly distinct just shuffled on (AQE reuses
    the exchange); only the tiny week-0 base table broadcasts."""
    from kgx import stats

    return stats.cohort_retention(_t(spark, sf_dir, "events"))
EVENTS_COHORT_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events
),
coh AS (SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1),
cnt AS (
  SELECT cohort_week,
         CAST(date_diff('day', cohort_week, week) // 7 AS INTEGER)
           AS week_offset,
         count(*) AS n_active
  FROM weekly JOIN coh USING (user_id)
  GROUP BY 1, 2
),
base AS (SELECT cohort_week, n_active AS cohort_size FROM cnt
         WHERE week_offset = 0)
SELECT CAST(c.cohort_week AS VARCHAR) AS cohort_week,
       c.week_offset, CAST(c.n_active AS BIGINT) AS n_active,
       CAST(b.cohort_size AS BIGINT) AS cohort_size,
       CAST(c.n_active AS DOUBLE) / b.cohort_size AS retention
FROM cnt c JOIN base b USING (cohort_week)
"""
_KCORE_K, _KCORE_ROUNDS = 28, 4
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (graph.kcore, k=28, 4 rounds) over the
    customer—supplier graph: round 1 peels every customer with fewer
    than 28 distinct suppliers (~30% of customers at sf0.01), later
    rounds propagate the cascade and no-op once the peel reaches
    fixpoint — `rounds` is the literal contract (pagerank_int's iters
    convention) so the oracle unrolls the identical round count
    regardless of where a given corpus converges."""
    return graph.kcore(
        _cust_supp_edges(spark, sf_dir), k=_KCORE_K, rounds=_KCORE_ROUNDS
    )
_KCORE_STEP = """
kd{i} AS (SELECT src, count(*) AS deg FROM k{j} GROUP BY 1),
kn{i} AS (SELECT src FROM kd{i} WHERE deg >= {k}),
k{i} AS (
  SELECT e.src, e.dst FROM k{j} e
  JOIN kn{i} a ON e.src = a.src
  JOIN kn{i} b ON e.dst = b.src
)"""
GRAPH_KCORE_SQL = (
    f"WITH {_GRAPH_EDGE_CTE},\nk0 AS (SELECT src, dst FROM und),"
    + ",".join(
        _KCORE_STEP.format(i=i, j=i - 1, k=_KCORE_K)
        for i in range(1, _KCORE_ROUNDS + 1)
    )
    + f"""
SELECT src AS node, count(*) AS deg FROM k{_KCORE_ROUNDS} GROUP BY 1
"""
)
def graph_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer personalized PageRank (graph.ppr_int, 3 iterations,
    damping 0.85) with teleport restricted to the suppkey%10==1 supplier
    seeds — 'which entities matter relative to THESE' KG relevance
    scoring. Same engine-exact integral-div contract as graph_pagerank;
    the oracle unrolls identical iterations with the seed-gated teleport
    term."""
    edges = _cust_supp_edges(spark, sf_dir)
    seeds = (
        edges.select("src")
        .where(
            F.col("src").startswith("s")
            & (F.substring("src", 2, 100).cast("long") % 10 == 1)
        )
        .distinct()
    )
    return graph.ppr_int(edges, seeds, iters=3)
_PPR_ITER = """
s{i} AS (
  SELECT e.dst AS node, sum(r{j}.r // r{j}.deg) AS s
  FROM und e JOIN r{j} ON e.src = r{j}.src GROUP BY e.dst
),
r{i} AS (
  SELECT d.src,
         CAST((CASE WHEN d.is_seed THEN 150000000000 ELSE 0 END)
              + (85 * coalesce(s{i}.s, 0)) // 100 AS BIGINT) AS r,
         d.deg, d.is_seed
  FROM degf d LEFT JOIN s{i} ON d.src = s{i}.node
)"""
GRAPH_PPR_SQL = (
    f"""
WITH {_GRAPH_EDGE_CTE},
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
seeds AS (
  SELECT DISTINCT src FROM und
  WHERE src LIKE 's%' AND CAST(substr(src, 2) AS BIGINT) % 10 = 1
),
degf AS (
  SELECT d.src, d.deg, s.src IS NOT NULL AS is_seed
  FROM deg d LEFT JOIN seeds s ON d.src = s.src
),
r0 AS (
  SELECT src, CAST(CASE WHEN is_seed THEN 1000000000000 ELSE 0 END AS BIGINT) AS r,
         deg, is_seed
  FROM degf
),"""
    + ",".join(_PPR_ITER.format(i=i, j=i - 1) for i in (1, 2, 3))
    + """
SELECT src AS node, r AS rank FROM r3
"""
)
def events_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull the numeric `k` field out of the
    events JSON `props` column (get_json_object — JVM-side JSON path, no
    UDF) and profile it per event_type. Sums stay exact BIGINTs; the mean
    is ONE IEEE division, so the row is engine-exact against DuckDB's
    json_extract_string. The parse is map-side and pushes the scan to
    (event_type, props) only — the pattern for typed views over raw
    crawl/log JSON at 100 TB without a pre-flattening pass."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").alias("sum_k"),
        )
        .withColumn("mean_k", F.col("sum_k").cast("double") / F.col("n"))
    )
EVENTS_PROPS_SQL = """
SELECT event_type,
       count(*) AS n,
       min(k) AS min_k,
       max(k) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(k) AS DOUBLE) / count(*) AS mean_k
FROM (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
WHERE k IS NOT NULL
GROUP BY event_type
"""
_LPA_ROUNDS = 2
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation (graph.label_propagation,
    2 rounds) over the customer—supplier graph — the community detector
    that groups densely-linked entities after canonicalization. Round 1
    degenerates to min-neighbor-id (every initial label is distinct, so
    all neighbor-label counts tie at 1 and the smallest-label tie-break
    decides); round 2 exercises the real MODE rule over the collapsed
    round-1 labels — the mode-vs-min divergence is additionally pinned on
    a toy graph by the unit test. `rounds` is a literal contract
    (pagerank_int's iters convention): synchronous LPA oscillates on
    bipartite structure rather than converging, so the oracle unrolls the
    identical two rounds."""
    return graph.label_propagation(
        _cust_supp_edges(spark, sf_dir), rounds=_LPA_ROUNDS
    )
GRAPH_LPA_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
n1 AS (
  SELECT e.src AS node, l.label, count(*) AS cnt
  FROM und e JOIN l0 l ON e.dst = l.node GROUP BY 1, 2
),
l1 AS (
  SELECT node, label FROM n1
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
),
n2 AS (
  SELECT e.src AS node, l.label, count(*) AS cnt
  FROM und e JOIN l1 l ON e.dst = l.node GROUP BY 1, 2
),
l2 AS (
  SELECT node, label FROM n2
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
)
SELECT node, label AS community FROM l2
"""
_HITS_ITERS = 2
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (graph.hits_int, 2 iterations) over the
    DIRECTED customer→supplier purchase graph — the bipartite case HITS
    was designed for: customers are pure hubs (auth 0), suppliers pure
    authorities (hub 0), and the scores couple through the shared edge
    structure (a customer is a good hub iff it buys from well-endorsed
    suppliers). Unnormalized exact-integer contract; the oracle unrolls
    the identical two iterations as CTEs."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .join(
            _t(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return graph.hits_int(pairs, iters=_HITS_ITERS)
GRAPH_HITS_SQL = """
WITH e AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
a1 AS (
  SELECT dst AS node, CAST(count(*) AS BIGINT) AS s
  FROM e GROUP BY 1
),
h1 AS (
  SELECT e.src AS node, CAST(sum(a1.s) AS BIGINT) AS s
  FROM e JOIN a1 ON e.dst = a1.node GROUP BY 1
),
a2 AS (
  SELECT e.dst AS node, CAST(sum(h1.s) AS BIGINT) AS s
  FROM e JOIN h1 ON e.src = h1.node GROUP BY 1
),
h2 AS (
  SELECT e.src AS node, CAST(sum(a2.s) AS BIGINT) AS s
  FROM e JOIN a2 ON e.dst = a2.node GROUP BY 1
)
SELECT n.node,
       CAST(coalesce(h2.s, 0) AS BIGINT) AS hub,
       CAST(coalesce(a2.s, 0) AS BIGINT) AS auth
FROM n LEFT JOIN h2 ON n.node = h2.node LEFT JOIN a2 ON n.node = a2.node
"""
def stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-decimal Pearson r + OLS slope of quantity vs extendedprice
    per returnflag (kgx/stats.correlation): the five sufficient
    statistics accumulate as decimals (order-independent), the final r
    is one IEEE expression over exact scalars — a hash-checkable
    correlation, which approx/stochastic implementations can't give."""
    from kgx import stats

    return stats.correlation(
        _t(spark, sf_dir, "lineitem"), "l_returnflag", "l_quantity",
        "l_extendedprice",
    )
STATS_CORR_SQL = """
WITH a AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy2
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
  GROUP BY 1
)
SELECT l_returnflag, n,
  round(CASE WHEN (CAST(n AS DOUBLE)*sx2 - sx*sx) > 0
              AND (CAST(n AS DOUBLE)*sy2 - sy*sy) > 0
             THEN (CAST(n AS DOUBLE)*sxy - sx*sy)
                  / sqrt((CAST(n AS DOUBLE)*sx2 - sx*sx)
                         * (CAST(n AS DOUBLE)*sy2 - sy*sy))
        END, 12) AS pearson_r,
  round(CASE WHEN (CAST(n AS DOUBLE)*sx2 - sx*sx) > 0
             THEN (CAST(n AS DOUBLE)*sxy - sx*sy)
                  / (CAST(n AS DOUBLE)*sx2 - sx*sx)
        END, 12) AS ols_slope
FROM a
"""
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman modularity contributions (graph.modularity)
    of the 2-round LPA assignment over the customer—supplier graph —
    detector and metric composed end-to-end, both exact-integer, so the
    oracle chains the unrolled LPA CTEs into the one-division
    modularity formula. Global Q = sum(contribution)."""
    edges = _cust_supp_edges(spark, sf_dir)
    labels = graph.label_propagation(edges, rounds=_LPA_ROUNDS)
    return graph.modularity(edges, labels)
GRAPH_MODULARITY_SQL = f"""
WITH {_GRAPH_EDGE_CTE},
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
n1 AS (
  SELECT e.src AS node, l.label, count(*) AS cnt
  FROM und e JOIN l0 l ON e.dst = l.node GROUP BY 1, 2
),
l1 AS (
  SELECT node, label FROM n1
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
),
n2 AS (
  SELECT e.src AS node, l.label, count(*) AS cnt
  FROM und e JOIN l1 l ON e.dst = l.node GROUP BY 1, 2
),
l2 AS (
  SELECT node, label AS community FROM n2
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY cnt DESC, label) = 1
),
intra AS (
  SELECT ls.community, CAST(count(*) AS BIGINT) AS intra_und
  FROM und e
  JOIN l2 ls ON e.src = ls.node
  JOIN l2 ld ON e.dst = ld.node
  WHERE ls.community = ld.community
  GROUP BY 1
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM und GROUP BY src),
kc AS (
  SELECT l.community, CAST(sum(d.deg) AS BIGINT) AS k_c,
         CAST(count(*) AS BIGINT) AS n_nodes
  FROM deg d JOIN l2 l ON d.src = l.node GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM und)
SELECT kc.community, kc.n_nodes,
       CAST(coalesce(intra.intra_und, 0) AS BIGINT) AS intra_und, kc.k_c,
       CAST(tot.m2 * coalesce(intra.intra_und, 0) - kc.k_c * kc.k_c AS DOUBLE)
         / CAST(tot.m2 * tot.m2 AS DOUBLE) AS contribution
FROM kc LEFT JOIN intra USING (community) CROSS JOIN tot
"""
_KTRUSS_K, _KTRUSS_ROUNDS = 12, 2
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-truss peeling (graph.ktruss, k=12, 2 rounds) over the
    part co-order graph (parts linked iff some order contains both) —
    the EDGE-cohesion refinement of graph_kcore: surviving edges sit in
    >= 10 triangles within the surviving subgraph, so weak one-off
    co-occurrences peel away even when both endpoints are high-degree
    (the KG-noise case coreness cannot separate). At sf0.01 the peel is
    a real cascade (115,729 -> 69,588 -> 22,275 edges), so round 2 is
    measurably not a no-op. `rounds` is the literal kcore/pagerank_int
    contract; per-round support reuses the degree-ordered orientation
    (O(E^1.5), hub-safe), and the oracle recounts triangles per round
    with the plain u<v<w 3-way join — orientation changes cost, never
    the result. `support` is counted within the PREVIOUS round's
    subgraph (the value the final peel tested), mirroring kcore's
    degree-within-core convention."""
    pairs = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.copurchase_edges(
        pairs, "l_orderkey", "l_partkey", min_support=1
    )
    out = graph.ktruss(edges, k=_KTRUSS_K, rounds=_KTRUSS_ROUNDS)
    return out.select(
        F.col("u").cast("bigint").alias("u"),
        F.col("v").cast("bigint").alias("v"),
        F.col("support").cast("bigint").alias("support"),
    )
_KTRUSS_STEP = """
t{i} AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e{j} e1 JOIN e{j} e2 ON e1.v = e2.u
  JOIN e{j} e3 ON e3.u = e1.u AND e3.v = e2.v
),
s{i} AS (
  SELECT u, v, count(*) AS sup FROM (
    SELECT a AS u, b AS v FROM t{i}
    UNION ALL SELECT b, c FROM t{i}
    UNION ALL SELECT a, c FROM t{i}
  ) GROUP BY 1, 2
),
e{i} AS (SELECT u, v, sup FROM s{i} WHERE sup >= {km2})"""
GRAPH_KTRUSS_SQL = (
    """
WITH m AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS n FROM lineitem),
e0 AS (
  SELECT a.n AS u, b.n AS v FROM m a JOIN m b ON a.k = b.k AND a.n < b.n
  GROUP BY 1, 2
),"""
    + ",".join(
        _KTRUSS_STEP.format(i=i, j=i - 1, km2=_KTRUSS_K - 2)
        for i in range(1, _KTRUSS_ROUNDS + 1)
    )
    + f"""
SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v,
       CAST(sup AS BIGINT) AS support
FROM e{_KTRUSS_ROUNDS}
"""
)
def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic closeness centrality
    (graph.harmonic_closeness; Boldi & Vigna 2014) over the customer—
    supplier graph: per node, the exact-integer sum of 10^12 div d over
    its BFS distances (d >= 1, depth <= 3) to the same 4 deterministic
    highest-degree landmarks as graph_landmark_distances — the bounded
    estimator of Σ 1/d(u,v) that full APSP could never compute at 10^9
    edges. Unreached pairs contribute 0, exactly as harmonic centrality
    prescribes (no infinite-distance case). BIGINT sums are
    order-independent and `harmonic` is ONE IEEE division by 10^12 —
    engine-exact, no quantization needed. One groupBy(node) over the
    slim shared BFS table; the oracle aggregates the landmark row's own
    unrolled SQL."""
    out = graph.harmonic_closeness(
        _cust_supp_edges(spark, sf_dir),
        n_landmarks=_LM_COUNT,
        max_depth=_LM_DEPTH,
    )
    return out
GRAPH_CLOSENESS_SQL = f"""
SELECT node, count(*) AS n_reached,
       CAST(sum(1000000000000 // dist) AS BIGINT) AS harmonic_scaled,
       CAST(CAST(sum(1000000000000 // dist) AS BIGINT) AS DOUBLE)
         / 1000000000000.0 AS harmonic
FROM ({GRAPH_LANDMARK_SQL}) lmd
WHERE dist >= 1
GROUP BY node
"""
# chi-square band edges: literal double thresholds near the sf0.01 value
# quartiles — CASE against literals compares exactly in both engines
_CHI2_BANDS = (15.0, 35.0, 70.0)
def stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell chi-square independence decomposition of
    event_type x value-band (stats.chi2_cells): observed counts, row /
    column totals and N are exact BIGINTs; each cell emits its own
    expected count and (O-E)^2/E contribution so no doubles are ever
    summed ACROSS rows (the corpus-order hazard every stats row in this
    repo avoids). Each factor is cast to DOUBLE before it is multiplied,
    so r*c*N cannot overflow BIGINT. The float path is engine-exact
    WITHOUT quantization while N^2 < 2^53 (~94M events): O*N and r*c
    are exact doubles, so d = O*N - r*c is exact, and d*d/(r*c*N) is
    correctly-rounded IEEE arithmetic in a fixed order. (Beyond 94M
    events, quantize like stats_correlation; the banding CASE ladder
    itself is scale-free.) Events with a NULL value are left out: they
    have no band. A driver summing the
    `contrib` column gets the chi-square statistic; dof =
    (n_types-1)*(n_bands-1) is derivable from the row count."""
    from kgx import stats as stats_mod

    return stats_mod.chi2_cells(
        _t(spark, sf_dir, "events"), "event_type", "value", _CHI2_BANDS
    )
STATS_CHI2_SQL = f"""
WITH b AS (
  SELECT event_type,
         CASE WHEN value < {_CHI2_BANDS[0]} THEN 'b0'
              WHEN value < {_CHI2_BANDS[1]} THEN 'b1'
              WHEN value < {_CHI2_BANDS[2]} THEN 'b2'
              ELSE 'b3' END AS band
  FROM events
  WHERE value IS NOT NULL
),
o AS (SELECT event_type, band, count(*) AS observed FROM b GROUP BY 1, 2),
r AS (SELECT event_type, sum(observed) AS row_total FROM o GROUP BY 1),
c AS (SELECT band, sum(observed) AS col_total FROM o GROUP BY 1),
n AS (SELECT sum(observed) AS n_total FROM o)
SELECT o.event_type, o.band, CAST(o.observed AS BIGINT) AS observed,
       CAST(r.row_total AS BIGINT) AS row_total,
       CAST(c.col_total AS BIGINT) AS col_total,
       CAST(n.n_total AS BIGINT) AS n_total,
       CAST(r.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE)
         / CAST(n.n_total AS DOUBLE) AS expected,
       (CAST(o.observed AS DOUBLE) * CAST(n.n_total AS DOUBLE)
         - CAST(r.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE))
         * (CAST(o.observed AS DOUBLE) * CAST(n.n_total AS DOUBLE)
         - CAST(r.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE))
         / (CAST(r.row_total AS DOUBLE) * CAST(c.col_total AS DOUBLE)
         * CAST(n.n_total AS DOUBLE)) AS contrib
FROM o JOIN r USING (event_type) JOIN c USING (band) CROSS JOIN n
"""
_ATTR_WINDOW_DAYS = 2
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based 40/20/40) multi-touch attribution: every
    purchase distributes 10,000 basis points of credit over the user's
    view/click touches in the trailing 2-day window — first and last
    touch get 4,000 bp each, the middles split 2,000 bp by integral
    division with the remainder assigned to the LAST middle (position
    n-1), so per-conversion credit sums to exactly 10,000 by
    construction; 1 touch takes all 10,000, 2 touches split 5,000/5,000.
    All-integer arithmetic — engine-exact, no floats anywhere.

    Shape (events_funnel's contract): one groupBy(user) builds the
    time-sorted slim event array, then nested in-row higher-order
    lambdas enumerate (purchase, touch) pairs — per-user state bounded
    by the user's own history, ONE shuffle total, no self-join (the
    oracle's per-pair join is the cost model this operator avoids at
    10^12 events). Strictly-before is the (ts, event_id) tuple order, so
    same-timestamp ties are deterministic. At sf0.01: 1,591 attributed
    purchases, 1-6 touches each — all three credit branches exercised."""
    from kgx import stats as stats_mod

    return stats_mod.position_attribution(
        _t(spark, sf_dir, "events"), window_days=_ATTR_WINDOW_DAYS
    )
EVENTS_ATTRIBUTION_SQL = f"""
WITH p AS (
  SELECT user_id, event_id AS pid, ts AS pts FROM events
  WHERE event_type = 'purchase'
),
t AS (
  SELECT user_id, event_id AS tid, event_type AS ttype, ts AS tts
  FROM events WHERE event_type IN ('view', 'click')
),
j AS (
  SELECT p.user_id, p.pid, t.tid, t.ttype,
         row_number() OVER (PARTITION BY p.pid ORDER BY t.tts, t.tid) AS pos,
         count(*) OVER (PARTITION BY p.pid) AS n
  FROM p JOIN t ON p.user_id = t.user_id
   AND (t.tts < p.pts OR (t.tts = p.pts AND t.tid < p.pid))
   AND t.tts >= p.pts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
)
SELECT user_id, pid AS conv_event_id, tid AS touch_event_id,
       ttype AS touch_type, CAST(pos AS INTEGER) AS position,
       CAST(n AS BIGINT) AS n_touches,
       CAST(CASE WHEN n = 1 THEN 10000
                 WHEN n = 2 THEN 5000
                 WHEN pos = 1 OR pos = n THEN 4000
                 ELSE 2000 // (n - 2)
                      + CASE WHEN pos = n - 1 THEN 2000 % (n - 2) ELSE 0 END
            END AS INTEGER) AS credit_bp
FROM j
"""
def events_topk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining: the corpus top-20 per-user event-type
    TRIGRAMS (t1 -> t2 -> t3 over each user's (ts, event_id)-ordered
    stream) — the path-discovery complement of events_funnel (which
    checks ONE fixed sequence) and kg_tool_transitions (first-order
    pairs): third-order context exposes which funnels exist before you
    hardcode one. Two data shuffles total — the per-user lead() window
    (state bounded by the user's own history) and the trigram groupBy
    (map-side combined onto <= |types|^3 = 125 keys); the top-k window
    runs over that bounded table, never the corpus. Ties rank
    lexicographically (n desc, then t1, t2, t3) — deterministic."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    c = s.groupBy("t1", "t2", "t3").agg(F.count("*").cast("bigint").alias("n"))
    rk = W.orderBy(F.col("n").desc(), "t1", "t2", "t3")
    return (
        c.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= 20)
    )
EVENTS_TOPK_PATHS_SQL = """
WITH s AS (
  SELECT event_type AS t1,
         lead(event_type, 1) OVER w AS t2,
         lead(event_type, 2) OVER w AS t3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (
  SELECT t1, t2, t3, count(*) AS n FROM s
  WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1, 2, 3
)
SELECT t1, t2, t3, CAST(n AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY n DESC, t1, t2, t3) AS BIGINT) AS rank
FROM c ORDER BY n DESC, t1, t2, t3 LIMIT 20
"""
def graph_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient (graph.clustering_coefficient) over
    the sparse part co-order graph (same base as graph_ktruss — the
    dense supplier co-service projection is complete at every sf, where
    every coefficient is the useless 1.0): 2T/(d(d-1)) per node from the
    degree-ordered triangle enumeration plus one degree groupBy. ONE
    IEEE division over exact integers — engine-exact; isolated and
    degree-1 parts report 0.0."""
    pairs = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.copurchase_edges(
        pairs, "l_orderkey", "l_partkey", min_support=1
    )
    out = graph.clustering_coefficient(edges)
    return out.select(
        F.col("node").cast("bigint").alias("partkey"),
        "deg",
        "n_triangles",
        "clustering",
    )
GRAPH_CLUSTERING_SQL = """
WITH m AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS n FROM lineitem),
e AS (
  SELECT a.n AS u, b.n AS v FROM m a JOIN m b ON a.k = b.k AND a.n < b.n
  GROUP BY 1, 2
),
und AS (SELECT u AS s, v AS d FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY 1),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.v = e2.u JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri
),
t AS (SELECT node, count(*) AS nt FROM corners GROUP BY 1)
SELECT CAST(d.s AS BIGINT) AS partkey, CAST(d.deg AS BIGINT) AS deg,
       CAST(coalesce(t.nt, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN CAST(2 * coalesce(t.nt, 0) AS DOUBLE)
                 / CAST(d.deg * (d.deg - 1) AS DOUBLE)
            ELSE 0.0 END AS clustering
FROM deg d LEFT JOIN t ON d.s = t.node
"""
def stats_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic
    (stats.ks_two_sample) between the 'view' and 'click' value
    distributions — the standard ingest-drift gate, computed WITHOUT
    floats until the final division: at each distinct value the eCDF gap
    |cum_a*n_b - cum_b*n_a| is an exact BIGINT, the supremum is an
    order-independent max, its location ties break to the smallest
    value, and d is ONE IEEE division by n_a*n_b. One map-side-combined
    groupBy(value) plus ONE bounded single-partition window over the
    distinct-value table (pre-quantize values at 100 TB; D is then exact
    within one bin)."""
    from kgx import stats as stats_mod

    return stats_mod.ks_two_sample(
        _t(spark, sf_dir, "events"), "event_type", "value", "view", "click"
    )
STATS_KS_SQL = """
WITH pv AS (
  SELECT value AS v,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS cb
  FROM events WHERE event_type IN ('view', 'click') GROUP BY 1
),
cum AS (
  SELECT v,
         sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM pv
),
tot AS (SELECT sum(ca) AS n_a, sum(cb) AS n_b FROM pv),
sc AS (
  SELECT t.n_a, t.n_b, c.v,
         abs(c.cum_a * t.n_b - c.cum_b * t.n_a) AS diff_scaled
  FROM cum c CROSS JOIN tot t
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(diff_scaled AS BIGINT) AS d_scaled,
       CAST(diff_scaled AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d,
       v AS at_value
FROM (
  SELECT *, row_number() OVER (ORDER BY diff_scaled DESC, v ASC) AS rn
  FROM sc
) WHERE rn = 1
"""
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-order graph:
    the Pearson correlation of endpoint degrees over every directed edge
    — THE one-number summary of hub-to-hub vs hub-to-leaf mixing that
    decides whether degree-based partitioning tricks (hub caps, salting)
    will matter on a given graph. Reuses stats.correlation VERBATIM
    (exact decimal sufficient statistics, quantized-ratio contract), fed
    by one degree groupBy + two node-keyed degree joins over the
    symmetrized edge list; degrees are exact integers so the
    DECIMAL(18,2) contract is trivially met."""
    from kgx import stats as stats_mod

    pairs = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    e = graph.copurchase_edges(pairs, "l_orderkey", "l_partkey", min_support=1)
    sym = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        e.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    j = (
        sym.join(deg.select(F.col("a"), F.col("deg").alias("x")), "a")
        .join(
            deg.select(F.col("a").alias("b"), F.col("deg").alias("y")), "b"
        )
        .select(F.lit("all").alias("graph"), "x", "y")
    )
    return stats_mod.correlation(j, "graph", "x", "y")
GRAPH_ASSORTATIVITY_SQL = """
WITH m AS (SELECT DISTINCT l_orderkey AS k, l_partkey AS n FROM lineitem),
e AS (
  SELECT a.n AS u, b.n AS v FROM m a JOIN m b ON a.k = b.k AND a.n < b.n
  GROUP BY 1, 2
),
und AS (SELECT u AS s, v AS d FROM e UNION ALL SELECT v, u FROM e),
deg AS (SELECT s, count(*) AS deg FROM und GROUP BY 1),
p AS (
  SELECT 'all' AS graph, da.deg AS x, db.deg AS y
  FROM und u JOIN deg da ON u.s = da.s JOIN deg db ON u.d = db.s
),
a AS (
  SELECT graph, CAST(count(*) AS BIGINT) AS n,
    CAST(sum(CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx,
    CAST(sum(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
    CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
    CAST(sum(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2))) AS DOUBLE) AS sx2,
    CAST(sum(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy2
  FROM p WHERE x IS NOT NULL AND y IS NOT NULL
  GROUP BY 1
)
SELECT graph, n,
  round(CASE WHEN (CAST(n AS DOUBLE)*sx2 - sx*sx) > 0
              AND (CAST(n AS DOUBLE)*sy2 - sy*sy) > 0
             THEN (CAST(n AS DOUBLE)*sxy - sx*sy)
                  / sqrt((CAST(n AS DOUBLE)*sx2 - sx*sx)
                         * (CAST(n AS DOUBLE)*sy2 - sy*sy))
        END, 12) AS pearson_r,
  round(CASE WHEN (CAST(n AS DOUBLE)*sx2 - sx*sx) > 0
             THEN (CAST(n AS DOUBLE)*sxy - sx*sy)
                  / (CAST(n AS DOUBLE)*sx2 - sx*sx)
        END, 12) AS ols_slope
FROM a
"""
