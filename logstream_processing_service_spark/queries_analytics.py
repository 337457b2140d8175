"""Driver-contract queries: join/agg/window parity on the TPC-H-ish star
schema (SURVEY §2.4 J*, §2.5 A*, §2.6 W*, §2.7 O*). These are also the
bench headline queries at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import _t, spec
from .operators import analytics as A
from .session import scratch_dir


@spec(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    "A1", "A8", "bench",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.pricing_summary(_t(spark, sf_dir, "lineitem"))


@spec(
    "top_revenue_orders",
    """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "J1", "O3", "bench",
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.top_revenue_orders(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "revenue_by_nation",
    """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    "J1", "bench",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.revenue_by_nation(
        _t(spark, sf_dir, "region"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_nationkey
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    ORDER BY c_custkey
    """,
    "J2", "S6",
)
def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.customers_without_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@spec(
    "priority_order_counts",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "J2",
)
def q_priority_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.priority_order_counts(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@spec(
    "first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
        SELECT *, row_number() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ) AS rn FROM orders
    ) WHERE rn = 1 ORDER BY o_custkey
    """,
    "W1", "W6",
)
def q_first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.first_order_per_customer(_t(spark, sf_dir, "orders"))


@spec(
    "customer_order_stats",
    """
    SELECT c_custkey, c_mktsegment,
           coalesce(n_orders, 0) AS n_orders,
           coalesce(total_spent, 0.0) AS total_spent
    FROM customer
    LEFT JOIN (
        SELECT o_custkey, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        FROM orders GROUP BY o_custkey
    ) agg ON c_custkey = o_custkey
    ORDER BY c_custkey
    """,
    "J1", "A1",
)
def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.customer_order_stats(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@spec(
    "promo_revenue",
    """
    WITH j AS (
        SELECT CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS disc, p_type
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate <  TIMESTAMP '1997-10-01'
    )
    SELECT 100.0 * promo / total AS promo_pct,
           promo AS promo_revenue, total AS total_revenue
    FROM (
        SELECT CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN disc
                             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo,
               CAST(sum(disc) AS DOUBLE) AS total
        FROM j
    )
    """,
    "A1", "F-cond",
)
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.promo_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))


@spec(
    "large_volume_customers",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM orders
    JOIN (
        SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200
    ) big ON o_orderkey = big.l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    "J1", "A2",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.large_volume_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "national_market_share",
    """
    WITH j AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) AS volume,
               n_name
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
    )
    SELECT o_year,
           round(CAST(CAST(sum(CASE WHEN n_name = 'NATION_3' THEN volume
                                    ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(38,4)) AS DOUBLE)
                 / CAST(CAST(sum(volume) AS DECIMAL(38,4)) AS DOUBLE), 6) AS mkt_share
    FROM j GROUP BY o_year ORDER BY o_year
    """,
    "J1", "F-cond",
)
def q_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.national_market_share(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "part_value_share",
    """
    WITH per_part AS (
        SELECT l_partkey,
               CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DECIMAL(38,4)) AS pv_dec
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(pv_dec AS DOUBLE) AS part_value FROM per_part
    WHERE CAST(pv_dec AS DOUBLE) >
          (SELECT CAST(sum(pv_dec) AS DOUBLE) FROM per_part) * 0.0005
    ORDER BY part_value DESC, l_partkey
    """,
    "A2", "scalar-subquery",
)
def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.part_value_share(_t(spark, sf_dir, "lineitem"))


@spec(
    "idle_rich_customers",
    """
    WITH pos AS (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total,
               count(*) AS n
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, pos
    WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > total
      AND c_custkey NOT IN (SELECT o_custkey FROM orders)
    GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    "J2", "scalar-subquery",
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.idle_rich_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@spec(
    "brand_priciest_part",
    """
    SELECT p_brand, p_name AS top_part, p_retailprice AS top_price
    FROM (
        SELECT p_brand, p_name, p_retailprice,
               row_number() OVER (
                   PARTITION BY p_brand ORDER BY p_retailprice DESC, p_name DESC
               ) AS rn
        FROM part
    ) WHERE rn = 1 ORDER BY p_brand
    """,
    "A-ext", "argmax",
)
def q_brand_priciest_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.brand_priciest_part(_t(spark, sf_dir, "part"))


@spec(
    "grouping_sets_volume",
    """
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(hour(ts) AS INTEGER)))
    """,
    "A-ext", "grouping-sets",
)
def q_grouping_sets_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.grouping_sets_volume(_t(spark, sf_dir, "events"))


@spec(
    "supplier_part_revenue",
    """
    -- three-way dim join over the otherwise-unused part/supplier tables
    SELECT s.s_name, p.p_type,
           CAST(sum(CAST(l.l_extendedprice*(1-l.l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p     ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_type LIKE 'SMALL%'
    GROUP BY s.s_name, p.p_type
    """,
    "J1", "bench",
)
def q_supplier_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type").like("SMALL%"))
    supp = _t(spark, sf_dir, "supplier")
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    ).cast("double")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .groupBy("s_name", "p_type")
        .agg(rev.alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@spec(
    "cheapest_supplier_per_part",
    """
    SELECT l_partkey, l_suppkey, round(part_best, 6) AS best_unit_price
    FROM (
        SELECT l_partkey, l_suppkey,
               min(l_extendedprice / l_quantity)
                   OVER (PARTITION BY l_partkey) AS part_best,
               row_number() OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_extendedprice / l_quantity, l_suppkey
               ) AS rn
        FROM lineitem
    ) WHERE rn = 1
    """,
    "J-corr", "W-min",
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.cheapest_supplier_per_part(_t(spark, sf_dir, "lineitem"))


@spec(
    "single_failed_supplier_orders",
    """
    WITH per AS (
        SELECT l_orderkey, l_suppkey,
               max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS failed
        FROM lineitem GROUP BY 1, 2
    ),
    agg AS (
        SELECT l_orderkey, count(*) AS n_supp, sum(failed) AS n_failed
        FROM per GROUP BY 1
    )
    SELECT p.l_suppkey, count(*) AS numwait
    FROM per p JOIN agg a ON p.l_orderkey = a.l_orderkey
    WHERE p.failed = 1 AND a.n_supp > 1 AND a.n_failed = 1
    GROUP BY 1 ORDER BY numwait DESC, l_suppkey LIMIT 20
    """,
    "J-corr", "exists-notexists",
)
def q_single_failed_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.single_failed_supplier_orders(_t(spark, sf_dir, "lineitem"))


@spec(
    "top_quarter_suppliers",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                    AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT l_suppkey, total_revenue FROM rev
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    ORDER BY l_suppkey
    """,
    "J-corr", "scalar-max",
)
def q_top_quarter_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.top_quarter_suppliers(_t(spark, sf_dir, "lineitem"))


@spec(
    "small_quantity_part_revenue",
    """
    WITH li AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_brand = 'Brand#1'
    ),
    qs AS (
        SELECT l_partkey, sum(l_quantity) AS sum_qty, count(*) AS n
        FROM li GROUP BY 1
    )
    SELECT round(CAST(sum(CAST(li.l_extendedprice AS DECIMAL(18,2)))
                      AS DECIMAL(38,2)) / 7.0, 4) AS avg_yearly
    FROM li JOIN qs ON li.l_partkey = qs.l_partkey
    WHERE li.l_quantity * qs.n * 5 < qs.sum_qty
    """,
    "J-corr", "avg-subquery",
)
def q_small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.small_quantity_part_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@spec(
    "nation_trade_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey,
    LATERAL (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(year(l_shipdate) AS INTEGER) AS l_year)
    WHERE n1.n_name IN ('NATION_1','NATION_2')
      AND n2.n_name IN ('NATION_1','NATION_2')
      AND n1.n_name <> n2.n_name
    GROUP BY 1, 2, 3
    """,
    "J1", "Q7",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.nation_trade_volume(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "returned_item_customers",
    """
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    "J1", "Q10",
)
def q_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.returned_item_customers(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "linestatus_priority_split",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE year(l_shipdate) = 1997
    GROUP BY 1 ORDER BY 1
    """,
    "A-cond", "Q12",
)
def q_linestatus_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.linestatus_priority_split(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


@spec(
    "customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_custkey) AS c_count
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    ) GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
    "A-ext", "Q13",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@spec(
    "part_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type NOT LIKE 'MEDIUM%'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    "A-distinct", "Q16",
)
def q_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.part_supplier_counts(
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "lineitem"),
    )


@spec(
    "bracketed_discount_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 30)
    """,
    "F-cond", "Q19",
)
def q_bracketed_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.bracketed_discount_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@spec(
    "heavy_shippers_of_part_family",
    """
    SELECT s_name, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%' AND year(l_shipdate) = 1997
        GROUP BY l_suppkey, l_partkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 50
    )
    ORDER BY s_name
    """,
    "J-corr", "Q20",
)
def q_heavy_shippers_of_part_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    return A.heavy_shippers_of_part_family(
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "lineitem"),
    )


def _profile_events_oracle() -> str:
    def num(c):
        return f"CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"

    def ts(c):
        return f"CAST(epoch_us(min({c})) AS DOUBLE) AS min_num, CAST(epoch_us(max({c})) AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"

    def s(c):
        return f"CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num, min({c}) AS min_str, max({c}) AS max_str"

    cols = [
        ("event_id", num), ("ts", ts), ("user_id", num),
        ("event_type", s), ("value", num), ("props", s),
    ]
    parts = [
        f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
            CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                AS n_nulls,
            CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, {fn(c)}
            FROM events"""
        for c, fn in cols
    ]
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


@spec(
    "profile_events",
    _profile_events_oracle(),
    "profiling", "A-ext", "engine-extension",
)
def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler over events: one scan computes null/distinct/
    min-max for every column (Deequ-style data-quality primitive)."""
    return A.profile_table(_t(spark, sf_dir, "events"))


def _zorder_oracle() -> str:
    from .operators import layout as L

    return L.zorder_bucket_stats_oracle_sql()


@spec("zorder_bucket_stats", _zorder_oracle(), "layout", "engine-ext")
def q_zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave arithmetic verified bit-for-bit: the
    clustering key behind the OPTIMIZE ZORDER layout (see
    operators/layout.py; the file-skipping proof lives in
    tests/test_layout.py against real parquet footer statistics)."""
    from .operators.layout import zorder_bucket_stats

    return zorder_bucket_stats(_t(spark, sf_dir, "events"))


def _pagerank_oracle() -> str:
    from .operators import graph as G

    return G.pagerank_oracle_sql()


@spec("part_pagerank", _pagerank_oracle(), "graph", "iterative", "engine-ext")
def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-order graph (8 power-iteration steps,
    d=0.85): the Pregel message-passing step as one join + one dst-keyed
    agg per iteration, lineage truncated per step. The oracle unrolls the
    same iteration into chained CTEs — a full-value hash match after 8
    float iterations on both engines."""
    from .operators.graph import co_order_edges, pagerank

    # symmetric=True: co_order_edges emits both directions, so every node
    # receives mass — skips the per-iteration re-attachment join (r13)
    return pagerank(
        co_order_edges(_t(spark, sf_dir, "lineitem")), symmetric=True
    )


def _json_shred_oracle() -> str:
    from .operators.analytics import json_shred_profile_oracle_sql

    return json_shred_profile_oracle_sql("events", "props")


@spec("json_shred_profile", _json_shred_oracle(), "F9", "profiling",
      "engine-ext")
def q_json_shred_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-inferring shred report over the events JSON payload: one
    row per top-level key with presence, type histogram, distinct scalar
    cardinality, and numeric stats — key discovery and type inference in
    ONE map-explode projection, no driver-side key collection."""
    from .operators.analytics import json_shred_profile

    return json_shred_profile(_t(spark, sf_dir, "events"), "props")


@spec(
    "matview_refresh_twin",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(round(sum(CAST(value AS DECIMAL(27, 6))), 2) AS DOUBLE)
               AS sum_value,
           round(CAST(sum(CAST(value AS DECIMAL(27, 6))) AS DOUBLE)
                 / count(*), 6) AS avg_value,
           min(user_id) AS min_user_id,
           max(user_id) AS max_user_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "engine-ext", "ivm", "txlog",
)
def q_matview_refresh_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance end-to-end: 3 txlog
    append commits (batch = event_id % 3) each followed by an
    O(delta-files) refresh_matview; the served view after the last
    refresh hash-matches the oracle's ONE full-table aggregate —
    incremental == full recompute, bit-for-bit (decimal sums make the
    merge associative). The refresh mode is asserted incremental so the
    twin cannot silently pass via the full-recompute fallback."""
    from .operators import txlog as TX
    from .operators.matview import (
        ViewSpec,
        read_matview,
        refresh_matview,
    )

    base = scratch_dir("matview")
    table_dir, view_dir = f"{base}/table", f"{base}/view"
    spec_ = ViewSpec(
        group_cols=("event_type",),
        sum_cols=("value",),
        minmax_cols=("user_id",),
    )
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type",
                                            "value", "user_id")
    from pyspark.sql import functions as F

    for b in range(3):
        TX.commit(
            table_dir,
            ev.filter(F.col("event_id") % 3 == b).drop("event_id"),
            mode="append" if b else "overwrite",
        )
        info = refresh_matview(spark, view_dir, table_dir, spec_)
        if b > 0:
            assert info["mode"] == "incremental", info
    return read_matview(spark, view_dir, spec_)


@spec(
    "skew_report",
    """
    WITH c AS (
        SELECT CAST(user_id AS STRING) AS key, count(*) AS cnt
        FROM events GROUP BY 1
    ),
    s AS (SELECT CAST(sum(cnt) AS DOUBLE) / count(*) AS mean_cnt FROM c)
    SELECT key, CAST(cnt AS BIGINT) AS cnt,
           round(cnt / mean_cnt, 6) AS ratio_to_mean,
           CAST(ceil(cnt / mean_cnt) AS INT) AS suggested_salt
    FROM c, s ORDER BY cnt DESC, key LIMIT 10
    """,
    "ops", "skew", "engine-ext",
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: the 10 heaviest user_id keys with
    ratio-to-mean and the salt factor salted_join would need — the
    pre-flight report for sizing a 100 TB shuffle."""
    from .operators.analytics import skew_report

    return skew_report(_t(spark, sf_dir, "events"), "user_id")


def _drift_window_oracle() -> str:
    """Full recompute of the incremental windowed-drift monitor: same
    fixed grid (lo=0, width=30, 20 bins), same 7-day current-vs-prior
    week comparison, PSI/binned-KS/mean-shift per (anchor day, type)."""
    return """
    WITH rows_ AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0)
                   / 30.0) AS INT), 0), 19) AS bin,
               CAST(value AS DOUBLE) AS v
        FROM events
    ),
    per AS (
        SELECT event_type, day, bin, count(*) AS cnt,
               sum(CAST(v AS DECIMAL(27,6))) AS s
        FROM rows_ GROUP BY 1, 2, 3
    ),
    anchors AS (SELECT DISTINCT day AS d FROM per),
    types AS (SELECT DISTINCT event_type FROM per),
    grid AS (SELECT CAST(range AS INT) AS bin FROM range(20)),
    cur AS (
        SELECT a.d, p.event_type, p.bin,
               sum(p.cnt) AS n_cur_bin, sum(p.s) AS s_cur_bin
        FROM anchors a JOIN per p
          ON p.day >= a.d - INTERVAL 6 DAY AND p.day <= a.d
        GROUP BY 1, 2, 3
    ),
    ref AS (
        SELECT a.d, p.event_type, p.bin,
               sum(p.cnt) AS n_ref_bin, sum(p.s) AS s_ref_bin
        FROM anchors a JOIN per p
          ON p.day >= a.d - INTERVAL 13 DAY
         AND p.day <= a.d - INTERVAL 7 DAY
        GROUP BY 1, 2, 3
    ),
    dense AS (SELECT d, event_type, bin FROM anchors, types, grid),
    j AS (
        SELECT dn.d, dn.event_type, dn.bin,
               coalesce(c.n_cur_bin, 0) AS n_cur_bin,
               coalesce(r.n_ref_bin, 0) AS n_ref_bin,
               coalesce(c.s_cur_bin, CAST(0 AS DECIMAL(27,6))) AS s_cur_bin,
               coalesce(r.s_ref_bin, CAST(0 AS DECIMAL(27,6))) AS s_ref_bin
        FROM dense dn
        LEFT JOIN cur c ON c.d = dn.d AND c.event_type = dn.event_type
                       AND c.bin = dn.bin
        LEFT JOIN ref r ON r.d = dn.d AND r.event_type = dn.event_type
                       AND r.bin = dn.bin
    ),
    tot AS (
        SELECT d, event_type,
               sum(n_cur_bin) AS n_cur, sum(n_ref_bin) AS n_ref,
               sum(s_cur_bin) AS s_cur, sum(s_ref_bin) AS s_ref
        FROM j GROUP BY 1, 2
    ),
    jt AS (
        SELECT j.*, t.n_cur, t.n_ref
        FROM j JOIN tot t USING (d, event_type)
        WHERE t.n_cur > 0 AND t.n_ref > 0
    ),
    psi AS (
        SELECT d, event_type,
               round(sum(
                   ((n_cur_bin + 0.5) / (n_cur + 10.0)
                    - (n_ref_bin + 0.5) / (n_ref + 10.0))
                   * ln(((n_cur_bin + 0.5) / (n_cur + 10.0))
                        / ((n_ref_bin + 0.5) / (n_ref + 10.0)))
               ), 6) AS psi
        FROM jt GROUP BY 1, 2
    ),
    ks AS (
        SELECT d, event_type, round(max(gap), 6) AS ks_stat FROM (
            SELECT d, event_type,
                   abs(CAST(sum(n_cur_bin) OVER w AS DOUBLE) / n_cur
                       - CAST(sum(n_ref_bin) OVER w AS DOUBLE) / n_ref)
                       AS gap
            FROM jt
            WINDOW w AS (PARTITION BY d, event_type ORDER BY bin
                         ROWS UNBOUNDED PRECEDING)
        ) GROUP BY 1, 2
    )
    SELECT CAST(t.d AS TIMESTAMP) AS day, t.event_type,
           CAST(t.n_ref AS BIGINT) AS n_ref,
           CAST(t.n_cur AS BIGINT) AS n_cur,
           p.psi, k.ks_stat,
           round(CAST(t.s_cur AS DOUBLE) / t.n_cur
                 - CAST(t.s_ref AS DOUBLE) / t.n_ref, 6) AS mean_shift
    FROM tot t
    JOIN psi p USING (d, event_type)
    JOIN ks k USING (d, event_type)
    WHERE t.n_cur > 0 AND t.n_ref > 0
    ORDER BY 1, 2
    """


@spec(
    "drift_window_twin",
    _drift_window_oracle(),
    "data-quality", "drift", "ivm", "txlog", "engine-ext",
)
def q_drift_window_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed drift monitoring maintained O(delta) off the txlog
    (VERDICT r5 #4): 3 txlog append commits of pre-binned event rows
    (batch = event_id % 3), each followed by an incremental matview
    refresh at (event_type, day, bin) grain; the served report — per
    anchor day, trailing week vs the week before: PSI, binned KS, mean
    shift — hash-matches the oracle's ONE full-table recompute. Refresh
    mode asserted incremental so the twin cannot pass via the
    full-recompute fallback."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX
    from .operators.driftwindow import (
        DriftGrid,
        prepare_drift_rows,
        refresh_drift_view,
        windowed_drift,
    )

    base = scratch_dir("driftwin")
    table_dir, view_dir = f"{base}/table", f"{base}/view"
    grid = DriftGrid(lo=0.0, hi=600.0, bins=20, window_days=7)
    ev = _t(spark, sf_dir, "events")
    for b in range(3):
        TX.commit(
            table_dir,
            prepare_drift_rows(
                ev.filter(F.col("event_id") % 3 == b), grid
            ),
            mode="append" if b else "overwrite",
        )
        info = refresh_drift_view(spark, view_dir, table_dir)
        if b > 0:
            assert info["mode"] == "incremental", info
    return windowed_drift(spark, view_dir, grid)


@spec(
    "drift_report",
    """
    WITH b AS (
        SELECT event_type, CAST(value AS DOUBLE) AS v, epoch_us(ts) AS us
        FROM events
    ),
    bounds AS (
        SELECT min(us) AS lo_us, max(us) AS hi_us,
               min(v) AS lo_v, max(v) AS hi_v
        FROM b
    ),
    sliced AS (
        SELECT event_type, v,
               CASE WHEN us <= (lo_us + hi_us) / 2 THEN 1 ELSE 0 END
                   AS is_ref,
               lo_v, hi_v
        FROM b, bounds
    ),
    binned AS (
        SELECT event_type, v, is_ref,
               least(greatest(CAST(floor((v - lo_v)
                   / (greatest(hi_v - lo_v, 1e-300) / 10.0)) AS INT), 0), 9)
                   AS bin
        FROM sliced
    ),
    per_bin AS (
        SELECT event_type, bin,
               sum(is_ref) AS n_ref_bin,
               sum(1 - is_ref) AS n_cur_bin
        FROM binned GROUP BY 1, 2
    ),
    totals AS (
        SELECT event_type,
               sum(is_ref) AS n_ref, sum(1 - is_ref) AS n_cur,
               round(CAST(sum(CASE WHEN is_ref = 0
                          THEN CAST(v AS DECIMAL(18,2)) END) AS DOUBLE)
                     / sum(1 - is_ref)
                   - CAST(sum(CASE WHEN is_ref = 1
                          THEN CAST(v AS DECIMAL(18,2)) END) AS DOUBLE)
                     / sum(is_ref), 6) AS mean_shift
        FROM binned GROUP BY 1
    ),
    psi AS (
        SELECT p.event_type,
               round(sum(
                   ((n_cur_bin + 0.5) / (n_cur + 0.5 * 10)
                    - (n_ref_bin + 0.5) / (n_ref + 0.5 * 10))
                   * ln(((n_cur_bin + 0.5) / (n_cur + 0.5 * 10))
                        / ((n_ref_bin + 0.5) / (n_ref + 0.5 * 10)))
               ), 6) AS psi
        FROM per_bin p JOIN totals t USING (event_type)
        GROUP BY 1
    ),
    ks AS (
        -- both halves' ECDF jumps at a tied v land together: accumulate
        -- per-distinct-v increments BEFORE taking the gap (a row-grain
        -- running sum would read the gap mid-jump on cross-half ties)
        SELECT event_type, round(max(gap), 6) AS ks_stat FROM (
            SELECT event_type,
                   abs(CAST(sum(r_v) OVER w AS DOUBLE) / n_ref
                       - CAST(sum(c_v) OVER w AS DOUBLE) / n_cur) AS gap
            FROM (
                SELECT event_type, v,
                       sum(is_ref) AS r_v, sum(1 - is_ref) AS c_v
                FROM binned GROUP BY 1, 2
            ) JOIN totals USING (event_type)
            WINDOW w AS (PARTITION BY event_type ORDER BY v
                         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ) GROUP BY 1
    )
    SELECT t.event_type,
           CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
           psi, ks_stat, mean_shift
    FROM totals t JOIN psi USING (event_type) JOIN ks USING (event_type)
    ORDER BY t.event_type
    """,
    "data-quality", "drift", "engine-ext",
)
def q_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI + exact KS + mean-shift drift report between the first and
    second half of the event stream, per event_type — the data-quality
    gate a production ingest runs; thresholds (PSI > 0.2, KS > 0.1) are
    conventions the caller applies."""
    from .operators.analytics import drift_report

    return drift_report(_t(spark, sf_dir, "events"))


@spec(
    "constraint_report",
    """
    WITH checks AS (
        SELECT 'fk:lineitem.l_orderkey->orders' AS rule,
               (SELECT count(*) FROM lineitem) AS n_checked,
               (SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))
                   AS n_violations
        UNION ALL
        SELECT 'fk:orders.o_custkey->customer',
               (SELECT count(*) FROM orders),
               (SELECT count(*) FROM orders r
                WHERE NOT EXISTS (SELECT 1 FROM customer c
                                  WHERE c.c_custkey = r.o_custkey))
        UNION ALL
        SELECT 'in_set:events.event_type',
               (SELECT count(*) FROM events),
               (SELECT count(*) FROM events WHERE event_type IS NULL
                   OR event_type NOT IN
                      ('error', 'signup', 'purchase', 'click', 'view'))
        UNION ALL
        SELECT 'not_null:events.event_id',
               (SELECT count(*) FROM events),
               (SELECT count(*) FROM events WHERE event_id IS NULL)
        UNION ALL
        SELECT 'range:events.value',
               (SELECT count(*) FROM events),
               (SELECT count(*) FROM events
                WHERE value IS NULL OR value < 0 OR value > 1000000)
        UNION ALL
        SELECT 'unique:events.event_id',
               (SELECT count(*) FROM events),
               (SELECT count(*) - count(DISTINCT event_id) FROM events)
    )
    SELECT rule, CAST(n_checked AS BIGINT) AS n_checked,
           CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM checks ORDER BY rule
    """,
    "data-quality", "constraints", "engine-ext",
)
def q_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract check suite over the warehouse: FK integrity
    (lineitem->orders, orders->customer), enum membership, NOT NULL,
    range, and key uniqueness — one report row per rule."""
    from .operators.analytics import constraint_report

    tables = {
        n: _t(spark, sf_dir, n)
        for n in ("events", "orders", "customer", "lineitem")
    }
    rules = [
        {"kind": "fk", "table": "lineitem", "column": "l_orderkey",
         "ref_table": "orders", "ref_column": "o_orderkey",
         "name": "fk:lineitem.l_orderkey->orders"},
        {"kind": "fk", "table": "orders", "column": "o_custkey",
         "ref_table": "customer", "ref_column": "c_custkey",
         "name": "fk:orders.o_custkey->customer"},
        {"kind": "in_set", "table": "events", "column": "event_type",
         "values": ["error", "signup", "purchase", "click", "view"],
         "name": "in_set:events.event_type"},
        {"kind": "not_null", "table": "events", "column": "event_id",
         "name": "not_null:events.event_id"},
        {"kind": "range", "table": "events", "column": "value",
         "lo": 0, "hi": 1000000, "name": "range:events.value"},
        {"kind": "unique", "table": "events", "columns": ["event_id"],
         "name": "unique:events.event_id"},
    ]
    return constraint_report(tables, rules)


# ---------------------------------------------------------------------------
# r8 continuation registrations (rehearsed this session)
# ---------------------------------------------------------------------------


from .operators import mining as MI  # noqa: E402


@spec(
    "association_rules",
    MI.association_rules_oracle_sql(),
    "mining", "J1-ext", "basket",
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support/confidence/lift association rules over per-user DISTINCT
    event-type baskets (the Apriori 2-itemset pass). Distinct-first
    makes the per-user self-join quadratic in the TYPE vocabulary, not
    the event count; the per-item count table broadcasts for scoring;
    basket_cap guards degenerate vocabularies loudly. Exact BIGINT
    counts; ratios divide them in double, rounded 6 dp."""
    return MI.association_rules(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# r9 registrations (rehearsed in r8, registered per ROADMAP's r9 map)
# ---------------------------------------------------------------------------


@spec(
    "purchase_attribution",
    MI.purchase_attribution_oracle_sql(),
    "mining", "W-ext", "attribution",
)
def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch + first-preceding-touch attribution for every
    purchase event: ONE user-keyed running-window pass (no
    purchase×click self-join); the "latest preceding click" rides a
    zero-padded ts:id string MAX (identical total order on both
    engines); lag divides exact BIGINT micros by CAST(1e6 AS DOUBLE).
    The reference's watermark-incremental join shape
    (pattern_ops.py:28-65) applied at user grain."""
    return MI.purchase_attribution(_t(spark, sf_dir, "events"))


@spec(
    "equidepth_bins",
    A.equidepth_bins_oracle_sql(),
    "A-ext", "binning",
)
def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (quantile) binning of value per event type —
    rank-selected cut points from type-keyed windows (NO global ntile
    single-partition window); duplicate cut multiplicity preserved so
    n < n_bins degenerates identically on both engines; bins assigned
    against the broadcast cut list."""
    return A.equidepth_bins(_t(spark, sf_dir, "events"))


@spec(
    "event_path_trigrams",
    MI.event_path_trigrams_oracle_sql(),
    "mining", "W-ext", "sequence",
)
def q_event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-step user paths (PrefixSpan k=3 slice): one
    user-keyed window exchange, trigram counts at event-type-vocabulary
    grain, exact BIGINT counts with a min-count floor."""
    return MI.event_path_trigrams(_t(spark, sf_dir, "events"))


def profile_diff_oracle_sql() -> str:
    """Twin for the r10-queue `profile_diff_report` rehearsal: events
    split by event_id parity into old/new snapshots; per column the
    same exact counts and 6-dp rate deltas."""
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]

    def prof(tag: str, pred: str) -> str:
        parts = [
            f"""SELECT '{c}' AS col_name,
                CAST(count(*) AS BIGINT) AS n_{tag},
                CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS nulls_{tag},
                CAST(count(DISTINCT {c}) AS BIGINT) AS distinct_{tag}
            FROM events WHERE {pred}"""
            for c in cols
        ]
        return " UNION ALL ".join(parts)

    return f"""
    WITH po AS ({prof("old", "event_id % 2 = 0")}),
    pn AS ({prof("new", "event_id % 2 = 1")})
    SELECT po.col_name, n_old, n_new, nulls_old, nulls_new,
           round(CAST(nulls_new AS DOUBLE) / n_new
                 - CAST(nulls_old AS DOUBLE) / n_old, 6) AS null_rate_delta,
           distinct_old, distinct_new,
           CASE WHEN distinct_old > 0
                THEN round(CAST(distinct_new AS DOUBLE) / distinct_old, 6)
           END AS distinct_ratio
    FROM po JOIN pn ON po.col_name = pn.col_name
    ORDER BY po.col_name
    """


@spec(
    "profile_diff_report",
    profile_diff_oracle_sql(),
    "quality", "drift", "A-ext",
)
def q_profile_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift between the even/odd event_id snapshots of
    events (the Deequ AnalyzerContext diff; r10 queue, rehearsed r9):
    per column, exact old/new row/null/distinct counts + null-rate
    delta + distinct-cardinality ratio, two one-scan profiles joined
    at column grain. Engine-grade form of the reference's quality
    audit loop (validate_quality.py:59-112) applied to snapshots."""
    from pyspark.sql import functions as F

    from .operators.analytics import profile_diff_report

    ev = _t(spark, sf_dir, "events")
    return profile_diff_report(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
    )


@spec(
    "rfm_segments",
    A.rfm_segments_oracle_sql(),
    "analytics", "segmentation", "A-ext",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (Hughes 1994; r10 queue, rehearsed
    r9): within-NATION quintiles by integer-rank arithmetic
    ((r−1)·5 div n + 1 — float-safe), monetary through DECIMAL(18,2);
    all three windows share ONE nation exchange (no global ntile —
    plan-pinned in tests/test_rfm.py)."""
    return A.rfm_segments(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    )


@spec(
    "benford_deviation_report",
    A.benford_oracle_sql(),
    "analytics", "forensics",
)
def q_benford_deviation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of events.value per event
    type — the numeric-forensics screen for fabricated/truncated feeds
    (Newcomb 1881 / Benford 1938; r11 queue, rehearsed r10). Exact
    cents-string digit extraction (engine-portable by design — no libm
    log10/pow at the digit boundary); per-type total as a window
    analytic over the 9-digit spine, NULL-guarded for types with no
    positive values (r10 advice); alpha_10x 0.146."""
    return A.benford_deviation_report(_t(spark, sf_dir, "events"))
