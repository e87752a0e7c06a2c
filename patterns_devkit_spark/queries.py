"""The engine's query battery: every operator class from SURVEY.md §2
as a (spark, sf_dir) -> DataFrame callable, each paired (where SQL can
express it) with an ANSI-SQL oracle that DuckDB runs on the same
parquet — the driver's correctness gate.

Cross-engine determinism rules used throughout (these matter):
- Money sums (60k doubles of magnitude 1e4) are NOT order-independent
  in IEEE double; both sides therefore sum round(x*100) CENTS as
  64-bit integers (exact, order-free) and divide by 100.0 at the end.
- Quantities are integral doubles -> double sums are exact as-is.
- Every computed integer is cast to 64-bit on the Spark side (F.size/
  year()/row_number() return int32; DuckDB returns int64).
- Window/topk queries always carry a unique tie-break column.
- Small-magnitude float aggregates (stddev, ratios) are rounded to 6dp
  on both sides.
"""
from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .operators import asof as asof_ops
from .operators import dedup as dedup_ops
from .operators import det_hash as det_ops
from .operators import multimodal as mm_ops
from .operators import similarity as sim_ops
from .operators import text as text_ops
from .operators import windows as win_ops

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _ensure_session_confs(spark: SparkSession) -> None:
    """The driver may call us with ITS OWN SparkSession: enforce the
    runtime confs correctness depends on — UTC session timezone (or
    timestamp values drift vs the DuckDB oracle), nanosAsLong (or
    reading events.parquet's TIMESTAMP(NANOS) raises) and ANSI mode
    (integer overflow raises rather than wrapping into a wrong
    answer)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.ansi.enabled", "true")
    except Exception:
        pass  # conf locked down: proceed with session defaults


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Normalize events.ts to a plain TIMESTAMP regardless of how the
    # fixture encodes it: TIMESTAMP(NANOS) arrives as epoch-nanos long
    # (nanosAsLong), TIMESTAMP(MICROS, not adjusted to UTC) arrives as
    # timestamp_ntz (on which unix_micros & friends don't resolve).
    # Session timezone is UTC, so the NTZ→LTZ cast is value-preserving.
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            # integer DIV: float division of epoch-nanos (>2^53) loses µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def cents_sum(col, alias: str):
    """Exact, order-independent money sum: cents as bigint / 100."""
    return (F.sum(F.round(col * 100).cast("long")) / F.lit(100.0)).alias(alias)


def _sql_cents_sum(expr: str, alias: str) -> str:
    return f"cast(sum(cast(round(({expr})*100) as bigint)) as double)/100.0 as {alias}"


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# =====================================================================
# Relational surface (SURVEY.md §2.9)
# =====================================================================

@query(
    "q01_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           {_sql_cents_sum('l_extendedprice', 'sum_base_price')},
           {_sql_cents_sum('l_extendedprice*(1-l_discount)', 'sum_disc_price')},
           {_sql_cents_sum('l_extendedprice*(1-l_discount)*(1+l_tax)', 'sum_charge')},
           round(sum(l_quantity)/count(*), 6) AS avg_qty,
           round(cast(sum(cast(round(l_extendedprice*100) as bigint)) as double)/100.0/count(*), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1: scan+filter+hash-agg; Catalyst pushes the shipdate
    predicate to parquet and runs partial aggregation map-side."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        cents_sum(F.col("l_extendedprice"), "sum_base_price"),
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "sum_disc_price"),
        cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax")), "sum_charge"),
        F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.round(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0 / F.count(F.lit(1)), 6).alias("avg_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q02_predicates",
    """
    SELECT p_brand, count(*) AS n_parts, round(avg(p_size), 6) AS avg_size
    FROM part
    WHERE p_size IN (1, 5, 9, 13) AND p_type LIKE '%a%'
      AND p_retailprice BETWEEN 910 AND 980 AND p_name IS NOT NULL
    GROUP BY p_brand
    """,
)
def q02(spark, sf_dir):
    """Predicate flavors: IN, LIKE, BETWEEN, IS NOT NULL — all pushed
    to the parquet scan."""
    p = t(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_size").isin(1, 5, 9, 13)
            & F.col("p_type").like("%a%")
            & F.col("p_retailprice").between(910, 980)
            & F.col("p_name").isNotNull()
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"), F.round(F.avg("p_size"), 6).alias("avg_size"))
    )


@query(
    "q03_shipping_priority",
    f"""
    SELECT o_orderkey, {_sql_cents_sum('l_extendedprice*(1-l_discount)', 'revenue')}, o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def q03(spark, sf_dir):
    """TPC-H Q3 shape: 3-way join + agg + top-k. customer filter
    broadcasts; deterministic tie-break on o_orderkey."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "q04_semi_join",
    """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
    GROUP BY o_orderpriority
    """,
)
def q04(spark, sf_dir):
    """EXISTS -> left_semi join."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q05_region_volume",
    f"""
    SELECT r_name, n_name, {_sql_cents_sum('l_extendedprice*(1-l_discount)', 'revenue')}, count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q05(spark, sf_dir):
    """5-way star join: fact table joins dims; nation/region broadcast
    (tiny), customer broadcasts under the 64 MB threshold at bench SF."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q06_forecast_revenue",
    f"""
    SELECT {_sql_cents_sum('l_extendedprice*l_discount', 'revenue')}, count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q06(spark, sf_dir):
    """TPC-H Q6: pure scan-filter-agg; everything pushes down."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(cents_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"), F.count(F.lit(1)).alias("n"))


@query(
    "q07_anti_join",
    """
    SELECT c_mktsegment, count(*) AS n_customers_no_big_orders
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
)
def q07(spark, sf_dir):
    """NOT EXISTS -> left_anti join (customers with no large order)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_no_big_orders"))
    )


@query(
    "q08_outer_join_agg",
    f"""
    SELECT c_custkey, count(o_orderkey) AS n_orders, {_sql_cents_sum('coalesce(o_totalprice, 0)', 'total_spent')}
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def q08(spark, sf_dir):
    """LEFT OUTER join preserving customers with zero orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            cents_sum(F.coalesce(F.col("o_totalprice"), F.lit(0.0)), "total_spent"),
        )
    )


@query(
    "q09_theta_join",
    """
    SELECT n_name, count(*) AS n_pairs
    FROM supplier JOIN customer ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
                  JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def q09(spark, sf_dir):
    """Theta join: equi on nation + non-equi residual on acctbal
    (hash join with filter, not a nested loop)."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@query(
    "q10_agg_stats",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS std_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
           min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q10(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "q11_count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q11(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q12_rollup",
    """
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q12(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n")
    )


@query(
    "q13_cube",
    """
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q13(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.sum("l_quantity").alias("sum_qty"))


@query(
    "q14_having",
    """
    SELECT l_suppkey, sum(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_suppkey HAVING sum(l_quantity) > 5000
    """,
)
def q14(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 5000)
    )


@query(
    "q15_window_rank",
    """
    SELECT * FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             cast(row_number() OVER w AS bigint) AS rn,
             cast(rank() OVER w AS bigint) AS rnk,
             cast(dense_rank() OVER w AS bigint) AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)
    ) WHERE rn <= 3
    """,
)
def q15(spark, sf_dir):
    """Ranking windows: top-3 orders per priority (unique tie-break)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q16_window_lag_lead",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           round(o_totalprice - coalesce(lag(o_totalprice) OVER w, o_totalprice), 2) AS delta
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
)
def q16(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        prev.alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.round(F.col("o_totalprice") - F.coalesce(prev, F.col("o_totalprice")), 2).alias("delta"),
    )


@query(
    "q17_window_frames",
    """
    SELECT o_custkey, o_orderkey,
           cast(sum(cast(round(o_totalprice*100) as bigint))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double)/100.0 AS running_total,
           round(avg(o_totalprice)
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3
    FROM orders
    """,
)
def q17(spark, sf_dir):
    """Aggregate windows with ROWS frames: exact running totals via the
    cents trick (order-dependent double accumulation would drift)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    moving = w.rowsBetween(-2, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).over(running) / 100.0).alias("running_total"),
        F.round(F.avg("o_totalprice").over(moving), 6).alias("moving_avg3"),
    )


@query(
    "q18_topk",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
    """,
)
def q18(spark, sf_dir):
    """Global top-k -> TakeOrderedAndProject (no full sort)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
    )


@query(
    "q19_set_ops",
    """
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'union' AS op, nk FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
    UNION ALL
    SELECT 'intersect' AS op, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
    UNION ALL
    SELECT 'except' AS op, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    """,
)
def q19(spark, sf_dir):
    # eager checkpoint: each distinct key set feeds the union, the
    # intersect AND the except — without the barrier each set-op branch
    # re-scanned its base table (6 scans -> 2; r6 opt). The sets are
    # nation-key grain (25 rows).
    cn = (
        t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nk"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sn = (
        t(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nk"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return (
        cn.union(sn).distinct().select(F.lit("union").alias("op"), "nk")
        .unionAll(cn.intersect(sn).select(F.lit("intersect").alias("op"), "nk"))
        .unionAll(cn.exceptAll(sn).distinct().select(F.lit("except").alias("op"), "nk"))
    )


@query(
    "q20_correlated_subquery",
    """
    SELECT p_partkey, p_brand, p_retailprice
    FROM part p1
    WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part p2 WHERE p2.p_brand = p1.p_brand)
    """,
)
def q20(spark, sf_dir):
    """Correlated scalar subquery; the DataFrame form decorrelates it
    explicitly as a window avg (what Catalyst does to the SQL form)."""
    p = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand")
    return (
        p.withColumn("__brand_avg", F.avg("p_retailprice").over(w))
        .filter(F.col("p_retailprice") > F.col("__brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


@query(
    "q21_string_funcs",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substr(c_name, 1, 8) AS name_prefix,
           cast(length(c_name) AS bigint) AS name_len,
           concat(c_mktsegment, '#', cast(c_custkey AS varchar)) AS seg_key,
           trim(c_name) AS name_trim,
           replace(c_name, 'Customer', 'Cust') AS name_replaced,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_digits
    FROM customer
    """,
)
def q21(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_custkey").cast("string")).alias("seg_key"),
        F.trim("c_name").alias("name_trim"),
        F.regexp_replace("c_name", "Customer", "Cust").alias("name_replaced"),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
    )


@query(
    "q22_datetime_funcs",
    """
    SELECT date_trunc('month', o_orderdate) AS order_month,
           cast(extract(year FROM o_orderdate) AS bigint) AS order_year,
           cast(extract(month FROM o_orderdate) AS bigint) AS order_mon,
           cast(extract(day FROM o_orderdate) AS bigint) AS order_day,
           count(*) AS n_orders
    FROM orders
    GROUP BY ALL
    """,
)
def q22(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_mon"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "q23_case_math",
    """
    SELECT o_orderstatus,
           cast(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END) AS bigint) AS n_big,
           round(abs(min(o_totalprice) - 1000.5), 6) AS abs_expr,
           cast(floor(max(o_totalprice)) AS bigint) AS floor_max,
           cast(ceil(min(o_totalprice)) AS bigint) AS ceil_min,
           round(pow(count(*), 0.5), 6) AS sqrt_n,
           round(ln(count(*)), 6) AS ln_n,
           coalesce(NULL, 'x') AS const_coalesce
    FROM orders GROUP BY o_orderstatus
    """,
)
def q23(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("o_totalprice") > 200000, 1).otherwise(0)).alias("n_big"),
        F.round(F.abs(F.min("o_totalprice") - 1000.5), 6).alias("abs_expr"),
        F.floor(F.max("o_totalprice")).alias("floor_max"),
        F.ceil(F.min("o_totalprice")).alias("ceil_min"),
        F.round(F.pow(F.count(F.lit(1)), 0.5), 6).alias("sqrt_n"),
        F.round(F.log(F.count(F.lit(1)).cast("double")), 6).alias("ln_n"),
        F.coalesce(F.lit(None).cast("string"), F.lit("x")).alias("const_coalesce"),
    )


@query(
    "q24_explode_wordcount",
    """
    SELECT word, cast(n AS bigint) AS n FROM (
      SELECT word, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rn
      FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents)
      WHERE word <> '' GROUP BY word
    ) WHERE rn <= 20
    """,
)
def q24(spark, sf_dir):
    """Array/explode (LATERAL VIEW-style) + top-20 word count."""
    d = t(spark, sf_dir, "documents")
    words = d.select(F.explode(text_ops.tokens("text")).alias("word")).filter(F.col("word") != "")
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("word").asc())
    return counts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 20).select("word", "n")


@query(
    "q25_json",
    """
    SELECT event_type,
           round(avg(cast(json_extract_string(props, '$.k') AS bigint)), 6) AS avg_k,
           cast(max(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint) AS max_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def q25(spark, sf_dir):
    """JSON functions over the events.props JSON-string column."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 6).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q26_conditional_pivot",
    """
    SELECT l_linestatus,
           sum(CASE WHEN l_returnflag = 'A' THEN l_quantity ELSE 0 END) AS qty_a,
           sum(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) AS qty_n,
           sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0 END) AS qty_r
    FROM lineitem GROUP BY l_linestatus
    """,
)
def q26(spark, sf_dir):
    """Pivot via conditional aggregation (fixed column set — the
    deterministic, scale-safe form of pivot)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        *[
            F.sum(F.when(F.col("l_returnflag") == flag, F.col("l_quantity")).otherwise(0.0)).alias(
                f"qty_{flag.lower()}"
            )
            for flag in ["A", "N", "R"]
        ]
    )


@query(
    "q27_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q27(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("q27_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, count(*) AS n
        FROM q27_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@query(
    "q28_deterministic_sample",
    f"""
    SELECT l_returnflag, count(*) AS n, {_sql_cents_sum('l_extendedprice', 'sum_price')}
    FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY l_returnflag
    """,
)
def q28(spark, sf_dir):
    """Deterministic hash-mod sampling (cross-engine reproducible,
    unlike TABLESAMPLE)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 10 == 0)
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), cents_sum(F.col("l_extendedprice"), "sum_price")
    )


# =====================================================================
# Event-time windows / sessions / as-of (SURVEY.md §2.9 tail + custom)
# =====================================================================

@query(
    "q29_tumbling_window",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def q29(spark, sf_dir):
    return win_ops.tumbling(t(spark, sf_dir, "events"), "ts", "1 hour", ["event_type"])


@query(
    "q30_sliding_window",
    """
    SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start,
           count(*) AS n_events
    FROM events, unnest([0, 1]) AS u(k)
    GROUP BY window_start
    """,
)
def q30(spark, sf_dir):
    """1-hour windows sliding by 30 min: every event lands in exactly 2
    windows (oracle enumerates the k offsets explicitly)."""
    return win_ops.sliding(t(spark, sf_dir, "events"), "ts", "1 hour", "30 minutes")


@query(
    "q31_sessionize",
    """
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), sessions AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, cast(session_id AS bigint) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 6) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    """,
)
def q31(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity gap)."""
    out = win_ops.sessionize(t(spark, sf_dir, "events"), "ts", "user_id", 30, "event_id")
    return out.withColumn("session_id", F.col("session_id").cast("long"))


@query(
    "q32_asof_join",
    """
    SELECT p.event_id, p.user_id, p.ts, p.value,
           (SELECT v.event_id FROM events v
             WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
             ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS asof_event_id,
           (SELECT v.value FROM events v
             WHERE v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
             ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS asof_value
    FROM events p WHERE p.event_type = 'purchase'
    """,
)
def q32(spark, sf_dir):
    """As-of join: each purchase matched to the user's most recent view
    at-or-before it. Spark-side: single-shuffle union-window formulation
    (operators/asof.py) — no range join, survives 100 TB."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id", "value")
    return asof_ops.asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        tiebreak="event_id",
    )


# =====================================================================
# North-star extension operators (SURVEY.md §2.10)
# =====================================================================

@query(
    "q33_dedup_exact",
    """
    SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS keep_id, count(*) AS dup_count
    FROM documents GROUP BY fingerprint
    """,
)
def q33(spark, sf_dir):
    return dedup_ops.exact_dedup(t(spark, sf_dir, "documents"))


@query(
    "q34_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[CAST(i AS BIGINT):CAST(i+2 AS BIGINT)], ' ') AS sh
      FROM toks, unnest(range(1, greatest(len(w)-1, 1))) AS u(i)
      WHERE sh <> ''
    ), sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b, cast(n_inter AS double)/(sa.n_sh + sb.n_sh - n_inter) AS jac
      FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
    ), sym AS (
      SELECT id_a AS id, id_b AS other, jac FROM pairs
      UNION ALL SELECT id_b, id_a, jac FROM pairs
    )
    SELECT id AS doc_id, other AS best_match_id, round(jac, 6) AS best_jaccard FROM (
      SELECT id, other, jac, row_number() OVER (PARTITION BY id ORDER BY jac DESC, other ASC) AS rn
      FROM sym
    ) WHERE rn = 1
    """,
)
def q34(spark, sf_dir):
    """n-gram Jaccard near-dup: best match per doc via inverted shingle
    index (exact, SQL-verifiable counterpart of MinHash)."""
    best = dedup_ops.ngram_jaccard_best_match(t(spark, sf_dir, "documents"), "doc_id", "text", 3)
    return best.select(
        "doc_id", "best_match_id", F.round("best_jaccard", 6).alias("best_jaccard")
    )


@query("q35_minhash_lsh", det_ops.minhash_oracle_sql())
def q35(spark, sf_dir):
    """Deterministic MinHash+LSH banding: candidate pairs from band-key
    equi-joins (the scale path — never all-pairs), scored by signature
    agreement. Oracle recomputes the identical md5+LCG hash family in
    SQL, so the driver hash-checks the whole LSH pipeline. The Spark-ML
    MinHashLSH variant (engine-seeded RNG) remains in dedup.py with a
    pytest recall gate."""
    return det_ops.minhash_lsh_pairs_det(t(spark, sf_dir, "documents"))


@query("q36_simhash", det_ops.simhash_oracle_sql())
def q36(spark, sf_dir):
    """SimHash with the cross-engine md5-derived 32-bit token hash:
    bit-identical signatures in Spark and DuckDB. The xxhash64 family
    (faster, engine-specific) stays the default in dedup.simhash."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = dedup_ops.simhash(
        d, "text", bits=32,
        hash_fn=lambda c: det_ops.md5_long(c, hex_digits=8),
    )
    return sh.select("doc_id", "simhash")


@query(
    "q37_cosine_topk",
    """
    SELECT query_id, neighbor_id, cast(rank AS bigint) AS rank, round(cos, 6) AS cosine FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                                         c.vec_id ASC) AS rank
      FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < 20
    ) WHERE rank <= 5
    """,
)
def q37(spark, sf_dir):
    """Exact top-5 cosine neighbors for 20 query vectors: broadcast
    queries × candidate scan, JVM-side zip_with dot products."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = sim_ops.cosine_topk(emb, queries, k=5)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query("q38_ann_lsh", det_ops.ann_oracle_sql())
def q38(spark, sf_dir):
    """Deterministic sign-random-hyperplane ANN: integer-quantized
    projections -> (table, signature) bucket equi-joins -> exact cosine
    only on collisions -> per-query top-5. Every bucket decision is
    integer-exact, so the DuckDB oracle reproduces the full ANN result
    bit-for-bit (no 'approximate so unverifiable' carve-out). The
    Spark-ML BucketedRandomProjectionLSH variant stays in similarity.py
    with its pytest recall@5 gate."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return det_ops.ann_hyperplane(emb, queries, k=5)


@query(
    "q39_embedding_neardup",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def q39(spark, sf_dir):
    return dedup_ops.embedding_near_dup(t(spark, sf_dir, "embeddings"), threshold=0.4)


@query(
    "q40_text_stats",
    """
    SELECT doc_id,
           cast(len(string_split_regex(trim(text), '\\s+')) AS bigint) AS n_words,
           cast(length(text) AS bigint) AS n_chars_calc,
           round(cast(length(text) AS double) / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS avg_word_len,
           round(cast(len(list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], lower(x)))) AS double)
                 / greatest(len(string_split_regex(trim(text), '\\s+')), 1), 6) AS stopword_ratio,
           round(cast(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS double)
                 / greatest(length(text), 1), 6) AS punct_ratio
    FROM documents
    """,
)
def q40(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.text_stats(d, "text")
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_chars_calc").cast("long").alias("n_chars_calc"),
        "avg_word_len",
        "stopword_ratio",
        "punct_ratio",
    )


@query(
    "q41_lang_id",
    """
    WITH scored AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> list_contains(['the','and','of','to','a'], lower(x)))) AS s_en,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> list_contains(['der','und','die','das','ist'], lower(x)))) AS s_de,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> list_contains(['le','et','les','des','est'], lower(x)))) AS s_fr,
             len(list_filter(string_split_regex(trim(text), '\\s+'),
                 x -> list_contains(['el','de','los','las','es'], lower(x)))) AS s_es
      FROM documents
    ), pred AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND (s_de > s_en) THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                  WHEN s_es >= s_fr AND s_es > s_en AND s_es >= s_de THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scored
    )
    SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY lang, pred_lang
    """,
)
def q41(spark, sf_dir):
    """Marker-word language-ID heuristic; output is the (label,
    prediction) confusion counts. Tie-break: alphabetically-first
    language among max scores (both engines encode the same rule)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    out = text_ops.lang_id(d, "text")
    return out.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q42_fingerprint_by_source",
    """
    SELECT source, count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS n_unique,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def q42(spark, sf_dir):
    d = text_ops.fingerprint(t(spark, sf_dir, "documents"))
    return d.groupBy("source").agg(
        F.countDistinct("fingerprint").alias("n_unique"), F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q43_multimodal_features",
    # The stub decoder is byte-level stats over the UTF-8 payload; documents.text
    # is pure ASCII in the fixtures, so DuckDB can recompute the same features
    # from codepoints. Arrays serialized via to_json on BOTH sides (the driver
    # comparator can't hash raw lists); mean quantized to micros-bigint for
    # cross-engine float determinism.
    """
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(round((CAST(list_sum(list_transform(range(1, length(text) + 1),
                                                    i -> ascii(text[i]))) AS DOUBLE)
                       / length(text)) * 1000000.0, 0) AS BIGINT) AS feat_mean_micros,
           to_json(list_transform(range(1, 9), i -> ascii(text[i]))) AS feat_head
    FROM documents
    """,
)
def q43(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    media = mm_ops.binarize(d, "doc_id", "text", "source", mime="text/plain")
    feats = mm_ops.extract_features(media, decode_stub=True)
    return feats.select(
        "media_id",
        "mime",
        "n_bytes",
        F.round(F.col("feat_mean") * 1_000_000).cast("long").alias("feat_mean_micros"),
        F.to_json(F.col("feat_head")).alias("feat_head"),
    )


# =====================================================================
# Engine SDK ops under the correctness gate (SURVEY.md §2.1-§2.3):
# each runs the REAL Table/Stream machinery in a temp warehouse and is
# oracle-checked against plain SQL over the fixtures.
# =====================================================================

def _temp_engine(spark):
    from .node.node import Engine

    return Engine(tempfile.mkdtemp(prefix="pds_wh_"), spark=spark)


@query(
    "sdk01_append_read",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 100 < 30
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_orderkey % 100 >= 30 AND l_orderkey % 100 < 40
    """,
)
def sdk01(spark, sf_dir):
    """Table.append buffering: two buffered appends flush as one
    versioned write; read back through the active version."""
    from .node.node import Table

    eng = _temp_engine(spark)
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    with eng.node_context("w", outputs={"out": "li_copy"}):
        tbl = Table("out", "w")
        tbl.append(li.filter(F.col("l_orderkey") % 100 < 30))
        tbl.append(li.filter((F.col("l_orderkey") % 100 >= 30) & (F.col("l_orderkey") % 100 < 40)))
    with eng.node_context("r", inputs={"in": "li_copy"}):
        return Table("in", "r").read_spark()


@query(
    "sdk02_upsert",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 100 < 10 THEN o_totalprice + 1000 ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 100 < 60
    """,
)
def sdk02(spark, sf_dir):
    """Table.upsert MERGE semantics on the unique o_orderkey key:
    update rows %100<10, insert rows 50<=%100<60 (lineitem's composite
    key is non-unique in the fixture, so orders is the upsert bed)."""
    from .node.node import Table

    eng = _temp_engine(spark)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    with eng.node_context("w", outputs={"out": "o_upsert"}):
        tbl = Table("out", "w")
        tbl.init(unique_on=["o_orderkey"])
        tbl.append(o.filter(F.col("o_orderkey") % 100 < 50))
        tbl.flush()
        updates = o.filter(F.col("o_orderkey") % 100 < 10).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000
        )
        inserts = o.filter((F.col("o_orderkey") % 100 >= 50) & (F.col("o_orderkey") % 100 < 60))
        tbl.upsert(updates.unionByName(inserts))
    with eng.node_context("r", inputs={"in": "o_upsert"}):
        return Table("in", "r").read_spark()


@query(
    "sdk03_replace",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    """,
)
def sdk03(spark, sf_dir):
    """Table.replace: reset to a fresh version holding exactly the new
    records (old version retained for GC)."""
    from .node.node import Table

    eng = _temp_engine(spark)
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    with eng.node_context("w", outputs={"out": "o_replace"}):
        tbl = Table("out", "w")
        tbl.append(o.filter(F.col("o_orderstatus") == "O").drop("o_orderstatus"))
        tbl.flush()
        tbl.replace(o.filter(F.col("o_orderstatus") == "F").drop("o_orderstatus"))
    with eng.node_context("r", inputs={"in": "o_replace"}):
        return Table("in", "r").read_spark()


@query(
    "sdk04_stream_seek",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_id > (SELECT max(event_id) // 2 FROM events)
    """,
)
def sdk04(spark, sf_dir):
    """Stream cursor: seek to half the keyspace, consume the rest as a
    distributed slice (cursor filter prunes via parquet min/max). The
    seek midpoint comes from the engine's write-time order high-water
    mark (Table.order_max: parquet footer stats harvested at write,
    catalog order_hwms) — no extra scan job just to learn max(key)."""
    from .node.node import Table

    eng = _temp_engine(spark)
    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    with eng.node_context("w", outputs={"out": "ev_copy"}):
        tbl = Table("out", "w")
        tbl.init(strictly_monotonic_ordering="event_id")
        tbl.append(ev)
    with eng.node_context("c", inputs={"in": "ev_copy"}):
        tbl = Table("in", "r")
        mid = tbl.order_max() // 2
        stream = tbl.as_stream()
        stream.seek(mid)
        return stream.consume_spark().select("event_id", "user_id", "event_type", "value")


@query(
    "sdk05_sql_ctas",
    """
    SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag
    """,
)
def sdk05(spark, sf_dir):
    """Table.execute_sql CTAS path: {{ }} template rendering, CREATE
    TABLE AS -> new version + create event."""
    from .node.node import Table

    eng = _temp_engine(spark)
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    with eng.node_context("w", outputs={"out": "li_src"}):
        Table("out", "w").append(li)
    with eng.node_context("sqlnode", outputs={"out": "li_agg"}):
        tbl = Table("out", "w")
        tbl.execute_sql(
            "CREATE TABLE {{ table }} AS "
            "SELECT l_returnflag, sum(l_quantity) AS sum_qty, count(*) AS n "
            "FROM {{ li_src }} WHERE l_quantity > 10 GROUP BY l_returnflag"
        )
    with eng.node_context("r", inputs={"in": "li_agg"}):
        return Table("in", "r").read_spark()


# extended coverage registers additional QUERIES/ORACLES on import
from . import queries_ext  # noqa: E402,F401  (registration side effect)
from . import queries_analytics  # noqa: E402,F401  (registration side effect)
from . import queries_pipeline  # noqa: E402,F401  (registration side effect)
from . import queries_scale  # noqa: E402,F401  (registration side effect)
from . import queries_sketch  # noqa: E402,F401  (registration side effect)
from . import queries_corpus  # noqa: E402,F401  (registration side effect)
from . import queries_profiling  # noqa: E402,F401  (registration side effect)
from . import queries_stats  # noqa: E402,F401  (registration side effect)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H-Q1-style pricing summary executed THROUGH the
    engine (SURVEY.md §7.1 M2 minimum slice) — fixture parquet ->
    engine table -> {{ }} SQL render -> versioned write -> read back."""
    from .node.node import Table

    sf_dir = "/root/testdata/sf0.001"
    eng = _temp_engine(spark)
    li = t(spark, sf_dir, "lineitem")
    with eng.node_context("loader", outputs={"out": "lineitem"}):
        Table("out", "w").append(li)
    with eng.node_context("q1_node", outputs={"out": "q1_result"}):
        tbl = Table("out", "w")
        tbl.execute_sql(
            """
            CREATE TABLE {{ table }} AS
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   round(avg(l_extendedprice), 2) AS avg_price,
                   count(*) AS count_order
            FROM {{ lineitem }}
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
            """
        )
    with eng.node_context("reader", inputs={"in": "q1_result"}):
        return Table("in", "r").read_spark()
