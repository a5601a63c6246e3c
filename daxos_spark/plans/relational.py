"""Relational query surface over the harness star schema.

Each query exercises operator families from SURVEY.md §2 (cited per
query): scans S*, projections/filters P*, joins J*, aggregations A*,
splits X*, sorts/limits/set-ops §2.5 — re-expressed Spark-first.

Scale notes apply to every query here: scans are parquet with pushed
filters + pruned columns (Catalyst), small dims are broadcast (region/
nation/customer at TPC-H ratios), aggregations are partial (map-side
combine) before the shuffle, and no query collects fact-table data to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from .registry import davg, dsum, query, sql_davg, sql_dsum, trunc6


# --------------------------------------------------------------------------
# q01 pricing summary — TPC-H Q1 shape. A1 group-avg (crossvalidate.py:289),
# P6 predicate filter, partial aggregation; the canonical "wide agg" plan.
@query(
    "a1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .docpipe import _fanout

    # the harness lineitem is a single-row-group file — ONE task would
    # run the whole 7-way decimal aggregation regardless of split
    # planning. Spread it first (conditional: no-op on any real table
    # with ≥ parallelism row groups); DECIMAL sums are exact and
    # order-independent, so the redistribution cannot move the hash.
    l = _fanout(load_tables(spark, sf_dir)["lineitem"])
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# q03 top-revenue — join+agg+top-k (A2 arg-best, §2.5 order/limit;
# broadcast of the filtered customer dim).
@query(
    "a1_top_revenue",
    f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = t["lineitem"].filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    # no forced broadcast: the filtered customer side is still SF-scaled
    # (unbounded at 100 TB) — AQE converts to broadcast at runtime when
    # it measures small; lineitem⋈orders is a shuffle join on l_orderkey.
    return (
        li.join(orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# q05 revenue rollup across the full dim chain (J1 broadcast chain:
# region→nation→customer are tiny at TPC-H ratios → broadcast).
@query(
    "a1_region_revenue",
    f"""
    SELECT r_name, n_name,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def q05_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    # region/nation are always broadcast-able; customer is ~1/10 of
    # orders so its join strategy is left to AQE (shuffle join at 100 TB,
    # auto-broadcast at test scale).
    dims = (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dims, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


# --------------------------------------------------------------------------
# q06 forecast — pure pushed-down filter + single-row agg (P6/A4 shape;
# the filter reaches the parquet scan as PushedFilters).
@query(
    "q06_forecast_revenue",
    f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.03 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_tables(spark, sf_dir)["lineitem"]
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# q_top_customers — join + agg + top-k by computed measure.
@query(
    "q10_top_customers",
    f"""
    SELECT c_custkey, c_name,
           {sql_dsum('o_totalprice')} AS total_spend,
           COUNT(*) AS n_orders
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY total_spend DESC, c_custkey
    LIMIT 10
    """,
)
def q10_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(dsum(F.col("o_totalprice")).alias("total_spend"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("total_spend").desc(), F.col("c_custkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# semi-join row subsetting — P1/J3 (daxos/read.py:201-207 subset_hdf5_rows
# as left_semi); oracle EXISTS.
@query(
    "a1_semi_join_customers",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
      AND EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY c_custkey
    """,
)
def q_semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# anti-join — J4 train/test ID complement (split_ids.py:50-51 as left_anti).
@query(
    "a1_anti_join_customers",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    ORDER BY c_custkey
    """,
)
def q_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    big = t["orders"].filter(F.col("o_totalprice") > 300000).select("o_custkey")
    return (
        t["customer"]
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# q04 order-priority count via semi-join (TPC-H Q4 shape).
@query(
    "a1_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    disc = t["lineitem"].filter(F.col("l_discount") > 0.05).select("l_orderkey")
    return (
        t["orders"]
        .join(disc, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# exact percentiles — A7/A9 (boruta.py:34 np.percentile / np.median).
# Spark percentile() and duckdb quantile_cont share the same linear-
# interpolation definition on identical double inputs.
@query(
    "a1_percentiles_by_status",
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_percentiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.percentile(F.col("o_totalprice"), F.lit(0.5)).alias("p50"),
            F.percentile(F.col("o_totalprice"), F.lit(0.9)).alias("p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# window top-k per group — beyond-reference window surface (§2.5 notes the
# reference's only rank is driver-side; here it's a real distributed window).
@query(
    "a1_window_top3_per_cust",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders
    ) ranked JOIN customer ON c_custkey = o_custkey
    WHERE rk <= 3 AND c_mktsegment = 'MACHINERY'
    ORDER BY c_custkey, rk
    """,
)
def q_window_top3_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    ranked = t["orders"].withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 3)
    return (
        ranked.join(
            # segment-filtered customers are still SF-scaled — AQE decides
            t["customer"].filter(F.col("c_mktsegment") == "MACHINERY"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .select("c_custkey", "o_orderkey", "o_totalprice", "rk")
        .orderBy("c_custkey", "rk")
    )


# --------------------------------------------------------------------------
# running (cumulative) sum — window frame; exact decimal running sums so
# both engines agree at every prefix.
@query(
    "q_window_running_spend",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
                AS DOUBLE) AS running_spend
    FROM orders
    WHERE o_custkey % 10 = 0
    ORDER BY o_custkey, o_orderkey
    """,
)
def q_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        t["orders"]
        .filter(F.col("o_custkey") % 10 == 0)
        .withColumn("running_spend", F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_spend")
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# distinct aggregation (§2.4 notes reference lacks it — beyond-parity).
@query(
    "q_distinct_custs_per_priority",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_distinct_custs_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n_custs"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# UNION ALL + global arg-best — S10 read_hp_search_results
# (crossvalidate.py:319-347): merge result sets, sort, take best row.
@query(
    "a1_union_argbest",
    """
    SELECT src, o_orderkey, o_totalprice
    FROM (
      SELECT 'open' AS src, o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
      UNION ALL
      SELECT 'final' AS src, o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
    ) u
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 1
    """,
)
def q_union_argbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    o = t["orders"]
    u = (
        o.filter(F.col("o_orderstatus") == "O").select(F.lit("open").alias("src"), "o_orderkey", "o_totalprice")
    ).unionByName(
        o.filter(F.col("o_orderstatus") == "F").select(F.lit("final").alias("src"), "o_orderkey", "o_totalprice")
    )
    return u.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(1)


# --------------------------------------------------------------------------
# fold assignment — X1 chunked_kfold_split (crossvalidate.py:364-395)
# re-expressed scale-first: fold is a pure function of the key
# (no global sort, no shuffle beyond the final groupBy).
@query(
    "a2_fold_assignment",
    f"""
    SELECT o_orderkey % 5 AS fold,
           COUNT(*) AS n,
           {sql_dsum('o_totalprice')} AS fold_spend
    FROM orders
    GROUP BY o_orderkey % 5
    ORDER BY fold
    """,
)
def q_fold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .withColumn("fold", F.col("o_orderkey") % 5)
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("o_totalprice")).alias("fold_spend"))
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# group + HAVING — A12 MAF-filter shape (per-group mean with threshold).
@query(
    "q_brand_stats_having",
    f"""
    SELECT p_brand,
           {sql_davg('p_retailprice')} AS avg_price,
           COUNT(*) AS n_parts
    FROM part
    GROUP BY p_brand
    HAVING COUNT(*) >= 70
    ORDER BY p_brand
    """,
)
def q_brand_stats_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .groupBy("p_brand")
        .agg(davg(F.col("p_retailprice")).alias("avg_price"), F.count(F.lit(1)).alias("n_parts"))
        .filter(F.col("n_parts") >= 70)
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# supplier-side join rollup (second join path through the star).
@query(
    "q_supplier_nation_volume",
    f"""
    SELECT n_name,
           {sql_dsum('l_quantity')} AS total_qty,
           COUNT(*) AS n_items
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                  JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_supplier_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    s = t["supplier"].join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
    return (
        t["lineitem"]
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# INTERSECT set op (§2.5: reference has none — beyond-parity).
@query(
    "q_intersect_nations",
    """
    SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey
    ORDER BY n_name
    """,
)
def q_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    cn = t["customer"].join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")).select("n_name")
    sn = t["supplier"].join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey")).select("n_name")
    return cn.intersect(sn).orderBy("n_name")


# --------------------------------------------------------------------------
# events: time-bucketed aggregation (batch twin of the streaming
# windowed-agg operator in daxos_spark.streaming).
@query(
    "q_events_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    ORDER BY hour, event_type
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value")).alias("total_value"))
        .orderBy("hour", "event_type")
    )


# --------------------------------------------------------------------------
# events: JSON extraction from the props column (semi-structured surface).
@query(
    "q_events_json_extract",
    f"""
    SELECT event_type,
           {sql_davg("CAST(json_extract_string(props, '$.k') AS INT)")} AS avg_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        t["events"]
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(davg(F.col("k")).alias("avg_k"), F.max("k").alias("max_k"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# closed-form single-covariate OLS + residual stats — the SQL-checkable
# face of the residualization pipeline (M1-M4, daxos/deconfound.py:39-73):
# beta/alpha from exact decimal moments, residuals per-row, aggregated.
@query(
    "a2_ols_residualize",
    f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             {sql_dsum('l_quantity')} AS sx,
             {sql_dsum('l_extendedprice')} AS sy,
             {sql_dsum('l_quantity * l_quantity')} AS sxx,
             {sql_dsum('l_quantity * l_extendedprice')} AS sxy
      FROM lineitem
    )
    SELECT FLOOR(beta * 1000000.0) / 1000000.0 AS beta, FLOOR(alpha * 1000000.0) / 1000000.0 AS alpha,
           FLOOR(({sql_dsum('ABS(l_extendedprice - (alpha + beta * l_quantity))')} / n) * 1000000.0) / 1000000.0 AS mean_abs_resid
    FROM lineitem, (SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
                           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS alpha
                    FROM m) b
    GROUP BY beta, alpha, n
    """,
)
def q_ols_residualize(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_tables(spark, sf_dir)["lineitem"]
    m = l.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("l_quantity")).alias("sx"),
        dsum(F.col("l_extendedprice")).alias("sy"),
        dsum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    ).collect()[0]
    n, sx, sy, sxx, sxy = m["n"], m["sx"], m["sy"], m["sxx"], m["sxy"]
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    alpha = (sy - beta * sx) / n
    resid = F.col("l_extendedprice") - (F.lit(alpha) + F.lit(beta) * F.col("l_quantity"))
    return l.agg(
        trunc6(F.lit(beta)).alias("beta"),
        trunc6(F.lit(alpha)).alias("alpha"),
        trunc6(dsum(F.abs(resid)) / F.lit(float(n))).alias("mean_abs_resid"),
    )
