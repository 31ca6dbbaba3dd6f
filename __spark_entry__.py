"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises the engine in
``data_pipeline_framework_spark`` (op-DSL compiler, window library, …) and
has a DuckDB oracle in ``oracle_sql()`` with IDENTICAL output column names.
Float aggregates are rounded on BOTH sides so cross-engine summation-order
noise cannot flip the value hash.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_framework_spark import apply_ops
from data_pipeline_framework_spark.operators import window_ops as W
from data_pipeline_framework_spark.session import pin_runtime_conf
from data_pipeline_framework_spark.sources import read_table

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


# Every registered callable re-applies the engine's runtime confs itself
# instead of assuming `get_spark()` built the session: an external
# correctness harness may pass a VANILLA session (one that lacked
# nanosAsLong once made 12 events queries die at scan time).
def _prep(spark: SparkSession) -> SparkSession:
    pin_runtime_conf(spark)
    # Harness choice, not an engine default: a vanilla session has 200
    # shuffle partitions, which AQE does not coalesce under cached plans,
    # so tiny-SF gate runs would pay 200 tasks per cached shuffle. 32
    # matches the harness core budget; results are identical.
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    return spark


def _pinned(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(_prep(spark), sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    run.__wrapped__ = fn  # tools/check.py --changed fingerprints this
    return run


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def _r(col, k: int = 4):
    """Tie-stable rounding: floor(x*10^k + 0.5)/10^k evaluated in double
    arithmetic. Spark's round() (BigDecimal HALF_UP on the binary expansion)
    and DuckDB's round() (std::round after scaling) disagree on exact decimal
    ties (e.g. 42.38625 -> 42.3862 vs 42.3863); this formula runs the same
    IEEE ops in both engines, so division-derived values hash-match.
    SQL twin: FLOOR(x * 1eK + 0.5) / 1eK.
    """
    scale = 10 ** k
    return F.floor(col * scale + F.lit(0.5)) / scale


# ---------------------------------------------------------------------------
# relational core (op-DSL compiler)


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 expressed in the op DSL: filter -> grouped agg -> sort."""
    li = _t(spark, sf_dir, "lineitem")
    out = apply_ops(
        li,
        [
            {"type": "filter", "condition": "l_shipdate <= TIMESTAMP '1998-09-02'"},
            {
                "type": "aggregate",
                "group_by": ["l_returnflag", "l_linestatus"],
                "aggregations": {
                    "l_quantity": ["sum", "avg"],
                    "l_extendedprice": ["sum", "avg"],
                    "l_discount": ["avg"],
                    "l_orderkey": ["count"],
                },
            },
            {"type": "sort", "by": ["l_returnflag", "l_linestatus"]},
        ],
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.round("l_quantity_sum", 2).alias("sum_qty"),
        F.round("l_extendedprice_sum", 2).alias("sum_base_price"),
        F.round("l_quantity_avg", 4).alias("avg_qty"),
        F.round("l_extendedprice_avg", 4).alias("avg_price"),
        F.round("l_discount_avg", 6).alias("avg_disc"),
        F.col("l_orderkey_count").alias("count_order"),
    )


def select_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """select/exclude + rename/cast/calculate/string ops through the DSL."""
    part = _t(spark, sf_dir, "part")
    return apply_ops(
        part,
        [
            {"type": "select", "exclude": ["p_brand"]},
            {
                "type": "transform",
                "transformations": [
                    {"type": "rename", "mapping": {"p_retailprice": "retail_price"}},
                    {"type": "cast", "columns": {"p_size": "bigint"}},
                    {
                        "type": "calculate",
                        "column": "price_per_size",
                        "expression": "round(retail_price / (p_size + 1), 4)",
                    },
                    {
                        "type": "string_operations",
                        "columns": ["p_type"],
                        "operations": ["lower", "trim"],
                    },
                    {
                        "type": "regex_extract",
                        "column": "p_name",
                        "pattern": "([a-z]+)$",
                        "group": 1,
                        "new_column": "last_word",
                    },
                ],
            },
            {"type": "filter", "filters": [
                {"column": "p_size", "operator": ">=", "value": 10},
            ]},
        ],
    ).select(
        "p_partkey", "p_name", "p_type", "p_size",
        F.round("retail_price", 2).alias("retail_price"),
        "price_per_size", "last_word",
    )


def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """column/op/value predicate vocabulary: in / not_in / contains /
    starts_with / between."""
    cust = _t(spark, sf_dir, "customer")
    return apply_ops(
        cust,
        [
            {
                "type": "filter",
                "filters": [
                    {"column": "c_mktsegment", "operator": "in",
                     "value": ["BUILDING", "AUTOMOBILE", "MACHINERY"]},
                    {"column": "c_mktsegment", "operator": "not_in",
                     "value": ["MACHINERY"]},
                    {"column": "c_name", "operator": "contains", "value": "1"},
                    {"column": "c_name", "operator": "starts_with",
                     "value": "Customer"},
                    {"column": "c_acctbal", "operator": "between",
                     "value": [0.0, 8000.0]},
                ],
            },
        ],
    ).select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
    )


def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_date_parts naming convention `{col}_year/_month/_day/_weekday`
    (reference pandas_processor.py:129-138); weekday is Mon=0."""
    orders = _t(spark, sf_dir, "orders")
    return apply_ops(
        orders,
        [
            {
                "type": "transform",
                "transformations": [
                    {"type": "extract_date_parts", "column": "o_orderdate",
                     "parts": ["year", "month", "day", "weekday", "quarter"]},
                ],
            },
            {"type": "select", "columns": [
                "o_orderkey", "o_orderdate_year", "o_orderdate_month",
                "o_orderdate_day", "o_orderdate_weekday", "o_orderdate_quarter",
            ]},
        ],
    )


def grouped_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{col}_{func}` naming over multiple funcs per column + countDistinct."""
    li = _t(spark, sf_dir, "lineitem")
    out = apply_ops(
        li,
        [
            {
                "type": "aggregate",
                "group_by": ["l_returnflag"],
                "aggregations": {
                    "l_quantity": ["sum", "mean", "min", "max"],
                    "l_extendedprice": ["count"],
                    "l_suppkey": ["nunique"],
                },
            },
        ],
    )
    return out.select(
        "l_returnflag",
        F.round("l_quantity_sum", 2).alias("l_quantity_sum"),
        F.round("l_quantity_mean", 4).alias("l_quantity_mean"),
        F.round("l_quantity_min", 2).alias("l_quantity_min"),
        F.round("l_quantity_max", 2).alias("l_quantity_max"),
        "l_extendedprice_count",
        "l_suppkey_nunique",
    )


def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregations without group_by -> single row."""
    orders = _t(spark, sf_dir, "orders")
    out = apply_ops(
        orders,
        [
            {
                "type": "aggregate",
                "aggregations": {
                    "o_totalprice": ["sum", "mean", "min", "max"],
                    "o_orderkey": ["count", "nunique"],
                },
            },
        ],
    )
    return out.select(
        F.round("o_totalprice_sum", 2).alias("o_totalprice_sum"),
        F.round("o_totalprice_mean", 4).alias("o_totalprice_mean"),
        F.round("o_totalprice_min", 2).alias("o_totalprice_min"),
        F.round("o_totalprice_max", 2).alias("o_totalprice_max"),
        "o_orderkey_count",
        "o_orderkey_nunique",
    )


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filter, grouped revenue, top-10.
    Deterministic top-k: revenue DESC then key ASC."""
    tables = {n: _t(spark, sf_dir, n) for n in ("customer", "orders", "lineitem")}
    out = apply_ops(
        tables["lineitem"],
        tables=tables,
        ops=
        [
            {"type": "join", "right": "orders",
             "condition": "l_orderkey = o_orderkey", "how": "inner"},
            {"type": "join", "right": "customer",
             "condition": "o_custkey = c_custkey", "how": "inner",
             "broadcast": True},
            {"type": "filter",
             "condition": "c_mktsegment = 'BUILDING' "
                          "AND o_orderdate < TIMESTAMP '1998-03-15' "
                          "AND l_shipdate > TIMESTAMP '1995-03-15'"},
            {
                "type": "aggregate",
                "group_by": ["l_orderkey", "o_orderdate"],
                "aggregations": {"l_extendedprice": ["sum"]},
            },
        ],
    )
    return (
        out.select(
            "l_orderkey",
            F.round("l_extendedprice_sum", 2).alias("revenue"),
            "o_orderdate",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with broadcast dimension tables."""
    names = ("region", "nation", "customer", "supplier", "orders", "lineitem")
    t = {n: _t(spark, sf_dir, n) for n in names}
    out = apply_ops(
        t["lineitem"],
        [
            {"type": "join", "right": "orders",
             "condition": "l_orderkey = o_orderkey"},
            {"type": "join", "right": "customer",
             "condition": "o_custkey = c_custkey", "broadcast": True},
            {"type": "join", "right": "supplier",
             "condition": "l_suppkey = s_suppkey AND c_nationkey = s_nationkey",
             "broadcast": True},
            {"type": "join", "right": "nation",
             "condition": "s_nationkey = n_nationkey", "broadcast": True},
            {"type": "join", "right": "region",
             "condition": "n_regionkey = r_regionkey", "broadcast": True},
            {"type": "filter",
             "condition": "r_name = 'ASIA' "
                          "AND o_orderdate >= TIMESTAMP '1996-01-01' "
                          "AND o_orderdate < TIMESTAMP '1999-01-01'"},
            {
                "type": "aggregate",
                "group_by": ["n_name"],
                "aggregations": {"l_extendedprice": ["sum"], "l_orderkey": ["count"]},
            },
            {"type": "sort", "by": ["n_name"]},
        ],
        tables=t,
    )
    return out.select(
        "n_name",
        F.round("l_extendedprice_sum", 2).alias("revenue"),
        F.col("l_orderkey_count").alias("n_items"),
    )


def dedup_first_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deduplicate keep='first' with deterministic ordering -> row_number
    window (reference drop_duplicates keep semantics)."""
    orders = _t(spark, sf_dir, "orders")
    return apply_ops(
        orders,
        [
            {"type": "deduplicate", "subset": ["o_custkey"], "keep": "first",
             "order_by": ["o_orderdate", "o_orderkey"]},
            {"type": "select", "columns": ["o_custkey", "o_orderkey", "o_orderdate"]},
        ],
    )


def sort_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-column sort with per-column direction + limit."""
    li = _t(spark, sf_dir, "lineitem")
    out = apply_ops(
        li,
        [
            {"type": "sort", "by": ["l_extendedprice", "l_orderkey", "l_linenumber"],
             "ascending": [False, True, True]},
            {"type": "limit", "n": 25},
        ],
    )
    return out.select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 2).alias("l_extendedprice"),
    )


def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName with missing-column fill (pandas-concat alignment)."""
    cust = _t(spark, sf_dir, "customer")
    a = cust.filter("c_mktsegment = 'BUILDING'").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    b = cust.filter("c_mktsegment = 'MACHINERY'").select(
        "c_custkey", "c_mktsegment"
    )
    return apply_ops(a, [{"type": "union", "other": b, "by_name": True}])


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect AND except, both with non-empty results: nations whose
    rich (acctbal>9000) BUILDING customers do / don't overlap the rich
    MACHINERY nations. Tagged union so one result exercises both ops."""
    cust = _t(spark, sf_dir, "customer")
    a = (
        cust.filter("c_mktsegment = 'BUILDING' AND c_acctbal > 9000")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    b = (
        cust.filter("c_mktsegment = 'MACHINERY' AND c_acctbal > 9000")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    both = a.intersect(b).withColumn("which", F.lit("both"))
    only_a = a.exceptAll(b).withColumn("which", F.lit("building_only"))
    return both.unionByName(only_a).orderBy("which", "nationkey")


def group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group_by without aggregations -> per-group count."""
    orders = _t(spark, sf_dir, "orders")
    return apply_ops(orders, [{"type": "aggregate", "group_by": ["o_orderpriority"]}])


def custom_sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """custom_sql op: temp view + arbitrary Spark SQL."""
    li = _t(spark, sf_dir, "lineitem")
    return apply_ops(
        li,
        [
            {
                "type": "custom_sql",
                "view_name": "li",
                "query": """
                    SELECT l_returnflag,
                           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                               AS disc_revenue,
                           COUNT(*) AS n
                    FROM li
                    WHERE l_quantity > 25
                    GROUP BY l_returnflag
                """,
            },
            {"type": "sort", "by": ["l_returnflag"]},
        ],
    )


# ---------------------------------------------------------------------------
# window functions (operators/window_ops.py)


def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/percent_rank/ntile/cume_dist; deterministic
    via unique (o_totalprice DESC, o_orderkey ASC) order."""
    orders = _t(spark, sf_dir, "orders")
    df = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    part, order = ["o_orderpriority"], ["o_totalprice", "o_orderkey"]
    desc = [True, False]
    df = W.row_number(df, partition_by=part, order_by=order, descending=desc,
                      new_column="rn")
    df = W.rank(df, partition_by=part, order_by=order, descending=desc,
                new_column="rnk")
    df = W.dense_rank(df, partition_by=part, order_by=order, descending=desc,
                      new_column="drnk")
    df = W.percent_rank(df, partition_by=part, order_by=order, descending=desc,
                        new_column="prnk")
    df = W.cume_dist(df, partition_by=part, order_by=order, descending=desc,
                     new_column="cdist")
    df = W.ntile(df, 4, partition_by=part, order_by=order, descending=desc,
                 new_column="quartile")
    return df.select(
        "o_orderkey", "o_orderpriority",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "rn", "rnk", "drnk",
        _r(F.col("prnk"), 6).alias("prnk"),
        _r(F.col("cdist"), 6).alias("cdist"),
        "quartile",
    )


def window_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value/last_value/nth_value per user over event time."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    part, order = ["user_id"], ["ts", "event_id"]
    df = W.lag(ev, "value", periods=1, partition_by=part, order_by=order)
    df = W.lead(df, "value", periods=2, partition_by=part, order_by=order)
    df = W.first_value(df, "value", partition_by=part, order_by=order)
    df = W.last_value(df, "value", partition_by=part, order_by=order)
    df = W.nth_value(df, "value", 3, partition_by=part, order_by=order)
    return df.select(
        "event_id", "user_id",
        F.round("value", 2).alias("value"),
        F.round("value_lag_1", 2).alias("value_lag_1"),
        F.round("value_lead_2", 2).alias("value_lead_2"),
        F.round("value_first_value", 2).alias("value_first"),
        F.round("value_last_value", 2).alias("value_last"),
        F.round("value_nth_3", 2).alias("value_nth_3"),
    )


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """running_sum/running_average + moving_average/moving_sum frames.

    Averages are re-derived as round(sum,2)/count so the oracle comparison
    is immune to cross-engine float-accumulation noise at round() ties.
    """
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    part, order = ["user_id"], ["ts", "event_id"]
    df = W.running_sum(ev, "value", partition_by=part, order_by=order)
    df = W.moving_sum(df, "value", window=3, partition_by=part, order_by=order)
    df = W.moving_sum(df, "value", window=5, partition_by=part, order_by=order,
                      new_column="value_moving_sum_5")
    df = W.apply_window_function(
        df, "count", column="value", partition_by=part, order_by=order,
        rows_between=(None, 0), new_column="n_run")
    df = W.apply_window_function(
        df, "count", column="value", partition_by=part, order_by=order,
        rows_between=(-4, 0), new_column="n_5")
    return df.select(
        "event_id", "user_id",
        F.round("value_running_sum", 4).alias("running_sum"),
        _r(F.round("value_running_sum", 2) / F.col("n_run"), 4).alias(
            "running_avg"),
        _r(F.round("value_moving_sum_5", 2) / F.col("n_5"), 4).alias(
            "moving_avg_5"),
        F.round("value_moving_sum_3", 4).alias("moving_sum_3"),
    )


# ---------------------------------------------------------------------------
# reshaping


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot with explicit pivot_values (no distinct-scan)."""
    orders = _t(spark, sf_dir, "orders")
    out = apply_ops(
        orders,
        [
            {"type": "pivot", "index": ["o_orderpriority"],
             "columns": "o_orderstatus", "values": ["o_totalprice"],
             "aggfunc": "sum", "pivot_values": ["F", "O", "P"]},
            {"type": "sort", "by": ["o_orderpriority"]},
        ],
    )
    return out.select(
        "o_orderpriority",
        F.round("F", 2).alias("F"),
        F.round("O", 2).alias("O"),
        F.round("P", 2).alias("P"),
    )


def melt_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """melt/unpivot wide->long (native df.unpivot)."""
    part = _t(spark, sf_dir, "part")
    return apply_ops(
        part,
        [
            {"type": "transform", "transformations": [
                {"type": "cast", "columns": {"p_size": "double"}},
            ]},
            {"type": "melt", "id_vars": ["p_partkey"],
             "value_vars": ["p_size", "p_retailprice"],
             "var_name": "measure", "value_name": "val"},
        ],
    ).select("p_partkey", "measure", F.round("val", 2).alias("val"))


def rollup_subtotals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — the reference's pivot_with_subtotals semantics
    (reference pivot_operations.py:215-282) in one pass."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over returnflag x linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# time series (operators/timeseries.py)


def resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """resample events to 1-hour buckets per event_type."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.resample(
        ev, "ts", "H",
        {"value": ["sum", "count"]},
        group_by=["event_type"],
    )
    return out.select(
        "event_type", "bucket",
        F.round("value_sum", 2).alias("value_sum"),
        "value_count",
    )


def rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling mean/min/max/median over a 7-row trailing frame per type.
    Mean is re-derived from the rounded rolling sum (tie-stable)."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    out = TS.rolling_window_stats(
        ev, "ts", "value", 7,
        stats=["sum", "count", "min", "max", "median"],
        group_by=["event_type"], tiebreak=["event_id"],
    )
    return out.select(
        "event_id", "event_type",
        _r(F.round("value_rolling_sum_7", 2) / F.col("value_rolling_count_7"), 4)
        .alias("roll_mean"),
        F.round("value_rolling_min_7", 2).alias("roll_min"),
        F.round("value_rolling_max_7", 2).alias("roll_max"),
        _r(F.col("value_rolling_median_7"), 4).alias("roll_median"),
    )


def lags_and_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calculate_lags + calculate_differences per user (`{col}_lag_{k}`,
    `{col}_diff_{k}` naming)."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = TS.calculate_lags(ev, "value", [1, 3], "ts", group_by=["user_id"],
                            tiebreak=["event_id"])
    out = TS.calculate_differences(out, "value", [1], "ts", group_by=["user_id"],
                                   tiebreak=["event_id"])
    return out.select(
        "event_id", "user_id",
        F.round("value_lag_1", 2).alias("value_lag_1"),
        F.round("value_lag_3", 2).alias("value_lag_3"),
        F.round("value_diff_1", 2).alias("value_diff_1"),
    )


def time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calendar feature extraction (`{ts}_hour` ... `{ts}_day_of_year`)."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "ts")
    return TS.calculate_time_features(ev, "ts").drop("ts")


def outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IQR outlier flags via one scalar agg broadcast back (no driver
    round-trip)."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out = TS.detect_outliers(ev, "value", method="iqr", threshold=1.5)
    return out.select("event_id", F.col("value_is_outlier").alias("is_outlier"))


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gap-based sessionization (30-minute inactivity) per user."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = TS.sessionize(ev, "ts", "30 minutes", group_by=["user_id"],
                        tiebreak=["event_id"])
    return out.select("event_id", "user_id", "session_id")


def interpolate_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distributed linear interpolation: null-out 'error' rows then lerp
    between bracketing known points per user."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    )
    out = TS.fill_missing(ev, "value", method="interpolate", ts_col="ts",
                          group_by=["user_id"])
    return out.select("event_id", "user_id", _r(F.col("value"), 4).alias("value"))


def ewm_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exponential smoothing via applyInPandas (sequential recurrence per
    series). Oracle: DuckDB list_reduce over the cumulative window list
    replays the same adjust=False recurrence; values agree to the 4-decimal
    rounding."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    out = TS.smooth(ev, "value", method="exponential", alpha=0.3,
                    ts_col="ts", group_by=["user_id"])
    return out.select("event_id", "user_id",
                      _r(F.col("value_smoothed"), 4).alias("value_smoothed"))


def holt_trend_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing per user series (one-step fitted
    values). Oracle: a recursive CTE replays the exact (level, trend)
    recurrence row-by-row with mirrored op order."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = TS.holt_winters(
        ev, "value", "ts", alpha=0.3, beta=0.1, group_by=["user_id"]
    )
    return out.select(
        "event_id", "user_id", _r(F.col("value_hat"), 4).alias("value_hat")
    )


def changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rolling-mean jump detection. Oracle: the same rolling avg/stddev +
    lag comparison in DuckDB window SQL (boundary comparisons sit ~1e-15
    from the threshold only on adversarial data; real values are far from
    ties)."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "ts", "value")
    out = TS.detect_changepoints(ev, "value", "ts", window=10, threshold=2.0,
                                 group_by=["event_type"])
    return out.select("event_id", "event_type",
                      F.col("value_changepoint").alias("changepoint"))


# ---------------------------------------------------------------------------
# text analysis (functions/text.py)


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """composite document-quality heuristic (length/word-length/stopword/
    noise terms, weights sum to 1) — the training-data filter signal."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.quality_score(docs, "text")
    return out.select("doc_id", _r(F.col("quality"), 6).alias("quality"))


def tfidf_doc_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus-wide tf-idf aggregates per doc, no driver-side vocabulary
    (the oracle-checked complement of the MLlib tfidf_vectors query)."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.tfidf_doc_stats(docs, "doc_id", "text")
    return out.select(
        "doc_id",
        _r(F.col("tfidf_mass"), 4).alias("tfidf_mass"),
        _r(F.col("tfidf_max"), 6).alias("tfidf_max"),
        "n_distinct_terms",
    )


def drift_psi_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distribution-drift monitor: PSI of l_extendedprice between early
    and late ship dates over fixed literal bins — two single-pass aggs,
    no quantile estimation."""
    from data_pipeline_framework_spark.functions.profiling import psi_drift

    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_shipdate") < F.lit("1998-01-01"))
    b = li.filter(F.col("l_shipdate") >= F.lit("1998-01-01"))
    edges = [20000.0, 40000.0, 60000.0, 80000.0]
    out = psi_drift(a, b, "l_extendedprice", edges)
    return out.select(
        "bin",
        _r(F.col("frac_a"), 6).alias("frac_a"),
        _r(F.col("frac_b"), 6).alias("frac_b"),
        _r(F.col("psi_term"), 6).alias("psi_term"),
    )


def ks_drift_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact two-sample Kolmogorov-Smirnov test: l_extendedprice of
    returned vs regular lineitems. Integer ECDF arithmetic end to end
    (division only at the comparison), so the statistic is exact and
    the oracle replays it bit-for-bit; asymptotic p-value via the
    mirrored 100-term Kolmogorov series fold."""
    from data_pipeline_framework_spark.functions.profiling import (
        ks_drift_split,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = ks_drift_split(
        li, "l_extendedprice",
        F.col("l_returnflag") == "R", F.col("l_returnflag") == "N",
    )
    return out.select(
        _r(F.col("ks_stat"), 6).alias("ks_stat"),
        _r(F.col("p_value"), 6).alias("p_value"),
        "n_a", "n_b", "at_value",
    )


def length_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-source Gini concentration of document lengths — the corpus
    balance diagnostic next to per-source counts. Moment sums stay in
    long arithmetic (exact, order-independent); the two divisions run
    in double on the exact sums, so the oracle replays the value
    bit-for-bit."""
    from data_pipeline_framework_spark.functions.profiling import (
        gini_coefficient,
    )

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    out = gini_coefficient(docs, "n_chars", group_by=["source"])
    return out.select(
        "source", "n", "total", _r(F.col("gini"), 6).alias("gini")
    )


def length_gini_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the SAME per-source Gini forced through the size-dispatched
    bucketed-offsets kernel (max_window_group=0) — the skew-proof path
    a giant group routes to. Gate-pinned to the identical textbook
    oracle as length_gini_by_source: dispatch must never change the
    value (integral columns are bit-for-bit, property-tested)."""
    from data_pipeline_framework_spark.functions.profiling import (
        gini_coefficient,
    )

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    out = gini_coefficient(
        docs, "n_chars", group_by=["source"], max_window_group=0
    )
    return out.select(
        "source", "n", "total", _r(F.col("gini"), 6).alias("gini")
    )


def gini_concentration_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNGROUPED Gini over lineitem price cents — exercises the
    distributed global-rank path (distinct-value counts + bucketed
    literal prefix offsets, window per bucket partition, decimal(38,0)
    moment sum; NO single-partition window). Prices are rounded to
    integer cents so every sum is exact and the one IEEE-double
    division replays bit-for-bit in the oracle."""
    from data_pipeline_framework_spark.functions.profiling import (
        gini_coefficient,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint").alias("cents")
    )
    out = gini_coefficient(li, "cents")
    return out.select(
        "n", "total", _r(F.col("gini"), 6).alias("gini")
    )


def robust_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median/MAD robust outliers over event values (Iglewicz-Hoaglin
    robust z > 3.5) — the resistant complement to the IQR/zscore rules;
    both medians come from the exact-selection percentile kernel, whose
    interpolation mirrors DuckDB's quantile_cont."""
    from data_pipeline_framework_spark.functions.profiling import (
        robust_outliers_mad,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out = robust_outliers_mad(ev, "value", threshold=3.5)
    return out.select(
        "event_id", "value", _r(F.col("robust_z"), 4).alias("robust_z")
    )


def drift_psi_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categorical drift: PSI over order-priority shares, early vs late
    orders; full-outer category join so one-sided categories count."""
    from data_pipeline_framework_spark.functions.profiling import (
        psi_drift_categorical,
    )

    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
    b = orders.filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
    out = psi_drift_categorical(a, b, "o_orderpriority")
    return out.select(
        "category",
        _r(F.col("frac_a"), 6).alias("frac_a"),
        _r(F.col("frac_b"), 6).alias("frac_b"),
        _r(F.col("psi_term"), 6).alias("psi_term"),
    )


def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic Lloyd k-means, FULLY oracle-checked — the iterative-
    ML differential MLlib's KMeans can't give (implementation-ordered).
    Features are integer-quantized embedding dims cast to double, so all
    sums/means/distances are exact IEEE arithmetic independent of
    partition order; the oracle replays the same 4 iterations as chained
    CTEs and must reproduce every assignment bit-for-bit."""
    from data_pipeline_framework_spark.operators.ml_features import (
        lloyd_kmeans,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        *[
            F.floor(F.element_at("embedding", i + 1).cast("double") * 1000)
            .cast("double").alias(f"f{i}")
            for i in range(3)
        ],
    )
    out = lloyd_kmeans(
        pts, "vec_id", ["f0", "f1", "f2"], k=3, iters=4, init_ids=[0, 1, 2]
    )
    return out.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


def _kmeans_oracle(k: int = 3, iters: int = 4, dims: int = 3) -> str:
    """Generate the DuckDB twin of kmeans_lloyd: same init, same
    assign/recenter iterations as chained CTEs, same tie-break."""
    fs = [f"f{i}" for i in range(dims)]
    ms = [f"m{i}" for i in range(dims)]
    feat = ",\n                   ".join(
        f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * 1000) AS DOUBLE)"
        f" AS f{i}"
        for i in range(dims)
    )
    init = "\n                UNION ALL ".join(
        f"SELECT CAST({c} AS BIGINT) AS cluster, "
        + ", ".join(f"{f} AS {m}" for f, m in zip(fs, ms))
        + f" FROM pts WHERE vec_id = {c}"
        for c in range(k)
    )
    dist = " + ".join(f"(p.{f} - c.{m}) * (p.{f} - c.{m})"
                      for f, m in zip(fs, ms))

    def assign(ct: str) -> str:
        return (
            "SELECT vec_id, " + ", ".join(fs) + ", cluster FROM (\n"
            "                  SELECT p.*, c.cluster,\n"
            "                         ROW_NUMBER() OVER (PARTITION BY p.vec_id"
            f" ORDER BY {dist}, c.cluster) AS rn\n"
            f"                  FROM pts p CROSS JOIN {ct} c) WHERE rn = 1"
        )

    ctes = [f"pts AS (\n                SELECT vec_id,\n                   "
            f"{feat}\n                FROM embeddings\n            )",
            f"c0 AS (\n                {init}\n            )"]
    for t in range(1, iters + 1):
        ctes.append(f"a{t} AS (\n                {assign(f'c{t - 1}')}\n"
                    "            )")
        means = ", ".join(f"avg({f}) AS {m}" for f, m in zip(fs, ms))
        keep = ", ".join(f"COALESCE(n.{m}, prev.{m}) AS {m}" for m in ms)
        ctes.append(
            f"c{t} AS (\n                SELECT prev.cluster, {keep}\n"
            f"                FROM c{t - 1} prev LEFT JOIN (\n"
            f"                    SELECT cluster, {means} FROM a{t}"
            " GROUP BY cluster\n"
            f"                ) n ON prev.cluster = n.cluster\n            )"
        )
    return (
        "WITH " + ",\n            ".join(ctes) + "\n            "
        "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM (\n"
        f"                {assign(f'c{iters}')}\n            )"
    )


def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters: top-bigram share and duplicate-
    trigram share per doc, one exploded (doc, n, gram) shuffle for both."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.repetition_stats(docs, "doc_id", "text")
    return out.select(
        "doc_id", F.col("n_words").cast("long").alias("n_words"),
        "top_bigram_count", "bigram_total",
        _r(F.col("top_bigram_frac"), 6).alias("top_bigram_frac"),
        "dup_trigram_count", "trigram_total",
        _r(F.col("dup_trigram_frac"), 6).alias("dup_trigram_frac"),
    )


def unigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-doc mean token log-prob under the corpus's own unigram model —
    the cheap fluency filter (CCNet-style, corpus as its own LM)."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.unigram_logprob(docs, "doc_id", "text")
    return out.select(
        "doc_id", "n_tokens",
        _r(F.col("avg_logprob"), 4).alias("avg_logprob"),
        _r(F.col("min_logprob"), 4).alias("min_logprob"),
    )


_CMS_PROBE_TOKENS = [
    "the", "and", "of", "to", "a", "data", "model", "in", "for",
    "zzz_absent_token", "qqq_absent_token",
]


def corpus_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic train/val/test hash split (80/10/10) — pure
    projection, no shuffle; docs never migrate between splits as the
    corpus grows. Aggregated per-split counts + char mass."""
    from data_pipeline_framework_spark.functions.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )


def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """data-mixture resampling: per-source keep rates computed from one
    bounded totals aggregate so surviving char mass follows the target
    50/30/20 mix over three sources; the filter itself is a pushed-down
    deterministic hash predicate (no corpus shuffle)."""
    from data_pipeline_framework_spark.functions.sampling import (
        mixture_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return mixture_sample(
        docs, "doc_id", "source", "n_chars",
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
    )


_SPLIT_BUCKET = (
    "CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 13))"
    " AS BIGINT) % 1000000"
)

_SPLIT_ORACLE = f"""
    WITH b AS (
        SELECT n_chars, {_SPLIT_BUCKET} AS bkt FROM documents
    )
    SELECT CASE WHEN bkt < 800000 THEN 'train'
                WHEN bkt < 900000 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM b GROUP BY 1
"""

_MIX_BUCKET = (
    "CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 13))"
    " AS BIGINT) % 1000000"
)

_MIXTURE_ORACLE = f"""
    WITH tot AS (
        SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total
        FROM documents GROUP BY source
    ),
    w(source, wt) AS (VALUES
        ('src0', CAST(0.5 AS DOUBLE)),
        ('src1', CAST(0.3 AS DOUBLE)),
        ('src2', CAST(0.2 AS DOUBLE))),
    t AS (SELECT MIN(total / wt) AS tmax FROM tot JOIN w USING (source)),
    r AS (
        SELECT source,
               CAST(FLOOR(((wt * tmax) / total) * 1000000) AS BIGINT) AS thr
        FROM tot JOIN w USING (source) CROSS JOIN t
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN r USING (source)
    WHERE {_MIX_BUCKET} < r.thr
"""


def cms_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count-min sketch over the corpus token stream (4 x 512 counters —
    bounded state whatever the vocabulary size), probed for a fixed key
    list and compared against exact counts. The md5 bucket hash makes
    the whole sketch deterministic, so the oracle replays it exactly;
    CMS guarantees estimate >= exact."""
    from data_pipeline_framework_spark.functions import sketches as SK
    from data_pipeline_framework_spark.functions import text as TX

    # _spread before the CPU-bound tokenize+sketch pass: the sf0.1
    # documents file is one scan split, which serialized the heaviest
    # stage (1.14 s on 3 tasks by event-log attribution) on a sliver of
    # the machine; a no-op at scale where inputs are already wide
    # (guide §2.5 input skew). Counts are exact integer sums, so the
    # round-robin repartition cannot change any value.
    toks = TX._spread(
        _t(spark, sf_dir, "documents").select("text")
    ).select(F.explode(TX.tokens("text")).alias("token"))
    table = SK.count_min_table(toks, "token", depth=4, width=512)
    probes = spark.createDataFrame(
        [(t,) for t in _CMS_PROBE_TOKENS], "token string"
    )
    est = SK.cms_lookup(table, probes, "token", depth=4, width=512)
    # only the probe tokens' exact counts are ever read (the join below
    # is FROM the probe side), so filter before the aggregation: the
    # exact pass shuffles a handful of (token, count) partials instead
    # of the full corpus vocabulary
    exact = (
        toks.filter(F.col("token").isin(_CMS_PROBE_TOKENS))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    return (
        est.join(exact, "token", "left")
        .select(
            "token",
            F.col("cms_estimate").cast("long").alias("cms_estimate"),
            F.coalesce("exact_count", F.lit(0)).cast("long")
            .alias("exact_count"),
        )
    )


def _cms_oracle() -> str:
    """DuckDB twin of cms_token_frequencies: same md5 bucket hash per
    sketch row, same 4x512 table, same min-over-rows lookup."""
    h = "CAST(('0x' || substr(md5({x}), 1, 13)) AS BIGINT)"
    row_parts = []
    for r in range(4):
        hx = h.format(x="'cm" + str(r) + ":' || t")
        row_parts.append(
            f"SELECT t, {r} AS r, {hx} % 512 AS bucket FROM tok"
        )
    rows = " UNION ALL ".join(row_parts)
    probe_parts = []
    for t in _CMS_PROBE_TOKENS:
        for r in range(4):
            hx = h.format(x="'cm" + str(r) + ":" + t + "'")
            probe_parts.append(
                f"SELECT '{t}' AS token, {r} AS r, {hx} % 512 AS bucket"
            )
    probe_rows = " UNION ALL ".join(probe_parts)
    return f"""
        WITH tok AS (
            SELECT unnest(list_filter(
                string_split_regex(lower(text), '\\s+'),
                t -> t <> '')) AS t
            FROM documents
        ),
        probes_all AS ({rows}),
        cms AS (
            SELECT r, bucket, COUNT(*) AS cnt
            FROM probes_all GROUP BY r, bucket
        ),
        key_probes AS ({probe_rows}),
        est AS (
            SELECT k.token, MIN(COALESCE(c.cnt, 0)) AS cms_estimate
            FROM key_probes k
            LEFT JOIN cms c ON k.r = c.r AND k.bucket = c.bucket
            GROUP BY k.token
        ),
        exact AS (SELECT t AS token, COUNT(*) AS exact_count
                  FROM tok GROUP BY t)
        SELECT e.token,
               CAST(e.cms_estimate AS BIGINT) AS cms_estimate,
               CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
        FROM est e LEFT JOIN exact x USING (token)
    """


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat-and-chunk sequence packing: the corpus laid end-to-end in
    doc_id order, cut into 32-token contexts; boundary-crossing docs
    contribute a piece to each context they touch. Cumsum window + a
    narrow scatter (sequence/explode/slice)."""
    from data_pipeline_framework_spark.functions.sampling import (
        pack_contexts,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_contexts(docs, "doc_id", "text", context_len=32)


_PACK_CONTEXTS_ORACLE = """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           x -> x <> '') AS tk
        FROM documents
    ),
    n AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(tk) > 0),
    s AS (
        SELECT doc_id, tk, n,
               (SUM(n) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n) AS strt
        FROM n
    ),
    e AS (
        SELECT doc_id, tk, n, strt,
               unnest(range(CAST(FLOOR(strt / 32.0) AS BIGINT),
                            CAST(FLOOR((strt + n - 1) / 32.0) AS BIGINT)
                            + 1)) AS cid
        FROM s
    ),
    b AS (
        SELECT doc_id, tk, strt, cid,
               GREATEST(cid * 32 - strt, 0) AS lo,
               LEAST((cid + 1) * 32 - strt, n) AS hi
        FROM e
    )
    SELECT CAST(cid AS BIGINT) AS context_id,
           doc_id,
           CAST(GREATEST(strt - cid * 32, 0) AS BIGINT) AS ctx_offset,
           CAST(hi - lo AS BIGINT) AS n_tokens,
           array_to_string(tk[lo + 1 : hi], ' ') AS piece_text
    FROM b
"""


def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan: writes part hive-partitioned by brand through
    sinks.write_orc, reads it back through sources.read_orc (glob +
    partition discovery + `_source_file` provenance), and checks content
    against the parquet oracle — proving the columnar sibling format
    end-to-end including partition-column reconstruction."""
    import os
    import tempfile

    from data_pipeline_framework_spark.sinks import writers as W
    from data_pipeline_framework_spark.sources import readers as R

    part = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    tmp = os.path.join(tempfile.gettempdir(), f"dpfs_orc_part_{tag}")
    W.write_orc(part, tmp, mode="replace", partition_by=["p_brand"])
    back = R.read_orc(spark, tmp, source_file_column=True)
    return back.filter(F.col("_source_file").isNotNull()).select(
        "p_partkey", "p_brand", "p_retailprice"
    )


def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over two lineitem dimensions —
    the multi-dim data-skipping layout. Key construction is pure
    shift/mask codegen; the query buckets keys and proves both
    dimensions stay bounded within each bucket (the locality property
    row-group pruning relies on)."""
    from data_pipeline_framework_spark.operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % 256).alias("q1"),
        (F.col("l_suppkey") % 256).alias("q2"),
    )
    key = zorder_key(["q1", "q2"], bits=8)
    return (
        li.withColumn("z", key)
        .groupBy((F.col("z") / 4096).cast("long").alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("q1").alias("q1_min"), F.max("q1").alias("q1_max"),
            F.min("q2").alias("q2_min"), F.max("q2").alias("q2_max"),
        )
    )


def _zorder_oracle() -> str:
    """DuckDB twin of zorder_locality: the same Morton interleave as
    explicit shift/mask SQL arithmetic."""
    terms = []
    for i, c in enumerate(("q1", "q2")):
        for b in range(8):
            terms.append(f"((({c} >> {b}) & 1) << {b * 2 + i})")
    z = " + ".join(terms)
    return f"""
        WITH q AS (
            SELECT l_partkey % 256 AS q1, l_suppkey % 256 AS q2
            FROM lineitem
        ), z AS (
            SELECT q1, q2, {z} AS z FROM q
        )
        SELECT CAST(FLOOR(z / 4096.0) AS BIGINT) AS zbucket,
               COUNT(*) AS n,
               MIN(q1) AS q1_min, MAX(q1) AS q1_max,
               MIN(q2) AS q2_min, MAX(q2) AS q2_max
        FROM z GROUP BY 1
    """


def embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """symmetric max-abs int8 embedding quantization (4x storage shrink
    before indexing): per-vector scale + codes + reconstruction-error
    bound, all narrow array expressions (zero shuffles). Codes use the
    floor round-half-up trick so both engines match bit-for-bit."""
    from data_pipeline_framework_spark.functions.similarity import (
        quantize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = quantize_embeddings(emb)
    # codes ship as an int CSV: integer formatting is engine-identical,
    # and scalar columns keep the harness's value hash array-free
    return out.select(
        "vec_id",
        F.concat_ws(",", F.col("q")).alias("q_csv"),
        "scale", "max_abs_err",
    )


_QUANTIZE_ORACLE = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma
        FROM v
    ),
    q AS (
        SELECT vec_id, v, ma,
               CASE WHEN ma = 0
                    THEN list_transform(v, x -> CAST(0 AS INTEGER))
                    ELSE list_transform(
                        v, x -> CAST(FLOOR(x * 127.0 / ma + 0.5)
                                     AS INTEGER))
               END AS q,
               CASE WHEN ma = 0 THEN 0.0 ELSE ma / 127.0 END AS scale
        FROM m
    )
    SELECT vec_id,
           array_to_string(q, ',') AS q_csv,
           scale,
           list_max(list_transform(
               range(1, len(v) + 1),
               i -> abs(v[i] - q[i] * scale))) AS max_abs_err
    FROM q
"""


def bigram_logprob_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-doc mean conditional bigram log-prob under the corpus's own
    add-0.5-smoothed bigram LM — the word-order-aware fluency filter
    (KenLM-perplexity shape, corpus as its own model)."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.bigram_logprob(docs, "doc_id", "text", alpha=0.5)
    return out.select(
        "doc_id", "n_bigrams",
        _r(F.col("avg_logprob"), 4).alias("avg_logprob"),
        _r(F.col("min_logprob"), 4).alias("min_logprob"),
    )


_BIGRAM_ORACLE = """
    WITH tok AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ),
    n AS (SELECT doc_id, tk, len(tk) AS n FROM tok WHERE len(tk) >= 2),
    b AS (
        SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        FROM (SELECT doc_id, tk, unnest(range(1, n)) AS i FROM n)
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM b GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM b GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT t) AS v
          FROM (SELECT unnest([w1, w2]) AS t FROM c2)),
    s AS (
        SELECT doc_id, ln((c2 + 0.5) / (c1 + 0.5 * v)) AS lp
        FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(AVG(lp) * 1e4 + 0.5) / 1e4 AS avg_logprob,
           FLOOR(MIN(lp) * 1e4 + 0.5) / 1e4 AS min_logprob
    FROM s GROUP BY doc_id
"""


def classifier_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-shaped hashed linear classifier over documents: token ->
    md5 bucket -> literal weight, margin = bias + mean weight, sigmoid
    score. Explode + one doc-id shuffle; lookup is element_at on a
    64-literal array (codegen, no join)."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = TX.classifier_weights(64, seed=13)
    out = TX.hashed_classifier_score(docs, "doc_id", "text", w, bias=0.1)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r(F.col("margin"), 6).alias("margin"),
        _r(F.col("prob"), 6).alias("prob"),
    )


def classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """calibration sweep for the hashed quality classifier: precision /
    recall / F1 against the lang=='en' heuristic label at 20 even score
    thresholds, one corpus pass + a 20-row grid window (the window runs
    over the GRID, never the data — see
    functions/profiling.py:threshold_sweep)."""
    from data_pipeline_framework_spark.functions import profiling as PF
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    w = TX.classifier_weights(64, seed=13)
    scored = TX.hashed_classifier_score(docs, "doc_id", "text", w, bias=0.1)
    lab = scored.withColumn("__lab", (F.col("lang") == "en").cast("int"))
    out = PF.threshold_sweep(lab, "prob", "__lab", n_thresholds=20)
    return out.select(
        _r(F.col("threshold"), 6).alias("threshold"),
        "pred_pos", "tp",
        _r(F.col("precision"), 6).alias("precision"),
        _r(F.col("recall"), 6).alias("recall"),
        _r(F.col("f1"), 6).alias("f1"),
    )


def classifier_trained_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality scoring with a GENUINELY TRAINED linear model: the
    committed TRAINED_QUALITY_WEIGHTS come from
    functions.text.train_hashed_classifier (distributed full-batch
    logistic regression over hashed bag-of-words features — one
    whole-stage aggregation per gradient step, dyadic-grid rounding so
    the whole trajectory is order-independent and engine-exact; see
    tools/train_classifier.py for provenance: sf0.01 documents, label
    = even-numbered source). Scoring reuses hashed_classifier_score —
    the oracle replays it with the same weight literals. The label
    column rides along so the gate also checks the label derivation."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "source",
        (F.substring("source", 4, 10).cast("int") % 2 == 0)
        .cast("int").alias("label"),
    )
    out = TX.hashed_classifier_score(
        docs, "doc_id", "text",
        TX.TRAINED_QUALITY_WEIGHTS, bias=TX.TRAINED_QUALITY_BIAS,
    )
    return out.select(
        "doc_id", "source", "label",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r(F.col("margin"), 6).alias("margin"),
        _r(F.col("prob"), 6).alias("prob"),
    )


def cluster_best_exemplar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality-aware canonicalization: near-dup clusters (minhash pairs
    -> connected components) keep their HIGHEST-n_chars member instead
    of the min id — the cleanest capture survives, not the luckiest id.
    Oracle: recursive-CTE reachability + per-component ranking."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    pairs = DD.minhash_dedup_pairs(
        docs.select("doc_id", "text"), "doc_id", "text", threshold=0.7
    )
    out = DD.canonical_by_quality(
        pairs,
        docs.select("doc_id", F.col("n_chars").alias("qual")),
        quality_col="qual",
    )
    return out.select("doc_id", "component", "qual", "keep")


def soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup: every document keeps a training weight
    1/|near-dup cluster| (unclustered docs weigh 1.0) instead of being
    dropped — total loss mass per unique content stays constant no
    matter how many crawls captured it. Same minhash pairs + connected
    components as cluster_best_exemplar; weight is one exact IEEE
    division so the oracle replays it bit-for-bit."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)
    out = DD.soft_dedup_weights(pairs, docs.select("doc_id"), alpha=1.0)
    return out.select(
        "doc_id", "component", _r(F.col("weight"), 6).alias("weight")
    )


def mixed_language_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """segment-level language-consistency audit: sentence/paragraph
    segments language-ID'd individually, per-doc majority + disagreement
    fraction — the mixed-language detector that catches code-switched
    or badly-extracted docs a whole-doc argmax waves through. Explode +
    pure expressions + one key shuffle + one co-keyed left join."""
    from data_pipeline_framework_spark.functions.text import (
        language_consistency,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = language_consistency(docs, "doc_id", "text")
    return out.select(
        "doc_id", "n_segments", "majority_lang", "n_disagree",
        _r(F.col("mixed_frac"), 6).alias("mixed_frac"),
    )


def cross_corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup decontamination against a held-out reference corpus
    (here: every 20th doc plays the eval set): reference band table
    broadcast, candidates from the cross band join (never train x ref),
    exact Jaccard >= 0.5, best reference match per contaminated doc.
    The fuzzy complement to benchmark_decontamination's exact n-grams."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ref = docs.filter(F.col("doc_id") % 20 == 0)
    out = DD.cross_corpus_neardup(train, ref, threshold=0.5)
    return out.select(
        "doc_id", "ref_id", _r(F.col("jaccard"), 4).alias("jaccard")
    )


def corpus_zipf_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus-health report per source: token count, vocabulary size,
    type-token ratio, hapax fraction, and the Zipf slope over the top
    100 terms (ln freq ~ ln rank OLS; healthy text sits near -1).
    One (source, token) shuffle + a bounded top-100 window per source."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    out = TX.zipf_stats(docs, "text", group_col="source", top_k=100)
    return out.select(
        "source", "n_tokens", "vocab_size",
        _r(F.col("type_token_ratio"), 6).alias("type_token_ratio"),
        _r(F.col("hapax_frac"), 6).alias("hapax_frac"),
        _r(F.col("zipf_slope"), 6).alias("zipf_slope"),
    )


def source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairwise Jensen-Shannon divergence between source unigram
    distributions (add-0.5 smoothed over the shared vocabulary) — the
    "do these sources speak the same language?" mixture diagnostic
    complementing source_overlap's literal-shingle Jaccard."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    out = TX.source_divergence(docs, "source", "text", smooth=0.5)
    return out.select(
        "source_a", "source_b",
        _r(F.col("js_divergence"), 6).alias("js_divergence"),
    )


def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """long-document -> training-context chunking: 32-token windows at
    stride 24, fully narrow (sequence/explode/slice expressions — zero
    shuffles at any scale)."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.chunk_documents(docs, "doc_id", "text", window=32, stride=24)


def boilerplate_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup: strip any line whose
    normalized form appears in >= 20 distinct documents. The corpus has
    no newlines, so known boilerplate ("Subscribe to our newsletter",
    "All rights reserved", 7 rotating "ref code k" footers) plus one
    unique-per-doc line are injected identically on both sides — the
    differential proves hot-line detection, the anti-join, and ordered
    reassembly all agree with the oracle."""
    from data_pipeline_framework_spark.functions.text import (
        remove_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat_ws(
        "\n",
        F.col("text"),
        F.lit("Subscribe to our newsletter"),
        F.when(
            F.col("doc_id") % 3 == 0, F.lit("All rights reserved")
        ).otherwise(
            F.concat(
                F.lit("unique line for doc "),
                F.col("doc_id").cast("string"),
            )
        ),
        F.concat(F.lit("ref code "), (F.col("doc_id") % 7).cast("string")),
    )
    return remove_boilerplate_lines(
        docs.select("doc_id", injected.alias("text")),
        "doc_id",
        "text",
        min_docs=20,
        min_line_chars=5,
    )


_URL_HOSTS = [
    "news.example.co.uk",
    "blog.foo.com",
    "example.org",
    "192.168.10.4",
    "www.shop.example.com.au",
    "spam.bad-site.net",
    "cdn.assets.bar.io",
]
# eTLD+1 expected per host above — the oracle asserts these by
# construction while the Spark side actually parses the URL.
_URL_DOMAINS = [
    "example.co.uk",
    "foo.com",
    "example.org",
    "192.168.10.4",
    "example.com.au",
    "bad-site.net",
    "bar.io",
]


def _inject_urls(docs: DataFrame) -> DataFrame:
    """Deterministic per-doc URL: host from a 7-way pool (covering
    two-level public suffixes, IP hosts, deep subdomains), path depth
    from doc_id%4, query params from doc_id%3, scheme from doc_id%2.
    The corpus has no URL column, so both engines synthesize the same
    one — the differential then proves the parse, eTLD+1, and
    depth/param feature logic."""
    m7 = (F.col("doc_id") % 7).cast("int")
    host = F.element_at(F.array(*[F.lit(h) for h in _URL_HOSTS]), m7 + 1)
    path = F.element_at(
        F.array(F.lit(""), F.lit("/a"), F.lit("/a/b"), F.lit("/a/b/c")),
        (F.col("doc_id") % 4).cast("int") + 1,
    )
    query = F.element_at(
        F.array(F.lit("?x=1&y=2"), F.lit("?x=1"), F.lit("")),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    scheme = F.when(F.col("doc_id") % 2 == 0, F.lit("https")).otherwise(
        F.lit("http")
    )
    return docs.withColumn(
        "url", F.concat(scheme, F.lit("://"), host, path, query)
    )


def url_domain_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-crawl URL feature extraction: scheme/host/eTLD+1/path depth/
    query params, all as parse_url column expressions (zero UDFs, one
    codegen projection). The oracle derives every expected value from
    the doc_id residues the injection used, so a parse or
    registered-domain bug on the Spark side cannot agree with it."""
    from data_pipeline_framework_spark.functions.web import (
        extract_url_features,
    )

    docs = _inject_urls(_t(spark, sf_dir, "documents").select("doc_id"))
    return extract_url_features(docs, "url").select(
        "doc_id",
        "url",
        F.col("url_scheme").alias("scheme"),
        F.col("url_host").alias("host"),
        F.col("url_registered_domain").alias("registered_domain"),
        F.col("url_path_depth").cast("long").alias("path_depth"),
        F.col("url_n_query_params").cast("long").alias("n_query_params"),
        F.col("url_is_https").cast("int").alias("is_https"),
        F.col("url_is_ip_host").cast("int").alias("is_ip_host"),
    )


def domain_blocklist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist filter + per-domain corpus rollup: drop two bad
    domains (an eTLD+1 and an IP literal), then aggregate doc count,
    distinct hosts, and length stats per registered domain. The filter
    is a literal isin pushed at the scan; the rollup is one hash agg
    whose output cardinality is the domain count."""
    from data_pipeline_framework_spark.functions.web import (
        domain_rollup,
        filter_blocked_domains,
    )

    docs = _inject_urls(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    )
    kept = filter_blocked_domains(
        docs, "url", ["bad-site.net", "192.168.10.4"]
    )
    out = domain_rollup(kept, "url", ["n_chars"])
    return out.select(
        "registered_domain",
        "n_docs",
        "n_hosts",
        _r(F.col("avg_n_chars")).alias("avg_n_chars"),
        F.col("sum_n_chars").cast("long").alias("sum_n_chars"),
    ).orderBy("registered_domain")


def markup_stripping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-markup removal for web-extracted text: tags, script/
    style/comment blocks (content dropped), entity decode, whitespace
    collapse — one codegen projection, no UDFs. The corpus is plain
    text, so both engines wrap each doc in the same deterministic
    markup (script block on even ids, comment on odd) and the
    differential proves every stripping stage."""
    from data_pipeline_framework_spark.functions.text import (
        strip_markup_text,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.lit("<html><body><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.lit('<script type="x">var a = 1 < 2;</script>'),
        ).otherwise(F.lit("<!-- hidden comment -->")),
        F.lit("<b>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</b> Tom &amp; Jerry&nbsp;&lt;3</body></html>"),
    )
    return strip_markup_text(
        docs.select("doc_id", injected.alias("text")), "text"
    ).select("doc_id", "clean_text", "n_chars_raw", "n_chars_clean")


def epoch_shuffle_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training order: dense global positions
    in md5(seed:epoch:id) order, built from a 256-way prefix-bucketed
    rank (bounded 256-row offset collect, no single-partition window).
    Two epochs are returned side by side; the oracle's plain
    row_number-over-global-order must agree with the bucketed
    composition exactly, proving offset+rank == global rank."""
    from data_pipeline_framework_spark.functions.sampling import (
        epoch_shuffle,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    e0 = epoch_shuffle(docs, "doc_id", epoch=0).withColumnRenamed(
        "shuffle_pos", "pos_epoch0"
    )
    e1 = epoch_shuffle(docs, "doc_id", epoch=1).withColumnRenamed(
        "shuffle_pos", "pos_epoch1"
    )
    return e0.join(e1, "doc_id").select("doc_id", "pos_epoch0", "pos_epoch1")


def luhn_pan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-verified payment-card detection — the checksum tier above
    pii_redaction's shape-only regexes. The corpus has no card-shaped
    digit runs, so each doc gets two key-derived candidates (a 15-digit
    '4'-prefix run and a dash-separated 16-digit '5412' run) injected
    identically in the oracle; validity then varies pseudo-randomly
    (~1 in 10 passes Luhn), so the hash pins the whole fold."""
    from data_pipeline_framework_spark.operators.cleaning import (
        luhn_pan_scan,
    )

    d = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.lit(" card 4"),
        F.lpad(((d * 7919) % (10 ** 14)).cast("string"), 14, "0"),
        F.lit(" acct 5412-"),
        F.lpad(((d * 104729) % (10 ** 12)).cast("string"), 12, "0"),
        F.lit(" end"),
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", txt.alias("t"))
    return luhn_pan_scan(docs, "t", id_cols=["doc_id"])


def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub before a corpus ships: count+replace email/SSN/phone in
    one codegen projection. The testdata carries no PII-shaped text, so
    the blob embeds deterministic key-derived email/SSN/phone strings —
    built identically in the oracle — making this a real differential
    test of the redaction regexes (a dialect drift breaks the hash)."""
    from data_pipeline_framework_spark.operators.cleaning import redact_pii

    k = F.col("c_custkey")
    phone = F.format_string(
        "%02d-%03d-%03d-%04d",
        F.col("c_nationkey") + 10, k % 1000, (k * 7) % 1000, (k * 13) % 10000,
    )
    ssn = F.format_string("%03d-%02d-%04d", k % 1000, k % 100, (k * 3) % 10000)
    email = F.concat(
        F.lower(F.regexp_replace(F.col("c_name"), "[^A-Za-z0-9]", "")),
        F.lit("@example.com"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat_ws(
            " ", F.col("c_name"), email, F.lit("ssn"), ssn, F.lit("tel"), phone
        ).alias("blob"),
    )
    return redact_pii(cust, ["blob"]).select(
        "c_custkey", "blob", "pii_redactions"
    )


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic per-source corpus downsampling: hash(seed||id)
    buckets, partitioning-independent (df.sample would change with every
    repartition), pure pushed-down filter."""
    from data_pipeline_framework_spark.functions.sampling import (
        stratified_hash_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_hash_sample(
        docs, "doc_id", "source",
        rates={"src0": 1.0, "src1": 0.5, "src2": 0.0},
        default_rate=0.1,
    )


def priority_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-SIZE deterministic uniform sample: the 64 docs with the
    smallest seeded hash priorities — exact size (rate-based hash
    sampling can't promise one), partitioning/retry-independent, and
    mergeable (bottom-k is a semilattice; the streaming twin maintains
    the same sample incrementally). TakeOrderedAndProject plan: no
    global sort, no corpus shuffle."""
    from data_pipeline_framework_spark.functions.sampling import (
        priority_sample,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return priority_sample(docs, "doc_id", k=64, seed="p8")


def token_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-token-budget training shards by cumulative token offset —
    the contiguous-offset cut used when materializing training data."""
    from data_pipeline_framework_spark.functions import text as TX
    from data_pipeline_framework_spark.functions.sampling import pack_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(TX.tokens(F.col("text"))).cast("long").alias("n_tokens")
    )
    return pack_shards(
        docs, "doc_id", "n_tokens", budget=2000, n_buckets=32
    ).select("doc_id", "n_tokens", "token_offset", "shard")


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """learned-BPE token counts per document: the packaged ranked-merge
    table applied as a chain of JVM string replaces (no UDF, no shuffle —
    one narrow projection over the corpus scan). Real-token budgets are
    what training pipelines size context fills with; whitespace counts
    are off by the subword factor."""
    from data_pipeline_framework_spark.functions.tokenize import (
        bpe_token_count,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_token_count(docs, "text").select("doc_id", "n_bpe_tokens")


def bpe_vocab_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus vocabulary usage in LEARNED BPE tokens: explode the encode
    stream, count occurrences and document frequency per token, top 50
    by count (ties by token). Exercises the token-array path (tokens
    themselves, not just counts) end-to-end against the SQL twin."""
    from data_pipeline_framework_spark.functions.tokenize import (
        BPETokenizer,
    )

    from data_pipeline_framework_spark.functions.dedup import _spread

    tok = BPETokenizer()
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # the chained-replace encode is the CPU-bound stage; spread the
    # small-file scan to cluster parallelism first (no-op on wide
    # inputs) — same pattern as the shingle pipelines
    exploded = _spread(docs).select(
        "doc_id", F.explode(tok.tokens_expr("text")).alias("token")
    )
    return (
        exploded.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(50)
    )


def bpe_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-token-budget training shards measured in LEARNED BPE tokens:
    bpe_token_count (narrow chained-replace encode) feeds the cumsum
    pack_shards cut — the pipeline a context-fill budget actually needs."""
    from data_pipeline_framework_spark.functions.sampling import pack_shards
    from data_pipeline_framework_spark.functions.tokenize import (
        bpe_token_count,
    )

    docs = bpe_token_count(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "text"
    ).select("doc_id", "n_bpe_tokens")
    return pack_shards(
        docs, "doc_id", "n_bpe_tokens", budget=4000, n_buckets=32
    ).select("doc_id", "n_bpe_tokens", "token_offset", "shard")


def length_batch_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """padding-efficient dynamic batching
    (functions/sampling.py:pack_length_batches): docs bucket by
    floor(log2(len)), shard by portable hash, and pack into batches
    that fit a 4000-token pad-to-max budget; the manifest reports each
    batch's fill and padding fraction. Oracle replays bucket, shard,
    ordering, and the integer rows-per-batch cut exactly."""
    from data_pipeline_framework_spark.functions.sampling import (
        pack_length_batches,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    out = pack_length_batches(
        docs, "doc_id", "n_chars", batch_tokens=4000, n_shards=8
    )
    tok = F.greatest(F.col("n_chars").cast("long"), F.lit(1))
    return (
        out.groupBy("len_bucket", "shard", "batch")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(tok).alias("max_len"),
            F.sum(tok).alias("sum_len"),
        )
        .withColumn(
            "padding_frac",
            _r(
                1.0
                - F.col("sum_len")
                / (F.col("n_docs") * F.col("max_len")),
                6,
            ),
        )
        .orderBy("len_bucket", "shard", "batch")
    )


def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style eval-set decontamination: per corpus doc, the count and
    fraction of its word 8-grams that also occur in the (broadcast) eval
    slice. One groupBy(doc) on the corpus side; eval grams semi-join in
    map-side."""
    from data_pipeline_framework_spark.functions.decontamination import (
        contamination_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    evalset = docs.filter(F.col("doc_id") < 100)
    corpus = docs.filter(F.col("doc_id") >= 100)
    out = contamination_stats(corpus, evalset, n=8)
    return out.select(
        "doc_id", "n_grams", "dirty_grams",
        _r(F.col("contamination_frac"), 6).alias("contamination_frac"),
        F.col("contaminated").cast("int").alias("contaminated"),
    ).orderBy("doc_id")


def domain_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-source quota: keep the 10 longest docs per source (hash+id
    tie-break), via the skew-proof two-stage top-k (salted local
    row_number bounds any hot key's final sort to cap*salts rows)."""
    from data_pipeline_framework_spark.functions.sampling import cap_per_key

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    out = cap_per_key(
        docs, "source", cap=10, id_col="doc_id",
        order_col=F.col("n_chars").desc(),
    )
    return out.select("doc_id", "source", "n_chars").orderBy(
        "source", "doc_id"
    )


def text_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.text_stats(docs, "text")
    return out.select(
        "doc_id", "n_chars_calc", "n_words", "n_sentences",
        _r(F.col("avg_word_len"), 4).alias("avg_word_len"),
        _r(F.col("punct_ratio"), 6).alias("punct_ratio"),
        _r(F.col("digit_ratio"), 6).alias("digit_ratio"),
        _r(F.col("stopword_ratio"), 6).alias("stopword_ratio"),
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.token_count(docs, "text").select("doc_id", "n_tokens")


def language_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.language_id(docs, "text")
    return out.select(
        "doc_id",
        _r(F.col("en_score"), 6).alias("en_score"),
        _r(F.col("de_score"), 6).alias("de_score"),
        "lang_pred",
    )


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.fingerprint(docs, "text").select("doc_id", "fingerprint")


# ---------------------------------------------------------------------------
# deduplication (functions/dedup.py)


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup on a corpus with planted duplicates (docs ∪ first 50)."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(docs.filter("doc_id < 50"))
    out = DD.exact_duplicates(corpus, "doc_id", "text")
    return out.select(
        "canonical_id", "n_dups", F.col("member_ids").cast("string").alias("members")
    )


def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified at 0.7."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 4).alias("jaccard"))


def ngram_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-doc novelty: fraction of the doc's distinct trigram shingles
    occurring in no other document — boilerplate/copy detection cheap
    enough for every doc (no candidate generation)."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = TX.ngram_novelty(docs, "doc_id", "text", n=3)
    return out.select(
        "doc_id", "n_grams", "novel_grams",
        _r(F.col("novelty"), 6).alias("novelty"),
    )


def _novelty_oracle() -> str:
    # deferred: _DD_TOKS/_DD_SHINGLES are defined later in the module
    return f"""
    WITH t AS (
        SELECT doc_id, {_DD_TOKS} AS w FROM documents
    ),
    sh AS (
        SELECT doc_id, unnest({_DD_SHINGLES}) AS g FROM t
    ),
    dfreq AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS novel_grams,
           FLOOR(SUM(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END) / COUNT(*)
                 * 1e6 + 0.5) / 1e6 AS novelty
    FROM sh JOIN dfreq USING (g)
    GROUP BY doc_id
"""


def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-source dataset card: doc count, char mass, mean quality,
    English share, exact-dup rate — the one-look corpus health
    dashboard, composed from the language/quality/fingerprint operator
    families in a single grouped plan."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    lang = TX.language_id(docs, "text").select("doc_id", "lang_pred")
    qual = TX.quality_score(docs, "text").select("doc_id", "quality")
    fp = TX.fingerprint(docs.select("doc_id", "text"), "text")
    dup = fp.withColumn(
        "is_dup",
        (F.col("doc_id") != F.min("doc_id").over(
            Window.partitionBy("fingerprint"))).cast("int"),
    ).select("doc_id", "is_dup")
    j = (
        docs.join(lang, "doc_id").join(qual, "doc_id").join(dup, "doc_id")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            _r(F.avg("quality"), 6).alias("mean_quality"),
            _r(F.avg((F.col("lang_pred") == "en").cast("int")), 6)
            .alias("en_share"),
            _r(F.avg("is_dup"), 6).alias("dup_rate"),
        )
        .orderBy("source")
    )


def _corpus_report_oracle() -> str:
    from data_pipeline_framework_spark.functions.text import LANG_MARKERS

    marker_sql = {
        lang: "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        for lang, markers in LANG_MARKERS.items()
    }
    score_exprs = ",\n                   ".join(
        f"CASE WHEN len(w) > 0 THEN"
        f" len(list_filter(w, t -> list_contains({marker_sql[lang]}, t)))"
        f" / len(w) END AS {lang}_score"
        for lang in LANG_MARKERS
    )
    pred_branches = "\n                        ".join(
        f"WHEN {lang}_score = best THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    return f"""
        WITH t AS (
            SELECT doc_id, source, text, {_DD_TOKS} AS w,
                   length(text) AS nc
            FROM documents
        ),
        fp AS (SELECT doc_id, {_DD_FP} AS f FROM t),
        dup AS (
            SELECT doc_id,
                   CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY f)
                        THEN 1 ELSE 0 END AS is_dup
            FROM fp
        ),
        ls AS (SELECT doc_id, {score_exprs} FROM t),
        lp AS (
            SELECT doc_id,
                   CASE WHEN best IS NULL OR NOT best > 0 THEN 'unknown'
                        {pred_branches}
                   END AS lang_pred
            FROM (
                SELECT *, greatest(en_score, de_score, fr_score, es_score)
                       AS best
                FROM ls
            )
        ),
        qs AS (
            SELECT doc_id,
                   0.3 * LEAST(n_words / 100.0, 1.0)
                 + 0.2 * (CASE WHEN awl BETWEEN 3.0 AND 10.0
                               THEN 1.0 ELSE 0.0 END)
                 + 0.2 * LEAST(stop * 3, 1.0)
                 + 0.3 * GREATEST(0.0, 1.0 - punct * 4 - digit * 2) AS q
            FROM (
                SELECT doc_id,
                       len(w) AS n_words,
                       CASE WHEN len(w) > 0 THEN
                           list_sum(list_transform(w, t -> length(t)))
                           / len(w)
                       END AS awl,
                       CASE WHEN nc > 0 THEN
                           (nc - length(regexp_replace(text,
                                '[^\\w\\s]', '', 'g'))) / nc END AS punct,
                       CASE WHEN nc > 0 THEN
                           (nc - length(regexp_replace(text,
                                '[0-9]', '', 'g'))) / nc END AS digit,
                       CASE WHEN len(w) > 0 THEN
                           len(list_filter(w, t -> list_contains(
                               {_stopword_list_sql()}, t)))
                           / len(w) END AS stop
                FROM t
            )
        )
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(nc) AS BIGINT) AS total_chars,
               FLOOR(AVG(q) * 1e6 + 0.5) / 1e6 AS mean_quality,
               FLOOR(AVG(CASE WHEN lang_pred = 'en' THEN 1.0 ELSE 0.0 END)
                     * 1e6 + 0.5) / 1e6 AS en_share,
               FLOOR(AVG(CAST(is_dup AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS dup_rate
        FROM t
        JOIN dup USING (doc_id)
        JOIN lp USING (doc_id)
        JOIN qs USING (doc_id)
        GROUP BY source ORDER BY source
    """


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ, the production ANN shape: fixed coarse codebook routes
    each query to its 3 nearest of 8 cells, and only those cells'
    PQ codes are ADC-scored — probe cost ~3/8 of the corpus in
    64x-compressed form, full-precision vectors never read at query
    time."""
    from data_pipeline_framework_spark.functions.similarity import (
        fixed_codebook,
        ivf_index,
        ivfpq_topk,
        pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cells = fixed_codebook(64, n_cells=8, seed=7)
    index = ivf_index(emb, centers=cells)
    books = pq_codebooks(64, m=8, k=8, seed=5)
    out = ivfpq_topk(
        emb, queries, books, k=10, n_cells=8, nprobe=3, index=index
    )
    return out.select(
        "query_id", "vec_id",
        _r(F.col("approx_dist"), 6).alias("approx_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _ivfpq_oracle(
    m: int = 8, k: int = 8, dim: int = 64,
    n_cells: int = 8, nprobe: int = 3,
) -> str:
    """DuckDB twin of ann_ivfpq_topk: coarse assignment replays numpy's
    expansion-trick arithmetic (like the IVF oracle), probe ranking and
    PQ/ADC replay the Spark expressions' direct term order."""
    from data_pipeline_framework_spark.functions.similarity import (
        fixed_codebook,
        pq_codebooks,
    )

    cents = fixed_codebook(dim, n_cells=n_cells, seed=7)
    books = pq_codebooks(dim, m, k, seed=5)
    sub = dim // m
    cent_rows = ", ".join(
        f"({i}, {_sql_dlist(c)})" for i, c in enumerate(cents)
    )
    d2 = (
        "list_dot_product(v, v) - 2 * list_dot_product(v, cent.cv)"
        " + list_dot_product(cent.cv, cent.cv)"
    )

    def dist(vexpr: str, j: int, cent: list[float]) -> str:
        return " + ".join(
            f"({vexpr}[{j * sub + d + 1}] - {float(c)!r})"
            f" * ({vexpr}[{j * sub + d + 1}] - {float(c)!r})"
            for d, c in enumerate(cent)
        )

    # query-side probe distance: the Spark expression's direct
    # (x - c)^2 left-assoc sum over all dims
    def cell_dist(vexpr: str, cent: list[float]) -> str:
        return " + ".join(
            f"({vexpr}[{d + 1}] - {float(c)!r})"
            f" * ({vexpr}[{d + 1}] - {float(c)!r})"
            for d, c in enumerate(cent)
        )

    probe_rows = " UNION ALL ".join(
        f"SELECT query_id, qv, {i} AS cell,"
        f" ({cell_dist('qv', c)}) AS cd FROM q"
        for i, c in enumerate(cents)
    )
    dcols = ",\n               ".join(
        f"({dist('v', j, cent)}) AS d_{j}_{t}"
        for j, book in enumerate(books)
        for t, cent in enumerate(book)
    )
    codes = []
    for j in range(m):
        whens = []
        for i in range(k - 1):
            cond = " AND ".join(
                f"d_{j}_{i} <= d_{j}_{t}" for t in range(i + 1, k)
            )
            whens.append(f"WHEN {cond} THEN {i}")
        codes.append(
            "CASE " + " ".join(whens) + f" ELSE {k - 1} END AS code_{j}"
        )
    code_cols = ",\n               ".join(codes)
    terms = []
    for j, book in enumerate(books):
        branches = " ".join(
            f"WHEN {t} THEN ({dist('p.qv', j, cent)})"
            for t, cent in enumerate(book)
        )
        terms.append(f"(CASE enc.code_{j} {branches} END)")
    approx = " + ".join(terms)
    return f"""
        WITH cent(cell, cv) AS (VALUES {cent_rows}),
        c AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS query_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
            FROM embeddings WHERE vec_id < 3
        ),
        cassign AS (
            SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, cent.cell,
                       row_number() OVER (
                           PARTITION BY c.vec_id ORDER BY {d2}, cent.cell
                       ) AS rn
                FROM c, cent
            ) WHERE rn = 1
        ),
        dists AS (
            SELECT vec_id, cell,
               {dcols}
            FROM cassign
        ),
        enc AS (
            SELECT vec_id, cell,
               {code_cols}
            FROM dists
        ),
        probes_all AS ({probe_rows}),
        probes AS (
            SELECT query_id, qv, cell FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cd, cell) AS pr
                FROM probes_all
            ) WHERE pr <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, enc.vec_id,
                   {approx} AS approx_dist
            FROM enc JOIN probes p USING (cell)
        ),
        ranked AS (
            SELECT query_id, vec_id, approx_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, vec_id) AS rank
            FROM scored
        )
        SELECT query_id, vec_id,
               FLOOR(approx_dist * 1e6 + 0.5) / 1e6 AS approx_dist,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 10
    """


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus-version audit: added/removed/changed/unchanged counts
    between two snapshots by content fingerprint (one full-outer join).
    The 'new' snapshot derives in-plan: every 17th doc removed, every
    13th edited, every 19th cloned under a new id — so the oracle can
    rebuild it exactly."""
    from data_pipeline_framework_spark.functions.dedup import snapshot_diff

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = docs.filter(F.col("doc_id") % 17 != 0)
    edited = kept.withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 19 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    new = edited.unionByName(added)
    out = snapshot_diff(docs, new, "doc_id", "text")
    return (
        out.groupBy("status").agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


_FP_SQL = (
    "CAST(('0x' || substr(md5(array_to_string("
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''),"
    " ' ')), 1, 13)) AS BIGINT)"
)

_SNAPDIFF_ORACLE = f"""
    WITH newsnap AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text
        FROM documents WHERE doc_id % 19 = 0
    ),
    fo AS (SELECT doc_id, {_FP_SQL} AS ofp FROM documents),
    fn AS (SELECT doc_id, {_FP_SQL} AS nfp FROM newsnap),
    j AS (
        SELECT COALESCE(fo.doc_id, fn.doc_id) AS doc_id, ofp, nfp
        FROM fo FULL OUTER JOIN fn ON fo.doc_id = fn.doc_id
    )
    SELECT CASE WHEN ofp IS NULL THEN 'added'
                WHEN nfp IS NULL THEN 'removed'
                WHEN ofp <> nfp THEN 'changed'
                ELSE 'unchanged' END AS status,
           COUNT(*) AS n
    FROM j GROUP BY 1 ORDER BY 1
"""


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """product-quantization ANN (Jegou-style ADC): the corpus scans as
    m=8 3-bit codes (64x smaller than float32) and each query reads its
    precomputed subspace distance tables — approximate L2 top-10 with
    seeded codebooks, bit-identical across engines."""
    from data_pipeline_framework_spark.functions.similarity import (
        pq_codebooks,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    books = pq_codebooks(64, m=8, k=8, seed=5)
    out = pq_topk(emb, queries, books, k=10)
    return out.select(
        "query_id", "vec_id",
        _r(F.col("approx_dist"), 6).alias("approx_dist"),
        F.col("rank").cast("long").alias("rank"),
    )


def _pq_oracle(m: int = 8, k: int = 8, dim: int = 64, seed: int = 5) -> str:
    """DuckDB twin of ann_pq_topk: same codebooks, same argmin encode,
    same ADC sum — generated with identical left-assoc term order so
    every double matches bit-for-bit."""
    from data_pipeline_framework_spark.functions.similarity import (
        pq_codebooks,
    )

    books = pq_codebooks(dim, m, k, seed)
    sub = dim // m

    def dist(vexpr: str, j: int, cent: list[float]) -> str:
        return " + ".join(
            f"({vexpr}[{j * sub + d + 1}] - {float(c)!r})"
            f" * ({vexpr}[{j * sub + d + 1}] - {float(c)!r})"
            for d, c in enumerate(cent)
        )

    dcols = ",\n               ".join(
        f"({dist('v', j, cent)}) AS d_{j}_{t}"
        for j, book in enumerate(books)
        for t, cent in enumerate(book)
    )
    codes = []
    for j in range(m):
        whens = []
        for i in range(k - 1):
            cond = " AND ".join(
                f"d_{j}_{i} <= d_{j}_{t}" for t in range(i + 1, k)
            )
            whens.append(f"WHEN {cond} THEN {i}")
        codes.append(
            "CASE " + " ".join(whens) + f" ELSE {k - 1} END AS code_{j}"
        )
    code_cols = ",\n               ".join(codes)
    terms = []
    for j, book in enumerate(books):
        branches = " ".join(
            f"WHEN {t} THEN ({dist('qs.qv', j, cent)})"
            for t, cent in enumerate(book)
        )
        terms.append(f"(CASE enc.code_{j} {branches} END)")
    approx = " + ".join(terms)
    return f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        dists AS (
            SELECT vec_id, v,
               {dcols}
            FROM v
        ),
        enc AS (
            SELECT vec_id,
               {code_cols}
            FROM dists
        ),
        qs AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 3),
        scored AS (
            SELECT qs.query_id, enc.vec_id,
                   {approx} AS approx_dist
            FROM enc CROSS JOIN qs
        ),
        ranked AS (
            SELECT query_id, vec_id, approx_dist,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_dist, vec_id) AS rank
            FROM scored
        )
        SELECT query_id, vec_id,
               FLOOR(approx_dist * 1e6 + 0.5) / 1e6 AS approx_dist,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 10
    """


def cdc_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """content-defined chunking: boundaries where the rolling 4-token
    hash hits 0 mod 24, so chunk identity survives insertions (the
    rsync/CDC trick on token streams — what makes chunk-level dedup
    work across corpus versions). Keyed windows + one (doc,chunk) agg."""
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return TX.cdc_chunks(docs, "doc_id", "text", target_len=24, window=4)


_CDC_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i - 1 AS pos, tk[i] AS tok
        FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
              FROM toks)
    ),
    hashed AS (
        SELECT doc_id, pos, tok,
               CAST(('0x' || substr(md5(lower(tok)), 1, 13)) AS BIGINT)
                   % 2147483648 AS h
        FROM pos
    ),
    rolled AS (
        SELECT doc_id, pos, tok,
               SUM(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                   AS rh
        FROM hashed
    ),
    flagged AS (
        SELECT doc_id, pos, tok,
               CASE WHEN pos > 0 AND rh % 24 = 0 THEN 1 ELSE 0 END AS b
        FROM rolled
    ),
    chunked AS (
        SELECT doc_id, pos, tok,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS chunk_id
        FROM flagged
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text
    FROM chunked GROUP BY doc_id, chunk_id
"""


def ann_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact top-k cosine over int8-quantized vectors (the search half
    of embedding_quantization): per-vector scales cancel inside the
    cosine, so scoring is integer-code arithmetic — bit-identical
    across engines — on a 4x smaller scan."""
    from data_pipeline_framework_spark.functions.similarity import (
        quantized_cosine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = quantized_cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id",
        _r(F.col("qcosine"), 6).alias("qcosine"),
        F.col("rank").cast("long").alias("rank"),
    )


_QANN_ORACLE = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) AS ma
        FROM v
    ),
    q AS (
        SELECT vec_id,
               CASE WHEN ma = 0
                    THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                    ELSE list_transform(
                        v, x -> FLOOR(x * 127.0 / ma + 0.5))
               END AS qv
        FROM m
    ),
    qnz AS (
        SELECT vec_id, qv FROM q
        WHERE list_max(list_transform(qv, x -> abs(x))) > 0
    ),
    qs AS (SELECT vec_id AS query_id, qv AS qqv
           FROM qnz WHERE vec_id < 5),
    scored AS (
        SELECT qs.query_id, q.vec_id,
               list_dot_product(qs.qqv, q.qv)
               / (sqrt(list_dot_product(qs.qqv, qs.qqv))
                  * sqrt(list_dot_product(q.qv, q.qv))) AS qcosine
        FROM qnz q CROSS JOIN qs
    ),
    ranked AS (
        SELECT query_id, vec_id, qcosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY qcosine DESC, vec_id) AS rank
        FROM scored
    )
    SELECT query_id, vec_id,
           FLOOR(qcosine * 1e6 + 0.5) / 1e6 AS qcosine,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
"""


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic weighted sampling without replacement
    (Efraimidis-Spirakis exponential keys over the portable id hash):
    100 documents drawn with probability proportional to length — the
    keep-the-best-K-with-randomness knob of corpus assembly."""
    from data_pipeline_framework_spark.functions.sampling import (
        weighted_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_sample(docs, "doc_id", "n_chars", k=100)


_WSAMPLE_ORACLE = """
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln((CAST(('0x' || substr(md5('wsamp'
                        || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
                   % 1000000 + 0.5) / 1000000.0)
               / CAST(n_chars AS DOUBLE) AS wkey
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars
    FROM keyed ORDER BY wkey DESC, doc_id LIMIT 100
"""


def skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """key-distribution diagnosis before a join/agg: top-10 hottest
    order keys in lineitem with row share and the salt bucket count
    bounding each partition to ~2000 rows — the detect step feeding
    salted_join / two_stage_agg."""
    from data_pipeline_framework_spark.operators.skew import diagnose_skew

    li = _t(spark, sf_dir, "lineitem")
    out = diagnose_skew(li, "l_suppkey", top_k=10, rows_per_task=50)
    return out.select(
        "l_suppkey", "cnt", _r(F.col("share"), 8).alias("share"),
        "salt_buckets",
    )


_SKEW_ORACLE = """
    WITH counts AS (
        SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(cnt) AS total FROM counts)
    SELECT l_suppkey, cnt,
           FLOOR(cnt / CAST(total AS DOUBLE) * 1e8 + 0.5) / 1e8 AS share,
           CAST(GREATEST(CEIL(cnt / CAST(50 AS DOUBLE)), 1) AS BIGINT)
               AS salt_buckets
    FROM counts CROSS JOIN tot
    ORDER BY cnt DESC, l_suppkey LIMIT 10
"""


def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """blocked fuzzy join (entity resolution): customer names with a
    key-derived mid-string character drop are re-linked to their clean
    rows via suffix-6 blocking + levenshtein<=1 verify — no cross join
    at any key distribution. The perturbation, blocks and distance all
    replay exactly in DuckDB."""
    from data_pipeline_framework_spark.operators.linkage import (
        block_key_suffix,
        fuzzy_join,
    )

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # drop one char at position (c_custkey % 3 + 10) — inside the
    # zero-run, so the suffix-6 block key survives the edit
    dirty = cust.select(
        F.col("c_custkey").alias("dirty_id"),
        F.concat(
            F.expr("substring(c_name, 1, cast(c_custkey % 3 + 9 as int))"),
            F.expr("substring(c_name, cast(c_custkey % 3 + 11 as int), 100)"),
        ).alias("dirty_name"),
    )
    out = fuzzy_join(
        dirty, cust, "dirty_name", "c_name", max_distance=1,
        blocks=[(block_key_suffix("dirty_name", 6),
                 block_key_suffix("c_name", 6))],
        left_id="dirty_id", right_id="c_custkey",
    )
    return out.select(
        "dirty_id", F.col("c_custkey").alias("matched_id"),
        F.col("edit_distance").cast("long").alias("edit_distance"),
    )


_FUZZY_ORACLE = """
    WITH dirty AS (
        SELECT c_custkey AS dirty_id,
               substring(c_name, 1, CAST(c_custkey % 3 + 9 AS INTEGER))
               || substring(c_name, CAST(c_custkey % 3 + 11 AS INTEGER), 100)
               AS dirty_name
        FROM customer
    ),
    cand AS (
        SELECT d.dirty_id, d.dirty_name, c.c_custkey, c.c_name
        FROM dirty d
        JOIN customer c
          ON right(lower(trim(d.dirty_name)), 6)
             = right(lower(trim(c.c_name)), 6)
    )
    SELECT dirty_id, c_custkey AS matched_id,
           CAST(levenshtein(lower(trim(dirty_name)),
                            lower(trim(c_name))) AS BIGINT)
               AS edit_distance
    FROM cand
    WHERE levenshtein(lower(trim(dirty_name)), lower(trim(c_name))) <= 1
"""


def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64 -> 8 dims with seeded literal gaussians —
    dimensionality reduction with zero driver-side fitting (PCA's
    scale-path sibling); a pure narrow codegen projection."""
    from data_pipeline_framework_spark.functions.similarity import (
        random_projection,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = random_projection(emb, out_dim=8, seed=7, dim=64)
    # one scalar column per projected dim (array-free for the harness)
    return out.select(
        "vec_id",
        *[
            _r(F.element_at("proj", i + 1), 6).alias(f"p{i}")
            for i in range(8)
        ],
    )


def _random_projection_oracle(out_dim: int = 8, seed: int = 7,
                              dim: int = 64) -> str:
    from data_pipeline_framework_spark.functions.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(dim, out_dim, seed)
    scale = 1.0 / (out_dim ** 0.5)
    comps = ",\n               ".join(
        "FLOOR(list_dot_product(v, ["
        + ", ".join(repr(float(x)) for x in plane)
        + f"]) * {scale!r} * 1e6 + 0.5) / 1e6 AS p{i}"
        for i, plane in enumerate(planes)
    )
    return f"""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        )
        SELECT vec_id,
               {comps}
        FROM v
    """


def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-iteration PageRank over the supplier->customer trade graph
    (the link-authority ranking used to prioritize crawl domains, here
    on the testdata's trade edges). 4 deterministic rounds, dangling
    mass redistributed in-plan; top 50 by rounded rank."""
    from data_pipeline_framework_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") + 1000000).cast("long").alias("dst"),
    )
    pr = pagerank(edges, iters=4)
    out = pr.select("id", _r(F.col("rank"), 8).alias("rank"))
    return out.orderBy(F.desc("rank"), "id").limit(50)


def pagerank_weighted_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flow-weighted PageRank: parallel supplier->customer edges carry
    shipped quantity, so authority follows trade VOLUME rather than
    link existence (integer-valued weights keep every round exact)."""
    from data_pipeline_framework_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") + 1000000).cast("long").alias("dst"),
        F.col("l_quantity").cast("double").alias("qty"),
    )
    pr = pagerank(edges, iters=4, weight_col="qty")
    out = pr.select("id", _r(F.col("rank"), 8).alias("rank"))
    return out.orderBy(F.desc("rank"), "id").limit(50)


def _pagerank_oracle(iters: int = 4, d: float = 0.85,
                     weighted: bool = False) -> str:
    """DuckDB twin of pagerank_trade_graph / pagerank_weighted_trade:
    the same rounds as chained CTEs — same init, same dangling
    redistribution, same damping; weighted mode aggregates parallel
    edges by quantity and carries rank * w / out_strength.

    Every round CTE is AS MATERIALIZED: each r{t} is referenced twice
    by round t+1 (contribution join + dangling scan), so DuckDB's
    default CTE inlining re-evaluates the whole prefix per reference —
    exponential in iteration count (the weighted oracle cost 303 s of
    pure DuckDB at sf0.01 before this; ~5 s after, same result)."""
    if weighted:
        edges_cte = """edges AS MATERIALIZED (
                SELECT CAST(l_suppkey AS BIGINT) AS src,
                       CAST(o_custkey + 1000000 AS BIGINT) AS dst,
                       SUM(CAST(l_quantity AS DOUBLE)) AS w
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1, 2
            )"""
        deg_cte = "deg AS MATERIALIZED (SELECT src, SUM(w) AS deg FROM edges GROUP BY src)"
        contrib = "SUM((r.rank * e.w) / dg.deg)"
    else:
        edges_cte = """edges AS MATERIALIZED (
                SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                       CAST(o_custkey + 1000000 AS BIGINT) AS dst
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            )"""
        deg_cte = "deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)"
        contrib = "SUM(r.rank / dg.deg)"
    ctes = [edges_cte,
            """nodes AS MATERIALIZED (
                SELECT src AS id FROM edges
                UNION SELECT dst FROM edges
            )""",
            "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)",
            deg_cte,
            """r0 AS (SELECT id, 1.0 / n AS rank
                      FROM nodes CROSS JOIN nn)"""]
    for t in range(1, iters + 1):
        p = f"r{t - 1}"
        ctes.append(f"""c{t} AS MATERIALIZED (
                SELECT e.dst AS id, {contrib} AS s
                FROM edges e
                JOIN {p} r ON e.src = r.id
                JOIN deg dg ON e.src = dg.src
                GROUP BY e.dst
            )""")
        ctes.append(f"""g{t} AS MATERIALIZED (
                SELECT COALESCE(SUM(rank), 0.0) AS dm
                FROM {p} r LEFT JOIN deg dg ON r.id = dg.src
                WHERE dg.src IS NULL
            )""")
        ctes.append(f"""r{t} AS MATERIALIZED (
                SELECT nodes.id,
                       {1.0 - d} / nn.n
                       + {d} * (COALESCE(c.s, 0.0) + g.dm / nn.n) AS rank
                FROM nodes
                CROSS JOIN nn CROSS JOIN g{t} g
                LEFT JOIN c{t} c USING (id)
            )""")
    return (
        "WITH " + ",\n            ".join(ctes) + f"""
        SELECT id, FLOOR(rank * 1e8 + 0.5) / 1e8 AS rank
        FROM r{iters}
        ORDER BY 2 DESC, 1 LIMIT 50
    """)


def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-duplicate pairs that CROSS train/val/test boundaries — the
    contamination-by-duplication QA check run before a split ships
    (a test doc near-duplicating a train doc silently inflates eval).
    Composes the verified MinHash pipeline with the deterministic hash
    split; both stages replay exactly in the oracle."""
    from data_pipeline_framework_spark.functions import dedup as DD
    from data_pipeline_framework_spark.functions.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)
    sp = hash_split(
        docs.select("doc_id"), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    sa = sp.select(F.col("doc_id").alias("id_a"),
                   F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("id_b"),
                   F.col("split").alias("split_b"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b",
                _r(F.col("jaccard"), 4).alias("jaccard"))
    )


def _split_leakage_oracle() -> str:
    return f"""
        WITH {_minhash_cte_body()},
        sp AS (
            SELECT doc_id,
                   CASE WHEN bkt < 800000 THEN 'train'
                        WHEN bkt < 900000 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, {_SPLIT_BUCKET} AS bkt FROM documents)
        )
        SELECT ida AS id_a, idb AS id_b,
               sa.split AS split_a, sb.split AS split_b,
               FLOOR(j * 1e4 + 0.5) / 1e4 AS jaccard
        FROM verified
        JOIN sp sa ON ida = sa.doc_id
        JOIN sp sb ON idb = sb.doc_id
        WHERE j >= 0.7 AND sa.split <> sb.split
    """


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """end-to-end training-corpus filter: keep docs that are (1) English
    by marker-stopword argmax, (2) quality >= 0.68, (3) the canonical
    member of their byte-dup fingerprint group, (4) not a non-canonical
    member of a minhash near-dup cluster. One composed plan over four
    operator families; oracle replays every stage in DuckDB."""
    from data_pipeline_framework_spark.functions import dedup as DD
    from data_pipeline_framework_spark.functions import text as TX

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lang = TX.language_id(docs, "text").select("doc_id", "lang_pred")
    qual = TX.quality_score(docs, "text").select("doc_id", "quality")
    fp = TX.fingerprint(docs, "text")
    canon = fp.withColumn(
        "__c", F.min("doc_id").over(Window.partitionBy("fingerprint"))
    )
    exact_keep = canon.filter(F.col("doc_id") == F.col("__c")).select("doc_id")
    pairs = DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)
    near_drop = (
        DD.connected_components(pairs)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        docs.select("doc_id")
        .join(exact_keep, "doc_id")
        .join(near_drop, "doc_id", "left_anti")
        .join(lang, "doc_id")
        .join(qual, "doc_id")
        .filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.68))
        .select("doc_id", _r(F.col("quality"), 6).alias("quality"))
    )


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash near-dup pairs -> duplicate CLUSTERS via alternating-star
    connected components (component = min reachable doc_id) — the canonical-
    doc-selection step of a dedup pipeline. Oracle: recursive-CTE reachability
    over the same verified pairs."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.7)
    labels = DD.connected_components(pairs)
    w = Window.partitionBy("component")
    return labels.withColumn("cluster_size", F.count(F.lit(1)).over(w))


def duplicate_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-lite: per doc, the fraction of its 10-token windows
    that appear verbatim in at least one OTHER document (within-doc
    repeats excluded). One hash-key shuffle, no pair formation."""
    from data_pipeline_framework_spark.functions.dedup import (
        duplicate_span_stats,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = duplicate_span_stats(docs, "doc_id", "text", n=10)
    return out.select(
        "doc_id", "n_windows", "dup_windows",
        _r(F.col("dup_frac"), 6).alias("dup_frac"),
    ).orderBy("doc_id")


def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact n-gram-Jaccard near-dups via inverted shingle index at 0.5."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = DD.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    return out.select("id_a", "id_b", _r(F.col("jaccard"), 4).alias("jaccard"))


def token_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generic set-similarity join (functions/dedup.py:
    set_similarity_pairs) applied to each doc's distinct token set at
    Jaccard >= 0.75 — the array-column API, not the text pipeline.
    max_df=None here: exact candidate generation so the oracle is an
    exact twin (the df-cut recall bound is pytest-covered); fine at
    gate scale, use the cut on real corpora."""
    from data_pipeline_framework_spark.functions import dedup as DD
    from data_pipeline_framework_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    out = DD.set_similarity_pairs(
        docs, "doc_id", "toks", threshold=0.75, max_df=None
    )
    return out.select(
        "id_a", "id_b", _r(F.col("jaccard"), 4).alias("jaccard")
    )


def simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return DD.simhash_signatures(docs, "doc_id", "text")


# ---------------------------------------------------------------------------
# similarity search (functions/similarity.py)


def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact brute-force cosine top-10 for 5 query vectors. Oracle-checked:
    the DuckDB twin mirrors the dot/norm/divide op order so the raw doubles
    agree to the 6-decimal rounding."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCMatrix-style ratio-margin bitext mining between the id%8==0
    (source) and id%8==1 (target) slices of the embedding table: each
    candidate cosine is normalized by the mean of both endpoints'
    4-NN neighborhoods, and only mutual-best pairs survive. The k-NN
    means fold in rank order on both engines, so the margin doubles
    hash-match at the 6-decimal rounding. method='auto' with
    brute_max=2048 resolves to exact brute top-k at the small gate SFs
    (slices of 3/25/250 vectors) and to the adaptive-cells IVF engine
    from sf1 up (2500-vector slices), so the measured scaling exponent
    covers the probe-limited path a real mining corpus would run. The
    IVF codebook is the SEEDED FIXED one (adaptive cell count), which
    makes the probed path a pure function of the data — the oracle
    replays BOTH engines behind the same size dispatch, so the sf1
    value gate checks the approximate path exactly."""
    from data_pipeline_framework_spark.functions.similarity import (
        adaptive_cells,
        fixed_codebook,
        margin_bitext_mine,
    )

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 8 == 0)
    tgt = emb.filter(F.col("vec_id") % 8 == 1)
    out = margin_bitext_mine(
        src, tgt, k=4, mutual=True, brute_max=2048,
        centers_factory=lambda n: fixed_codebook(
            64, n_cells=adaptive_cells(n), seed=7
        ),
    )
    return out.select(
        "src_id", "tgt_id",
        _r(F.col("cosine"), 6).alias("cosine"),
        _r(F.col("src_knn_avg"), 6).alias("src_knn_avg"),
        _r(F.col("tgt_knn_avg"), 6).alias("tgt_knn_avg"),
        _r(F.col("margin"), 6).alias("margin"),
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-10 (rows-only check; recall vs brute
    force is unit-tested in tests/test_similarity.py)."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.lsh_topk(emb, queries, k=10, dim=64)
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10 over a FIXED seeded codebook: cell
    assignment + nprobe probing + exact cosine rerank are then a pure
    function of the data, so the DuckDB oracle replicates the whole
    pipeline (trained-codebook recall is unit-tested in tests/test_ivf.py)."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = SIM.ivf_topk(
        emb, queries, k=10, n_cells=8, nprobe=4,
        centers=SIM.fixed_codebook(64, n_cells=8, seed=7),
    )
    return out.select(
        "query_id", "vec_id", _r(F.col("cosine"), 6).alias("cosine"), "rank"
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding near-dup pairs (cosine >= 0.35): LSH-block candidates
    then exact rerank, with corpus-adaptive signature width
    (_planes_for) so candidate volume stays linear in corpus size.
    Oracle replays the same planes + block keys via a CASE on count."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    out = SIM.embedding_neardup_pairs(
        emb, threshold=0.35, dim=64, n_planes=_planes_for(sf_dir)
    )
    return out.select("id_a", "id_b", _r(F.col("cosine"), 6).alias("cosine"))


BM25_QUERIES = [
    ("q0", "spark window join"),
    ("q1", "customer merge batch"),
    ("q2", "vector scan hash table"),
]


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-5 documents for three keyword queries. The query
    vocabulary filter lands before the tf shuffle (broadcast semi join),
    so only matched postings shuffle — the 100 TB shape. Oracle replays
    tokenize/tf/df/idf with mirrored op order."""
    from data_pipeline_framework_spark.functions import retrieval as RET

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    queries = spark.createDataFrame(BM25_QUERIES, ["query_id", "query_text"])
    out = RET.bm25_topk(docs, queries, k=5)
    return out.select(
        "query_id", "doc_id", _r(F.col("score"), 4).alias("score"), "rank"
    )


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid similar-document search: BM25 (query = the seed doc's own
    text) and dense cosine (query = the seed doc's embedding) each
    produce a top-30, fused by reciprocal-rank fusion
    (functions/retrieval.py:rrf_fuse). Only ranks enter the fusion, so
    the oracle replays both rankers (proven separately by bm25_search
    and ann_cosine_topk) and the exact 1/(60+rank) sums."""
    from data_pipeline_framework_spark.functions import retrieval as RET
    from data_pipeline_framework_spark.functions import similarity as SIM

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")
    qdocs = docs.filter("doc_id < 3").select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )
    lex = RET.bm25_topk(docs, qdocs, k=30).select(
        "query_id", "doc_id", "rank"
    )
    qvecs = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    den = SIM.cosine_topk(emb, qvecs, k=30).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    fused = RET.rrf_fuse([lex, den], k_rrf=60, topk=10)
    return fused.select(
        "query_id", "doc_id",
        _r(F.col("rrf_score"), 6).alias("rrf_score"),
        "n_systems", "rank",
    )


def keyword_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-3 tf-idf keywords per document (per-term drill-down of
    tfidf_vectors; same MLlib idf smoothing)."""
    from data_pipeline_framework_spark.functions import retrieval as RET

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = RET.keyword_topk(docs, k=3)
    return out.select(
        "doc_id", "term", "tf", _r(F.col("weight"), 6).alias("weight"), "rank"
    )


FUNNEL_STEPS = ["view", "click", "purchase"]
FUNNEL_WITHIN = 86400.0  # 24h per-step conversion window


def funnel_user_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user funnel progress (view -> click -> purchase, each step
    within 24h of the previous): one user-key shuffle + greedy
    earliest-chain fold. Oracle replays the equivalent min-chain
    (t1 = min view; t2 = min click in (t1, t1+24h]; ...)."""
    from data_pipeline_framework_spark.operators import funnels as FN

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    out = FN.funnel_stages(
        ev, FUNNEL_STEPS, within_seconds=FUNNEL_WITHIN
    )
    return out.select(
        "user_id", "stages_completed", "step1_ts", "completed_ts"
    )


def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """step-level funnel summary: users reaching each stage + conversion
    vs step 1 (bounded 3-row result)."""
    from data_pipeline_framework_spark.operators import funnels as FN

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    out = FN.funnel_conversion(
        ev, FUNNEL_STEPS, within_seconds=FUNNEL_WITHIN
    )
    return out.select(
        "step", "step_name", "users", _r(F.col("conversion"), 6).alias("conversion")
    )


def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weekly cohort retention matrix over events: cohort = week of a
    user's first event; per later week, distinct active users and the
    retention share."""
    from data_pipeline_framework_spark.operators import funnels as FN

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    out = FN.cohort_retention(ev, period="week")
    return out.select(
        "cohort", "period_offset", "n_users", "cohort_size",
        _r(F.col("retention"), 6).alias("retention"),
    )


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-order Markov transitions over each user's ordered event
    stream (operators/funnels.py:event_transitions): counts and
    P(next | current) per (from, to) pair — one user-key shuffle, then
    a #types^2-row aggregate. Oracle replays the lead window (ts,
    event_id ordering), the pair counts, and the per-from normalization
    exactly."""
    from data_pipeline_framework_spark.operators import funnels as FN

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    out = FN.event_transitions(ev, tiebreak_col="event_id")
    return out.select(
        "from_type", "to_type", "n", _r(F.col("prob"), 6).alias("prob")
    ).orderBy("from_type", "to_type")


def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """most-common user journeys (operators/funnels.py:top_paths): each
    user's first 4 event types in (ts, event_id) order joined into a
    path string, counted, top-15. Oracle replays the rank cut, the
    ordered string_agg, and the tie-break exactly."""
    from data_pipeline_framework_spark.operators import funnels as FN

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return FN.top_paths(
        ev, tiebreak_col="event_id", max_steps=4, k=15
    ).select("path", "n_users")


def supplier_price_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-group OLS (operators/features.py:grouped_ols): fit extended
    price on quantity per (suppkey mod 25) group from closed-form
    moment sums — one map-side-combinable aggregation, no per-group
    loops. Oracle recomputes slope/intercept/r2 from the same six
    sums."""
    from data_pipeline_framework_spark.operators.features import (
        grouped_ols,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.pmod(F.col("l_suppkey"), F.lit(25)).alias("grp"),
        F.col("l_quantity").cast("double").alias("q"),
        F.col("l_extendedprice").cast("double").alias("ep"),
    )
    out = grouped_ols(li, ["grp"], "q", "ep")
    return out.select(
        "grp", "n",
        _r(F.col("slope"), 4).alias("slope"),
        _r(F.col("intercept"), 4).alias("intercept"),
        _r(F.col("r2"), 6).alias("r2"),
    ).orderBy("grp")


def corpus_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order-invariant dataset fingerprint
    (functions/profiling.py:dataset_fingerprint): 52-bit md5 row hashes
    over sorted string-cast columns XOR-aggregated to one row — any
    engine, partitioning, or row order replays it exactly, which is the
    point (snapshot reproducibility tracking). Oracle recomputes the
    row hashes and the XOR fold from scratch."""
    from data_pipeline_framework_spark.functions.profiling import (
        dataset_fingerprint,
    )

    li = _t(spark, sf_dir, "lineitem")
    return dataset_fingerprint(
        li,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_returnflag", "l_linestatus"],
    )


def semantic_decontamination_flags(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """embedding-space eval decontamination
    (functions/similarity.py:semantic_decontamination): train vectors
    (vec_id >= 40) whose cosine to any broadcast eval vector
    (vec_id < 40) reaches 0.3, with the best-matching eval id. One
    map-side pass, no shuffle; oracle mirrors the dot/norm op order so
    raw doubles agree to the 6-decimal rounding."""
    from data_pipeline_framework_spark.functions.similarity import (
        semantic_decontamination,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_decontamination(
        emb.filter("vec_id >= 40"),
        emb.filter("vec_id < 40"),
        threshold=0.3,
    )
    return out.select(
        "vec_id", "ref_id", _r(F.col("cosine"), 6).alias("cosine")
    ).orderBy("vec_id")


def semantic_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: fixed seeded codebook (same
    cells as ann_ivf_topk), within-cell cosine >= 0.35 against a lower
    id marks a duplicate. Oracle replays assignment + pairing exactly."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    nc = _cells_for(sf_dir)
    out = SIM.semantic_dedup(
        emb, threshold=0.35,
        centers=SIM.fixed_codebook(64, n_cells=nc, seed=7),
        assign="literal" if nc <= 8 else "arrow",
    )
    return out.select("vec_id", "cell", "dup_of", "keep")


def diverse_prototype_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coverage sampling: the 3 most prototypical vectors per codebook
    cell (highest centroid cosine) — every embedding-space region
    contributes representatives instead of the dense core dominating.
    Oracle replays assignment, centroid cosine, and per-cell ranking."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    nc = _cells_for(sf_dir)
    out = SIM.diversity_sample(
        emb, k_per_cell=3,
        centers=SIM.fixed_codebook(64, n_cells=nc, seed=7),
        assign="literal" if nc <= 8 else "arrow",
    )
    return out.select(
        "vec_id", "cell", _r(F.col("proto_cos"), 6).alias("proto_cos"),
        "rank",
    )


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """re-identification audit: equivalence classes over the
    (nation, segment) quasi-identifiers with k=5 anonymity and l=3
    diversity flags on the acctbal-band sensitive attribute. One
    groupBy; result rows bounded by the attribute-domain product."""
    from data_pipeline_framework_spark.functions import privacy as PV

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment",
        F.floor(F.col("c_acctbal").cast("double") / 1000)
        .cast("long").alias("bal_band"),
    )
    out = PV.k_anonymity(
        cust, ["c_nationkey", "c_mktsegment"], k=5,
        sensitive_col="bal_band", l=3,
    )
    return out.select(
        "c_nationkey", "c_mktsegment", "class_size",
        "distinct_sensitive", "meets_k", "meets_l",
    )


def anonymity_risk_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """one-row release gate over the k-anonymity class table: classes
    below k, rows at risk, smallest class, risk fraction."""
    from data_pipeline_framework_spark.functions import privacy as PV

    cust = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    out = PV.anonymity_summary(cust, ["c_nationkey", "c_mktsegment"], k=5)
    return out.select(
        "n_classes", "classes_below_k", "rows_at_risk", "min_class_size",
        _r(F.col("risk_fraction"), 6).alias("risk_fraction"),
    )


# ---------------------------------------------------------------------------
# cleaning (operators/cleaning.py + the `clean` op)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def clean_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`clean` op: trim_strings + standardize_nulls over a synthesized messy
    column (testdata is clean, so mess is planted deterministically)."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    messy = (
        F.when(k % 7 == 0, F.lit(" N/A "))
        .when(k % 11 == 0, F.lit(""))
        .otherwise(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" ")))
    )
    d = cust.select("c_custkey", messy.alias("segment_raw"))
    out = apply_ops(
        d,
        [{"type": "clean", "operations": ["standardize_nulls", "trim_strings"]}],
    )
    return out.select("c_custkey", F.col("segment_raw").alias("segment_clean"))


def phone_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """standardize_phone_numbers: 10-digit, 1-prefixed 11-digit, and
    invalid shapes (reference data_cleaner.py:116-168)."""
    from data_pipeline_framework_spark.operators import cleaning as CL

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    mid = F.lpad(((k * 7) % 1000).cast("string"), 3, "0")
    last = F.lpad((k % 10000).cast("string"), 4, "0")
    raw = (
        F.when(k % 3 == 0, F.concat(F.lit("555-"), mid, F.lit("-"), last))
        .when(k % 3 == 1, F.concat(F.lit("+1 (555) "), mid, F.lit("-"), last))
        .otherwise(F.lit("12345"))
    )
    d = cust.select("c_custkey", raw.alias("phone"))
    return CL.standardize_phone_numbers(d, "phone")


def email_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """validate_emails strategy='fix_common': domain-typo repair then
    validity flag (reference data_cleaner.py:170-228, typo map :266-272)."""
    from data_pipeline_framework_spark.operators import cleaning as CL

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    local = F.lower(F.regexp_replace("c_name", "[^A-Za-z0-9]+", "."))
    domain = (
        F.when(k % 4 == 0, F.lit("gmial.com"))
        .when(k % 4 == 1, F.lit("gmail.com"))
        .when(k % 4 == 2, F.lit("no-tld"))
        .otherwise(F.lit("yahoo.com"))
    )
    d = cust.select(
        "c_custkey", F.concat(local, F.lit("@"), domain).alias("email")
    )
    out = CL.validate_emails(d, "email", strategy="fix_common")
    return out.select("c_custkey", "email", F.col("email_valid").cast("int").alias("email_valid"))


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti join through the op DSL: customers with no URGENT orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter("o_orderpriority = '1-URGENT'").select("o_custkey")
    return apply_ops(
        cust,
        [
            {"type": "join", "right": urgent,
             "condition": "c_custkey = o_custkey", "how": "left_anti"},
            {"type": "select", "columns": ["c_custkey", "c_name", "c_mktsegment"]},
        ],
    )


def ffill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fill_null method='ffill' through the transform op (window fill,
    fully distributed — no driver scalar collect)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts",
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    )
    out = apply_ops(
        ev,
        [
            {"type": "transform", "transformations": [
                {"type": "fill_null", "columns": ["value"], "method": "ffill",
                 "partition_by": ["user_id"], "order_by": ["ts", "event_id"]},
            ]},
        ],
    )
    return out.select("event_id", "user_id", F.round("value", 2).alias("value"))


# ---------------------------------------------------------------------------
# feature engineering (operators/features.py)


def ratio_poly_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`{num}_to_{den}_ratio`, `{a}_x_{b}`/`{a}_plus_{b}`, `{col}_pow_{d}`
    naming (reference feature_engineering.py:344-448, :18-72)."""
    from data_pipeline_framework_spark.operators import features as FE

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_discount",
        "l_extendedprice",
    )
    d = FE.create_ratio_features(li, [("l_extendedprice", "l_quantity")])
    d = FE.create_interaction_features(
        d, ["l_quantity", "l_discount"], ["multiply", "add"]
    )
    d = FE.create_polynomial_features(d, ["l_quantity"], degree=3)
    return d.select(
        "l_orderkey", "l_linenumber",
        _r(F.col("l_extendedprice_to_l_quantity_ratio"), 4).alias(
            "l_extendedprice_to_l_quantity_ratio"),
        F.round("l_quantity_x_l_discount", 4).alias("l_quantity_x_l_discount"),
        F.round("l_quantity_plus_l_discount", 4).alias("l_quantity_plus_l_discount"),
        F.round("l_quantity_pow_2", 2).alias("l_quantity_pow_2"),
        F.round("l_quantity_pow_3", 2).alias("l_quantity_pow_3"),
    )


def binning_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """equal-width `{col}_binned` from one global min/max agg broadcast
    back into the plan (no driver collect)."""
    from data_pipeline_framework_spark.operators import features as FE

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = FE.create_binning_features(orders, "o_totalprice", "uniform", bins=5)
    return out.select(
        "o_orderkey", F.col("o_totalprice_binned").cast("int").alias("bin")
    )


def binning_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile `{col}_binned` via exact percentile edges."""
    from data_pipeline_framework_spark.operators import features as FE

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    out = FE.create_binning_features(orders, "o_totalprice", "quantile", bins=4)
    return out.select(
        "o_orderkey", F.col("o_totalprice_binned").cast("int").alias("bin")
    )


def categorical_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frequency + label + explicit-value onehot encodings
    (reference feature_engineering.py:227-296 naming)."""
    from data_pipeline_framework_spark.operators import features as FE

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = FE.create_categorical_features(cust, "c_mktsegment", "frequency")
    d = FE.create_categorical_features(d, "c_mktsegment", "label")
    d = FE.create_categorical_features(
        d, "c_mktsegment", "onehot", one_hot_values=SEGMENTS
    )
    return d.select(
        "c_custkey", "c_mktsegment", "c_mktsegment_freq", "c_mktsegment_label",
        *[f"c_mktsegment_{v}" for v in SEGMENTS],
    )


def aggregation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """group stats merged back per row via window aggs — no join
    (reference feature_engineering.py:298-342 did groupby+merge).
    Mean re-derived from rounded sum for cross-engine hash stability."""
    from data_pipeline_framework_spark.operators import features as FE

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    out = FE.create_aggregation_features(
        ev, ["user_id"], {"value": ["sum", "count", "min", "max"]}
    )
    return out.select(
        "event_id", "user_id",
        _r(F.round("value_sum_by_user_id", 2) / F.col("value_count_by_user_id"), 4)
        .alias("value_mean_by_user_id"),
        F.round("value_min_by_user_id", 2).alias("value_min_by_user_id"),
        F.round("value_max_by_user_id", 2).alias("value_max_by_user_id"),
        F.col("value_count_by_user_id"),
    )


# ---------------------------------------------------------------------------
# pivot suite extensions


def crosstab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-tabulation counts (reference pivot_operations.py:108-166)."""
    orders = _t(spark, sf_dir, "orders")
    out = apply_ops(
        orders,
        [
            {"type": "pivot", "index": ["o_orderpriority"],
             "columns": "o_orderstatus", "values": ["o_orderkey"],
             "aggfunc": "count", "pivot_values": ["F", "O", "P"],
             "fill_value": 0},
            {"type": "sort", "by": ["o_orderpriority"]},
        ],
    )
    return out


def pivot_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_based_pivot: month-truncated date x status
    (reference pivot_operations.py:389-435)."""
    orders = _t(spark, sf_dir, "orders")
    out = apply_ops(
        orders,
        [
            {"type": "transform", "transformations": [
                {"type": "calculate", "column": "order_month",
                 "expression": "date_trunc('month', o_orderdate)"},
            ]},
            {"type": "pivot", "index": ["order_month"],
             "columns": "o_orderstatus", "values": ["o_totalprice"],
             "aggfunc": "sum", "pivot_values": ["F", "O", "P"]},
            {"type": "sort", "by": ["order_month"]},
        ],
    )
    return out.select(
        "order_month",
        F.round("F", 2).alias("F"),
        F.round("O", 2).alias("O"),
        F.round("P", 2).alias("P"),
    )


# ---------------------------------------------------------------------------
# event-time windows (batch twins of the streaming operators)


def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.tumbling_window(
        ev, "ts", "15 minutes", {"value": ["count", "sum"]},
        group_by=["event_type"],
    )
    return out.select(
        "window_start", "window_end", "event_type",
        "value_count", F.round("value_sum", 2).alias("value_sum"),
    )


def sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.sliding_window(
        ev, "ts", "30 minutes", "15 minutes", {"value": ["count", "sum"]},
    )
    return out.select(
        "window_start", "window_end",
        "value_count", F.round("value_sum", 2).alias("value_sum"),
    )


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events")
    out = TS.session_window(
        ev, "ts", "5 minutes", {"value": ["count"]}, group_by=["user_id"],
    )
    return out.select(
        "window_start", "window_end", "user_id", "value_count",
    )


# ---------------------------------------------------------------------------
# profiling / quality / schema inference (functions/profiling.py)

PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
_PROFILE_FLOAT_METRICS = ["sum", "mean", "stddev", "q25", "median", "q75"]


def profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact single-pass column profiler, long format."""
    from data_pipeline_framework_spark.functions import profiling as PR

    li = _t(spark, sf_dir, "lineitem")
    out = PR.profile_columns(li, PROFILE_COLS, exact=True)
    return out.select(
        "column", "metric",
        F.when(
            F.col("metric").isin(_PROFILE_FLOAT_METRICS), _r(F.col("value"), 3)
        ).otherwise(F.col("value")).alias("value"),
    )


def quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """completeness / uniqueness / validity / outlier-ratio metric rows."""
    from data_pipeline_framework_spark.functions import profiling as PR

    orders = _t(spark, sf_dir, "orders")
    out = PR.quality_metrics(orders, [
        {"metric": "completeness", "column": "o_custkey"},
        {"metric": "uniqueness", "column": "o_orderkey"},
        {"metric": "validity", "column": "o_totalprice",
         "predicate": "o_totalprice > 1000"},
        {"metric": "outlier_ratio", "column": "o_totalprice",
         "method": "iqr", "threshold": 1.5},
    ])
    return out.select("metric", "column", _r(F.col("value"), 6).alias("value"))


def correlations_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairwise Pearson correlation matrix, long format."""
    from data_pipeline_framework_spark.functions import profiling as PR

    li = _t(spark, sf_dir, "lineitem")
    out = PR.correlation_matrix(li, PROFILE_COLS, method="pearson")
    return out.select("col_a", "col_b", _r(F.col("corr"), 4).alias("corr"))


def schema_inference_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema enrichment: types, null fractions, distincts, PK/FK candidacy."""
    from data_pipeline_framework_spark.functions import profiling as PR

    orders = _t(spark, sf_dir, "orders")
    return PR.schema_profile(orders, exact=True)


def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan (reference csv_source.py:20-62): multi-file glob union with
    `_source_file` provenance. Round-trips nation through CSV part-files in
    a tmp dir, reads them back through sources.read_csv (header +
    inferSchema + glob), and checks the content against the parquet oracle
    — proving the reader's schema inference and multi-file union."""
    import os
    import tempfile

    from data_pipeline_framework_spark.sources import readers as R

    nation = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tag = os.path.basename(sf_dir.rstrip("/"))
    tmp = os.path.join(tempfile.gettempdir(), f"dpfs_csv_nation_{tag}")
    nation.repartition(2).write.mode("overwrite").option(
        "header", True
    ).csv(tmp)
    back = R.read_csv(
        spark, f"{tmp}/*.csv", source_file_column=True
    )
    # provenance column must be populated; content must match the source
    return back.filter(F.col("_source_file").isNotNull()).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


def json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL scan (reference json_source.py:21-89): round-trips a region
    projection through line-delimited JSON and reads it back with schema
    inference; content checked against the parquet oracle."""
    import os
    import tempfile

    from data_pipeline_framework_spark.sources import readers as R

    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    tag = os.path.basename(sf_dir.rstrip("/"))
    tmp = os.path.join(tempfile.gettempdir(), f"dpfs_json_region_{tag}")
    region.write.mode("overwrite").json(tmp)
    back = R.read_json(spark, f"{tmp}/*.json")
    return back.select("r_regionkey", "r_name")


def csv_schema_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV schema probe (reference csv_source.py:73-104): round-trips
    region through CSV, probes it with sources.get_schema (inferSchema +
    bounded-sample null counts), and returns one row per column. Pins the
    inferred dtype and exact null counts; the probe's approx distinct
    count is intentionally excluded (HLL is not oracle-stable)."""
    import os
    import tempfile

    from data_pipeline_framework_spark.sources import readers as R

    region = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    tag = os.path.basename(sf_dir.rstrip("/"))
    tmp = os.path.join(tempfile.gettempdir(), f"dpfs_probe_region_{tag}")
    region.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    probe = R.get_schema(spark, f"{tmp}/*.csv", fmt="csv")
    rows = [
        (c["name"], c["dtype"], int(c["null_count"]))
        for c in probe["columns"]
        if not c["name"].startswith("_")  # drop provenance column if any
    ]
    return spark.createDataFrame(
        rows, "col_name string, dtype string, null_count bigint"
    )


def schema_constraints_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """constraint/index enrichment: NOT NULL / UNIQUE / CHECK>=0 candidates,
    cardinality class, index recommendations (reference
    schema_inference.py:321-374), exact distributed aggregation."""
    from data_pipeline_framework_spark.functions import profiling as PR

    orders = _t(spark, sf_dir, "orders")
    out = PR.schema_constraints(orders, exact=True)
    return out.select(
        "column", "dtype", _r(F.col("null_pct"), 6).alias("null_pct"),
        "n_distinct", "cardinality", "not_null_ok", "unique_ok",
        "check_nonneg", "index_reason",
    )


def string_patterns_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic string-pattern detection (email/phone/url/numeric_id
    fractions; reference schema_inference.py:207-232), one agg pass."""
    from data_pipeline_framework_spark.functions import profiling as PR

    cust = _t(spark, sf_dir, "customer")
    out = PR.string_patterns(cust, ["c_name", "c_mktsegment"])
    return out.select(
        "column", "pattern", _r(F.col("match_frac"), 6).alias("match_frac"),
        "detected",
    )


def top_values_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top-k value counts with deterministic tie-break."""
    from data_pipeline_framework_spark.functions import profiling as PR

    orders = _t(spark, sf_dir, "orders")
    return PR.top_values(orders, "o_orderpriority", 3)


# ---------------------------------------------------------------------------
# ML feature engineering (operators/ml_features.py)


def text_feature_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """basic_stats text features with reference column naming."""
    from data_pipeline_framework_spark.operators.ml_features import (
        create_text_features,
    )

    docs = _t(spark, sf_dir, "documents")
    out = create_text_features(docs, ["text"], method="basic_stats")
    return out.select(
        "doc_id", "text_length", "text_word_count", "text_char_count",
        "text_sentence_count",
        _r(F.col("text_avg_word_length"), 4).alias("text_avg_word_length"),
    )


def tfidf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib CountVectorizer+IDF tf-idf, melted to long (doc_id, term,
    tfidf) so the DuckDB oracle can derive the top-8 vocabulary from the
    data (no hardcoded terms) and check every value: tf(doc,t) *
    ln((m+1)/(df+1)), MLlib's IDF formula. The top-8 count boundary in
    this corpus is strict (933 vs 928 at sf0.01), so the vocab SET is
    deterministic even though MLlib's tie order isn't."""
    from data_pipeline_framework_spark.operators.ml_features import (
        create_text_features,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    out = create_text_features(
        docs.select("doc_id", "text"), ["text"], method="tfidf", max_features=8
    )
    terms = sorted(
        c[len("text_tfidf_"):] for c in out.columns
        if c.startswith("text_tfidf_")
    )
    stack = ", ".join(f"'{t}', `text_tfidf_{t}`" for t in terms)
    return (
        out.select(
            "doc_id",
            F.expr(f"stack({len(terms)}, {stack}) AS (term, tfidf)"),
        )
        .select("doc_id", "term", _r(F.col("tfidf"), 4).alias("tfidf"))
        .orderBy("doc_id", "term")
    )


_KMEANS_CENTERS = [
    [10.0, 20000.0, 2.0],
    [25.0, 40000.0, 5.0],
    [40.0, 60000.0, 8.0],
    [15.0, 80000.0, 3.0],
]


def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clustering features via pretrained centroids (the scale path: fit
    on a sample, assign the full table as a pure argmin expression) —
    fully oracle-checked. Features are integer-quantized so the argmin
    is exact IEEE arithmetic in both engines."""
    from data_pipeline_framework_spark.operators.ml_features import (
        create_clustering_features,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("double").alias("q"),
        F.floor("l_extendedprice").cast("double").alias("ep"),
        F.floor(F.col("l_discount") * 100).cast("double").alias("disc"),
    )
    out = create_clustering_features(
        li, ["q", "ep", "disc"], include_distances=True,
        centers=_KMEANS_CENTERS,
    )
    return (
        out.groupBy("cluster_label")
        .agg(F.count(F.lit(1)).alias("n"),
             _r(F.avg("min_cluster_distance"), 4).alias("avg_center_dist"))
        .orderBy(F.desc("n"), "cluster_label")
        .select(F.col("cluster_label").cast("long").alias("cluster_label"),
                "n", "avg_center_dist")
    )


def _kmeans_sizes_oracle() -> str:
    """DuckDB twin of kmeans_cluster_sizes: same quantized features, same
    literal centers, same argmin tie-break (lowest cluster id)."""
    dnames = []
    dexprs = []
    for i, ctr in enumerate(_KMEANS_CENTERS):
        dnames.append(f"d{i}")
        dexprs.append(
            f"((q - {ctr[0]}) * (q - {ctr[0]})"
            f" + (ep - {ctr[1]}) * (ep - {ctr[1]})"
            f" + (disc - {ctr[2]}) * (disc - {ctr[2]})) AS d{i}"
        )
    k = len(_KMEANS_CENTERS)
    whens = []
    for i in range(k - 1):
        cond = " AND ".join(f"d{i} <= d{j}" for j in range(i + 1, k))
        whens.append(f"WHEN {cond} THEN {i}")
    case = "CASE " + " ".join(whens) + f" ELSE {k - 1} END"
    least = "LEAST(" + ", ".join(dnames) + ")"
    return f"""
        WITH pts AS (
            SELECT CAST(l_quantity AS DOUBLE) AS q,
                   CAST(FLOOR(l_extendedprice) AS DOUBLE) AS ep,
                   CAST(FLOOR(l_discount * 100) AS DOUBLE) AS disc
            FROM lineitem
        ), dd AS (
            SELECT {', '.join(dexprs)} FROM pts
        ), scored AS (
            SELECT {case} AS cluster_label, {least} AS mind FROM dd
        )
        SELECT CAST(cluster_label AS BIGINT) AS cluster_label,
               COUNT(*) AS n,
               ROUND(AVG(SQRT(mind)), 4) AS avg_center_dist
        FROM scored
        GROUP BY cluster_label
        ORDER BY n DESC, cluster_label
    """


def _classifier_oracle() -> str:
    """DuckDB twin of classifier_quality_scores: same md5 bucket hash,
    same literal weights (regenerated from the same deterministic
    formula), same left-join empty-doc handling."""
    from data_pipeline_framework_spark.functions.text import (
        classifier_weights,
    )

    w = classifier_weights(64, seed=13)
    vals = ", ".join(f"({i}, {wi!r})" for i, wi in enumerate(w))
    h = "CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)"
    return f"""
        WITH wts(bkt, wt) AS (VALUES {vals}),
        tok AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t <> '')) AS t
            FROM documents
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_tokens, SUM(wt) AS sw
            FROM (SELECT doc_id, {h} % 64 AS bkt FROM tok) b
            JOIN wts USING (bkt)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               FLOOR((0.1 + COALESCE(a.sw / a.n_tokens, 0.0)) * 1e6 + 0.5)
                   / 1e6 AS margin,
               FLOOR(1.0 / (1.0 + exp(-(0.1 + COALESCE(a.sw / a.n_tokens,
                                                       0.0))))
                     * 1e6 + 0.5) / 1e6 AS prob
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _classifier_trained_oracle() -> str:
    """DuckDB twin of classifier_trained_scores: same md5 bucket hash,
    the COMMITTED TRAINED weights as literals (the trainer's dyadic
    grids make the learned weights exactly representable, so the
    weight sum replays bit-for-bit), same left-join empty-doc
    handling, same even-source label derivation."""
    from data_pipeline_framework_spark.functions.text import (
        TRAINED_QUALITY_BIAS,
        TRAINED_QUALITY_WEIGHTS,
    )

    vals = ", ".join(
        f"({i}, {wi!r})" for i, wi in enumerate(TRAINED_QUALITY_WEIGHTS)
    )
    b = repr(TRAINED_QUALITY_BIAS)
    h = "CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)"
    return f"""
        WITH wts(bkt, wt) AS (VALUES {vals}),
        tok AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t <> '')) AS t
            FROM documents
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_tokens, SUM(wt) AS sw
            FROM (SELECT doc_id, {h} % 64 AS bkt FROM tok) x
            JOIN wts USING (bkt)
            GROUP BY doc_id
        )
        SELECT d.doc_id, d.source,
               CAST(CAST(substr(d.source, 4) AS INT) % 2 = 0 AS INT)
                   AS label,
               CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               FLOOR(({b} + COALESCE(a.sw / a.n_tokens, 0.0)) * 1e6 + 0.5)
                   / 1e6 AS margin,
               FLOOR(1.0 / (1.0 + exp(-({b} + COALESCE(a.sw / a.n_tokens,
                                                       0.0))))
                     * 1e6 + 0.5) / 1e6 AS prob
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


def _threshold_sweep_oracle() -> str:
    """DuckDB twin of classifier_threshold_sweep: the classifier oracle's
    raw prob, label = (lang='en'), bucket floor((prob-0)/5e-2) clamped to
    [0,19], cumulative TP / predicted-positive down the 20-row grid."""
    from data_pipeline_framework_spark.functions.text import (
        classifier_weights,
    )

    w = classifier_weights(64, seed=13)
    vals = ", ".join(f"({i}, {wi!r})" for i, wi in enumerate(w))
    h = "CAST(('0x' || substr(md5(t), 1, 13)) AS BIGINT)"
    return f"""
        WITH wts(bkt, wt) AS (VALUES {vals}),
        tok AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t <> '')) AS t
            FROM documents
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_tokens, SUM(wt) AS sw
            FROM (SELECT doc_id, {h} % 64 AS bkt FROM tok) b
            JOIN wts USING (bkt)
            GROUP BY doc_id
        ),
        scored AS (
            SELECT d.doc_id, d.lang,
                   1.0 / (1.0 + exp(-(0.1 + COALESCE(a.sw / a.n_tokens,
                                                     0.0)))) AS prob
            FROM documents d LEFT JOIN agg a USING (doc_id)
        ),
        bkt AS (
            SELECT least(greatest(CAST(floor((prob - 0.0) / 5e-2) AS INT),
                                  0), 19) AS b,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM scored
        ),
        counts AS (SELECT b, SUM(y) AS pos, COUNT(*) AS n
                   FROM bkt GROUP BY b),
        grid AS (SELECT CAST(unnest(range(20)) AS INT) AS b),
        f AS (
            SELECT g.b, COALESCE(pos, 0) AS pos, COALESCE(n, 0) AS n
            FROM grid g LEFT JOIN counts USING (b)
        ),
        swept AS (
            SELECT b,
                   SUM(pos) OVER (ORDER BY b DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS tp,
                   SUM(n) OVER (ORDER BY b DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS pred_pos,
                   SUM(pos) OVER () AS all_pos
            FROM f
        ),
        metrics AS (
            SELECT b, CAST(tp AS BIGINT) AS tp,
                   CAST(pred_pos AS BIGINT) AS pred_pos,
                   CASE WHEN pred_pos > 0
                        THEN CAST(tp AS DOUBLE) / pred_pos END AS p,
                   CASE WHEN all_pos > 0
                        THEN CAST(tp AS DOUBLE) / all_pos END AS r
            FROM swept
        )
        SELECT FLOOR((0.0 + b * 5e-2) * 1e6 + 0.5) / 1e6 AS threshold,
               pred_pos, tp,
               FLOOR(p * 1e6 + 0.5) / 1e6 AS precision,
               FLOOR(r * 1e6 + 0.5) / 1e6 AS recall,
               FLOOR(CASE WHEN p IS NOT NULL AND r IS NOT NULL
                          AND p + r > 0
                          THEN 2.0 * p * r / (p + r) END
                     * 1e6 + 0.5) / 1e6 AS f1
        FROM metrics
    """


_URL_CTE = """
    WITH u AS (
        SELECT doc_id, n_chars,
               CASE doc_id % 7
                   WHEN 0 THEN 'news.example.co.uk'
                   WHEN 1 THEN 'blog.foo.com'
                   WHEN 2 THEN 'example.org'
                   WHEN 3 THEN '192.168.10.4'
                   WHEN 4 THEN 'www.shop.example.com.au'
                   WHEN 5 THEN 'spam.bad-site.net'
                   ELSE 'cdn.assets.bar.io' END AS host,
               CASE doc_id % 7
                   WHEN 0 THEN 'example.co.uk'
                   WHEN 1 THEN 'foo.com'
                   WHEN 2 THEN 'example.org'
                   WHEN 3 THEN '192.168.10.4'
                   WHEN 4 THEN 'example.com.au'
                   WHEN 5 THEN 'bad-site.net'
                   ELSE 'bar.io' END AS registered_domain,
               CASE doc_id % 4
                   WHEN 0 THEN '' WHEN 1 THEN '/a'
                   WHEN 2 THEN '/a/b' ELSE '/a/b/c' END AS path,
               CASE doc_id % 3
                   WHEN 0 THEN '?x=1&y=2' WHEN 1 THEN '?x=1'
                   ELSE '' END AS q,
               CASE WHEN doc_id % 2 = 0
                    THEN 'https' ELSE 'http' END AS scheme
        FROM documents
    )
"""

_URL_FEATURES_ORACLE = (
    _URL_CTE
    + """
    SELECT doc_id,
           scheme || '://' || host || path || q AS url,
           scheme, host, registered_domain,
           CAST(doc_id % 4 AS BIGINT) AS path_depth,
           CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END
                AS BIGINT) AS n_query_params,
           CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_https,
           CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS is_ip_host
    FROM u
"""
)

_DOMAIN_ROLLUP_ORACLE = (
    _URL_CTE
    + """
    SELECT registered_domain,
           count(*) AS n_docs,
           count(DISTINCT host) AS n_hosts,
           FLOOR(avg(n_chars) * 1e4 + 0.5) / 1e4 AS avg_n_chars,
           CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
    FROM u
    WHERE registered_domain NOT IN ('bad-site.net', '192.168.10.4')
    GROUP BY registered_domain
    ORDER BY registered_domain
"""
)

_MARKUP_ORACLE = """
    WITH injected AS (
        SELECT doc_id,
               '<html><body><p>' || text || '</p>'
               || CASE WHEN doc_id % 2 = 0
                       THEN '<script type="x">var a = 1 < 2;</script>'
                       ELSE '<!-- hidden comment -->' END
               || '<b>doc ' || doc_id
               || '</b> Tom &amp; Jerry&nbsp;&lt;3</body></html>' AS text
        FROM documents
    ),
    deblocked AS (
        SELECT doc_id, length(text) AS n_chars_raw,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
                   '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g') AS t
        FROM injected
    ),
    untagged AS (
        SELECT doc_id, n_chars_raw,
               regexp_replace(t, '<[^>]+>', ' ', 'g') AS t
        FROM deblocked
    ),
    decoded AS (
        SELECT doc_id, n_chars_raw,
               replace(replace(replace(replace(replace(replace(replace(
                   t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', chr(39)), '&apos;', chr(39)),
                   '&nbsp;', ' '), '&amp;', '&') AS t
        FROM untagged
    )
    SELECT doc_id,
           trim(regexp_replace(t, '\\s+', ' ', 'g')) AS clean_text,
           CAST(n_chars_raw AS BIGINT) AS n_chars_raw,
           CAST(length(trim(regexp_replace(t, '\\s+', ' ', 'g')))
                AS BIGINT) AS n_chars_clean
    FROM decoded
"""

_EPOCH_SHUFFLE_ORACLE = """
    SELECT doc_id,
           CAST(row_number() OVER (
               ORDER BY md5('shuffle:0:' || doc_id), doc_id) - 1
               AS BIGINT) AS pos_epoch0,
           CAST(row_number() OVER (
               ORDER BY md5('shuffle:1:' || doc_id), doc_id) - 1
               AS BIGINT) AS pos_epoch1
    FROM documents
"""

_BOILERPLATE_ORACLE = """
    WITH injected AS (
        SELECT doc_id,
               text || chr(10) || 'Subscribe to our newsletter' || chr(10)
               || CASE WHEN doc_id % 3 = 0 THEN 'All rights reserved'
                       ELSE 'unique line for doc ' || doc_id END
               || chr(10) || 'ref code ' || (doc_id % 7) AS text
        FROM documents
    ),
    parts AS (
        SELECT doc_id, string_split(text, chr(10)) AS ls FROM injected
    ),
    lines AS (
        SELECT doc_id,
               unnest(ls) AS line,
               unnest(range(1, len(ls) + 1)) AS pos
        FROM parts
    ),
    keys AS (
        SELECT doc_id, pos, line, lower(trim(line)) AS key FROM lines
    ),
    hot AS (
        SELECT key FROM keys
        WHERE length(key) >= 5
        GROUP BY key
        HAVING count(DISTINCT doc_id) >= 20
    ),
    kept AS (
        SELECT k.doc_id, k.pos, k.line
        FROM keys k LEFT JOIN hot h ON k.key = h.key
        WHERE h.key IS NULL
    ),
    reb AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(line, chr(10) ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT p.doc_id,
           coalesce(r.clean_text, '') AS clean_text,
           CAST(len(p.ls) AS BIGINT) AS n_lines,
           CAST(len(p.ls) - coalesce(r.n_kept, 0) AS BIGINT)
               AS n_lines_removed
    FROM parts p LEFT JOIN reb r USING (doc_id)
"""

_CHUNKS_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS tk
        FROM documents
    ),
    n AS (
        SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
    ),
    c AS (
        SELECT doc_id, tk,
               unnest(range(0, CASE WHEN n <= 32 THEN 1
                                    ELSE CAST(CEIL((n - 32) / 24.0)
                                              AS BIGINT) + 1 END)) AS cid
        FROM n
    )
    SELECT doc_id,
           CAST(cid AS BIGINT) AS chunk_id,
           CAST(len(tk[cid * 24 + 1 : cid * 24 + 32]) AS BIGINT)
               AS n_tokens,
           array_to_string(tk[cid * 24 + 1 : cid * 24 + 32], ' ')
               AS chunk_text
    FROM c
"""


_PCA_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _pca_basis() -> list[tuple[float, list[float]]]:
    """Offline-fit PCA basis (numpy eigh of the scaled covariance of the
    sf0.01 reference sample), shared verbatim by the Spark query and the
    oracle — the fit-on-sample / apply-at-scale pattern, which also
    makes the query SF-agnostic (MLlib's own PCA fit stays covered by
    tests/test_ml_features.py)."""
    import duckdb as _dd

    con = _dd.connect()
    X = con.sql(
        f"SELECT {', '.join(_PCA_COLS)} "
        "FROM '/root/testdata/sf0.01/lineitem.parquet'"
    ).df().to_numpy(dtype=float)
    con.close()
    mean = X.mean(axis=0)
    std = X.std(axis=0, ddof=1)
    Z = (X - mean) / std
    w, v = np.linalg.eigh(np.cov(Z, rowvar=False, ddof=1))
    order = np.argsort(w)[::-1]
    v = v[:, order]
    out = []
    for k in range(2):
        coef = [float(c) for c in (v[:, k] / std)]
        const = -float(np.dot(v[:, k], mean / std))
        out.append((const, coef))
    return out


def pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply an offline-fit scaled-PCA basis per row (pure codegen
    projection; abs() removes the eigenvector sign ambiguity). The
    basis literals are shared with the oracle, so the check is exact at
    any SF; MLlib's own PCA fit is pytest-covered."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", *_PCA_COLS
    )
    basis = _pca_basis()

    def proj(k: int):
        const, coef = basis[k]
        expr = F.lit(const)
        for j, c in enumerate(_PCA_COLS):
            expr = expr + F.lit(coef[j]) * F.col(c)
        return _r(F.abs(expr), 3)

    return li.select(
        "l_orderkey", "l_linenumber",
        proj(0).alias("abs_pc1"),
        proj(1).alias("abs_pc2"),
    )


# ---------------------------------------------------------------------------
# pivot variants (operators/pivot_ops.py)


def pivot_margins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot_table with margins from one cube pass."""
    from data_pipeline_framework_spark.operators import pivot_ops as P

    orders = _t(spark, sf_dir, "orders")
    out = P.pivot_table(
        orders, values="o_totalprice", index="o_orderpriority",
        columns="o_orderstatus", aggfunc="sum", margins=True,
        fill_value=0.0, pivot_values=["F", "O", "P"],
    )
    return out.select(
        "o_orderpriority",
        *[_r(F.col(c), 2).alias(c) for c in ["F", "O", "P", "All"]],
    )


def pivot_subtotals_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot_with_subtotals: Subtotal rows per lang + Grand Total."""
    from data_pipeline_framework_spark.operators import pivot_ops as P

    docs = _t(spark, sf_dir, "documents").withColumn(
        "len_bucket",
        F.when(F.col("n_chars") < 500, "short").otherwise("long"),
    )
    out = P.pivot_with_subtotals(
        docs, index=["lang", "source"], columns="len_bucket",
        values="n_chars", aggfunc="sum", pivot_values=["short", "long"],
    )
    return out.select(
        "lang", "source",
        F.col("short").cast("bigint").alias("short"),
        F.col("long").cast("bigint").alias("long"),
    )


def time_pivot_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_based_pivot: quarter buckets x event_type."""
    from data_pipeline_framework_spark.operators import pivot_ops as P

    ev = _t(spark, sf_dir, "events")
    out = P.time_based_pivot(
        ev, "ts", "event_type", "value", period="Q", aggfunc="sum",
        pivot_values=["click", "error", "purchase", "signup", "view"],
    )
    return out.select(
        "period",
        *[_r(F.col(c), 2).alias(c)
          for c in ["click", "error", "purchase", "signup", "view"]],
    )


def crosstab_norm_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross_tab normalized by row (index) totals."""
    from data_pipeline_framework_spark.operators import pivot_ops as P

    orders = _t(spark, sf_dir, "orders")
    out = P.cross_tab(
        orders, "o_orderpriority", "o_orderstatus", normalize="index",
        pivot_values=["F", "O", "P"],
    )
    return out.select(
        "o_orderpriority",
        *[_r(F.col(c), 6).alias(c) for c in ["F", "O", "P"]],
    )


def pivot_stats_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot_summary_stats: mean+count cells per linestatus."""
    from data_pipeline_framework_spark.operators import pivot_ops as P

    li = _t(spark, sf_dir, "lineitem")
    out = P.pivot_summary_stats(
        li, index="l_returnflag", columns="l_linestatus",
        values="l_quantity", stats=["mean", "count"],
        pivot_values=["F", "O"],
    )
    return out.select(
        "l_returnflag",
        _r(F.col("F_mean"), 4).alias("F_mean"),
        F.col("F_count"),
        _r(F.col("O_mean"), 4).alias("O_mean"),
        F.col("O_count"),
    )


# ---------------------------------------------------------------------------
# seasonal decomposition / savgol (operators/timeseries.py numpy kernels)


def _daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.sum("value").alias("v"))
    )


def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classic additive decomposition, period 7, per event_type."""
    from data_pipeline_framework_spark.operators.timeseries import (
        seasonal_decompose,
    )

    daily = _daily_events(spark, sf_dir)
    out = seasonal_decompose(
        daily, "day", "v", model="additive", period=7,
        group_by=["event_type"],
    )
    return out.select(
        "event_type", "day",
        _r(F.col("v"), 2).alias("v"),
        _r(F.col("v_trend"), 4).alias("trend"),
        _r(F.col("v_seasonal"), 4).alias("seasonal"),
        _r(F.col("v_residual"), 4).alias("residual"),
    )


def savgol_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay(7, 2) smoothing; interior rows (edge rows use the
    polynomial-extrapolation mode, oracled separately as non-SQL)."""
    from data_pipeline_framework_spark.operators.timeseries import smooth

    daily = _daily_events(spark, sf_dir)
    sm = smooth(daily, "v", method="savgol", window=7, ts_col="day",
                group_by=["event_type"])
    w = Window.partitionBy("event_type").orderBy("day")
    ranked = sm.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("event_type"))
    )
    return (
        ranked.filter((F.col("__rn") >= 4) & (F.col("__rn") <= F.col("__n") - 3))
        .select(
            "event_type", "day",
            _r(F.col("v"), 2).alias("v"),
            _r(F.col("v_smoothed"), 4).alias("v_smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# multimodal (operators/multimodal.py)


def media_waveform_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary media round-trip: embeddings packed as npy waveform blobs,
    decoded in mapInPandas, audio features extracted. The oracle computes
    the same features directly on the float list — proving the binary
    pack/decode plumbing is lossless."""
    from data_pipeline_framework_spark.operators.multimodal import (
        audio_features,
        encode_npy,
    )

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: encode_npy(np.asarray(v, dtype=np.float32))
        )

    emb = _t(spark, sf_dir, "embeddings")
    blobs = emb.select(
        "vec_id", pack("embedding").alias("content"), F.lit("npy").alias("format")
    )
    out = audio_features(blobs)
    return out.select(
        "vec_id", "n_samples",
        _r(F.col("rms"), 6).alias("rms"),
        "zero_crossings",
    )


def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup: embeddings packed as npy waveforms, the
    distributed energy-delta fingerprint kernel
    (operators/multimodal.py:audio_fingerprints) hashes the decoded
    samples, Hamming<=2 pairs come from the banded bucket join, and the
    keep-list drops every clip with a smaller-id near-dup. Oracle
    replays frame energies and the 31 delta bits from the floats —
    proving the pack->decode->fingerprint loop bit-exact."""
    from data_pipeline_framework_spark.functions.dedup import (
        hamming_hash_pairs,
    )
    from data_pipeline_framework_spark.operators.multimodal import (
        audio_fingerprints,
        encode_npy,
    )

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: encode_npy(np.asarray(v, dtype=np.float32))
        )

    emb = _t(spark, sf_dir, "embeddings")
    blobs = emb.select(
        "vec_id", pack("embedding").alias("content"),
        F.lit("npy").alias("format"),
    )
    sig = audio_fingerprints(blobs, n_frames=32).select(
        "vec_id", "afp"
    ).persist()
    pairs = hamming_hash_pairs(
        sig, "vec_id", "afp", bits=31, max_hamming=2, n_blocks=3
    )
    dup_ids = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        sig.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id", "afp")
        .orderBy("vec_id")
    )


def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image pipeline round-trip with a REAL codec: each embedding is
    quantized to an 8x8 uint8 grayscale image, compressed to actual PNG
    bytes (operators/multimodal.py: stdlib-zlib encoder), decoded back by
    the pure-numpy PNG decoder inside the distributed image_stats kernel.
    The oracle recomputes the quantized pixel mean straight from the
    floats — matching proves the PNG encode->decode loop is lossless."""
    from data_pipeline_framework_spark.operators.multimodal import (
        encode_png,
        image_stats,
    )

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        def go(v):
            q = np.clip(
                np.floor((np.asarray(v, dtype=np.float64) + 1.0) * 127.5), 0, 255
            ).astype(np.uint8)
            return encode_png(q.reshape(8, 8))

        return s.map(go)

    emb = _t(spark, sf_dir, "embeddings")
    blobs = emb.select(
        "vec_id", pack("embedding").alias("content"), F.lit("png").alias("format")
    )
    return image_stats(blobs).select(
        "vec_id", "height", "width", "channels",
        _r(F.col("mean_intensity"), 6).alias("mean_q"),
    )


def media_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG pipeline round-trip with the library-free baseline codec
    (operators/jpeg.py): each embedding's first component quantizes to a
    gray level, is encoded as a REAL baseline JPEG (FDCT + Huffman), and
    decoded back inside the distributed image_stats kernel. Constant
    8x8 blocks survive quantize->DCT->dequantize EXACTLY at quality=100,
    so the oracle predicts the decoded mean from the floats alone —
    matching proves the whole marker/Huffman/DCT loop, distributed."""
    from data_pipeline_framework_spark.operators.jpeg import encode_jpeg
    from data_pipeline_framework_spark.operators.multimodal import (
        image_stats,
    )

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        def go(v):
            lvl = int(np.clip(
                np.floor((float(v[0]) + 1.0) * 127.5), 0, 255
            ))
            return encode_jpeg(
                np.full((8, 8), lvl, dtype=np.uint8), quality=100
            )

        return s.map(go)

    emb = _t(spark, sf_dir, "embeddings")
    blobs = emb.select(
        "vec_id", pack("embedding").alias("content"),
        F.lit("jpeg").alias("format"),
    )
    return image_stats(blobs).select(
        "vec_id", "height", "width", "channels",
        _r(F.col("mean_intensity"), 6).alias("mean_q"),
    )


def image_dhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup: embeddings quantize to REAL 8x8 PNGs, the
    distributed dHash kernel (operators/multimodal.py:dhash_images)
    decodes them back, box-resizes to the fixed 7x9 grid with integer
    area weights and fingerprints adjacent-cell gradients; pairs
    within Hamming<=3 come from the banded-bucket equi-join
    (functions/dedup.py:hamming_hash_pairs — never all-pairs); the
    keep-list drops every image with a smaller-id near-dup. The oracle
    replays the hash from the floats alone (quantization is
    deterministic), so a match proves the PNG encode->decode->hash loop
    bit-exactly, distributed."""
    from data_pipeline_framework_spark.functions.dedup import (
        hamming_hash_pairs,
    )
    from data_pipeline_framework_spark.operators.multimodal import (
        dhash_images,
        encode_png,
    )

    @F.pandas_udf("binary")
    def pack(s: pd.Series) -> pd.Series:
        def go(v):
            q = np.clip(
                np.floor((np.asarray(v, dtype=np.float64) + 1.0) * 127.5),
                0, 255,
            ).astype(np.uint8)
            return encode_png(q.reshape(8, 8))

        return s.map(go)

    emb = _t(spark, sf_dir, "embeddings")
    blobs = emb.select(
        "vec_id", pack("embedding").alias("content"),
        F.lit("png").alias("format"),
    )
    sig = dhash_images(blobs).select("vec_id", "dhash").persist()
    pairs = hamming_hash_pairs(
        sig, "vec_id", "dhash", bits=56, max_hamming=3, n_blocks=4
    )
    dup_ids = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    out = (
        sig.join(dup_ids, "vec_id", "left_anti")
        .select("vec_id", "dhash")
        .orderBy("vec_id")
    )
    return out


# ---------------------------------------------------------------------------
# as-of / range joins (operators/joins.py)


def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """each purchase matched to the user's latest click at-or-before it
    (single window pass, no join explosion); DuckDB twin uses ASOF JOIN."""
    from data_pipeline_framework_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("value").alias("click_value")
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"])
    return out.select(
        "user_id", "ts",
        _r(F.col("purchase_value"), 2).alias("purchase_value"),
        _r(F.col("click_value"), 2).alias("click_value"),
        F.col("ts_right").alias("click_ts"),
    )


def range_join_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customers bucketed into overlapping balance intervals via the
    bucketed range join (equi on bucket, never nested-loop)."""
    from data_pipeline_framework_spark.operators.joins import range_join

    customer = _t(spark, sf_dir, "customer")
    intervals = spark.createDataFrame(
        [(i, i * 500.0, i * 500.0 + 750.0) for i in range(20)],
        "iid long, lo double, hi double",
    )
    out = range_join(
        customer.select("c_custkey", F.col("c_acctbal").cast("double")),
        intervals, point="c_acctbal", lower="lo", upper="hi",
        bucket_width=500.0,
    )
    return out.select(
        "c_custkey", _r(F.col("c_acctbal"), 2).alias("c_acctbal"), "iid"
    )


def mode_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fix_missing_values with method=mode: nulls injected on a tenth of
    rows are filled with the most frequent value (computed in one agg)."""
    from data_pipeline_framework_spark.operators.cleaning import (
        fix_missing_values,
    )

    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_orderpriority",
        F.when(F.col("o_orderkey") % 10 == 0, None)
        .otherwise(F.col("o_orderpriority")),
    )
    out = fix_missing_values(
        orders, {"o_orderpriority": {"method": "mode"}}
    )
    return out.select("o_orderkey", "o_orderpriority")


def dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deduplicate keep='last' via the descending row_number trick."""
    li = _t(spark, sf_dir, "lineitem")
    out = apply_ops(li, [
        # synthetic lineitem repeats (orderkey, linenumber); the full
        # order_by makes keep='last' deterministic across engines
        {"type": "deduplicate", "subset": ["l_orderkey"], "keep": "last",
         "order_by": ["l_linenumber", "l_partkey", "l_suppkey"]},
    ])
    return out.select("l_orderkey", "l_linenumber",
                      _r(F.col("l_quantity"), 2).alias("l_quantity"))


# ---------------------------------------------------------------------------
# headline analytical joins + remaining feature/outlier coverage


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: selective filter + global product-sum, via the DSL.
    The three predicates reach the parquet scan as PushedFilters."""
    li = _t(spark, sf_dir, "lineitem")
    out = apply_ops(li, [
        {"type": "filter", "filters": [
            {"column": "l_shipdate", "operator": ">=", "value": "1996-01-01"},
            {"column": "l_shipdate", "operator": "<", "value": "1997-01-01"},
            {"column": "l_discount", "operator": ">=", "value": 0.04},
            {"column": "l_discount", "operator": "<=", "value": 0.06},
            {"column": "l_quantity", "operator": "<", "value": 24},
        ]},
        {"type": "transform", "transformations": [
            {"type": "calculate", "column": "disc_revenue",
             "expression": "l_extendedprice * l_discount"},
        ]},
        {"type": "aggregate", "aggregations": {"disc_revenue": ["sum"]}},
    ])
    return out.select(F.round("disc_revenue_sum", 2).alias("revenue"))


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS-correlated subquery as a THETA semi join
    (condition `o_orderkey = l_orderkey AND l_shipdate > o_orderdate`),
    priority counts for one quarter. The driver schema has no
    l_commitdate/l_receiptdate, so the late-line predicate is
    shipped-after-order-date. Catalyst executes the equi part hashed with
    the inequality as a post-filter — no BNL explosion."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    out = apply_ops(orders, [
        {"type": "filter", "filters": [
            {"column": "o_orderdate", "operator": ">=", "value": "1996-01-01"},
            {"column": "o_orderdate", "operator": "<", "value": "1996-04-01"},
        ]},
        {"type": "join", "right": li, "how": "left_semi",
         "condition": "o_orderkey = l_orderkey AND l_shipdate > o_orderdate"},
        {"type": "aggregate", "group_by": ["o_orderpriority"],
         "aggregations": {"o_orderkey": ["count"]}},
        {"type": "sort", "by": ["o_orderpriority"]},
    ])
    return out


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one ship month; part side
    broadcast, conditional sum over the joined fact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        "l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    )
    out = joined.agg(
        (
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev)
        ).alias("__pct")
    )
    return out.select(_r(F.col("__pct"), 4).alias("promo_revenue_pct"))


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: 4-table join (nation broadcast), returned-item
    revenue per customer, deterministic top-20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    out = apply_ops(cust, [
        {"type": "join", "right": orders, "how": "inner",
         "left_on": ["c_custkey"], "right_on": ["o_custkey"]},
        {"type": "filter",
         "condition": "o_orderdate >= TIMESTAMP '1996-01-01' "
                      "AND o_orderdate < TIMESTAMP '1996-04-01'"},
        {"type": "join", "right": li, "how": "inner",
         "left_on": ["o_orderkey"], "right_on": ["l_orderkey"]},
        {"type": "filter", "filters": [
            {"column": "l_returnflag", "operator": "==", "value": "R"}]},
        {"type": "join", "right": nation, "how": "inner", "broadcast": True,
         "left_on": ["c_nationkey"], "right_on": ["n_nationkey"]},
        {"type": "transform", "transformations": [
            {"type": "calculate", "column": "rev",
             "expression": "l_extendedprice * (1 - l_discount)"}]},
        {"type": "aggregate",
         "group_by": ["c_custkey", "c_name", "n_name"],
         "aggregations": {"rev": ["sum"]}},
    ])
    out = out.select(
        "c_custkey", "c_name", "n_name",
        _r(F.col("rev_sum"), 2).alias("revenue"),
    )
    return out.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


def q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a big agg, then join back to orders —
    the agg side shrinks first, so AQE broadcasts it into the join."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    out = orders.join(big, orders.o_orderkey == big.l_orderkey, "inner")
    return out.select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.round("total_qty", 2).alias("total_qty"),
    )


def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skew-safe salted equi join + two-stage salted aggregation: lineitem
    joins orders with hot keys spread across salted tasks, then per-
    priority revenue merges from salted partials. The oracle is the PLAIN
    join+agg — salting must be invisible in the result."""
    from data_pipeline_framework_spark.operators.skew import (
        salted_join,
        two_stage_agg,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, on="l_orderkey", how="inner")
    out = two_stage_agg(
        joined, "o_orderpriority", {"rev": ["sum", "count", "avg"]}
    )
    return out.select(
        "o_orderpriority",
        _r(F.col("rev_sum"), 2).alias("rev_sum"),
        F.col("rev_count").cast("long").alias("n_items"),
        _r(F.col("rev_avg"), 4).alias("rev_avg"),
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue flow between two nation pairs through a
    4-way join; both nation lookups broadcast (tiny dims)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    out = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("o_orderdate").alias("l_year"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev")
        )
    )
    return out.select(
        "supp_nation", "cust_nation", "l_year",
        _r(F.col("__rev"), 2).alias("revenue"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp table in the testdata, so the
    part-supplier link and supply cost derive from lineitem:
    supplycost = min unit price ever charged): for size-15 parts and
    EUROPE suppliers, the supplier(s) achieving the minimum supply cost
    per part — the correlated-min subquery replayed as a window over
    the joined result. Dims broadcast; the only wide shuffle is the
    (part,supp) pre-aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity"))
        .alias("supplycost")
    )
    j = (
        ps.join(F.broadcast(part.filter(F.col("p_size") == 15)),
                ps.l_partkey == F.col("p_partkey"))
        .join(supp, ps.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
    )
    w = Window.partitionBy("p_partkey")
    return (
        j.withColumn("__mn", F.min("supplycost").over(w))
        .filter(F.col("supplycost") == F.col("__mn"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "supplycost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of ASIA-customer PROMO-part revenue
    per order year — conditional-sum ratio over a 6-way join, all dims
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_regionkey").alias("c_rk"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(part.filter(F.col("p_type") == "PROMO")),
                li.l_partkey == F.col("p_partkey"))
        .join(orders.filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1998-01-01")),
            li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region.filter(F.col("r_name") == "ASIA")),
              F.col("c_rk") == F.col("r_regionkey"))
        .join(supp, li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
    )
    out = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_3", rev)
              .otherwise(F.lit(0.0))).alias("__n"),
        F.sum(rev).alias("__d"),
    )
    return out.select(
        "o_year", _r(F.col("__n") / F.col("__d"), 6).alias("mkt_share")
    ).orderBy("o_year")


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (lineitem stands in for partsupp): per-part
    revenue from NATION_1 suppliers, keeping parts above 2x the mean
    part value (scale-free, so non-vacuous at any SF) — the
    HAVING-vs-global-scalar pattern as one broadcast of a 1-row
    aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(supp, li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_1")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("l_partkey"), rev.alias("__rev"))
    )
    val = base.groupBy("l_partkey").agg(F.sum("__rev").alias("__value"))
    total = val.agg(F.avg("__value").alias("__mean"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("__value") > F.col("__mean") * 2.0)
        .select(F.col("l_partkey").alias("p_partkey"),
                _r(F.col("__value"), 2).alias("value"))
        .orderBy(F.desc("value"), "p_partkey")
    )


def q12_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no l_shipmode/commitdate in the testdata:
    lateness = shipped >90 days after order, classes keyed by
    l_returnflag): per class, counts of high- vs low-priority orders
    among late lines."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(late)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long")
            .alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested-IN chain replayed as aggregation + semi
    joins): NATION_2 suppliers who shipped over 100 units of SMALL-type
    parts during 1996."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01"))
        .join(F.broadcast(part.filter(F.col("p_type") == "SMALL")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
    )
    return (
        shipped.join(supp, shipped.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_2")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", _r(F.col("qty"), 2).alias("qty"))
        .orderBy("s_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (no receipt/commit dates: late = shipped >60
    days after order): NATION_0 suppliers who were the SOLE late
    supplier on a multi-supplier order. The classic
    EXISTS/NOT-EXISTS double self-join replayed as one per-(order,supp)
    aggregation + one per-order aggregation — two shuffles total
    instead of three lineitem self-joins."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    ls = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(F.when(late, 1).otherwise(0)).alias("is_late"))
    )
    # per-order counts as a WINDOW over ls instead of a groupBy + self
    # join: the join form planned the whole ls subtree (lineitem ⋈
    # orders + its aggregation) TWICE — event-log attribution showed
    # the two ~0.9 s shuffle-map jobs running side by side — while the
    # window reuses the single ls stream through one exchange on
    # l_orderkey. count()/sum() over the unbounded order partition are
    # exactly per_order's n_supp/n_late (same rows, same integer
    # arithmetic), so the filter keeps identical candidates; partitions
    # are bounded by lines-per-order (~7), skew-free at any scale.
    w_ord = Window.partitionBy("l_orderkey")
    cand = (
        ls.withColumn("n_supp", F.count(F.lit(1)).over(w_ord))
        .withColumn("n_late", F.sum("is_late").over(w_ord))
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)
                & (F.col("is_late") == 1))
    )
    return (
        cand.join(supp, cand.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.filter(F.col("n_name") == "NATION_0")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(50)
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp in the testdata, so profit =
    discounted revenue): profit by supplier nation and order year for
    parts whose name carries a token — a 4-way join with a LIKE filter
    and a two-level rollup key."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    out = (
        li.join(F.broadcast(part.filter(F.col("p_name").contains("bolt"))),
                li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        # money sums to a fixed 2-decimal rounding go through DECIMAL:
        # prices/discounts are 2-decimal values, so the per-row term is
        # exact in decimal(38,4) and the SUM is exact integer
        # arithmetic — order-independent, so Spark's partial-agg order
        # and DuckDB's scan order cannot straddle the rounding boundary
        # (a double sum did, once in 175 groups, at the sf0.1 gate)
        .agg(F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1).cast("decimal(18,2)")
               - F.col("l_discount").cast("decimal(18,2)"))
        ).alias("__p"))
    )
    return out.select(
        "nation", "o_year",
        _r(F.col("__p").cast("double"), 2).alias("profit"),
    )


def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp derived from lineitem's part-supplier
    pairs): distinct supplier count per brand/type/size bucket, excluding
    one brand — a distinct-count over a joined dimension."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf_dir, "part")
    out = (
        li.join(
            F.broadcast(
                part.filter(
                    (F.col("p_brand") != "Brand#45")
                    & (F.col("p_size") <= 15)
                )
            ),
            li.l_partkey == part.p_partkey,
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )
    return out.select("p_brand", "p_type", "p_size", "supplier_cnt")


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    predicate bundles — the disjunctive-pushdown stress case (Catalyst
    must keep the join equi and push the residual OR below it)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & (F.col("p_size").between(1, 5))
         & (F.col("l_quantity").between(1, 11)))
        | ((F.col("p_brand") == "Brand#23") & (F.col("p_size").between(1, 10))
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#34") & (F.col("p_size").between(1, 15))
           & (F.col("l_quantity").between(20, 30)))
    )
    out = j.filter(cond).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__r"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return out.select(
        _r(F.coalesce(F.col("__r"), F.lit(0.0)), 2).alias("revenue"), "n_items"
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join then a distribution-of-counts
    double aggregation — zero-order customers must survive as c_count=0."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier revenue agg, then keep the max-revenue
    row(s) via a broadcast 1-row max — the scalar-subquery pattern."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(F.col("l_shipdate") >= F.lit("1996-01-01"))
        .filter(F.col("l_shipdate") < F.lit("1997-01-01"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev"))
    )
    mx = revenue.agg(F.max("total_rev").alias("__mx"))
    out = (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
    )
    return out.select(
        "s_suppkey", "s_name", _r(F.col("total_rev"), 2).alias("total_rev")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-part average quantity as a correlated
    threshold (computed once, joined back — never a per-row subquery),
    then the brand's below-threshold revenue. Quantities are integral
    doubles, so the distributed avg is bit-exact and the strict `<`
    matches any engine."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    thresh = li.groupBy(F.col("l_partkey").alias("t_pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("__qlim")
    )
    out = (
        li.join(F.broadcast(part.filter(F.col("p_brand") == "Brand#23")),
                li.l_partkey == F.col("p_partkey"))
        .join(thresh, li.l_partkey == F.col("t_pk"))
        .filter(F.col("l_quantity") < F.col("__qlim"))
        .agg((F.sum("l_extendedprice") / 7.0).alias("__ay"))
    )
    return out.select(_r(F.coalesce(F.col("__ay"), F.lit(0.0)), 2).alias("avg_yearly"))


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balances (broadcast scalar) with no
    RECENT orders (anti join on a filtered right side), aggregated per
    segment. The recency filter keeps the result non-empty — every
    above-average customer holds at least one all-time order here."""
    cust = _t(spark, sf_dir, "customer")
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg")
    )
    out = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("c_acctbal").alias("__tot"),
        )
    )
    return out.select(
        "c_mktsegment", "numcust", _r(F.col("__tot"), 2).alias("totacctbal")
    )


def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-semi join through the DSL: customers holding >=1 urgent order.
    Semi joins never duplicate the left side — no post-dedup needed."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    out = apply_ops(cust, [
        {"type": "join", "right": urgent, "how": "left_semi",
         "left_on": ["c_custkey"], "right_on": ["o_custkey"]},
    ])
    return out.select("c_custkey", "c_name",
                      F.round("c_acctbal", 2).alias("c_acctbal"))


def interaction_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairwise multiply/subtract interaction features
    (reference feature_engineering.py:394-448)."""
    from data_pipeline_framework_spark.operators.features import (
        create_interaction_features,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount",
    )
    out = create_interaction_features(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        operations=["multiply", "subtract"],
    )
    return out.select(
        "l_orderkey", "l_linenumber",
        _r(F.col("l_quantity_x_l_extendedprice"), 4).alias("qty_x_price"),
        _r(F.col("l_quantity_x_l_discount"), 4).alias("qty_x_disc"),
        _r(F.col("l_extendedprice_x_l_discount"), 4).alias("price_x_disc"),
        _r(F.col("l_quantity_minus_l_extendedprice"), 4).alias("qty_minus_price"),
        _r(F.col("l_quantity_minus_l_discount"), 4).alias("qty_minus_disc"),
        _r(F.col("l_extendedprice_minus_l_discount"), 4).alias("price_minus_disc"),
    )


def outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """global z-score outlier flags: one scalar agg broadcast back, same
    shape as outliers_iqr (reference time_series.py:193-204)."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out = TS.detect_outliers(ev, "value", method="zscore", threshold=3.0)
    return out.select("event_id", F.col("value_is_outlier").alias("is_outlier"))


def outliers_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trailing-20-row z-score per user (reference time_series.py:206-224).
    The order key is a (ts, event_id) struct so window frames are
    deterministic under timestamp ties."""
    from data_pipeline_framework_spark.operators import timeseries as TS

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value",
        F.struct("ts", "event_id").alias("__ord"),
    )
    out = TS.detect_outliers(
        ev, "value", method="rolling_zscore", threshold=2.5,
        ts_col="__ord", window=20, group_by=["user_id"],
    )
    return out.select("event_id", "user_id",
                      F.col("value_is_outlier").alias("is_outlier"))


def parse_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_json_field + flatten_nested (reference stream record transforms
    stream_processor.py:414-437) applied batch-side: parse the events.props
    JSON column, splat it, aggregate the extracted field."""
    from pyspark.sql import types as T

    from data_pipeline_framework_spark.streaming.pipeline import (
        flatten_nested, parse_json_field,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "props")
    ev = parse_json_field(ev, "props", T.StructType(
        [T.StructField("k", T.LongType())]
    ))
    flat = flatten_nested(ev, "props")
    return (
        flat.groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def fillna_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fill_null method='mean' through the transform op: nulls (here the
    'error' events) replaced by the column mean — one scalar agg joined
    back, no driver round-trip (reference spark_processor.py:116-123)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") != "error", F.col("value")).alias("value"),
    )
    out = apply_ops(ev, [
        {"type": "transform", "transformations": [
            {"type": "fill_null", "columns": ["value"], "method": "mean"},
        ]},
    ])
    return out.select("event_id", _r(F.col("value"), 4).alias("value"))


def correlations_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman correlation via distributed tie-averaged ranks (no global
    single-task window — profiling.average_ranks)."""
    from data_pipeline_framework_spark.functions import profiling as PR

    li = _t(spark, sf_dir, "lineitem")
    out = PR.correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"],
        method="spearman",
    )
    return out.select("col_a", "col_b", _r(F.col("corr"), 4).alias("corr"))


def incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (operators/rollup.py): events
    arrive as two slices; each slice's algebraic partial state is built
    independently, merged (state(A ∪ B) == merge(state(A), state(B))),
    and finalized. The oracle is the direct one-shot GROUP BY — proving
    the incremental path is indistinguishable from a full recompute,
    which is the property that lets a 100 TB corpus keep its dashboard
    aggregates fresh per-slice instead of rescanning history (the
    reference recomputes every run, processors/pandas_processor.py:199)."""
    from data_pipeline_framework_spark.operators.rollup import (
        finalize_rollup, merge_rollup_state, rollup_state,
    )

    metrics = {"value": ["sum", "avg", "min", "max"], "user_id": ["count"]}
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = merge_rollup_state(
        rollup_state(a, ["event_type"], metrics),
        rollup_state(b, ["event_type"], metrics),
        ["event_type"], metrics,
    )
    out = finalize_rollup(merged, metrics)
    return out.select(
        "event_type",
        F.col("__rows").alias("n_rows"),
        F.round("value_sum", 2).alias("value_sum"),
        _r(F.col("value_avg"), 4).alias("value_avg"),
        "value_min",
        "value_max",
        "user_id_count",
    )


def rollup_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram state (operators/rollup.py histograms=):
    fixed-range bin counts built per slice, merged element-wise (exact —
    integer adds), then finalized to deterministic bin-midpoint p50/p90
    estimates. The oracle replays the identical binning + cumulative
    threshold in SQL, so the approximate quantile is value-checked, not
    just sanity-checked. The bounds come from one bounded 2-value scalar
    collect (min/max), the only driver round-trip."""
    from data_pipeline_framework_spark.operators.rollup import (
        finalize_rollup, merge_rollup_state, rollup_state,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    lo, hi = ev.agg(F.min("value"), F.max("value")).first()
    hist = {"value": {"lo": lo, "hi": hi, "bins": 50,
                      "quantiles": [0.5, 0.9]}}
    m: dict = {"value": ["count"]}
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    merged = merge_rollup_state(
        rollup_state(a, ["event_type"], m, histograms=hist),
        rollup_state(b, ["event_type"], m, histograms=hist),
        ["event_type"], m, histograms=hist,
    )
    out = finalize_rollup(merged, m, histograms=hist)
    return out.select(
        "event_type",
        F.col("value_count").alias("n"),
        _r(F.col("value_p50"), 6).alias("value_p50"),
        _r(F.col("value_p90"), 6).alias("value_p90"),
    )


def heavy_hitters_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state Misra-Gries heavy hitters
    (functions/heavy_hitters.py): per-partition mapInPandas summaries
    (state capped at `capacity` counters, zero shuffle) -> one groupBy
    over <= capacity*partitions rows -> deterministic top-10. With
    capacity above the distinct-supplier count the summary is provably
    EXACT (err=0, no compaction fires at sf<=0.1), so the oracle is the
    plain count/top-k — checking the whole distributed-summary machinery
    end to end; the approximation regime's sandwich bound
    (cnt <= true <= cnt+err) is property-tested in
    tests/test_heavy_hitters.py."""
    from data_pipeline_framework_spark.functions.heavy_hitters import (
        heavy_hitters, top_k,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_suppkey")
    hh = heavy_hitters(li, "l_suppkey", capacity=2048)
    return top_k(hh, "l_suppkey", 10).select(
        "rank", "l_suppkey", "cnt", "err"
    )


def heavy_hitters_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Misra-Gries: per-l_returnflag supplier summaries with the
    per-group capacity cap and error budget. Capacity above the supplier
    keyspace -> exact per group (err=0), so the oracle is the windowed
    top-5 per flag; the compaction regime's per-group bounds are
    property-tested in tests/test_heavy_hitters.py."""
    from data_pipeline_framework_spark.functions.heavy_hitters import (
        heavy_hitters, top_k,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_suppkey")
    hh = heavy_hitters(
        li, "l_suppkey", capacity=2048, group_cols=["l_returnflag"]
    )
    return top_k(hh, "l_suppkey", 5, group_cols=["l_returnflag"]).select(
        "l_returnflag", "rank", "l_suppkey", "cnt", "err"
    )


# ---------------------------------------------------------------------------
# driver contract


def dsir_importance_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al. 2023): hashed-bigram
    log-likelihood ratio of each document under the target corpus
    (lang='en') vs the raw corpus. Bounded model state (512 buckets),
    broadcast scoring join, md5-prefix hash — fully replayed in SQL."""
    from data_pipeline_framework_spark.functions.importance import (
        dsir_importance_weights,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    raw = docs.select("doc_id", "text")
    target = docs.filter(F.col("lang") == "en").select("doc_id", "text")
    out = dsir_importance_weights(
        raw, target, buckets=512, alpha=1.0, ngram=2
    )
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        _r(F.col("log_weight"), 4).alias("log_weight"),
        _r(F.col("avg_log_weight"), 6).alias("avg_log_weight"),
    )


def paragraph_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-paragraph removal. The corpus text is
    single-line, so both engines synthesize the same 3-paragraph doc
    from substring slices — even doc_ids get an UPPERCASED copy of
    paragraph 1 as paragraph 3 (exercising the lower+trim normalization)
    — and the oracle replays the keep-first logic in SQL."""
    from data_pipeline_framework_spark.functions.text import (
        dedup_paragraphs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    p1 = F.substring("text", 1, 60)
    p2 = F.substring("text", 31, 60)
    p3 = F.when(
        F.col("doc_id") % 2 == 0, F.upper(F.substring("text", 1, 60))
    ).otherwise(F.substring("text", 61, 60))
    para = docs.select(
        "doc_id", F.concat_ws("\n", p1, p2, p3).alias("text")
    )
    return dedup_paragraphs(para, "doc_id", "text").select(
        "doc_id", "clean_text", "n_paragraphs", "n_removed"
    )


def canonical_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl URL canonicalization + dedup: tracking params, www,
    default ports, trailing slashes, and param order all collapse; one
    row per canonical form survives (lowest doc_id). The oracle derives
    the expected canonical string directly from the doc_id residues the
    injection used, so a parse_url or param-filter bug cannot agree."""
    from data_pipeline_framework_spark.functions.web import (
        dedup_by_canonical_url,
    )

    g = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("https://example.com/p"), g, F.lit("?x=1&y=2")))
        .when(v == 1, F.concat(
            F.lit("https://WWW.example.com:443/p"), g,
            F.lit("/?y=2&utm_source=feed&x=1")))
        .when(v == 2, F.concat(
            F.lit("http://shop.example.co.uk/p"), g, F.lit("?a=1")))
        .otherwise(F.concat(
            F.lit("http://shop.example.co.uk:80/p"), g,
            F.lit("/?a=1&fbclid=abc")))
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "url", url
    )
    return dedup_by_canonical_url(docs, "url", "doc_id").select(
        "doc_id", "url", "canonical_url", "is_canonical_dup"
    )


def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenizer fertility per language: BPE tokens per word and chars
    per token from one corpus scan + a 5-row aggregation — the
    multilingual tokenizer health check every pretraining mix needs."""
    from data_pipeline_framework_spark.functions.tokenize import (
        tokenizer_fertility,
    )

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    out = tokenizer_fertility(docs, ["lang"])
    return out.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        _r(F.col("fertility"), 6).alias("fertility"),
        _r(F.col("chars_per_token"), 6).alias("chars_per_token"),
    )


def bpe_token_count_32k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """learned-BPE token counts with the PRODUCTION-SCALE 32,768-merge
    vocabulary (resources/bpe_merges_32k.txt, trained on public
    stdlib+pyspark source text by tools/train_bpe_32k.py). Exercises the
    rank-priority Arrow encode — the only engine whose cost is flat in
    merge count (measured 0.44 s vs 0.41 s for the 48-merge table at
    sf0.1). Oracle: the SEQUENTIAL chained-replace spec replayed per
    DISTINCT word in DuckDB via one list_reduce fold over the ordered
    merges list — a different algorithm than the engine's rank-priority
    encode, so the hash match is a genuine cross-check of the
    equivalence, not a replay."""
    from data_pipeline_framework_spark.functions.tokenize import (
        bpe_token_count,
        merges_32k,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_token_count(docs, "text", merges=merges_32k()).select(
        "doc_id", "n_bpe_tokens"
    )


def bpe_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode∘encode identity audit on the 32,768-merge production
    table: every document's id stream (with word-boundary sep ids)
    must decode back to EXACTLY the tokenizer's normalized text —
    mismatches == 0 is the deliverable a user inspecting packed shards
    needs to trust detokenization. Engine: rank-priority Arrow encode
    -> inverse-vocab decode. Oracle: the SEQUENTIAL chained-replace
    spec folded per distinct word in DuckDB, paren-stripped and
    compared word-wise — a different algorithm AND a different
    inversion path, so the zero is cross-checked, not replayed."""
    from data_pipeline_framework_spark.functions.tokenize import (
        BPETokenizer,
        _normalize,
        merges_32k,
    )

    tok = BPETokenizer(merges_32k())
    docs = (
        _t(spark, sf_dir, "documents")
        .select("text")
        .where(F.col("text").isNotNull())
    )
    dec = tok.decode_expr(tok.ids_expr(F.col("text"), with_sep=True))
    return docs.select(
        dec.alias("rt"), _normalize(F.col("text")).alias("norm")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("rt") != F.col("norm"), 1).otherwise(0)
        ).alias("mismatches"),
    )


def _emb_rows(sf_dir: str) -> int:
    """Exact embeddings row count from parquet footers
    (sources.pruning.fast_row_count) — metadata pages only, no Spark
    job. Identical to `_t(..., "embeddings").count()`: the table is
    read unfiltered and footer num_rows is exact, but the old count()
    action cost a full job submission per adaptive-sizing probe
    (5 headline queries pay it)."""
    from data_pipeline_framework_spark.sources.pruning import (
        fast_row_count,
    )

    return fast_row_count(f"{sf_dir}/embeddings.parquet")


def _cells_for(sf_dir: str) -> int:
    """IVF contract: cell count grows with the corpus (Σ cell² work
    stays ~linear). The rule lives in the library
    (similarity.adaptive_cells, anchored at 8 cells for the 500-vector
    sf0.01 fixture); the oracles follow via the corpus-count CASE in
    _adaptive_cent_sql."""
    from data_pipeline_framework_spark.functions.similarity import (
        adaptive_cells,
    )

    return adaptive_cells(_emb_rows(sf_dir))


# oracle-checked cell count (sf0.01's 500 vectors): at and below this the
# queries use the literal-argmin assignment the SQL twins replay exactly;
# above it (bench/scale SFs, never oracle-compared) the Arrow matmul path
# — the literal expression is O(n_cells*dim) per row and outgrows codegen


def _planes_for(sf_dir: str) -> int:
    """LSH contract (the twin of _cells_for): signature bits per block
    grow ~log2 with the corpus so bucket populations — and therefore
    per-block candidate pairs — stay LINEAR in corpus size instead of
    quadratic. The rule lives in the library
    (similarity.adaptive_planes, anchored at 16 planes for the
    500-vector sf0.01 fixture so the statically generated oracles stay
    bit-exact where the driver checks them); sf0.1's 2000 vectors get
    24 planes (4 x 6 bits), sf1's 20K get 40, sf10's 200K get 52 —
    the oracle replays the rule with a CASE on corpus count for the
    gate SFs (see _lsh_blocks_sql)."""
    from data_pipeline_framework_spark.functions.similarity import (
        adaptive_planes,
    )

    return adaptive_planes(_emb_rows(sf_dir))


def hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contrastive hard-negative mining: per anchor vector the top-3
    nearest different-label vectors within its codebook cell (the
    SemDeDup blocking shape — never a corpus cross join). Oracle
    replays assignment, pairing, and ranking exactly."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    nc = _cells_for(sf_dir)
    out = SIM.hard_negative_mining(
        emb, k=3,
        centers=SIM.fixed_codebook(64, n_cells=nc, seed=7),
        assign="literal" if nc <= 8 else "arrow",
    )
    return out.select(
        "anchor_id", "negative_id",
        F.col("anchor_label").cast("long").alias("anchor_label"),
        F.col("negative_label").cast("long").alias("negative_label"),
        F.col("cell").cast("long").alias("cell"),
        _r(F.col("neg_cosine"), 6).alias("neg_cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """temperature-based mixture sampling (mT5/UniMax): per-source keep
    rates derived from the corpus's own size distribution at tau=0.5 —
    rate_s = min_u sqrt(total_u) / sqrt(total_s), the cancelled form
    whose every term is IEEE-exact (sqrt + divide), so the oracle
    replays each rate bit-for-bit. The corpus filter is the same
    pushed-down deterministic hash threshold as mixture_sample."""
    from data_pipeline_framework_spark.functions.sampling import (
        temperature_mixture_sample,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return temperature_mixture_sample(
        docs, "doc_id", "source", "n_chars", temperature=0.5
    )


def bloom_url_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter crawl membership: a 4096-bit / 4-hash filter is
    built over the 'historical crawl' (docs with doc_id % 10 < 7,
    keyed by source/doc_id) and every doc probed against it — the
    incremental-ingest primitive that skips re-processing yesterday's
    URLs without keeping the URL set. The filter is m/32 rows of
    bit-OR'd words (one bounded groupBy); the probe is an explode ->
    broadcast join -> bool_and. md5-derived bit positions make the
    filter — including its false positives — bit-identical in the
    DuckDB oracle, which asserts no false negatives by construction."""
    from data_pipeline_framework_spark.functions.sketches import (
        bloom_build,
        bloom_probe,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = docs.withColumn(
        "k",
        F.concat_ws("/", "source", F.col("doc_id").cast("string")),
    )
    hist = keyed.filter(F.col("doc_id") % 10 < 7)
    bloom = bloom_build(hist, "k", m_bits=4096, k=4)
    probed = bloom_probe(bloom, keyed, "k", m_bits=4096, k=4)
    return probed.select(
        "doc_id",
        F.col("maybe_member").cast("int").alias("maybe_member"),
        (F.col("doc_id") % 10 < 7).cast("int").alias("true_member"),
    ).orderBy("doc_id")


def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span REMOVAL (vs duplicate_span_flags which
    only measures): every repeated 10-token window is cut from the
    corpus except its canonical (lowest (doc, pos)) occurrence, and
    each document's text rebuilt from the surviving tokens. The oracle
    replays hashing, canonical election, span coverage, and the full
    rebuilt string."""
    from data_pipeline_framework_spark.functions.dedup import (
        remove_duplicate_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = remove_duplicate_spans(docs, "doc_id", "text", n=10)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("removed_tokens").cast("long").alias("removed_tokens"),
        "clean_text",
    ).orderBy("doc_id")


def packed_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_shards (distributed two-phase cumsum) into ~5k-token
    shards, then the per-shard manifest a dataloader verifies against:
    doc/token/byte counts, id range, and an order-independent XOR
    content fingerprint (mergeable across partial re-packs). One hash
    agg on the shard key after the packing pass."""
    from data_pipeline_framework_spark.functions.sampling import (
        pack_shards,
        shard_manifest,
    )
    from data_pipeline_framework_spark.functions.text import tokens

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("n_toks", F.size(tokens("text")).cast("long"))
    )
    packed = pack_shards(
        docs, "doc_id", "n_toks", budget=5000, n_buckets=8
    )
    return shard_manifest(
        packed, "shard", "doc_id", "n_toks", "text"
    ).orderBy("shard")


def collocation_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collocation extraction by PMI over within-doc word bigrams
    (Church & Hanks): two count aggregations + token-key joins, no
    pair enumeration. The PMI expression shape is mirrored verbatim in
    the oracle so values are IEEE-identical."""
    from data_pipeline_framework_spark.functions.text import (
        collocation_pmi,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = collocation_pmi(docs, "doc_id", "text", min_count=5)
    return out.select(
        "w1", "w2",
        F.col("pair_count").cast("long").alias("pair_count"),
        _r(F.col("pmi"), 6).alias("pmi"),
    ).orderBy("w1", "w2")


def semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic duplicate CLUSTERS: hyperplane-LSH-blocked embedding
    near-dup pairs (cosine >= 0.35) -> alternating-star connected
    components -> per-cluster sizes. The embedding analogue of
    neardup_clusters: blocking means no corpus cross join, CC means no
    adjacency collected. Oracle: the embedding-pair CTE chained into
    recursive reachability."""
    from data_pipeline_framework_spark.functions import dedup as DD
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_neardup_pairs(
        emb, threshold=0.35, dim=64, n_planes=_planes_for(sf_dir)
    )
    labels = DD.connected_components(pairs)
    w = Window.partitionBy("component")
    return labels.withColumn("cluster_size", F.count(F.lit(1)).over(w))


def curriculum_phase_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quality-ordered curriculum split: ntile(4) by descending
    composite quality (id tiebreak) via the distributed-rank
    curriculum_phases (range-bucketed, no single-partition window),
    then per-phase doc/token counts and mean quality. Oracle: the same
    quality expression through SQL ntile."""
    from data_pipeline_framework_spark.functions.sampling import (
        curriculum_phases,
    )
    from data_pipeline_framework_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    q = quality_score(docs, "text").select(
        "doc_id", "n_words", _r(F.col("quality"), 6).alias("q6")
    )
    ph = curriculum_phases(q, "q6", "doc_id", n_phases=4, n_buckets=8)
    return (
        ph.groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_tokens"),
            _r(F.avg("q6"), 6).alias("avg_quality"),
        )
        .select(
            F.col("phase").cast("long").alias("phase"),
            "n_docs", "n_tokens", "avg_quality",
        )
        .orderBy("phase")
    )


_BADWORDS = ["slow", "drop", "null", "error"]


def badword_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style word-blocklist scoring: per doc, count and
    fraction of tokens on a literal blocklist plus the threshold flag —
    a pure in-projection expression, zero shuffles/UDFs."""
    from data_pipeline_framework_spark.functions.text import (
        blocklist_fraction,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = blocklist_fraction(docs, "text", _BADWORDS)
    return out.select(
        "doc_id",
        F.col("blocked_count").alias("blocked_count"),
        _r(F.col("blocked_frac"), 6).alias("blocked_frac"),
        F.col("blocked_any").cast("int").alias("blocked_any"),
    ).orderBy("doc_id")


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF index vs exact brute-force cosine, per
    query — the measurement that gates any approximate index before it
    serves production retrieval. nprobe=2 of 8 cells so the trade-off
    is visible. One inner join of the two top-k sets; the oracle
    replays both pipelines and the intersection."""
    from data_pipeline_framework_spark.functions import similarity as SIM

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(emb, queries, k=10)
    approx = SIM.ivf_topk(
        emb, queries, k=10, n_cells=8, nprobe=2,
        centers=SIM.fixed_codebook(64, n_cells=8, seed=7),
    )
    hits = (
        exact.select("query_id", "vec_id")
        .join(approx.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            _r(
                F.coalesce(F.col("n_hits"), F.lit(0))
                / F.col("n_exact").cast("double"),
                6,
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def neardup_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall S-curve: ground truth = exact inverted-index
    n-gram Jaccard pairs (df-cut disabled), probe = the banded LSH
    pipeline at the same threshold; per 0.1-wide Jaccard bucket, how
    many true pairs the bands surfaced. The curve every LSH parameter
    choice (bands x rows) is tuned against — run on a sample at 100 TB.
    Both sides verify the identical exact Jaccard, so probe pairs are a
    strict subset of truth and recall is well-defined."""
    from data_pipeline_framework_spark.functions import dedup as DD

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    truth = DD.ngram_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.2, max_df=None
    )
    approx = DD.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.2)
    found = approx.select("id_a", "id_b").withColumn("__f", F.lit(1))
    j = truth.join(found, ["id_a", "id_b"], "left")
    bucket = F.floor(F.col("jaccard") * 10) / 10
    return (
        j.groupBy(bucket.alias("j_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce(F.col("__f"), F.lit(0)))
            .cast("long").alias("n_found"),
        )
        .withColumn(
            "recall",
            _r(F.col("n_found") / F.col("n_true").cast("double"), 6),
        )
        .orderBy("j_bucket")
    )


def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-doc character-distribution Shannon entropy (bits/char) — the
    cheapest garbage/spam signal; histogram bounded by alphabet size,
    entropy folded in sorted-char order so the float is partition-order
    independent and bit-identical to the SQL twin's mirrored fold."""
    from data_pipeline_framework_spark.functions.text import char_entropy

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = char_entropy(docs, "doc_id", "text")
    return out.select(
        "doc_id", "n_chars", "distinct_chars",
        _r(F.col("entropy_bits"), 6).alias("entropy_bits"),
    ).orderBy("doc_id")


def centroid_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """seed-centroid quality scoring (the GPT-3/CCNet "similarity to
    Wikipedia" filter in embedding space): centroid of the label=0 seed
    rows via one distributed per-dim aggregate (driver sees only the
    64-row centroid), inlined as a literal so corpus scoring is a
    single codegen projection — no join, no shuffle. Embedding dims are
    integer-quantized (floor x*1000) so every sum/product is exact IEEE
    arithmetic independent of partition order; the oracle rebuilds the
    identical centroid and cosine in SQL."""
    from data_pipeline_framework_spark.functions.similarity import (
        centroid_similarity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1000).cast("double"),
        ).alias("__q"),
    )
    out = centroid_similarity(
        q, "vec_id", "__q", F.col("label") == 0, dim=64
    )
    return out.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        _r(F.col("centroid_cosine"), 6).alias("centroid_cosine"),
    ).orderBy("vec_id")


def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-source shingle-Jaccard matrix (mixture-design companion to
    dedup: near-copy sources double-count in training mixes). Bounded
    shape: one groupBy(shingle) collects the ≤#sources source set, pairs
    expand in-row, sizes broadcast — no shingle self-join."""
    from data_pipeline_framework_spark.functions.dedup import (
        source_overlap_matrix,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    out = source_overlap_matrix(docs, "doc_id", "text", "source")
    return out.select(
        "source_a", "source_b", "shared_shingles", "n_a", "n_b",
        _r(F.col("jaccard"), 6).alias("jaccard"),
    ).orderBy("source_a", "source_b")


def winnowing_doc_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winnowing (MOSS) fingerprints: distinct window-minima of char
    k-gram hashes — positional substring-overlap detection, all in-row
    expressions, zero shuffles before the final explode/sort."""
    from data_pipeline_framework_spark.functions.dedup import (
        winnowing_fingerprints,
    )

    # winnowing_fingerprints spreads the scan itself (functions.text
    # _spread) — no caller-side repartition needed.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = winnowing_fingerprints(docs, "doc_id", "text", k=8, window=4)
    # explode_outer, NOT explode: InferFiltersFromGenerate plants a
    # size()>0 filter under a plain explode, and predicate pushdown then
    # substitutes the ENTIRE fingerprint expression into it — measured
    # 13x slower. The isNotNull filter references the generated column,
    # so it cannot be pushed below the Generate.
    return (
        out.select(
            "doc_id", "n_kgrams",
            F.explode_outer("fingerprints").alias("fingerprint"),
        )
        .filter(F.col("fingerprint").isNotNull())
        .orderBy("doc_id", "fingerprint")
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 through the op-DSL compiler at sf0.001."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {k: _pinned(v) for k, v in _raw_queries().items()}


def _raw_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "select_transform": select_transform,
        "filter_predicates": filter_predicates,
        "date_parts": date_parts,
        "grouped_agg_multi": grouped_agg_multi,
        "global_agg": global_agg,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "q5_regional_revenue": q5_regional_revenue,
        "dedup_first_per_key": dedup_first_per_key,
        "sort_topk": sort_topk,
        "union_by_name": union_by_name,
        "set_ops": set_ops,
        "group_count": group_count,
        "custom_sql_passthrough": custom_sql_passthrough,
        "window_ranking": window_ranking,
        "window_offsets": window_offsets,
        "window_running": window_running,
        "pivot_status": pivot_status,
        "melt_part": melt_part,
        "rollup_subtotals": rollup_subtotals,
        "cube_agg": cube_agg,
        "resample_hourly": resample_hourly,
        "rolling_stats": rolling_stats,
        "lags_and_diffs": lags_and_diffs,
        "time_features": time_features,
        "outliers_iqr": outliers_iqr,
        "sessionize_events": sessionize_events,
        "interpolate_missing": interpolate_missing,
        "ewm_smoothing": ewm_smoothing,
        "holt_trend_smoothing": holt_trend_smoothing,
        "changepoints": changepoints,
        "text_statistics": text_statistics,
        "doc_quality_scores": doc_quality_scores,
        "tfidf_doc_mass": tfidf_doc_mass,
        "token_counts": token_counts,
        "gopher_repetition": gopher_repetition,
        "kmeans_lloyd": kmeans_lloyd,
        "drift_psi_prices": drift_psi_prices,
        "ks_drift_prices": ks_drift_prices,
        "robust_outliers_events": robust_outliers_events,
        "length_gini_by_source": length_gini_by_source,
        "length_gini_bucketed": length_gini_bucketed,
        "gini_concentration_prices": gini_concentration_prices,
        "drift_psi_priorities": drift_psi_priorities,
        "stratified_sample_docs": stratified_sample_docs,
        "priority_sample_docs": priority_sample_docs,
        "token_shard_packing": token_shard_packing,
        "length_batch_packing": length_batch_packing,
        "bpe_token_counts": bpe_token_counts,
        "bpe_token_count_32k": bpe_token_count_32k,
        "bpe_roundtrip_audit": bpe_roundtrip_audit,
        "bpe_shard_packing": bpe_shard_packing,
        "bpe_vocab_usage": bpe_vocab_usage,
        "benchmark_decontamination": benchmark_decontamination,
        "domain_quota_cap": domain_quota_cap,
        "duplicate_span_flags": duplicate_span_flags,
        "unigram_logprob_scores": unigram_logprob_scores,
        "classifier_quality_scores": classifier_quality_scores,
        "classifier_trained_scores": classifier_trained_scores,
        "classifier_threshold_sweep": classifier_threshold_sweep,
        "corpus_zipf_stats": corpus_zipf_stats,
        "cross_corpus_decontamination": cross_corpus_decontamination,
        "cluster_best_exemplar": cluster_best_exemplar,
        "soft_dedup_weights": soft_dedup_weights,
        "mixed_language_docs": mixed_language_docs,
        "source_js_divergence": source_js_divergence,
        "bigram_logprob_scores": bigram_logprob_scores,
        "document_chunks": document_chunks,
        "boilerplate_line_removal": boilerplate_line_removal,
        "url_domain_features": url_domain_features,
        "markup_stripping": markup_stripping,
        "epoch_shuffle_positions": epoch_shuffle_positions,
        "domain_blocklist_rollup": domain_blocklist_rollup,
        "embedding_quantization": embedding_quantization,
        "zorder_locality": zorder_locality,
        "orc_scan_roundtrip": orc_scan_roundtrip,
        "sequence_packing": sequence_packing,
        "cms_token_frequencies": cms_token_frequencies,
        "corpus_split_stats": corpus_split_stats,
        "mixture_sample_docs": mixture_sample_docs,
        "pii_redaction": pii_redaction,
        "luhn_pan_audit": luhn_pan_audit,
        "language_scores": language_scores,
        "doc_fingerprints": doc_fingerprints,
        "dedup_exact_groups": dedup_exact_groups,
        "minhash_neardup": minhash_neardup,
        "split_leakage_pairs": split_leakage_pairs,
        "pagerank_trade_graph": pagerank_trade_graph,
        "pagerank_weighted_trade": pagerank_weighted_trade,
        "random_projection_embeddings": random_projection_embeddings,
        "fuzzy_name_matches": fuzzy_name_matches,
        "skew_diagnosis": skew_diagnosis,
        "weighted_sample_docs": weighted_sample_docs,
        "ann_quantized_topk": ann_quantized_topk,
        "cdc_document_chunks": cdc_document_chunks,
        "ann_pq_topk": ann_pq_topk,
        "ann_ivfpq_topk": ann_ivfpq_topk,
        "corpus_snapshot_diff": corpus_snapshot_diff,
        "dsir_importance_scores": dsir_importance_scores,
        "paragraph_dedup_docs": paragraph_dedup_docs,
        "canonical_url_dedup": canonical_url_dedup,
        "bpe_fertility_by_lang": bpe_fertility_by_lang,
        "hard_negative_pairs": hard_negative_pairs,
        "temperature_mixture_docs": temperature_mixture_docs,
        "bloom_url_membership": bloom_url_membership,
        "collocation_pmi_pairs": collocation_pmi_pairs,
        "char_entropy_scores": char_entropy_scores,
        "source_overlap": source_overlap,
        "winnowing_doc_fingerprints": winnowing_doc_fingerprints,
        "centroid_quality_scores": centroid_quality_scores,
        "semantic_clusters": semantic_clusters,
        "curriculum_phase_stats": curriculum_phase_stats,
        "badword_scores": badword_scores,
        "ann_recall_report": ann_recall_report,
        "neardup_recall_report": neardup_recall_report,
        "duplicate_span_removal": duplicate_span_removal,
        "packed_shard_manifest": packed_shard_manifest,
        "corpus_report": corpus_report,
        "ngram_novelty_scores": ngram_novelty_scores,
        "neardup_clusters": neardup_clusters,
        "corpus_curation": corpus_curation,
        "ngram_jaccard_neardup": ngram_jaccard_neardup,
        "token_set_similarity": token_set_similarity,
        "simhash_sigs": simhash_sigs,
        "ann_cosine_topk": ann_cosine_topk,
        "bitext_margin_pairs": bitext_margin_pairs,
        "ann_lsh_topk": ann_lsh_topk,
        "ann_ivf_topk": ann_ivf_topk,
        "embedding_neardup": embedding_neardup,
        "bm25_search": bm25_search,
        "hybrid_rrf_search": hybrid_rrf_search,
        "keyword_extraction": keyword_extraction,
        "semantic_dedup_keep": semantic_dedup_keep,
        "semantic_decontamination_flags": semantic_decontamination_flags,
        "diverse_prototype_sample": diverse_prototype_sample,
        "k_anonymity_audit": k_anonymity_audit,
        "anonymity_risk_summary": anonymity_risk_summary,
        "funnel_user_stages": funnel_user_stages,
        "funnel_conversion_events": funnel_conversion_events,
        "cohort_retention_weekly": cohort_retention_weekly,
        "event_transition_matrix": event_transition_matrix,
        "top_event_paths": top_event_paths,
        "supplier_price_trends": supplier_price_trends,
        "corpus_fingerprint": corpus_fingerprint,
        "clean_standardize": clean_standardize,
        "phone_standardization": phone_standardization,
        "email_validation": email_validation,
        "anti_join_customers": anti_join_customers,
        "ffill_gaps": ffill_gaps,
        "ratio_poly_features": ratio_poly_features,
        "binning_uniform": binning_uniform,
        "binning_quantile": binning_quantile,
        "categorical_encoding": categorical_encoding,
        "aggregation_features": aggregation_features,
        "crosstab_counts": crosstab_counts,
        "pivot_monthly": pivot_monthly,
        "tumbling_window_agg": tumbling_window_agg,
        "sliding_window_agg": sliding_window_agg,
        "session_window_agg": session_window_agg,
        "profile_lineitem": profile_lineitem,
        "quality_report": quality_report,
        "correlations_lineitem": correlations_lineitem,
        "schema_inference_orders": schema_inference_orders,
        "csv_scan_roundtrip": csv_scan_roundtrip,
        "json_scan_roundtrip": json_scan_roundtrip,
        "csv_schema_probe": csv_schema_probe,
        "schema_constraints_orders": schema_constraints_orders,
        "string_patterns_customer": string_patterns_customer,
        "top_values_priority": top_values_priority,
        "text_feature_stats": text_feature_stats,
        "tfidf_vectors": tfidf_vectors,
        "kmeans_cluster_sizes": kmeans_cluster_sizes,
        "pca_projection": pca_projection,
        "pivot_margins": pivot_margins,
        "pivot_subtotals_grid": pivot_subtotals_grid,
        "time_pivot_quarterly": time_pivot_quarterly,
        "crosstab_norm_index": crosstab_norm_index,
        "pivot_stats_grid": pivot_stats_grid,
        "seasonal_decomposition": seasonal_decomposition,
        "savgol_smooth": savgol_smooth,
        "media_waveform_features": media_waveform_features,
        "media_image_features": media_image_features,
        "image_dhash_dedup": image_dhash_dedup,
        "audio_fingerprint_dedup": audio_fingerprint_dedup,
        "media_jpeg_roundtrip": media_jpeg_roundtrip,
        "asof_join_events": asof_join_events,
        "range_join_acctbal": range_join_acctbal,
        "mode_imputation": mode_imputation,
        "dedup_keep_last": dedup_keep_last,
        "q4_order_priority": q4_order_priority,
        "q6_forecast_revenue": q6_forecast_revenue,
        "q14_promo_revenue": q14_promo_revenue,
        "q10_returned_items": q10_returned_items,
        "q18_large_volume": q18_large_volume,
        "q7_nation_volume": q7_nation_volume,
        "salted_join_revenue": salted_join_revenue,
        "q13_customer_distribution": q13_customer_distribution,
        "q9_product_profit": q9_product_profit,
        "q2_min_cost_supplier": q2_min_cost_supplier,
        "q8_market_share": q8_market_share,
        "q11_important_parts": q11_important_parts,
        "q12_late_priority": q12_late_priority,
        "q20_excess_shippers": q20_excess_shippers,
        "q21_waiting_suppliers": q21_waiting_suppliers,
        "q16_supplier_counts": q16_supplier_counts,
        "q19_disjunctive_revenue": q19_disjunctive_revenue,
        "q15_top_supplier": q15_top_supplier,
        "q17_small_quantity_revenue": q17_small_quantity_revenue,
        "q22_idle_rich_customers": q22_idle_rich_customers,
        "semi_join_urgent_customers": semi_join_urgent_customers,
        "interaction_features": interaction_features,
        "outliers_zscore": outliers_zscore,
        "outliers_rolling_zscore": outliers_rolling_zscore,
        "parse_json_props": parse_json_props,
        "fillna_mean": fillna_mean,
        "correlations_spearman": correlations_spearman,
        "incremental_rollup": incremental_rollup,
        "rollup_histogram_quantiles": rollup_histogram_quantiles,
        "heavy_hitters_suppliers": heavy_hitters_suppliers,
        "heavy_hitters_by_flag": heavy_hitters_by_flag,
    }


# DuckDB token/shingle expression fragments shared by the text/dedup oracles.
_DD_TOKS = (
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
)


def _bpe_stream_sql() -> str:
    """DuckDB twin of the packaged ranked-merge BPE encode: the merges
    table replayed as the SAME chain of replace() calls Spark runs."""
    from data_pipeline_framework_spark.functions.tokenize import (
        bpe_stream_sql,
    )

    return bpe_stream_sql("text")


def _bpe32k_count_oracle() -> str:
    """Value oracle for the 32,768-merge vocabulary. A chained-replace
    twin (one nested replace per merge, the 48-merge oracles' shape)
    would be a 32K-deep expression; instead this replays the SAME
    sequential one-pass-per-merge spec per DISTINCT word with a single
    list_reduce fold over the rank-ordered merges list, then joins the
    per-word token counts back to per-doc word multiplicities (merges
    never cross a word boundary, so per-word == whole-stream encoding —
    the module's documented spec). The engine side uses rank-priority
    encoding, a different algorithm, so this is a genuine cross-check."""
    from data_pipeline_framework_spark.functions.tokenize import (
        merges_32k,
    )

    vals = ", ".join(
        f"({i},'{a} {b}')" for i, (a, b) in enumerate(merges_32k())
    )
    return f"""
        WITH mt(i, p) AS (VALUES {vals}),
        ml AS (SELECT list(p ORDER BY i) AS l FROM mt),
        w AS (
            SELECT doc_id,
                   unnest(string_split(trim(regexp_replace(
                       lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
            FROM documents
        ),
        wc AS (
            SELECT doc_id, w, count(*) AS n FROM w
            WHERE w <> '' GROUP BY 1, 2
        ),
        dw AS (SELECT DISTINCT w FROM wc),
        enc AS (
            SELECT w,
                   list_reduce(
                       list_prepend(
                           regexp_replace(w, '([a-z0-9])', '(\\1)', 'g'),
                           (SELECT l FROM ml)),
                       (acc, x) -> replace(acc,
                           '(' || split_part(x, ' ', 1) || ')('
                               || split_part(x, ' ', 2) || ')',
                           '(' || split_part(x, ' ', 1)
                               || split_part(x, ' ', 2) || ')')
                   ) AS s
            FROM dw
        ),
        fin AS (
            SELECT w, length(s) - length(replace(s, '(', '')) AS toks
            FROM enc
        )
        SELECT d.doc_id,
               CAST(coalesce(sum(wc.n * fin.toks), 0) AS BIGINT)
                   AS n_bpe_tokens
        FROM documents d
        LEFT JOIN wc ON wc.doc_id = d.doc_id
        LEFT JOIN fin ON fin.w = wc.w
        GROUP BY d.doc_id
    """


def _bpe32k_roundtrip_oracle() -> str:
    """Oracle for bpe_roundtrip_audit: replay the SEQUENTIAL
    chained-replace encode per DISTINCT word (same list_reduce fold as
    _bpe32k_count_oracle), invert it by stripping the parens, and
    count documents containing any word whose inversion is not the
    word itself. The engine decodes an id stream through the inverse
    vocab instead — different algorithm, different inversion — so the
    (n_docs, mismatches=0) hash match is a genuine cross-check."""
    from data_pipeline_framework_spark.functions.tokenize import (
        merges_32k,
    )

    vals = ", ".join(
        f"({i},'{a} {b}')" for i, (a, b) in enumerate(merges_32k())
    )
    return f"""
        WITH mt(i, p) AS (VALUES {vals}),
        ml AS (SELECT list(p ORDER BY i) AS l FROM mt),
        w AS (
            SELECT doc_id,
                   unnest(string_split(trim(regexp_replace(
                       lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
            FROM documents WHERE text IS NOT NULL
        ),
        dw AS (SELECT DISTINCT w FROM w WHERE w <> ''),
        enc AS (
            SELECT w,
                   list_reduce(
                       list_prepend(
                           regexp_replace(w, '([a-z0-9])', '(\\1)', 'g'),
                           (SELECT l FROM ml)),
                       (acc, x) -> replace(acc,
                           '(' || split_part(x, ' ', 1) || ')('
                               || split_part(x, ' ', 2) || ')',
                           '(' || split_part(x, ' ', 1)
                               || split_part(x, ' ', 2) || ')')
                   ) AS s
            FROM dw
        ),
        bad AS (
            SELECT w FROM enc
            WHERE replace(replace(s, '(', ''), ')', '') <> w
        ),
        docbad AS (SELECT DISTINCT doc_id FROM w JOIN bad USING (w))
        SELECT (SELECT count(*) FROM documents WHERE text IS NOT NULL)
                   AS n_docs,
               (SELECT count(*) FROM docbad) AS mismatches
    """


_DD_HASH = "CAST(('0x' || substr(md5({x}), 1, 13)) AS BIGINT)"
_DD_SHINGLES = f"""
    list_distinct(list_transform(
        CASE WHEN len(w) >= 3
             THEN [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                   for i in range(1, len(w) - 1)]
             ELSE [array_to_string(w, ' ')] END,
        s -> {_DD_HASH.format(x='s')}))
"""


def _minhash_cte_body() -> str:
    from data_pipeline_framework_spark.functions.dedup import (
        LSH_BANDS, MINHASH_P, MINHASH_PARAMS,
    )

    k = len(MINHASH_PARAMS)
    rows = k // LSH_BANDS
    mins = ",\n                   ".join(
        f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )
    band_selects = "\n                UNION ALL\n                ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ") AS key FROM sig"
        for b in range(LSH_BANDS)
    )
    body = f"""d AS (
            SELECT doc_id, {_DD_SHINGLES} AS sh
            FROM (SELECT doc_id, {_DD_TOKS} AS w FROM documents)
        ),
        e AS (SELECT doc_id, unnest(sh) AS h FROM d),
        sig AS (SELECT doc_id, {mins} FROM e GROUP BY doc_id),
        bands AS ({band_selects}),
        cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        ),
        verified AS (
            SELECT ida, idb,
                   len(list_intersect(x.sh, y.sh))
                     / (len(x.sh) + len(y.sh)
                        - len(list_intersect(x.sh, y.sh))) AS j
            FROM cand JOIN d x ON cand.ida = x.doc_id
                      JOIN d y ON cand.idb = y.doc_id
        )"""
    return body


def _neardup_recall_oracle() -> str:
    """Truth = brute all-pairs exact Jaccard >= 0.5 (fine at oracle SF);
    probe = the minhash CTE's verified pairs; bucketed recall."""
    return f"""
        WITH {_minhash_cte_body()},
        truth AS (
            SELECT x.doc_id AS ida, y.doc_id AS idb,
                   len(list_intersect(x.sh, y.sh))
                     / (len(x.sh) + len(y.sh)
                        - len(list_intersect(x.sh, y.sh))) AS j
            FROM d x JOIN d y ON x.doc_id < y.doc_id
        ),
        t AS (SELECT ida, idb, j FROM truth WHERE j >= 0.2),
        mh AS (
            SELECT ida, idb, 1 AS f FROM verified WHERE j >= 0.2
        ),
        b AS (
            SELECT FLOOR(t.j * 10) / 10 AS j_bucket,
                   COALESCE(mh.f, 0) AS f
            FROM t LEFT JOIN mh USING (ida, idb)
        )
        SELECT j_bucket,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(SUM(f) AS BIGINT) AS n_found,
               FLOOR((SUM(f) / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS recall
        FROM b GROUP BY j_bucket ORDER BY j_bucket
    """


def _mllib_english_stopwords() -> list[str]:
    """MLlib's english stopword list, read from the installed pyspark
    mllib jar resource (no JVM needed) — guarantees the oracle filters
    with EXACTLY the list StopWordsRemover uses."""
    import glob
    import os
    import zipfile

    import pyspark

    jar = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-mllib_*")
    )[0]
    with zipfile.ZipFile(jar) as z:
        return z.read(
            "org/apache/spark/ml/feature/stopwords/english.txt"
        ).decode().split()


def _tfidf_oracle() -> str:
    """DuckDB replay of tfidf_vectors: RegexTokenizer(\\W+, lowercase) ->
    StopWordsRemover(english) -> top-8 terms by corpus count ->
    tf * ln((m+1)/(df+1)) (MLlib IDF), long format with explicit zeros."""
    sw = ", ".join(
        "'" + w.replace("'", "''") + "'" for w in _mllib_english_stopwords()
    )
    return f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(list_filter(
                       string_split_regex(lower(text), '\\W+'),
                       t -> t <> '' AND NOT list_contains([{sw}], t))) AS t
            FROM documents WHERE doc_id < 500
        ),
        cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
        vocab AS (SELECT t FROM cnt ORDER BY c DESC, t LIMIT 8),
        docs AS (
            SELECT DISTINCT doc_id FROM documents WHERE doc_id < 500
        ),
        tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY doc_id, t),
        dfreq AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
        m AS (SELECT count(*) AS m FROM docs)
        SELECT d.doc_id, v.t AS term,
               FLOOR(coalesce(tf.tf, 0) * ln((m.m + 1) / (dfreq.df + 1))
                     * 1e4 + 0.5) / 1e4 AS tfidf
        FROM docs d CROSS JOIN vocab v CROSS JOIN m
        JOIN dfreq ON dfreq.t = v.t
        LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.t = v.t
        ORDER BY d.doc_id, term
    """


def _pca_oracle() -> str:
    """DuckDB twin of pca_projection: the SAME offline-fit basis
    literals (_pca_basis) applied with the same left-assoc term order,
    so the projection matches bit-for-bit at any SF."""
    basis = _pca_basis()

    def proj(k: int) -> str:
        const, coef = basis[k]
        terms = " + ".join(
            f"({coef[j]!r}) * {_PCA_COLS[j]}" for j in range(len(_PCA_COLS))
        )
        return f"FLOOR(ABS(({const!r}) + {terms}) * 1e3 + 0.5) / 1e3"

    return f"""
        SELECT l_orderkey, l_linenumber,
               {proj(0)} AS abs_pc1,
               {proj(1)} AS abs_pc2
        FROM lineitem
    """


def _cross_corpus_oracle() -> str:
    """DuckDB twin of cross_corpus_decontamination: the minhash pipeline
    replayed over the train/reference split, band join across the two
    band tables, exact Jaccard, best reference match per train doc."""
    from data_pipeline_framework_spark.functions.dedup import (
        LSH_BANDS, MINHASH_P, MINHASH_PARAMS,
    )

    k = len(MINHASH_PARAMS)
    rows = k // LSH_BANDS
    mins = ",\n                   ".join(
        f"MIN((h * {a} + {b}) % {MINHASH_P}) AS mh_{i}"
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    )

    def bands(sig: str) -> str:
        return "\n                UNION ALL\n                ".join(
            f"SELECT doc_id, {b} AS band, concat_ws('_', "
            + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
            + f") AS key FROM {sig}"
            for b in range(LSH_BANDS)
        )

    return f"""
        WITH d AS (
            SELECT doc_id, {_DD_SHINGLES} AS sh
            FROM (SELECT doc_id, {_DD_TOKS} AS w FROM documents)
        ),
        tr AS (SELECT * FROM d WHERE doc_id % 20 <> 0),
        rf AS (SELECT * FROM d WHERE doc_id % 20 = 0),
        sigt AS (
            SELECT doc_id, {mins}
            FROM (SELECT doc_id, unnest(sh) AS h FROM tr) GROUP BY doc_id
        ),
        sigr AS (
            SELECT doc_id, {mins}
            FROM (SELECT doc_id, unnest(sh) AS h FROM rf) GROUP BY doc_id
        ),
        bandst AS ({bands('sigt')}),
        bandsr AS ({bands('sigr')}),
        cand AS (
            SELECT DISTINCT t.doc_id AS ida, r.doc_id AS idb
            FROM bandst t JOIN bandsr r
              ON t.band = r.band AND t.key = r.key
        ),
        verified AS (
            SELECT ida, idb,
                   len(list_intersect(x.sh, y.sh))
                     / (len(x.sh) + len(y.sh)
                        - len(list_intersect(x.sh, y.sh))) AS j
            FROM cand JOIN tr x ON cand.ida = x.doc_id
                      JOIN rf y ON cand.idb = y.doc_id
        ),
        best AS (
            SELECT ida, idb, j,
                   row_number() OVER (
                       PARTITION BY ida ORDER BY j DESC, idb
                   ) AS rn
            FROM verified WHERE j >= 0.5
        )
        SELECT ida AS doc_id, CAST(idb AS BIGINT) AS ref_id,
               FLOOR(j * 1e4 + 0.5) / 1e4 AS jaccard
        FROM best WHERE rn = 1
    """


def _minhash_oracle() -> str:
    return f"""
        WITH {_minhash_cte_body()}
        SELECT ida AS id_a, idb AS id_b,
               FLOOR(j * 1e4 + 0.5) / 1e4 AS jaccard
        FROM verified WHERE j >= 0.7
    """


def _curation_oracle() -> str:
    """DuckDB replay of corpus_curation: language argmax + quality formula
    + fingerprint canonicalization + recursive-CTE near-dup clusters."""
    from data_pipeline_framework_spark.functions.text import LANG_MARKERS

    marker_sql = {
        lang: "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        for lang, markers in LANG_MARKERS.items()
    }
    score_exprs = ",\n                   ".join(
        f"CASE WHEN len(w) > 0 THEN"
        f" len(list_filter(w, t -> list_contains({marker_sql[lang]}, t)))"
        f" / len(w) END AS {lang}_score"
        for lang in LANG_MARKERS
    )
    pred_branches = "\n                        ".join(
        f"WHEN {lang}_score = best THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    return f"""
        WITH RECURSIVE {_minhash_cte_body()},
        pairs AS (SELECT ida AS u, idb AS v FROM verified WHERE j >= 0.7),
        sym AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, l) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT s.u, r.l FROM sym s JOIN reach r ON s.v = r.n
        ),
        labels AS (SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n),
        near_drop AS (SELECT node AS doc_id FROM labels WHERE node <> component),
        t AS (
            SELECT doc_id, text, {_DD_TOKS} AS w, length(text) AS nc
            FROM documents
        ),
        fp AS (SELECT doc_id, {_DD_FP} AS f FROM t),
        exact_keep AS (
            SELECT doc_id FROM (
                SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS c FROM fp
            ) WHERE doc_id = c
        ),
        ls AS (
            SELECT doc_id,
                   {score_exprs}
            FROM t
        ),
        lp AS (
            SELECT doc_id,
                   CASE WHEN best IS NULL OR NOT best > 0 THEN 'unknown'
                        {pred_branches}
                   END AS lang_pred
            FROM (
                SELECT *, greatest(en_score, de_score, fr_score, es_score)
                       AS best
                FROM ls
            )
        ),
        qs AS (
            SELECT doc_id,
                   0.3 * LEAST(n_words / 100.0, 1.0)
                 + 0.2 * (CASE WHEN awl BETWEEN 3.0 AND 10.0
                               THEN 1.0 ELSE 0.0 END)
                 + 0.2 * LEAST(stop * 3, 1.0)
                 + 0.3 * GREATEST(0.0, 1.0 - punct * 4 - digit * 2) AS q
            FROM (
                SELECT doc_id,
                       len(w) AS n_words,
                       CASE WHEN len(w) > 0 THEN
                           list_sum(list_transform(w, t -> length(t))) / len(w)
                       END AS awl,
                       CASE WHEN nc > 0 THEN
                           (nc - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                           / nc END AS punct,
                       CASE WHEN nc > 0 THEN
                           (nc - length(regexp_replace(text, '[0-9]', '', 'g')))
                           / nc END AS digit,
                       CASE WHEN len(w) > 0 THEN
                           len(list_filter(w, t -> list_contains(
                               {_stopword_list_sql()}, t)))
                           / len(w) END AS stop
                FROM t
            )
        )
        SELECT t.doc_id, FLOOR(qs.q * 1e6 + 0.5) / 1e6 AS quality
        FROM t
        JOIN exact_keep USING (doc_id)
        JOIN lp USING (doc_id)
        JOIN qs USING (doc_id)
        WHERE t.doc_id NOT IN (SELECT doc_id FROM near_drop)
          AND lp.lang_pred = 'en' AND qs.q >= 0.68
    """


def _neardup_clusters_oracle() -> str:
    """Recursive-CTE twin of minhash pairs -> connected components:
    component = min doc_id reachable through the verified-pair graph."""
    return f"""
        WITH RECURSIVE {_minhash_cte_body()},
        pairs AS (SELECT ida AS u, idb AS v FROM verified WHERE j >= 0.7),
        sym AS (
            SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
        ),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, l) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT s.u, r.l FROM sym s JOIN reach r ON s.v = r.n
        ),
        labels AS (SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n)
        SELECT node, component,
               COUNT(*) OVER (PARTITION BY component) AS cluster_size
        FROM labels
    """


def _best_exemplar_oracle() -> str:
    """Recursive-CTE twin of cluster_best_exemplar: the neardup_clusters
    labels joined to n_chars, canonical = highest n_chars (ties to the
    lowest id) per component."""
    return f"""
        WITH RECURSIVE {_minhash_cte_body()},
        pairs AS (SELECT ida AS u, idb AS v FROM verified WHERE j >= 0.7),
        sym AS (
            SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
        ),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, l) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT s.u, r.l FROM sym s JOIN reach r ON s.v = r.n
        ),
        labels AS (
            SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n
        ),
        q AS (
            SELECT labels.node, labels.component, d.n_chars AS qual
            FROM labels JOIN documents d ON labels.node = d.doc_id
        )
        SELECT node AS doc_id, component, qual,
               row_number() OVER (
                   PARTITION BY component ORDER BY qual DESC, node
               ) = 1 AS keep
        FROM q
    """


def _mixed_language_oracle() -> str:
    """Twin of mixed_language_docs: same segment regex, same marker
    hit-rate argmax per segment (ties -> lexicographic, zero hits ->
    unknown/excluded), same per-doc vote fold and left join back to
    every doc."""
    from data_pipeline_framework_spark.functions.text import LANG_MARKERS

    marker_sql = {
        lang: "[" + ", ".join(f"'{m}'" for m in ms) + "]"
        for lang, ms in LANG_MARKERS.items()
    }
    score_exprs = ",\n                   ".join(
        f"len(list_filter(w, t -> list_contains({marker_sql[l]}, t)))"
        f" / len(w) AS {l}_score"
        for l in LANG_MARKERS
    )
    pred = "\n                        ".join(
        f"WHEN {l}_score = best THEN '{l}'" for l in sorted(LANG_MARKERS)
    )
    cnt = ",\n                   ".join(
        f"SUM(CASE WHEN lang = '{l}' THEN 1 ELSE 0 END) AS n_{l}"
        for l in LANG_MARKERS
    )
    tot = " + ".join(f"coalesce(n_{l}, 0)" for l in LANG_MARKERS)
    topx = "greatest(" + ", ".join(
        f"coalesce(n_{l}, 0)" for l in LANG_MARKERS
    ) + ")"
    majp = "\n                        ".join(
        f"WHEN coalesce(n_{l}, 0) = top THEN '{l}'"
        for l in sorted(LANG_MARKERS)
    )
    # generated like every other fragment — adding a language to
    # LANG_MARKERS must not desync the argmax or the vote projection
    best = "greatest(" + ", ".join(
        f"{l}_score" for l in LANG_MARKERS
    ) + ")"
    ncols = ", ".join(f"n_{l}" for l in sorted(LANG_MARKERS))
    return f"""
        WITH segs AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '[.!?]+|\\n+')) AS seg
            FROM documents
        ),
        tokd AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(seg), '\\s+'),
                               t -> t <> '') AS w
            FROM segs
        ),
        sc AS (
            SELECT doc_id,
                   {score_exprs}
            FROM tokd WHERE len(w) >= 3
        ),
        lb AS (
            SELECT doc_id,
                   CASE WHEN best IS NULL OR NOT best > 0 THEN 'unknown'
                        {pred}
                   END AS lang
            FROM (SELECT *, {best} AS best FROM sc)
        ),
        g AS (
            SELECT doc_id,
                   {cnt}
            FROM lb WHERE lang <> 'unknown' GROUP BY doc_id
        ),
        j AS (
            SELECT d.doc_id, {tot} AS n_segments, {topx} AS top,
                   {ncols}
            FROM (SELECT DISTINCT doc_id FROM documents) d
            LEFT JOIN g ON d.doc_id = g.doc_id
        )
        SELECT doc_id,
               CAST(n_segments AS BIGINT) AS n_segments,
               CASE WHEN n_segments > 0 THEN (CASE {majp} END)
                    ELSE 'unknown' END AS majority_lang,
               CAST(n_segments - top AS BIGINT) AS n_disagree,
               CASE WHEN n_segments > 0
                    THEN FLOOR((n_segments - top)
                               / CAST(n_segments AS DOUBLE) * 1e6 + 0.5)
                         / 1e6
               END AS mixed_frac
        FROM j
    """


def _soft_dedup_oracle() -> str:
    """Same recursive-CTE component labels as _best_exemplar_oracle,
    then per-component sizes and the 1/size weight LEFT-joined to the
    whole corpus (unclustered docs weigh 1.0)."""
    return f"""
        WITH RECURSIVE {_minhash_cte_body()},
        pairs AS (SELECT ida AS u, idb AS v FROM verified WHERE j >= 0.7),
        sym AS (
            SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
        ),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, l) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT s.u, r.l FROM sym s JOIN reach r ON s.v = r.n
        ),
        labels AS (
            SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n
        ),
        sizes AS (
            SELECT component, COUNT(*) AS csz FROM labels
            GROUP BY component
        )
        SELECT d.doc_id, l.component,
               FLOOR((CASE WHEN l.component IS NULL THEN 1.0
                      ELSE 1.0 / s.csz END) * 1e6 + 0.5) / 1e6 AS weight
        FROM documents d
        LEFT JOIN labels l ON d.doc_id = l.node
        LEFT JOIN sizes s ON l.component = s.component
    """


def _simhash_oracle() -> str:
    from data_pipeline_framework_spark.functions.dedup import SIMHASH_BITS

    votes = ",\n                   ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    sig = "\n                 + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
        WITH d AS (
            SELECT doc_id, list_distinct({_DD_TOKS}) AS toks FROM documents
        ),
        e AS (
            SELECT doc_id, {_DD_HASH.format(x='t')} AS h
            FROM (SELECT doc_id, unnest(toks) AS t FROM d)
        ),
        v AS (SELECT doc_id, {votes} FROM e GROUP BY doc_id)
        SELECT d.doc_id,
               {sig} AS simhash
        FROM d LEFT JOIN v ON d.doc_id = v.doc_id
    """


def _language_oracle() -> str:
    from data_pipeline_framework_spark.functions.text import LANG_MARKERS

    marker_sql = {
        lang: "[" + ", ".join(f"'{m}'" for m in markers) + "]"
        for lang, markers in LANG_MARKERS.items()
    }
    score_exprs = ",\n                   ".join(
        f"CASE WHEN len(w) > 0 THEN"
        f" len(list_filter(w, t -> list_contains({marker_sql[lang]}, t)))"
        f" / len(w) END AS {lang}_score"
        for lang in LANG_MARKERS
    )
    # Spark's argmax coalesces langs in sorted order; greatest() ignores NULLs
    # in both engines.
    pred_branches = "\n                        ".join(
        f"WHEN {lang}_score = best THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    return f"""
        WITH d AS (SELECT doc_id, {_DD_TOKS} AS w FROM documents),
        s AS (
            SELECT doc_id,
                   {score_exprs}
            FROM d
        ),
        g AS (
            SELECT *, greatest(en_score, de_score, fr_score, es_score) AS best
            FROM s
        )
        SELECT doc_id,
               FLOOR(en_score * 1e6 + 0.5) / 1e6 AS en_score,
               FLOOR(de_score * 1e6 + 0.5) / 1e6 AS de_score,
               CASE WHEN best IS NULL OR NOT best > 0 THEN 'unknown'
                        {pred_branches}
               END AS lang_pred
        FROM g
    """


_DD_FP = _DD_HASH.format(x="array_to_string(w, ' ')")


def _profile_oracle() -> str:
    exprs = {
        "count": "COUNT({c})::DOUBLE",
        "n_null": "(COUNT(*) - COUNT({c}))::DOUBLE",
        "n_distinct": "COUNT(DISTINCT {c})::DOUBLE",
        "min": "MIN({c})::DOUBLE",
        "max": "MAX({c})::DOUBLE",
        # exact DECIMAL(38,10) accumulator, then ONE double division —
        # replays the engine's order-invariant sum/mean bit-for-bit
        # (a plain double SUM() wobbles with accumulation order and
        # straddled the 3-decimal rounding at sf1's 3e11 magnitude)
        "sum": "FLOOR(SUM(CAST({c} AS DECIMAL(38,10)))::DOUBLE"
               " * 1e3 + 0.5) / 1e3",
        "mean": "FLOOR((SUM(CAST({c} AS DECIMAL(38,10)))::DOUBLE"
                " / COUNT({c})::DOUBLE) * 1e3 + 0.5) / 1e3",
        "stddev": "FLOOR(STDDEV({c}) * 1e3 + 0.5) / 1e3",
        "q25": "FLOOR(quantile_cont({c}, 0.25) * 1e3 + 0.5) / 1e3",
        "median": "FLOOR(quantile_cont({c}, 0.50) * 1e3 + 0.5) / 1e3",
        "q75": "FLOOR(quantile_cont({c}, 0.75) * 1e3 + 0.5) / 1e3",
        "n_zero": "SUM(CASE WHEN {c} = 0 THEN 1 ELSE 0 END)::DOUBLE",
        "n_negative": "SUM(CASE WHEN {c} < 0 THEN 1 ELSE 0 END)::DOUBLE",
        # engine counts non-null values the DECIMAL(38,10) accumulator
        # cannot hold: NaN, +/-Inf, |x| >= 1e28 (per-value cast -> null)
        "n_lossy": "SUM(CASE WHEN {c} IS NOT NULL AND "
                   "(isnan({c}::DOUBLE) OR isinf({c}::DOUBLE) OR "
                   "abs({c}::DOUBLE) >= 1e28) THEN 1 ELSE 0 END)::DOUBLE",
    }
    selects = [
        f"SELECT '{c}' AS \"column\", '{m}' AS metric, "
        f"{e.format(c=c)} AS value FROM lineitem"
        for c in PROFILE_COLS
        for m, e in exprs.items()
    ]
    return "\n            UNION ALL\n            ".join(selects)


def _stopword_list_sql() -> str:
    from data_pipeline_framework_spark.functions.text import STOPWORDS_EN

    return "[" + ", ".join(f"'{m}'" for m in STOPWORDS_EN) + "]"


def _sql_dlist(vals) -> str:
    """DuckDB DOUBLE[] literal from a python vector."""
    return "[" + ", ".join(repr(float(x)) for x in vals) + "]"


def _lsh_sig_sql(planes, vexpr: str = "v") -> str:
    """Replicates similarity.lsh_signature: bit j set iff dot(v, plane_j)>0."""
    terms = [
        f"(CASE WHEN list_dot_product({vexpr}, {_sql_dlist(p)}) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    ]
    return "(" + " + ".join(terms) + ")::BIGINT"


_ANN_COS = (
    "list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)

# vectorized centroid-argmin distance over fixed-size DOUBLE[64] arrays
# (`arr` from the corpus CTE, `cent.ca` from _adaptive_cent_sql) —
# verified bit-identical to the list_dot_product form on this data
_D2_ARR = (
    "array_inner_product(c.arr, c.arr)"
    " - 2 * array_inner_product(c.arr, cent.ca)"
    " + array_inner_product(cent.ca, cent.ca)"
)


def _ann_lsh_oracle() -> str:
    """DuckDB twin of queries()['ann_lsh_topk']: same seeded planes, same
    4x4-bit block buckets, same exact-cosine rerank."""
    from data_pipeline_framework_spark.functions.similarity import hyperplanes

    sig = _lsh_sig_sql(hyperplanes(64, 16, seed=42))
    return f"""
        WITH c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 5
        ), csig AS (
            SELECT vec_id, v, {sig} AS sig FROM c
        ), qsig AS (
            SELECT query_id, v, {sig} AS sig FROM q
        ), blks AS (
            SELECT unnest([0, 1, 2, 3]) AS blk
        ), cb AS (
            SELECT vec_id, v, blk, (sig >> (blk * 4)) & 15 AS key
            FROM csig, blks
        ), qb AS (
            SELECT query_id, v, blk, (sig >> (blk * 4)) & 15 AS key
            FROM qsig, blks
        ), cand AS (
            SELECT DISTINCT qb.query_id, cb.vec_id
            FROM qb JOIN cb ON qb.blk = cb.blk AND qb.key = cb.key
        ), scored AS (
            SELECT cand.query_id, cand.vec_id, {_ANN_COS} AS cos_raw
            FROM cand
            JOIN (SELECT query_id, v AS qv FROM qsig) q USING (query_id)
            JOIN (SELECT vec_id, v AS cv FROM csig) c USING (vec_id)
        ), ranked AS (
            SELECT query_id, vec_id, cos_raw,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos_raw DESC, vec_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, vec_id,
               FLOOR(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
        FROM ranked WHERE rank <= 10
    """


def _lsh_blocks_sql() -> str:
    """csig/cb CTE fragment with CORPUS-ADAPTIVE signature width,
    mirroring queries' _planes_for at the gate SFs: <= 500 vectors ->
    16 planes / 4-bit block keys (sf0.001, sf0.01), <= 2000 -> 24
    planes / 6-bit keys (sf0.1), above -> 40 planes / 10-bit keys
    (sf1's 20K — adaptive_planes(20000) == 40). Still-larger SFs are
    bench-only and never oracle-compared; the Python rule keeps
    growing there. Expects a preceding CTE ``c(vec_id, v)``."""
    from data_pipeline_framework_spark.functions.similarity import hyperplanes

    sig16 = _lsh_sig_sql(hyperplanes(64, 16, seed=42))
    sig24 = _lsh_sig_sql(hyperplanes(64, 24, seed=42))
    sig40 = _lsh_sig_sql(hyperplanes(64, 40, seed=42))
    return f"""
        nsel AS (
            SELECT count(*) AS n FROM embeddings
        ), csig AS (
            SELECT vec_id, v,
                   CASE WHEN (SELECT n FROM nsel) <= 500 THEN {sig16}
                        WHEN (SELECT n FROM nsel) <= 2000 THEN {sig24}
                        ELSE {sig40} END AS sig,
                   CASE WHEN (SELECT n FROM nsel) <= 500 THEN 4
                        WHEN (SELECT n FROM nsel) <= 2000 THEN 6
                        ELSE 10 END AS bits
            FROM c
        ), blks AS (
            SELECT unnest([0, 1, 2, 3]) AS blk
        ), cb AS (
            SELECT vec_id, v, blk,
                   (sig >> (blk * bits)) & ((1 << bits) - 1) AS key
            FROM csig, blks
        )"""


def _embedding_neardup_oracle() -> str:
    """DuckDB twin of queries()['embedding_neardup']: block-bucket
    self-join candidates (corpus-adaptive signature width, see
    _lsh_blocks_sql), exact cosine >= 0.35."""
    return f"""
        WITH c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), {_lsh_blocks_sql()}, cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM cb a JOIN cb b
              ON a.blk = b.blk AND a.key = b.key AND a.vec_id < b.vec_id
        ), scored AS (
            SELECT id_a, id_b, {_ANN_COS} AS cos_raw
            FROM cand
            JOIN (SELECT vec_id AS id_a, v AS qv FROM csig) x USING (id_a)
            JOIN (SELECT vec_id AS id_b, v AS cv FROM csig) y USING (id_b)
        )
        SELECT id_a, id_b, FLOOR(cos_raw * 1e6 + 0.5) / 1e6 AS cosine
        FROM scored WHERE cos_raw >= 0.35
    """


def _semantic_clusters_oracle() -> str:
    """Embedding near-dup pairs (corpus-adaptive signature width, see
    _lsh_blocks_sql) chained into recursive-CTE reachability:
    component = min vec_id reachable via pairs with cosine >= 0.35."""
    return f"""
        WITH RECURSIVE c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), {_lsh_blocks_sql()}, cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM cb a JOIN cb b
              ON a.blk = b.blk AND a.key = b.key AND a.vec_id < b.vec_id
        ), scored AS (
            SELECT id_a, id_b, {_ANN_COS} AS cos_raw
            FROM cand
            JOIN (SELECT vec_id AS id_a, v AS qv FROM csig) x USING (id_a)
            JOIN (SELECT vec_id AS id_b, v AS cv FROM csig) y USING (id_b)
        ),
        pairs AS (
            SELECT id_a AS u, id_b AS v FROM scored WHERE cos_raw >= 0.35
        ),
        sym AS (
            SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
        ),
        nodes AS (SELECT DISTINCT u AS n FROM sym),
        reach(n, l) AS (
            SELECT n, n FROM nodes
            UNION
            SELECT s.u, r.l FROM sym s JOIN reach r ON s.v = r.n
        ),
        labels AS (SELECT n AS node, MIN(l) AS component FROM reach GROUP BY n)
        SELECT node, component,
               COUNT(*) OVER (PARTITION BY component) AS cluster_size
        FROM labels
    """


def _ann_ivf_oracle() -> str:
    """DuckDB twin of queries()['ann_ivf_topk']: the fixed seeded codebook
    makes assignment/probing deterministic — nearest cell per corpus
    vector (squared-L2, ties to the lowest cell id, as np.argmin), 4
    nearest cells probed per query (stable argsort), exact cosine rerank."""
    from data_pipeline_framework_spark.functions.similarity import fixed_codebook

    cents = fixed_codebook(64, n_cells=8, seed=7)
    cent_rows = ", ".join(
        f"({i}, {_sql_dlist(c)})" for i, c in enumerate(cents)
    )
    d2 = (
        "list_dot_product(v, v) - 2 * list_dot_product(v, cent.cv)"
        " + list_dot_product(cent.cv, cent.cv)"
    )
    return f"""
        WITH cent(cell, cv) AS (VALUES {cent_rows}),
        c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 5
        ), cassign AS (
            SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, cent.cell,
                       row_number() OVER (
                           PARTITION BY c.vec_id ORDER BY {d2}, cent.cell
                       ) AS rn
                FROM c, cent
            ) WHERE rn = 1
        ), qprobe AS (
            SELECT query_id, v, cell FROM (
                SELECT q.query_id, q.v, cent.cell,
                       row_number() OVER (
                           PARTITION BY q.query_id ORDER BY {d2}, cent.cell
                       ) AS rn
                FROM q, cent
            ) WHERE rn <= 4
        ), scored AS (
            SELECT qprobe.query_id, cassign.vec_id,
                   qprobe.v AS qv, cassign.v AS cv
            FROM qprobe JOIN cassign USING (cell)
        ), ranked AS (
            SELECT query_id, vec_id, {_ANN_COS} AS cos_raw,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY {_ANN_COS} DESC, vec_id
                   ) AS rank
            FROM scored
        )
        SELECT query_id, vec_id,
               FLOOR(cos_raw * 1e6 + 0.5) / 1e6 AS cosine, rank
        FROM ranked WHERE rank <= 10
    """


def _ann_recall_oracle() -> str:
    """Brute-force and IVF(nprobe=2) top-10 replayed side by side;
    recall = |intersection| / 10 per query."""
    from data_pipeline_framework_spark.functions.similarity import fixed_codebook

    cents = fixed_codebook(64, n_cells=8, seed=7)
    cent_rows = ", ".join(
        f"({i}, {_sql_dlist(c)})" for i, c in enumerate(cents)
    )
    d2 = (
        "list_dot_product(v, v) - 2 * list_dot_product(v, cent.cv)"
        " + list_dot_product(cent.cv, cent.cv)"
    )
    return f"""
        WITH cent(cell, cv) AS (VALUES {cent_rows}),
        c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 5
        ), exact AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, c.vec_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_dot_product(q.v, c.v) /
                                    (sqrt(list_dot_product(q.v, q.v)) *
                                     sqrt(list_dot_product(c.v, c.v))) DESC,
                                    c.vec_id
                       ) AS rank
                FROM q, c
            ) WHERE rank <= 10
        ), cassign AS (
            SELECT vec_id, v, cell FROM (
                SELECT c.vec_id, c.v, cent.cell,
                       row_number() OVER (
                           PARTITION BY c.vec_id ORDER BY {d2}, cent.cell
                       ) AS rn
                FROM c, cent
            ) WHERE rn = 1
        ), qprobe AS (
            SELECT query_id, v, cell FROM (
                SELECT q.query_id, q.v, cent.cell,
                       row_number() OVER (
                           PARTITION BY q.query_id ORDER BY {d2}, cent.cell
                       ) AS rn
                FROM q, cent
            ) WHERE rn <= 2
        ), approx AS (
            SELECT query_id, vec_id FROM (
                SELECT qprobe.query_id, cassign.vec_id,
                       row_number() OVER (
                           PARTITION BY qprobe.query_id
                           ORDER BY list_dot_product(qprobe.v, cassign.v) /
                                    (sqrt(list_dot_product(qprobe.v, qprobe.v)) *
                                     sqrt(list_dot_product(cassign.v, cassign.v)))
                                    DESC, cassign.vec_id
                       ) AS rank
                FROM qprobe JOIN cassign USING (cell)
            ) WHERE rank <= 10
        ), h AS (
            SELECT query_id, count(*) AS n_hits
            FROM exact JOIN approx USING (query_id, vec_id)
            GROUP BY query_id
        )
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(COALESCE(MIN(h.n_hits), 0) AS BIGINT) AS n_hits,
               FLOOR((COALESCE(MIN(h.n_hits), 0)
                      / CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) / 1e6
                   AS recall
        FROM exact e LEFT JOIN h USING (query_id)
        GROUP BY e.query_id ORDER BY e.query_id
    """


def _hybrid_rrf_oracle() -> str:
    """DuckDB twin of queries()['hybrid_rrf_search']: the bm25_search
    oracle's CTE chain (query = seed docs' own tokens, k=30), the
    ann_cosine_topk oracle's dense ranking (k=30), fused with the exact
    1/(60+rank) reciprocal-rank sums. rank is CAST to DOUBLE before the
    60.0 + so DuckDB stays in double math (DECIMAL + INT would silently
    switch the division to fixed-point)."""
    return f"""
        WITH d AS (SELECT doc_id, {_DD_TOKS} AS w FROM documents),
        dl AS (SELECT doc_id, len(w)::DOUBLE AS dl, w FROM d),
        qt AS (
            SELECT doc_id AS query_id, unnest(list_distinct(w)) AS t
            FROM d WHERE doc_id < 3
        ),
        stats AS (
            SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
        ),
        posted AS (
            SELECT doc_id, dl, t, count(*)::DOUBLE AS tf
            FROM (SELECT doc_id, dl, unnest(w) AS t FROM dl)
            JOIN (SELECT DISTINCT t FROM qt) v USING (t)
            GROUP BY 1, 2, 3
        ),
        dfreq AS (SELECT t, count(*)::DOUBLE AS df FROM posted GROUP BY t),
        bm AS (
            SELECT qt.query_id, posted.doc_id,
                   sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * ((tf * 2.2)
                          / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
                       AS score
            FROM posted JOIN dfreq USING (t) JOIN qt USING (t), stats
            GROUP BY 1, 2
        ),
        lex AS (
            SELECT query_id, doc_id, rank FROM (
                SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS INT) AS rank
                FROM bm WHERE score > 0.0
            ) WHERE rank <= 30
        ),
        q AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 3
        ),
        s AS (
            SELECT q.query_id, e.vec_id AS doc_id,
                   list_dot_product(qv, e.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[])))
                       AS cos
            FROM embeddings e, q
        ),
        den AS (
            SELECT query_id, doc_id, rank FROM (
                SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id) AS INT) AS rank
                FROM s
            ) WHERE rank <= 30
        ),
        u AS (
            SELECT query_id, doc_id, rank FROM lex
            UNION ALL
            SELECT query_id, doc_id, rank FROM den
        ),
        fused AS (
            SELECT query_id, doc_id,
                   sum(1.0 / (60.0 + CAST(rank AS DOUBLE))) AS rrf_score,
                   CAST(count(*) AS INT) AS n_systems
            FROM u GROUP BY 1, 2
        )
        SELECT query_id, doc_id,
               FLOOR(rrf_score * 1e6 + 0.5) / 1e6 AS rrf_score,
               n_systems, rank
        FROM (
            SELECT query_id, doc_id, rrf_score, n_systems,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
            FROM fused
        ) WHERE rank <= 10
    """


def _bm25_oracle() -> str:
    """DuckDB twin of queries()['bm25_search']: same tokenizer, distinct
    query terms, Lucene idf, mirrored contribution op order
    idf * ((tf * (k1+1)) / (tf + k1 * ((1-b) + b*dl/avgdl)))."""
    qrows = ", ".join(f"('{q}', '{t}')" for q, t in BM25_QUERIES)
    return f"""
        WITH q(query_id, query_text) AS (VALUES {qrows}),
        qt AS (
            SELECT DISTINCT query_id,
                   unnest(list_filter(
                       string_split_regex(lower(query_text), '\\s+'),
                       t -> t <> '')) AS t
            FROM q
        ),
        d AS (SELECT doc_id, {_DD_TOKS} AS w FROM documents),
        dl AS (SELECT doc_id, len(w)::DOUBLE AS dl, w FROM d),
        stats AS (
            SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl
        ),
        posted AS (
            SELECT doc_id, dl, t, count(*)::DOUBLE AS tf
            FROM (SELECT doc_id, dl, unnest(w) AS t FROM dl)
            JOIN (SELECT DISTINCT t FROM qt) v USING (t)
            GROUP BY 1, 2, 3
        ),
        dfreq AS (
            SELECT t, count(*)::DOUBLE AS df FROM posted GROUP BY t
        ),
        scored AS (
            SELECT qt.query_id, posted.doc_id,
                   sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                       * ((tf * 2.2)
                          / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))))
                       AS score
            FROM posted
            JOIN dfreq USING (t)
            JOIN qt USING (t), stats
            GROUP BY 1, 2
        )
        SELECT query_id, doc_id,
               FLOOR(score * 1e4 + 0.5) / 1e4 AS score, rank
        FROM (
            SELECT query_id, doc_id, score,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score DESC, doc_id) AS INT) AS rank
            FROM scored WHERE score > 0.0
        )
        WHERE rank <= 5
    """


_KEYWORD_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, unnest({_DD_TOKS}) AS t FROM documents
    ),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM toks GROUP BY 1, 2),
    n AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    w AS (
        SELECT doc_id, t, tf,
               tf * ln((n_docs + 1) / (df + 1)) AS weight
        FROM tf JOIN dfreq USING (t), n
    )
    SELECT doc_id, t AS term, tf,
           FLOOR(weight * 1e6 + 0.5) / 1e6 AS weight, rank
    FROM (
        SELECT doc_id, t, tf, weight,
               CAST(row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY weight DESC, t) AS INT) AS rank
        FROM w
    )
    WHERE rank <= 3
"""


def _adaptive_cent_sql() -> str:
    """cent CTE fragment mirroring queries' _cells_for at the gate SFs:
    the 8-cell seeded codebook at <= 500 vectors (sf0.001/sf0.01), the
    32-cell one at <= 2000 (sf0.1), the 320-cell one above (sf1's 20K
    — adaptive_cells(20000) == 320). Still-larger SFs are bench-only
    and never oracle-compared; the Python rule keeps growing there.

    Exposes both `cv` (DOUBLE[] list, for the legacy interpreted ops)
    and `ca` (fixed DOUBLE[64] ARRAY): array_inner_product over the
    fixed-size form is DuckDB's vectorized kernel and was verified
    bit-identical to list_dot_product on this data — it is what keeps
    the 20K x 320-cell sf1 assignment inside the value gate's budget."""
    from data_pipeline_framework_spark.functions.similarity import fixed_codebook

    def _rows(n):
        return ", ".join(
            f"({i}, {_sql_dlist(c)})"
            for i, c in enumerate(fixed_codebook(64, n_cells=n, seed=7))
        )

    return f"""cent8(cell, cv) AS (VALUES {_rows(8)}),
        cent32(cell, cv) AS (VALUES {_rows(32)}),
        cent320(cell, cv) AS (VALUES {_rows(320)}),
        cent_n AS (SELECT count(*) AS n FROM embeddings),
        cent AS (
            SELECT cell, cv, cv::DOUBLE[64] AS ca FROM (
                SELECT * FROM cent8
                WHERE (SELECT n FROM cent_n) <= 500
                UNION ALL
                SELECT * FROM cent32
                WHERE (SELECT n FROM cent_n) > 500
                  AND (SELECT n FROM cent_n) <= 2000
                UNION ALL
                SELECT * FROM cent320
                WHERE (SELECT n FROM cent_n) > 2000
            )
        )"""


def _diversity_sample_oracle() -> str:
    """DuckDB twin of queries()['diverse_prototype_sample']: the
    semantic-dedup assignment CTE (centroid argmin, ties to the
    lowest cell; corpus-adaptive codebook, see _adaptive_cent_sql;
    vectorized DOUBLE[64] min-struct form — see _semantic_dedup_oracle),
    centroid cosine in the same dot/sqrt op order as ann_cosine_topk,
    per-cell rank by (cosine desc, id)."""
    return f"""
        WITH {_adaptive_cent_sql()},
        c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   embedding::DOUBLE[64] AS arr
            FROM embeddings
        ), cassign AS (
            SELECT c.vec_id, first(c.v) AS v,
                   (min(struct_pack(d := {_D2_ARR}, cell := cent.cell))
                   ).cell AS cell
            FROM c, cent GROUP BY c.vec_id
        ), scored AS (
            SELECT a.vec_id, a.cell,
                   list_dot_product(a.v, cent.cv)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(cent.cv, cent.cv)))
                       AS proto_cos
            FROM cassign a JOIN cent ON a.cell = cent.cell
        )
        SELECT vec_id, cell,
               FLOOR(proto_cos * 1e6 + 0.5) / 1e6 AS proto_cos, rank
        FROM (
            SELECT vec_id, cell, proto_cos,
                   CAST(row_number() OVER (
                       PARTITION BY cell
                       ORDER BY proto_cos DESC, vec_id) AS INT) AS rank
            FROM scored
        ) WHERE rank <= 3
    """


def _semantic_dedup_oracle() -> str:
    """DuckDB twin of queries()['semantic_dedup_keep']: centroid argmin
    assignment (ties to the lowest cell, as the struct array_min;
    corpus-adaptive codebook, see _adaptive_cent_sql), within-cell
    lower-id pairing at cosine >= 0.35. The argmin runs on fixed-size
    DOUBLE[64] arrays (vectorized, bit-identical to list_dot_product)
    as one min(struct(d, cell)) aggregate — the same (d, cell)
    lexicographic tie-break as the old row_number window, without
    materializing the n x cells cross join through a window (what kept
    this oracle out of the sf1 value gate)."""
    cos_ab = (
        "list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
        WITH {_adaptive_cent_sql()},
        c AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   embedding::DOUBLE[64] AS arr
            FROM embeddings
        ), cassign AS (
            SELECT c.vec_id, first(c.v) AS v,
                   (min(struct_pack(d := {_D2_ARR}, cell := cent.cell))
                   ).cell AS cell
            FROM c, cent GROUP BY c.vec_id
        ), dup AS (
            SELECT b.vec_id AS vid, min(a.vec_id) AS dup_of
            FROM cassign a JOIN cassign b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE {cos_ab} >= 0.35
            GROUP BY b.vec_id
        )
        SELECT cassign.vec_id, cassign.cell, dup.dup_of,
               dup.dup_of IS NULL AS keep
        FROM cassign LEFT JOIN dup ON cassign.vec_id = dup.vid
    """


_FUNNEL_CHAIN = f"""
    s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
          AND epoch_us(e.ts) - epoch_us(s1.t1) <= {int(FUNNEL_WITHIN * 1e6)}
        GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
          AND epoch_us(e.ts) - epoch_us(s2.t2) <= {int(FUNNEL_WITHIN * 1e6)}
        GROUP BY 1
    )
"""

_FUNNEL_STAGES_ORACLE = f"""
    WITH base AS (
        SELECT DISTINCT user_id FROM events
        WHERE event_type IN ('{FUNNEL_STEPS[0]}', '{FUNNEL_STEPS[1]}',
                             '{FUNNEL_STEPS[2]}')
    ), {_FUNNEL_CHAIN}
    SELECT base.user_id,
           CASE WHEN t3 IS NOT NULL THEN 3
                WHEN t2 IS NOT NULL THEN 2
                WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stages_completed,
           t1 AS step1_ts, t3 AS completed_ts
    FROM base
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
"""

_FUNNEL_CONVERSION_ORACLE = f"""
    WITH {_FUNNEL_CHAIN},
    c(step, step_name, users) AS (
        SELECT 1, '{FUNNEL_STEPS[0]}', (SELECT count(*) FROM s1)
        UNION ALL
        SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM s2)
        UNION ALL
        SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM s3)
    )
    SELECT step, step_name, users,
           FLOOR(users / (SELECT count(*) FROM s1) * 1e6 + 0.5) / 1e6
               AS conversion
    FROM c
"""

_COHORT_ORACLE = """
    WITH fs AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort
        FROM events GROUP BY 1
    ), act AS (
        SELECT DISTINCT e.user_id, fs.cohort,
               (datediff('day', fs.cohort,
                         date_trunc('week', e.ts)) // 7) AS period_offset
        FROM events e JOIN fs USING (user_id)
    ), m AS (
        SELECT cohort, period_offset, count(*) AS n_users
        FROM act GROUP BY 1, 2
    ), sz AS (
        SELECT cohort,
               max(CASE WHEN period_offset = 0 THEN n_users END)
                   AS cohort_size
        FROM m GROUP BY 1
    )
    SELECT m.cohort, m.period_offset, m.n_users, sz.cohort_size,
           FLOOR(m.n_users / sz.cohort_size * 1e6 + 0.5) / 1e6 AS retention
    FROM m JOIN sz USING (cohort)
"""


_DSIR_ORACLE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1]), 1, 13))
                    AS BIGINT) % 512 AS b
        FROM toks, UNNEST(range(1, len(w))) AS r(i)
        WHERE len(w) >= 2
    ),
    tgrams AS (
        SELECT g.* FROM grams g
        JOIN documents d USING (doc_id) WHERE d.lang = 'en'
    ),
    rhist AS (SELECT b, COUNT(*) AS c FROM grams GROUP BY b),
    thist AS (SELECT b, COUNT(*) AS c FROM tgrams GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM grams) AS nr,
                   (SELECT COUNT(*) FROM tgrams) AS nt),
    ratio AS (
        SELECT ids.b,
               ln((COALESCE(th.c, 0) + 1.0) / (tot.nt + 1.0 * 512))
             - ln((COALESCE(rh.c, 0) + 1.0) / (tot.nr + 1.0 * 512)) AS lr
        FROM (SELECT UNNEST(range(0, 512)) AS b) ids
        LEFT JOIN thist th USING (b)
        LEFT JOIN rhist rh USING (b), tot
    )
    , doc_buckets AS (
        SELECT doc_id, b, COUNT(*) AS n FROM grams GROUP BY doc_id, b
    )
    SELECT g.doc_id,
           CAST(SUM(g.n) AS BIGINT) AS n_grams,
           FLOOR(SUM(g.n * ratio.lr) * 1e4 + 0.5) / 1e4 AS log_weight,
           FLOOR(SUM(g.n * ratio.lr) / SUM(g.n) * 1e6 + 0.5) / 1e6
               AS avg_log_weight
    FROM doc_buckets g JOIN ratio USING (b)
    GROUP BY g.doc_id
"""


_PARA_DEDUP_ORACLE = """
    WITH base AS (
        SELECT doc_id,
               substr(text, 1, 60) AS p1,
               substr(text, 31, 60) AS p2,
               CASE WHEN doc_id % 2 = 0 THEN upper(substr(text, 1, 60))
                    ELSE substr(text, 61, 60) END AS p3
        FROM documents
    ),
    paras AS (
        SELECT doc_id, i - 1 AS pos, ps[i] AS p,
               lower(trim(ps[i])) AS key
        FROM (SELECT doc_id, [p1, p2, p3] AS ps FROM base),
             UNNEST(range(1, 4)) AS r(i)
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id, key ORDER BY pos) AS rn
        FROM paras
    ),
    kept AS (SELECT * FROM ranked WHERE rn = 1 OR length(key) < 1)
    SELECT k.doc_id,
           string_agg(k.p, chr(10) ORDER BY k.pos) AS clean_text,
           CAST(3 AS BIGINT) AS n_paragraphs,
           CAST(3 - COUNT(*) AS BIGINT) AS n_removed
    FROM kept k
    GROUP BY k.doc_id
"""


_CANON_URL_ORACLE = """
    WITH m AS (
        SELECT doc_id,
               CAST(doc_id % 50 AS VARCHAR) AS g,
               doc_id % 4 AS v
        FROM documents
    ),
    urls AS (
        SELECT doc_id,
               CASE v
                   WHEN 0 THEN 'https://example.com/p' || g || '?x=1&y=2'
                   WHEN 1 THEN 'https://WWW.example.com:443/p' || g
                               || '/?y=2&utm_source=feed&x=1'
                   WHEN 2 THEN 'http://shop.example.co.uk/p' || g || '?a=1'
                   ELSE 'http://shop.example.co.uk:80/p' || g
                        || '/?a=1&fbclid=abc'
               END AS url,
               CASE WHEN v IN (0, 1)
                    THEN 'https://example.com/p' || g || '?x=1&y=2'
                    ELSE 'http://shop.example.co.uk/p' || g || '?a=1'
               END AS canonical_url
        FROM m
    )
    SELECT doc_id, url, canonical_url,
           ROW_NUMBER() OVER (
               PARTITION BY canonical_url ORDER BY doc_id) > 1
               AS is_canonical_dup
    FROM urls
"""


_FERTILITY_ORACLE_TMPL = """
    WITH s AS (
        SELECT lang,
               {bpe_stream} AS st,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               t -> t <> '')) AS w,
               length(text) AS c
        FROM documents
    ),
    t AS (
        SELECT lang,
               CAST(coalesce(length(st) - length(replace(st, '(', '')), 0)
                    AS BIGINT) AS bpe,
               w, c
        FROM s
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS n_words,
           CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(c) AS BIGINT) AS n_chars,
           FLOOR(CAST(SUM(bpe) AS DOUBLE) / SUM(w) * 1e6 + 0.5) / 1e6
               AS fertility,
           FLOOR(CAST(SUM(c) AS DOUBLE) / SUM(bpe) * 1e6 + 0.5) / 1e6
               AS chars_per_token
    FROM t
    GROUP BY lang
"""


def _hard_negative_oracle() -> str:
    """DuckDB twin of hard_negative_pairs: same centroid-argmin cells
    (corpus-adaptive codebook, see _adaptive_cent_sql; vectorized
    DOUBLE[64] min-struct form — see _semantic_dedup_oracle),
    within-cell different-label pairing, cosine-desc/id-asc ranking,
    top 3."""
    cos_ab = (
        "list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v)))"
    )
    return f"""
        WITH {_adaptive_cent_sql()},
        c AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v,
                   embedding::DOUBLE[64] AS arr
            FROM embeddings
        ), cassign AS (
            SELECT c.vec_id, first(c.label) AS label, first(c.v) AS v,
                   (min(struct_pack(d := {_D2_ARR}, cell := cent.cell))
                   ).cell AS cell
            FROM c, cent GROUP BY c.vec_id
        ), pairs AS (
            SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
                   CAST(a.label AS BIGINT) AS anchor_label,
                   CAST(b.label AS BIGINT) AS negative_label,
                   CAST(a.cell AS BIGINT) AS cell,
                   {cos_ab} AS cos
            FROM cassign a JOIN cassign b
              ON a.cell = b.cell AND a.label <> b.label
        ), ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY anchor_id ORDER BY cos DESC, negative_id ASC
            ) AS rank
            FROM pairs
        )
        SELECT anchor_id, negative_id, anchor_label, negative_label,
               cell, FLOOR(cos * 1e6 + 0.5) / 1e6 AS neg_cosine,
               CAST(rank AS BIGINT) AS rank
        FROM ranked WHERE rank <= 3
    """


def _bitext_margin_oracle() -> str:
    """DuckDB twin of queries()['bitext_margin_pairs'] replaying BOTH
    engines behind the query's size dispatch (brute_max=2048 on the
    larger slice): exact brute top-4 per direction at the small gate
    SFs, and from sf1 up (2500-vector slices) the IVF-probed path —
    fixed seeded codebook (adaptive_cells(2500) == 40), centroid
    argmin assignment of the indexed side, 4 probed cells per query
    (d2 asc, ties to the lower cell), exact cosine rerank inside the
    probed cells only. Mining tail (rank-ordered k-NN means, ratio
    margin, mutual best) is shared. Vectorized DOUBLE[64]
    array_inner_product throughout (bit-identical to
    list_dot_product on this data)."""
    from data_pipeline_framework_spark.functions.similarity import (
        fixed_codebook,
    )

    cent40 = ", ".join(
        f"({i}, {_sql_dlist(c)})"
        for i, c in enumerate(fixed_codebook(64, n_cells=40, seed=7))
    )

    def d2(va, ca):
        return (
            f"array_inner_product({va}, {va})"
            f" - 2 * array_inner_product({va}, {ca})"
            f" + array_inner_product({ca}, {ca})"
        )

    def cos(a, b):
        return (
            f"array_inner_product({a}, {b})"
            f" / (sqrt(array_inner_product({a}, {a}))"
            f" * sqrt(array_inner_product({b}, {b})))"
        )

    return f"""
        WITH s AS (
            SELECT vec_id, embedding::DOUBLE[64] AS arr
            FROM embeddings WHERE vec_id % 8 = 0
        ), tt AS (
            SELECT vec_id, embedding::DOUBLE[64] AS arr
            FROM embeddings WHERE vec_id % 8 = 1
        ), msel AS (
            SELECT greatest((SELECT count(*) FROM s),
                            (SELECT count(*) FROM tt)) > 2048 AS big
        ),
        -- ---- brute arm (rows only when NOT big) ----
        sb AS (SELECT * FROM s WHERE NOT (SELECT big FROM msel)),
        tb AS (SELECT * FROM tt WHERE NOT (SELECT big FROM msel)),
        fs AS (
            -- one scored table serves both directions: IEEE multiply
            -- is commutative, so cos(s,t) == cos(t,s) bit-exactly
            SELECT sb.vec_id AS src_id, tb.vec_id AS tgt_id,
                   {cos('sb.arr', 'tb.arr')} AS cos
            FROM sb, tb
        ), fk_b AS (
            SELECT * FROM (
                SELECT src_id, tgt_id, cos,
                       row_number() OVER (PARTITION BY src_id
                           ORDER BY cos DESC, tgt_id) AS rank
                FROM fs) WHERE rank <= 4
        ), bk_b AS (
            SELECT * FROM (
                SELECT src_id, tgt_id, cos,
                       row_number() OVER (PARTITION BY tgt_id
                           ORDER BY cos DESC, src_id) AS rank
                FROM fs) WHERE rank <= 4
        ),
        -- ---- IVF arm (rows only when big) ----
        cent(cell, ca) AS (
            SELECT cell, cv::DOUBLE[64]
            FROM (SELECT * FROM (VALUES {cent40}) t(cell, cv))
        ),
        si AS (SELECT * FROM s WHERE (SELECT big FROM msel)),
        ti AS (SELECT * FROM tt WHERE (SELECT big FROM msel)),
        t_asn AS (
            SELECT ti.vec_id, first(ti.arr) AS arr,
                   (min(struct_pack(d := {d2('ti.arr', 'cent.ca')},
                                    cell := cent.cell))).cell AS cell
            FROM ti, cent GROUP BY ti.vec_id
        ), s_asn AS (
            SELECT si.vec_id, first(si.arr) AS arr,
                   (min(struct_pack(d := {d2('si.arr', 'cent.ca')},
                                    cell := cent.cell))).cell AS cell
            FROM si, cent GROUP BY si.vec_id
        ), s_probe AS (
            SELECT vec_id, arr, cell FROM (
                SELECT si.vec_id, si.arr, cent.cell,
                       row_number() OVER (PARTITION BY si.vec_id
                           ORDER BY {d2('si.arr', 'cent.ca')}, cent.cell
                       ) AS rn
                FROM si, cent) WHERE rn <= 4
        ), t_probe AS (
            SELECT vec_id, arr, cell FROM (
                SELECT ti.vec_id, ti.arr, cent.cell,
                       row_number() OVER (PARTITION BY ti.vec_id
                           ORDER BY {d2('ti.arr', 'cent.ca')}, cent.cell
                       ) AS rn
                FROM ti, cent) WHERE rn <= 4
        ), fk_i AS (
            SELECT * FROM (
                SELECT p.vec_id AS src_id, a.vec_id AS tgt_id,
                       {cos('p.arr', 'a.arr')} AS cos,
                       row_number() OVER (PARTITION BY p.vec_id
                           ORDER BY {cos('p.arr', 'a.arr')} DESC,
                                    a.vec_id) AS rank
                FROM s_probe p JOIN t_asn a USING (cell)
            ) WHERE rank <= 4
        ), bk_i AS (
            SELECT * FROM (
                SELECT a.vec_id AS src_id, p.vec_id AS tgt_id,
                       {cos('p.arr', 'a.arr')} AS cos,
                       row_number() OVER (PARTITION BY p.vec_id
                           ORDER BY {cos('p.arr', 'a.arr')} DESC,
                                    a.vec_id) AS rank
                FROM t_probe p JOIN s_asn a USING (cell)
            ) WHERE rank <= 4
        ),
        -- ---- shared mining tail ----
        fk AS (SELECT * FROM fk_b UNION ALL SELECT * FROM fk_i),
        bk AS (SELECT * FROM bk_b UNION ALL SELECT * FROM bk_i),
        sa AS (
            SELECT src_id,
                   list_reduce(array_agg(cos ORDER BY rank),
                               (a, x) -> a + x) / count(*) AS src_knn
            FROM fk GROUP BY 1
        ), ta AS (
            SELECT tgt_id,
                   list_reduce(array_agg(cos ORDER BY rank),
                               (a, x) -> a + x) / count(*) AS tgt_knn
            FROM bk GROUP BY 1
        ), cand AS (
            SELECT fk.src_id, fk.tgt_id, fk.cos, sa.src_knn, ta.tgt_knn,
                   fk.cos / ((sa.src_knn + ta.tgt_knn) * 0.5) AS margin
            FROM fk JOIN sa USING (src_id) JOIN ta USING (tgt_id)
        ), bs AS (
            SELECT *, row_number() OVER (PARTITION BY src_id
                ORDER BY margin DESC, tgt_id) AS r
            FROM cand
        ), bt AS (
            SELECT src_id, tgt_id,
                   row_number() OVER (PARTITION BY tgt_id
                       ORDER BY margin DESC, src_id) AS r
            FROM cand
        )
        SELECT b.src_id, b.tgt_id,
               FLOOR(b.cos * 1e6 + 0.5) / 1e6 AS cosine,
               FLOOR(b.src_knn * 1e6 + 0.5) / 1e6 AS src_knn_avg,
               FLOOR(b.tgt_knn * 1e6 + 0.5) / 1e6 AS tgt_knn_avg,
               FLOOR(b.margin * 1e6 + 0.5) / 1e6 AS margin
        FROM bs b JOIN bt ON b.src_id = bt.src_id
                          AND b.tgt_id = bt.tgt_id AND bt.r = 1
        WHERE b.r = 1
    """


_TMIX_BUCKET = (
    "CAST(('0x' || substr(md5('tmix' || CAST(doc_id AS VARCHAR)), 1, 13))"
    " AS BIGINT) % 1000000"
)

_TMIX_ORACLE = f"""
    WITH tot AS (
        SELECT source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS total
        FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(sqrt(CAST(total AS DOUBLE))) AS mcap FROM tot),
    r AS (
        SELECT source,
               CAST(FLOOR(LEAST(1.0,
                    mcap * (1.0 / sqrt(CAST(total AS DOUBLE))))
                    * 1000000) AS BIGINT) AS thr
        FROM tot CROSS JOIN m
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d JOIN r USING (source)
    WHERE {_TMIX_BUCKET} < r.thr
"""


# Bloom filter twin: same md5 bit positions, 32-bit words in BIGINTs,
# bit_or build / bool_and probe — false positives replay bit-for-bit.
_BLOOM_ORACLE = """
    WITH keys AS (
        SELECT doc_id,
               source || '/' || CAST(doc_id AS VARCHAR) AS k
        FROM documents
    ),
    pos AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('bl' || CAST(j AS VARCHAR)
                    || ':' || k), 1, 13)) AS BIGINT) % 4096 AS p
        FROM keys, LATERAL (SELECT unnest(range(4)) AS j)
    ),
    words AS (
        SELECT p // 32 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS bits
        FROM pos WHERE doc_id % 10 < 7 GROUP BY 1
    ),
    probe AS (
        SELECT doc_id, p // 32 AS word,
               CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS mask
        FROM pos
    ),
    m AS (
        SELECT doc_id,
               bool_and((COALESCE(bits, 0) & mask) = mask) AS mm
        FROM probe LEFT JOIN words USING (word)
        GROUP BY doc_id
    )
    SELECT doc_id,
           CASE WHEN mm THEN 1 ELSE 0 END AS maybe_member,
           CASE WHEN doc_id % 10 < 7 THEN 1 ELSE 0 END AS true_member
    FROM m ORDER BY doc_id
"""

# ExactSubstr removal twin: 10-token windows, canonical occurrence =
# min (doc, pos) packed as doc*1000000+pos, covered positions exploded
# and the text rebuilt with list expressions.
_SPAN_REMOVAL_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ),
    g AS (
        SELECT doc_id, i AS pos,
               {_DD_HASH.format(x=(
                   "ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || "
                   "ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || "
                   "ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8] || ' ' || "
                   "ws[i+9]"))} AS h
        FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
    ),
    st AS (
        SELECT h, count(*) AS cnt,
               min(doc_id * 1000000 + pos) AS can
        FROM g GROUP BY h
    ),
    rm AS (
        SELECT g.doc_id, g.pos
        FROM g JOIN st USING (h)
        WHERE st.cnt > 1 AND g.doc_id * 1000000 + g.pos <> st.can
    ),
    cpos AS (
        SELECT DISTINCT doc_id, pos + j AS p
        FROM rm, LATERAL (SELECT unnest(range(10)) AS j)
    ),
    cl AS (SELECT doc_id, count(*) AS n_cov, list(p) AS cov
           FROM cpos GROUP BY doc_id)
    SELECT w.doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_cov, 0) AS BIGINT) AS removed_tokens,
           COALESCE(array_to_string(
               list_transform(
                   list_filter(range(1, len(ws) + 1),
                       p -> NOT list_contains(
                           COALESCE(cov, CAST([] AS BIGINT[])), p)),
                   p -> ws[CAST(p AS INT)]),
               ' '), '') AS clean_text
    FROM w LEFT JOIN cl USING (doc_id)
    ORDER BY w.doc_id
"""

def _badwords_sql() -> str:
    return "[" + ", ".join(f"'{w}'" for w in _BADWORDS) + "]"


# curriculum twin: the doc_quality_scores expression -> SQL ntile(4)
# over (quality DESC, doc_id) -> per-phase rollup.
def _curriculum_oracle() -> str:
    return f"""
        WITH d AS (
            SELECT doc_id, text, {_DD_TOKS} AS w, length(text) AS nc
            FROM documents
        ), s AS (
            SELECT doc_id,
                   len(w) AS n_words,
                   CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, t -> length(t))) / len(w)
                   END AS awl,
                   CASE WHEN nc > 0 THEN
                       (nc - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / nc END AS punct,
                   CASE WHEN nc > 0 THEN
                       (nc - length(regexp_replace(text, '[0-9]', '', 'g')))
                       / nc END AS digit,
                   CASE WHEN len(w) > 0 THEN
                       len(list_filter(w, t -> list_contains(
                           {_stopword_list_sql()}, t)))
                       / len(w) END AS stop
            FROM d
        ), q AS (
            SELECT doc_id, n_words,
                   FLOOR((0.3 * LEAST(n_words / 100.0, 1.0)
                        + 0.2 * (CASE WHEN awl BETWEEN 3.0 AND 10.0
                                      THEN 1.0 ELSE 0.0 END)
                        + 0.2 * LEAST(stop * 3, 1.0)
                        + 0.3 * GREATEST(0.0, 1.0 - punct * 4 - digit * 2)
                   ) * 1e6 + 0.5) / 1e6 AS q6
            FROM s
        ), ph AS (
            SELECT doc_id, n_words, q6,
                   ntile(4) OVER (ORDER BY q6 DESC, doc_id) AS phase
            FROM q
        )
        SELECT CAST(phase AS BIGINT) AS phase,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens,
               FLOOR(AVG(q6) * 1e6 + 0.5) / 1e6 AS avg_quality
        FROM ph GROUP BY phase ORDER BY phase
    """


# PMI collocation twin: identical count joins and the identical
# ln((cab/T2) / ((ca/T1)*(cb/T1))) expression shape.
_PMI_ORACLE = f"""
    WITH w AS (
        SELECT doc_id, {_DD_TOKS} AS ws FROM documents
    ),
    uni AS (
        SELECT t AS w, count(*) AS c
        FROM (SELECT unnest(ws) AS t FROM w) GROUP BY t
    ),
    t1 AS (SELECT CAST(SUM(c) AS BIGINT) AS t1 FROM uni),
    t2 AS (
        SELECT CAST(SUM(GREATEST(len(ws) - 1, 0)) AS BIGINT) AS t2 FROM w
    ),
    bi AS (
        SELECT ws[i] AS w1, ws[i+1] AS w2, count(*) AS pair_count
        FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        GROUP BY 1, 2 HAVING count(*) >= 5
    )
    SELECT bi.w1, bi.w2, CAST(pair_count AS BIGINT) AS pair_count,
           FLOOR(ln((CAST(pair_count AS DOUBLE) / t2)
                 / ((CAST(u1.c AS DOUBLE) / t1)
                    * (CAST(u2.c AS DOUBLE) / t1))) * 1e6 + 0.5) / 1e6
               AS pmi
    FROM bi
    JOIN uni u1 ON bi.w1 = u1.w
    JOIN uni u2 ON bi.w2 = u2.w
    CROSS JOIN t1 CROSS JOIN t2
    ORDER BY bi.w1, bi.w2
"""

# shard-manifest twin: same exclusive cumsum -> shard assignment as
# token_shard_packing, then one grouped agg with the XOR fingerprint.
_SHARD_MANIFEST_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, text,
               CAST(len({_DD_TOKS}) AS BIGINT) AS n_toks
        FROM documents
    ),
    ofs AS (
        SELECT doc_id, text, n_toks,
               CAST(SUM(n_toks) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - n_toks AS BIGINT) AS token_offset
        FROM t
    ),
    sh AS (
        SELECT doc_id, text, n_toks,
               CAST(FLOOR(token_offset / 5000.0) AS BIGINT) AS shard
        FROM ofs
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id,
           bit_xor(CAST(('0x' || substr(md5('mf' || ':'
               || CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 13))
               AS BIGINT)) AS content_fingerprint
    FROM sh GROUP BY shard ORDER BY shard
"""


# dHash oracle terms (operators/multimodal.py:dhash_images, resize grid):
# the 8x8 quantized image box-resizes to a 7x9 grid with INTEGER
# area-overlap weights (multimodal.box_resize_weights — exact in both
# numpy float64 and DuckDB), then bit r*8+c is set iff g[r][c] > g[r][c+1].
def _dhash_oracle_sql() -> tuple[str, str]:
    def weights(n_in: int, n_out: int) -> list[list[int]]:
        return [
            [
                max(
                    0,
                    min((i + 1) * n_in, (j + 1) * n_out)
                    - max(i * n_in, j * n_out),
                )
                for j in range(n_in)
            ]
            for i in range(n_out)
        ]

    wr, wc = weights(8, 7), weights(8, 9)
    cells = []
    for r in range(7):
        for c in range(9):
            terms = [
                f"{wr[r][j] * wc[c][k]}*p[{j * 8 + k + 1}]"
                for j in range(8)
                if wr[r][j]
                for k in range(8)
                if wc[c][k]
            ]
            cells.append(" + ".join(terms))
    grid = "list_value(" + ", ".join(cells) + ")"
    bits = " + ".join(
        f"CASE WHEN g[{r * 9 + c + 1}] > g[{r * 9 + c + 2}]"
        f" THEN {1 << (r * 8 + c)} ELSE 0 END"
        for r in range(7)
        for c in range(8)
    )
    return grid, bits


_DHASH_GRID_SQL, _DHASH_BITS_SQL = _dhash_oracle_sql()


# audio-fingerprint bit terms: bit i set iff frame i+1 energy > frame i
# energy over 32 two-sample frames (operators/multimodal.py:
# audio_fingerprints with n_frames=32 on 64-sample npy waveforms).
_AFP_BITS_SQL = " + ".join(
    f"CASE WHEN en[{i + 2}] > en[{i + 1}] THEN {1 << i} ELSE 0 END"
    for i in range(31)
)


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_dict()
    # the bucketed-dispatch gini twin is gate-pinned to the IDENTICAL
    # textbook oracle: dispatch must never change the value
    d["length_gini_bucketed"] = d["length_gini_by_source"]
    return d


def _oracle_sql_dict() -> dict[str, str]:
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2)        AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2)   AS sum_base_price,
                   ROUND(AVG(l_quantity), 4)        AS avg_qty,
                   ROUND(AVG(l_extendedprice), 4)   AS avg_price,
                   ROUND(AVG(l_discount), 6)        AS avg_disc,
                   COUNT(l_orderkey)                AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "select_transform": """
            SELECT p_partkey, p_name,
                   TRIM(LOWER(p_type)) AS p_type,
                   CAST(p_size AS BIGINT) AS p_size,
                   ROUND(p_retailprice, 2) AS retail_price,
                   ROUND(p_retailprice / (p_size + 1), 4) AS price_per_size,
                   COALESCE(regexp_extract(p_name, '([a-z]+)$', 1), '') AS last_word
            FROM part
            WHERE p_size >= 10
        """,
        "filter_predicates": """
            SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                   ROUND(c_acctbal, 2) AS c_acctbal
            FROM customer
            WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
              AND c_mktsegment NOT IN ('MACHINERY')
              AND c_name LIKE '%1%'
              AND c_name LIKE 'Customer%'
              AND c_acctbal BETWEEN 0.0 AND 8000.0
        """,
        "date_parts": """
            SELECT o_orderkey,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT)  AS o_orderdate_year,
                   CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_orderdate_month,
                   CAST(EXTRACT(day FROM o_orderdate) AS INT)   AS o_orderdate_day,
                   CAST(EXTRACT(isodow FROM o_orderdate) - 1 AS INT)
                       AS o_orderdate_weekday,
                   CAST(EXTRACT(quarter FROM o_orderdate) AS INT)
                       AS o_orderdate_quarter
            FROM orders
        """,
        "grouped_agg_multi": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity), 2)  AS l_quantity_sum,
                   ROUND(AVG(l_quantity), 4)  AS l_quantity_mean,
                   ROUND(MIN(l_quantity), 2)  AS l_quantity_min,
                   ROUND(MAX(l_quantity), 2)  AS l_quantity_max,
                   COUNT(l_extendedprice)     AS l_extendedprice_count,
                   COUNT(DISTINCT l_suppkey)  AS l_suppkey_nunique
            FROM lineitem GROUP BY l_returnflag
        """,
        "global_agg": """
            SELECT ROUND(SUM(o_totalprice), 2)  AS o_totalprice_sum,
                   ROUND(AVG(o_totalprice), 4)  AS o_totalprice_mean,
                   ROUND(MIN(o_totalprice), 2)  AS o_totalprice_min,
                   ROUND(MAX(o_totalprice), 2)  AS o_totalprice_max,
                   COUNT(o_orderkey)            AS o_orderkey_count,
                   COUNT(DISTINCT o_orderkey)   AS o_orderkey_nunique
            FROM orders
        """,
        "q3_top_revenue_orders": """
            SELECT l_orderkey,
                   ROUND(SUM(l_extendedprice), 2) AS revenue,
                   o_orderdate
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-03-15'
              AND l_shipdate  > TIMESTAMP '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_regional_revenue": """
            SELECT n_name,
                   ROUND(SUM(l_extendedprice), 2) AS revenue,
                   COUNT(l_orderkey) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1999-01-01'
            GROUP BY n_name
            ORDER BY n_name
        """,
        "dedup_first_per_key": """
            SELECT o_custkey, o_orderkey, o_orderdate FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       ROW_NUMBER() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS rn
                FROM orders
            ) WHERE rn = 1
        """,
        "sort_topk": """
            SELECT l_orderkey, l_linenumber,
                   ROUND(l_extendedprice, 2) AS l_extendedprice
            FROM lineitem
            ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
            LIMIT 25
        """,
        "union_by_name": """
            SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS c_acctbal
            FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT c_custkey, c_mktsegment, NULL AS c_acctbal
            FROM customer WHERE c_mktsegment = 'MACHINERY'
        """,
        "set_ops": """
            WITH a AS (
                SELECT DISTINCT c_nationkey AS nationkey FROM customer
                WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
            ), b AS (
                SELECT DISTINCT c_nationkey AS nationkey FROM customer
                WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 9000
            )
            SELECT nationkey, 'both' AS which
            FROM (SELECT nationkey FROM a INTERSECT SELECT nationkey FROM b)
            UNION ALL
            SELECT nationkey, 'building_only' AS which
            FROM (SELECT nationkey FROM a EXCEPT SELECT nationkey FROM b)
            ORDER BY which, nationkey
        """,
        "group_count": """
            SELECT o_orderpriority, COUNT(*) AS count
            FROM orders GROUP BY o_orderpriority
        """,
        "custom_sql_passthrough": """
            SELECT l_returnflag,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                       AS disc_revenue,
                   COUNT(*) AS n
            FROM lineitem
            WHERE l_quantity > 25
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "window_ranking": """
            SELECT o_orderkey, o_orderpriority,
                   ROUND(o_totalprice, 2) AS o_totalprice,
                   CAST(ROW_NUMBER() OVER w AS INT) AS rn,
                   CAST(RANK() OVER w AS INT) AS rnk,
                   CAST(DENSE_RANK() OVER w AS INT) AS drnk,
                   FLOOR(PERCENT_RANK() OVER w * 1e6 + 0.5) / 1e6 AS prnk,
                   FLOOR(CUME_DIST() OVER w * 1e6 + 0.5) / 1e6 AS cdist,
                   CAST(NTILE(4) OVER w AS INT) AS quartile
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
        """,
        "window_offsets": """
            SELECT event_id, user_id,
                   ROUND(value, 2) AS value,
                   ROUND(LAG(value, 1) OVER w, 2)  AS value_lag_1,
                   ROUND(LEAD(value, 2) OVER w, 2) AS value_lead_2,
                   ROUND(FIRST_VALUE(value) OVER w, 2) AS value_first,
                   ROUND(LAST_VALUE(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING), 2) AS value_last,
                   ROUND(NTH_VALUE(value, 3) OVER w, 2) AS value_nth_3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "window_running": """
            SELECT event_id, user_id,
                   ROUND(SUM(value) OVER w_run, 4) AS running_sum,
                   FLOOR(ROUND(SUM(value) OVER w_run, 2)
                         / COUNT(value) OVER w_run * 1e4 + 0.5) / 1e4
                       AS running_avg,
                   FLOOR(ROUND(SUM(value) OVER w5, 2)
                         / COUNT(value) OVER w5 * 1e4 + 0.5) / 1e4
                       AS moving_avg_5,
                   ROUND(SUM(value) OVER w3, 4)    AS moving_sum_3
            FROM events
            WINDOW
              w_run AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
              w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY event_id
        """,
        "pivot_status": """
            SELECT o_orderpriority,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2)
                       AS "F",
                   ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2)
                       AS "O",
                   ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2)
                       AS "P"
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "melt_part": """
            SELECT p_partkey, 'p_size' AS measure,
                   ROUND(CAST(p_size AS DOUBLE), 2) AS val
            FROM part
            UNION ALL
            SELECT p_partkey, 'p_retailprice' AS measure,
                   ROUND(p_retailprice, 2) AS val
            FROM part
        """,
        "rollup_subtotals": """
            SELECT o_orderpriority, o_orderstatus,
                   ROUND(SUM(o_totalprice), 2) AS total,
                   COUNT(*) AS n
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   COUNT(*) AS n
            FROM lineitem
            GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "resample_hourly": """
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket,
                   ROUND(SUM(value), 2) AS value_sum,
                   COUNT(value) AS value_count
            FROM events
            GROUP BY event_type, date_trunc('hour', ts)
        """,
        "rolling_stats": """
            SELECT event_id, event_type,
                   FLOOR(ROUND(SUM(value) OVER w, 2)
                         / COUNT(value) OVER w * 1e4 + 0.5) / 1e4 AS roll_mean,
                   ROUND(MIN(value) OVER w, 2) AS roll_min,
                   ROUND(MAX(value) OVER w, 2) AS roll_max,
                   FLOOR(MEDIAN(value) OVER w * 1e4 + 0.5) / 1e4 AS roll_median
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "lags_and_diffs": """
            SELECT event_id, user_id,
                   ROUND(LAG(value, 1) OVER w, 2) AS value_lag_1,
                   ROUND(LAG(value, 3) OVER w, 2) AS value_lag_3,
                   ROUND(value - LAG(value, 1) OVER w, 2) AS value_diff_1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "time_features": """
            SELECT event_id,
                   CAST(EXTRACT(hour FROM ts) AS INT)        AS ts_hour,
                   CAST(EXTRACT(day FROM ts) AS INT)         AS ts_day,
                   CAST(EXTRACT(isodow FROM ts) - 1 AS INT)  AS ts_day_of_week,
                   dayname(ts)                                AS ts_day_name,
                   CAST(EXTRACT(month FROM ts) AS INT)       AS ts_month,
                   monthname(ts)                              AS ts_month_name,
                   CAST(EXTRACT(quarter FROM ts) AS INT)     AS ts_quarter,
                   CAST(EXTRACT(year FROM ts) AS INT)        AS ts_year,
                   CASE WHEN EXTRACT(isodow FROM ts) >= 6 THEN 1 ELSE 0 END
                       AS ts_is_weekend,
                   CASE WHEN EXTRACT(isodow FROM ts) < 6 THEN 1 ELSE 0 END
                       AS ts_is_business_day,
                   CAST(EXTRACT(week FROM ts) AS INT)        AS ts_week_of_year,
                   CAST(EXTRACT(doy FROM ts) AS INT)         AS ts_day_of_year
            FROM events
        """,
        "outliers_iqr": """
            WITH b AS (
                SELECT quantile_cont(value, 0.25) AS q1,
                       quantile_cont(value, 0.75) AS q3
                FROM events
            )
            SELECT event_id,
                   CAST(value < q1 - 1.5 * (q3 - q1)
                        OR value > q3 + 1.5 * (q3 - q1) AS INT) AS is_outlier
            FROM events, b
        """,
        "sessionize_events": """
            SELECT event_id, user_id,
                   CAST(SUM(CASE WHEN prev_ts IS NULL
                            OR ts - prev_ts > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS session_id
            FROM (
                SELECT event_id, user_id, ts,
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_ts
                FROM events
            )
        """,
        "interpolate_missing": """
            WITH d AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN event_type <> 'error' THEN value END AS v,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                                          ORDER BY ts) AS pos
                FROM events
            ), e AS (
                SELECT event_id, user_id, v, pos,
                       LAST_VALUE(v IGNORE NULLS) OVER wf  AS pv,
                       LAST_VALUE(CASE WHEN v IS NOT NULL THEN pos END
                                  IGNORE NULLS) OVER wf    AS pp,
                       FIRST_VALUE(v IGNORE NULLS) OVER wb AS nv,
                       FIRST_VALUE(CASE WHEN v IS NOT NULL THEN pos END
                                   IGNORE NULLS) OVER wb   AS np
                FROM d
                WINDOW
                  wf AS (PARTITION BY user_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wb AS (PARTITION BY user_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
            )
            SELECT event_id, user_id,
                   FLOOR((CASE
                          WHEN v IS NOT NULL THEN v
                          WHEN pp IS NULL THEN nv
                          WHEN np IS NULL THEN pv
                          ELSE pv + (nv - pv) * (pos - pp) / (np - pp)
                          END) * 1e4 + 0.5) / 1e4 AS value
            FROM e
        """,
        "tfidf_doc_mass": f"""
            WITH t AS (
                SELECT doc_id, unnest({_DD_TOKS}) AS tok FROM documents
            ), tf AS (
                SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2
            ), dfq AS (
                SELECT tok, count(*) AS dfc FROM tf GROUP BY 1
            ), n AS (
                SELECT count(*) AS nd FROM documents
            )
            SELECT tf.doc_id,
                   FLOOR(sum(tf.tf * ln((n.nd + 1) / (dfq.dfc + 1)))
                         * 1e4 + 0.5) / 1e4 AS tfidf_mass,
                   FLOOR(max(tf.tf * ln((n.nd + 1) / (dfq.dfc + 1)))
                         * 1e6 + 0.5) / 1e6 AS tfidf_max,
                   count(*) AS n_distinct_terms
            FROM tf JOIN dfq USING (tok), n
            GROUP BY tf.doc_id
        """,
        "doc_quality_scores": f"""
            WITH d AS (
                SELECT doc_id, text, {_DD_TOKS} AS w, length(text) AS nc
                FROM documents
            ), s AS (
                SELECT doc_id,
                       len(w) AS n_words,
                       CASE WHEN len(w) > 0 THEN
                           list_sum(list_transform(w, t -> length(t))) / len(w)
                       END AS awl,
                       CASE WHEN nc > 0 THEN
                           (nc - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                           / nc END AS punct,
                       CASE WHEN nc > 0 THEN
                           (nc - length(regexp_replace(text, '[0-9]', '', 'g')))
                           / nc END AS digit,
                       CASE WHEN len(w) > 0 THEN
                           len(list_filter(w, t -> list_contains(
                               {_stopword_list_sql()}, t)))
                           / len(w) END AS stop
                FROM d
            )
            SELECT doc_id,
                   FLOOR((0.3 * LEAST(n_words / 100.0, 1.0)
                        + 0.2 * (CASE WHEN awl BETWEEN 3.0 AND 10.0
                                      THEN 1.0 ELSE 0.0 END)
                        + 0.2 * LEAST(stop * 3, 1.0)
                        + 0.3 * GREATEST(0.0, 1.0 - punct * 4 - digit * 2)
                   ) * 1e6 + 0.5) / 1e6 AS quality
            FROM s
        """,
        "text_statistics": f"""
            WITH d AS (
                SELECT doc_id, text, {_DD_TOKS} AS w, length(text) AS nc
                FROM documents
            )
            SELECT doc_id,
                   nc AS n_chars_calc,
                   len(w) AS n_words,
                   len(list_filter(string_split_regex(text, '[.!?]+'),
                                   s -> trim(s) <> '')) AS n_sentences,
                   FLOOR((CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, t -> length(t))) / len(w)
                       END) * 1e4 + 0.5) / 1e4 AS avg_word_len,
                   FLOOR((CASE WHEN nc > 0 THEN
                       (nc - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                       / nc END) * 1e6 + 0.5) / 1e6 AS punct_ratio,
                   FLOOR((CASE WHEN nc > 0 THEN
                       (nc - length(regexp_replace(text, '[0-9]', '', 'g')))
                       / nc END) * 1e6 + 0.5) / 1e6 AS digit_ratio,
                   FLOOR((CASE WHEN len(w) > 0 THEN
                       len(list_filter(w, t -> list_contains(
                           {_stopword_list_sql()}, t)))
                       / len(w) END) * 1e6 + 0.5) / 1e6 AS stopword_ratio
            FROM d
        """,
        "token_counts": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
            FROM documents
        """,
        "gopher_repetition": f"""
            WITH w AS (
                SELECT doc_id, {_DD_TOKS} AS ws FROM documents
            ),
            g AS (
                SELECT doc_id, 2 AS n, ws[i] || ' ' || ws[i+1] AS gram
                FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
                UNION ALL
                SELECT doc_id, 3 AS n,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
                FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
            ),
            cnt AS (
                SELECT doc_id, n, gram, count(*) AS c
                FROM g GROUP BY doc_id, n, gram
            ),
            agg AS (
                SELECT doc_id,
                    CAST(coalesce(max(CASE WHEN n = 2 THEN c END), 0)
                         AS BIGINT) AS top_bigram_count,
                    CAST(coalesce(sum(CASE WHEN n = 2 THEN c END), 0)
                         AS BIGINT) AS bigram_total,
                    CAST(coalesce(sum(CASE WHEN n = 3 AND c > 1 THEN c END), 0)
                         AS BIGINT) AS dup_trigram_count,
                    CAST(coalesce(sum(CASE WHEN n = 3 THEN c END), 0)
                         AS BIGINT) AS trigram_total
                FROM cnt GROUP BY doc_id
            )
            SELECT a.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
                   a.top_bigram_count, a.bigram_total,
                   FLOOR(CASE WHEN a.bigram_total > 0
                         THEN a.top_bigram_count / a.bigram_total
                         ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS top_bigram_frac,
                   a.dup_trigram_count, a.trigram_total,
                   FLOOR(CASE WHEN a.trigram_total > 0
                         THEN a.dup_trigram_count / a.trigram_total
                         ELSE 0.0 END * 1e6 + 0.5) / 1e6 AS dup_trigram_frac
            FROM agg a JOIN w USING (doc_id)
        """,
        "kmeans_lloyd": _kmeans_oracle(),
        "kmeans_cluster_sizes": _kmeans_sizes_oracle(),
        "drift_psi_priorities": """
            WITH fa AS (
                SELECT o_orderpriority AS category,
                       count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)
                           AS frac_a
                FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
                GROUP BY o_orderpriority
            ),
            fb AS (
                SELECT o_orderpriority AS category,
                       count(*) / CAST(sum(count(*)) OVER () AS DOUBLE)
                           AS frac_b
                FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                GROUP BY o_orderpriority
            )
            SELECT category,
                   FLOOR(coalesce(frac_a, 0.0) * 1e6 + 0.5) / 1e6 AS frac_a,
                   FLOOR(coalesce(frac_b, 0.0) * 1e6 + 0.5) / 1e6 AS frac_b,
                   FLOOR((coalesce(frac_a, 0.0) - coalesce(frac_b, 0.0))
                         * ln((coalesce(frac_a, 0.0) + 1e-6)
                              / (coalesce(frac_b, 0.0) + 1e-6))
                         * 1e6 + 0.5) / 1e6 AS psi_term
            FROM fa FULL OUTER JOIN fb USING (category)
        """,
        "length_gini_by_source": """
            WITH ranked AS (
                SELECT source, n_chars,
                       row_number() OVER (PARTITION BY source
                           ORDER BY n_chars) AS i
                FROM documents WHERE n_chars IS NOT NULL
            ), g AS (
                SELECT source, count(*) AS n, sum(n_chars) AS total,
                       sum(i * n_chars) AS si
                FROM ranked GROUP BY source
            )
            SELECT source, n, CAST(total AS BIGINT) AS total,
                   FLOOR((CASE WHEN total = 0 THEN 0.0
                          ELSE (2.0 * CAST(si AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                               - (CAST(n AS DOUBLE) + 1.0)
                                 / CAST(n AS DOUBLE) END)
                         * 1e6 + 0.5) / 1e6 AS gini
            FROM g
        """,
        "gini_concentration_prices": """
            WITH x AS (
                SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v
                FROM lineitem WHERE l_extendedprice IS NOT NULL
            ), r AS (
                SELECT v, row_number() OVER (ORDER BY v) AS i FROM x
            ), g AS (
                SELECT count(*) AS n, sum(v) AS total, 2 * sum(i * v) AS si2
                FROM r
            )
            SELECT n, CAST(total AS BIGINT) AS total,
                   FLOOR((CASE WHEN total = 0 THEN 0.0
                          ELSE CAST(si2 AS DOUBLE)
                               / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))
                               - (CAST(n AS DOUBLE) + 1.0)
                                 / CAST(n AS DOUBLE) END)
                         * 1e6 + 0.5) / 1e6 AS gini
            FROM g
        """,
        "robust_outliers_events": """
            WITH m AS (
                SELECT quantile_cont(value, 0.5) AS med
                FROM events WHERE value IS NOT NULL
            ), d AS (
                SELECT quantile_cont(abs(value - med), 0.5) AS mad
                FROM events, m WHERE value IS NOT NULL
            )
            SELECT event_id, value,
                   FLOOR(abs(value - med) / (1.4826 * mad)
                         * 1e4 + 0.5) / 1e4 AS robust_z
            FROM events, m, d
            WHERE abs(value - med) / (1.4826 * mad) > 3.5
        """,
        "ks_drift_prices": """
            WITH a AS (
                SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                       count(*) AS ca
                FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
            ), b AS (
                SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                       count(*) AS cb
                FROM lineitem WHERE l_returnflag = 'N' GROUP BY 1
            ), j AS (
                SELECT coalesce(a.v, b.v) AS v,
                       coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
                FROM a FULL JOIN b ON a.v = b.v
            ), t AS (
                SELECT CAST(sum(ca) AS DOUBLE) AS na,
                       CAST(sum(cb) AS DOUBLE) AS nb
                FROM j
            ), c AS (
                SELECT v,
                       sum(ca) OVER (ORDER BY v) AS cum_a,
                       sum(cb) OVER (ORDER BY v) AS cum_b
                FROM j
            ), d AS (
                SELECT v,
                       abs(CAST(cum_a AS DOUBLE) / na
                           - CAST(cum_b AS DOUBLE) / nb) AS dd
                FROM c, t
            ), top AS (
                SELECT dd, v FROM d ORDER BY dd DESC, v LIMIT 1
            ), lamb AS (
                -- Stephens small-sample correction, then the 100-term
                -- Kolmogorov series as a left fold (matches Spark's
                -- F.aggregate init 0.0: 0.0 + t1 == t1 bit-exact)
                SELECT dd, v, na, nb,
                       (sqrt(na * nb / (na + nb)) + 0.12
                        + 0.11 / sqrt(na * nb / (na + nb))) * dd AS lam
                FROM top, t
            )
            SELECT FLOOR(dd * 1e6 + 0.5) / 1e6 AS ks_stat,
                   FLOOR((CASE WHEN lam < 0.2 THEN 1.0
                          ELSE greatest(0.0, least(1.0,
                       2.0 * list_reduce(
                           list_transform(range(1, 101), k ->
                               (CASE WHEN k % 2 = 1 THEN 1.0 ELSE -1.0 END)
                               * exp(-2.0 * CAST(k * k AS DOUBLE)
                                     * lam * lam)),
                           (acc, x) -> acc + x))) END)
                       * 1e6 + 0.5) / 1e6 AS p_value,
                   CAST(na AS BIGINT) AS n_a,
                   CAST(nb AS BIGINT) AS n_b,
                   v AS at_value
            FROM lamb
        """,
        "drift_psi_prices": """
            WITH binned AS (
                SELECT (CASE WHEN l_extendedprice > 20000.0 THEN 1 ELSE 0 END
                      + CASE WHEN l_extendedprice > 40000.0 THEN 1 ELSE 0 END
                      + CASE WHEN l_extendedprice > 60000.0 THEN 1 ELSE 0 END
                      + CASE WHEN l_extendedprice > 80000.0 THEN 1 ELSE 0 END)
                       AS bin,
                       l_shipdate < TIMESTAMP '1998-01-01' AS early
                FROM lineitem
            ),
            fa AS (
                SELECT b.bin, coalesce(n.c, 0) / t.n AS frac_a
                FROM (SELECT unnest(range(0, 5)) AS bin) b
                CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) n FROM binned
                            WHERE early) t
                LEFT JOIN (SELECT bin, CAST(count(*) AS DOUBLE) c FROM binned
                           WHERE early GROUP BY bin) n ON b.bin = n.bin
            ),
            fb AS (
                SELECT b.bin, coalesce(n.c, 0) / t.n AS frac_b
                FROM (SELECT unnest(range(0, 5)) AS bin) b
                CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) n FROM binned
                            WHERE NOT early) t
                LEFT JOIN (SELECT bin, CAST(count(*) AS DOUBLE) c FROM binned
                           WHERE NOT early GROUP BY bin) n ON b.bin = n.bin
            )
            SELECT CAST(fa.bin AS INTEGER) AS bin,
                   FLOOR(frac_a * 1e6 + 0.5) / 1e6 AS frac_a,
                   FLOOR(frac_b * 1e6 + 0.5) / 1e6 AS frac_b,
                   FLOOR((frac_a - frac_b)
                         * ln((frac_a + 1e-6) / (frac_b + 1e-6))
                         * 1e6 + 0.5) / 1e6 AS psi_term
            FROM fa JOIN fb ON fa.bin = fb.bin
        """,
        "stratified_sample_docs": """
            SELECT doc_id, source FROM documents
            WHERE (CAST(('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)),
                         1, 13)) AS BIGINT) % 1000000)
                  < CASE source WHEN 'src0' THEN 1000000
                                WHEN 'src1' THEN 500000
                                WHEN 'src2' THEN 0
                                ELSE 100000 END
        """,
        "priority_sample_docs": f"""
            SELECT doc_id, source,
                   {_DD_HASH.format(x="'p8' || CAST(doc_id AS VARCHAR)")}
                       AS priority
            FROM documents
            ORDER BY priority, doc_id
            LIMIT 64
        """,
        "token_shard_packing": f"""
            WITH t AS (
                SELECT doc_id, len({_DD_TOKS}) AS n_tokens FROM documents
            ),
            o AS (
                SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                       CAST(sum(n_tokens) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_tokens
                            AS BIGINT) AS token_offset
                FROM t
            )
            SELECT doc_id, n_tokens, token_offset,
                   CAST(floor(token_offset / 2000) AS BIGINT) AS shard
            FROM o
        """,
        "length_batch_packing": """
            WITH d AS (
                SELECT doc_id,
                       GREATEST(CAST(n_chars AS BIGINT), 1) AS tok,
                       CAST(FLOOR(LOG2(GREATEST(CAST(n_chars AS BIGINT),
                                                1))) AS INT) AS len_bucket,
                       CAST((CAST(('0x' || substr(md5('lbatch'
                                 || CAST(doc_id AS VARCHAR)), 1, 13))
                                 AS BIGINT) % 1000000) % 8
                            AS INT) AS shard,
                       n_chars
                FROM documents
            ), w AS (
                SELECT *,
                       MAX(tok) OVER (PARTITION BY len_bucket, shard)
                           AS mx,
                       ROW_NUMBER() OVER (PARTITION BY len_bucket, shard
                           ORDER BY n_chars DESC, doc_id) AS rn
                FROM d
            ), b AS (
                SELECT *,
                       (rn - 1) // GREATEST(1,
                           CAST(FLOOR(4000.0 / mx) AS BIGINT)) AS batch
                FROM w
            )
            SELECT len_bucket, shard, batch,
                   COUNT(*) AS n_docs,
                   MAX(tok) AS max_len,
                   CAST(SUM(tok) AS BIGINT) AS sum_len,
                   FLOOR((1.0 - CAST(SUM(tok) AS DOUBLE)
                          / (COUNT(*) * MAX(tok))) * 1e6 + 0.5) / 1e6
                       AS padding_frac
            FROM b
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        "bpe_token_counts": f"""
            WITH s AS (
                SELECT doc_id, {_bpe_stream_sql()} AS st FROM documents
            )
            SELECT doc_id,
                   CAST(coalesce(length(st) - length(replace(st, '(', '')),
                                 0) AS BIGINT) AS n_bpe_tokens
            FROM s
        """,
        "bpe_token_count_32k": _bpe32k_count_oracle(),
        "bpe_roundtrip_audit": _bpe32k_roundtrip_oracle(),
        "bpe_shard_packing": f"""
            WITH s AS (
                SELECT doc_id, {_bpe_stream_sql()} AS st FROM documents
            ),
            t AS (
                SELECT doc_id,
                       CAST(coalesce(length(st) -
                                     length(replace(st, '(', '')), 0)
                            AS BIGINT) AS n_bpe_tokens
                FROM s
            ),
            o AS (
                SELECT doc_id, n_bpe_tokens,
                       CAST(sum(n_bpe_tokens) OVER (ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) - n_bpe_tokens
                            AS BIGINT) AS token_offset
                FROM t
            )
            SELECT doc_id, n_bpe_tokens, token_offset,
                   CAST(floor(token_offset / 4000) AS BIGINT) AS shard
            FROM o
        """,
        "bpe_vocab_usage": f"""
            WITH s AS (
                SELECT doc_id, replace({_bpe_stream_sql()}, ' ', '') AS st
                FROM documents
            ),
            tk AS (
                SELECT doc_id, unnest(string_split(
                    substr(st, 2, length(st) - 2), ')(' )) AS token
                FROM s WHERE length(st) > 0
            )
            SELECT token,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM tk
            GROUP BY token
            ORDER BY n_occurrences DESC, token ASC
            LIMIT 50
        """,
        "benchmark_decontamination": f"""
            WITH w AS (
                SELECT doc_id, {_DD_TOKS} AS ws FROM documents
            ),
            g AS (
                SELECT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                       ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                       ws[i+6] || ' ' || ws[i+7] AS gram
                FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 6)) AS i)
            ),
            gh AS (
                SELECT doc_id, {_DD_HASH.format(x='gram')} AS h FROM g
            ),
            ev AS (SELECT DISTINCT h FROM gh WHERE doc_id < 100),
            agg AS (
                SELECT c.doc_id,
                       count(*) AS n_grams,
                       sum(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
                           AS dirty_grams
                FROM (SELECT doc_id, h FROM gh WHERE doc_id >= 100) c
                LEFT JOIN ev ON c.h = ev.h
                GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(coalesce(a.dirty_grams, 0) AS BIGINT) AS dirty_grams,
                   FLOOR((CASE WHEN coalesce(a.n_grams, 0) > 0
                          THEN coalesce(a.dirty_grams, 0) / a.n_grams
                          ELSE 0.0 END) * 1e6 + 0.5) / 1e6
                       AS contamination_frac,
                   CASE WHEN coalesce(a.dirty_grams, 0) > 0 THEN 1 ELSE 0 END
                       AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id >= 100) d
            LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id
        """,
        "duplicate_span_flags": f"""
            WITH w AS (
                SELECT doc_id, {_DD_TOKS} AS ws FROM documents
            ),
            g AS (
                SELECT doc_id,
                       ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
                       ws[i+3] || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' ||
                       ws[i+6] || ' ' || ws[i+7] || ' ' || ws[i+8] || ' ' ||
                       ws[i+9] AS gram
                FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 8)) AS i)
            ),
            pd AS (
                SELECT doc_id, {_DD_HASH.format(x='gram')} AS h,
                       count(*) AS occ
                FROM g GROUP BY 1, 2
            ),
            dfreq AS (SELECT h, count(*) AS docs FROM pd GROUP BY h),
            agg AS (
                SELECT pd.doc_id,
                       sum(occ) AS n_windows,
                       sum(CASE WHEN docs > 1 THEN occ ELSE 0 END)
                           AS dup_windows
                FROM pd JOIN dfreq USING (h) GROUP BY pd.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_windows, 0) AS BIGINT) AS n_windows,
                   CAST(coalesce(a.dup_windows, 0) AS BIGINT) AS dup_windows,
                   FLOOR((CASE WHEN coalesce(a.n_windows, 0) > 0
                          THEN coalesce(a.dup_windows, 0) / a.n_windows
                          ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS dup_frac
            FROM (SELECT doc_id FROM documents) d
            LEFT JOIN agg a USING (doc_id)
            ORDER BY d.doc_id
        """,
        "domain_quota_cap": """
            WITH r AS (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY n_chars DESC,
                                    CAST(('0x' || substr(md5('quota' ||
                                        CAST(doc_id AS VARCHAR)), 1, 13))
                                        AS BIGINT) % 1000000 ASC,
                                    doc_id ASC) AS rk
                FROM documents
            )
            SELECT doc_id, source, n_chars
            FROM r WHERE rk <= 10 ORDER BY source, doc_id
        """,
        "unigram_logprob_scores": f"""
            WITH tok AS (
                SELECT doc_id, unnest({_DD_TOKS}) AS t FROM documents
            ),
            cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
            tot AS (SELECT CAST(sum(c) AS DOUBLE) AS s FROM cnt)
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   FLOOR(avg(ln(c / s)) * 1e4 + 0.5) / 1e4 AS avg_logprob,
                   FLOOR(min(ln(c / s)) * 1e4 + 0.5) / 1e4 AS min_logprob
            FROM tok JOIN cnt USING (t) CROSS JOIN tot
            GROUP BY doc_id
        """,
        "classifier_quality_scores": _classifier_oracle(),
        "classifier_trained_scores": _classifier_trained_oracle(),
        "classifier_threshold_sweep": _threshold_sweep_oracle(),
        "corpus_zipf_stats": f"""
            WITH toks AS (
                SELECT source, unnest({_DD_TOKS}) AS t FROM documents
            ),
            counts AS (
                SELECT source, t, COUNT(*) AS c FROM toks GROUP BY 1, 2
            ),
            vocab AS (
                SELECT source, SUM(c) AS n_tokens, COUNT(*) AS vocab_size,
                       SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax
                FROM counts GROUP BY 1
            ),
            ranked AS (
                SELECT source, ln(CAST(r AS DOUBLE)) AS x,
                       ln(CAST(c AS DOUBLE)) AS y
                FROM (
                    SELECT source, c,
                           row_number() OVER (
                               PARTITION BY source ORDER BY c DESC, t
                           ) AS r
                    FROM counts
                ) WHERE r <= 100
            ),
            slope AS (
                SELECT source,
                       (avg(x * y) - avg(x) * avg(y))
                       / (avg(x * x) - avg(x) * avg(x)) AS zipf_slope
                FROM ranked GROUP BY 1
            )
            SELECT v.source,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(vocab_size AS BIGINT) AS vocab_size,
                   FLOOR(CAST(vocab_size AS DOUBLE) / n_tokens
                         * 1e6 + 0.5) / 1e6 AS type_token_ratio,
                   FLOOR(CAST(hapax AS DOUBLE) / vocab_size
                         * 1e6 + 0.5) / 1e6 AS hapax_frac,
                   FLOOR(zipf_slope * 1e6 + 0.5) / 1e6 AS zipf_slope
            FROM vocab v JOIN slope USING (source)
        """,
        "source_js_divergence": f"""
            WITH toks AS (
                SELECT source, unnest({_DD_TOKS}) AS t FROM documents
            ),
            counts AS (
                SELECT source, t, CAST(COUNT(*) AS DOUBLE) AS c
                FROM toks GROUP BY 1, 2
            ),
            totals AS (SELECT source, SUM(c) AS n FROM counts GROUP BY 1),
            vocab AS (SELECT DISTINCT t FROM counts),
            vn AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
            pairs AS (
                SELECT a.source AS source_a, b.source AS source_b
                FROM totals a JOIN totals b ON a.source < b.source
            ),
            grid AS (SELECT source_a, source_b, t FROM pairs, vocab),
            j AS (
                SELECT g.source_a, g.source_b,
                       (COALESCE(ca.c, 0.0) + 0.5)
                           / (ta.n + 0.5 * vn.v) AS p,
                       (COALESCE(cb.c, 0.0) + 0.5)
                           / (tb.n + 0.5 * vn.v) AS q
                FROM grid g
                LEFT JOIN counts ca
                       ON ca.source = g.source_a AND ca.t = g.t
                LEFT JOIN counts cb
                       ON cb.source = g.source_b AND cb.t = g.t
                JOIN totals ta ON ta.source = g.source_a
                JOIN totals tb ON tb.source = g.source_b, vn
            )
            SELECT source_a, source_b,
                   FLOOR(SUM(0.5 * p * ln(p / ((p + q) / 2.0))
                             + 0.5 * q * ln(q / ((p + q) / 2.0)))
                         * 1e6 + 0.5) / 1e6 AS js_divergence
            FROM j GROUP BY 1, 2
        """,
        "bigram_logprob_scores": _BIGRAM_ORACLE,
        "document_chunks": _CHUNKS_ORACLE,
        "boilerplate_line_removal": _BOILERPLATE_ORACLE,
        "url_domain_features": _URL_FEATURES_ORACLE,
        "markup_stripping": _MARKUP_ORACLE,
        "epoch_shuffle_positions": _EPOCH_SHUFFLE_ORACLE,
        "domain_blocklist_rollup": _DOMAIN_ROLLUP_ORACLE,
        "embedding_quantization": _QUANTIZE_ORACLE,
        "zorder_locality": _zorder_oracle(),
        "orc_scan_roundtrip": """
            SELECT p_partkey, p_brand, p_retailprice FROM part
        """,
        "sequence_packing": _PACK_CONTEXTS_ORACLE,
        "cms_token_frequencies": _cms_oracle(),
        "corpus_split_stats": _SPLIT_ORACLE,
        "mixture_sample_docs": _MIXTURE_ORACLE,
        "luhn_pan_audit": """
            WITH injected AS (
                SELECT doc_id,
                       text || ' card 4'
                       || lpad(CAST((doc_id * 7919) % 100000000000000
                               AS VARCHAR), 14, '0')
                       || ' acct 5412-'
                       || lpad(CAST((doc_id * 104729) % 1000000000000
                               AS VARCHAR), 12, '0')
                       || ' end' AS t
                FROM documents
            ), cands AS (
                SELECT doc_id,
                       unnest(regexp_extract_all(t,
                           '[0-9][0-9 \\-]*[0-9]')) AS c
                FROM injected
            ), norm AS (
                SELECT doc_id,
                       regexp_replace(c, '[ \\-]', '', 'g') AS p
                FROM cands
            ), f AS (
                SELECT doc_id, p, length(p) AS n
                FROM norm WHERE length(p) BETWEEN 13 AND 19
            ), luhn AS (
                SELECT doc_id, p, n,
                       list_reduce(list_transform(range(1, n + 1), i ->
                           CASE WHEN i % 2 = 1
                           THEN CAST(substr(reverse(p), CAST(i AS INT), 1)
                                AS INT)
                           ELSE CASE
                             WHEN CAST(substr(reverse(p), CAST(i AS INT), 1)
                                  AS INT) * 2 > 9
                             THEN CAST(substr(reverse(p), CAST(i AS INT), 1)
                                  AS INT) * 2 - 9
                             ELSE CAST(substr(reverse(p), CAST(i AS INT), 1)
                                  AS INT) * 2
                           END END),
                           (acc, x) -> acc + x) AS s
                FROM f
            )
            SELECT doc_id,
                   substr(p, 1, 6) || repeat('*', n - 10)
                   || substr(p, n - 3, 4) AS pan_masked,
                   CASE WHEN p LIKE '4%' THEN 'visa'
                        WHEN regexp_matches(p, '^5[1-5]') THEN 'mastercard'
                        WHEN regexp_matches(p, '^3[47]') THEN 'amex'
                        WHEN regexp_matches(p, '^6(011|5)') THEN 'discover'
                        ELSE 'other' END AS pan_network,
                   CAST(n AS INT) AS pan_len,
                   (s % 10 = 0) AS luhn_valid
            FROM luhn
        """,
        "pii_redaction": """
            WITH base AS (
                SELECT c_custkey,
                       c_name || ' '
                       || lower(regexp_replace(c_name, '[^A-Za-z0-9]', '',
                                               'g'))
                       || '@example.com'
                       || ' ssn ' || printf('%03d-%02d-%04d',
                            c_custkey % 1000, c_custkey % 100,
                            (c_custkey * 3) % 10000)
                       || ' tel ' || printf('%02d-%03d-%03d-%04d',
                            c_nationkey + 10, c_custkey % 1000,
                            (c_custkey * 7) % 1000, (c_custkey * 13) % 10000)
                       AS blob
                FROM customer
            ),
            r1 AS (
                SELECT c_custkey,
                       regexp_replace(blob,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                         '[EMAIL]', 'g') AS b1,
                       len(regexp_extract_all(blob,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                         AS n1
                FROM base
            ),
            r2 AS (
                SELECT c_custkey,
                       regexp_replace(b1, '\\b\\d{3}-\\d{2}-\\d{4}\\b',
                                      '[SSN]', 'g') AS b2,
                       n1,
                       len(regexp_extract_all(b1,
                           '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS n2
                FROM r1
            )
            SELECT c_custkey,
                   regexp_replace(b2, '\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b',
                                  '[PHONE]', 'g') AS blob,
                   CAST(n1 + n2 + len(regexp_extract_all(b2,
                        '\\b\\d{2}-\\d{3}-\\d{3}-\\d{4}\\b'))
                        AS BIGINT) AS pii_redactions
            FROM r2
        """,
        "language_scores": _language_oracle(),
        "doc_fingerprints": f"""
            SELECT doc_id, {_DD_FP} AS fingerprint
            FROM (SELECT doc_id, {_DD_TOKS} AS w FROM documents)
        """,
        "dedup_exact_groups": f"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id, text FROM documents WHERE doc_id < 50
            ),
            f AS (
                SELECT doc_id, {_DD_FP} AS fp
                FROM (SELECT doc_id, {_DD_TOKS} AS w FROM corpus)
            )
            SELECT MIN(doc_id) AS canonical_id,
                   COUNT(*) AS n_dups,
                   '[' || array_to_string(list_sort(list(doc_id)), ', ') || ']'
                       AS members
            FROM f GROUP BY fp HAVING COUNT(*) > 1
        """,
        "minhash_neardup": _minhash_oracle(),
        "cross_corpus_decontamination": _cross_corpus_oracle(),
        "cluster_best_exemplar": _best_exemplar_oracle(),
        "soft_dedup_weights": _soft_dedup_oracle(),
        "mixed_language_docs": _mixed_language_oracle(),
        "split_leakage_pairs": _split_leakage_oracle(),
        "pagerank_trade_graph": _pagerank_oracle(),
        "pagerank_weighted_trade": _pagerank_oracle(weighted=True),
        "random_projection_embeddings": _random_projection_oracle(),
        "fuzzy_name_matches": _FUZZY_ORACLE,
        "skew_diagnosis": _SKEW_ORACLE,
        "weighted_sample_docs": _WSAMPLE_ORACLE,
        "ann_quantized_topk": _QANN_ORACLE,
        "cdc_document_chunks": _CDC_ORACLE,
        "ann_pq_topk": _pq_oracle(),
        "ann_ivfpq_topk": _ivfpq_oracle(),
        "corpus_snapshot_diff": _SNAPDIFF_ORACLE,
        "dsir_importance_scores": _DSIR_ORACLE,
        "paragraph_dedup_docs": _PARA_DEDUP_ORACLE,
        "canonical_url_dedup": _CANON_URL_ORACLE,
        "bpe_fertility_by_lang": _FERTILITY_ORACLE_TMPL.format(
            bpe_stream=_bpe_stream_sql()),
        "hard_negative_pairs": _hard_negative_oracle(),
        "temperature_mixture_docs": _TMIX_ORACLE,
        "bloom_url_membership": _BLOOM_ORACLE,
        "collocation_pmi_pairs": _PMI_ORACLE,
        # winnowing twin: same normalization, same k-gram hash, same
        # window minima (the distinct VALUE set is tie-break invariant).
        "winnowing_doc_fingerprints": f"""
            WITH nrm AS (
                SELECT doc_id,
                       array_to_string({_DD_TOKS}, ' ') AS t
                FROM documents
            ),
            g AS (
                SELECT doc_id,
                       greatest(length(t) - 7, 0) AS ng,
                       CASE WHEN length(t) >= 8 THEN
                           [{_DD_HASH.format(x='substr(t, i, 8)')}
                            for i in range(1, length(t) - 6)]
                       ELSE [] END AS h
                FROM nrm
            ),
            m AS (
                SELECT doc_id, CAST(ng AS BIGINT) AS n_kgrams,
                       CASE WHEN ng > 0 THEN
                           list_distinct(
                               [list_min(h[j:j+3])
                                for j in range(1, greatest(ng - 3, 1) + 1)]
                           )
                       ELSE [] END AS fps
                FROM g
            )
            SELECT doc_id, n_kgrams, unnest(fps) AS fingerprint
            FROM m ORDER BY doc_id, fingerprint
        """,
        # cross-source overlap twin: same per-doc distinct shingles,
        # same (source, shingle) distinct, pairwise via a<b self-join
        # (equivalent to Spark's in-row sorted-set pair walk).
        "source_overlap": f"""
            WITH d AS (
                SELECT source, {_DD_SHINGLES} AS sh
                FROM (SELECT source, {_DD_TOKS} AS w FROM documents)
            ),
            e AS (
                SELECT DISTINCT source, unnest(sh) AS h FROM d
            ),
            sizes AS (
                SELECT source, count(*) AS n FROM e GROUP BY source
            ),
            shared AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       count(*) AS shared
                FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2
            )
            SELECT source_a, source_b,
                   CAST(shared AS BIGINT) AS shared_shingles,
                   CAST(sa.n AS BIGINT) AS n_a,
                   CAST(sb.n AS BIGINT) AS n_b,
                   FLOOR(shared / CAST(sa.n + sb.n - shared AS DOUBLE)
                         * 1e6 + 0.5) / 1e6 AS jaccard
            FROM shared
            JOIN sizes sa ON source_a = sa.source
            JOIN sizes sb ON source_b = sb.source
            ORDER BY source_a, source_b
        """,
        # char-entropy twin: Spark folds sorted runs accumulating
        # Σ c·ln(c) then H = (ln n − Σ/n)/ln2; the twin folds the same
        # counts in the same sorted-char order (list_reduce seeded by a
        # prepended 0.0 == the fold's init), ln(2) inlined as the
        # identical Python double literal.
        "char_entropy_scores": """
            WITH ch AS (
                SELECT doc_id, c FROM (
                    SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM documents
                ) WHERE c <> ''
            ),
            hist AS (
                SELECT doc_id, c AS chr, count(*) AS cnt
                FROM ch GROUP BY 1, 2
            ),
            agg AS (
                SELECT doc_id,
                       CAST(SUM(cnt) AS BIGINT) AS n_chars,
                       CAST(count(*) AS BIGINT) AS distinct_chars,
                       CAST(SUM(cnt) AS DOUBLE) AS nd,
                       list(CAST(cnt AS DOUBLE) ORDER BY chr) AS h
                FROM hist GROUP BY doc_id
            )
            SELECT doc_id, n_chars, distinct_chars,
                   FLOOR(
                       (ln(nd) - list_reduce(
                           list_prepend(CAST(0.0 AS DOUBLE), h),
                           (acc, x) -> acc + x * ln(x)
                       ) / nd) / 0.6931471805599453 * 1e6 + 0.5
                   ) / 1e6 AS entropy_bits
            FROM agg ORDER BY doc_id
        """,
        # centroid-cosine twin: identical quantization, identical per-dim
        # seed sums (exact integer arithmetic, order-free), identical
        # cosine expression. cnorm = sqrt of an exact integer sum, so the
        # driver-side math.fsum and SQL SUM agree bit-for-bit.
        "centroid_quality_scores": """
            WITH q AS (
                SELECT vec_id, label,
                       list_transform(
                           embedding,
                           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000)
                                     AS DOUBLE)
                       ) AS v
                FROM embeddings
            ),
            cen AS (
                SELECT pos, SUM(x) AS s FROM (
                    SELECT unnest(v) AS x,
                           generate_subscripts(v, 1) AS pos
                    FROM q WHERE label = 0
                ) GROUP BY pos
            ),
            e AS (
                SELECT vec_id, unnest(v) AS vx,
                       generate_subscripts(v, 1) AS pos
                FROM q
            ),
            dots AS (
                SELECT vec_id, SUM(vx * s) AS dot, SUM(vx * vx) AS nv2
                FROM e JOIN cen USING (pos) GROUP BY vec_id
            ),
            cn AS (SELECT SQRT(SUM(s * s)) AS cnorm FROM cen)
            SELECT q.vec_id, CAST(label AS BIGINT) AS label,
                   FLOOR(dot / (SQRT(nv2) * cnorm) * 1e6 + 0.5) / 1e6
                       AS centroid_cosine
            FROM q JOIN dots USING (vec_id) CROSS JOIN cn
            ORDER BY q.vec_id
        """,
        "semantic_clusters": _semantic_clusters_oracle(),
        "curriculum_phase_stats": _curriculum_oracle(),
        "badword_scores": f"""
            WITH d AS (
                SELECT doc_id, {_DD_TOKS} AS w FROM documents
            ), s AS (
                SELECT doc_id, len(w) AS n,
                       len(list_filter(w, t -> list_contains(
                           {_badwords_sql()}, t))) AS hits
                FROM d
            )
            SELECT doc_id,
                   CAST(hits AS BIGINT) AS blocked_count,
                   FLOOR((CASE WHEN n > 0 THEN hits / CAST(n AS DOUBLE)
                          ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS blocked_frac,
                   CASE WHEN hits > 0 THEN 1 ELSE 0 END AS blocked_any
            FROM s ORDER BY doc_id
        """,
        "duplicate_span_removal": _SPAN_REMOVAL_ORACLE,
        "packed_shard_manifest": _SHARD_MANIFEST_ORACLE,
        "corpus_report": _corpus_report_oracle(),
        "ngram_novelty_scores": _novelty_oracle(),
        "tfidf_vectors": _tfidf_oracle(),
        "pca_projection": _pca_oracle(),
        "neardup_clusters": _neardup_clusters_oracle(),
        "corpus_curation": _curation_oracle(),
        # (ann_cosine_topk's oracle lives in the ANN section below)
        "bitext_margin_pairs": _bitext_margin_oracle(),
        "ann_lsh_topk": _ann_lsh_oracle(),
        "ann_ivf_topk": _ann_ivf_oracle(),
        "ann_recall_report": _ann_recall_oracle(),
        "neardup_recall_report": _neardup_recall_oracle(),
        "embedding_neardup": _embedding_neardup_oracle(),
        "bm25_search": _bm25_oracle(),
        "hybrid_rrf_search": _hybrid_rrf_oracle(),
        "keyword_extraction": _KEYWORD_ORACLE,
        "semantic_decontamination_flags": """
            WITH q AS (
                SELECT vec_id AS rid, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 40
            ), c AS (
                SELECT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id >= 40
            ), s AS (
                SELECT c.vec_id, q.rid,
                       list_dot_product(qv, v)
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(v, v))) AS cos
                FROM c, q
            ), best AS (
                SELECT vec_id, rid, cos,
                       ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY cos DESC, rid) AS rn
                FROM s WHERE cos >= 0.3
            )
            SELECT vec_id, rid AS ref_id,
                   FLOOR(cos * 1e6 + 0.5) / 1e6 AS cosine
            FROM best WHERE rn = 1
            ORDER BY vec_id
        """,
        "semantic_dedup_keep": _semantic_dedup_oracle(),
        "diverse_prototype_sample": _diversity_sample_oracle(),
        "k_anonymity_audit": """
            WITH b AS (
                SELECT c_nationkey, c_mktsegment,
                       CAST(floor(CAST(c_acctbal AS DOUBLE) / 1000)
                            AS BIGINT) AS bal_band
                FROM customer
            )
            SELECT c_nationkey, c_mktsegment,
                   COUNT(*) AS class_size,
                   COUNT(DISTINCT bal_band) AS distinct_sensitive,
                   COUNT(*) >= 5 AS meets_k,
                   COUNT(DISTINCT bal_band) >= 3 AS meets_l
            FROM b GROUP BY 1, 2
        """,
        "anonymity_risk_summary": """
            WITH classes AS (
                SELECT c_nationkey, c_mktsegment,
                       COUNT(*) AS class_size,
                       COUNT(*) >= 5 AS meets_k
                FROM customer GROUP BY 1, 2
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
                   CAST(SUM(CASE WHEN NOT meets_k THEN 1 ELSE 0 END)
                        AS BIGINT) AS classes_below_k,
                   CAST(SUM(CASE WHEN NOT meets_k THEN class_size
                            ELSE 0 END) AS BIGINT) AS rows_at_risk,
                   CAST(MIN(class_size) AS BIGINT) AS min_class_size,
                   FLOOR(CAST(SUM(CASE WHEN NOT meets_k THEN class_size
                                  ELSE 0 END) AS DOUBLE)
                         / SUM(class_size) * 1e6 + 0.5) / 1e6
                       AS risk_fraction
            FROM classes
        """,
        "holt_trend_smoothing": """
            WITH RECURSIVE seq AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS rn
                FROM events
            ), hw AS (
                SELECT user_id, rn, event_id, value,
                       value::DOUBLE AS l, CAST(0.0 AS DOUBLE) AS b,
                       value::DOUBLE AS hat
                FROM seq WHERE rn = 1
                UNION ALL
                SELECT s.user_id, s.rn, s.event_id, s.value,
                       0.3 * s.value + (1 - 0.3) * (hw.l + hw.b) AS l,
                       0.1 * ((0.3 * s.value + (1 - 0.3) * (hw.l + hw.b))
                              - hw.l) + (1 - 0.1) * hw.b AS b,
                       hw.l + hw.b AS hat
                FROM hw JOIN seq s
                  ON s.user_id = hw.user_id AND s.rn = hw.rn + 1
            )
            SELECT event_id, user_id,
                   FLOOR(hat * 1e4 + 0.5) / 1e4 AS value_hat
            FROM hw
        """,
        "funnel_user_stages": _FUNNEL_STAGES_ORACLE,
        "funnel_conversion_events": _FUNNEL_CONVERSION_ORACLE,
        "cohort_retention_weekly": _COHORT_ORACLE,
        "event_transition_matrix": """
            WITH seq AS (
                SELECT event_type AS from_type,
                       LEAD(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts, event_id) AS to_type
                FROM events
            ), pairs AS (
                SELECT from_type, to_type, COUNT(*) AS n
                FROM seq WHERE to_type IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   FLOOR(CAST(n AS DOUBLE)
                         / SUM(n) OVER (PARTITION BY from_type)
                         * 1e6 + 0.5) / 1e6 AS prob
            FROM pairs
            ORDER BY from_type, to_type
        """,
        "top_event_paths": """
            WITH r AS (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS rn
                FROM events
            ), p AS (
                SELECT user_id,
                       string_agg(event_type, ' > ' ORDER BY rn) AS path
                FROM r WHERE rn <= 4 GROUP BY user_id
            )
            SELECT path, COUNT(*) AS n_users FROM p
            GROUP BY 1
            ORDER BY n_users DESC, path
            LIMIT 15
        """,
        "corpus_fingerprint": (lambda _sh: f"""
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(6 AS INTEGER) AS n_cols,
                   '{_sh}' AS schema_hash,
                   COALESCE(bit_xor(h), 0) AS content_xor,
                   CAST(COALESCE(SUM(h) % 4503599627370496, 0)
                        AS BIGINT) AS content_sum
            FROM (
                SELECT CAST(('0x' || substr(md5(
                           CAST(l_linenumber AS VARCHAR) || chr(31)
                           || l_linestatus || chr(31)
                           || CAST(l_orderkey AS VARCHAR) || chr(31)
                           || CAST(l_partkey AS VARCHAR) || chr(31)
                           || l_returnflag || chr(31)
                           || CAST(l_suppkey AS VARCHAR)), 1, 13))
                       AS BIGINT) AS h
                FROM lineitem
            )
        """)(__import__("hashlib").md5(
            ("l_linenumber:int;l_linestatus:string;l_orderkey:bigint;"
             "l_partkey:bigint;l_returnflag:string;l_suppkey:bigint")
            .encode()).hexdigest()[:13]),
        "supplier_price_trends": """
            WITH m AS (
                SELECT l_suppkey % 25 AS grp,
                       COUNT(*) AS n,
                       SUM(q) AS sx, SUM(ep) AS sy, SUM(q * ep) AS sxy,
                       SUM(q * q) AS sxx, SUM(ep * ep) AS syy
                FROM (SELECT l_suppkey,
                             CAST(l_quantity AS DOUBLE) AS q,
                             CAST(l_extendedprice AS DOUBLE) AS ep
                      FROM lineitem
                      WHERE l_quantity IS NOT NULL
                        AND l_extendedprice IS NOT NULL)
                GROUP BY 1
            ), f AS (
                SELECT grp, n,
                       CASE WHEN n >= 2 THEN
                           (sxy - sx * sy / n)
                           / NULLIF(sxx - sx * sx / n, 0) END AS slope,
                       sx, sy, sxy, sxx, syy
                FROM m
            )
            SELECT grp, n,
                   FLOOR(slope * 1e4 + 0.5) / 1e4 AS slope,
                   FLOOR((sy - slope * sx) / n * 1e4 + 0.5) / 1e4
                       AS intercept,
                   FLOOR(CASE WHEN n >= 2 THEN
                             (sxy - sx * sy / n) * (sxy - sx * sy / n)
                             / NULLIF((sxx - sx * sx / n)
                                      * (syy - sy * sy / n), 0) END
                         * 1e6 + 0.5) / 1e6 AS r2
            FROM f
            ORDER BY grp
        """,
        "ewm_smoothing": """
            SELECT event_id, user_id,
                   FLOOR(list_reduce(
                       list(value) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ),
                       (acc, x) -> 0.3 * x + 0.7 * acc
                   ) * 1e4 + 0.5) / 1e4 AS value_smoothed
            FROM events
        """,
        "changepoints": """
            WITH b AS (
                SELECT event_id, event_type, ts,
                       avg(value) OVER w10 AS rmean,
                       stddev(value) OVER w10 AS rstd
                FROM events
                WINDOW w10 AS (
                    PARTITION BY event_type ORDER BY ts
                    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
                )
            ), j AS (
                SELECT event_id, event_type, rstd,
                       abs(rmean - lag(rmean) OVER (
                           PARTITION BY event_type ORDER BY ts
                       )) AS jump
                FROM b
            )
            SELECT event_id, event_type,
                   CASE WHEN jump > 2.0 * coalesce(rstd, 0.0)
                        THEN 1 ELSE 0 END AS changepoint
            FROM j
        """,
        "ngram_jaccard_neardup": f"""
            WITH d AS (
                SELECT doc_id, {_DD_SHINGLES} AS sh
                FROM (SELECT doc_id, {_DD_TOKS} AS w FROM documents)
            ),
            e AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS h FROM d),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sz AS sz_a, b.sz AS sz_b, COUNT(*) AS inter
                FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b,
                   FLOOR(inter / (sz_a + sz_b - inter) * 1e4 + 0.5) / 1e4
                       AS jaccard
            FROM c WHERE inter / (sz_a + sz_b - inter) >= 0.5
        """,
        "token_set_similarity": f"""
            WITH d AS (
                SELECT doc_id, list_distinct({_DD_TOKS}) AS s
                FROM documents
            ),
            e AS (SELECT doc_id, len(s) AS sz, unnest(s) AS t FROM d),
            c AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.sz AS sz_a, b.sz AS sz_b, COUNT(*) AS inter
                FROM e a JOIN e b ON a.t = b.t AND a.doc_id < b.doc_id
                GROUP BY 1, 2, 3, 4
            )
            SELECT id_a, id_b,
                   FLOOR(inter / (sz_a + sz_b - inter) * 1e4 + 0.5) / 1e4
                       AS jaccard
            FROM c WHERE inter / (sz_a + sz_b - inter) >= 0.75
        """,
        "simhash_sigs": _simhash_oracle(),
        "ann_cosine_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 5
            ),
            s AS (
                SELECT q.query_id, e.vec_id,
                       list_dot_product(qv, e.embedding::DOUBLE[])
                       / (sqrt(list_dot_product(qv, qv))
                          * sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                  e.embedding::DOUBLE[])))
                           AS cos
                FROM embeddings e, q
            ),
            r AS (
                SELECT query_id, vec_id, cos,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY query_id
                           ORDER BY cos DESC, vec_id) AS INT) AS rank
                FROM s
            )
            SELECT query_id, vec_id,
                   FLOOR(cos * 1e6 + 0.5) / 1e6 AS cosine, rank
            FROM r WHERE rank <= 10
        """,
        "clean_standardize": """
            SELECT c_custkey,
                   CASE WHEN trim(raw) IN
                            ('', 'null', 'NULL', 'None', 'N/A', 'n/a', '#N/A')
                        THEN NULL ELSE trim(raw) END AS segment_clean
            FROM (
                SELECT c_custkey,
                       CASE WHEN c_custkey % 7 = 0 THEN ' N/A '
                            WHEN c_custkey % 11 = 0 THEN ''
                            ELSE '  ' || c_mktsegment || ' ' END AS raw
                FROM customer
            )
        """,
        "phone_standardization": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 3 IN (0, 1)
                        THEN '(555) '
                             || lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0')
                             || '-'
                             || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                        ELSE NULL END AS phone
            FROM customer
        """,
        "email_validation": """
            SELECT c_custkey, email,
                   CAST(regexp_matches(email,
                       '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
                       AS INT) AS email_valid
            FROM (
                SELECT c_custkey,
                       lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g'))
                       || '@'
                       || CASE c_custkey % 4
                          WHEN 0 THEN 'gmail.com'
                          WHEN 1 THEN 'gmail.com'
                          WHEN 2 THEN 'no-tld'
                          ELSE 'yahoo.com' END AS email
                FROM customer
            )
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE c.c_custkey = o.o_custkey
                  AND o.o_orderpriority = '1-URGENT'
            )
        """,
        "ffill_gaps": """
            SELECT event_id, user_id,
                   ROUND(LAST_VALUE(CASE WHEN event_type <> 'error' THEN value END
                             IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                         2) AS value
            FROM events
        """,
        "ratio_poly_features": """
            SELECT l_orderkey, l_linenumber,
                   FLOOR(l_extendedprice / l_quantity * 1e4 + 0.5) / 1e4
                       AS l_extendedprice_to_l_quantity_ratio,
                   ROUND(l_quantity * l_discount, 4) AS l_quantity_x_l_discount,
                   ROUND(l_quantity + l_discount, 4) AS l_quantity_plus_l_discount,
                   ROUND(POW(l_quantity, 2), 2) AS l_quantity_pow_2,
                   ROUND(POW(l_quantity, 3), 2) AS l_quantity_pow_3
            FROM lineitem
        """,
        "binning_uniform": """
            WITH b AS (
                SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
                FROM orders
            )
            SELECT o_orderkey,
                   CAST(LEAST(GREATEST(
                       FLOOR((o_totalprice - lo) / ((hi - lo) / 5)), 0), 4)
                       AS INT) AS bin
            FROM orders, b
        """,
        "binning_quantile": """
            WITH b AS (
                SELECT quantile_cont(o_totalprice, 0.25) AS e0,
                       quantile_cont(o_totalprice, 0.50) AS e1,
                       quantile_cont(o_totalprice, 0.75) AS e2
                FROM orders
            )
            SELECT o_orderkey,
                   CAST((o_totalprice > e0)::INT + (o_totalprice > e1)::INT
                        + (o_totalprice > e2)::INT AS INT) AS bin
            FROM orders, b
        """,
        "categorical_encoding": """
            SELECT c_custkey, c_mktsegment,
                   COUNT(*) OVER (PARTITION BY c_mktsegment) AS c_mktsegment_freq,
                   CAST(DENSE_RANK() OVER (ORDER BY c_mktsegment) - 1 AS INT)
                       AS c_mktsegment_label,
                   (c_mktsegment = 'AUTOMOBILE')::INT AS c_mktsegment_AUTOMOBILE,
                   (c_mktsegment = 'BUILDING')::INT   AS c_mktsegment_BUILDING,
                   (c_mktsegment = 'FURNITURE')::INT  AS c_mktsegment_FURNITURE,
                   (c_mktsegment = 'HOUSEHOLD')::INT  AS c_mktsegment_HOUSEHOLD,
                   (c_mktsegment = 'MACHINERY')::INT  AS c_mktsegment_MACHINERY
            FROM customer
        """,
        "aggregation_features": """
            SELECT event_id, user_id,
                   FLOOR(ROUND(SUM(value) OVER w, 2)
                         / COUNT(value) OVER w * 1e4 + 0.5) / 1e4
                       AS value_mean_by_user_id,
                   ROUND(MIN(value) OVER w, 2) AS value_min_by_user_id,
                   ROUND(MAX(value) OVER w, 2) AS value_max_by_user_id,
                   COUNT(value) OVER w AS value_count_by_user_id
            FROM events
            WINDOW w AS (PARTITION BY user_id)
        """,
        "crosstab_counts": """
            SELECT o_orderpriority,
                   COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
                   COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
                   COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
            FROM orders GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """,
        "pivot_monthly": """
            SELECT date_trunc('month', o_orderdate) AS order_month,
                   ROUND(SUM(CASE WHEN o_orderstatus = 'F'
                                  THEN o_totalprice END), 2) AS "F",
                   ROUND(SUM(CASE WHEN o_orderstatus = 'O'
                                  THEN o_totalprice END), 2) AS "O",
                   ROUND(SUM(CASE WHEN o_orderstatus = 'P'
                                  THEN o_totalprice END), 2) AS "P"
            FROM orders
            GROUP BY date_trunc('month', o_orderdate)
            ORDER BY order_month
        """,
        "tumbling_window_agg": """
            SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS window_start,
                   time_bucket(INTERVAL 15 MINUTE, ts) + INTERVAL 15 MINUTE
                       AS window_end,
                   event_type,
                   COUNT(value) AS value_count,
                   ROUND(SUM(value), 2) AS value_sum
            FROM events
            GROUP BY 1, 2, 3
        """,
        "sliding_window_agg": """
            WITH assigned AS (
                SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS ws, value
                FROM events
                UNION ALL
                SELECT time_bucket(INTERVAL 15 MINUTE, ts)
                       - INTERVAL 15 MINUTE AS ws, value
                FROM events
            )
            SELECT ws AS window_start,
                   ws + INTERVAL 30 MINUTE AS window_end,
                   COUNT(value) AS value_count,
                   ROUND(SUM(value), 2) AS value_sum
            FROM assigned GROUP BY ws
        """,
        "session_window_agg": """
            WITH d AS (
                SELECT user_id, ts, value,
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           AS prev_ts
                FROM events
            ),
            s AS (
                SELECT user_id, ts, value,
                       SUM(CASE WHEN prev_ts IS NULL
                                OR ts - prev_ts >= INTERVAL 5 MINUTE
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS sess
                FROM d
            )
            SELECT MIN(ts) AS window_start,
                   MAX(ts) + INTERVAL 5 MINUTE AS window_end,
                   user_id,
                   COUNT(value) AS value_count
            FROM s GROUP BY user_id, sess
        """,
        "profile_lineitem": _profile_oracle(),
        "quality_report": """
            SELECT 'completeness' AS metric, 'o_custkey' AS "column",
                   FLOOR(COUNT(o_custkey) / COUNT(*) * 1e6 + 0.5) / 1e6 AS value
            FROM orders
            UNION ALL
            SELECT 'uniqueness', 'o_orderkey',
                   FLOOR(COUNT(DISTINCT o_orderkey) / COUNT(*) * 1e6 + 0.5) / 1e6
            FROM orders
            UNION ALL
            SELECT 'validity', 'o_totalprice',
                   FLOOR(SUM(CASE WHEN o_totalprice > 1000 THEN 1 ELSE 0 END)
                         / COUNT(*) * 1e6 + 0.5) / 1e6
            FROM orders
            UNION ALL
            SELECT 'outlier_ratio', 'o_totalprice',
                   FLOOR(SUM(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
                                    OR o_totalprice > q3 + 1.5 * (q3 - q1)
                             THEN 1 ELSE 0 END) / COUNT(*) * 1e6 + 0.5) / 1e6
            FROM orders, (
                SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                       quantile_cont(o_totalprice, 0.75) AS q3
                FROM orders
            )
        """,
        "correlations_lineitem": """
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   FLOOR(corr(l_quantity, l_extendedprice) * 1e4 + 0.5) / 1e4
                       AS corr
            FROM lineitem
            UNION ALL
            SELECT 'l_quantity', 'l_discount',
                   FLOOR(corr(l_quantity, l_discount) * 1e4 + 0.5) / 1e4
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', 'l_discount',
                   FLOOR(corr(l_extendedprice, l_discount) * 1e4 + 0.5) / 1e4
            FROM lineitem
        """,
        "schema_inference_orders": """
            SELECT c.column, c.dtype,
                   (cnt_all - c.cnt) / cnt_all AS null_frac,
                   c.dst AS n_distinct,
                   CASE WHEN c.pk_ok AND c.cnt = cnt_all AND c.dst = cnt_all
                        THEN 1 ELSE 0 END AS pk_candidate,
                   c.fk AS fk_candidate
            FROM (
                SELECT COUNT(*) AS cnt_all,
                       unnest([
                           struct_pack("column" := 'o_orderkey',
                                       dtype := 'bigint',
                                       cnt := COUNT(o_orderkey),
                                       dst := COUNT(DISTINCT o_orderkey),
                                       pk_ok := TRUE, fk := 1),
                           struct_pack("column" := 'o_custkey',
                                       dtype := 'bigint',
                                       cnt := COUNT(o_custkey),
                                       dst := COUNT(DISTINCT o_custkey),
                                       pk_ok := TRUE, fk := 1),
                           struct_pack("column" := 'o_orderstatus',
                                       dtype := 'string',
                                       cnt := COUNT(o_orderstatus),
                                       dst := COUNT(DISTINCT o_orderstatus),
                                       pk_ok := TRUE, fk := 0),
                           struct_pack("column" := 'o_totalprice',
                                       dtype := 'double',
                                       cnt := COUNT(o_totalprice),
                                       dst := COUNT(DISTINCT o_totalprice),
                                       pk_ok := FALSE, fk := 0),
                           struct_pack("column" := 'o_orderdate',
                                       dtype := 'timestamp_ntz',
                                       cnt := COUNT(o_orderdate),
                                       dst := COUNT(DISTINCT o_orderdate),
                                       pk_ok := FALSE, fk := 0),
                           struct_pack("column" := 'o_orderpriority',
                                       dtype := 'string',
                                       cnt := COUNT(o_orderpriority),
                                       dst := COUNT(DISTINCT o_orderpriority),
                                       pk_ok := TRUE, fk := 0)
                       ]) AS c
                FROM orders
            )
        """,
        "csv_scan_roundtrip": """
            SELECT n_nationkey, n_name, n_regionkey FROM nation
        """,
        "json_scan_roundtrip": """
            SELECT r_regionkey, r_name FROM region
        """,
        "csv_schema_probe": """
            SELECT 'r_regionkey' AS col_name, 'int' AS dtype,
                   COUNT(*) - COUNT(r_regionkey) AS null_count FROM region
            UNION ALL
            SELECT 'r_name', 'string',
                   COUNT(*) - COUNT(r_name) FROM region
        """,
        "schema_constraints_orders": """
            SELECT c.column, c.dtype,
                   FLOOR((cnt_all - c.cnt) * 100.0 / cnt_all * 1e6 + 0.5) / 1e6
                       AS null_pct,
                   c.dst AS n_distinct,
                   CASE WHEN c.dst * 1.0 / cnt_all > 0.8 THEN 'high'
                        WHEN c.dst * 1.0 / cnt_all > 0.1 THEN 'medium'
                        ELSE 'low' END AS cardinality,
                   CASE WHEN (cnt_all - c.cnt) * 100.0 / cnt_all < 5
                        THEN 1 ELSE 0 END AS not_null_ok,
                   CASE WHEN c.cnt = cnt_all AND c.dst = cnt_all
                        THEN 1 ELSE 0 END AS unique_ok,
                   c.chk AS check_nonneg,
                   CASE WHEN c.fk THEN 'foreign_key_performance'
                        WHEN c.dst * 1.0 / cnt_all <= 0.1 AND c.dst > 1
                             THEN 'low_cardinality_filtering'
                        WHEN c.temporal THEN 'time_based_queries'
                        ELSE NULL END AS index_reason
            FROM (
                SELECT COUNT(*) AS cnt_all,
                       unnest([
                           struct_pack("column" := 'o_orderkey',
                                       dtype := 'bigint',
                                       cnt := COUNT(o_orderkey),
                                       dst := COUNT(DISTINCT o_orderkey),
                                       chk := CASE WHEN MIN(o_orderkey) >= 0
                                                   THEN 1 ELSE 0 END,
                                       fk := TRUE, temporal := FALSE),
                           struct_pack("column" := 'o_custkey',
                                       dtype := 'bigint',
                                       cnt := COUNT(o_custkey),
                                       dst := COUNT(DISTINCT o_custkey),
                                       chk := CASE WHEN MIN(o_custkey) >= 0
                                                   THEN 1 ELSE 0 END,
                                       fk := TRUE, temporal := FALSE),
                           struct_pack("column" := 'o_orderstatus',
                                       dtype := 'string',
                                       cnt := COUNT(o_orderstatus),
                                       dst := COUNT(DISTINCT o_orderstatus),
                                       chk := CAST(NULL AS INT),
                                       fk := FALSE, temporal := FALSE),
                           struct_pack("column" := 'o_totalprice',
                                       dtype := 'double',
                                       cnt := COUNT(o_totalprice),
                                       dst := COUNT(DISTINCT o_totalprice),
                                       chk := CASE WHEN MIN(o_totalprice) >= 0
                                                   THEN 1 ELSE 0 END,
                                       fk := FALSE, temporal := FALSE),
                           struct_pack("column" := 'o_orderdate',
                                       dtype := 'timestamp_ntz',
                                       cnt := COUNT(o_orderdate),
                                       dst := COUNT(DISTINCT o_orderdate),
                                       chk := CAST(NULL AS INT),
                                       fk := FALSE, temporal := TRUE),
                           struct_pack("column" := 'o_orderpriority',
                                       dtype := 'string',
                                       cnt := COUNT(o_orderpriority),
                                       dst := COUNT(DISTINCT o_orderpriority),
                                       chk := CAST(NULL AS INT),
                                       fk := FALSE, temporal := FALSE)
                       ]) AS c
                FROM orders
            )
        """,
        "string_patterns_customer": """
            WITH pats AS (
                SELECT * FROM (VALUES
                    ('email', '^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}$', 0.7),
                    ('phone', '^[\\+]?[1-9]?[0-9]{7,15}$', 0.5),
                    ('url', '^https?://', 0.5),
                    ('numeric_id', '^[0-9]+$', 0.8)
                ) AS t(pattern, re, thr)
            ),
            cols AS (
                SELECT 'c_name' AS "column", c_name AS v FROM customer
                UNION ALL
                SELECT 'c_mktsegment', c_mktsegment FROM customer
            )
            SELECT c."column", p.pattern,
                   FLOOR(
                       COALESCE(
                           SUM(CASE WHEN regexp_matches(c.v, p.re)
                                    THEN 1 ELSE 0 END) * 1.0
                           / NULLIF(COUNT(c.v), 0), 0.0
                       ) * 1e6 + 0.5
                   ) / 1e6 AS match_frac,
                   CASE WHEN COALESCE(
                           SUM(CASE WHEN regexp_matches(c.v, p.re)
                                    THEN 1 ELSE 0 END) * 1.0
                           / NULLIF(COUNT(c.v), 0), 0.0) > p.thr
                        THEN 1 ELSE 0 END AS detected
            FROM cols c CROSS JOIN pats p
            GROUP BY c."column", p.pattern, p.thr
        """,
        "top_values_priority": """
            SELECT o_orderpriority, COUNT(*) AS count
            FROM orders GROUP BY o_orderpriority
            ORDER BY count DESC, o_orderpriority LIMIT 3
        """,
        "text_feature_stats": """
            WITH t AS (SELECT doc_id, COALESCE(text, '') AS t FROM documents)
            SELECT doc_id,
                   LENGTH(t) AS text_length,
                   CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0
                        ELSE LEN(string_split_regex(TRIM(t), '\\s+')) END
                       AS text_word_count,
                   LENGTH(REPLACE(t, ' ', '')) AS text_char_count,
                   LEN(string_split_regex(t, '\\.')) AS text_sentence_count,
                   FLOOR((CASE WHEN LENGTH(TRIM(t)) = 0 THEN 0.0
                          ELSE CAST(LENGTH(REPLACE(t, ' ', '')) AS DOUBLE)
                               / LEN(string_split_regex(TRIM(t), '\\s+'))
                          END) * 1e4 + 0.5) / 1e4
                       AS text_avg_word_length
            FROM t
        """,
        "pivot_margins": """
            WITH cube_cells AS (
                SELECT
                    CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'All'
                         ELSE o_orderpriority END AS o_orderpriority,
                    CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'All'
                         ELSE o_orderstatus END AS st,
                    SUM(o_totalprice) AS cell
                FROM orders
                GROUP BY CUBE (o_orderpriority, o_orderstatus)
            )
            SELECT o_orderpriority,
                   FLOOR(COALESCE(MAX(cell) FILTER (st = 'F'), 0) * 1e2 + 0.5) / 1e2 AS "F",
                   FLOOR(COALESCE(MAX(cell) FILTER (st = 'O'), 0) * 1e2 + 0.5) / 1e2 AS "O",
                   FLOOR(COALESCE(MAX(cell) FILTER (st = 'P'), 0) * 1e2 + 0.5) / 1e2 AS "P",
                   FLOOR(MAX(cell) FILTER (st = 'All') * 1e2 + 0.5) / 1e2 AS "All"
            FROM cube_cells
            GROUP BY o_orderpriority
        """,
        "pivot_subtotals_grid": """
            WITH d AS (
                SELECT lang, source,
                       CASE WHEN n_chars < 500 THEN 'short' ELSE 'long' END
                           AS len_bucket,
                       n_chars
                FROM documents
            ), sets AS (
                SELECT
                    CASE WHEN GROUPING(lang) = 1 THEN 'Grand Total'
                         ELSE lang END AS lang,
                    CASE WHEN GROUPING(lang) = 1 THEN ''
                         WHEN GROUPING(source) = 1 THEN 'Subtotal'
                         ELSE source END AS source,
                    len_bucket, SUM(n_chars) AS cell
                FROM d
                GROUP BY GROUPING SETS ((lang, source, len_bucket),
                                        (lang, len_bucket), (len_bucket))
            )
            SELECT lang, source,
                   CAST(COALESCE(MAX(cell) FILTER (len_bucket = 'short'), 0)
                        AS BIGINT) AS short,
                   CAST(COALESCE(MAX(cell) FILTER (len_bucket = 'long'), 0)
                        AS BIGINT) AS long
            FROM sets
            GROUP BY lang, source
        """,
        "time_pivot_quarterly": """
            SELECT date_trunc('quarter', ts) AS period,
                   FLOOR(SUM(value) FILTER (event_type = 'click') * 1e2 + 0.5) / 1e2 AS click,
                   FLOOR(SUM(value) FILTER (event_type = 'error') * 1e2 + 0.5) / 1e2 AS error,
                   FLOOR(SUM(value) FILTER (event_type = 'purchase') * 1e2 + 0.5) / 1e2 AS purchase,
                   FLOOR(SUM(value) FILTER (event_type = 'signup') * 1e2 + 0.5) / 1e2 AS signup,
                   FLOOR(SUM(value) FILTER (event_type = 'view') * 1e2 + 0.5) / 1e2 AS view
            FROM events
            GROUP BY 1
        """,
        "crosstab_norm_index": """
            SELECT o_orderpriority,
                   FLOOR(COUNT(*) FILTER (o_orderstatus = 'F')
                         / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS "F",
                   FLOOR(COUNT(*) FILTER (o_orderstatus = 'O')
                         / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS "O",
                   FLOOR(COUNT(*) FILTER (o_orderstatus = 'P')
                         / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS "P"
            FROM orders
            GROUP BY o_orderpriority
        """,
        "pivot_stats_grid": """
            SELECT l_returnflag,
                   FLOOR(AVG(l_quantity) FILTER (l_linestatus = 'F') * 1e4 + 0.5) / 1e4 AS "F_mean",
                   COUNT(l_quantity) FILTER (l_linestatus = 'F') AS "F_count",
                   FLOOR(AVG(l_quantity) FILTER (l_linestatus = 'O') * 1e4 + 0.5) / 1e4 AS "O_mean",
                   COUNT(l_quantity) FILTER (l_linestatus = 'O') AS "O_count"
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "seasonal_decomposition": """
            WITH daily AS (
                SELECT event_type, date_trunc('day', ts) AS day,
                       SUM(value) AS v
                FROM events GROUP BY 1, 2
            ), seq AS (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                           - 1 AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM daily
            ), tr AS (
                SELECT *,
                       CASE WHEN rn >= 3 AND rn <= n - 4 THEN
                           AVG(v) OVER (PARTITION BY event_type ORDER BY day
                                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                       END AS trend
                FROM seq
            ), det AS (
                SELECT *, v - trend AS detr, rn % 7 AS phase FROM tr
            ), ph AS (
                SELECT event_type, phase, AVG(detr) AS pmean
                FROM det GROUP BY 1, 2
            ), phn AS (
                SELECT event_type, phase,
                       pmean - AVG(pmean) OVER (PARTITION BY event_type)
                           AS seasonal
                FROM ph
            )
            SELECT det.event_type, det.day,
                   FLOOR(det.v * 1e2 + 0.5) / 1e2 AS v,
                   FLOOR(det.trend * 1e4 + 0.5) / 1e4 AS trend,
                   FLOOR(phn.seasonal * 1e4 + 0.5) / 1e4 AS seasonal,
                   FLOOR((det.v - det.trend - phn.seasonal) * 1e4 + 0.5) / 1e4
                       AS residual
            FROM det
            JOIN phn ON det.event_type = phn.event_type
                    AND det.phase = phn.phase
        """,
        "savgol_smooth": """
            WITH daily AS (
                SELECT event_type, date_trunc('day', ts) AS day,
                       SUM(value) AS v
                FROM events GROUP BY 1, 2
            ), seq AS (
                SELECT *,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                           AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS n
                FROM daily
            ), k AS (
                SELECT event_type, day, v, rn, n,
                       (-2 * LAG(v, 3) OVER w + 3 * LAG(v, 2) OVER w
                        + 6 * LAG(v, 1) OVER w + 7 * v
                        + 6 * LEAD(v, 1) OVER w + 3 * LEAD(v, 2) OVER w
                        - 2 * LEAD(v, 3) OVER w) / 21.0 AS sm
                FROM seq
                WINDOW w AS (PARTITION BY event_type ORDER BY day)
            )
            SELECT event_type, day,
                   FLOOR(v * 1e2 + 0.5) / 1e2 AS v,
                   FLOOR(sm * 1e4 + 0.5) / 1e4 AS v_smoothed
            FROM k
            WHERE rn >= 4 AND rn <= n - 3
        """,
        "media_waveform_features": """
            SELECT vec_id,
                   CAST(len(embedding) AS BIGINT) AS n_samples,
                   FLOOR(sqrt(list_avg(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                         * 1e6 + 0.5) / 1e6 AS rms,
                   CAST(len(list_filter(range(1, len(embedding)),
                        i -> embedding[i] * embedding[i + 1] < 0))
                        AS BIGINT) AS zero_crossings
            FROM embeddings
        """,
        "media_image_features": """
            SELECT vec_id,
                   CAST(8 AS INTEGER) AS height,
                   CAST(8 AS INTEGER) AS width,
                   CAST(1 AS INTEGER) AS channels,
                   FLOOR(list_avg(list_transform(embedding,
                         x -> least(greatest(FLOOR((CAST(x AS DOUBLE) + 1.0)
                                    * 127.5), 0), 255)))
                         * 1e6 + 0.5) / 1e6 AS mean_q
            FROM embeddings
        """,
        "image_dhash_dedup": f"""
            WITH px AS (
                SELECT vec_id,
                       list_transform(embedding,
                           v -> CAST(least(greatest(FLOOR((CAST(v AS DOUBLE)
                                     + 1.0) * 127.5), 0), 255) AS BIGINT)
                       ) AS p
                FROM embeddings
            ), grid AS (
                SELECT vec_id, {_DHASH_GRID_SQL} AS g FROM px
            ), sig AS (
                SELECT vec_id, CAST({_DHASH_BITS_SQL} AS BIGINT) AS dhash
                FROM grid
            ), blocks AS (
                SELECT vec_id, dhash, blk,
                       (dhash >> (blk * 14)) & 16383 AS key
                FROM sig, (SELECT unnest(range(4)) AS blk)
            ), pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                                a.dhash AS sa, b.dhash AS sb
                FROM blocks a
                JOIN blocks b ON a.blk = b.blk AND a.key = b.key
                             AND a.vec_id < b.vec_id
            ), dups AS (
                SELECT DISTINCT id_b FROM pairs
                WHERE bit_count(xor(sa, sb)) <= 3
            )
            SELECT vec_id, dhash FROM sig
            WHERE vec_id NOT IN (SELECT id_b FROM dups)
            ORDER BY vec_id
        """,
        "audio_fingerprint_dedup": f"""
            WITH c AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), e AS (
                SELECT vec_id,
                       list_transform(range(32),
                           j -> v[2 * j + 1] * v[2 * j + 1]
                                + v[2 * j + 2] * v[2 * j + 2]) AS en
                FROM c
            ), sig AS (
                SELECT vec_id, CAST({_AFP_BITS_SQL} AS BIGINT) AS afp
                FROM e
            ), blocks AS (
                -- NOTE: this uniform 11-bit block layout intentionally
                -- differs from the engine's floor-edge layout
                -- (hamming_hash_pairs: block starts 0/10/20 for
                -- bits=31, n_blocks=3). Both candidate generators are
                -- pigeonhole-COMPLETE for radius 2 over 3 blocks and
                -- every candidate passes an exact bit_count verify, so
                -- the final dedup sets agree even though the
                -- intermediate bucket keys do not. Do not "fix" either
                -- side to match the other.
                SELECT vec_id, afp, blk,
                       (afp >> (blk * 11)) & 2047 AS key
                FROM sig, (SELECT unnest(range(3)) AS blk)
            ), pairs AS (
                SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
                                a.afp AS sa, b.afp AS sb
                FROM blocks a
                JOIN blocks b ON a.blk = b.blk AND a.key = b.key
                             AND a.vec_id < b.vec_id
            ), dups AS (
                SELECT DISTINCT id_b FROM pairs
                WHERE bit_count(xor(sa, sb)) <= 2
            )
            SELECT vec_id, afp FROM sig
            WHERE vec_id NOT IN (SELECT id_b FROM dups)
            ORDER BY vec_id
        """,
        "media_jpeg_roundtrip": """
            SELECT vec_id,
                   CAST(8 AS INTEGER) AS height,
                   CAST(8 AS INTEGER) AS width,
                   CAST(1 AS INTEGER) AS channels,
                   CAST(least(greatest(FLOOR((CAST(embedding[1] AS DOUBLE)
                                              + 1.0) * 127.5), 0), 255)
                        AS DOUBLE) AS mean_q
            FROM embeddings
        """,
        "asof_join_events": """
            WITH purchases AS (
                SELECT user_id, ts, value AS purchase_value
                FROM events WHERE event_type = 'purchase'
            ), clicks AS (
                SELECT user_id, ts, value AS click_value
                FROM events WHERE event_type = 'click'
            )
            SELECT p.user_id, p.ts,
                   FLOOR(p.purchase_value * 1e2 + 0.5) / 1e2 AS purchase_value,
                   FLOOR(c.click_value * 1e2 + 0.5) / 1e2 AS click_value,
                   c.ts AS click_ts
            FROM purchases p
            ASOF LEFT JOIN clicks c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "range_join_acctbal": """
            SELECT c_custkey,
                   FLOOR(CAST(c_acctbal AS DOUBLE) * 1e2 + 0.5) / 1e2
                       AS c_acctbal,
                   CAST(i.i AS BIGINT) AS iid
            FROM customer
            JOIN (SELECT unnest(range(0, 20)) AS i) i
              ON CAST(c_acctbal AS DOUBLE) >= i.i * 500.0
             AND CAST(c_acctbal AS DOUBLE) <  i.i * 500.0 + 750.0
        """,
        "mode_imputation": """
            WITH injected AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 10 = 0 THEN NULL
                            ELSE o_orderpriority END AS o_orderpriority
                FROM orders
            ), m AS (
                SELECT o_orderpriority AS mv FROM injected
                WHERE o_orderpriority IS NOT NULL
                GROUP BY 1 ORDER BY COUNT(*) DESC, 1 LIMIT 1
            )
            SELECT o_orderkey,
                   COALESCE(o_orderpriority, (SELECT mv FROM m))
                       AS o_orderpriority
            FROM injected
        """,
        "dedup_keep_last": """
            SELECT l_orderkey, l_linenumber,
                   FLOOR(l_quantity * 1e2 + 0.5) / 1e2 AS l_quantity
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY l_orderkey
                    ORDER BY l_linenumber DESC, l_partkey DESC,
                             l_suppkey DESC) AS rn
                FROM lineitem
            ) WHERE rn = 1
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.04 AND 0.06
              AND l_quantity < 24
        """,
        "q4_order_priority": """
            SELECT o_orderpriority,
                   COUNT(o_orderkey) AS o_orderkey_count
            FROM orders o
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-04-01'
              AND EXISTS (
                  SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate
              )
            GROUP BY o_orderpriority
        """,
        "q14_promo_revenue": """
            SELECT FLOOR(
                100.0
                * SUM(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount)
                           ELSE 0 END)
                / SUM(l_extendedprice * (1 - l_discount))
                * 1e4 + 0.5) / 1e4 AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-03-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, n_name,
                   FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 1e2 + 0.5)
                       / 1e2 AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-04-01'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q18_large_volume": """
            SELECT o_orderkey, o_custkey, o_orderpriority,
                   ROUND(o_totalprice, 2) AS o_totalprice,
                   ROUND(total_qty, 2)    AS total_qty
            FROM orders
            JOIN (
                SELECT l_orderkey, SUM(l_quantity) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(l_quantity) > 250
            ) big ON o_orderkey = big.l_orderkey
        """,
        "salted_join_revenue": """
            SELECT o_orderpriority,
                   FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 1e2 + 0.5)
                       / 1e2 AS rev_sum,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   FLOOR((SUM(l_extendedprice * (1 - l_discount)) / COUNT(*))
                         * 1e4 + 0.5) / 1e4 AS rev_avg
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderpriority
        """,
        "q7_nation_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(o_orderdate) AS INTEGER) AS l_year,
                   FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 1e2 + 0.5)
                       / 1e2 AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "q9_product_profit": """
            -- exact-decimal money sum (order-independent), mirroring
            -- the engine's decimal(18,2) casts term for term
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   FLOOR(CAST(SUM(
                       CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(18,2))
                          - CAST(l_discount AS DECIMAL(18,2)))
                   ) AS DOUBLE) * 1e2 + 0.5)
                       / 1e2 AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%bolt%'
            GROUP BY 1, 2
        """,
        "q2_min_cost_supplier": """
            WITH ps AS (
                SELECT l_partkey, l_suppkey,
                       MIN(l_extendedprice / l_quantity) AS supplycost
                FROM lineitem GROUP BY 1, 2
            ),
            j AS (
                SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
                       ps.supplycost
                FROM ps
                JOIN part p ON ps.l_partkey = p.p_partkey
                           AND p.p_size = 15
                JOIN supplier s ON ps.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey
                JOIN region r ON n.n_regionkey = r.r_regionkey
                             AND r.r_name = 'EUROPE'
            ),
            m AS (
                SELECT *, MIN(supplycost) OVER (PARTITION BY p_partkey)
                       AS mn
                FROM j
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, supplycost
            FROM m WHERE supplycost = mn
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
            LIMIT 100
        """,
        "q8_market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   FLOOR(SUM(CASE WHEN n1.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / SUM(l_extendedprice * (1 - l_discount))
                         * 1e6 + 0.5) / 1e6 AS mkt_share
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
                         AND r_name = 'ASIA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE o_orderdate >= '1996-01-01'
              AND o_orderdate < '1998-01-01'
            GROUP BY 1 ORDER BY 1
        """,
        "q11_important_parts": """
            WITH val AS (
                SELECT l_partkey,
                       SUM(l_extendedprice * (1 - l_discount)) AS value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                           AND n_name = 'NATION_1'
                GROUP BY 1
            ),
            tot AS (SELECT AVG(value) AS mean FROM val)
            SELECT l_partkey AS p_partkey,
                   FLOOR(value * 1e2 + 0.5) / 1e2 AS value
            FROM val CROSS JOIN tot
            WHERE value > mean * 2.0
            ORDER BY 2 DESC, 1
        """,
        "q12_late_priority": """
            SELECT l_returnflag,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                                 ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                        AS BIGINT) AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                                 ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                        AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY 1 ORDER BY 1
        """,
        "q20_excess_shippers": """
            WITH shipped AS (
                SELECT l_suppkey, SUM(l_quantity) AS qty
                FROM lineitem
                JOIN part ON l_partkey = p_partkey AND p_type = 'SMALL'
                WHERE l_shipdate >= '1996-01-01'
                  AND l_shipdate < '1997-01-01'
                GROUP BY 1
                HAVING SUM(l_quantity) > 100
            )
            SELECT s_name, FLOOR(qty * 1e2 + 0.5) / 1e2 AS qty
            FROM shipped
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
                       AND n_name = 'NATION_2'
            ORDER BY s_name
        """,
        "q21_waiting_suppliers": """
            WITH ls AS (
                SELECT l_orderkey, l_suppkey,
                       MAX(CASE WHEN l_shipdate >
                                o_orderdate + INTERVAL 60 DAY
                                THEN 1 ELSE 0 END) AS is_late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1, 2
            ),
            per_order AS (
                SELECT l_orderkey, COUNT(*) AS n_supp,
                       SUM(is_late) AS n_late
                FROM ls GROUP BY 1
            )
            SELECT s_name, COUNT(*) AS numwait
            FROM ls
            JOIN per_order USING (l_orderkey)
            JOIN supplier ON ls.l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
                       AND n_name = 'NATION_0'
            WHERE n_supp > 1 AND n_late = 1 AND is_late = 1
            GROUP BY 1
            ORDER BY numwait DESC, s_name
            LIMIT 50
        """,
        "q16_supplier_counts": """
            SELECT p_brand, p_type, p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#45' AND p_size <= 15
            GROUP BY p_brand, p_type, p_size
        """,
        "q19_disjunctive_revenue": """
            SELECT FLOOR(COALESCE(SUM(l_extendedprice * (1 - l_discount)),
                                  0.0) * 1e2 + 0.5) / 1e2 AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "q13_customer_distribution": """
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM (
                SELECT c.c_custkey,
                       CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
                FROM customer c LEFT OUTER JOIN orders o
                  ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q15_top_supplier": """
            WITH revenue AS (
                SELECT l_suppkey,
                       SUM(l_extendedprice * (1 - l_discount)) AS total_rev
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1997-01-01'
                GROUP BY l_suppkey
            )
            SELECT s_suppkey, s_name,
                   FLOOR(total_rev * 1e2 + 0.5) / 1e2 AS total_rev
            FROM revenue JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
        """,
        "q17_small_quantity_revenue": """
            WITH thresh AS (
                SELECT l_partkey AS t_pk, 0.2 * AVG(l_quantity) AS qlim
                FROM lineitem GROUP BY l_partkey
            )
            SELECT FLOOR(COALESCE(SUM(l_extendedprice) / 7.0, 0.0)
                         * 1e2 + 0.5) / 1e2 AS avg_yearly
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN thresh ON l_partkey = t_pk
            WHERE p_brand = 'Brand#23' AND l_quantity < qlim
        """,
        "q22_idle_rich_customers": """
            SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
                   FLOOR(SUM(c_acctbal) * 1e2 + 0.5) / 1e2 AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0
                  )
              AND NOT EXISTS (
                    SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01'
                  )
            GROUP BY c_mktsegment
        """,
        "semi_join_urgent_customers": """
            SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal
            FROM customer
            WHERE c_custkey IN (
                SELECT o_custkey FROM orders
                WHERE o_orderpriority = '1-URGENT'
            )
        """,
        "interaction_features": """
            SELECT l_orderkey, l_linenumber,
                   FLOOR(l_quantity * l_extendedprice * 1e4 + 0.5) / 1e4
                       AS qty_x_price,
                   FLOOR(l_quantity * l_discount * 1e4 + 0.5) / 1e4
                       AS qty_x_disc,
                   FLOOR(l_extendedprice * l_discount * 1e4 + 0.5) / 1e4
                       AS price_x_disc,
                   FLOOR((l_quantity - l_extendedprice) * 1e4 + 0.5) / 1e4
                       AS qty_minus_price,
                   FLOOR((l_quantity - l_discount) * 1e4 + 0.5) / 1e4
                       AS qty_minus_disc,
                   FLOOR((l_extendedprice - l_discount) * 1e4 + 0.5) / 1e4
                       AS price_minus_disc
            FROM lineitem
        """,
        "outliers_zscore": """
            SELECT event_id,
                   CAST(ABS((value - mu) / sigma) > 3.0 AS INT) AS is_outlier
            FROM events
            CROSS JOIN (
                SELECT AVG(value) AS mu, STDDEV(value) AS sigma FROM events
            )
        """,
        "outliers_rolling_zscore": """
            SELECT event_id, user_id,
                   CASE WHEN sigma > 0 AND ABS((value - mu) / sigma) > 2.5
                        THEN 1 ELSE 0 END AS is_outlier
            FROM (
                SELECT event_id, user_id, value,
                       AVG(value)    OVER w AS mu,
                       STDDEV(value) OVER w AS sigma
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
            )
        """,
        "parse_json_props": """
            SELECT event_type,
                   COUNT(k) AS n,
                   CAST(SUM(k) AS BIGINT) AS k_sum,
                   MIN(k)   AS k_min,
                   MAX(k)   AS k_max
            FROM (
                SELECT event_type,
                       CAST(json_extract(props, '$.k') AS BIGINT) AS k
                FROM events
            )
            GROUP BY event_type
        """,
        "fillna_mean": """
            SELECT event_id,
                   FLOOR(COALESCE(value, AVG(value) OVER ()) * 1e4 + 0.5)
                       / 1e4 AS value
            FROM (
                SELECT event_id,
                       CASE WHEN event_type <> 'error' THEN value END AS value
                FROM events
            )
        """,
        "correlations_spearman": """
            WITH rk AS (
                SELECT
                    RANK() OVER (ORDER BY l_quantity)
                      + (COUNT(*) OVER (PARTITION BY l_quantity) - 1) / 2.0
                      AS r_qty,
                    RANK() OVER (ORDER BY l_extendedprice)
                      + (COUNT(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0
                      AS r_price,
                    RANK() OVER (ORDER BY l_discount)
                      + (COUNT(*) OVER (PARTITION BY l_discount) - 1) / 2.0
                      AS r_disc
                FROM lineitem
            )
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   FLOOR(corr(r_qty, r_price) * 1e4 + 0.5) / 1e4 AS corr
            FROM rk
            UNION ALL
            SELECT 'l_quantity', 'l_discount',
                   FLOOR(corr(r_qty, r_disc) * 1e4 + 0.5) / 1e4
            FROM rk
            UNION ALL
            SELECT 'l_extendedprice', 'l_discount',
                   FLOOR(corr(r_price, r_disc) * 1e4 + 0.5) / 1e4
            FROM rk
        """,
        "incremental_rollup": """
            SELECT event_type,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(value), 2) AS value_sum,
                   FLOOR(SUM(value) / COUNT(value) * 1e4 + 0.5) / 1e4
                       AS value_avg,
                   MIN(value) AS value_min,
                   MAX(value) AS value_max,
                   COUNT(user_id) AS user_id_count
            FROM events
            GROUP BY event_type
        """,
        # identical fixed-range binning + cumulative-threshold midpoint:
        # width/lo/hi are the same IEEE doubles on both engines, so the
        # estimates match to the rounded precision.
        "rollup_histogram_quantiles": """
            WITH b AS (
                SELECT MIN(value) AS lo, MAX(value) AS hi,
                       (MAX(value) - MIN(value)) / 50 AS w
                FROM events
            ),
            binned AS (
                SELECT event_type,
                       LEAST(49, GREATEST(0, CAST(FLOOR(
                           (value - b.lo) / b.w) AS INT))) AS bin
                FROM events, b
            ),
            counts AS (
                SELECT event_type, bin, COUNT(*) AS c
                FROM binned GROUP BY event_type, bin
            ),
            cum AS (
                SELECT event_type, bin, c,
                       SUM(c) OVER (PARTITION BY event_type ORDER BY bin)
                           AS cum,
                       SUM(c) OVER (PARTITION BY event_type) AS tot
                FROM counts
            ),
            idx AS (
                SELECT event_type, CAST(MAX(tot) AS BIGINT) AS n,
                       MIN(CASE WHEN cum >= GREATEST(
                           1, CAST(CEIL(tot * 0.5) AS BIGINT))
                           THEN bin END) AS i50,
                       MIN(CASE WHEN cum >= GREATEST(
                           1, CAST(CEIL(tot * 0.9) AS BIGINT))
                           THEN bin END) AS i90
                FROM cum GROUP BY event_type
            )
            SELECT event_type,
                   n,
                   FLOOR((b.lo + (i50 + 0.5) * b.w) * 1e6 + 0.5) / 1e6
                       AS value_p50,
                   FLOOR((b.lo + (i90 + 0.5) * b.w) * 1e6 + 0.5) / 1e6
                       AS value_p90
            FROM idx, b
        """,
        "heavy_hitters_suppliers": """
            SELECT CAST(ROW_NUMBER() OVER (
                       ORDER BY COUNT(*) DESC, l_suppkey ASC
                   ) AS INT) AS rank,
                   l_suppkey,
                   COUNT(*) AS cnt,
                   CAST(0 AS BIGINT) AS err
            FROM lineitem
            GROUP BY l_suppkey
            ORDER BY cnt DESC, l_suppkey ASC
            LIMIT 10
        """,
        "heavy_hitters_by_flag": """
            WITH counts AS (
                SELECT l_returnflag, l_suppkey, COUNT(*) AS cnt
                FROM lineitem GROUP BY l_returnflag, l_suppkey
            ),
            ranked AS (
                SELECT l_returnflag,
                       CAST(ROW_NUMBER() OVER (
                           PARTITION BY l_returnflag
                           ORDER BY cnt DESC, l_suppkey ASC
                       ) AS INT) AS rank,
                       l_suppkey, cnt,
                       CAST(0 AS BIGINT) AS err
                FROM counts
            )
            SELECT l_returnflag, rank, l_suppkey, cnt, err
            FROM ranked WHERE rank <= 5
        """,
    }
