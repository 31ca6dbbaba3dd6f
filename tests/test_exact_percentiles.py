from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_framework_spark.functions.profiling import (
    _exact_percentiles_sort,
    exact_percentiles,
)
from data_pipeline_framework_spark.sources.readers import read_parquet


def test_exact_percentiles_match_builtin(spark, sf_dir):
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    probs = [0.25, 0.5, 0.75]
    expected = li.agg(*[
        F.percentile(F.col(c), F.array(*[F.lit(p) for p in probs])).alias(c)
        for c in cols
    ]).first()
    for kernel in (exact_percentiles, _exact_percentiles_sort):
        got = kernel(li, cols, probs)
        for c in cols:
            for i, p in enumerate(probs):
                assert got[c][i] == pytest.approx(
                    expected[c][i], abs=1e-9
                ), (kernel.__name__, c, p)


def test_exact_percentiles_degenerate_sketch_still_exact(spark, sf_dir):
    """the legacy `accuracy` knob is compatibility-only (the histogram
    kernel has no sketch to tune) — any value must leave the result
    exact."""
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    got = exact_percentiles(li, ["l_quantity"], [0.5], accuracy=1)
    expected = li.agg(F.percentile("l_quantity", F.lit(0.5))).first()[0]
    assert got["l_quantity"][0] == pytest.approx(expected, abs=1e-9)


def test_hist_kernel_refinement_and_fallbacks(spark):
    """the histogram kernel with a tiny collect_cap is forced through
    its refinement rounds (sub-histograms inside straddling buckets)
    and must stay exact; a column whose quantile bucket cannot shrink
    (one repeated value holding more rows than the cap) falls back to
    the sort kernel and is still exact; constant columns short-circuit."""
    import random

    from data_pipeline_framework_spark.functions.profiling import (
        _exact_percentiles_hist,
    )

    rng = random.Random(3)
    vals = [rng.uniform(0, 1000) for _ in range(5000)]
    df = spark.createDataFrame(
        [(v, 7.5, 42.0 if i % 2 else rng.uniform(0, 1.0))
         for i, v in enumerate(vals)],
        "a double, konst double, heavy double",
    )
    probs = [0.25, 0.5, 0.75]
    meta_row = df.agg(
        *[x for c in ("a", "konst", "heavy") for x in (
            F.count(F.col(c)).alias(f"{c}__n"),
            F.min(F.col(c)).alias(f"{c}__mn"),
            F.max(F.col(c)).alias(f"{c}__mx"),
        )]
    ).first()
    meta = {
        c: (meta_row[f"{c}__n"], meta_row[f"{c}__mn"], meta_row[f"{c}__mx"])
        for c in ("a", "konst", "heavy")
    }
    # cap of 64 with 16 bins: 5000-row segments must refine ~2 rounds
    # before any window is collectable; 'heavy' has 2500 copies of 42.0
    # at the upper quantiles — its bucket never shrinks below the cap,
    # so it must take the sort-kernel fallback. 'konst' is constant.
    got = _exact_percentiles_hist(
        df, ["a", "konst", "heavy"], probs, meta,
        n_bins=16, collect_cap=64, max_rounds=4,
    )
    exp = df.agg(*[
        F.percentile(F.col(c), F.array(*[F.lit(p) for p in probs])).alias(c)
        for c in ("a", "konst", "heavy")
    ]).first()
    for c in ("a", "konst", "heavy"):
        for i in range(len(probs)):
            assert got[c][i] == pytest.approx(exp[c][i], abs=1e-9), (c, i)


def test_exact_percentiles_nulls_and_empty(spark):
    df = spark.createDataFrame(
        [(1.0, None), (2.0, None), (3.0, None), (4.0, None)],
        "a double, b double",
    )
    for kernel in (exact_percentiles, _exact_percentiles_sort):
        got = kernel(df, ["a", "b"], [0.5])
        assert got["a"] == [2.5], kernel.__name__
        assert got["b"] == [None], kernel.__name__


def test_average_ranks_ties_and_nulls(spark):
    """tie groups share the mean of their positions; nulls rank as null."""
    from data_pipeline_framework_spark.functions.profiling import average_ranks

    df = spark.createDataFrame(
        [(1, 10.0), (2, 10.0), (3, 20.0), (4, None), (5, 5.0)],
        "id int, v double",
    )
    out = {r["id"]: r["__rk_v"] for r in average_ranks(df, ["v"]).collect()}
    assert out[5] == 1.0
    assert out[1] == out[2] == 2.5   # positions 2,3 averaged
    assert out[3] == 4.0
    assert out[4] is None


def test_threshold_sweep_metrics(spark):
    from data_pipeline_framework_spark.functions.profiling import (
        threshold_sweep,
    )

    # 4 rows: scores .1 .4 .6 .9, labels 0 1 0 1
    df = spark.createDataFrame(
        [(0.1, 0), (0.4, 1), (0.6, 0), (0.9, 1)], "s double, y int"
    )
    out = threshold_sweep(df, "s", "y", n_thresholds=10).collect()
    by_t = {round(r["threshold"], 2): r for r in out}
    assert len(out) == 10
    # threshold 0.0: everything predicted positive
    r0 = by_t[0.0]
    assert r0["pred_pos"] == 4 and r0["tp"] == 2
    assert abs(r0["precision"] - 0.5) < 1e-12 and r0["recall"] == 1.0
    # threshold 0.5: scores .6 and .9 predicted positive, one is true
    r5 = by_t[0.5]
    assert r5["pred_pos"] == 2 and r5["tp"] == 1
    assert abs(r5["precision"] - 0.5) < 1e-12
    assert abs(r5["recall"] - 0.5) < 1e-12
    assert abs(r5["f1"] - 0.5) < 1e-12
    # top threshold 0.9: only score .9 (bucket 9 clamps) -> precision 1
    r9 = by_t[0.9]
    assert r9["pred_pos"] == 1 and r9["tp"] == 1 and r9["precision"] == 1.0
    # empty prediction never occurs here, but nulls propagate:
    empty = threshold_sweep(
        spark.createDataFrame([(0.05, 1)], "s double, y int"), "s", "y",
        n_thresholds=10,
    ).collect()
    top = [r for r in empty if round(r["threshold"], 2) == 0.9][0]
    assert top["pred_pos"] == 0 and top["precision"] is None
    assert top["f1"] is None and top["recall"] == 0.0


def test_profile_lossy_values_propagate(spark):
    """Non-finite and |x|>=1e28 values null out under the decimal(38,10)
    cast (ANSI off); the profile must COUNT them (n_lossy) and fall back
    to the double accumulator so sum/mean propagate NaN/Inf instead of
    silently excluding rows that count/min/max include (ADVICE r7)."""
    import math

    from data_pipeline_framework_spark.functions.profiling import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (float("nan"),), (None,)], "a double"
    ).unionAll(
        spark.createDataFrame(
            [(1.0,), (float("inf"),)], "a double"
        )
    ).withColumnRenamed("a", "x")
    got = {
        (r["column"], r["metric"]): r["value"]
        for r in profile_columns(df, ["x"]).collect()
    }
    assert got[("x", "count")] == 5.0  # NaN/Inf are non-null
    assert got[("x", "n_lossy")] == 2.0
    assert math.isnan(got[("x", "sum")])  # NaN + Inf -> NaN, propagated
    assert math.isnan(got[("x", "mean")])

    # huge-but-finite: decimal cast overflows per-value; double sum keeps it
    big = spark.createDataFrame([(1e30,), (2.0,)], "x double")
    gb = {
        (r["metric"]): r["value"]
        for r in profile_columns(big, ["x"]).collect()
    }
    assert gb["n_lossy"] == 1.0
    assert gb["sum"] == pytest.approx(1e30, rel=1e-12)
    assert gb["mean"] == pytest.approx(5e29, rel=1e-12)

    # clean column: exact decimal path, n_lossy == 0
    clean = spark.createDataFrame([(0.1,), (0.2,), (None,)], "x double")
    gc = {
        (r["metric"]): r["value"]
        for r in profile_columns(clean, ["x"]).collect()
    }
    assert gc["n_lossy"] == 0.0
    assert gc["sum"] == pytest.approx(0.3, abs=1e-12)  # exact decimal add


def test_profile_columns_beside_stat_named_column(spark):
    # A frame whose own column looks like one of the profile's stats
    # (`price__min` next to `price`) must profile both columns: the stats
    # frame is cross-joined back onto the data, so a shared name would be
    # an ambiguous reference.
    from data_pipeline_framework_spark.functions.profiling import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (4.0, 30.0)], "price double, price__min double"
    )
    got = {
        (r["column"], r["metric"]): r["value"]
        for r in profile_columns(df).collect()
    }
    assert got[("price", "min")] == 1.0
    assert got[("price", "max")] == 4.0
    assert got[("price", "median")] == 2.0
    assert got[("price__min", "min")] == 10.0
    assert got[("price__min", "max")] == 30.0
    assert got[("price__min", "sum")] == 60.0
