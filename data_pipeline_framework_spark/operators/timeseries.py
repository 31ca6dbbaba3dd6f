"""Time-series operators (reference transformations/time_series.py).

All operators are expression-based (whole-stage codegen) except the two
genuinely sequential kernels (EWM smoothing, seasonal decomposition) which
escape to Arrow-batched applyInPandas per series — the pattern SURVEY §7.3
prescribes. Every windowed computation requires an explicit order column
(+ optional per-series partition keys); nothing assumes a pandas index.

Scale: resampling is a groupBy on (bucket, keys) — shuffles once; rolling
stats are window frames over (keys) partitions; gap-filling generates the
time spine WITH a per-key sequence (no driver loop) and joins it back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# pandas-style frequency aliases -> (Spark window duration, date_trunc unit)
_FREQ = {
    "min": "1 minute", "1min": "1 minute", "5min": "5 minutes",
    "15min": "15 minutes", "30min": "30 minutes",
    "H": "1 hour", "h": "1 hour", "D": "1 day", "d": "1 day",
    "W": "1 week", "M": "1 month", "Y": "1 year",
}
_TRUNC = {"1 minute": "minute", "1 hour": "hour", "1 day": "day",
          "1 week": "week", "1 month": "month", "1 year": "year"}


def resample(
    df: DataFrame,
    ts_col: str,
    freq: str,
    aggregations: dict[str, str | list[str]],
    group_by: list[str] | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Resample to a fixed frequency (reference time_series.py:17-67).

    Calendar frequencies (month/year) use date_trunc; fixed-width ones use
    F.window so the same code drives Structured Streaming. Output columns
    follow the `{col}_{func}` convention.
    """
    from ..plans.compiler import build_agg_exprs

    duration = _FREQ.get(freq, freq)
    keys = list(group_by or [])
    if duration in ("1 month", "1 year", "1 week"):
        bucket = F.date_trunc(_TRUNC[duration], F.col(ts_col))
    else:
        bucket = F.window(ts_col, duration).start
    out = (
        df.withColumn(bucket_col, bucket)
        .groupBy(*keys, bucket_col)
        .agg(*build_agg_exprs(aggregations))
    )
    return out


def rolling_window_stats(
    df: DataFrame,
    ts_col: str,
    column: str,
    window: int,
    stats: list[str] = ("mean", "std", "min", "max"),
    group_by: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Trailing `window`-row stats (reference time_series.py:69-116);
    output `{col}_rolling_{stat}_{w}`. `tiebreak` columns make the ordering
    total so results are deterministic under distribution."""
    order = [ts_col] + list(tiebreak or [])
    w = (
        Window.partitionBy(*(group_by or []))
        .orderBy(*order)
        .rowsBetween(-(int(window) - 1), 0)
    )
    fns = {
        "mean": F.avg, "sum": F.sum, "std": F.stddev, "min": F.min,
        "max": F.max, "count": F.count,
    }
    # exact percentiles over a frame (F.median doesn't accept frames)
    pct = {"median": 0.5, "q25": 0.25, "q75": 0.75}
    cols = {}
    for s in stats:
        if s in pct:
            cols[f"{column}_rolling_{s}_{window}"] = F.percentile(
                column, F.lit(pct[s])
            ).over(w)
        else:
            cols[f"{column}_rolling_{s}_{window}"] = fns[s](column).over(w)
    return df.withColumns(cols)


def calculate_time_features(df: DataFrame, ts_col: str) -> DataFrame:
    """Calendar features (reference time_series.py:283-337); the reference's
    pandas day_of_week is Mon=0 and week_of_year is ISO."""
    c = F.col(ts_col)
    return df.withColumns({
        f"{ts_col}_hour": F.hour(c),
        f"{ts_col}_day": F.dayofmonth(c),
        f"{ts_col}_day_of_week": (F.dayofweek(c) + 5) % 7,
        f"{ts_col}_day_name": F.date_format(c, "EEEE"),
        f"{ts_col}_month": F.month(c),
        f"{ts_col}_month_name": F.date_format(c, "MMMM"),
        f"{ts_col}_quarter": F.quarter(c),
        f"{ts_col}_year": F.year(c),
        f"{ts_col}_is_weekend": ((F.dayofweek(c) + 5) % 7 >= 5).cast("int"),
        # plain weekday test, like the reference (no holiday calendar)
        f"{ts_col}_is_business_day": ((F.dayofweek(c) + 5) % 7 < 5).cast("int"),
        f"{ts_col}_week_of_year": F.weekofyear(c),
        f"{ts_col}_day_of_year": F.dayofyear(c),
    })


def calculate_lags(
    df: DataFrame,
    column: str,
    lags: list[int],
    ts_col: str,
    group_by: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Multiple lag features `{col}_lag_{k}` (reference time_series.py:339-378)."""
    order = [ts_col] + list(tiebreak or [])
    w = Window.partitionBy(*(group_by or [])).orderBy(*order)
    return df.withColumns(
        {f"{column}_lag_{k}": F.lag(column, int(k)).over(w) for k in lags}
    )


def calculate_differences(
    df: DataFrame,
    column: str,
    periods: list[int],
    ts_col: str,
    group_by: list[str] | None = None,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """`{col}_diff_{k}` = value - lag(value, k) (reference time_series.py:380-419)."""
    order = [ts_col] + list(tiebreak or [])
    w = Window.partitionBy(*(group_by or [])).orderBy(*order)
    return df.withColumns(
        {
            f"{column}_diff_{k}": F.col(column) - F.lag(column, int(k)).over(w)
            for k in periods
        }
    )


def detect_outliers(
    df: DataFrame,
    column: str,
    method: str = "iqr",
    threshold: float = 1.5,
    ts_col: str | None = None,
    window: int = 20,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Outlier flag `{col}_is_outlier` (reference time_series.py:171-231).

    iqr/zscore compute the bounds with ONE scalar agg (exact percentile /
    mean+stddev) broadcast back via crossJoin of a 1-row frame — no driver
    round-trip in the plan. rolling_zscore uses a trailing window.
    """
    flag = f"{column}_is_outlier"
    if method == "iqr":
        bounds = df.agg(
            F.percentile(column, F.lit(0.25)).alias("__q1"),
            F.percentile(column, F.lit(0.75)).alias("__q3"),
        )
        out = df.crossJoin(F.broadcast(bounds))
        iqr = F.col("__q3") - F.col("__q1")
        return out.withColumn(
            flag,
            (
                (F.col(column) < F.col("__q1") - threshold * iqr)
                | (F.col(column) > F.col("__q3") + threshold * iqr)
            ).cast("int"),
        ).drop("__q1", "__q3")
    if method == "zscore":
        stats = df.agg(
            F.avg(column).alias("__mu"), F.stddev(column).alias("__sigma")
        )
        out = df.crossJoin(F.broadcast(stats))
        return out.withColumn(
            flag,
            (F.abs((F.col(column) - F.col("__mu")) / F.col("__sigma")) > threshold)
            .cast("int"),
        ).drop("__mu", "__sigma")
    if method == "rolling_zscore":
        if ts_col is None:
            raise ValueError("rolling_zscore requires ts_col")
        w = (
            Window.partitionBy(*(group_by or []))
            .orderBy(ts_col)
            .rowsBetween(-(int(window) - 1), 0)
        )
        mu, sigma = F.avg(column).over(w), F.stddev(column).over(w)
        return df.withColumn(
            flag,
            F.when(sigma > 0, (F.abs((F.col(column) - mu) / sigma) > threshold))
            .otherwise(F.lit(False))
            .cast("int"),
        )
    raise ValueError(f"unsupported outlier method: {method!r}")


def fill_missing(
    df: DataFrame,
    column: str,
    method: str = "ffill",
    ts_col: str | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """ffill / bfill / mean / linear interpolate (reference
    time_series.py:233-281). Linear interpolation is fully distributed:
    bracket each null run with the previous/next known (value, position)
    via ignorenulls window fills, then lerp."""
    keys = list(group_by or [])
    if method in ("mean",):
        from ..plans.compiler import _fill_null

        return _fill_null(df, {"columns": [column], "method": "mean"})
    if ts_col is None:
        raise ValueError(f"{method} requires ts_col")
    part = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    wf = part.orderBy(ts_col).rowsBetween(Window.unboundedPreceding, 0)
    wb = part.orderBy(ts_col).rowsBetween(0, Window.unboundedFollowing)
    if method == "ffill":
        return df.withColumn(column, F.last(column, ignorenulls=True).over(wf))
    if method == "bfill":
        return df.withColumn(column, F.first(column, ignorenulls=True).over(wb))
    if method == "interpolate":
        pos = F.row_number().over(part.orderBy(ts_col))
        d = df.withColumn("__pos", pos)
        known_pos = F.when(F.col(column).isNotNull(), F.col("__pos"))
        prev_v = F.last(column, ignorenulls=True).over(wf)
        prev_p = F.last(known_pos, ignorenulls=True).over(wf)
        next_v = F.first(column, ignorenulls=True).over(wb)
        next_p = F.first(known_pos, ignorenulls=True).over(wb)
        lerp = prev_v + (next_v - prev_v) * (F.col("__pos") - prev_p) / (
            next_p - prev_p
        )
        filled = (
            F.when(F.col(column).isNotNull(), F.col(column))
            .when(prev_p.isNull(), next_v)   # leading nulls -> bfill
            .when(next_p.isNull(), prev_v)   # trailing nulls -> ffill
            .otherwise(lerp)
        )
        return d.withColumn(column, filled).drop("__pos")
    raise ValueError(f"unsupported fill method: {method!r}")


def _apply_per_series(df: DataFrame, fn, schema, keys: list[str]) -> DataFrame:
    """applyInPandas per series; with no keys, group on a temp constant
    column (grouping directly on a literal trips Spark's GROUP BY ordinal
    resolution)."""
    if keys:
        return df.groupBy(*keys).applyInPandas(fn, schema)

    def drop_g(pdf):
        return fn(pdf.drop(columns="__g"))

    return df.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(
        drop_g, schema
    )


def smooth(
    df: DataFrame,
    column: str,
    method: str = "moving_average",
    window: int = 5,
    alpha: float = 0.3,
    ts_col: str | None = None,
    group_by: list[str] | None = None,
) -> DataFrame:
    """moving_average (window frame) / exponential EWM (applyInPandas — the
    recurrence is inherently sequential per series; reference
    time_series.py:421-480). Output `{col}_smoothed`."""
    out_col = f"{column}_smoothed"
    if method == "moving_average":
        w = (
            Window.partitionBy(*(group_by or []))
            .orderBy(ts_col)
            .rowsBetween(-(int(window) - 1), 0)
        )
        return df.withColumn(out_col, F.avg(column).over(w))
    if method == "exponential":
        if ts_col is None:
            raise ValueError("exponential smoothing requires ts_col")
        from pyspark.sql import types as T

        keys = list(group_by or [])
        # copy the fields — StructType.add would mutate the frame's cached schema
        schema = T.StructType(
            list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
        )

        def ewm(pdf):
            pdf = pdf.sort_values(ts_col)
            pdf[out_col] = pdf[column].ewm(alpha=alpha, adjust=False).mean()
            return pdf

        return _apply_per_series(df, ewm, schema, keys)
    if method == "savgol":
        if ts_col is None:
            raise ValueError("savgol smoothing requires ts_col")
        return _savgol(df, column, out_col, ts_col, int(window),
                       group_by=group_by)
    raise ValueError(f"unsupported smoothing method: {method!r}")


def _savgol_1d(y, window: int, polyorder: int):
    """Savitzky-Golay filter, pure numpy (scipy is not a dependency).

    Interior points: least-squares poly fit over the centered window via a
    fixed convolution kernel (pinv of the Vandermonde); edges: polynomial
    fitted to the first/last window evaluated at the edge positions —
    scipy.signal.savgol_filter(mode='interp') semantics.
    """
    import numpy as np

    n = len(y)
    window = min(window if window % 2 == 1 else window + 1, n if n % 2 == 1 else n - 1)
    if window < 3 or n < window:
        return np.asarray(y, dtype=float)
    polyorder = min(polyorder, window - 1)
    half = window // 2
    # convolution coefficients: first row of pinv(Vandermonde)
    x = np.arange(-half, half + 1, dtype=float)
    A = np.vander(x, polyorder + 1, increasing=True)  # [1, x, x^2, ...]
    coeffs = np.linalg.pinv(A)[0]  # evaluates fitted poly at x=0
    y = np.asarray(y, dtype=float)
    out = np.convolve(y, coeffs[::-1], mode="same")
    # edge handling: fit a polynomial to the first/last `window` samples
    idx = np.arange(window, dtype=float)
    head = np.polynomial.polynomial.polyfit(idx, y[:window], polyorder)
    out[:half] = np.polynomial.polynomial.polyval(idx[:half], head)
    tail = np.polynomial.polynomial.polyfit(idx, y[-window:], polyorder)
    out[-half:] = np.polynomial.polynomial.polyval(idx[-half:], tail)
    return out


def _savgol(
    df: DataFrame,
    column: str,
    out_col: str,
    ts_col: str,
    window: int,
    polyorder: int = 2,
    group_by: list[str] | None = None,
) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )

    def apply(pdf):
        pdf = pdf.sort_values(ts_col)
        pdf[out_col] = _savgol_1d(pdf[column].to_numpy(), window, polyorder)
        return pdf

    return _apply_per_series(df, apply, schema, list(group_by or []))


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    model: str = "additive",
    period: int = 7,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Classic seasonal decomposition (reference time_series.py:118-169,
    which wraps statsmodels.seasonal_decompose). Output columns
    `{col}_trend`, `{col}_seasonal`, `{col}_residual`.

    Implemented in numpy inside applyInPandas (statsmodels is not a
    dependency), matching the classic algorithm: centered moving-average
    trend (2xMA for even periods, NaN at the edges), per-phase mean of the
    detrended series normalized to zero-mean (additive) / unit-mean
    (multiplicative) seasonality, remainder as residual.

    Scale: one Arrow batch per series (group_by keys). A single 100 TB
    series cannot be decomposed this way — but a single series that large
    is ill-posed; the operator is designed for many series of bounded
    length (per device/customer/product), which is the partition-parallel
    sweet spot.
    """
    import numpy as np
    from pyspark.sql import types as T

    if model not in ("additive", "multiplicative"):
        raise ValueError(f"unknown model: {model!r}")
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField(f"{value_col}_trend", T.DoubleType()),
            T.StructField(f"{value_col}_seasonal", T.DoubleType()),
            T.StructField(f"{value_col}_residual", T.DoubleType()),
        ]
    )

    def decompose(pdf):
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        y = pdf[value_col].to_numpy(dtype=float)
        n = len(y)
        trend = np.full(n, np.nan)
        if n >= period + 1:
            if period % 2 == 0:
                # 2xMA: weights [0.5, 1, ..., 1, 0.5] / period
                w = np.ones(period + 1)
                w[0] = w[-1] = 0.5
                w /= period
                half = period // 2
                conv = np.convolve(y, w, mode="valid")
                trend[half:n - half] = conv
            else:
                half = period // 2
                conv = np.convolve(y, np.ones(period) / period, mode="valid")
                trend[half:n - half] = conv
        if model == "additive":
            detrended = y - trend
        else:
            detrended = np.divide(y, trend, out=np.full(n, np.nan),
                                  where=~np.isnan(trend) & (trend != 0))
        phases = np.arange(n) % period
        means = np.array([
            np.nanmean(detrended[phases == p]) if np.any(~np.isnan(detrended[phases == p]))
            else np.nan
            for p in range(period)
        ])
        if model == "additive":
            means = means - np.nanmean(means)
            seasonal = means[phases]
            resid = y - trend - seasonal
        else:
            means = means / np.nanmean(means)
            seasonal = means[phases]
            resid = np.divide(
                y, trend * seasonal, out=np.full(n, np.nan),
                where=~np.isnan(trend) & (trend * seasonal != 0),
            )
        pdf[f"{value_col}_trend"] = trend
        pdf[f"{value_col}_seasonal"] = seasonal
        pdf[f"{value_col}_residual"] = resid
        return pdf

    return _apply_per_series(df, decompose, schema, list(group_by or []))


def detect_changepoints(
    df: DataFrame,
    column: str,
    ts_col: str,
    window: int = 10,
    threshold: float = 2.0,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Rolling-mean jump > threshold * rolling std (reference
    time_series.py:482-527). Flag column `{col}_changepoint`."""
    part = Window.partitionBy(*(group_by or [])).orderBy(ts_col)
    w = part.rowsBetween(-(int(window) - 1), 0)
    mean_c, std_c = F.avg(column).over(w), F.stddev(column).over(w)
    d = df.withColumn("__rmean", mean_c).withColumn("__rstd", std_c)
    jump = F.abs(F.col("__rmean") - F.lag("__rmean", 1).over(part))
    return (
        d.withColumn(
            f"{column}_changepoint",
            F.when(
                jump > threshold * F.coalesce(F.col("__rstd"), F.lit(0.0)), 1
            ).otherwise(0),
        )
        .drop("__rmean", "__rstd")
    )


_UNIT_MICROS = {
    "microsecond": 1, "millisecond": 1_000, "second": 1_000_000,
    "minute": 60_000_000, "hour": 3_600_000_000, "day": 86_400_000_000,
}


def _interval_micros(gap: str | int | float) -> int:
    """'30 minutes' / '5 seconds' / bare seconds -> microseconds."""
    if isinstance(gap, (int, float)):
        return int(gap * 1_000_000)
    qty, unit = gap.strip().split()
    unit = unit.rstrip("s").lower()
    if unit not in _UNIT_MICROS:
        raise ValueError(f"unsupported interval unit: {unit!r}")
    return int(float(qty) * _UNIT_MICROS[unit])


def _is_ntz(df: DataFrame, col: str) -> bool:
    field = next((f for f in df.schema.fields if f.name == col), None)
    return field is not None and isinstance(field.dataType, T.TimestampNTZType)


def _epoch_micros(col, ntz: bool) -> F.Column:
    """Microseconds-since-epoch for TIMESTAMP *or* TIMESTAMP_NTZ columns.

    unix_micros only accepts TIMESTAMP_LTZ; NANOS parquet (e.g. the events
    table) arrives as TIMESTAMP_NTZ, so NTZ inputs go through
    timestamp_diff(MICROSECOND, epoch, ts) — wall-clock arithmetic that is
    independent of the session timezone (verified against a non-UTC session)."""
    c = F.col(col) if isinstance(col, str) else col
    if ntz:
        return F.timestamp_diff(
            "MICROSECOND", F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"), c
        )
    return F.unix_micros(c)


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str,
    group_by: list[str] | None = None,
    session_col: str = "session_id",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Gap-based session ids: lag(ts) + cumulative sum of gap>threshold.
    The batch twin of F.session_window; `gap` like '30 minutes'."""
    keys = list(group_by or [])
    order = [ts_col] + list(tiebreak or [])
    w = Window.partitionBy(*keys).orderBy(*order)
    ntz = _is_ntz(df, ts_col)
    gap_micros = _epoch_micros(ts_col, ntz) - _epoch_micros(
        F.lag(ts_col, 1).over(w), ntz
    )
    thresh_micros = F.lit(_interval_micros(gap))
    new_session = F.when(
        gap_micros.isNull() | (gap_micros > thresh_micros), 1
    ).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


# ---------------------------------------------------------------------------
# event-time windows (batch twins of the Structured Streaming operators;
# F.window / F.session_window accept streaming DataFrames unchanged, so the
# streaming module reuses these builders verbatim)

_WINDOW_AGG_FNS = {"sum": F.sum, "avg": F.avg, "mean": F.avg, "min": F.min,
                   "max": F.max, "count": F.count,
                   "unique_count": F.count_distinct}


def _window_aggs(aggregations: dict) -> tuple[list, list[str]]:
    exprs, names = [], []
    for col, funcs in aggregations.items():
        if isinstance(funcs, str):
            funcs = [funcs]
        for fn in funcs:
            name = f"{col}_{fn}"
            exprs.append(_WINDOW_AGG_FNS[fn](col).alias(name))
            names.append(name)
    return exprs, names


def _windowed(df, win, win_field, aggregations, keys):
    exprs, names = _window_aggs(aggregations)
    return (
        df.groupBy(win, *keys)
        .agg(*exprs)
        .select(
            F.col(f"{win_field}.start").alias("window_start"),
            F.col(f"{win_field}.end").alias("window_end"),
            *keys,
            *names,
        )
    )


def tumbling_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    aggregations: dict,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Epoch-aligned fixed event-time windows (reference
    stream_processor.py:35-56 tumbling windows, minus the
    close-on-next-arrival bug). Emits window_start / window_end."""
    return _windowed(df, F.window(ts_col, duration), "window",
                     aggregations, list(group_by or []))


def sliding_window(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    aggregations: dict,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Overlapping event-time windows (reference stream_processor.py:58-82
    used processing-time + a bounded deque; this is exact event-time)."""
    return _windowed(df, F.window(ts_col, duration, slide), "window",
                     aggregations, list(group_by or []))


def session_window(
    df: DataFrame,
    ts_col: str,
    gap: str,
    aggregations: dict,
    group_by: list[str] | None = None,
) -> DataFrame:
    """Gap-merged session windows (the reference declared but never
    implemented them — stream_processor.py:33). Native F.session_window:
    window_end = last event ts + gap."""
    return _windowed(df, F.session_window(ts_col, gap), "session_window",
                     aggregations, list(group_by or []))


def holt_winters(
    df: DataFrame,
    column: str,
    ts_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.1,
    season_length: int | None = None,
    group_by: list[str] | None = None,
    forecast_periods: int = 0,
) -> DataFrame:
    """Holt(-Winters) exponential smoothing per series (the forecasting
    step the reference's time-series module stops short of — its
    time_series.py:421-480 surface ends at EWM).

    Without `season_length`: Holt's linear trend —
        l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}
    init l_1 = y_1, b_1 = 0; one-step fitted value_hat_t = l_{t-1} +
    b_{t-1} (fitted_1 = y_1). With `season_length` m: additive seasonal
    terms s_t = g*(y_t - l_t) + (1-g)*s_{t-m}, seeded from the first
    season's deviations around its mean; fitted adds s_{t-m}.

    Adds `{column}_hat` to every input row. With forecast_periods=h,
    appends h rows per series (null input fields except the keys) whose
    `{column}_hat` is the k-step-ahead forecast l_T + k*b_T (+ the
    wrapped seasonal). The recurrence is inherently sequential per
    series: Arrow-batched applyInPandas, series partitioned by
    `group_by` — the 100 TB shape is many series, not one long one.

    Execution: the non-seasonal path runs time-step-major — series are
    hash-bucketed so each Arrow batch carries many series, and one numpy
    update per step advances EVERY series in the batch at once (identical
    float64 op order to the per-row loop, pinned by test). Python work
    drops from O(total_rows) interpreter iterations to O(longest_series)
    vectorized steps per batch — the difference between seconds and hours
    when a 100 TB corpus holds millions of short series. The seasonal
    path keeps the per-series loop (state indexing is phase-dependent).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    keys = list(group_by or [])
    out_col = f"{column}_hat"
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.DoubleType())]
    )
    m = int(season_length) if season_length else 0
    h = int(forecast_periods)

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col).reset_index(drop=True)
        y = pdf[column].to_numpy(dtype="float64")
        n = len(y)
        hat = np.empty(n, dtype="float64")
        if n == 0:
            pdf[out_col] = hat
            return pdf
        if m and n >= 2 * m:
            l = float(np.mean(y[:m]))
            b = (float(np.mean(y[m:2 * m])) - l) / m
            s = [float(v) - l for v in y[:m]]
            for t in range(n):
                si = s[t % m]
                hat[t] = (l + b + si) if t >= m else float(y[t])
                l_new = alpha * (y[t] - si) + (1 - alpha) * (l + b)
                b = beta * (l_new - l) + (1 - beta) * b
                s[t % m] = gamma * (y[t] - l_new) + (1 - gamma) * si
                l = l_new
            fc = [l + (k + 1) * b + s[(n + k) % m] for k in range(h)]
        else:
            l = float(y[0])
            b = 0.0
            hat[0] = float(y[0])
            for t in range(1, n):
                hat[t] = l + b
                l_new = alpha * y[t] + (1 - alpha) * (l + b)
                b = beta * (l_new - l) + (1 - beta) * b
                l = l_new
            fc = [l + (k + 1) * b for k in range(h)]
        pdf[out_col] = hat
        if h:
            extra = pd.DataFrame({out_col: np.asarray(fc, dtype="float64")})
            for c in pdf.columns:
                if c == out_col:
                    continue
                extra[c] = pdf[c].iloc[-1] if c in keys else None
            if n >= 2:
                # forecast rows carry extrapolated timestamps (last
                # observed cadence), so downstream sorts stay total
                step = pdf[ts_col].iloc[-1] - pdf[ts_col].iloc[-2]
                extra[ts_col] = [
                    pdf[ts_col].iloc[-1] + step * (k + 1) for k in range(h)
                ]
            pdf = pd.concat([pdf, extra[pdf.columns]], ignore_index=True)
        return pdf

    def fit_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        # Time-step-major Holt over every series in the bucket at once.
        # Identical float64 op order to `fit`'s per-row loop (pinned by
        # tests/test_timeseries.py); only the iteration shape differs.
        pdf = pdf.drop(columns="__bkt")
        pdf = pdf.sort_values(keys + [ts_col], kind="mergesort")
        pdf = pdf.reset_index(drop=True)
        n_rows = len(pdf)
        if n_rows == 0:
            pdf[out_col] = np.empty(0, dtype="float64")
            return pdf
        y = pdf[column].to_numpy(dtype="float64")
        new = np.zeros(n_rows, dtype=bool)
        new[0] = True
        for k in keys:
            # factorize → nulls share one code, matching Spark's groupBy
            kv = pd.factorize(pdf[k])[0]
            new[1:] |= kv[1:] != kv[:-1]
        starts = np.flatnonzero(new)
        counts = np.diff(np.append(starts, n_rows))
        gid = np.repeat(np.arange(len(starts)), counts)
        t = np.arange(n_rows) - np.repeat(starts, counts)
        order = np.argsort(t, kind="stable")
        t_ord = t[order]
        step_starts = np.flatnonzero(np.r_[True, t_ord[1:] != t_ord[:-1]])
        step_bounds = np.append(step_starts, n_rows)
        l = y[starts].copy()
        b = np.zeros(len(starts), dtype="float64")
        hat = np.empty(n_rows, dtype="float64")
        hat[starts] = y[starts]
        for s in range(1, len(step_starts)):
            rows = order[step_bounds[s]:step_bounds[s + 1]]
            gs = gid[rows]
            lb = l[gs] + b[gs]
            hat[rows] = lb
            l_new = alpha * y[rows] + (1 - alpha) * lb
            b[gs] = beta * (l_new - l[gs]) + (1 - beta) * b[gs]
            l[gs] = l_new
        pdf[out_col] = hat
        if h:
            # forecast rows: O(#series) loop, not O(#rows)
            last = starts + counts - 1
            extras = []
            for i in range(len(starts)):
                fc = [l[i] + (k + 1) * b[i] for k in range(h)]
                extra = pd.DataFrame(
                    {out_col: np.asarray(fc, dtype="float64")}
                )
                for c in pdf.columns:
                    if c == out_col:
                        continue
                    extra[c] = pdf[c].iloc[last[i]] if c in keys else None
                if counts[i] >= 2:
                    step = (pdf[ts_col].iloc[last[i]]
                            - pdf[ts_col].iloc[last[i] - 1])
                    extra[ts_col] = [
                        pdf[ts_col].iloc[last[i]] + step * (k + 1)
                        for k in range(h)
                    ]
                extras.append(extra[pdf.columns])
            pdf = pd.concat([pdf, *extras], ignore_index=True)
        return pdf

    if not m and keys:
        try:
            n_buckets = int(
                df.sparkSession.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):
            n_buckets = 32
        n_buckets = max(n_buckets, 1)
        bucketed = df.withColumn(
            "__bkt",
            F.pmod(F.xxhash64(*[F.col(k) for k in keys]),
                   F.lit(n_buckets)),
        )
        return bucketed.groupBy("__bkt").applyInPandas(fit_batch, schema)
    return _apply_per_series(df, fit, schema, keys)
