"""Profiling / quality / schema-inference aggregates.

Reference surfaces re-expressed as single-pass DataFrame agg plans:
  * column profiler stats  (reference utils/data_profiler.py:116-189)
  * quality metrics        (reference utils/quality_monitor.py:49-130)
  * correlation matrices   (reference utils/data_profiler.py:213-241)
  * schema enrichment      (reference utils/schema_inference.py:288-343)

The reference sampled 10K-100K rows into pandas; here every profile is ONE
distributed aggregation over the full table (exact, not sampled) producing a
long-format DataFrame — no driver collect inside the plan, so the same code
profiles a 100 TB table. Wide->long goes through an explode of pre-assembled
structs (pure plan surgery on a 1-row aggregate, negligible at any scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)


def _numeric_columns(df: DataFrame, columns: list[str] | None) -> list[str]:
    if columns:
        return columns
    return [
        f.name for f in df.schema.fields if isinstance(f.dataType, _NUMERIC_TYPES)
    ]


def _double_array_lit(vals) -> Column:
    """array<double> literal built in ONE driver call.

    ``F.array(*[F.lit(v) for v in vals])`` pays a py4j round trip per
    element (~0.7 ms each); a 63-element probability array costs ~45 ms
    of pure plan-build time per kernel invocation. One SQL string
    parses JVM-side in <1 ms to the identical foldable array literal —
    ``repr(float)`` round-trips the exact IEEE double and the ``D``
    suffix makes Spark parse it as DOUBLE (a bare decimal would parse
    as DECIMAL)."""
    import math

    fs = [float(v) for v in vals]
    if not fs or not all(math.isfinite(v) for v in fs):
        return F.array(*[F.lit(v) for v in fs])  # rare: keep old form
    return F.expr("array(" + ", ".join(f"{v!r}D" for v in fs) + ")")


def _inplan_cuts(frame: DataFrame, value_col: str, n_buckets: int) -> DataFrame:
    """One-row frame holding the sorted-distinct approximate cut points
    of ``value_col`` as ``__cuts array<double>`` — the in-plan twin of
    the old driver-side ``sorted(set(percentile_approx(...).first()))``
    collect (r10). Identical values by construction: the same sketch
    over the same 10% sample, ``array_distinct`` keeps one of each
    equal element exactly like ``set()``, ``array_sort`` orders
    ascending like ``sorted()``, and the doubles never round-trip
    through Python. Broadcast-joining this row lets the bucket
    assignment ride the consumer's single action instead of paying a
    separate driver action (and, for lazy consumers, a separate
    corpus pass) just to turn cut points into literals. NULL (empty
    sample) degrades to an empty array — zero cut points — matching
    the old degenerate single-bucket path; the array comes from an
    aggregation, so the optimizer cannot constant-fold the resulting
    bucket ordinal out of window partition specs (the hazard the old
    path dodged with pmod(hash, 1))."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    return (
        frame.sample(fraction=0.1, seed=42)
        .agg(
            F.percentile_approx(
                value_col, _double_array_lit(probs), 100
            ).alias("__cuts_raw")
        )
        .select(
            F.array_sort(
                F.array_distinct(
                    F.coalesce(
                        F.col("__cuts_raw"),
                        F.expr("CAST(array() AS array<double>)"),
                    )
                )
            ).alias("__cuts")
        )
    )


def _inplan_bucket(value_col: str) -> Column:
    """Ordinal bucket of ``value_col`` among the broadcast ``__cuts``
    array: the count of cut points strictly below the value — the same
    integer `_ordinal_bucket_expr` computes from collected literals,
    evaluated against the in-plan array instead."""
    return F.size(
        F.filter("__cuts", lambda c: F.col(value_col) > c)
    )


def _ordinal_bucket_expr(col_name: str, cuts: list) -> Column:
    """Ordinal bucket of ``col_name`` among sorted ``cuts`` — the count
    of cut points strictly below the value, as a single expression.

    Tree-identical to the chained form
    ``lit(0) + when(col > c, 1).otherwise(0) + ...`` (left-associative
    Adds over CaseWhen((col > c, 1), 0)), but built with ONE py4j call:
    the Python loop paid ~3 round trips per cut (measured ~0.6 s of
    driver plan-build at 64 buckets) and its per-call nested Column
    tree another ~2 s of conversion/analysis, all before any job ran.
    Values, types and codegen are unchanged — the SQL parser produces
    the same operators the loop did."""
    import math

    fs = [float(c) for c in cuts]
    if not fs:
        raise ValueError("_ordinal_bucket_expr: cuts must be non-empty")
    if not all(math.isfinite(c) for c in fs):
        bkt = F.lit(0)  # rare (NaN/Inf cut): keep the old chain
        for c in fs:
            bkt = bkt + F.when(F.col(col_name) > F.lit(c), 1).otherwise(0)
        return bkt
    quoted = "`" + col_name.replace("`", "``") + "`"  # escape backticks
    terms = " + ".join(
        f"(CASE WHEN {quoted} > {c!r}D THEN 1 ELSE 0 END)" for c in fs
    )
    return F.expr("0 + " + terms)


def exact_percentiles(
    df: DataFrame,
    columns: list[str],
    probs: list[float] = (0.25, 0.5, 0.75),
    partitions: int | None = None,
    accuracy: int = 2_000,
    n_bins: int = 4_096,
) -> dict[str, list[float]]:
    """Exact interpolated percentiles for many columns via
    histogram-bracketed selection — three cheap fully-codegen jobs, no
    quantile sketch anywhere.

    Job 1: one `df.agg` of count/min/max per column (plain codegen
    sums — mixing a percentile sketch into a stats agg forces the
    WHOLE aggregate onto ObjectHashAggregate and was the old kernel's
    dominant cost). Job 2: one fixed-width `n_bins` histogram per
    column (explode to (segment, bucket) + hash groupBy — map-side
    partial agg emits <= n_bins rows per task per column). Bucket
    counts are EXACT, so the cumulative histogram brackets every
    target rank with exact rank-below counts — nothing to verify.
    Job 3: one filtered agg collecting the sorted values of only the
    bucket(s) straddling each target rank (expected ~n/n_bins values
    per bucket). Skewed buckets above `collect_cap` refine recursively
    (a sub-histogram inside the bucket — each round narrows the value
    range n_bins-fold) before collecting; a column that cannot be
    narrowed (pathological: one double value holding >cap rows at a
    quantile boundary) falls back to `_exact_percentiles_sort`.
    Bucket membership is always evaluated through the SAME floor
    expression chain used to count, so rank arithmetic is consistent
    down to float rounding by construction.

    Scale shape: three full scans (all whole-stage codegen), shuffle
    limited to the tiny histogram partial-agg merge, no melt of data
    rows, no global sort. Driver state per round is <= n_bins rows per
    segment plus the collected windows (~n/n_bins values, refined
    under `collect_cap`). `accuracy` is retained for API compatibility
    with the old sketch-bracketed kernel and is ignored.

    Returns {column: [value per prob]}; a column with zero non-null
    values maps to Nones. NaN-free inputs assumed (NaN compares false
    everywhere and would poison bucket membership).
    """
    if not columns or not probs:
        return {c: [None] * len(probs) for c in columns}
    aggs: list[Column] = []
    for c in columns:
        v = F.col(c).cast("double")
        aggs += [
            F.count(v).alias(f"{c}__n"),
            F.min(v).alias(f"{c}__min"),
            F.max(v).alias(f"{c}__max"),
        ]
    row = df.agg(*aggs).first()
    meta = {
        c: (row[f"{c}__n"], row[f"{c}__min"], row[f"{c}__max"])
        for c in columns
    }
    return _exact_percentiles_hist(
        df, columns, probs, meta, n_bins=n_bins, partitions=partitions
    )


def _bracket_probs(probs, margin: float) -> list[float]:
    return sorted({max(p - margin, 0.0) for p in probs}
                  | {min(p + margin, 1.0) for p in probs})


def percentile_meta_aggs(
    columns: list[str],
    probs: list[float] = (0.25, 0.5, 0.75),
    accuracy: int = 2_000,
) -> list[Column]:
    """Pass-1 aggregate expressions for `percentiles_from_meta` — exposed
    so a host aggregation (e.g. the profiler's main stats pass) can fuse
    them into its own scan instead of paying a separate one. Aliases:
    `{c}__n/{c}__min/{c}__max/{c}__b`."""
    margin = 4.0 / accuracy
    bracket = _bracket_probs(probs, margin)
    aggs: list[Column] = []
    for c in columns:
        v = F.col(c).cast("double")
        aggs += [
            F.count(v).alias(f"{c}__n"),
            F.min(v).alias(f"{c}__min"),
            F.max(v).alias(f"{c}__max"),
            F.percentile_approx(
                v, _double_array_lit(bracket), accuracy
            ).alias(f"{c}__b"),
        ]
    return aggs


def percentiles_from_meta(
    df: DataFrame,
    columns: list[str],
    probs: list[float],
    meta: dict[str, tuple],
    accuracy: int = 2_000,
    partitions: int | None = None,
) -> dict[str, list[float]]:
    """Pass 2 of the sketch-bracketed selection: exact rank-below counts
    plus sorted candidate windows in one agg, values read off driver-side,
    rank arithmetic verified, sort-kernel fallback per failed column.
    `meta` maps column -> (n_nonnull, min, max, sketch values at the
    bracket probs from `percentile_meta_aggs`)."""
    import math

    margin = 4.0 / accuracy
    bracket = _bracket_probs(probs, margin)
    b_idx = {p: i for i, p in enumerate(bracket)}
    exprs: list[Column] = []
    for c in columns:
        n, mn, mx, sketch = meta[c]
        if not n:
            continue
        for j, p in enumerate(probs):
            lo = sketch[b_idx[max(p - margin, 0.0)]]
            hi = sketch[b_idx[min(p + margin, 1.0)]]
            # belt-and-braces clamp (sketch endpoints are true min/max
            # for p=0/1, but exactness rides on the verify, not on this)
            lo = max(min(lo, hi), mn)
            hi = min(max(lo, hi), mx)
            v = F.col(c).cast("double")
            exprs.append(
                F.sum(F.when(v < lo, 1).otherwise(0)).alias(f"{c}__{j}__lt")
            )
            exprs.append(
                F.sort_array(
                    F.collect_list(F.when((v >= lo) & (v <= hi), v))
                ).alias(f"{c}__{j}__w")
            )
    win = df.agg(*exprs).first() if exprs else None

    result: dict[str, list[float]] = {}
    retry: list[str] = []
    for c in columns:
        n = meta[c][0]
        if not n:
            result[c] = [None] * len(probs)
            continue
        vals: list[float] = []
        ok = True
        for j, p in enumerate(probs):
            t = (n - 1) * p
            lo_r, hi_r = int(math.floor(t)), int(math.ceil(t))
            base = win[f"{c}__{j}__lt"] or 0
            w = win[f"{c}__{j}__w"]
            if not (base <= lo_r and hi_r < base + len(w)):
                ok = False
                break
            a, b = w[lo_r - base], w[hi_r - base]
            frac = t - lo_r
            vals.append(a if lo_r == hi_r else a * (1 - frac) + b * frac)
        if ok:
            result[c] = vals
        else:
            retry.append(c)
    if retry:
        result.update(
            _exact_percentiles_sort(df, retry, probs, partitions)
        )
    return result


def _interp(window: dict[int, float], t: float) -> float:
    """Shared linear interpolation: value at fractional rank t from a
    {rank: value} map holding floor(t) and ceil(t). Same formula shape
    as the sketch kernel (a*(1-frac)+b*frac) so every kernel returns
    bit-identical doubles."""
    import math

    lo_r, hi_r = int(math.floor(t)), int(math.ceil(t))
    a, b = window[lo_r], window[hi_r]
    frac = t - lo_r
    return a if lo_r == hi_r else a * (1 - frac) + b * frac


def _exact_percentiles_hist(
    df: DataFrame,
    columns: list[str],
    probs: list[float],
    meta: dict[str, tuple],
    n_bins: int = 4_096,
    collect_cap: int = 131_072,
    max_rounds: int = 3,
    partitions: int | None = None,
    preseed: dict[str, dict[int, int]] | None = None,
) -> dict[str, list[float]]:
    """Histogram-bracketed exact selection (see exact_percentiles).
    `meta` maps column -> (n_nonnull, min, max) from any prior agg, so
    a host aggregation can fuse that pass into its own scan. A segment
    is a set of rows identified by a CHAIN of clamped floor-bucket
    expressions (never a range predicate — membership must reproduce
    the counted partition exactly, float rounding included).
    ``preseed`` optionally supplies each column's ROUND-1 (full-range)
    bucket counts, computed by a host action with the identical
    clamped floor-bucket arithmetic (profile_columns fuses that
    histogram into its stats action via a broadcast of the one-row
    stats frame) — those segments then skip the histogram action
    here entirely."""
    import math

    def bucket_expr(v, origin: float, width: float):
        return F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0),
                F.floor((v - F.lit(origin)) / F.lit(width)).cast("int"),
            ),
        )

    def member_expr(v, chain):
        m = v.isNotNull()
        for origin, width, b in chain:
            m = m & (bucket_expr(v, origin, width) == F.lit(b))
        return m

    result: dict[str, list[float]] = {}
    values: dict[str, dict[int, float]] = {}   # col -> rank -> value
    targets: dict[str, list[float]] = {}
    fallback: list[str] = []
    # pending segments per column: (chain, lo, hi, base_rank, count,
    # ranks-needed-inside)
    pending: dict[str, list[tuple]] = {}
    for c in columns:
        n, mn, mx = meta[c]
        if not n:
            result[c] = [None] * len(probs)
            continue
        ts = [(n - 1) * p for p in probs]
        targets[c] = ts
        values[c] = {}
        wanted = sorted(
            {int(math.floor(t)) for t in ts}
            | {int(math.ceil(t)) for t in ts}
        )
        if float(mn) == float(mx):
            # constant column: every rank's value is known outright
            for r0 in wanted:
                values[c][r0] = float(mn)
            continue
        pending[c] = [([], float(mn), float(mx), 0, int(n), wanted)]

    collectable: list[tuple[str, tuple]] = []
    rounds = 0
    while any(pending.values()) and rounds < max_rounds:
        rounds += 1
        seg_list: list[tuple[str, tuple]] = []
        ready: list[tuple[str, tuple, dict[int, int]]] = []
        structs: list[Column] = []
        for c, segs in pending.items():
            v = F.col(c).cast("double")
            for seg in segs:
                chain, lo, hi, base, cnt, ranks = seg
                width = (hi - lo) / n_bins
                if cnt <= collect_cap:
                    collectable.append((c, seg))
                    continue
                if not (width > 0 and math.isfinite(width)):
                    # unsplittable heavy segment: exact sort kernel
                    if c not in fallback:
                        fallback.append(c)
                    continue
                if preseed is not None and not chain and c in preseed:
                    # round-1 counts already computed by the host
                    # aggregation's fused histogram (see profile_columns)
                    # — same bucket arithmetic, no extra action
                    ready.append((c, seg, preseed[c]))
                    continue
                sid = len(seg_list)
                seg_list.append((c, seg))
                structs.append(
                    F.struct(
                        F.lit(sid).alias("s"),
                        F.when(
                            member_expr(v, chain),
                            bucket_expr(v, lo, width),
                        ).alias("b"),
                    )
                )
        pending = {}
        if not structs and not ready:
            break
        by_seg: dict[int, dict[int, int]] = {}
        if structs:
            hist_rows = (
                df.select(F.explode(F.array(*structs)).alias("p"))
                .select("p.s", "p.b")
                .where(F.col("b").isNotNull())
                .groupBy("s", "b")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            )
            for r in hist_rows:
                by_seg.setdefault(r["s"], {})[r["b"]] = r["cnt"]
        work = [
            (c, seg, by_seg.get(sid, {}))
            for sid, (c, seg) in enumerate(seg_list)
        ] + ready
        for c, seg, counts in work:
            chain, lo, hi, base, cnt, ranks = seg
            width = (hi - lo) / n_bins
            # exclusive prefix per bucket, exact
            cum: dict[int, int] = {}
            run = 0
            for b in sorted(counts):
                cum[b] = run
                run += counts[b]
            if run != cnt:
                # membership drift (shouldn't happen): exact fallback
                if c not in fallback:
                    fallback.append(c)
                continue
            # group needed ranks by the bucket that holds them
            need: dict[int, list[int]] = {}
            for r0 in ranks:
                local = r0 - base
                for b in sorted(counts):
                    if cum[b] <= local < cum[b] + counts[b]:
                        need.setdefault(b, []).append(r0)
                        break
            for b, rs in need.items():
                sub = (
                    chain + [(lo, width, b)],
                    lo + b * width,
                    lo + (b + 1) * width,
                    base + cum[b],
                    counts[b],
                    rs,
                )
                pending.setdefault(c, []).append(sub)
    for c, segs in pending.items():
        # ran out of rounds with oversized segments
        if segs and c not in fallback:
            fallback.append(c)
    collectable = [(c, s) for c, s in collectable if c not in fallback]

    if collectable:
        exprs = []
        any_member = F.lit(False)
        for i, (c, seg) in enumerate(collectable):
            v = F.col(c).cast("double")
            m = member_expr(v, seg[0])
            any_member = any_member | m
            exprs.append(
                F.sort_array(F.collect_list(F.when(m, v))).alias(f"w{i}")
            )
        # the where() is purely a row filter for the ObjectAgg: windows
        # are ~n/n_bins rows, so the agg input shrinks by ~n_bins x
        win = df.where(any_member).agg(*exprs).first()
        for i, (c, seg) in enumerate(collectable):
            chain, lo, hi, base, cnt, ranks = seg
            w = win[f"w{i}"] or []
            if len(w) != cnt:
                if c not in fallback:
                    fallback.append(c)
                continue
            for r0 in ranks:
                values[c][r0] = w[r0 - base]

    if fallback:
        result.update(
            _exact_percentiles_sort(df, fallback, probs, partitions)
        )
    for c, ts in targets.items():
        if c in fallback or c in result:
            continue
        result[c] = [_interp(values[c], t) for t in ts]
    return result


def _exact_percentiles_sort(
    df: DataFrame,
    columns: list[str],
    probs: list[float] = (0.25, 0.5, 0.75),
    partitions: int | None = None,
) -> dict[str, list[float]]:
    """Exact interpolated percentiles for many columns via ONE distributed
    sort — the 100 TB-safe alternative to `F.percentile`, whose final merge
    builds a value->count map of every distinct value in a single task
    (2+ s for one 600 K-distinct column even locally; unbounded at scale).

    Algorithm: melt columns long -> repartitionByRange((col, value)) ->
    sortWithinPartitions -> per-partition counts (tiny) -> compute each
    target's (partition, local index) on the driver -> one Arrow pass
    extracts the floor/ceil rank values -> linear interpolation. Cost is a
    parallel sort + two cheap passes; no single-task data structure.

    Returns {column: [value per prob]} (NaN-free columns only; a column
    with zero non-null values maps to Nones).
    """
    import math

    sess = df.sparkSession
    target_p = partitions or sess.sparkContext.defaultParallelism
    melted = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("c"),
                    F.col(c).cast("double").alias("v"),
                )
                for c in columns
            ])
        ).alias("e")
    ).select("e.c", "e.v").where(F.col("v").isNotNull())
    # monotonically_increasing_id is sequential within a partition, so
    # after sortWithinPartitions it IS the local sort rank (plus a
    # per-partition base) — global rank arithmetic stays JVM-side.
    sorted_df = (
        melted.repartitionByRange(target_p, "c", "v")
        .sortWithinPartitions("c", "v")
        .withColumn("pid", F.spark_partition_id())
        .withColumn("mid", F.monotonically_increasing_id())
        .persist()
    )
    try:
        counts = (
            sorted_df.groupBy("pid", "c")
            .agg(F.count(F.lit(1)).alias("cnt"), F.min("mid").alias("mid0"))
            .orderBy("pid").collect()
        )
        # per-column global offset of each (pid, c) chunk, in pid order
        n_by_col: dict[str, int] = {}
        offset_rows = []
        for row in counts:
            offset_rows.append(
                (row["pid"], row["c"], n_by_col.get(row["c"], 0), row["mid0"])
            )
            n_by_col[row["c"]] = n_by_col.get(row["c"], 0) + row["cnt"]
        # wanted global ranks per column (floor+ceil of each target)
        targets: dict[str, list[float]] = {}
        wanted: dict[str, list[int]] = {}
        for c in columns:
            n = n_by_col.get(c, 0)
            ts = [(n - 1) * p for p in probs] if n else []
            targets[c] = ts
            wanted[c] = sorted(
                {int(math.floor(t)) for t in ts}
                | {int(math.ceil(t)) for t in ts}
            )
        offsets = sess.createDataFrame(
            offset_rows, "pid int, c string, off long, mid0 long"
        )
        g = F.col("off") + F.col("mid") - F.col("mid0")
        cond = F.lit(False)
        for c in columns:
            if wanted[c]:
                cond = cond | ((F.col("c") == c) & g.isin(wanted[c]))
        got_rows = (
            sorted_df.join(F.broadcast(offsets), ["pid", "c"])
            .filter(cond)
            .select("c", g.alias("g"), "v")
            .collect()
        )
        got: dict[tuple[str, int], float] = {
            (r["c"], r["g"]): r["v"] for r in got_rows
        }
        result: dict[str, list[float]] = {}
        for c in columns:
            vals: list[float | None] = []
            for t in targets[c] or [None] * len(probs):
                if t is None:
                    vals.append(None)
                    continue
                lo, hi = int(math.floor(t)), int(math.ceil(t))
                if lo == hi:
                    vals.append(got[(c, lo)])
                else:
                    frac = t - lo
                    vals.append(got[(c, lo)] * (1 - frac) + got[(c, hi)] * frac)
            result[c] = vals
        return result
    finally:
        sorted_df.unpersist()


def average_ranks(
    df: DataFrame,
    columns: list[str],
    partitions: int | None = None,
    out_prefix: str = "__rk_",
) -> DataFrame:
    """Tie-averaged global ranks (1-based) for each column, appended as
    `{out_prefix}{col}` — the Spearman rank transform, distributed.

    A naive `row_number().over(Window.orderBy(c))` funnels the whole table
    through ONE task per column; this uses the same machinery as
    _exact_percentiles_sort: melt long -> repartitionByRange -> local sort ->
    per-partition counts (tiny driver list) -> global position arithmetic
    JVM-side -> tie-average per value -> null-safe join back by value.
    Every step is a parallel shuffle/sort; nothing single-task touches the
    fact rows. Null values get a null rank (F.corr then skips the pair,
    matching pandas' pairwise-complete behavior).
    """
    sess = df.sparkSession
    target_p = partitions or sess.sparkContext.defaultParallelism
    melted = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("c"),
                    F.col(c).cast("double").alias("v"),
                )
                for c in columns
            ])
        ).alias("e")
    ).select("e.c", "e.v").where(F.col("v").isNotNull())
    sorted_df = (
        melted.repartitionByRange(target_p, "c", "v")
        .sortWithinPartitions("c", "v")
        .withColumn("pid", F.spark_partition_id())
        .withColumn("mid", F.monotonically_increasing_id())
        .persist()
    )
    try:
        counts = (
            sorted_df.groupBy("pid", "c")
            .agg(F.count(F.lit(1)).alias("cnt"), F.min("mid").alias("mid0"))
            .orderBy("pid").collect()
        )
        n_by_col: dict[str, int] = {}
        offset_rows = []
        for row in counts:
            offset_rows.append(
                (row["pid"], row["c"], n_by_col.get(row["c"], 0), row["mid0"])
            )
            n_by_col[row["c"]] = n_by_col.get(row["c"], 0) + row["cnt"]
        if not offset_rows:
            out = df
            for c in columns:
                out = out.withColumn(
                    f"{out_prefix}{c}", F.lit(None).cast("double")
                )
            return out
        offsets = sess.createDataFrame(
            offset_rows, "pid int, c string, off long, mid0 long"
        )
        pos = F.col("off") + F.col("mid") - F.col("mid0") + 1
        avg_rk = (
            sorted_df.join(F.broadcast(offsets), ["pid", "c"])
            .select("c", "v", pos.alias("pos"))
            .groupBy("c", "v")
            .agg(F.avg("pos").alias("rk"))
        )
        out = df
        for c in columns:
            rk_c = avg_rk.filter(F.col("c") == c).select(
                F.col("v").alias("__v"), F.col("rk").alias(f"{out_prefix}{c}")
            )
            out = out.join(
                rk_c, F.col(c).cast("double") == F.col("__v"), "left"
            ).drop("__v")
        # materialize before unpersist: callers usually aggregate right away
        return out
    finally:
        # the persisted intermediate is still referenced lazily by `out`;
        # let the caller's action read it from cache, then evict on GC.
        # (unpersist(blocking=False) here would race the caller's action.)
        pass


def _stat(c: str, metric: str) -> str:
    """profile_columns' name for one column's statistic. The reserved
    prefix keeps it apart from the frame's own columns (a `price__min`
    beside `price` would otherwise be an ambiguous reference once the
    stats frame is cross-joined back onto the data)."""
    return f"__profile__{c}__{metric}"


def profile_columns(
    df: DataFrame, columns: list[str] | None = None, exact: bool = False
) -> DataFrame:
    """Numeric column profile, long format (column, metric, value).

    Metrics per column: count, n_null, n_distinct, min, max, sum, mean,
    stddev, q25, median, q75, n_zero, n_negative, n_lossy
    (reference data_profiler.py:116-153 stats set). Default n_distinct is
    an HLL sketch folded into scan 1 (one fewer pass — the right default
    at corpus scale, matching the reference's own sampling spirit,
    schema_inference.py:17); ``exact=True`` adds a dedicated exact
    count_distinct agg as a third bounded pass.

    ``n_lossy`` counts non-null values the exact DECIMAL(38,10)
    accumulator cannot represent — NaN, +/-Infinity, and finite doubles
    with |x| >= 1e28 (the cast nulls them with ANSI off). When it is
    nonzero for a column, ``sum``/``mean`` fall back to the plain double
    accumulation for that column so NaN/Inf PROPAGATE (and huge finite
    values are still summed) instead of being silently excluded from a
    sum whose count/min/max include them. The same fallback fires on
    aggregate-level decimal overflow (every value fits but the total
    does not). Well-behaved columns (n_lossy == 0, no overflow) keep the
    order-invariant exact-decimal sum/mean documented below.
    """
    cols = _numeric_columns(df, columns)
    probs = (0.25, 0.5, 0.75)
    total = F.count(F.lit(1))
    # Scan 1: every per-column statistic (count/min/max included — they
    # double as the quartile kernel's meta pass) in one agg that stays
    # ENTIRELY whole-stage-codegen: the old fused percentile_approx
    # sketch forced the whole aggregate onto ObjectHashAggregate and
    # dominated the profile's cost (~2x the stats alone). Quartiles
    # come from the histogram-bracketed exact-selection kernel
    # (_exact_percentiles_hist): F.percentile's merge step would build
    # a value->count map of every distinct value in ONE task (seconds
    # for a 600K-distinct column locally; unbounded at corpus scale),
    # while the kernel's extra jobs are an exact fixed-width histogram
    # (hash groupBy, <= n_bins rows per task) plus a filtered window
    # collect of ~n/n_bins rows.
    aggs: list[Column] = [total.alias("__total")]
    for c in cols:
        col = F.col(c)
        v = col.cast("double")
        # sum/mean accumulate in DECIMAL(38,10), not double: double sums
        # are order-dependent (parallel partial aggs merge in shuffle
        # order), and at sf1 the wobble on a 3e11-magnitude money sum
        # crossed the display-rounding boundary against the oracle. The
        # decimal accumulator is ORDER-INVARIANT and exact for every
        # fixed-point-representable input (money, counts, rates —
        # anything with <= 10 fractional decimal digits; wilder doubles
        # round at 1e-10 per row, a fair trade for a deterministic
        # profile). Mean divides the exact sum by the exact count in
        # one IEEE double division, so any engine replays it
        # bit-for-bit. Headroom: |sum| < 1e28 before decimal overflow
        # (-> null), 1e9x beyond a 100 TB money column.
        sum_dec = F.sum(col.cast("decimal(38,10)"))
        # per-value cast loss detector: a non-null value whose
        # decimal(38,10) cast is null is exactly the set the decimal
        # accumulator would silently skip (NaN, +/-Inf, |x| >= 1e28).
        # Stays whole-stage-codegen; drives the double-sum fallback.
        lossy = F.sum(
            F.when(
                col.isNotNull() & col.cast("decimal(38,10)").isNull(), 1
            ).otherwise(0)
        )
        aggs += [
            sum_dec.cast("double").alias(_stat(c, "sum")),
            (
                sum_dec.cast("double")
                / F.count(col).cast("double")
            ).alias(_stat(c, "mean")),
            F.sum(v).alias(_stat(c, "dsum")),
            lossy.alias(_stat(c, "n_lossy")),
            F.stddev(col).cast("double").alias(_stat(c, "stddev")),
            F.sum(F.when(col == 0, 1).otherwise(0)).alias(_stat(c, "n_zero")),
            F.sum(F.when(col < 0, 1).otherwise(0)).alias(_stat(c, "n_negative")),
            F.count(v).alias(_stat(c, "n")),
            F.min(v).alias(_stat(c, "min")),
            F.max(v).alias(_stat(c, "max")),
        ]
    if not exact:
        for c in cols:
            aggs.append(
                F.approx_count_distinct(F.col(c), 0.01).alias(_stat(c, "nd"))
            )
    # Exact distinct counts run in a DEDICATED agg (fusing several
    # count_distinct columns into the stats agg would Expand-replicate
    # the input once per distinct column, and measured slower than the
    # two scans it saves) — but on a PARALLEL driver thread: the scan
    # is independent of the stats+histogram action, Spark schedules
    # concurrent jobs from separate threads onto idle cores, and the
    # profile's wall time becomes max(stats path, distinct) instead of
    # the sum (r10: launched BEFORE the stats action so the two scans
    # overlap from the start).
    nd_box: dict = {}
    nd_thread = None
    if cols and exact:
        import threading

        def _nd():
            try:
                nd_box["row"] = df.select(*cols).agg(*[
                    F.count_distinct(F.col(c)).alias(c) for c in cols
                ]).first()
            except BaseException as exc:  # re-raised on join
                nd_box["err"] = exc

        nd_thread = threading.Thread(target=_nd, daemon=True)
        nd_thread.start()
    # Scan 1 + quartile-histogram round 1 in ONE action (r10; was two):
    # the quartile kernel's first histogram only needs each column's
    # (min, max) to size its buckets, so instead of collecting the
    # stats row first and burning a second driver action, the histogram
    # evaluates the SAME clamped floor-bucket arithmetic against a
    # broadcast of the one-row stats frame ((max-min)/n_bins in IEEE
    # double either way — identical bucket ids), and the stats columns
    # ride back attached to the collected histogram rows (a union'd
    # marker row guarantees at least one row carries them). The two
    # broadcasts of the stats frame dedup via ReuseExchange, so the
    # stats aggregation still runs once.
    n_bins = 4_096
    if cols:
        # the one-row stats frame feeds BOTH broadcasts (bucket exprs +
        # ride-back); AQE does not ReuseExchange across them, so persist
        # the single row — one stats scan, two cache reads. Unpersisted
        # in the finally below.
        stats_frame = df.agg(*aggs).persist()
        structs: list[Column] = []
        for i, c in enumerate(cols):
            v = F.col(c).cast("double")
            mn_c = F.col(_stat(c, "min"))
            mx_c = F.col(_stat(c, "max"))
            width_c = (mx_c - mn_c) / F.lit(float(n_bins))
            b = F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((v - mn_c) / width_c).cast("int"),
                ),
            )
            structs.append(
                F.struct(
                    F.lit(i).alias("s"),
                    F.when(v.isNotNull() & (mn_c < mx_c), b).alias("b"),
                )
            )
        hist = (
            df.crossJoin(F.broadcast(stats_frame))
            .select(F.explode(F.array(*structs)).alias("p"))
            .select("p.s", "p.b")
            .where(F.col("b").isNotNull())
            .groupBy("s", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        marker = df.sparkSession.range(1).select(
            F.lit(-1).alias("s"),
            F.lit(0).alias("b"),
            F.lit(0).cast("bigint").alias("cnt"),
        )
        try:
            frows = (
                hist.unionByName(marker)
                .crossJoin(F.broadcast(stats_frame))
                .collect()
            )
        finally:
            stats_frame.unpersist()
        row = frows[0]  # every row carries the full stats columns
        preseed: dict[str, dict[int, int]] = {}
        for r in frows:
            if r["s"] >= 0:
                preseed.setdefault(cols[r["s"]], {})[r["b"]] = r["cnt"]
    else:
        row = df.agg(*aggs).first()
        preseed = {}
    meta = {
        c: (row[_stat(c, "n")], row[_stat(c, "min")], row[_stat(c, "max")])
        for c in cols
    }
    # Quartile extraction: exact histogram bracket + window collect,
    # with round 1 pre-seeded by the fused histogram above.
    quart = (
        _exact_percentiles_hist(df, cols, probs, meta, preseed=preseed)
        if cols else {}
    )
    if nd_thread is not None:
        nd_thread.join()
        if "err" in nd_box:
            raise nd_box["err"]
        nd_row = nd_box["row"]
    else:
        nd_row = {c: row[_stat(c, "nd")] for c in cols}
    metrics = [
        "count", "n_null", "n_distinct", "min", "max", "sum", "mean",
        "stddev", "q25", "median", "q75", "n_zero", "n_negative",
        "n_lossy",
    ]
    out_rows: list[tuple[str, str, float | None]] = []
    for c in cols:
        n = row[_stat(c, "n")]
        q = quart.get(c, [None, None, None])
        n_lossy = row[_stat(c, "n_lossy")]
        # double-sum fallback: per-value cast loss OR aggregate-level
        # decimal overflow (sum null despite n non-null representable
        # values) — both mean the exact accumulator misses rows the
        # other stats include, so propagate via the double path.
        use_double = (n_lossy or 0) > 0 or (
            n > 0 and row[_stat(c, "sum")] is None
        )
        c_sum = row[_stat(c, "dsum")] if use_double else row[_stat(c, "sum")]
        c_mean = (
            (c_sum / n if (c_sum is not None and n) else None)
            if use_double
            else row[_stat(c, "mean")]
        )
        vals = {
            "count": float(n),
            "n_null": float(row["__total"] - n),
            "n_distinct": float(nd_row[c]),
            "min": row[_stat(c, "min")],
            "max": row[_stat(c, "max")],
            "sum": c_sum,
            "mean": c_mean,
            "n_lossy": float(n_lossy or 0),
            "stddev": row[_stat(c, "stddev")],
            "q25": q[0], "median": q[1], "q75": q[2],
            "n_zero": float(row[_stat(c, "n_zero")]),
            "n_negative": float(row[_stat(c, "n_negative")]),
        }
        for m in metrics:
            v = vals[m]
            out_rows.append((c, m, None if v is None else float(v)))
    return df.sparkSession.createDataFrame(
        out_rows, "column string, metric string, value double"
    )


def quality_metrics(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Quality metric rows (metric, column, value in [0,1]) computed in ONE
    agg pass (reference quality_monitor.py ran one pandas pass per check).

    Rule shapes:
      {"metric": "completeness", "column": c}          -> non-null ratio
      {"metric": "uniqueness",  "column": c}           -> distinct/total
      {"metric": "validity",    "column": c,
       "predicate": SQL-bool-string}                   -> fraction satisfying
      {"metric": "outlier_ratio", "column": c,
       "method": "iqr", "threshold": k}                -> IQR-outlier fraction
    (reference quality_monitor.py:49-69, :106-130)
    """
    total = F.count(F.lit(1))
    aggs: list[Column] = []
    emits: list[tuple[str, str, Column]] = []
    for i, rule in enumerate(rules):
        m, c = rule["metric"], rule["column"]
        key = f"__r{i}"
        if m == "completeness":
            aggs.append((F.count(F.col(c)) / total).alias(key))
        elif m == "uniqueness":
            aggs.append((F.count_distinct(F.col(c)) / total).alias(key))
        elif m == "validity":
            pred = F.expr(rule["predicate"])
            aggs.append(
                (F.sum(F.when(pred, 1).otherwise(0)) / total).alias(key)
            )
        elif m == "outlier_ratio":
            k = float(rule.get("threshold", 1.5))
            q1 = F.percentile(F.col(c), F.lit(0.25))
            q3 = F.percentile(F.col(c), F.lit(0.75))
            iqr = q3 - q1
            lo, hi = q1 - k * iqr, q3 + k * iqr
            # percentiles and the flag count can't share one pass without a
            # self-join; use the two-pass scalar-broadcast pattern
            bounds = df.agg(lo.alias("__lo"), hi.alias("__hi"))
            flagged = (
                df.crossJoin(F.broadcast(bounds))
                .agg(
                    (
                        F.sum(
                            F.when(
                                (F.col(c) < F.col("__lo"))
                                | (F.col(c) > F.col("__hi")),
                                1,
                            ).otherwise(0)
                        )
                        / F.count(F.lit(1))
                    ).alias(key)
                )
            )
            emits.append((m, c, flagged))
            continue
        else:
            raise ValueError(f"unsupported quality metric: {m!r}")
        emits.append((m, c, None))
    wide = df.agg(*aggs) if aggs else None
    pieces = []
    for i, (rule, (m, c, extra)) in enumerate(zip(rules, emits)):
        key = f"__r{i}"
        src = extra if extra is not None else wide
        pieces.append(
            src.select(
                F.lit(m).alias("metric"), F.lit(c).alias("column"),
                F.col(key).cast("double").alias("value"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def correlation_matrix(
    df: DataFrame, columns: list[str] | None = None, method: str = "pearson"
) -> DataFrame:
    """Pairwise correlations, long format (col_a, col_b, corr), one agg pass
    (reference data_profiler.py:213-241 pandas .corr()).

    spearman = pearson on average ranks; ranks come from window functions
    (avg of row_number per tied value), then one corr pass.
    """
    cols = _numeric_columns(df, columns)
    d = df
    if method == "spearman":
        # distributed tie-averaged ranks; see average_ranks for why not a
        # global row_number window
        d = average_ranks(df, cols)
        use = [f"__rk_{c}" for c in cols]
    elif method == "pearson":
        use = cols
    else:
        raise ValueError(f"unsupported correlation method: {method!r}")
    aggs = []
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            ua, ub = use[cols.index(a)], use[cols.index(b)]
            aggs.append(F.corr(ua, ub).alias(f"__c_{a}__{b}"))
            pairs.append((a, b))
    wide = d.agg(*aggs)
    structs = [
        F.struct(
            F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
            F.col(f"__c_{a}__{b}").alias("corr"),
        )
        for a, b in pairs
    ]
    return wide.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.col_a", "p.col_b", "p.corr"
    )


def _distinct_aggs(
    df: DataFrame, exact: bool, rsd: float = 0.01
) -> tuple[list[Column], list[Column]]:
    """(shared-pass aggs, dedicated-pass aggs) producing `{c}__distinct`.

    Default (approx): HyperLogLog++ sketches fold into the SAME agg pass as
    every other statistic — a profile is ONE table scan at any width.
    ``exact=True``: exact count_distinct in a dedicated second agg (fusing
    several into the stats agg would Expand-replicate the input once per
    column); 2 scans total, still never one scan per column.
    """
    if exact:
        return [], [
            F.count_distinct(F.col(c)).alias(f"{c}__distinct")
            for c in df.columns
        ]
    return [
        F.approx_count_distinct(F.col(c), rsd).alias(f"{c}__distinct")
        for c in df.columns
    ], []


def _all_distinct(cnt: Column, dst: Column, tot: Column, exact: bool) -> Column:
    """non-null + all-values-distinct test, sketch-tolerant in approx mode
    (HLL rsd=0.01: accept >=97% of total — a *candidate* flag, like the
    reference's own 10K-row sample heuristic; exact=True pins equality)."""
    if exact:
        return (cnt == tot) & (dst == tot)
    return (cnt == tot) & (dst >= tot * F.lit(0.97))


def schema_profile(df: DataFrame, exact: bool = False) -> DataFrame:
    """Schema-inference enrichment (reference schema_inference.py:288-343):
    per column — type, null fraction, distinct count, primary-key candidacy
    (all-unique + non-null + int/string), foreign-key naming heuristic.

    Distinct counts are HLL sketches folded into the single stats scan by
    default (`exact=True` adds one dedicated exact-distinct pass) — the
    reference sampled 10K rows instead (schema_inference.py:17)."""
    total = F.count(F.lit(1))
    aggs: list[Column] = [total.alias("__total")]
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"{c}__count"))
    shared_d, dedicated_d = _distinct_aggs(df, exact)
    wide = df.agg(*aggs, *shared_d)
    if dedicated_d:
        wide = wide.crossJoin(F.broadcast(df.agg(*dedicated_d)))
    structs = []
    for f in df.schema.fields:
        c = f.name
        cnt, dst = F.col(f"{c}__count"), F.col(f"{c}__distinct")
        null_frac = (F.col("__total") - cnt) / F.col("__total")
        pk_type_ok = isinstance(
            f.dataType, (T.IntegerType, T.LongType, T.StringType)
        )
        pk = (
            _all_distinct(cnt, dst, F.col("__total"), exact)
            if pk_type_ok
            else F.lit(False)
        )
        fk = F.lit(c.endswith("_id") or c.endswith("key"))
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(f.dataType.simpleString()).alias("dtype"),
                null_frac.cast("double").alias("null_frac"),
                dst.cast("bigint").alias("n_distinct"),
                pk.cast("int").alias("pk_candidate"),
                fk.cast("int").alias("fk_candidate"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.column", "p.dtype", "p.null_frac", "p.n_distinct",
        "p.pk_candidate", "p.fk_candidate",
    )


_PATTERNS = {
    # reference schema_inference.py:207-232 (semantic string patterns)
    "email": (r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$", 0.7),
    "phone": (r"^[\+]?[1-9]?[0-9]{7,15}$", 0.5),
    "url": (r"^https?://", 0.5),
    "numeric_id": (r"^[0-9]+$", 0.8),
}


def schema_constraints(df: DataFrame, exact: bool = False) -> DataFrame:
    """Constraint / index enrichment (reference schema_inference.py:321-374),
    long format — one row per column:

      column, dtype, null_pct, n_distinct, cardinality(low/medium/high),
      not_null_ok (<5% nulls), unique_ok (all-distinct non-PK-typed too),
      check_nonneg (numeric min >= 0), index_reason
      (foreign_key_performance | low_cardinality_filtering |
       time_based_queries | NULL)

    The reference derived these from a 10K-row pandas sample; here the
    stats come from distributed aggregation — ONE scan with HLL distinct
    sketches by default, or two scans with `exact=True` (shared agg for
    counts/mins + one pruned exact-distinct agg) — so the plan holds at
    any table size.
    """
    total = F.count(F.lit(1))
    aggs: list[Column] = [total.alias("__total")]
    numeric = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, _NUMERIC_TYPES)
    }
    temporal = {
        f.name for f in df.schema.fields
        if isinstance(
            f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType)
        )
    }
    for c in df.columns:
        aggs.append(F.count(F.col(c)).alias(f"{c}__count"))
        if c in numeric:
            aggs.append(
                F.min(F.col(c)).cast("double").alias(f"{c}__min")
            )
    shared_d, dedicated_d = _distinct_aggs(df, exact)
    wide = df.agg(*aggs, *shared_d)
    if dedicated_d:
        wide = wide.crossJoin(F.broadcast(df.agg(*dedicated_d)))
    structs = []
    for f in df.schema.fields:
        c = f.name
        cnt, dst = F.col(f"{c}__count"), F.col(f"{c}__distinct")
        tot = F.col("__total")
        null_pct = (tot - cnt) * F.lit(100.0) / tot
        ratio = dst / tot
        cardinality = (
            F.when(ratio > 0.8, F.lit("high"))
            .when(ratio > 0.1, F.lit("medium"))
            .otherwise(F.lit("low"))
        )
        fk = c.endswith("_id") or c.endswith("Id") or c.endswith("key")
        # reference priority (schema_inference.py:345-374):
        # FK, elif low-cardinality, elif date/timestamp
        index_reason = (
            F.lit("foreign_key_performance") if fk
            else F.when(
                (ratio <= 0.1) & (dst > 1),
                F.lit("low_cardinality_filtering"),
            ).otherwise(
                F.lit("time_based_queries") if c in temporal
                else F.lit(None).cast("string")
            )
        )
        check_nonneg = (
            (F.col(f"{c}__min") >= 0).cast("int") if c in numeric
            else F.lit(None).cast("int")
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(f.dataType.simpleString()).alias("dtype"),
                null_pct.cast("double").alias("null_pct"),
                dst.cast("bigint").alias("n_distinct"),
                cardinality.alias("cardinality"),
                (null_pct < 5).cast("int").alias("not_null_ok"),
                _all_distinct(cnt, dst, tot, exact)
                .cast("int").alias("unique_ok"),
                check_nonneg.alias("check_nonneg"),
                index_reason.alias("index_reason"),
            )
        )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.column", "p.dtype", "p.null_pct", "p.n_distinct",
        "p.cardinality", "p.not_null_ok", "p.unique_ok",
        "p.check_nonneg", "p.index_reason",
    )


def string_patterns(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Semantic pattern detection for string columns (reference
    schema_inference.py:207-232): fraction of non-null values matching
    email/phone/url/numeric_id regexes, plus the detected label when the
    fraction clears the reference's per-pattern threshold. One agg pass
    over the full table (reference sampled 100 values)."""
    cols = columns or [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, T.StringType)
    ]
    aggs: list[Column] = []
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__n"))
        for name, (pat, _thr) in _PATTERNS.items():
            aggs.append(
                F.sum(col.rlike(pat).cast("int")).alias(f"{c}__{name}")
            )
    wide = df.agg(*aggs)
    structs = []
    for c in cols:
        n = F.col(f"{c}__n")
        for name, (_pat, thr) in _PATTERNS.items():
            frac = F.when(
                n > 0, F.col(f"{c}__{name}") / n
            ).otherwise(F.lit(0.0))
            structs.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.lit(name).alias("pattern"),
                    frac.cast("double").alias("match_frac"),
                    (frac > thr).cast("int").alias("detected"),
                )
            )
    return wide.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.column", "p.pattern", "p.match_frac", "p.detected"
    )


def infer_schema_report(df: DataFrame, table_name: str = "inferred_table") -> dict:
    """Full schema-inference report with the reference's shape
    (schema_inference.py:36-78): columns -> stats, primary_key_candidates,
    foreign_key_candidates, constraints {not_null, unique, check},
    indexes_recommended, data_quality summary. The heavy lifting runs as
    the distributed plans above (schema_profile + schema_constraints);
    only the tiny per-column summary rows reach the driver."""
    base = {r["column"]: r.asDict() for r in schema_profile(df).collect()}
    cons = {r["column"]: r.asDict() for r in schema_constraints(df).collect()}
    report: dict = {
        "table_name": table_name,
        "total_columns": len(df.columns),
        "columns": {},
        "primary_key_candidates": [],
        "foreign_key_candidates": [],
        "constraints": {"not_null": [], "unique": [], "check": []},
        "indexes_recommended": [],
        "data_quality": {},
    }
    quality_scores = []
    for c in df.columns:
        b, k = base[c], cons[c]
        null_pct = k["null_pct"]
        score = 100.0
        if null_pct > 50:
            score -= 40
        elif null_pct > 20:
            score -= 20
        elif null_pct > 5:
            score -= 10
        quality_scores.append(score)
        report["columns"][c] = {
            "dtype": b["dtype"],
            "null_percentage": null_pct,
            "unique_count": b["n_distinct"],
            "cardinality": k["cardinality"],
            "is_primary_key_candidate": bool(b["pk_candidate"]),
            "is_foreign_key_candidate": bool(b["fk_candidate"]),
            "data_quality_score": score,
        }
        if b["pk_candidate"]:
            report["primary_key_candidates"].append(c)
        if b["fk_candidate"]:
            report["foreign_key_candidates"].append({
                "column": c,
                "referenced_table": c.replace("_id", "").replace("key", ""),
                "confidence": "medium",
            })
        if k["not_null_ok"]:
            report["constraints"]["not_null"].append(c)
        if k["unique_ok"] and not b["pk_candidate"]:
            report["constraints"]["unique"].append(c)
        if k["check_nonneg"]:
            report["constraints"]["check"].append(f"{c} >= 0")
        if k["index_reason"]:
            report["indexes_recommended"].append({
                "type": "btree", "columns": [c], "reason": k["index_reason"],
            })
    report["data_quality"] = {
        "overall_score": (
            sum(quality_scores) / len(quality_scores) if quality_scores else 0
        ),
        "primary_key_coverage": bool(report["primary_key_candidates"]),
    }
    return report


def top_values(
    df: DataFrame, column: str, k: int = 10
) -> DataFrame:
    """Top-k value counts (reference data_profiler.py:102-104
    value_counts().head(10)); deterministic tie-break on the value."""
    return (
        df.groupBy(column)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.asc(column))
        .limit(k)
    )


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    edges: list[float],
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a column —
    the standard distribution-drift monitor (PSI < 0.1 stable, > 0.25
    drifted). `edges` are FIXED literal bin boundaries (len(edges)+1
    bins including the two open ends): fixed edges keep runs comparable
    over time and make the whole computation two single-pass aggregates
    with no quantile estimation in the hot path.

    Output: one row per bin with both fractions and the PSI term
    (fa - fb) * ln((fa+eps)/(fb+eps)); sum the terms for the index.
    Each side is ONE agg pass (conditional counts per bin); bins with no
    data on either side contribute ~0 via the epsilon smoothing.
    """
    def bucket(col: Column) -> Column:
        b = F.lit(0)
        for e in edges:
            b = b + F.when(col > F.lit(float(e)), 1).otherwise(0)
        return b

    def fractions(df: DataFrame, side: str) -> DataFrame:
        c = F.col(column)
        aggs = [
            F.sum(F.when(bucket(c) == i, 1).otherwise(0)).alias(f"__b{i}")
            for i in range(len(edges) + 1)
        ] + [F.count(c).alias("__n")]
        # ONE agg pass; the 1-row result explodes into per-bin rows
        # (a union of selects over the agg would re-run it per bin)
        row = df.agg(*aggs)
        bins = F.array(*[
            F.struct(
                F.lit(i).alias("bin"),
                (F.col(f"__b{i}") / F.col("__n")).alias(f"frac_{side}"),
            )
            for i in range(len(edges) + 1)
        ])
        return row.select(F.explode(bins).alias("__x")).select("__x.*")

    fa = fractions(df_a, "a")
    fb = fractions(df_b, "b")
    j = fa.join(fb, "bin")
    term = (F.col("frac_a") - F.col("frac_b")) * F.log(
        (F.col("frac_a") + eps) / (F.col("frac_b") + eps)
    )
    return j.select("bin", "frac_a", "frac_b", term.alias("psi_term"))


def psi_drift_categorical(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI over a categorical column: per-category fractions from one
    groupBy per snapshot, full-outer joined so categories present on only
    one side still contribute (epsilon-smoothed). Same reading as
    psi_drift: sum(psi_term) > 0.25 flags drift."""
    def fractions(df: DataFrame, side: str) -> DataFrame:
        counts = df.groupBy(F.col(column).alias("category")).agg(
            F.count(F.lit(1)).alias("__c")
        )
        total = counts.agg(F.sum("__c").alias("__n"))
        return counts.crossJoin(F.broadcast(total)).select(
            "category", (F.col("__c") / F.col("__n")).alias(f"frac_{side}")
        )

    j = fractions(df_a, "a").join(fractions(df_b, "b"), "category", "full_outer")
    fa = F.coalesce(F.col("frac_a"), F.lit(0.0))
    fb = F.coalesce(F.col("frac_b"), F.lit(0.0))
    term = (fa - fb) * F.log((fa + eps) / (fb + eps))
    return j.select(
        "category", fa.alias("frac_a"), fb.alias("frac_b"),
        term.alias("psi_term"),
    )


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_thresholds: int = 20,
    lo: float = 0.0,
    hi: float = 1.0,
) -> DataFrame:
    """Classifier calibration report: precision / recall / F1 at an even
    threshold grid over [lo, hi), in ONE corpus pass.

    Rows are bucketed by floor((score - lo) / step) (clamped to the
    grid), so "predicted positive at threshold t_k" means "score lands
    in bucket >= k" — the exact bucket-boundary semantics both this and
    any external replayer share, with no engine-dependent quantile
    estimation. The corpus pass is a single tiny groupBy (n_thresholds
    result rows); the cumulative TP/FP sweep then runs on the
    n_thresholds-row grid — the single-partition window is over the
    GRID, never the data, so corpus scale never touches it. The model-
    eval step a quality-filter pipeline runs before picking its cut
    (reference has profiling only, src/data_pipeline/utils/
    data_profiler.py; this is the curation-classifier extension).

    Output per threshold: threshold, pred_pos, tp, precision, recall,
    f1 (precision/f1 null when nothing is predicted positive).
    """
    from pyspark.sql import Window

    n = int(n_thresholds)
    step = (hi - lo) / n
    spark = df.sparkSession
    b = F.least(
        F.greatest(
            F.floor((F.col(score_col) - F.lit(lo)) / F.lit(step)).cast("int"),
            F.lit(0),
        ),
        F.lit(n - 1),
    )
    counts = (
        df.select(b.alias("__b"), F.col(label_col).cast("int").alias("__y"))
        .groupBy("__b")
        .agg(F.sum("__y").alias("pos"), F.count(F.lit(1)).alias("n"))
    )
    grid = spark.range(n).select(F.col("id").cast("int").alias("__b"))
    full = (
        grid.join(counts, "__b", "left")
        .select(
            "__b",
            F.coalesce("pos", F.lit(0)).alias("pos"),
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )
    w = Window.orderBy(F.desc("__b")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    swept = full.select(
        "__b",
        F.sum("pos").over(w).alias("tp"),
        F.sum("n").over(w).alias("pred_pos"),
        F.sum("pos").over(wall).alias("all_pos"),
    )
    prec = F.when(
        F.col("pred_pos") > 0,
        F.col("tp").cast("double") / F.col("pred_pos"),
    )
    rec = F.when(
        F.col("all_pos") > 0,
        F.col("tp").cast("double") / F.col("all_pos"),
    )
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return swept.select(
        (F.lit(lo) + F.col("__b") * F.lit(step)).alias("threshold"),
        "pred_pos",
        "tp",
        prec.alias("precision"),
        rec.alias("recall"),
        f1.alias("f1"),
    )


def dataset_fingerprint(
    df: DataFrame,
    columns: list[str] | None = None,
    sep: str = "\x1f",
    null_token: str = "\x00",
    portable: bool = True,
) -> DataFrame:
    """Order-invariant dataset fingerprint: ONE row of
    (n_rows, n_cols, schema_hash, content_xor) identifying a dataset's
    exact content regardless of row order, partitioning, or file
    layout. The reproducibility primitive a training pipeline logs next
    to every materialized corpus snapshot: two snapshots with equal
    fingerprints are byte-identical in content; a changed fingerprint
    pinpoints silent drift (a re-run that "should" be identical).

    Mechanics: each row hashes to the portable 52-bit md5 hash of its
    ``sep``-joined string-cast column values (sorted column order,
    nulls as ``null_token`` so NULL and '' differ), and the dataset
    hash is TWO commutative folds — bit-XOR (content_xor) plus an
    exact decimal sum mod 2^52 (content_sum) — so any engine,
    partitioning, or row order replays both exactly. The second fold
    exists because XOR alone is blind to even-multiplicity changes
    (a row pair {X, X} swapped for {Y, Y} XOR-cancels); the modular
    sum separates those, and the decimal(38) accumulator is exact to
    ~10^22 rows, so neither fold can overflow or wrap engine-
    dependently. schema_hash covers the sorted (name, type) list, so
    a type migration changes the fingerprint even when values print
    identically. Equal fingerprints mean identical content up to hash
    collision — engineered to be vanishingly unlikely, not
    cryptographic.

    One scan, map-side-combinable, no shuffle beyond the 1-row
    aggregate. Caveat: string casts of floating-point columns are not
    portable across engines — fingerprint floats after explicit
    rounding, or exclude them (the default uses every column; pass
    ``columns`` to restrict).

    ``portable=False`` switches the row hash from the md5-based
    portable hash to Spark's native xxhash64 over the typed columns
    (no string casts at all) — ~3x cheaper per row and exact for
    floats too, but only comparable between Spark-computed
    fingerprints (the md5 mode is what external engines — and the
    DuckDB oracle — can replay). xxhash64 SKIPS null columns (so
    (null, v) and (v, null) would hash alike); each column is
    interleaved with its isNull flag to keep null position
    distinguishing. Same-mode comparisons are the normal use
    (snapshot vs re-run of the same pipeline).
    """
    from .text import hash52

    cols = sorted(columns or df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    if portable:
        parts: list[Column] = []
        for i, c in enumerate(cols):
            if i:
                parts.append(F.lit(sep))
            parts.append(
                F.coalesce(F.col(c).cast("string"), F.lit(null_token))
            )
        row_hash = hash52(F.concat(*parts))
    else:
        # interleave isNull flags: xxhash64 leaves the running hash
        # unchanged for a null column, so without the flags a value
        # migrating across a null neighbor would be invisible
        parts2: list[Column] = []
        for c in cols:
            parts2.append(F.col(c))
            parts2.append(F.col(c).isNull())
        row_hash = F.xxhash64(*parts2)
    schema_str = ";".join(
        f"{c}:{df.schema[c].dataType.simpleString()}" for c in cols
    )
    import hashlib as _hashlib

    schema_hash = _hashlib.md5(schema_str.encode()).hexdigest()[:13]
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(len(cols)).cast("int").alias("n_cols"),
        F.lit(schema_hash).alias("schema_hash"),
        F.coalesce(
            F.bit_xor(row_hash), F.lit(0).cast("bigint")
        ).alias("content_xor"),
        F.coalesce(
            F.pmod(
                F.sum(row_hash.cast("decimal(38,0)")),
                F.lit(1 << 52).cast("decimal(38,0)"),
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("content_sum"),
    )


def ks_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    n_buckets: int = 64,
    _debug_plans: list | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test between two
    snapshots of a numeric column — the nonparametric complement to
    `psi_drift` (no binning choice; sensitive to any distributional
    difference, not just mass shifts across fixed edges).

    Statistic: D = max over pooled distinct values v of
    |ECDF_a(v) - ECDF_b(v)| — exact, because the two-sample D is
    attained at an observed point. p-value is the standard asymptotic
    Kolmogorov series with the Stephens small-sample correction:
    lambda = (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) * D with
    ne = n_a*n_b/(n_a+n_b), p = 2 * sum_{k=1..100} (-1)^(k-1)
    exp(-2 k^2 lambda^2), clamped to [0, 1]. For lambda < 0.2 the
    truncated alternating series has not converged (at lambda = 0 its
    partial sums oscillate 1,0,1,...), while the true survival value
    is 1 within 5e-13 — so that region short-circuits to p = 1; for
    lambda >= 0.2 the k=100 tail term is exp(-800), i.e. the series
    is exact to double precision.

    Distribution strategy (no single-partition window anywhere):
      1. per side, ONE groupBy(value) count — the pooled distinct-value
         table is the working set, never raw rows;
      2. approximate quantile cut points split the value axis into
         `n_buckets` ranges; per-bucket count totals (<= n_buckets
         rows) turn into exclusive prefix offsets in-plan (one array
         row expanded by bounded higher-order functions,
         broadcast-joined back);
      3. cumulative counts are a window per bucket partition plus the
         bucket's offset — integer arithmetic throughout, so the ECDFs
         (and D) are exact and engine-portable; the single division per
         row happens after the integer cumsum.
    Output: ONE row (ks_stat, p_value, n_a, n_b, at_value) where
    at_value is the smallest value attaining D.
    """
    from pyspark.sql import Window

    def counts(df: DataFrame, alias: str) -> DataFrame:
        v = F.col(column).cast("double")
        return (
            df.select(v.alias("v"))
            .where(F.col("v").isNotNull())
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias(alias))
        )

    j = (
        counts(df_a, "ca")
        .join(counts(df_b, "cb"), "v", "full_outer")
        .select(
            "v",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    return _ks_from_value_counts(j, n_buckets, _debug_plans)


def ks_drift_split(
    df: DataFrame,
    column: str,
    side_a,
    side_b,
    n_buckets: int = 64,
    _debug_plans: list | None = None,
) -> DataFrame:
    """`ks_drift` for the common case where both samples are slices of
    ONE table (early vs late, flag R vs flag N, treatment vs control):
    a single scan computes both sides' per-value counts as conditional
    sums, instead of two filtered scans plus a full-outer join — half
    the heavy work, byte-identical statistic. Rows matching neither
    predicate (or where a predicate is null) belong to neither sample,
    exactly as the two-filter form excludes them."""
    pa = F.expr(side_a) if isinstance(side_a, str) else side_a
    pb = F.expr(side_b) if isinstance(side_b, str) else side_b
    v = F.col(column).cast("double")
    j = (
        df.select(
            v.alias("v"),
            F.when(pa, 1).otherwise(0).alias("__ia"),
            F.when(pb, 1).otherwise(0).alias("__ib"),
        )
        .where(F.col("v").isNotNull())
        .groupBy("v")
        .agg(
            F.sum("__ia").alias("ca"),
            F.sum("__ib").alias("cb"),
        )
        .filter(F.col("ca") + F.col("cb") > 0)
    )
    return _ks_from_value_counts(j, n_buckets, _debug_plans)


def _ks_from_value_counts(
    j: DataFrame, n_buckets: int, _debug_plans: list | None = None
) -> DataFrame:
    """Shared KS tail: (v, ca, cb) per pooled distinct value -> the
    one-row statistic. See ks_drift for the distribution strategy.
    EAGER: the result is one row, so it is materialized here and the
    persisted distinct-value frame unpersisted before returning —
    otherwise every call would leak a cached frame into a long-lived
    session (the other persisting kernels in this file unpersist the
    same way)."""
    from pyspark.sql import Window

    spark = j.sparkSession
    # THREE subtrees of ONE action read this frame (the in-plan cut
    # points, the bucket offsets, and the main ECDF stream — r10: the
    # cut-point collect was a separate driver action, r9: the offsets
    # were a third) — persist so the counts build runs once, then
    # unpersist in the finally below
    j = j.persist()
    try:
        # cut points only BALANCE the buckets (the statistic is invariant
        # to them), so a 10% sample feeds the sketch: bucket sizes wobble
        # ±30%, sketch-insert CPU drops 10x. An empty sample (tiny input)
        # degrades to one bucket — still correct, one window partition.
        # r10: the cuts ride the plan as a broadcast one-row array (same
        # sketch, same values — see _inplan_cuts) so the kernel is ONE
        # driver action instead of two.
        jb = j.crossJoin(F.broadcast(_inplan_cuts(j, "v", n_buckets)))
        jb = jb.withColumn("__b", _inplan_bucket("v"))
        # per-bucket totals -> exclusive prefix offsets, IN-PLAN (r9:
        # was a third bounded collect + literal map): the totals frame
        # is <= n_buckets rows, so it folds into ONE array row whose
        # prefix sums expand with in-row higher-order functions
        # (bounded n_buckets^2 interpreted steps on a single row — no
        # WindowExec, no extra driver action) and the offsets
        # broadcast-join back onto the bucket key. Same integer
        # arithmetic as the old literal-map form.
        zero = F.lit(0).cast("bigint")
        offs = (
            jb.groupBy("__b")
            .agg(F.sum("ca").alias("__sa"), F.sum("cb").alias("__sb"))
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("__b", "__sa", "__sb"))
                ).alias("__arr")
            )
            .select(
                F.explode(
                    F.transform(
                        "__arr",
                        lambda e, i: F.struct(
                            e["__b"].alias("__b"),
                            F.aggregate(
                                F.slice("__arr", 1, i), zero,
                                lambda acc, x: acc + x["__sa"],
                            ).alias("__offa"),
                            F.aggregate(
                                F.slice("__arr", 1, i), zero,
                                lambda acc, x: acc + x["__sb"],
                            ).alias("__offb"),
                        ),
                    )
                ).alias("__e"),
                F.aggregate(
                    "__arr", zero, lambda acc, x: acc + x["__sa"]
                ).alias("__na"),
                F.aggregate(
                    "__arr", zero, lambda acc, x: acc + x["__sb"]
                ).alias("__nb"),
            )
            .select("__e.__b", "__e.__offa", "__e.__offb", "__na", "__nb")
        )
        w = (
            Window.partitionBy("__b")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # the ECDF difference keeps the exact integer-cumsum shape of
        # the literal-map form: (off + cum) cast to double, ONE division
        # per side — bit-identical D for identical inputs
        na_d = F.col("__na").cast("double")
        nb_d = F.col("__nb").cast("double")
        d = jb.join(F.broadcast(offs), "__b").select(
            "v", "__na", "__nb",
            (
                F.abs(
                    (F.col("__offa") + F.sum("ca").over(w))
                    .cast("double") / na_d
                    - (F.col("__offb") + F.sum("cb").over(w))
                    .cast("double") / nb_d
                )
            ).alias("d"),
            na_d.alias("__nad"), nb_d.alias("__nbd"),
        )
        top = d.orderBy(F.desc("d"), F.asc("v")).limit(1)
        ne = F.col("__nad") * F.col("__nb") / (F.col("__na") + F.col("__nb"))
        lam = (F.sqrt(ne) + 0.12 + 0.11 / F.sqrt(ne)) * F.col("d")
        series = F.aggregate(
            F.sequence(F.lit(1), F.lit(100)),
            F.lit(0.0),
            lambda acc, k: acc
            + F.when(k % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
            * F.exp(F.lit(-2.0) * (k * k).cast("double") * lam * lam),
        )
        row = top.select(
            F.col("d").alias("ks_stat"),
            F.when(lam < 0.2, F.lit(1.0))
            .otherwise(
                F.greatest(F.lit(0.0), F.least(F.lit(1.0), 2.0 * series))
            )
            .alias("p_value"),
            F.col("v").alias("at_value"),
            F.col("__na").alias("n_a"), F.col("__nb").alias("n_b"),
        )
        if _debug_plans is not None:
            _debug_plans.append(
                row._jdf.queryExecution().optimizedPlan().toString()
            )
        row = row.first()
    finally:
        j.unpersist()
    if row is None or not row["n_a"] or not row["n_b"]:
        raise ValueError(
            "ks_drift requires non-empty samples on both sides"
        )
    return spark.createDataFrame(
        [(
            float(row["ks_stat"]), float(row["p_value"]),
            int(row["n_a"]), int(row["n_b"]), float(row["at_value"]),
        )],
        "ks_stat double, p_value double, n_a bigint, n_b bigint, "
        "at_value double",
    )


def robust_outliers_mad(
    df: DataFrame,
    column: str,
    threshold: float = 3.5,
    scale: float = 1.4826,
) -> DataFrame:
    """Median/MAD robust outlier detection — the resistant complement
    to the IQR and z-score rules (a single extreme value moves a mean
    and stddev arbitrarily far, but moves a median and MAD not at
    all). robust_z = |x - median| / (scale * MAD) with the standard
    1.4826 consistency constant (makes MAD estimate sigma under
    normality); rows with robust_z > threshold (3.5 is the Iglewicz-
    Hoaglin recommendation) are returned with their score.

    Both medians come from the sketch-bracketed exact-selection kernel
    (`percentiles_from_meta`) — two bounded extra scans, no
    single-task percentile merge, the same scale path the profiler
    uses. A constant column has MAD 0; the score try_divides to null
    and no row flags (documented degenerate case)."""
    col = F.col(column).cast("double")
    probs = [0.5]
    row = df.agg(*percentile_meta_aggs([column], probs)).first()
    meta = {
        column: (row[f"{column}__n"], row[f"{column}__min"],
                 row[f"{column}__max"], row[f"{column}__b"])
    }
    med = percentiles_from_meta(df, [column], probs, meta)[column][0]
    if med is None:
        raise ValueError(f"robust_outliers_mad: no non-null {column!r}")
    dev = df.select(F.abs(col - F.lit(float(med))).alias("__dev"))
    drow = dev.agg(*percentile_meta_aggs(["__dev"], probs)).first()
    dmeta = {
        "__dev": (drow["__dev__n"], drow["__dev__min"],
                  drow["__dev__max"], drow["__dev__b"])
    }
    mad = percentiles_from_meta(dev, ["__dev"], probs, dmeta)["__dev"][0]
    z = F.try_divide(
        F.abs(col - F.lit(float(med))),
        F.lit(float(scale)) * F.lit(float(mad)),
    )
    return (
        df.withColumn("robust_z", z)
        .filter(F.col("robust_z") > threshold)
    )


# largest group a per-group rank window may sort in ONE task before
# gini_coefficient dispatches to the bucketed-offsets kernel (a 4M-row
# sorted window partition is comfortably in-memory; past it, a skewed
# group key would turn the rank window into the straggler task)
GINI_WINDOW_MAX_GROUP = 4_000_000


def gini_coefficient(
    df: DataFrame,
    column: str,
    group_by: list[str] | None = None,
    n_buckets: int = 64,
    max_window_group: int | None = None,
    _debug_plans: list | None = None,
) -> DataFrame:
    """Gini concentration per group — the standard inequality measure a
    corpus dashboard puts next to per-source counts (is one crawl
    domain contributing half the tokens? are a few customers half the
    revenue?). 0 = perfectly even, ->1 = fully concentrated.

    G = (2 * sum(i * x_i)) / (n * sum(x)) - (n + 1) / n over ascending
    x_i, i = 1..n — the exact sample formula, tie-order invariant
    (equal values commute inside sum(i * x_i)). Nulls are excluded
    BEFORE ranking, so n, total, and the moment sum all range over the
    same non-null sample (ranking nulls would silently inflate every
    rank while the sums skipped them).

    Grouped: one per-group rank window plus one grouped aggregation.
    The moment sums stay in integer/long arithmetic when the column is
    integral (exact, order-independent); the two divisions happen in
    double on the exact sums, so an external oracle replays the value
    bit-for-bit. The negative-value guard rides the SAME aggregation
    (a min(x) assert folded into the gini expression — no extra scan)
    and therefore surfaces at action time as a Spark error carrying
    "has negative values", not as an eager ValueError.

    SIZE DISPATCH: the rank window sorts each group in one task, which
    is the right plan for real group keys but a skew trap when one
    group holds most of the corpus. A cheap pre-agg (map-side-combined
    per-group count + max) measures the largest group; past
    ``max_window_group`` (default GINI_WINDOW_MAX_GROUP) every group is
    routed through `_gini_grouped_bucketed`, the grouped form of the
    ungrouped bucketed-offsets kernel — identical values (bit-for-bit
    for integral columns: the decimal moment sum equals the rank-window
    long sum exactly, and the final division uses the same cast shape),
    no single-group window anywhere. Pass ``max_window_group=0`` to
    force the bucketed path, or ``float("inf")`` to skip the pre-agg
    dispatch scan entirely when group sizes are known small.

    Ungrouped (group_by=None): there is no group key to partition a
    rank window by, so ranks are derived WITHOUT any data-sized
    single-partition window, the same way `ks_drift` builds its ECDFs:
    one groupBy(value) count collapses the input to its distinct
    values; approximate-quantile cut points split the value axis into
    `n_buckets` ranges; per-bucket totals (<= n_buckets rows) turn
    into exclusive prefix offsets in-plan (one array row expanded by
    bounded higher-order functions, broadcast-joined back — n, total
    and the min(x) negative guard ride the final aggregation); a
    window per BUCKET partition finishes the exclusive prefix s_v. A run of c_v ties at
    value v then occupies ranks s_v+1..s_v+c_v, contributing
    v*c_v*(2*s_v + c_v + 1) to 2*sum(i*x_i) — summed in
    DECIMAL(38,0), exact far past long range. This path is EAGER (the
    result is one row; computing it inside lets the distinct-value
    frame be unpersisted before returning, no cache leak) and returns
    columns (n, total, gini) with total in long arithmetic for
    integral columns. The final division runs in IEEE double on the
    exact sums with each operand rounded to double first —
    D(2*si) / (D(n)*D(total)) - (n+1.0)/n — so DuckDB replays it
    bit-for-bit with the same casts.
    """
    from pyspark.sql import Window

    keys = list(group_by or [])
    col = F.col(column)
    base = df.select(*keys, col.alias("__x")).where(
        F.col("__x").isNotNull()
    )
    if not keys:
        return _gini_global(base, n_buckets, column, _debug_plans)
    import math

    thr = (
        GINI_WINDOW_MAX_GROUP
        if max_window_group is None
        else max_window_group
    )
    if thr <= 0 or (
        not math.isinf(thr)
        and (
            base.groupBy(*[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n").alias("m"))
            .first()["m"]
            or 0
        )
        > thr
    ):
        return _gini_grouped_bucketed(
            base, keys, n_buckets, column, _debug_plans
        )
    ranked = base.withColumn(
        "__i", F.row_number().over(
            Window.partitionBy(*[F.col(k) for k in keys])
            .orderBy(F.col("__x"))
        )
    )
    g = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("total"),
        F.sum(F.col("__i") * F.col("__x")).alias("__si"),
        F.min("__x").alias("__mn"),
    )
    n = F.col("n").cast("double")
    gini = (
        (F.lit(2.0) * F.col("__si").cast("double"))
        / (n * F.col("total").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    # the guard is a column so it rides the same aggregation pass:
    # assert_true yields NULL when the group min is non-negative, so
    # coalesce makes it an exact 0.0 added to the statistic — Catalyst
    # cannot prune it, and a negative value fails the action.
    guard = F.coalesce(
        F.assert_true(
            F.col("__mn") >= 0,
            F.lit(f"gini_coefficient: {column!r} has negative values"),
        ).cast("double"),
        F.lit(0.0),
    )
    return g.select(
        *keys, "n", "total",
        (
            F.when(F.col("total") == 0, F.lit(0.0)).otherwise(gini)
            + guard
        ).alias("gini"),
    )


def _gini_global(
    base: DataFrame,
    n_buckets: int,
    column: str,
    _debug_plans: list | None = None,
) -> DataFrame:
    """Ungrouped Gini kernel: distinct-value counts + bucketed literal
    prefix offsets (see gini_coefficient docstring). No global-window
    rank anywhere; eager one-row result."""
    from pyspark.sql import Window

    spark = base.sparkSession
    vc = base.groupBy("__x").agg(F.count(F.lit(1)).alias("__c"))
    vc = vc.persist()
    try:
        # cut points only balance the buckets (the statistic is
        # invariant to them) — a 10% sample feeds the sketch. r10: the
        # cuts ride the plan as a broadcast one-row array (same sketch,
        # same values — see _inplan_cuts), folding the kernel's two
        # driver actions into ONE.
        jb = vc.crossJoin(F.broadcast(_inplan_cuts(vc, "__x", n_buckets)))
        jb = jb.withColumn("__b", _inplan_bucket("__x"))
        # per-bucket totals -> exclusive prefix offsets, IN-PLAN (r9:
        # was a bounded driver collect + literal map — one extra action
        # over the cached frame): the totals frame is <= n_buckets
        # rows, so it folds into ONE array row whose prefix sums
        # expand with in-row higher-order functions (bounded
        # n_buckets^2 interpreted steps on a single row — no
        # WindowExec, no extra driver action) and the offsets
        # broadcast-join back onto the bucket key. n/total/min ride
        # the final aggregation — long/decimal sums are exact and
        # order-independent, so the values match the collected form
        # bit-for-bit.
        zero = F.lit(0).cast("bigint")
        offs = (
            jb.groupBy("__b")
            .agg(F.sum("__c").alias("__bc"))
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("__b", "__bc"))
                ).alias("__arr")
            )
            .select(
                F.explode(
                    F.transform(
                        "__arr",
                        lambda e, i: F.struct(
                            e["__b"].alias("__b"),
                            F.aggregate(
                                F.slice("__arr", 1, i), zero,
                                lambda acc, x: acc + x["__bc"],
                            ).alias("__off"),
                        ),
                    )
                ).alias("__e")
            )
            .select("__e.__b", "__e.__off")
        )
        jb = jb.join(F.broadcast(offs), "__b")
        w = (
            Window.partitionBy("__b")
            .orderBy("__x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        s = F.col("__off") + F.sum("__c").over(w) - F.col("__c")
        integral = dict(vc.dtypes)["__x"] in (
            "tinyint", "smallint", "int", "bigint",
        )
        if integral:
            # exact: every factor in decimal(38,0), exact far past
            # long range (n up to ~1e12 rows stays under 1e38)
            contrib = (
                F.col("__x").cast("decimal(38,0)")
                * F.col("__c").cast("decimal(38,0)")
                * (
                    F.lit(2).cast("decimal(38,0)")
                    * s.cast("decimal(38,0)")
                    + F.col("__c").cast("decimal(38,0)")
                    + F.lit(1).cast("decimal(38,0)")
                )
            )
        else:
            # fractional values: the sum is double anyway; cast
            # each factor first so c*(2s+c+1) cannot overflow long
            contrib = (
                F.col("__x").cast("double")
                * F.col("__c").cast("double")
                * (
                    F.lit(2.0) * s.cast("double")
                    + F.col("__c").cast("double")
                    + F.lit(1.0)
                )
            )
        # ONE action: moment sum, n, total and the negative-value
        # guard all ride the same aggregation (long/decimal sums are
        # exact and order-independent — identical values to the old
        # bounded-collect form)
        si_frame = jb.select(
            contrib.alias("__t"), "__x", "__c"
        ).agg(
            F.sum("__t").alias("__si2"),
            F.sum("__c").alias("__n"),
            F.sum(F.col("__x") * F.col("__c")).alias("__total"),
            F.min("__x").alias("__mn"),
        )
        if _debug_plans is not None:
            _debug_plans.append(
                si_frame._jdf.queryExecution().optimizedPlan().toString()
            )
        srow = si_frame.first()
        if srow["__mn"] is not None and srow["__mn"] < 0:
            raise ValueError(
                f"gini_coefficient: {column!r} has negative values"
            )
        n = srow["__n"] or 0
        # empty input degrades to (0, 0, 0.0) with a bigint total —
        # exactly the old bounded-collect form's `if brows else 0`
        total = 0 if srow["__total"] is None else srow["__total"]
        if n == 0 or total == 0:
            out = [(int(n), total, 0.0)]
        else:
            si2 = int(srow["__si2"]) if integral else float(srow["__si2"])
            # IEEE-double replay: round each exact operand to double,
            # then one multiply / one divide / one subtract — the same
            # shape an external SQL oracle writes with explicit casts
            gini = float(si2) / (float(n) * float(total)) - (
                (n + 1.0) / n
            )
            out = [(int(n), total, gini)]
    finally:
        vc.unpersist()
    ttype = "bigint" if isinstance(total, int) else "double"
    return spark.createDataFrame(
        out, f"n bigint, total {ttype}, gini double"
    )


def _gini_grouped_bucketed(
    base: DataFrame,
    keys: list[str],
    n_buckets: int,
    column: str,
    _debug_plans: list | None = None,
) -> DataFrame:
    """Grouped Gini without a per-group rank window — the skew-proof
    path `gini_coefficient` dispatches to when the largest group
    exceeds the one-task sort budget.

    Same tie-run algebra as `_gini_global`: collapse to distinct
    (group, value) counts; split the VALUE axis with global
    approx-quantile cut points (bucket balance only — the statistic is
    invariant to where the cuts fall); per-(group, bucket) totals get
    an exclusive prefix via a window over <= n_buckets rows per group;
    a co-keyed join hands each distinct value its bucket offset; the
    within-bucket prefix finishes rank s_v, and a run of c ties at
    value v contributes v*c*(2*s_v + c + 1) to 2*sum(i*x_i). Every
    window here partitions by (group, bucket) or iterates <= n_buckets
    rows — no task ever sorts a whole group. Moment sums are
    DECIMAL(38,0) for integral columns (== the rank window's long sum
    exactly), double otherwise; the final division repeats the window
    path's cast shape so dispatch never changes the value.
    """
    from pyspark.sql import Window

    kcols = [F.col(k) for k in keys]
    vc = base.groupBy(*kcols, "__x").agg(F.count(F.lit(1)).alias("__c"))
    # cut points only balance the buckets (the statistic is invariant
    # to them) — sketch them from the collapsed distinct-value frame,
    # mirroring _gini_global: the per-(group,bucket) windows iterate
    # distinct-VALUE rows, so balancing by distinct values is what
    # bounds the window partitions, and the collapsed frame is far
    # smaller than re-scanning the raw corpus through the sketch.
    # r10: the cuts ride the plan as a broadcast one-row array (same
    # sketch, same values — see _inplan_cuts). This kernel returns a
    # LAZY frame, so the old driver-side cut collect cost an entire
    # extra pass over the un-persisted vc subtree (scan + tokenize +
    # shuffle) before the caller's action re-ran it; now the sketch is
    # a subtree of that same action.
    jb = vc.crossJoin(F.broadcast(_inplan_cuts(vc, "__x", n_buckets)))
    jb = jb.withColumn("__b", _inplan_bucket("__x"))
    # exclusive prefix of bucket counts per group: <= n_buckets rows
    # per window partition regardless of group size
    woff = (
        Window.partitionBy(*kcols)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = (
        jb.groupBy(*kcols, "__b")
        .agg(F.sum("__c").alias("__bc"))
        .withColumn(
            "__off", F.coalesce(F.sum("__bc").over(woff), F.lit(0))
        )
        .drop("__bc")
    )
    # co-keyed on (group, bucket) — null-SAFE on the group keys: a
    # plain equi-join would silently drop every NULL-key group (NULL
    # never satisfies =), while the window path emits a row for it.
    # eqNullSafe is still a hash-join key (EqualNullSafe), not BNL.
    ren = boff.withColumnRenamed("__b", "__gb")
    for i, k in enumerate(keys):
        ren = ren.withColumnRenamed(k, f"__gk{i}")
    cond = F.col("__b") == F.col("__gb")
    for i, k in enumerate(keys):
        cond = cond & F.col(k).eqNullSafe(F.col(f"__gk{i}"))
    jj = jb.join(ren, cond).drop(
        "__gb", *[f"__gk{i}" for i in range(len(keys))]
    )
    win = (
        Window.partitionBy(*kcols, F.col("__b"))
        .orderBy("__x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = F.col("__off") + F.sum("__c").over(win) - F.col("__c")
    integral = dict(base.dtypes)["__x"] in (
        "tinyint", "smallint", "int", "bigint",
    )
    if integral:
        contrib = (
            F.col("__x").cast("decimal(38,0)")
            * F.col("__c").cast("decimal(38,0)")
            * (
                F.lit(2).cast("decimal(38,0)") * s.cast("decimal(38,0)")
                + F.col("__c").cast("decimal(38,0)")
                + F.lit(1).cast("decimal(38,0)")
            )
        )
        total_col = F.sum(F.col("__x") * F.col("__c")).alias("total")
    else:
        contrib = (
            F.col("__x").cast("double")
            * F.col("__c").cast("double")
            * (
                F.lit(2.0) * s.cast("double")
                + F.col("__c").cast("double")
                + F.lit(1.0)
            )
        )
        total_col = F.sum(
            F.col("__x").cast("double") * F.col("__c").cast("double")
        ).alias("total")
    g = jj.select(*kcols, "__x", "__c", contrib.alias("__t")).groupBy(
        *kcols
    ).agg(
        F.sum("__c").alias("n"),
        total_col,
        F.sum("__t").alias("__si2"),
        F.min("__x").alias("__mn"),
    )
    if _debug_plans is not None:
        _debug_plans.append(
            g._jdf.queryExecution().optimizedPlan().toString()
        )
    n = F.col("n").cast("double")
    # __si2 already carries the factor 2; rounding each exact operand
    # to double first makes this identical to the window path's
    # 2.0 * D(si) (doubling commutes with the decimal->double round)
    gini = (
        F.col("__si2").cast("double") / (n * F.col("total").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    guard = F.coalesce(
        F.assert_true(
            F.col("__mn") >= 0,
            F.lit(f"gini_coefficient: {column!r} has negative values"),
        ).cast("double"),
        F.lit(0.0),
    )
    return g.select(
        *keys, "n", "total",
        (
            F.when(F.col("total") == 0, F.lit(0.0)).otherwise(gini)
            + guard
        ).alias("gini"),
    )
