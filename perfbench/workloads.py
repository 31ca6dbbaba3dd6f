"""Workload items and their output checks.

An item is one unit of the closed loop: a registered query (built through
`__spark_entry__.queries()` and forced by `bench.run_action`) or one shipped
`examples/*.yaml` pipeline run through `Pipeline.from_yaml(...).run()`.
Every item yields a digest of its output, which the runner compares with
a reference: `reference` builds it once per checkout from the DuckDB oracle
twins (queries) or from the pipelines' known row counts.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from dataclasses import dataclass
from pathlib import Path

# pipeline -> (input table, rows written at this commit); every other
# ${VAR} in the YAML is an output location
PIPELINES = {
    "audit_sample": ("documents", 50),
    "corpus_curation": ("documents", 1490),
    "embedding_curation": ("embeddings", 128),
    "journey_analysis": ("events", 10),
    "layout_optimize": ("lineitem", 500000),
    "mixed_language_audit": ("documents", 5000),
    "privacy_release": ("customer", 15000),
    "product_analytics": ("events", 3),
    "quality_filtering": ("documents", 5000),
    "soft_curation": ("documents", 5000),
    "trained_quality_filter": ("documents", 3198),
}

_VAR = re.compile(r"\$\{(\w+)\}")


@dataclass(frozen=True)
class Workload:
    name: str
    items: tuple[str, ...]  # PIPELINES names are pipelines, others queries
    scale: str         # "sf1" (built from sf0.1) | "sf0.1"
    pass_s: float      # nominal seconds per warm pass, checks included
    warm_passes: int   # untimed passes after the cold one
    headline: slice    # the bench.HEADLINE part its queries come from


# Item subsets, not whole families: one run must hold a fresh JVM, a cold
# pass, the warm-up passes the JIT needs to settle and enough timed passes
# for a median and a tail, in about a minute on a 4-core box. Each subset
# keeps the layer mix of its family.
WORKLOADS = {
    w.name: w for w in (
        # filter+agg, join, time window: executor-bound; the seasonal
        # decomposition runs numpy in applyInPandas, so Python workers take
        # part too. Few items, so that each is timed often enough in a run
        # for its median to hold when the host is busy.
        Workload("core_sf1", (
            "q6_forecast_revenue", "q14_promo_revenue",
            "tumbling_window_agg", "seasonal_decomposition",
        ), "sf1", 2.75, 4, slice(None, 31)),
        # the shipped examples that take about half a second warm here
        # (quality_filtering alone takes ~56 s; corpus_curation's latency
        # swings by half between runs, too much for a bounded tail)
        Workload("pipelines_sf0.1", (
            "audit_sample", "journey_analysis", "privacy_release",
        ), "sf0.1", 1.25, 6, slice(0)),
    )
}


def is_pipeline(name: str) -> bool:
    return name in PIPELINES


def check_items(wl: Workload) -> None:
    """Query items must come from the workload's part of `bench.HEADLINE`:
    the 31 stable headliners for core_sf1."""
    import bench

    stray = [n for n in wl.items
             if not is_pipeline(n) and n not in bench.HEADLINE[wl.headline]]
    if stray:
        raise SystemExit(f"{wl.name}: not headliners of this workload: {stray}")


class _Capture:
    """Stands in for the DataFrame handed to `bench.run_action`, so that
    the action it picks (noop write or collect) also yields a digest: a
    collect keeps its rows; a noop write carries an Observation of the
    row count and a row-hash sum, computed during the write itself."""

    def __init__(self, df):
        self.df = df
        self.rows = None
        self.observation = None

    @property
    def write(self):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        cols = [
            F.array_sort(F.map_entries(F.col(f"`{f.name}`")))
            if isinstance(f.dataType, T.MapType) else F.col(f"`{f.name}`")
            for f in self.df.schema.fields
        ]
        self.observation = Observation()
        return self.df.observe(
            self.observation,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2147483647))).alias("hash"),
        ).write

    def collect(self):
        self.rows = self.df.collect()
        return self.rows

    def digest(self) -> str:
        if self.rows is not None:
            h = hashlib.sha1()
            for line in sorted(repr(tuple(r)) for r in self.rows):
                h.update(line.encode())
                h.update(b"\n")
            return f"rows={len(self.rows)} sha1={h.hexdigest()[:16]}"
        got = self.observation.get
        return f"rows={got['rows']} xxh={got['hash']}"


def run_query(spark, name: str, sf_dir: str, tracer):
    """Build and force one registered query; returns the untimed step
    that yields its output digest."""
    import bench
    import __spark_entry__

    with tracer.span("build"):
        df = __spark_entry__.queries()[name](spark, sf_dir)
    cap = _Capture(df)
    with tracer.span("action"):
        bench.run_action(name, cap)
    if cap.rows is None:
        tracer.note_qe(df)
    return cap.digest


def run_pipeline(spark, name: str, sf_dir: str, out_dir: Path, tracer):
    """Run one shipped example pipeline; returns the untimed step that
    yields its status and row counts (written, and re-read from its
    output) as the digest."""
    from data_pipeline_framework_spark.core.pipeline import Pipeline

    root = Path(__file__).resolve().parent.parent
    path = root / "examples" / f"{name}.yaml"
    table = PIPELINES[name][0]
    if out_dir.exists():
        shutil.rmtree(out_dir)
    for var in sorted(set(_VAR.findall(path.read_text(encoding="utf-8")))):
        os.environ[var] = (f"{sf_dir}/{table}.parquet" if var.endswith("_INPUT")
                           else str(out_dir / var.lower()))
    result = Pipeline.from_yaml(path, spark).run()

    def digest() -> str:
        if result.status != "success":
            return f"status={result.status} error={result.error}"
        reread = parquet_rows(Path(result.storage["destination"]))
        shutil.rmtree(out_dir)
        return (f"status=success rows_written={result.rows_written} "
                f"reread={reread}")
    return digest


def parquet_rows(path: Path) -> int:
    """Rows in the parquet files under `path`, from their footers: the
    count Spark would read back, without a Spark job per check."""
    import pyarrow.parquet as pq

    files = [f for f in path.rglob("*.parquet")
             if not f.name.startswith((".", "_"))]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def expected_pipeline_digest(name: str) -> str:
    n = PIPELINES[name][1]
    return f"status=success rows_written={n} reread={n}"


def reference(spark, workload: Workload, sf_dir: str,
              digests: dict[str, str]) -> dict[str, dict]:
    """Per-item reference outputs for this checkout.

    Queries: each item is rebuilt and compared with its `oracle_sql()` twin
    on DuckDB through `tools/check.py`'s `compare`; an item that matches
    (or has no twin) keeps the digest this run measured as its reference.
    Pipelines: the reference is the row count recorded above."""
    import duckdb

    import __spark_entry__
    from tools.check import TABLES, compare

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    ref: dict[str, dict] = {}
    for name in workload.items:
        if is_pipeline(name):
            ref[name] = {"digest": expected_pipeline_digest(name), "problems": []}
            continue
        if name not in digests:
            problems = ["no measured output"]
        elif name not in oracles:
            problems = []
        else:
            try:
                spdf = queries[name](spark, sf_dir).toPandas()
                problems = compare(name, spdf, con.sql(oracles[name]).df())
            except Exception as e:  # engine or oracle error: item fails
                problems = [f"{type(e).__name__}: {e}"]
            spark.catalog.clearCache()
        ref[name] = {"digest": digests.get(name), "oracle": name in oracles,
                     "problems": problems}
    con.close()
    return ref
