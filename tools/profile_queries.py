"""Per-query profile: build and action measured apart, best of N.

Each query is built and then forced with the SAME action bench.py uses
(noop sink for wide outputs, collect for bounded ones), each step under
its own ``SparkQueryMonitor.measure`` scope. Spark jobs a kernel fires
while its DataFrame is still being built show up as build jobs; the
action's jobs carry the executor side: stages, shuffle read/write,
spill, executor run time and tasks. The run with the lowest build +
action wall time is reported.

Usage:
    python tools/profile_queries.py [--runs N] [--plans DIR] [--out FILE]
        [query ...]

Reads the data directory and core count from SPARK_GRAFT_SF_DIR and
SPARK_GRAFT_CPUS, as bench.py does. With no queries it profiles
bench.HEADLINE. One line per query goes to stdout; --out writes every
record as JSON; --plans writes each query's formatted physical plan to
DIR/<query>.txt.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _profile(build, action) -> dict:
    """One query's record from its build and action QueryRecords."""
    t = action.totals
    return {
        "wall_s": round(build.wall_s + action.wall_s, 3),
        "build_s": round(build.wall_s, 3),
        "build_jobs": len(build.jobs),
        "action_s": round(action.wall_s, 3),
        "action_jobs": len(action.jobs),
        "stages": t["num_stages"],
        "tasks": t["num_tasks"],
        "exec_run_s": round(t["executor_run_time_ms"] / 1000, 3),
        "shuffle_read_kb": round(t["shuffle_read_bytes"] / 1024),
        "shuffle_write_kb": round(t["shuffle_write_bytes"] / 1024),
        "spill_kb": round(
            (t["memory_spilled_bytes"] + t["disk_spilled_bytes"]) / 1024
        ),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's formatted plan here")
    ap.add_argument("--out", metavar="FILE",
                    help="write the JSON records here")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    os.environ["SPARK_GRAFT_CPUS"] = cpus

    import bench
    import __spark_entry__ as entrymod
    from data_pipeline_framework_spark import get_spark
    from data_pipeline_framework_spark.observability import SparkQueryMonitor

    spark = get_spark(
        app_name="profile",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.ui.retainedExecutions": "8",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()
    names = args.queries or [n for n in bench.HEADLINE if n in qs]
    for n in names:
        if n not in qs:
            raise SystemExit(f"unknown query: {n}")
    if args.plans:
        Path(args.plans).mkdir(parents=True, exist_ok=True)

    # warm: JVM + parquet footers
    qs[names[0]](spark, sf_dir).count()

    mon = SparkQueryMonitor(spark)
    records: dict[str, dict] = {}
    for name in names:
        best = None
        for _ in range(args.runs):
            with mon.measure(f"{name}_build") as build:
                df = qs[name](spark, sf_dir)
            with mon.measure(f"{name}_action") as action:
                bench.run_action(name, df)
            rec = _profile(build, action)
            if best is None or rec["wall_s"] < best["wall_s"]:
                best = rec
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        if args.plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (Path(args.plans) / f"{name}.txt").write_text(plan)
        if not records:
            print(f"{'query':32}", *(f"{k:>7}" for k in best), flush=True)
        records[name] = best
        print(f"{name:32}", *(f"{v:>{max(len(k), 7)}}"
                              for k, v in best.items()), flush=True)

    if args.out:
        Path(args.out).write_text(json.dumps({
            "sf_dir": sf_dir, "cpus": cpus, "runs": args.runs,
            "queries": records,
        }, indent=1))


if __name__ == "__main__":
    main()
