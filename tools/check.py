"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given SF, then compares:
row count, sorted column names, and order-insensitive values
(exact for non-floats, tiny-tolerance + bitwise-report for floats).

Usage: python tools/check.py [--changed] [sf_dir] [query ...]

``--changed`` is the inner-loop mode: each query gets a content
fingerprint (its own source + its oracle SQL + the bytes of every
engine module file its source references, transitively through the
package's relative imports) and queries whose fingerprint already
passed at this sf_dir are skipped. The cache (.check_cache.json, git-
ignored) updates on every pass, so a full run primes it and subsequent
edits re-verify only what the edit can have touched. The FULL gate
(no flag) stays the round-final artifact — --changed is for commits
in between.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import re
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_pipeline_framework_spark"
CACHE_PATH = ROOT / ".check_cache.json"

sys.path.insert(0, str(ROOT))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    # integer-typed columns may come back int32 vs int64 — normalize
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"rowcount {len(spark_pdf)} vs {len(oracle_pdf)}")
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        problems.append(f"columns {s_cols} vs {o_cols}")
        return problems
    if problems:
        return problems
    s = canonicalize(spark_pdf)
    o = canonicalize(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) and pd.api.types.is_float_dtype(ov):
            both_nan = sv.isna() & ov.isna()
            close = np.isclose(sv.fillna(0), ov.fillna(0), rtol=1e-9, atol=1e-9)
            ok = (both_nan | (close & ~(sv.isna() ^ ov.isna()))).all()
            exact = (sv.fillna(-1.5) == ov.fillna(-1.5)).all()
            if not ok:
                bad = (~(both_nan | close)).idxmax()
                problems.append(
                    f"col {c}: value mismatch e.g. row {bad}: {sv[bad]!r} vs {ov[bad]!r}"
                )
            elif not exact:
                bad = (sv.fillna(-1.5) != ov.fillna(-1.5)).idxmax()
                problems.append(
                    f"col {c}: NOT BITWISE EQUAL (hash risk) e.g. {sv[bad]!r} vs {ov[bad]!r}"
                )
        else:
            sv2 = sv.astype(str)
            ov2 = ov.astype(str)
            if not (sv2 == ov2).all():
                bad = (sv2 != ov2).idxmax()
                problems.append(
                    f"col {c}: mismatch e.g. row {bad}: {sv[bad]!r} vs {ov[bad]!r} "
                    f"(dtypes {sv.dtype}/{ov.dtype})"
                )
    return problems


# --------------------------------------------------------------- --changed

_PKG_RE = re.compile(r"data_pipeline_framework_spark((?:\.[a-zA-Z_]\w*)+)")
_REL_RE = re.compile(r"^\s*from\s+(\.+)([a-zA-Z_][\w\.]*)?\s+import", re.M)


def _module_file(base: Path, dotted: str) -> Path | None:
    parts = [p for p in dotted.split(".") if p]
    for k in range(len(parts), 0, -1):
        p = base.joinpath(*parts[:k]).with_suffix(".py")
        if p.exists():
            return p
        p = base.joinpath(*parts[:k]) / "__init__.py"
        if p.exists():
            return p
    return None


def _dep_closure(src: str) -> set[Path]:
    """Engine module files referenced by ``src``, expanded transitively
    through the package's own absolute and relative imports."""
    seen: set[Path] = set()
    stack = [
        f
        for m in _PKG_RE.findall(src)
        if (f := _module_file(PKG, m)) is not None
    ]
    while stack:
        f = stack.pop()
        if f in seen:
            continue
        seen.add(f)
        body = f.read_text(encoding="utf-8")
        for m in _PKG_RE.findall(body):
            nf = _module_file(PKG, m)
            if nf is not None and nf not in seen:
                stack.append(nf)
        for dots, mod in _REL_RE.findall(body):
            base = f.parent
            for _ in range(len(dots) - 1):
                base = base.parent
            nf = (
                _module_file(base, mod) if mod else base / "__init__.py"
            )
            if nf is not None and nf.exists() and nf not in seen:
                stack.append(nf)
    return seen


def _entry_helper_sources(entrymod) -> dict[str, str]:
    """name -> source for every function/constant-builder defined at the
    entry module's top level — queries call shared helpers (_t, _r,
    _inject_urls, _cells_for, ...) whose edits must invalidate dependent
    fingerprints too."""
    out: dict[str, str] = {}
    for name in dir(entrymod):
        obj = getattr(entrymod, name, None)
        if not inspect.isfunction(obj):
            continue
        if getattr(obj, "__module__", None) != entrymod.__name__:
            continue
        try:
            out[name] = inspect.getsource(obj)
        except (OSError, TypeError):
            pass
    return out


def _fingerprints(entrymod, qs: dict, oracles: dict) -> dict[str, str]:
    """name -> sha256 over the query's UNWRAPPED source (queries() hands
    out _pinned wrappers; __wrapped__ reaches the real body), its oracle
    SQL, every entry-module helper the body references (transitively
    among helpers), and every (transitively) referenced engine file."""
    helper_src = _entry_helper_sources(entrymod)
    helper_names = sorted(helper_src)
    file_sha: dict[Path, str] = {}
    out: dict[str, str] = {}
    for name, fn in qs.items():
        target = getattr(fn, "__wrapped__", fn)
        try:
            src = inspect.getsource(target)
        except (OSError, TypeError):
            src = repr(target)
        # expand referenced entry helpers transitively (word match on
        # the helper's exact name)
        blob, seen, frontier = src, set(), [src]
        while frontier:
            body = frontier.pop()
            for hname in helper_names:
                if hname in seen or hname == name:
                    continue
                if re.search(rf"\b{re.escape(hname)}\b", body):
                    seen.add(hname)
                    blob += helper_src[hname]
                    frontier.append(helper_src[hname])
        h = hashlib.sha256()
        h.update(blob.encode())
        h.update(oracles.get(name, "").encode())
        for f in sorted(_dep_closure(blob)):
            if f not in file_sha:
                file_sha[f] = hashlib.sha256(f.read_bytes()).hexdigest()
            h.update(f"{f}:{file_sha[f]}".encode())
        out[name] = h.hexdigest()
    return out


def _load_cache() -> dict:
    if CACHE_PATH.exists():
        try:
            return json.loads(CACHE_PATH.read_text())
        except (OSError, json.JSONDecodeError):
            pass
    return {}


def main() -> int:
    argv = list(sys.argv[1:])
    changed_only = "--changed" in argv
    if changed_only:
        argv.remove("--changed")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from pyspark.sql import SparkSession

    from data_pipeline_framework_spark.session import local_driver_memory

    # Deliberately VANILLA session — replicates the driver's correctness
    # harness (which does NOT use get_spark()), so any session-default
    # assumption in a query fails here first. Only the master and the
    # host-sized heap are set.
    spark = (
        SparkSession.builder.appName("check")
        .master("local[8]")
        .config("spark.driver.memory", local_driver_memory())
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    fps = _fingerprints(entrymod, qs, oracles)
    cache = _load_cache()
    n_pass = n_fail = n_weak = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if (
            changed_only
            and cache.get(name, {}).get("fp") == fps[name]
            and sf_dir in cache.get(name, {}).get("passed", [])
        ):
            n_skip += 1
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            cache.pop(name, None)
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(spdf)} (no oracle) [{time.time()-t0:.1f}s]")
            n_weak += 1
            continue
        try:
            opdf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}")
            n_fail += 1
            cache.pop(name, None)
            continue
        problems = compare(name, spdf, opdf)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems) + f" [{time.time()-t0:.1f}s]")
            n_fail += 1
            cache.pop(name, None)
        else:
            print(f"pass  {name}: rows={len(spdf)} [{time.time()-t0:.1f}s]")
            n_pass += 1
            ent = cache.setdefault(name, {})
            if ent.get("fp") != fps[name]:
                ent["fp"] = fps[name]
                ent["passed"] = []
            if sf_dir not in ent.setdefault("passed", []):
                ent["passed"].append(sf_dir)
    try:
        CACHE_PATH.write_text(json.dumps(cache, indent=0, sort_keys=True))
    except OSError:
        pass
    skipped = f", {n_skip} skipped (unchanged)" if changed_only else ""
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only){skipped}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
