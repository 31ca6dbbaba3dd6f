"""Batch sources (reference sources/{csv,json,s3}_source.py re-expressed).

All readers return a lazy DataFrame; multi-file handling, globs, and the
reference's `_source_file` lineage column map to native Spark facilities
(`spark.read` path globs + `F.input_file_name()`), so a 100 TB prefix scans
partition-parallel with no driver-side file loop (the reference listed and
pandas-read files one by one: reference sources/csv_source.py:40-62,
sources/s3_source.py:50-121).

S3: pass an `s3a://bucket/prefix/*.csv` path — the Hadoop S3A connector
replaces the reference's boto3 list+fnmatch loop (s3_source.py:218-242).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import NANOS_AS_LONG, RUNTIME_CONF


def _with_source_file(df: DataFrame, add: bool, colname: str = "_source_file") -> DataFrame:
    # reference csv_source.py:56-60 tags each row with its origin file
    return df.withColumn(colname, F.input_file_name()) if add else df


def read_csv(
    spark: SparkSession,
    path: str | list[str],
    header: bool = True,
    sep: str = ",",
    encoding: str = "utf-8",
    infer_schema: bool = True,
    schema: T.StructType | None = None,
    source_file_column: bool = False,
    **options,
) -> DataFrame:
    """CSV scan, single file or glob (reference csv_source.py:20-62)."""
    reader = spark.read.options(
        header=header, sep=sep, encoding=encoding, **options
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", infer_schema)
    return _with_source_file(reader.csv(path), source_file_column)


def read_json(
    spark: SparkSession,
    path: str | list[str],
    multiline: bool = False,
    schema: T.StructType | None = None,
    source_file_column: bool = False,
    **options,
) -> DataFrame:
    """JSON / JSONL scan (reference json_source.py:21-89). JSONL is the
    default; `multiline=True` for standard JSON arrays. Nested fields stay
    as native structs (not flattened at ingest — see SURVEY §1.3); use the
    `flatten` helper below to reproduce the reference's flat output."""
    reader = spark.read.options(multiLine=multiline, **options)
    if schema is not None:
        reader = reader.schema(schema)
    return _with_source_file(reader.json(path), source_file_column)


def read_parquet(
    spark: SparkSession,
    path: str | list[str],
    nanos_ts_columns: tuple[str, ...] = (),
    source_file_column: bool = False,
    schema: T.StructType | None = None,
    **options,
) -> DataFrame:
    """Parquet scan. `nanos_ts_columns` handles files written with
    TIMESTAMP(NANOS) (illegal for Spark's vectorized reader): with
    spark.sql.legacy.parquet.nanosAsLong=true those columns arrive as
    nanosecond longs and are truncated to microsecond timestamps here
    (matching DuckDB's nanos->micros truncation). The conf is runtime-
    settable, so it is applied here rather than assumed on the session —
    callers with a vanilla SparkSession (e.g. an external harness) read
    NANOS files without special setup."""
    spark.conf.set(NANOS_AS_LONG, RUNTIME_CONF[NANOS_AS_LONG])
    return _scan_parquet(
        spark, path, nanos_ts_columns, source_file_column, schema, options
    )


def _scan_parquet(
    spark: SparkSession,
    path: str | list[str],
    nanos_ts_columns: tuple[str, ...],
    source_file_column: bool,
    schema: T.StructType | None,
    options: dict,
) -> DataFrame:
    reader = spark.read
    if options:
        reader = reader.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(
        *(path if isinstance(path, list) else [path])
    )
    if nanos_ts_columns:
        # when the caller supplied the scan schema, consult it directly:
        # df.schema would fetch + re-parse the same StructType from the
        # JVM (4 round trips and an analysis) for an answer already in
        # hand. Identical by construction — the supplied schema IS the
        # scan schema.
        fields = (schema if schema is not None else df.schema).fields
        for c in nanos_ts_columns:
            field = next((f for f in fields if f.name == c), None)
            if field is not None and isinstance(field.dataType, T.LongType):
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"{c} div 1000"))
                )
    return _with_source_file(df, source_file_column)


def read_orc(
    spark: SparkSession,
    path: str | list[str],
    source_file_column: bool = False,
    **options,
) -> DataFrame:
    """ORC scan (columnar sibling of read_parquet — same glob, predicate
    pushdown, and `_source_file` provenance semantics; Spark's native
    ORC reader is vectorized and stats-pruning like the parquet one)."""
    df = spark.read.options(**options).orc(
        *(path if isinstance(path, list) else [path])
    )
    return _with_source_file(df, source_file_column)


# (path, mtime_ns, size) -> inferred StructType. METADATA memo only — no
# row of data is ever cached: supplying the schema skips the driver-side
# footer re-read that plain spark.read.parquet performs on EVERY call
# (~65 ms each; a 138-query bench pays it ~200x for the same static
# files — guide §6: table formats with manifest metadata exist precisely
# to avoid re-deriving schema/listing per query). The mtime+size key
# invalidates the entry whenever the file is rewritten, so a changed
# table is always re-inferred; non-regular-file paths (globs, dirs,
# object stores) bypass the memo entirely.
_TABLE_SCHEMA_MEMO: dict[tuple[str, int, int], T.StructType] = {}


def _memoized_schema(
    spark: SparkSession, path: str
) -> T.StructType | None:
    import os

    try:
        st = os.stat(path)
        if not os.path.isfile(path):
            return None
    except OSError:
        return None
    key = (path, st.st_mtime_ns, st.st_size)
    sch = _TABLE_SCHEMA_MEMO.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _TABLE_SCHEMA_MEMO[key] = sch
    return sch


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one of the benchmark tables, normalizing nanos timestamps.
    Like read_parquet, it sets NANOS_AS_LONG first, here before the
    schema memo's inference on a miss."""
    path = f"{sf_dir}/{name}.parquet"
    spark.conf.set(NANOS_AS_LONG, RUNTIME_CONF[NANOS_AS_LONG])
    return _scan_parquet(
        spark, path, ("ts",), False, _memoized_schema(spark, path), {}
    )


def get_schema(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    sample_rows: int = 100,
    **reader_options,
) -> dict:
    """Source schema probe (reference csv_source.py:73-104,
    json_source.py:100-137): inferred dtypes plus null/distinct counts
    from a bounded sample. The reference pandas-read the first 100 rows;
    here inference comes from Spark's reader and the stats from a
    `limit(sample_rows)` scan, so probing a 100 TB prefix reads one
    split, not the corpus."""
    fmt = fmt or (
        "csv" if path.endswith(".csv")
        else "json" if path.endswith((".json", ".jsonl"))
        else "parquet"
    )
    if fmt == "csv":
        df = read_csv(spark, path, **reader_options)
    elif fmt == "json":
        df = read_json(spark, path, **reader_options)
    else:
        df = read_parquet(spark, path, **reader_options)
    sample = df.limit(sample_rows)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for f in sample.schema.fields:
        aggs.append(F.count(F.col(f.name)).alias(f"{f.name}__nn"))
        aggs.append(F.approx_count_distinct(F.col(f.name)).alias(f"{f.name}__d"))
    obs = sample.agg(*aggs).first()
    return {
        "format": fmt,
        "sampled_rows": obs["__n"],
        "columns": [
            {
                "name": f.name,
                "dtype": f.dataType.simpleString(),
                "nullable": f.nullable,
                "null_count": obs["__n"] - obs[f"{f.name}__nn"],
                "distinct_count": obs[f"{f.name}__d"],
            }
            for f in sample.schema.fields
        ],
    }


def flatten(df: DataFrame, sep: str = ".") -> DataFrame:
    """Explicit nested-struct flattener producing the reference's flattened
    ingest schema (reference json_source.py:56-62 `pd.json_normalize`,
    stream_processor.py:414-423 `flatten_nested`): struct fields become
    `parent{sep}child` top-level columns, recursively."""
    def _flat(schema: T.StructType, prefix: str) -> list[F.Column]:
        cols = []
        for f in schema.fields:
            full = f"{prefix}.{f.name}" if prefix else f.name
            out = f"{prefix}{sep}{f.name}" if prefix else f.name
            if isinstance(f.dataType, T.StructType):
                cols.extend(_flat(f.dataType, full))
            else:
                cols.append(F.col(full).alias(out))
        return cols

    return df.select(*_flat(df.schema, ""))
