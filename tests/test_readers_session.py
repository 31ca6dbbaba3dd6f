"""Session confs are applied at call time, on every call.

Round-1 regression: an external harness built its own vanilla SparkSession
(without spark.sql.legacy.parquet.nanosAsLong) and every events-table read
died with PARQUET_TYPE_ILLEGAL. read_parquet / read_table set the conf on
each read, and each registered driver query re-pins the engine's runtime
confs, so a conf a caller changed between calls is restored.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import __spark_entry__
from data_pipeline_framework_spark.sources.readers import read_parquet, read_table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
TZ = "spark.sql.session.timeZone"


def _nanos_table(tmp_path):
    ts = pa.array([1_700_000_000_123_456_789, 1_700_000_060_000_000_999],
                  pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), tmp_path / "tbl.parquet")
    assert pq.read_schema(tmp_path / "tbl.parquet").field("ts").type == pa.timestamp("ns")
    return tmp_path / "tbl.parquet"


def _check_ts(df):
    ts_field = next(f for f in df.schema.fields if f.name == "ts")
    assert isinstance(ts_field.dataType, (T.TimestampType, T.TimestampNTZType))
    # nanos long -> micros truncation
    assert sorted(r["ts"].replace(tzinfo=None) for r in df.collect()) == [
        dt.datetime(2023, 11, 14, 22, 13, 20, 123456),
        dt.datetime(2023, 11, 14, 22, 14, 20),
    ]


def test_read_table_sets_nanos_conf_at_call_time(spark, tmp_path):
    path = _nanos_table(tmp_path)
    try:
        for _ in range(2):
            # a caller session that never configured (or has since unset)
            # the legacy conf, before a first and a repeated read
            spark.conf.unset(NANOS)
            _check_ts(read_parquet(spark, str(path), nanos_ts_columns=("ts",)))
            spark.conf.unset(NANOS)
            _check_ts(read_table(spark, str(tmp_path), "tbl"))
    finally:
        spark.conf.set(NANOS, "true")


def test_queries_repin_runtime_conf_on_every_call(spark, sf_dir):
    query = __spark_entry__.queries()["resample_hourly"]
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        first = sorted(query(spark, sf_dir).collect())
        # a caller moves the session zone between two calls on one session
        spark.conf.set(TZ, "Asia/Kolkata")
        second = query(spark, sf_dir)
        assert spark.conf.get(TZ) == "UTC"
        assert sorted(second.collect()) == first
    finally:
        spark.conf.set(TZ, "UTC")
        spark.conf.set("spark.sql.shuffle.partitions", partitions)
