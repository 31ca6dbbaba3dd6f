"""source_overlap_matrix driver-assembly guard (r10).

The kernel collects a sources^2 + sources bounded frame to the driver;
these tests pin (a) the high-cardinality fallback producing IDENTICAL
values through the fully distributed join form, and (b) the group
column's native type surviving into the output (an int source id used
to come back as the string '1')."""

import pytest
from pyspark.sql import types as T

from data_pipeline_framework_spark.functions import dedup


DOCS = [
    (1, 10, "alpha beta gamma delta epsilon"),
    (2, 10, "alpha beta gamma zeta eta"),
    (3, 20, "alpha beta gamma delta epsilon"),
    (4, 20, "theta iota kappa lambda mu"),
    (5, 30, "alpha beta gamma zeta eta"),
    (6, 30, "nu xi omicron pi rho"),
]


def _matrix(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, source int, text string")
    return dedup.source_overlap_matrix(df, "doc_id", "text", "source")


def _key(rows):
    return sorted(
        (r["source_a"], r["source_b"], r["shared_shingles"],
         r["n_a"], r["n_b"], r["jaccard"])
        for r in rows
    )


def test_group_col_native_type_preserved(spark):
    out = _matrix(spark)
    sch = {f.name: f.dataType for f in out.schema.fields}
    assert isinstance(sch["source_a"], T.IntegerType)
    assert isinstance(sch["source_b"], T.IntegerType)
    rows = out.collect()
    assert rows, "expected overlapping source pairs"
    assert all(isinstance(r["source_a"], int) for r in rows)


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan()


def test_fallback_matches_driver_assembly(spark, monkeypatch):
    driver = _matrix(spark)
    # the driver assembly is one leaf relation built from the probe rows
    assert _plan(driver).children().isEmpty()
    driver_rows = driver.collect()
    monkeypatch.setattr(dedup, "_OVERLAP_COLLECT_CAP", 0)
    fallback = _matrix(spark)
    # the guarded path returns a LAZY distributed plan joining the
    # persisted aggregation — prove we actually took it
    plan = _plan(fallback)
    assert not plan.children().isEmpty()
    assert "InMemoryRelation" in plan.toString()
    fb_rows = fallback.collect()
    assert _key(fb_rows) == _key(driver_rows)
    # bit-identical jaccard doubles
    for a, b in zip(_key(fb_rows), _key(driver_rows)):
        assert a[5] == pytest.approx(b[5], abs=0.0)
