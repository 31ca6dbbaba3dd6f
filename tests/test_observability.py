"""Observability stack: collector aggregation math, threshold alerts
firing and clearing, Prometheus/JSON export, health checks against the
live session, and SparkQueryMonitor capturing REAL shuffle/input
metrics for a measured query from the in-process status store."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_framework_spark.observability import (
    AlertLevel,
    AlertManager,
    HealthChecker,
    MetricsCollector,
    SparkQueryMonitor,
    ThresholdRule,
    executor_count_check,
    spark_session_check,
)


def test_collector_aggregates_and_windows():
    c = MetricsCollector()
    for v in (1.0, 2.0, 3.0, 4.0):
        c.record_gauge("g", v)
    agg = c.get_aggregated_metrics("g", "1m")
    assert agg["count"] == 4
    assert agg["min"] == 1.0 and agg["max"] == 4.0
    assert agg["avg"] == 2.5 and agg["latest"] == 4.0
    assert agg["p50"] == 3.0  # sorted[ floor(0.5*4) ]
    assert c.get_aggregated_metrics("missing", "1h") == {}
    with pytest.raises(ValueError, match="unknown window"):
        c.get_metrics("g", "3h")


def test_timer_records_elapsed():
    c = MetricsCollector()
    with c.timer("op", {"stage": "load"}):
        pass
    ms = c.get_metrics("op", "1m")
    assert len(ms) == 1 and ms[0].value >= 0.0
    assert ms[0].tags == {"stage": "load"}


def test_threshold_alerts_fire_and_clear():
    c = MetricsCollector()
    am = AlertManager(c)
    am.add_rule(ThresholdRule(
        "hot", "temp", threshold=10.0, operator="gt",
        stat="latest", window="1m", level=AlertLevel.CRITICAL,
    ))
    c.record_gauge("temp", 5.0)
    assert am.check_alerts() == []
    assert am.get_active_alerts() == []
    c.record_gauge("temp", 50.0)
    fired = am.check_alerts()
    assert len(fired) == 1 and fired[0].level is AlertLevel.CRITICAL
    assert "temp latest=50.0 gt 10.0" == fired[0].message
    assert len(am.get_active_alerts()) == 1
    c.record_gauge("temp", 1.0)
    assert am.check_alerts() == []
    assert am.get_active_alerts() == []          # cleared
    assert len(am.get_alert_history()) == 1      # history survives


def test_rule_validation():
    with pytest.raises(ValueError, match="operator"):
        ThresholdRule("r", "m", 1.0, operator="between")


def test_export_formats():
    c = MetricsCollector()
    c.record_counter("reqs.total", 2, {"source": "s3"})
    c.record_gauge("lag-seconds", 7.5)
    flat = json.loads(c.export_metrics("json"))
    assert {m["name"] for m in flat} == {"reqs.total", "lag-seconds"}
    prom = c.export_metrics("prometheus")
    assert 'reqs_total{source="s3"} 2.0' in prom
    assert "lag_seconds 7.5" in prom
    with pytest.raises(ValueError, match="export format"):
        c.export_metrics("xml")


def test_health_checks_run_and_record(spark):
    c = MetricsCollector()
    h = HealthChecker(c)
    h.add_check("session", spark_session_check(spark))
    h.add_check("executors", executor_count_check(spark, 1))
    h.add_check("boom", lambda: 1 / 0)
    out = h.run_checks()
    assert out["checks"]["session"]["healthy"] is True
    assert out["checks"]["executors"]["healthy"] is True
    assert out["checks"]["boom"]["healthy"] is False
    assert "error" in out["checks"]["boom"]
    assert out["healthy"] is False
    assert c.get_aggregated_metrics("health_session", "1m")["latest"] == 1.0
    assert c.get_aggregated_metrics("health_boom", "1m")["latest"] == 0.0


def test_spark_query_monitor_captures_shuffle(spark):
    c = MetricsCollector()
    mon = SparkQueryMonitor(spark, c)
    df = (
        spark.range(200_000)
        .select((F.col("id") % 997).alias("k"), F.col("id").alias("v"))
        .groupBy("k").agg(F.sum("v").alias("s"))
    )
    with mon.measure("shuffle_probe", {"suite": "test"}):
        assert df.count() == 997
    wall = c.get_aggregated_metrics(
        "spark_query_shuffle_probe_wall_seconds", "1m"
    )
    assert wall["count"] == 1 and wall["latest"] > 0
    shuffle = c.get_aggregated_metrics(
        "spark_query_shuffle_probe_shuffle_write_bytes", "1m"
    )
    tasks = c.get_aggregated_metrics(
        "spark_query_shuffle_probe_num_tasks", "1m"
    )
    jobs = c.get_aggregated_metrics(
        "spark_query_shuffle_probe_num_jobs", "1m"
    )
    assert shuffle["latest"] > 0          # the groupBy really shuffled
    assert tasks["latest"] > 0
    assert jobs["latest"] >= 1
    # the measured metrics feed alerting like any other series
    am = AlertManager(c)
    am.add_rule(ThresholdRule(
        "slow_query", "spark_query_shuffle_probe_wall_seconds",
        threshold=0.0, operator="gt", stat="latest", window="1m",
    ))
    assert len(am.check_alerts()) == 1


def test_monitor_scopes_to_its_own_group(spark):
    """metrics from OUTSIDE the measured block must not leak in."""
    c = MetricsCollector()
    mon = SparkQueryMonitor(spark, c)
    # unmeasured warm-up shuffle
    spark.range(50_000).select((F.col("id") % 7).alias("k")) \
        .groupBy("k").count().collect()
    with mon.measure("narrow_probe"):
        # collect of a range: a genuinely shuffle-free job (count()
        # would exchange its per-partition partial counts)
        assert len(spark.range(1_000).collect()) == 1_000
    shuffle = c.get_aggregated_metrics(
        "spark_query_narrow_probe_shuffle_write_bytes", "1m"
    )
    assert shuffle["latest"] == 0.0
    jobs = c.get_aggregated_metrics(
        "spark_query_narrow_probe_num_jobs", "1m"
    )
    assert jobs["latest"] >= 1


def test_structured_logger_json_lines_and_context():
    import io
    import logging as pylogging

    from data_pipeline_framework_spark.observability import StructuredLogger

    buf = io.StringIO()
    log = StructuredLogger("t.structured", stream=buf,
                           level=pylogging.DEBUG)
    log.set_context(pipeline="nightly", run_id="r1")
    log.info("hello", rows=5)
    log.log_pipeline_start("nightly", {"processing": {"operations": [
        {"type": "filter"}, {"type": "aggregate"}]}})
    log.log_data_quality_check("orders", "null_rate", 0.2, passed=False)
    log.log_transformation("dedup", 100, 90)
    with log.timed("load", table="orders"):
        pass
    log.clear_context()
    log.error("boom")
    lines = [json.loads(line) for line in
             buf.getvalue().strip().splitlines()]
    assert all("ts" in d and "level" in d for d in lines)
    hello = lines[0]
    assert hello["message"] == "hello" and hello["rows"] == 5
    assert hello["pipeline"] == "nightly" and hello["run_id"] == "r1"
    start = lines[1]
    assert start["event"] == "pipeline_start" and start["operations"] == 2
    qc = lines[2]
    assert qc["level"] == "warning" and qc["passed"] is False
    tr = lines[3]
    assert (tr["input_records"], tr["output_records"]) == (100, 90)
    perf = lines[4]
    assert perf["event"] == "performance" and perf["table"] == "orders"
    assert perf["duration_seconds"] >= 0
    err = lines[5]
    assert err["level"] == "error" and "pipeline" not in err  # cleared


def _groupby(spark):
    return (
        spark.range(100_000)
        .select((F.col("id") % 101).alias("k"), F.col("id").alias("v"))
        .groupBy("k").agg(F.sum("v").alias("s"))
    )


def test_monitor_reads_status_store_without_http(spark, monkeypatch):
    """the monitor reads the driver's status store in-process: with
    every HTTP request failing it still sees the groupBy's shuffle."""
    import urllib.request

    calls = {"n": 0}

    def _boom(*a, **k):
        calls["n"] += 1
        raise ConnectionResetError(104, "Connection reset by peer")

    monkeypatch.setattr(urllib.request, "urlopen", _boom)
    c = MetricsCollector()
    with SparkQueryMonitor(spark, c).measure("offline_probe"):
        assert _groupby(spark).count() == 101
    shuffle = c.get_aggregated_metrics(
        "spark_query_offline_probe_shuffle_write_bytes", "1m"
    )
    assert shuffle["latest"] > 0
    assert calls["n"] == 0


def test_measure_restores_outer_job_group(spark):
    """a measurement inside the caller's own job group must hand that
    group back, not clear it for everything the caller runs next."""
    sc = spark.sparkContext
    sc.setJobGroup("outer_group", "caller's group")
    try:
        with SparkQueryMonitor(spark, MetricsCollector()).measure(
                "inner_probe") as rec:
            spark.range(10).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer_group"
        assert sc.getLocalProperty("spark.job.description") == \
            "caller's group"
        spark.range(10).collect()
        outer_jobs = sc.statusTracker().getJobIdsForGroup("outer_group")
        assert len(outer_jobs) == 1
        assert not set(outer_jobs) & {j for j, _, _ in rec.jobs}
    finally:
        sc.setJobGroup(None, None)


def test_measure_record_matches_collector(spark):
    """the returned record carries ordered job times and the same
    stage totals the collector gauges hold."""
    c = MetricsCollector()
    with SparkQueryMonitor(spark, c).measure("record_probe") as rec:
        _groupby(spark).collect()
    assert rec.name == "record_probe" and rec.wall_s > 0
    assert rec.jobs
    starts = [s for _, s, _ in rec.jobs]
    assert starts == sorted(starts)
    for _, start, end in rec.jobs:
        assert end is not None and start <= end
    # jobs run inside the scope's wall clock (epoch ms resolution)
    assert max(e for *_, e in rec.jobs) - starts[0] <= rec.wall_s + 0.002
    assert rec.totals["shuffle_write_bytes"] > 0
    assert rec.totals["num_stages"] >= 2
    for suffix, v in rec.totals.items():
        g = c.get_aggregated_metrics(f"spark_query_record_probe_{suffix}",
                                     "1m")
        assert g["latest"] == float(v), suffix
    assert c.get_aggregated_metrics(
        "spark_query_record_probe_num_jobs", "1m"
    )["latest"] == float(len(rec.jobs))
    assert c.get_aggregated_metrics(
        "spark_query_record_probe_wall_seconds", "1m"
    )["latest"] == rec.wall_s
