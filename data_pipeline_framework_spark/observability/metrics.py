"""Operational metrics, alerts, and health checks — Spark-native.

Mirrors the reference's observability stack
(observability/metrics.py:75-533: MetricsCollector with
counter/gauge/histogram + timer, windowed aggregation, JSON/Prometheus
export, AlertManager with ThresholdRule, HealthChecker) but replaces
its psutil system monitor with the thing that actually matters on a
cluster: PER-QUERY Spark executor metrics. ``SparkQueryMonitor``
scopes an action under a job group and reads the stages' shuffle
read/write bytes, input bytes, spill, task counts, and executor run
time from the driver's in-process status store — the numbers that
tell you a query started shuffling 100x more than yesterday, which no
driver-side psutil gauge can see.

Everything here is driver-side bookkeeping (bounded dict state, no
Spark jobs of its own); the collector can be drained into any external
sink via ``export_metrics``.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from enum import Enum


class MetricType(Enum):
    COUNTER = "counter"
    GAUGE = "gauge"
    HISTOGRAM = "histogram"


class AlertLevel(Enum):
    INFO = "info"
    WARNING = "warning"
    CRITICAL = "critical"


@dataclass
class Metric:
    name: str
    value: float
    metric_type: MetricType
    tags: dict = field(default_factory=dict)
    timestamp: float = field(default_factory=time.time)

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "value": self.value,
            "type": self.metric_type.value,
            "tags": dict(self.tags),
            "timestamp": self.timestamp,
        }


@dataclass
class Alert:
    name: str
    level: AlertLevel
    message: str
    metric_name: str
    value: float
    timestamp: float = field(default_factory=time.time)

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "level": self.level.value,
            "message": self.message,
            "metric_name": self.metric_name,
            "value": self.value,
            "timestamp": self.timestamp,
        }


_WINDOWS = {"1m": 60.0, "5m": 300.0, "15m": 900.0, "1h": 3600.0,
            "24h": 86400.0}


def _window_seconds(window: str) -> float:
    if window in _WINDOWS:
        return _WINDOWS[window]
    raise ValueError(f"unknown window {window!r} (use {sorted(_WINDOWS)})")


class MetricsCollector:
    """Thread-safe in-process metric store with time-window retention
    (reference MetricsCollector, observability/metrics.py:75-221)."""

    def __init__(self, retention_hours: float = 24.0):
        self._metrics: dict[str, list[Metric]] = {}
        self._lock = threading.Lock()
        self._retention = retention_hours * 3600.0

    def record_counter(self, name: str, value: float = 1.0,
                       tags: dict | None = None) -> None:
        self._add(Metric(name, float(value), MetricType.COUNTER, tags or {}))

    def record_gauge(self, name: str, value: float,
                     tags: dict | None = None) -> None:
        self._add(Metric(name, float(value), MetricType.GAUGE, tags or {}))

    def record_histogram(self, name: str, value: float,
                         tags: dict | None = None) -> None:
        self._add(Metric(name, float(value), MetricType.HISTOGRAM,
                         tags or {}))

    def timer(self, name: str, tags: dict | None = None) -> "TimerContext":
        return TimerContext(self, name, tags or {})

    def _add(self, metric: Metric) -> None:
        with self._lock:
            series = self._metrics.setdefault(metric.name, [])
            series.append(metric)
            cutoff = time.time() - self._retention
            if series and series[0].timestamp < cutoff:
                self._metrics[metric.name] = [
                    m for m in series if m.timestamp >= cutoff
                ]

    def metric_names(self) -> list[str]:
        with self._lock:
            return list(self._metrics)

    def get_metrics(self, name: str, window: str = "1h") -> list[Metric]:
        cutoff = time.time() - _window_seconds(window)
        with self._lock:
            return [m for m in self._metrics.get(name, [])
                    if m.timestamp >= cutoff]

    def get_aggregated_metrics(self, name: str,
                               window: str = "1h") -> dict:
        ms = self.get_metrics(name, window)
        if not ms:
            return {}
        vals = sorted(m.value for m in ms)
        n = len(vals)

        def pct(p: float) -> float:
            return vals[min(n - 1, int(p * n))]

        return {
            "count": n,
            "sum": sum(vals),
            "min": vals[0],
            "max": vals[-1],
            "avg": sum(vals) / n,
            "latest": ms[-1].value,
            "p50": pct(0.50),
            "p95": pct(0.95),
            "p99": pct(0.99),
        }

    def export_metrics(self, format_type: str = "json") -> str:
        with self._lock:
            flat = [m.to_dict() for series in self._metrics.values()
                    for m in series]
        if format_type == "json":
            return json.dumps(flat, sort_keys=True)
        if format_type == "prometheus":
            return self._prometheus(flat)
        raise ValueError(f"unknown export format {format_type!r}")

    @staticmethod
    def _prometheus(flat: list[dict]) -> str:
        lines = []
        for m in flat:
            name = m["name"].replace(".", "_").replace("-", "_")
            if m["tags"]:
                tags = ",".join(
                    f'{k}="{v}"' for k, v in sorted(m["tags"].items())
                )
                lines.append(f"{name}{{{tags}}} {m['value']}")
            else:
                lines.append(f"{name} {m['value']}")
        return "\n".join(lines)


class TimerContext:
    """``with collector.timer("load"):`` records elapsed seconds as a
    histogram (reference TimerContext, observability/metrics.py:223)."""

    def __init__(self, collector: MetricsCollector, name: str, tags: dict):
        self._c, self._name, self._tags = collector, name, tags
        self._t0 = 0.0

    def __enter__(self):
        self._t0 = time.time()
        return self

    def __exit__(self, *exc):
        self._c.record_histogram(
            self._name, time.time() - self._t0, self._tags
        )
        return False


class ThresholdRule:
    """Fire when an aggregated stat crosses a threshold (reference
    ThresholdRule, observability/metrics.py:317-356)."""

    _OPS: dict[str, Callable[[float, float], bool]] = {
        "gt": lambda v, t: v > t,
        "gte": lambda v, t: v >= t,
        "lt": lambda v, t: v < t,
        "lte": lambda v, t: v <= t,
    }

    def __init__(self, name: str, metric_name: str, threshold: float,
                 operator: str = "gt", stat: str = "latest",
                 window: str = "1h",
                 level: AlertLevel = AlertLevel.WARNING):
        if operator not in self._OPS:
            raise ValueError(f"operator must be one of {sorted(self._OPS)}")
        self.name = name
        self.metric_name = metric_name
        self.threshold = float(threshold)
        self.operator = operator
        self.stat = stat
        self.window = window
        self.level = level

    def evaluate(self, collector: MetricsCollector) -> Alert | None:
        agg = collector.get_aggregated_metrics(self.metric_name, self.window)
        if not agg or self.stat not in agg:
            return None
        v = agg[self.stat]
        if self._OPS[self.operator](v, self.threshold):
            return Alert(
                name=self.name,
                level=self.level,
                message=(
                    f"{self.metric_name} {self.stat}={v} "
                    f"{self.operator} {self.threshold}"
                ),
                metric_name=self.metric_name,
                value=v,
            )
        return None


class AlertManager:
    """Evaluate rules, track active alerts and history (reference
    AlertManager, observability/metrics.py:246-302)."""

    def __init__(self, collector: MetricsCollector):
        self._collector = collector
        self._rules: list[ThresholdRule] = []
        self._active: dict[str, Alert] = {}
        self._history: list[Alert] = []

    def add_rule(self, rule: ThresholdRule) -> None:
        self._rules.append(rule)

    def check_alerts(self) -> list[Alert]:
        fired = []
        for rule in self._rules:
            alert = rule.evaluate(self._collector)
            if alert is not None:
                fired.append(alert)
                self._active[rule.name] = alert
                self._history.append(alert)
            else:
                self._active.pop(rule.name, None)
        return fired

    def get_active_alerts(self) -> list[Alert]:
        return list(self._active.values())

    def get_alert_history(self, hours: float = 24.0) -> list[Alert]:
        cutoff = time.time() - hours * 3600.0
        return [a for a in self._history if a.timestamp >= cutoff]


class HealthChecker:
    """Named boolean checks -> overall status (reference HealthChecker,
    observability/metrics.py:358-416)."""

    def __init__(self, collector: MetricsCollector | None = None):
        self._collector = collector
        self._checks: dict[str, Callable[[], bool]] = {}

    def add_check(self, name: str, check: Callable[[], bool]) -> None:
        self._checks[name] = check

    def run_checks(self) -> dict:
        results: dict[str, dict] = {}
        healthy = True
        for name, check in self._checks.items():
            try:
                ok = bool(check())
                results[name] = {"healthy": ok}
            except Exception as e:  # a crashing check is an unhealthy check
                ok = False
                results[name] = {"healthy": False, "error": str(e)}
            healthy = healthy and ok
            if self._collector is not None:
                self._collector.record_gauge(
                    f"health_{name}", 1.0 if ok else 0.0
                )
        return {"healthy": healthy, "checks": results,
                "timestamp": time.time()}


def spark_session_check(spark) -> Callable[[], bool]:
    """Health check: the SparkContext is alive (not stopped)."""
    def check() -> bool:
        sc = spark.sparkContext
        return sc._jsc is not None and not sc._jsc.sc().isStopped()

    return check


def executor_count_check(spark, min_executors: int = 1) -> Callable[[], bool]:
    """Health check: at least ``min_executors`` executors holding block
    storage (local mode reports the driver itself)."""
    def check() -> bool:
        sc = spark.sparkContext
        n = sc._jsc.sc().getExecutorMemoryStatus().size()
        return n >= min_executors

    return check


# stage metrics surfaced per measured query: status-store field -> suffix
_STAGE_FIELDS = {
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spilled_bytes",
    "diskBytesSpilled": "disk_spilled_bytes",
    "executorRunTime": "executor_run_time_ms",
    "numTasks": "num_tasks",
}

# the local properties setJobGroup writes; a measure scope puts them back
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@dataclass
class QueryRecord:
    """What one ``measure`` scope ran: wall seconds, its Spark jobs as
    (job id, submitted, completed) in epoch seconds, and ``totals`` —
    each ``_STAGE_FIELDS`` suffix summed over the stages those jobs
    ran, plus ``num_stages``. Skipped stages (shuffle output reused)
    did no work and are left out."""

    name: str
    wall_s: float = 0.0
    jobs: list[tuple[int, float, float | None]] = field(default_factory=list)
    totals: dict[str, int] = field(default_factory=dict)


class SparkQueryMonitor:
    """Per-query Spark execution metrics, the cluster-native replacement
    for the reference's psutil PerformanceMonitor
    (observability/metrics.py:419-491 — CPU/memory gauges of one box
    tell you nothing about a 1000-executor shuffle).

    ``with monitor.measure("daily_dedup") as rec: df.write...`` runs
    the block under a unique job group, then reads that group's jobs
    and stages from the driver's in-process status store and fills
    ``rec`` (a ``QueryRecord``). With a collector it also records, per
    query name: wall seconds, input/output bytes, shuffle read/write
    bytes, memory/disk spill, executor run time, task, job and stage
    counts. Repeated measurements build the time series ThresholdRule
    alerts on — "shuffle_write_bytes latest > 10x its 24h avg" is the
    drift that matters at 100 TB.

    The read is a few py4j calls per stage against driver-held state:
    no Spark jobs, no executor traffic, and no Spark UI needed. The
    caller's own job group is restored when the scope ends.
    """

    def __init__(self, spark, collector: MetricsCollector | None = None):
        self._spark = spark
        self._collector = collector

    @contextmanager
    def measure(self, name: str, tags: dict | None = None):
        sc = self._spark.sparkContext
        outer = [(k, sc.getLocalProperty(k)) for k in _GROUP_PROPS]
        group = f"obs_{name}_{uuid.uuid4().hex[:8]}"
        rec = QueryRecord(name)
        sc.setJobGroup(group, f"observed query {name}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec.wall_s = time.perf_counter() - t0
            for k, v in outer:
                sc.setLocalProperty(k, v)
            self._read_group(group, rec)
            if self._collector is not None:
                self._record(rec, tags or {})

    def _read_group(self, group: str, rec: QueryRecord) -> None:
        from py4j.protocol import Py4JJavaError

        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        # job/stage end events reach the status store through the async
        # listener bus; drain it so the group's last stage is counted
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), sc.statusTracker()
        totals = dict.fromkeys(_STAGE_FIELDS.values(), 0)
        stage_ids: set[int] = set()
        for jid in sorted(tracker.getJobIdsForGroup(group)):
            job = store.job(jid)
            end = job.completionTime()
            rec.jobs.append((
                jid,
                job.submissionTime().get().getTime() / 1000,
                end.get().getTime() / 1000 if end.isDefined() else None,
            ))
            stage_ids.update(tracker.getJobInfo(jid).stageIds)
        ran = 0
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:
                # gone from the store: past spark.ui.retainedStages the
                # stages with no completion time, the skipped ones, are
                # evicted first
                continue
            if st.status().toString() == "SKIPPED":
                continue
            ran += 1
            for f, suffix in _STAGE_FIELDS.items():
                totals[suffix] += int(getattr(st, f)())
        rec.totals = totals | {"num_stages": ran}

    def _record(self, rec: QueryRecord, tags: dict) -> None:
        c, prefix = self._collector, f"spark_query_{rec.name}"
        c.record_histogram(f"{prefix}_wall_seconds", rec.wall_s, tags)
        for suffix, v in rec.totals.items():
            c.record_gauge(f"{prefix}_{suffix}", float(v), tags)
        c.record_gauge(f"{prefix}_num_jobs", float(len(rec.jobs)), tags)


# -- process-wide singletons (reference observability/metrics.py:495-528) ----

_metrics_collector: MetricsCollector | None = None
_alert_manager: AlertManager | None = None
_health_checker: HealthChecker | None = None


def get_metrics_collector() -> MetricsCollector:
    """Global collector, created on first use (reference :518-521)."""
    global _metrics_collector
    if _metrics_collector is None:
        _metrics_collector = MetricsCollector()
    return _metrics_collector


def get_alert_manager() -> AlertManager:
    """Global alert manager over the global collector, pre-loaded with
    the reference's default rules (reference :495-515, :523-526)."""
    global _alert_manager
    if _alert_manager is None:
        _alert_manager = AlertManager(get_metrics_collector())
        _alert_manager.add_rule(ThresholdRule(
            name="high_error_rate", metric_name="pipeline_errors_total",
            threshold=10.0, operator="gt", level=AlertLevel.WARNING,
        ))
        _alert_manager.add_rule(ThresholdRule(
            name="high_memory_usage",
            metric_name="system_memory_usage_percent",
            threshold=85.0, operator="gt", level=AlertLevel.CRITICAL,
        ))
    return _alert_manager


def get_health_checker() -> HealthChecker:
    """Global health checker (reference :528-531). Ships one built-in
    check — the collector answers — so `run_checks` is never vacuously
    healthy; callers add spark_session_check etc. for a live session."""
    global _health_checker
    if _health_checker is None:
        _health_checker = HealthChecker(get_metrics_collector())
        _health_checker.add_check(
            "metrics_collector",
            lambda: get_metrics_collector().export_metrics("json") is not None,
        )
    return _health_checker
