"""Traced-run instrumentation, installed from outside the engine package.

A `Tracer` keeps spans (name, start, end, parent, item id, phase) in memory
and counts py4j commands, persist calls and driver-collected rows at the same
boundaries. `install` wraps the engine's layer entry points for the length
of a traced run; `layer_metrics` turns the spans plus the Spark event log of
the traced session into the per-layer metrics listed in `layers.json`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import Counter, defaultdict
from pathlib import Path

BUILD, ACTION = "build", "action"

# span name -> phase; the phase picks the job group and the py4j bucket
_PHASE_OF = {
    "build": BUILD,
    "action": ACTION,
    "pipeline.load": BUILD,
    "pipeline.process": BUILD,
    "pipeline.profile": ACTION,
    "pipeline.validate": ACTION,
    "pipeline.write": ACTION,
}
_SELF_TIMED = (
    "plans.compile", "pipeline.load", "pipeline.process",
    "pipeline.profile", "pipeline.validate", "pipeline.write",
)
_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_FILES_WRITTEN = "number of written files"
_MB = 1024 * 1024


class Tracer:
    """Span recorder. Disabled, `span` only yields, so untraced runs pay
    one generator per layer boundary and nothing else."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.item: str | None = None
        self.phase: str | None = None
        self.sc = None
        self.py4j: Counter = Counter()
        self.persist_calls: Counter = Counter()
        self.result_rows: Counter = Counter()
        self.cache_reads: dict[str, tuple[int, float]] = {}
        self.catalyst: dict[str, Counter] = defaultdict(Counter)
        self._qes: list = []
        self._counting = True

    def begin(self, item_id: str) -> None:
        """Attribute what follows (spans, counts, jobs) to `item_id`."""
        self.item = item_id
        if self.enabled:
            self._set_phase(None)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        phase = _PHASE_OF.get(name)
        prev_phase = self.phase
        if phase is not None:
            self._set_phase(phase)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "item": self.item, "phase": self.phase}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if phase is not None:
                self._set_phase(prev_phase)

    def _set_phase(self, phase: str | None) -> None:
        self.phase = phase
        if self.sc is not None and self.item is not None:
            with self.paused():
                self.sc.setJobGroup(f"{self.item}|{phase or 'item'}",
                                    "perfbench", interruptOnCancel=False)

    @contextlib.contextmanager
    def paused(self):
        """Stop counting py4j commands (the tracer's own calls)."""
        prev, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = prev

    def note_qe(self, df) -> None:
        """Remember a DataFrame whose Catalyst phases belong to this item."""
        if self.enabled and self.item is not None:
            self._qes.append((self.item, df))

    def end_item(self, spark) -> None:
        """Untimed bookkeeping after an item: Catalyst phase times of the
        item's query executions and the persisted RDDs it left behind."""
        if not self.enabled or self.item is None:
            return
        with self.paused():
            for item, df in self._qes:
                _add_phases(self.catalyst[item], df)
            self._qes.clear()
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            mem = sum(i.memSize() + i.diskSize() for i in infos)
            self.cache_reads[self.item] = (len(infos), mem / _MB)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


def _add_phases(acc: Counter, df) -> None:
    """Catalyst analysis/optimizer/planning ms of `df`'s QueryExecution.
    For collected frames this is the executed QE. For frames handed to a
    writer, the write command runs its own QE over the same analyzed plan,
    so forcing `executedPlan` here re-runs the same optimizer and planner
    work and times it."""
    try:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
    except Exception:  # a frame whose plan cannot be planned again
        return
    for key, name in (("analysis", "analysis"), ("optimization", "optimizer"),
                      ("planning", "planning")):
        if phases.contains(key):
            acc[name] += phases.apply(key).durationMs()


# ----------------------------------------------------------------- wrappers

def _wrap(owner, attr: str, make, undo: list) -> None:
    orig = getattr(owner, attr)
    setattr(owner, attr, functools.wraps(orig)(make(orig)))
    undo.append((owner, attr, orig))


def install(tracer: Tracer, spark) -> list:
    """Wrap the layer entry points; returns the undo list for `uninstall`."""
    import __spark_entry__
    import data_pipeline_framework_spark as pkg
    import data_pipeline_framework_spark.core.pipeline as core_pipeline
    import data_pipeline_framework_spark.plans as plans
    import data_pipeline_framework_spark.plans.compiler as compiler
    from pyspark.sql.classic.dataframe import DataFrame

    undo: list = []
    tracer.sc = spark.sparkContext

    def spanned(name):
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name):
                    return orig(*a, **kw)
            return wrapper
        return make

    def compile_make(orig):
        def wrapper(*a, **kw):
            with tracer.span("plans.compile"):
                fn = orig(*a, **kw)

            def applied(df):
                with tracer.span("plans.compile"):
                    return fn(df)
            return applied
        return wrapper

    for owner in (compiler, plans, pkg, core_pipeline):
        _wrap(owner, "compile_ops", compile_make, undo)
    for owner in (compiler, plans, pkg, __spark_entry__):
        _wrap(owner, "apply_ops", spanned("plans.compile"), undo)

    Pipeline = core_pipeline.Pipeline
    _wrap(Pipeline, "load", spanned("pipeline.load"), undo)
    _wrap(Pipeline, "process", spanned("pipeline.process"), undo)
    _wrap(Pipeline, "validate", spanned("pipeline.validate"), undo)

    profiled: set[int] = set()

    def profile_make(orig):
        def wrapper(df, *a, **kw):
            with tracer.span("pipeline.profile"):
                out = orig(df, *a, **kw)
            profiled.add(id(out))
            return out
        return wrapper

    def write_make(orig):
        def wrapper(df, *a, **kw):
            with tracer.span("pipeline.write"):
                out = orig(df, *a, **kw)
            tracer.note_qe(df)
            return out
        return wrapper

    _wrap(core_pipeline, "profile_columns", profile_make, undo)
    _wrap(core_pipeline, "write_output", write_make, undo)

    def collect_make(orig):
        def wrapper(self):
            if id(self) in profiled:
                profiled.discard(id(self))
                with tracer.span("pipeline.profile"):
                    rows = orig(self)
            else:
                rows = orig(self)
            if tracer.item is not None:
                tracer.result_rows[tracer.item] += len(rows)
                tracer.note_qe(self)
            return rows
        return wrapper

    _wrap(DataFrame, "collect", collect_make, undo)

    depth = [0]

    def persist_make(orig):
        def wrapper(self, *a, **kw):
            if depth[0] == 0 and tracer.item is not None:
                tracer.persist_calls[tracer.item] += 1
            depth[0] += 1
            try:
                return orig(self, *a, **kw)
            finally:
                depth[0] -= 1
        return wrapper

    for attr in ("persist", "cache", "localCheckpoint"):
        _wrap(DataFrame, attr, persist_make, undo)

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted(*a, **kw):
        if tracer._counting and tracer.item is not None:
            tracer.py4j[(tracer.item, tracer.phase)] += 1
        return send(*a, **kw)

    client.send_command = counted
    undo.append((client, "send_command", None))
    return undo


def uninstall(undo: list) -> None:
    for owner, attr, orig in reversed(undo):
        if orig is None:
            delattr(owner, attr)
        else:
            setattr(owner, attr, orig)


# ---------------------------------------------------------------- event log

def read_event_log(events_dir: Path) -> dict:
    """Jobs, stages and task metrics of the one application logged in
    `events_dir` (the traced session, read after it stopped)."""
    logs = [p for p in events_dir.rglob("*") if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, got {len(logs)}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, float] = {}  # stage id -> seconds
    tasks: list[dict] = []
    metric_names: dict[int, str] = {}
    driver_updates: list[tuple[str, int, float]] = []
    with logs[0].open(encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[jid] = {"start": ev["Submission Time"] / 1000.0,
                             "end": None, "group": group,
                             "execution": (ev.get("Properties") or {})
                             .get("spark.sql.execution.id")}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                stages[info["Stage ID"]] = (info.get("Completion Time", 0)
                                            - info.get("Submission Time", 0)) / 1000.0
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _plan_metrics(ev["sparkPlanInfo"], metric_names)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates += [(str(ev["executionId"]), acc, _num(v))
                                   for acc, v in ev["accumUpdates"]]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                acc = {a.get("Name"): a.get("Update")
                       for a in ev["Task Info"].get("Accumulables", [])}
                sr = m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "scan": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "py_sent": _num(acc.get(_PY_SENT)),
                    "py_received": _num(acc.get(_PY_RECEIVED)),
                })
    # written-file counts are driver-side SQL metrics, posted per execution
    files = defaultdict(float)
    for execution, acc, v in driver_updates:
        if metric_names.get(acc) == _FILES_WRITTEN:
            files[execution] += v
    return {"jobs": jobs, "stage_job": stage_job, "stages": stages,
            "tasks": tasks, "files_written": files}


def _plan_metrics(node: dict, out: dict[int, str]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _plan_metrics(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


# ------------------------------------------------------------------ metrics

def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _job_key(job: dict, spans: list[dict]) -> tuple[str | None, str | None]:
    """(item, phase) of a job: from its job group, else from the phase
    span its submission falls in (jobs submitted from engine threads do
    not inherit the group)."""
    group = job["group"]
    if group and "|" in group:
        item, phase = group.rsplit("|", 1)
        return item, phase
    for s in spans:
        if s["phase"] and s["start"] <= job["start"] <= s["end"]:
            return s["item"], s["phase"]
    return None, None


def layer_metrics(tracer: Tracer, items: set[str], n_passes: int,
                  log: dict, cores: int) -> dict[str, float]:
    """Per-pass layer metrics over the traced items (control and
    reference runs excluded)."""
    spans = [s for s in tracer.spans if s["item"] in items]
    children: dict[int, list[dict]] = defaultdict(list)
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def self_time(s: dict) -> float:
        kids = [(c["start"], c["end"]) for c in children[index[id(s)]]]
        return (s["end"] - s["start"]) - _union(kids)

    self_s: Counter = Counter()
    for s in spans:
        if s["name"] in _SELF_TIMED:
            self_s[s["name"]] += self_time(s)
    top = [s for s in spans if s["name"] in _PHASE_OF
           and (s["parent"] is None
                or tracer.spans[s["parent"]]["name"] == "item")]
    build_s = sum(s["end"] - s["start"] for s in top if s["phase"] == BUILD)
    action_spans = [s for s in top if s["phase"] == ACTION]
    action_s = sum(s["end"] - s["start"] for s in action_spans)

    jobs = {}  # job id -> (item, phase, job)
    for jid, job in log["jobs"].items():
        item, phase = _job_key(job, spans)
        if item in items and job["end"] is not None:
            jobs[jid] = (item, phase, job)
    build_jobs = [j for _, p, j in jobs.values() if p == BUILD]
    action_jobs = [j for _, p, j in jobs.values() if p != BUILD]
    tasks = [t for t in log["tasks"]
             if log["stage_job"].get(t["stage"]) in jobs]
    action_tasks = [t for t in tasks
                    if jobs[log["stage_job"][t["stage"]]][1] != BUILD]

    tail = 0.0
    for s in action_spans:
        covered = [(max(j["start"], s["start"]), min(j["end"], s["end"]))
                   for j in action_jobs
                   if j["start"] < s["end"] and j["end"] > s["start"]]
        tail += (s["end"] - s["start"]) - _union(covered)

    # stage skew: max/median task time of each pass's slowest action stage
    task_s: dict[int, list[float]] = defaultdict(list)
    for t in action_tasks:
        task_s[t["stage"]].append(t["run_s"])
    by_pass: dict[str, list[int]] = defaultdict(list)
    for sid in task_s:
        by_pass[jobs[log["stage_job"][sid]][0].split(":")[0]].append(sid)
    skew = []
    for sids in by_pass.values():
        slow = max(sids, key=lambda sid: log["stages"].get(sid, 0.0))
        med = statistics.median(task_s[slow])
        skew.append(max(task_s[slow]) / med if med > 0 else 1.0)

    run_s = sum(t["run_s"] for t in action_tasks)
    py4j_build = sum(n for (item, phase), n in tracer.py4j.items()
                     if item in items and phase == BUILD)
    reads = [tracer.cache_reads[i] for i in items if i in tracer.cache_reads]
    cat = Counter()
    for i in items:
        cat.update(tracer.catalyst.get(i, {}))
    n = float(n_passes)
    return {
        "build.s": build_s / n,
        "build.py4j_calls": py4j_build / n,
        "build.jobs": len(build_jobs) / n,
        "build.job_s": sum(j["end"] - j["start"] for j in build_jobs) / n,
        "plans.compile_s": self_s["plans.compile"] / n,
        "catalyst.analysis_ms": cat["analysis"] / n,
        "catalyst.optimizer_ms": cat["optimizer"] / n,
        "catalyst.planning_ms": cat["planning"] / n,
        "action.s": action_s / n,
        "action.jobs": len(action_jobs) / n,
        "action.tasks": len(action_tasks) / n,
        "exec.run_s": run_s / n,
        "exec.cpu_s": sum(t["cpu_s"] for t in action_tasks) / n,
        "exec.gc_s": sum(t["gc_s"] for t in action_tasks) / n,
        "exec.core_util": run_s / (action_s * cores) if action_s > 0 else 0.0,
        "exec.stage_skew": statistics.median(skew) if skew else 1.0,
        "sources.scan_mb": sum(t["scan"] for t in tasks) / _MB / n,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / _MB / n,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / _MB / n,
        "exec.spill_mb": sum(t["spill"] for t in tasks) / _MB / n,
        "pyworker.mb_sent": sum(t["py_sent"] for t in tasks) / _MB / n,
        "pyworker.mb_received": sum(t["py_received"] for t in tasks) / _MB / n,
        "driver.tail_s": tail / n,
        "driver.result_rows": sum(tracer.result_rows[i] for i in items) / n,
        "cache.persist_calls": sum(tracer.persist_calls[i] for i in items) / n,
        "cache.rdds_left": statistics.fmean(r[0] for r in reads) if reads else 0.0,
        "cache.mb_left": statistics.fmean(r[1] for r in reads) if reads else 0.0,
        "pipeline.load_s": self_s["pipeline.load"] / n,
        "pipeline.process_s": self_s["pipeline.process"] / n,
        "pipeline.profile_s": self_s["pipeline.profile"] / n,
        "pipeline.validate_s": self_s["pipeline.validate"] / n,
        "pipeline.write_s": self_s["pipeline.write"] / n,
        "sinks.mb_written": sum(t["out"] for t in tasks) / _MB / n,
        "sinks.files_written": sum(
            log["files_written"].get(e, 0.0)
            for e in {j["execution"] for _, _, j in jobs.values()}) / n,
    }
