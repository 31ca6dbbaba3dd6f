"""Repository benchmark: end-to-end and per-layer metrics of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload core_sf1 --seed 1 --seconds 15 --trace 0

Workloads (`workloads.py`): `core_sf1` (TPC-H-shaped queries on a 10x copy
of sf0.1 that `tools/make_scale_data.py` builds into `perfbench/.cache`)
and `pipelines_sf0.1` (shipped YAML pipelines through `Pipeline.run`).
Inputs are the fixed seed-42 tables of TESTDATA.md (the sf0.1 directory
`tools/make_scale_data.py` reads); `--seed` fixes only the order in which
each pass visits the items.

The load is a closed loop on one driver thread against `local[4]`: one item
runs to completion before the next starts. Set-up is `get_spark` on a fresh
JVM plus the first item, cold; the rest of the cold pass over the items in
listed order and the workload's untimed warm-up passes follow. Then come the
timed passes in seeded order, as many as `--seconds` holds at the workload's
nominal pass time, so every run of a workload aggregates the same number of
passes unless a busy host makes it reach DEADLINE_S first. Timings are
medians per item over those passes, each sample with
the share of CPU time the hypervisor stole during it taken out (see
`Sample.latency`).

`--trace 0` prints the end-to-end metrics; `--trace 1` prints the per-layer
metrics (`layers.json` says what each measures and what it should move).
A traced run has the Spark event log on from the start and runs pairs of
passes, one plain and one under the wrappers of `spans.py`, alternating
which goes first; `trace.overhead_frac` compares the two kinds of pass.

Outputs are checked on every item (see `workloads.py`). Progress and
failures go to stderr; the last stdout line is one JSON object with
`correct`, `attempted`, `failed` and `metrics`.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
CACHE = ROOT / "perfbench" / ".cache"
CORES = 4
# get_spark's 24g default does not fit a 15 GiB host; the sessions here
# commit and touch all of this heap at start (see start_session).
HEAP = "1g"
TAIL_PCT = 75  # latency_tail_s percentile
# Past this many seconds of a run no further timed pass starts, so that a
# run on a much slower host still ends in time.
DEADLINE_S = 70.0

sys.path.insert(0, str(Path(__file__).resolve().parent))
from spans import Tracer, install, layer_metrics, read_event_log, uninstall  # noqa: E402
from workloads import WORKLOADS, Workload, reference  # noqa: E402
import workloads  # noqa: E402


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- set-up

def prepare_inputs(wl: Workload) -> str:
    from tools.make_scale_data import SRC

    sf01 = Path(SRC)
    if not (sf01 / "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: input tables not found under {sf01}")
    if wl.scale == "sf0.1":
        return str(sf01)
    out = CACHE / "sf1"
    if not (out / "_built").exists():
        tmp = CACHE / f"sf1.tmp{os.getpid()}"
        log(f"building sf1 inputs into {out}")
        subprocess.run(
            [sys.executable, str(ROOT / "tools" / "make_scale_data.py"),
             str(tmp), "10"],
            check=True, stdout=sys.stderr,
        )
        (tmp / "_built").touch()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    return str(out)


def fingerprint(wl: Workload, sf_dir: str) -> str:
    """Identifies the code and inputs a stored reference was made from."""
    h = hashlib.sha1(f"{wl}|{sf_dir}".encode())
    files = sorted((ROOT / "data_pipeline_framework_spark").rglob("*.py"))
    files += sorted((ROOT / "examples").glob("*.yaml"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    files += [ROOT / "__spark_entry__.py", ROOT / "bench.py",
              ROOT / "tools" / "check.py", ROOT / "tools" / "make_scale_data.py"]
    for f in files:
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def start_session(events: Path | None = None):
    from data_pipeline_framework_spark import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.ui.retainedExecutions": "8",
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.local.dir": str(CACHE / "spark-local"),
        # keep the JVM's temporary files inside the checkout; commit and
        # touch the whole heap at start, so the JVM's peak RSS does not
        # depend on when the collector happens to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={CACHE / 'tmp'} -XX:-UsePerfData "
            f"-Xms{HEAP} -XX:+AlwaysPreTouch",
    }
    if events is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{CORES}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for gateway pid {pid}")


# -------------------------------------------------------------------- items

def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy) jiffies of all CPUs so far, from /proc/stat. Stolen
    is time the hypervisor ran something else while a CPU had work."""
    cpu = Path("/proc/stat").read_text().split("\n", 1)[0]
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        int(t) for t in cpu.split()[1:9])
    return steal, user + nice + system + irq + softirq


def stolen_share(ticks0: tuple[int, int]) -> float:
    """Share of the CPU time this machine's busy CPUs asked for since
    `ticks0` that the hypervisor gave to others."""
    steal1, busy1 = cpu_ticks()
    steal, busy = steal1 - ticks0[0], busy1 - ticks0[1]
    return steal / max(1, steal + busy)


class Sample:
    def __init__(self, name: str, item_id: str):
        self.name, self.item_id = name, item_id
        self.seconds = 0.0
        self.stolen = 0.0  # see stolen_share
        self.digest: str | None = None
        self.error: str | None = None

    @property
    def latency(self) -> float:
        """Seconds, less the share the hypervisor stole. The host runs
        other machines on the same cores; a stolen share of the CPU time
        the item wanted stretches its wall time by about as much."""
        return self.seconds * (1.0 - self.stolen)


def run_item(spark, name: str, item_id: str, sf_dir: str,
             tracer: Tracer) -> Sample:
    """One closed-loop item: timed build+action, then the untimed
    bookkeeping and output digest."""
    s = Sample(name, item_id)
    tracer.begin(item_id)
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    try:
        with tracer.span("item"):
            if workloads.is_pipeline(name):
                finish = workloads.run_pipeline(
                    spark, name, sf_dir, CACHE / f"out-{os.getpid()}", tracer)
            else:
                finish = workloads.run_query(spark, name, sf_dir, tracer)
        s.seconds = time.perf_counter() - t0
        s.stolen = stolen_share(ticks0)
        tracer.end_item(spark)
        tracer.begin(f"check:{item_id}")
        s.digest = finish()
    except Exception as e:  # counted as a failed item; the run goes on
        s.seconds = s.seconds or time.perf_counter() - t0
        s.error = f"{type(e).__name__}: {str(e).strip().splitlines()[0][:300]}"
    if not workloads.is_pipeline(name):  # as bench.py; pipelines never clear
        spark.catalog.clearCache()
    log(f"{item_id} {s.seconds:.3f}s stolen {s.stolen:.3f}"
        f"{' FAILED' if s.error else ''}")
    return s


def run_pass(spark, wl: Workload, sf_dir: str, rng: random.Random,
             tracer: Tracer, prefix: str) -> list[Sample]:
    """One pass over all items in seeded order."""
    order = rng.sample(wl.items, len(wl.items))
    samples = [run_item(spark, name, f"{prefix}:{i}:{name}", sf_dir, tracer)
               for i, name in enumerate(order)]
    log(f"pass {prefix}: {sum(s.seconds for s in samples):.2f}s")
    return samples


def measure(n: int, deadline: float, one_round):
    """Call `one_round(k)` n times, or until the deadline has passed. The
    count depends on nothing measured, so every run of a workload that
    ends in time aggregates the same number of passes."""
    rounds = []
    for k in range(max(1, n)):
        if rounds and time.perf_counter() > deadline:
            log(f"deadline: {len(rounds)} of {n} timed rounds")
            break
        rounds.append(one_round(k))
    return rounds


def run_control(spark, item_id: str, tracer: Tracer) -> Sample:
    """q1_pricing_summary at sf0.1: a fixed probe of the box's speed."""
    from tools.make_scale_data import SRC

    return run_item(spark, "q1_pricing_summary", item_id, SRC, tracer)


def item_medians(passes: list[list[Sample]]) -> list[float]:
    """Each item's median latency over the passes."""
    by_item: dict[str, list[float]] = {}
    for p in passes:
        for s in p:
            by_item.setdefault(s.name, []).append(s.latency)
    return [statistics.median(v) for v in by_item.values()]


def pass_wall(passes: list[list[Sample]]) -> float:
    """One pass, as the sum over the items of each one's median latency:
    a slow spell that hits one item of a pass does not move it."""
    return sum(item_medians(passes))


# -------------------------------------------------------------- correctness

def check(spark, wl: Workload, sf_dir: str, samples: list[Sample]) -> int:
    """Compare every sample with the checkout's reference; returns the
    number of failed samples and reports each on stderr."""
    path = CACHE / f"reference-{wl.name}-{fingerprint(wl, sf_dir)}.json"
    if path.exists():
        ref = json.loads(path.read_text())
    else:
        seen: dict[str, set[str]] = {}
        for s in samples:
            if s.digest is not None:
                seen.setdefault(s.name, set()).add(s.digest)
        digests = {n: sorted(d)[0] for n, d in seen.items() if len(d) == 1}
        log(f"building the {wl.name} reference (oracle comparison)")
        ref = reference(spark, wl, sf_dir, digests)
        for n, d in seen.items():
            if len(d) > 1:
                ref[n]["problems"].append(f"output differs between passes: {sorted(d)}")
        if all(n in digests for n in wl.items):  # else retry in the next run
            tmp = path.with_suffix(f".tmp{os.getpid()}")
            tmp.write_text(json.dumps(ref, indent=1, sort_keys=True))
            os.replace(tmp, path)
    failed = 0
    for s in samples:
        r = ref.get(s.name, {})
        why = s.error or "; ".join(r.get("problems", ["no reference"]))
        if not why and s.digest != r.get("digest"):
            why = f"digest {s.digest} != reference {r.get('digest')}"
        if why:
            failed += 1
            log(f"FAILED {s.item_id}: {why}")
    return failed


# --------------------------------------------------------------------- main

def percentile(values: list[float], pct: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    for need in ("data_pipeline_framework_spark", "__spark_entry__.py",
                 "bench.py", "tools/check.py", "tools/make_scale_data.py"):
        if not (ROOT / need).exists():
            log(f"missing {need}: run from a checkout of the repository")
            return 2
    sys.path.insert(0, str(ROOT))
    workloads.check_items(wl)
    CACHE.mkdir(parents=True, exist_ok=True)
    (CACHE / "tmp").mkdir(exist_ok=True)
    # Spark's Python workers import the engine by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["TMPDIR"] = str(CACHE / "tmp")
    sf_dir = prepare_inputs(wl)
    rng = random.Random(args.seed)
    off = Tracer(False)

    events = CACHE / f"events-{os.getpid()}" if args.trace else None
    if events is not None:
        events.mkdir()
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    deadline = t0 + DEADLINE_S
    spark = start_session(events)
    get_spark_s = time.perf_counter() - t0
    # set-up: get_spark and the first item, cold, less the stolen share as
    # for item latencies; the rest of the cold pass visits the other items
    # in listed order
    cold = [run_item(spark, wl.items[0], f"setup:0:{wl.items[0]}", sf_dir, off)]
    setup_s = (get_spark_s + cold[0].seconds) * (1.0 - stolen_share(ticks0))
    cold += [run_item(spark, name, f"setup:{i}:{name}", sf_dir, off)
             for i, name in enumerate(wl.items) if i]
    log(f"setup {setup_s:.2f}s (get_spark {get_spark_s:.2f}s)")
    # untimed passes more: JIT compilation goes on for a few passes
    samples = list(cold)
    for k in range(wl.warm_passes):
        samples += run_pass(spark, wl, sf_dir, rng, off, f"warm{k}")
    n_passes = int(args.seconds // wl.pass_s)
    tracer = Tracer(True)
    try:
        if not args.trace:
            passes = measure(n_passes, deadline, lambda k: run_pass(
                spark, wl, sf_dir, rng, off, f"p{k}"))
            rss_mb = jvm_peak_rss_mb(spark)
        else:
            control = [run_control(spark, "control:start", off)]

            def traced_pass(k):
                undo = install(tracer, spark)
                try:
                    return run_pass(spark, wl, sf_dir, rng, tracer, f"t{k}")
                finally:
                    tracer.begin("untraced")
                    uninstall(undo)

            def pair(k):  # alternate which side goes first
                if k % 2:
                    return run_pass(spark, wl, sf_dir, rng, off, f"p{k}"), traced_pass(k)
                traced = traced_pass(k)
                return run_pass(spark, wl, sf_dir, rng, off, f"p{k}"), traced

            # as many passes in all as a plain run makes
            pairs = measure(n_passes // 2, deadline, pair)
            passes = [p for p, _ in pairs]
            traced = [t for _, t in pairs]
            samples += [s for p in traced for s in p]
            control.append(run_control(spark, "control:end", off))
            tracer.begin("reference")
        samples += [s for p in passes for s in p]
        failed = check(spark, wl, sf_dir, samples)
    finally:
        stop_jvm(spark)  # also flushes and closes the event log

    if args.trace:
        items = {s.item_id for p in traced for s in p}
        metrics = layer_metrics(tracer, items, len(traced),
                                read_event_log(events), CORES)
        shutil.rmtree(events)
        tracer.dump(CACHE / f"spans-{wl.name}-seed{args.seed}.json")
        metrics.update({
            "session.get_spark_s": get_spark_s,
            "session.first_item_s": cold[0].seconds,
            "control.q1_s": statistics.fmean(s.seconds for s in control),
            "trace.overhead_frac": pass_wall(traced) / pass_wall(passes) - 1.0,
        })
        units = {m["name"]: m["unit"] for m in
                 json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    else:
        lat = [s.latency for p in passes for s in p]
        metrics = {
            "setup_s": setup_s,
            "wall_s": pass_wall(passes),
            # the typical item: over the pooled samples the median would
            # flip between the latencies of the two middle items
            "latency_p50_s": statistics.median(item_medians(passes)),
            "latency_tail_s": percentile(lat, TAIL_PCT),
            "jvm_peak_rss_mb": rss_mb,
        }
        units = {"setup_s": "s", "wall_s": "s", "latency_p50_s": "s",
                 "latency_tail_s": "s", "jvm_peak_rss_mb": "MB"}
    attempted = len(samples)
    log(f"{wl.name}: {attempted} items, {failed} failed "
        f"(failed_frac {failed / attempted:.3f}), "
        f"{sum(len(p) for p in passes)} latency samples, "
        f"{statistics.fmean(s.stolen for p in passes for s in p):.3f} "
        f"stolen on average")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
