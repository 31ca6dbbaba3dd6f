"""SparkSession factory tuned for large-scale analytics.

Defaults chosen for the 100 TB design point (AQE on so shuffle partition
counts and join strategies re-plan at runtime; skew-join handling on;
Arrow for any pandas-UDF exchange) while remaining correct on local[*].

This module is the one owner of the engine's confs. `RUNTIME_CONF` holds
the runtime-settable ones that query results depend on; `get_spark` passes
them to the builder with the rest, and `pin_runtime_conf` re-applies them
to a session built elsewhere (an external harness's vanilla session).

Heap: on local masters the driver JVM runs every executor thread, so
`spark.driver.memory` defaults to half the host's physical memory, in MiB,
capped at 24g (`local_driver_memory`). `extra_conf` overrides it.

Reference parity: the reference sets AQE/Arrow/coalescePartitions in its
YAML spark_config (reference config/pipelines/s3_json_pipeline.yaml and the
generated template in cli/main.py:908-911); here they are engine defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Runtime-settable confs query results depend on. A session someone else
# built may lack them, so callers that accept any session re-apply them
# (`pin_runtime_conf`; sources.readers for NANOS_AS_LONG).
RUNTIME_CONF: dict[str, str] = {
    # ANSI off: the reference's DSL has permissive casts (e.g. fill/convert
    # on dirty strings); try_* functions are used where div-by-zero etc.
    # must be NULL.
    "spark.sql.ansi.enabled": "false",
    # Deterministic timestamp semantics for oracle comparison (DuckDB is
    # UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Read TIMESTAMP(NANOS) parquet columns as nanosecond longs instead of
    # erroring; sources.readers.read_parquet converts them to timestamps.
    NANOS_AS_LONG: "true",
    # Arrow makes pandas_udf / applyInPandas exchange columnar batches.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Engine defaults. Every one of these is overridable via `extra_conf`.
_DEFAULT_CONF: dict[str, str] = {
    **RUNTIME_CONF,
    # Adaptive execution: runtime re-plan of shuffle partition counts,
    # broadcast-join demotion/promotion, and skew-join splitting. At 100 TB
    # this is what keeps a static shuffle.partitions guess from being fatal.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet scans: 128m is the classic cluster default; local masters
    # override this below so a single small file still fans out across
    # cores (a 20 MB sf0.1 table would otherwise run every scan, and every
    # CPU-bound expression over it, in ONE task).
    "spark.sql.files.maxPartitionBytes": "134217728",
    # PySpark-side call-site capture costs ~8 py4j round trips PER
    # DataFrame/Column/functions call (getActiveSession + conf.get +
    # PySparkCurrentOrigin.set/clear and their reflection lookups) plus a
    # Python stack walk, all to enrich error messages with the user's
    # call site. Hundreds of calls build each plan, so this is ~0.2 s of
    # pure driver latency per query (guide §4: the JVM boundary). The
    # documented conf below disables only that enrichment; plans and
    # results are identical. See performance/driver_boundary.py.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # InferFiltersFromGenerate rewrites `explode(expr)` into
    # `Filter(size(expr) > 0) -> Generate(explode(expr))`, SUBSTITUTING the
    # generator input into the filter. For a stored array column that skips
    # empty rows cheaply; for the COMPUTED arrays on every curation hot
    # path here (tokenize->shingle->hash chains, winnowing fingerprints,
    # chunk windows) it re-evaluates the whole pipeline per row — and the
    # inferred filter lands BELOW the parallelism-spreading exchange, so
    # the duplicate pass also runs on the narrow pre-repartition scan
    # (measured: source_overlap 15s -> 4s at sf0.1; winnowing previously
    # needed a per-site explode_outer workaround for the same rule). The
    # empty-array skip is worthless to us (size()>0 never reaches parquet
    # stats), so drop the rule engine-wide.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def local_driver_memory() -> str:
    """Driver heap for a local master: half of physical memory, in MiB,
    capped at 24g. Leaves the other half to the JVM's off-heap memory,
    the Python workers and the OS page cache."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys // 2 // 2**20, 24 * 1024)}m"


def pin_runtime_conf(spark: SparkSession) -> None:
    """Set `RUNTIME_CONF` on an existing session, e.g. one built without
    `get_spark`. Applied on every call: a caller may have changed a conf
    since the last one, and each set is one cheap py4j round trip."""
    for k, v in RUNTIME_CONF.items():
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "data-pipeline-framework-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    `master` defaults to local[N] where N = SPARK_GRAFT_CPUS or all cores —
    on a real cluster, leave master unset and submit via spark-submit.
    `shuffle_partitions` defaults to the local core count (AQE coalesces
    down from there); set it to ~2-3x total executor cores on a cluster.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    builder = SparkSession.builder.appName(app_name).master(master)

    conf = dict(_DEFAULT_CONF)
    if master.startswith("local"):
        # local[N] packs driver + N executor threads into ONE JVM; the 1g
        # default heap GC-thrashes once a few persisted intermediates
        # accumulate. Only effective before the JVM starts (fresh process).
        conf["spark.driver.memory"] = local_driver_memory()
        # small-input parallelism: split files at 4 MB (and open cheaply)
        # so local benchmarking exercises the same parallel plans a
        # cluster would; harmless for large inputs (more, smaller tasks —
        # AQE coalesces downstream shuffles).
        conf["spark.sql.files.maxPartitionBytes"] = str(4 * 1024 * 1024)
        conf["spark.sql.files.openCostInBytes"] = str(256 * 1024)
    if shuffle_partitions is None:
        # Local heuristic: one shuffle partition per core keeps small-SF
        # stage overhead low; AQE still merges tiny partitions.
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8
        shuffle_partitions = int(cpus)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)

    # Cache (SparkContext, name) -> JVM function handle: pyspark re-does
    # two py4j reflection round trips on EVERY functions.* call otherwise
    # (guide §4). Installed here so every engine session benefits.
    from .performance.driver_boundary import install_jvm_function_cache

    install_jvm_function_cache()

    return builder.getOrCreate()
