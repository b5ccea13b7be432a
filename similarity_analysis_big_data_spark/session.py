"""SparkSession factory.

The reference hard-codes master/memory inside the script
(``lab2.py:40-43``); here the session is built once, config-driven, with the
scale-oriented defaults the survey calls for (SURVEY.md §4.2): AQE with
partition coalescing and skew-join handling, Arrow for every
pandas-boundary, UTC session time zone so timestamp semantics match the
DuckDB oracle, and shuffle parallelism sized to the local core count
instead of Spark's default 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized to this machine's cores (SPARK_GRAFT_CPUS overrides); on a real
# cluster these come from spark-submit / cluster config, and callers pass
# master=None to inherit.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)

# numpy madvise(MADV_HUGEPAGE)s every >=4 MB allocation; under this host's
# THP `defrag=madvise` policy each huge-page FIRST-TOUCH fault then runs
# synchronous memory compaction, which on a fragmented host (any recently
# exited JVM) measured ~100-500 us per 4 KB page — a 200 MB numpy copy took
# 27.3 s vs 0.14 s with the madvise disabled (r12 diagnosis; this is the
# page-fault mechanism behind the whole documented "bimodal host stall
# floor": the JVM side was already protected by AlwaysPreTouch, the Python
# workers never were). Disable it for the driver AND every python worker
# (see executorEnv below); numpy reads the env var at import, so this must
# run before any worker imports numpy. Huge-page TLB wins are irrelevant
# at this scale; override by exporting the var explicitly.
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")

# Same pathology, second allocator: pyarrow's default (jemalloc) pool also
# ends up in huge-page-backed mappings on this host, paying the same
# compaction-stall faults on every Arrow batch buffer. The plain system
# allocator measured the flagship's former dense path min 3.09 -> 2.53 s
# and its cold probe run 19.5 -> 11.9 s on the fragmented host (r12). A healthy
# cluster deploy may prefer jemalloc back — override by exporting the var.
os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def get_session(
    app_name: str = "similarity_analysis_big_data_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` inherits whatever the environment provides (cluster
    deploy); tests pass ``local[N]`` explicitly.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g").strip()
    # The value is interpolated into -Xms below, and the two sides parse
    # bare numbers differently: spark.driver.memory treats "2048" as MiB,
    # but the JVM reads -Xms2048 as 2048 BYTES and fails to launch (ADVICE
    # r12). Normalize a bare-number env value to an explicit MiB suffix so
    # both consumers agree.
    if driver_mem.isdigit():
        driver_mem += "m"
    conf = {
        # local mode runs executors inside the driver JVM — the default 1g
        # heap GC-thrashes 32 concurrent tasks. Keep the heap MODEST and
        # pre-touched: empirically on this host, heaps >=8g hit
        # multi-minute allocation stalls (THP/compaction) when a prior JVM
        # recently exited, while 4g+AlwaysPreTouch is stable run-to-run.
        # Cluster deploys override via spark-submit.
        "spark.driver.memory": driver_mem,
        # -Xms == -Xmx: spark-submit only sets -Xmx, so the heap starts
        # small and EXPANDS under load — and with AlwaysPreTouch each
        # expansion pre-touches the newly committed region INSIDE a G1
        # evacuation pause (gc log r12: 992M->1778M->2706M growth steps
        # carrying 2.2 s and 7.3 s single young-gen pauses on a slow-fault
        # host; with the heap pre-sized the worst pause is 50 ms and a
        # 9-query loop's GC total drops ~10 s -> 0.1 s). Pre-sizing pays
        # the whole pre-touch once at JVM startup instead. This is the
        # mechanism behind the documented ">=8g heaps stall" bimodal
        # floor: larger -Xmx meant larger mid-run expansion steps.
        "spark.driver.extraJavaOptions": f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        # AQE: runtime partition coalescing, skew-join splitting, dynamic
        # join-strategy switches — the scale levers SURVEY §4.2 lists.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Match local parallelism; a cluster deploy overrides via extra_conf.
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions if shuffle_partitions is not None else _DEFAULT_CPUS
        ),
        # Arrow for toPandas()/pandas_udf — the only sanctioned Python path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # DuckDB oracle timestamps are UTC-naive; pin the session TZ.
        "spark.sql.session.timeZone": "UTC",
        # PySpark 4's per-call call-site capture (for enriched error
        # messages) costs several py4j round trips on EVERY DataFrame API
        # call — profiled at ~25% of driver-side plan-build time on the
        # flagship query. Plan construction latency matters more than
        # call-site strings in error text for a headless engine.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # Ship the numpy huge-page opt-out (see module top) into every
        # python worker: PythonRunner passes spark.executorEnv.* to the
        # worker daemon in local AND cluster mode.
        "spark.executorEnv.NUMPY_MADVISE_HUGEPAGE": os.environ.get(
            "NUMPY_MADVISE_HUGEPAGE", "0"
        ),
        "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL": os.environ.get(
            "ARROW_DEFAULT_MEMORY_POOL", "system"
        ),
        # Quiet the UI for headless test/bench runs.
        # (No parquet-nanos conf needed: Spark 4.1+ reads the events
        # fixture's TIMESTAMP(NANOS) natively as TIMESTAMP_NTZ, µs-truncated
        # — the same truncation DuckDB applies. readers.load_table keeps a
        # legacy nanosAsLong fallback for older sessions.)
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_local_session(app_name: str = "similarity_analysis_big_data_spark") -> SparkSession:
    """Session pinned to the local[N] layout (N = _DEFAULT_CPUS)."""
    return get_session(app_name=app_name, master=f"local[{_DEFAULT_CPUS}]")
