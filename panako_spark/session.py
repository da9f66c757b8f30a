"""SparkSession factory with the pipeline's execution settings.

Designed for a 1000-executor cluster (AQE, skew join, adaptive coalesce);
tested on local[N]. Pass `iceberg_warehouse` to attach an Iceberg
hadoop-catalog named `panako` (requires the iceberg-spark-runtime jar —
resolvable only with network/a populated ivy cache, so it is an explicit
opt-in, never probed silently); CheckpointStore(backend="auto") then
commits stages through real Iceberg snapshots. Without it, the
parquet-dir checkpoint fallback in io/checkpoint.py provides the same
resume semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ICEBERG_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13:1.6.1"
JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"
# The driver's own JVM options. GC: ship the JDK17 default (G1), decided
# by interleaved same-window A/B (BENCH/ATTRIBUTION.md,
# BENCH/gc_ab_probe.jsonl). A ParallelGC switch briefly shipped on a
# +37%/+47% stage-profile reading, but under round-robin A/B at <3% steal
# it LOST: store/local[8] G1 424-481 img/s vs PGC 331-344 (task GC
# 6.5-7.6 s vs 41-49 s — ParallelGC grows the heap through stop-the-world
# full GCs on this allocation pattern), full/local[8] G1 ahead or tied in
# 3 of 4 pairs (e.g. 115.05 vs 81.85 img/s in the quietest window, GC
# 1.4 s vs 43.5 s). Pre-sizing the heap (-Xms) made ParallelGC worse, and
# G1 with 32 m regions did not beat default G1. Full story:
# BENCH/ATTRIBUTION.md Fix 7. JIT flags (C1-only, fewer C2 threads,
# higher Tier4 thresholds) were measured too and are not shipped: Fix 8.
JAVA_OPTIONS = "-Djava.security.manager=allow"


def default_cpus() -> int:
    """local[N] when the caller names none: SPARK_GRAFT_CPUS if set, else
    the CPUs this process may run on."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def get_spark(app_name: str = "panako-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None,
              iceberg_warehouse: str | None = None) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 32)
    if iceberg_warehouse is not None:
        extra_conf = dict(extra_conf or {})
        extra_conf.setdefault("spark.jars.packages", ICEBERG_PACKAGE)
        extra_conf.setdefault(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions")
        extra_conf.setdefault("spark.sql.catalog.panako",
                              "org.apache.iceberg.spark.SparkCatalog")
        extra_conf.setdefault("spark.sql.catalog.panako.type", "hadoop")
        extra_conf.setdefault("spark.sql.catalog.panako.warehouse",
                              iceberg_warehouse)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let AQE swap sort-merge joins for shuffled-hash joins when the
        # runtime build-side per-partition map fits 128 MB. The hit-list
        # joins (landmark/tile ±range probes) are the pipeline's biggest
        # shuffles and their sorts are pure overhead — the downstream
        # verify exchange re-partitions by pair id anyway. Measured on
        # the pinned 2-vs-8-core protocol (BENCH/ATTRIBUTION.md,
        # 11.6k images): tile-join CPU at 8 busy cores 311->165 core-s,
        # total task-time inflation 1.58x->1.27x, local[8] wall -16%
        # with local[2] unchanged. Runtime-sized (AQE), so partitions
        # whose build side exceeds the threshold keep sort-merge — safe
        # at any scale; 128 MB/task needs executors with >=1 GB/task,
        # the same envelope the 64 MB broadcast threshold assumes.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "128m")
        # Let AQE coalesce a cached plan's final stage by bytes, like any
        # other stage. Spark's default pins a cached aggregate at
        # spark.sql.shuffle.partitions, and every consumer then scans
        # that many mostly empty partitions: the pipeline's shared
        # stop-word counts (a few rows) cost 32 tasks per scan, four
        # scans per run. Outputs are the same; only the partition count
        # a cache hands its consumers changes.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in merged_conf(extra_conf).items():
        b = b.config(k, v)
    return b.getOrCreate()


def merged_conf(extra_conf: dict | None) -> dict:
    """The caller's conf, with a caller's spark.driver.extraJavaOptions
    (a JIT flag under A/B, say) appended after the session's own
    JAVA_OPTIONS instead of replacing them."""
    conf = dict(extra_conf or {})
    conf[JAVA_OPTIONS_KEY] = " ".join(
        filter(None, (JAVA_OPTIONS, conf.get(JAVA_OPTIONS_KEY))))
    return conf
