"""SparkSession factory with engine-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, capped at 16g: the heap is pre-touched
    (``-Xms == -Xmx``), so it must fit beside the Python workers."""
    try:
        with open("/proc/meminfo") as f:
            total_kb = next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration, ValueError):
        return "16g"
    return f"{max(1, min(16 * 1024, total_kb // 2048))}m"


def get_spark(
    app_name: str = "pangeo-forge-recipes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are tuned for correctness-at-scale:

    * AQE on — runtime shuffle-partition coalescing and skew-join splitting;
    * Arrow on — every engine UDF is Arrow-batched;
    * small Arrow batches — fragment payloads are MB-scale binaries, so
      records-per-batch stays low to bound task memory;
    * speculation off — region writes are idempotent, but two speculative
      attempts racing on one chunk's put would still double network IO
      (see reference non-idempotence note, ``transforms.py:680-684``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(int(cpus) if cpus.isdigit() else 32, 32))
    ))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large batches for vectorized tabular operators; the zarr pipeline
        # (MB-scale binary payload rows) lowers this locally for its run
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.speculation", "false")
        # local-mode driver IS the executor. Two measured pitfalls on the
        # target box (32 threads / 128 GiB): an oversized, growable heap
        # (48g, default Xms) makes G1 commit/uncommit pages continuously
        # after a heavy mapInPandas phase — identical SQL queries then
        # oscillate 0.6s..3.4s run to run; pinning the heap (Xms == Xmx +
        # AlwaysPreTouch) removes the jitter at any size. 16g holds the
        # cached sf-scale tables plus 32 concurrent task buffers without
        # old-gen churn, and pre-touches in ~2s at startup; smaller hosts
        # get half their memory, since a pre-touched heap larger than the
        # host aborts the JVM at startup.
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # pin a timezone so NTZ↔LTZ casts (needed because watermarks only
        # accept LTZ event time) are lossless and identical on every
        # executor regardless of host-local timezone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
