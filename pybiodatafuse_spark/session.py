"""SparkSession factory with host-fitted defaults.

Local-mode testing uses ``local[N]``; the same builder config is what we'd
ship to a multi-executor cluster via ``spark-submit --py-files`` (the
cluster-only knobs — executor memory/instances — come from submit args, not
code). AQE is on for non-iterative queries (runtime skew-join and partition
coalescing); ``plans.superstep.iterate`` turns it off inside its loops, where
PageRank's hub salting is the only skew handling.

Defaults come from the host the session starts on: ``local[<usable cores>]``,
a driver heap of 60% of physical memory (at most 24g), and
``spark.sql.shuffle.partitions`` equal to the session's task slots
(``defaultParallelism``) — the same count embeddings, dedup and the
extraction floor use, so every superstep stage runs one task per slot.
``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM`` and
``SPARK_GRAFT_SHUFFLE_PARTITIONS`` (or ``shuffle_partitions=``) override them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """60% of the host's physical memory, capped at 24g."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(int(phys * 0.6) >> 20, 24 * 1024)}m"


def get_spark(
    app_name: str = "pybiodatafuse_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    cores this process may run on) so the benchmark harness can run the
    identical job at two parallelism levels.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    # SPARK_GRAFT_MASTER overrides: e.g. "local-cluster[4,2,6144]" gives the
    # bench a REAL multi-executor topology (separate executor JVMs) for the
    # north rule's N-vs-4N-executors scaling evidence
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    parts = shuffle_partitions or os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if parts:
        builder = builder.config("spark.sql.shuffle.partitions", str(int(parts)))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if not parts:
        # one shuffle partition per task slot; known only once the context
        # has started (under local-cluster it counts the executors that
        # registered by then)
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
