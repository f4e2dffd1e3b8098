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

In local mode the Tungsten page (``spark.buffer.pageSize``) is worked out
from the driver heap, where the tasks run (``_page_size``). Spark's own
sizing gives 64 MB − 16 B in a 9,656 MB heap on 4 cores, and each
hash-aggregate and sort task then allocates a 64 MB ``long[]``. The JVM's G1
collector puts any object of half a region or more in its own contiguous
"humongous" regions, and such allocations start concurrent mark cycles; a
9,656 MB heap has 8 MB regions, and one perfbench ``supersteps`` job ran 37
humongous-start pauses and 35 mark cycles. The page chosen is the smallest
power of two, at least Spark's 1 MB floor, whose 8192 pages (a task's page
table in ``TaskMemoryManager``) cover the execution pool, so a task alone in
its stage spills before it runs out of pages: 1 MB for heaps up to about
13.6 GB, 2 MB at the 24g cap. It is set only if it plus its 16 B array
header stays under half of the heap's G1 region, which G1 makes 4 MB or
more in heaps over 4 GB. Smaller heaps have 1 or 2 MB regions, where no
page of 1 MB or more avoids a humongous object; there, and for executor
JVMs (``local-cluster`` and cluster masters, whose heaps the session does
not size), Spark's sizing stays: it subtracts the header, so a page fills
whole regions. A task that holds 4 MB zeroes 4 MB, not 64. Pages still grow
on demand, and a record larger than a page gets a page of its own size.
``extra_conf`` overrides the page.
"""

from __future__ import annotations

import math
import os
import re

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """60% of the host's physical memory, capped at 24g."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(int(phys * 0.6) >> 20, 24 * 1024)}m"


def _mebibytes(mem: str) -> float:
    """A Spark memory string (``9656m``, ``8g``, ``8gb``) in MiB; Spark reads
    a bare number as MiB."""
    num, unit = re.fullmatch(r"([\d.]+)\s*([a-z]*)", mem.strip().lower()).groups()
    scale = {"": 1, "b": 2**-20, "k": 2**-10, "kb": 2**-10, "m": 1, "mb": 1,
             "g": 2**10, "gb": 2**10, "t": 2**20, "tb": 2**20}
    return float(num) * scale[unit]


def _page_size(heap_mb: float, memory_fraction: float = 0.6) -> str | None:
    """The Tungsten page for tasks in a G1 heap of ``heap_mb`` MiB, or None
    where Spark's own sizing should stay (see the module docstring)."""
    # G1's ergonomic region: heap / 2048 within [1, 32] MB, rounded up to a
    # power of two (JDK 17)
    region = 2 ** math.ceil(math.log2(min(max(heap_mb / 2048, 1), 32)))
    pool = (heap_mb - 300) * memory_fraction  # Spark reserves 300 MB
    page = 2 ** max(0, math.ceil(math.log2(max(pool, 1) / 8192)))
    return f"{page}m" if page * 2**20 + 16 < region * 2**19 else None


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
    extra = extra_conf or {}
    driver_memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory()
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master == "local" or master.startswith("local["):
        page = _page_size(
            _mebibytes(extra.get("spark.driver.memory", driver_memory)),
            float(extra.get("spark.memory.fraction", 0.6)),
        )
        if page:
            builder = builder.config("spark.buffer.pageSize", page)
    if parts:
        builder = builder.config("spark.sql.shuffle.partitions", str(int(parts)))
    for k, v in extra.items():
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
