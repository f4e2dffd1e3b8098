"""Session defaults fit the host: checked in fresh interpreters so the shared
test session's conf is untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pybiodatafuse_spark.session import _mebibytes, _page_size

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json, os
from pybiodatafuse_spark.session import get_spark
spark = get_spark("session-defaults")
sc = spark.sparkContext
jvm = sc._jvm
hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
vm_option = lambda name: hotspot.getVMOption(name).getValue()
print(json.dumps({
    "master": sc.master,
    "parallelism": sc.defaultParallelism,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "heap_max": sc._jvm.java.lang.Runtime.getRuntime().maxMemory(),
    "nproc": len(os.sched_getaffinity(0)),
    "phys": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"),
    "page": jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes(),
    "page_conf": sc.getConf().get("spark.buffer.pageSize", None),
    # idle, the storage bound is the whole unified pool execution can take
    "pool": jvm.org.apache.spark.SparkEnv.get().memoryManager().maxOnHeapStorageMemory(),
    "g1": vm_option("UseG1GC") == "true",
    "region": int(vm_option("G1HeapRegionSize")),
}))
spark.stop()
"""

def _probe(**env_overrides: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(env_overrides)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    out = subprocess.run(
        [sys.executable, "-c", PROBE], capture_output=True, text=True,
        env=env, cwd=REPO, timeout=300,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    return json.loads(lines[-1])


def _assert_page_fits(got: dict) -> None:
    # a lone task may take the whole execution pool, and TaskMemoryManager
    # holds at most 8192 pages per task: past that the task fails where it
    # would have spilled
    assert got["page"] * 8192 >= got["pool"], got
    # a Tungsten page is one long[]: with its 16-byte array header it must
    # stay under half a G1 region, or every aggregate and sort task
    # allocates a humongous object, and those start concurrent mark cycles.
    # G1 picks regions of 4 MB or more for heaps over 4 GB; in smaller
    # regions no page of Spark's 1 MB floor or more fits, so the session
    # leaves the page to Spark
    if got["g1"] and got["region"] >= 4 << 20:
        assert got["page"] + 16 < got["region"] // 2, got
    elif got["g1"]:
        assert got["page_conf"] is None, got


def test_defaults_fit_the_host():
    got = _probe()
    assert got["master"] == f"local[{got['nproc']}]"
    assert got["parallelism"] == got["nproc"]
    assert got["shuffle_partitions"] == str(got["parallelism"])
    assert got["heap_max"] <= got["phys"]
    _assert_page_fits(got)


def test_small_heap_keeps_sparks_page():
    got = _probe(SPARK_GRAFT_DRIVER_MEM="2g")
    assert got["heap_max"] <= 2 << 30
    _assert_page_fits(got)
    if got["g1"]:
        # Spark's own G1 adjustment: a page and its header fill whole regions
        assert got["page_conf"] is None and (got["page"] + 16) % got["region"] == 0, got


def test_executor_jvms_keep_sparks_page():
    # the session sizes only the driver heap; under local-cluster the tasks
    # run in executor heaps of their own, and the page reaches them too
    got = _probe(SPARK_GRAFT_MASTER="local-cluster[1,1,1024]")
    assert got["master"] == "local-cluster[1,1,1024]"
    assert got["page_conf"] is None, got


def test_page_size_follows_the_heap():
    assert _page_size(_mebibytes("9656m")) == "1m"  # 8 MB regions
    assert _page_size(_mebibytes("24g")) == "2m"  # the driver-heap cap; 16 MB regions
    assert _page_size(4096) is None and _page_size(1931) is None  # 2 and 1 MB
    for heap_mb in range(4097, 64 * 1024, 509):
        page = _page_size(heap_mb)
        assert page is not None, heap_mb
        assert int(page[:-1]) * 8192 >= (heap_mb - 300) * 0.6, heap_mb
    assert _page_size(9656, memory_fraction=0.9) == "2m"


def test_shuffle_partitions_env_overrides_the_default():
    got = _probe(SPARK_GRAFT_SHUFFLE_PARTITIONS="3")
    assert got["shuffle_partitions"] == "3"
