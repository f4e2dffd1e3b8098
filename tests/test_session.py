"""Session defaults fit the host: checked in fresh interpreters so the shared
test session's conf is untouched."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = """
import json, os
from pybiodatafuse_spark.session import get_spark
spark = get_spark("session-defaults")
sc = spark.sparkContext
print(json.dumps({
    "master": sc.master,
    "parallelism": sc.defaultParallelism,
    "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "heap_max": sc._jvm.java.lang.Runtime.getRuntime().maxMemory(),
    "nproc": len(os.sched_getaffinity(0)),
    "phys": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE"),
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


def test_defaults_fit_the_host():
    got = _probe()
    assert got["master"] == f"local[{got['nproc']}]"
    assert got["parallelism"] == got["nproc"]
    assert got["shuffle_partitions"] == str(got["parallelism"])
    assert got["heap_max"] <= got["phys"]


def test_shuffle_partitions_env_overrides_the_default():
    got = _probe(SPARK_GRAFT_SHUFFLE_PARTITIONS="3")
    assert got["shuffle_partitions"] == "3"
