"""What the driver JVM's G1 collector does during one perfbench ``supersteps`` job.

    python scripts/gc_profile.py [--seed N] [--conf key=value ...]

Starts a fresh session with the engine defaults plus ``-Xlog:gc`` (and any
``--conf``, e.g. ``spark.buffer.pageSize=64m`` to compare page sizes),
commits the seed's 8k-page snapshot, runs one job, and prints, for the job
alone: humongous-start pauses, concurrent mark cycles, the CPU seconds of
this process and everything below it, and of the JVM's GC threads.
"""

import argparse
import os
import re
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
from perfbench.run import _engine  # noqa: E402
from perfbench.tracing import cpu_seconds  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402
from pybiodatafuse_spark.session import get_spark  # noqa: E402


def gc_thread_cpu_s(pid: int) -> float:
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        with open(f"/proc/{pid}/task/{tid}/stat") as fh:
            stat = fh.read()
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        if name.startswith(("GC Thread", "G1 ")):
            total += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13])
    return total / os.sysconf("SC_CLK_TCK")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--conf", action="append", default=[], help="key=value")
    args = p.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        log = os.path.join(tmp, "gc.log")
        conf = {"spark.driver.extraJavaOptions": f"-Xlog:gc:file={log}"}
        conf.update(kv.split("=", 1) for kv in args.conf)
        spark = get_spark("gc-profile", extra_conf=conf)
        jvm_pid = spark.sparkContext._gateway.proc.pid
        w = WORKLOADS["supersteps"](args.seed)
        w.build_inputs(Path(tmp, "inputs"))
        w.load(spark, Path(tmp, "inputs"))
        start = os.path.getsize(log)
        c0, g0, t0 = cpu_seconds(), gc_thread_cpu_s(jvm_pid), time.perf_counter()
        w.job(_engine(), spark, Path(tmp, "job"))
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0
        gc_cpu = gc_thread_cpu_s(jvm_pid) - g0
        with open(log) as fh:
            fh.seek(start)
            lines = fh.read().splitlines()
        spark.stop()
    print(f"humongous_starts = {sum('(Concurrent Start) (G1 Humongous' in l for l in lines)}")
    print(f"concurrent_cycles = {sum(bool(re.search(r'Concurrent Mark Cycle [0-9.]+ms', l)) for l in lines)}")
    print(f"gc_pauses = {sum(' Pause ' in l for l in lines)}")
    print(f"job_wall_s = {wall:.2f}\njob_cpu_s = {cpu:.2f}\ngc_thread_cpu_s = {gc_cpu:.2f}")


if __name__ == "__main__":
    main()
