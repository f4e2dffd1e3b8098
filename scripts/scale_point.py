"""One-off scale-ramp point: build a deterministic N-page snapshot and run
fixed PageRank supersteps, reporting steady-state per-edge throughput.
Extends the BENCH/BASELINE.md scale-ramp table (1M / 4M / 16M pages) to
larger snapshots — the measured answer to "does per-edge cost stay flat as
the snapshot grows".

    python scripts/scale_point.py [n_pages] [steps]

Defaults: 40,000,000 pages (~271M edges), 6 supersteps. Prints one JSON
line (same timeout-safe emission contract as bench.py).

Runs on the session defaults (``local[<usable cores>]``, a driver heap of
60% of physical memory); the ``SPARK_GRAFT_*`` session variables override.
For very large N on one box, give the driver a big JVM heap
(`SPARK_GRAFT_DRIVER_MEM`)."""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000
    steps = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from bench import CACHE_ROOT, _pagerank_job, calibrate, ensure_graph_cache
    from pybiodatafuse_spark.session import get_spark

    spark = get_spark("scale-point")
    t0 = time.monotonic()
    _, _, cached = ensure_graph_cache(spark, n_pages)
    base = {
        "n_pages": n_pages,
        "cached": cached,
        "build_sec": None if cached else round(time.monotonic() - t0, 1),
        "cache": os.path.join(CACHE_ROOT, f"v1_{n_pages}"),
        "calib_start": round(calibrate(), 3),
    }
    job = _pagerank_job(spark, n_pages, steps)
    med = job["median_superstep_sec"]
    print(json.dumps({
        **base,
        "n_edges": job["n_edges"],
        "supersteps": steps,
        "wall_sec": round(job["sec"], 1),
        "median_steady_superstep_sec": round(med, 2),
        "edges_per_sec_steady": round(job["n_edges"] / med),
        "calib_after": round(calibrate(), 3),
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
