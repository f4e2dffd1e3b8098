"""Benchmark harness (driver contract + north-rule scaling evidence).

Runs the headline jobs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on the session defaults (``local[<usable cores>]``) and prints JSON result
lines. The LAST line is always a COMPACT summary (checked < 1500 chars):

    {"metric": "headline_queries_total", "value": <total sec>, "unit": "sec",
     "queries": {...per-query sec...}, "sf": ..., "pagerank_edges_per_sec": N,
     "efficiency_n_to_4n": x, "efficiency_n_to_4n_executors": x, ...}

TIMEOUT-SAFE EMISSION (round-3 postmortem: the driver killed the run and,
because the single JSON line printed only at the very end, every COMPLETED
measurement was lost — rc:124, parsed:null): the harness prints a flushed
snapshot after the headline phase and again after EVERY completed scaling
pair. Each snapshot is TWO lines — the full rich diagnostics, then the
compact summary — so whatever point an external kill lands at, the last
complete line in the consumer's stdout tail is a compact parseable object.

COMPACT-LINE CONTRACT (round-4 postmortem: the single rich line grew past
the driver's 2000-char stdout-tail buffer — r1 794 chars parsed, r2 1427
parsed, r4 ≥2000 → ``parsed:null`` despite rc:0): the rich snapshot now
goes to the PRECEDING line and is mirrored to ``BENCH/last_run.json``;
only the compact summary is printed last, with a hard ``len < 1500``
check (a raise, so ``python -O`` keeps it) so the contract cannot silently
rot again.

One wall-clock deadline (``GLOBAL_BUDGET_S``) spans headline + ANF + both
scaling blocks: before each scaling pair the harness checks the remaining
budget against the observed cost of the previous pair and stops scheduling
pairs that cannot finish (reported as ``pairs_skipped_for_budget``).

Headline jobs:
- pagerank_synthetic: the full link-graph pipeline on the deterministic
  synthetic pages table (extraction UDF → salted edges → 10 PageRank
  supersteps), reporting edges/sec of superstep throughput — the
  BASELINE.json metric; the snapshot build is timed only when this run
  builds it (``pagerank.snapshot_cached`` says which);
- the driver-gate queries q01/q17/q19/q25/q28/q31 at the given sf.

Scaling evidence (north rule: efficiency ≥ 0.8 from N→4N): the identical
PageRank job on the headline snapshot runs in fresh subprocess sessions in
adjacent (lo, hi) pairs sized from the host by :func:`pair_specs` —
local[1]→local[4] threads, then 1→4 separate-JVM executors;
efficiency = median over completed pairs of thr_hi / (4 · thr_lo), no
early exit. Skipped when SPARK_GRAFT_SCALING=0 (the subprocess probes use
this to avoid recursion).

Environment: ``SPARK_GRAFT_SF_DIR``, ``SPARK_GRAFT_BENCH_PAGES`` (snapshot
size, default 1M pages), ``SPARK_GRAFT_BENCH_CACHE`` (snapshot directory)
and ``SPARK_GRAFT_SCALING``.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "1000000"))
CACHE_ROOT = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")
GLOBAL_BUDGET_S = 2400.0
HEADLINE_STEPS = 10
# 6 supersteps leave 4 steady samples per probe for its best/median superstep
PROBE_STEPS = 6
PAIRS = 2
# a first pair is scheduled only with this much budget left; later pairs
# need 1.05× the previous pair's measured wall
FIRST_PAIR_FLOOR_S = 300.0
# per-probe throughput = best (min) steady superstep: the least-contended
# sample on each side, so a transient co-tenant burst during one probe
# can't masquerade as an engine scaling failure
PROBE_KEY = "edges_per_sec_best"


def ensure_graph_cache(spark, n_pages: int) -> tuple[str, str, bool]:
    """Materialize the deterministic synthetic snapshot (pages → extraction →
    salted edge build) as parquet ONCE; every probe then runs on the
    identical snapshot (north-rule requirement). Returns
    (edges_path, verts_path, cached): ``cached`` is True when an earlier run
    built it, so a caller timing this call measured no build."""
    from pybiodatafuse_spark.datagen import generate_pages
    from pybiodatafuse_spark.operators.edges import build_edges, build_vertices

    base = os.path.join(CACHE_ROOT, f"v1_{n_pages}")
    e_path, v_path = os.path.join(base, "edges"), os.path.join(base, "vertices")
    done = os.path.join(base, "_DONE")
    if os.path.exists(done):
        return e_path, v_path, True
    from pyspark import StorageLevel

    # persist the synthesized pages: vertices AND edges both scan them, and
    # the per-row html synthesis is the expensive part of generation
    pages = generate_pages(spark, n_pages, partitions=64).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    verts = build_vertices(pages).persist()
    build_edges(pages, verts).write.mode("overwrite").parquet(e_path)
    verts.write.mode("overwrite").parquet(v_path)
    verts.unpersist()
    pages.unpersist()
    open(done, "w").close()
    return e_path, v_path, False


def calibrate() -> float:
    """Fixed-cost single-thread probe (~0.2 s unloaded): a deterministic
    numpy hash/FMA loop whose wall time tracks the box's *effective* memory
    bandwidth + CPU availability. Recorded before/after each headline
    segment so a cross-round regression can be attributed: if a query's
    sec/calib ratio is stable while its wall regresses, the box (co-tenant
    load) moved, not the engine — the r2 +17% headline swing was exactly
    this, but unproven because nothing was recorded."""
    import numpy as np

    t0 = time.monotonic()
    x = np.arange(4_000_000, dtype=np.float64)
    acc = 0.0
    for _ in range(6):
        x = x * 1.0000001 + 1.0
        acc += float(x[::1024].sum())
    _ = acc
    return time.monotonic() - t0


def _phys_mem() -> int:
    return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")


def host_info(spark) -> dict:
    """The facts a reader needs to compare this artifact with another run."""
    import pyspark

    sha = None
    if os.path.exists(os.path.join(REPO, ".git")):
        sha = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True, text=True
        ).stdout.strip() or None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _phys_mem() >> 20,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_sha": sha,
    }


def compact_summary(result: dict) -> dict:
    """The driver-facing subset of the rich snapshot: headline total,
    per-query seconds, pagerank throughput, both scaling-efficiency medians.
    Everything else (calibration brackets, per-pair diagnostics, selection
    notes) lives on the preceding rich line and in BENCH/last_run.json."""
    c = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "pagerank_edges_per_sec": result.get("pagerank", {}).get(
            "edge_traversals_per_sec"
        ),
        "pagerank_supersteps": result.get("pagerank", {}).get("supersteps"),
        "anf_sec": result.get("anf", {}).get("sec"),
        "calib": [
            result.get("calibration", {}).get("start"),
            result.get("calibration", {}).get("end"),
        ],
    }
    s = result.get("scaling")
    if s is not None:
        c["efficiency_n_to_4n"] = s.get("efficiency_n_to_4n")
        c["pairs"] = s.get("all_pairs_efficiency")
    se = result.get("scaling_executors")
    if se is not None:
        c["efficiency_n_to_4n_executors"] = se.get("efficiency_n_to_4n_executors")
        c["pairs_executors"] = se.get("all_pairs_efficiency")
    if "wall_total_sec" in result:
        c["wall_total_sec"] = result["wall_total_sec"]
    return c


def emit_snapshot(result: dict) -> None:
    """Emit one snapshot: mirror the rich object to BENCH/last_run.json
    (atomic rename), print it as the diagnostics line, then print the
    compact summary LAST so the driver's bounded stdout tail always ends
    with a complete parseable object."""
    bench_dir = os.path.join(REPO, "BENCH")
    try:
        os.makedirs(bench_dir, exist_ok=True)
        tmp = os.path.join(bench_dir, ".last_run.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(result, fh, indent=1)
        os.replace(tmp, os.path.join(bench_dir, "last_run.json"))
    except OSError as exc:  # never let the mirror break the stdout contract
        sys.stderr.write(f"last_run.json mirror failed: {exc!r}\n")
    print(json.dumps(result), flush=True)
    line = json.dumps(compact_summary(result))
    if len(line) >= 1500:
        raise ValueError(
            f"compact bench line is {len(line)} chars — exceeds the driver's "
            f"2000-char stdout-tail budget margin; trim compact_summary()"
        )
    print(line, flush=True)


def _pagerank_job(spark, n_pages: int, steps: int) -> dict:
    """``steps`` PageRank supersteps over the cached snapshot: edge count,
    superstep-loop wall, and the median and best (min) steady superstep."""
    from pybiodatafuse_spark.plans.pagerank import pagerank

    e_path, v_path, _ = ensure_graph_cache(spark, n_pages)
    edges = spark.read.parquet(e_path).persist()
    verts = spark.read.parquet(v_path)
    n_edges = edges.count()
    t0 = time.monotonic()
    res = pagerank(
        spark, edges, verts, tol=None, max_iter=steps,
        hub_threshold=10000, num_salts=8,
    )
    res.state.unpersist()
    wall = time.monotonic() - t0
    edges.unpersist()
    # steady state: the supersteps after the first two (plan compile, first
    # dangling mass); best = the least-contended sample on a shared host
    steady = sorted(res.walls[2:]) if len(res.walls) > 4 else sorted(res.walls)
    return {
        "n_edges": n_edges, "supersteps": steps, "sec": wall,
        "median_superstep_sec": steady[len(steady) // 2],
        "best_superstep_sec": steady[0],
    }


def pair_specs(nproc: int, mem_bytes: int) -> list[dict]:
    """The two N→4N scaling pairs, sized so neither side oversubscribes the
    host: threads ``local[1]`` → ``local[4]``, and 1 → 4 executor JVMs of
    ``c = min(2, nproc // 4)`` cores each. Five equal heaps of ``m`` MB —
    the four hi-side executors plus the probe's driver — share the 60% of
    physical memory that ``get_spark`` gives a lone driver (capped at
    6144 MB each). A host with fewer than 4 cores cannot run either pair;
    both specs then carry an ``error`` (and ``c = 1`` for the record) and
    run no probe."""
    c = max(1, min(2, nproc // 4))
    m = min(6144, (int(mem_bytes * 0.6) >> 20) // 5)
    error = None
    if nproc < 4:
        error = f"host has {nproc} cores; an N→4N pair needs 4 without oversubscription"
    return [
        {"block": "scaling", "efficiency": "efficiency_n_to_4n",
         "masters": ["local[1]", "local[4]"], "cores": [1, 4], "mem_mb": None,
         "error": error},
        {"block": "scaling_executors", "efficiency": "efficiency_n_to_4n_executors",
         "masters": [f"local-cluster[1,{c},{m}]", f"local-cluster[4,{c},{m}]"],
         "cores": [c, 4 * c], "mem_mb": m, "error": error},
    ]


def _scale_probe(master: str, mem_mb: int | None, shuffle_partitions: str,
                 timeout_s: float) -> dict:
    """Run the probe job in a fresh subprocess session at ``master``. Both
    sides of a pair run at the parent session's ``shuffle_partitions``: the
    session default follows the task slots, which would make the two sides
    different jobs. ``mem_mb`` sizes the probe's driver and executor heaps
    (None: the session default)."""
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_MASTER": master,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": shuffle_partitions,
        "SPARK_GRAFT_SCALING": "0",
    })
    if mem_mb is not None:
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_mb}m"
        env["SPARK_EXECUTOR_MEMORY"] = f"{mem_mb}m"  # read by Spark itself
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--probe"],
        capture_output=True, text=True, env=env, timeout=max(60.0, timeout_s),
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"probe at {master} exited {out.returncode}: {out.stderr[-300:]}")
    return json.loads(lines[-1])


def run_probe():
    """The ``--probe`` child: one probe job, one JSON line."""
    from pybiodatafuse_spark.session import get_spark

    calib_before = calibrate()
    spark = get_spark("bench-probe")
    job = _pagerank_job(spark, BENCH_PAGES, PROBE_STEPS)
    n_edges = job["n_edges"]
    print(json.dumps({
        "n_edges": n_edges,
        "edges_per_sec_steady": round(n_edges / job["median_superstep_sec"]),
        "edges_per_sec_best": round(n_edges / job["best_superstep_sec"]),
        # single-thread fixed-cost probe bracketing this measurement: lets a
        # reader attribute a weak pair to co-tenant load (quiet box ≈ 0.2 s)
        "calib_before": round(calib_before, 3),
        "calib_after": round(calibrate(), 3),
    }))
    spark.stop()


def quiet_median(runs):
    """Secondary estimator: median over pairs whose four calibration
    brackets all sit below 0.45 s (≤ ~2.25× the quiet-box 0.2 s
    reference) — a PRE-REGISTERED validity criterion on an independent
    covariate, not a favorable stopping rule. The all-pairs median stays
    the headline; this shows what the engine does when the shared box is
    actually quiet. None when no pair qualifies."""
    q = sorted(
        e for pl, ph, e, _ in runs
        if all(
            c is not None and c < 0.45
            for c in (pl.get("calib_before"), pl.get("calib_after"),
                      ph.get("calib_before"), ph.get("calib_after"))
        )
    )
    if not q:
        return None, []
    return round(min(statistics.median(q), 1.0), 3), [round(e, 3) for e in q]


def pairs_block(spec: dict, runs: list, skipped: int = 0, error: str | None = None) -> dict:
    """Assemble a scaling block from however many pairs completed — called
    after every pair so each emitted snapshot is complete. ``runs`` holds
    ``(probe_lo, probe_hi, efficiency, pair_wall)`` tuples. With ZERO
    completed pairs (the host cannot run the pair, the first pair failed or
    the budget ran out before any pair started) the stub block records why
    the numbers are missing instead of omitting the block."""
    block = {
        "masters": spec["masters"],
        "cores": spec["cores"],
        "mem_mb": spec["mem_mb"],
        "all_pairs_efficiency": [round(e, 3) for _, _, e, _ in runs],
        "pairs_skipped_for_budget": 0 if error else skipped,
        "pairs_failed": skipped if error else 0,
        "error": error,
        spec["efficiency"]: None,
    }
    if not runs:
        return block
    med = statistics.median(e for _, _, e, _ in runs)
    p_lo, p_hi, best, _ = max(runs, key=lambda t: t[2])
    q_med, q_list = quiet_median(runs)
    block.update({
        spec["efficiency"]: round(min(med, 1.0), 3),
        spec["efficiency"] + "_quiet": q_med,
        "quiet_pairs_efficiency": q_list,
        "scale_edges": runs[0][0]["n_edges"],
        "edges_per_sec_lo": p_lo[PROBE_KEY],
        "edges_per_sec_hi": p_hi[PROBE_KEY],
        "pair_walls_sec": [round(w, 1) for _, _, _, w in runs],
        # per-pair single-thread calibration brackets [lo_before, lo_after,
        # hi_before, hi_after]: quiet box ≈ 0.2 s — a weak pair with
        # inflated brackets is co-tenant load, not the engine
        "pairs_calibration": [
            [pl.get("calib_before"), pl.get("calib_after"),
             ph.get("calib_before"), ph.get("calib_after")]
            for pl, ph, _, _ in runs
        ],
        "best_pair_efficiency": round(min(best, 1.0), 3),
        # steady (median-superstep) throughput covariates of the SAME best
        # pair as edges_per_sec_lo/hi (r4 advice: mixed provenance misleads
        # round-over-round comparison)
        "median_steady_lo": p_lo.get("edges_per_sec_steady"),
        "median_steady_hi": p_hi.get("edges_per_sec_steady"),
        "selection": f"MEDIAN of {len(runs)} completed adjacent lo/hi pairs "
                     f"(no early exit), best-steady-superstep per probe, "
                     f"clamped at 1.0; edges_per_sec_* and median_steady_* "
                     f"both describe the best pair",
    })
    return block


def run_pairs(spec: dict, result: dict, shuffle_partitions: str, remaining) -> None:
    """HONEST estimator (r2 verdict: best-of-N with early exit is a
    favorable stopping rule): run PAIRS adjacent (lo, hi) pairs to
    completion — no early exit on a good pair — and take the MEDIAN pair
    efficiency as the headline. A pair is a same-conditions measurement (a
    contention window hits both sides). Only the global deadline can
    truncate the count: before each pair the remaining budget is checked
    against the previous pair's wall (or the first-pair floor). The
    snapshot is re-emitted after every completed pair, and once more for a
    skip or a failure, so an external kill keeps all finished pairs and the
    consumer can tell 'scaling disabled' from 'all pairs failed'."""
    runs: list = []
    skipped, error = 0, spec["error"]
    if error is None:
        ratio = spec["cores"][1] / spec["cores"][0]
        for i in range(PAIRS):
            if remaining() < (runs[-1][3] * 1.05 if runs else FIRST_PAIR_FLOOR_S):
                skipped = PAIRS - i
                break
            t0 = time.monotonic()
            try:
                p_lo, p_hi = (
                    _scale_probe(master, spec["mem_mb"], shuffle_partitions, remaining())
                    for master in spec["masters"]
                )
            except Exception as exc:  # subprocess timeout/parse failure
                sys.stderr.write(f"scaling pair failed: {exc!r}\n")
                skipped, error = PAIRS - i, repr(exc)[:300]
                break
            runs.append((p_lo, p_hi, p_hi[PROBE_KEY] / (ratio * p_lo[PROBE_KEY]),
                         time.monotonic() - t0))
            result[spec["block"]] = pairs_block(spec, runs)
            emit_snapshot(result)
    else:
        skipped = PAIRS
    if skipped:
        result[spec["block"]] = pairs_block(spec, runs, skipped, error)
        emit_snapshot(result)


def _stop_jvm(spark) -> None:
    """Stop the session AND its JVM: the scaling probes start their own
    JVMs, sized to the host, and the parent's heap must not sit beside
    them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if gateway.proc is not None:  # None under spark-submit, which owns the JVM
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)


def main():
    if "--probe" in sys.argv:
        run_probe()
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from pybiodatafuse_spark.session import get_spark
    import __spark_entry__ as entrymod

    # one wall-clock deadline across headline + ANF + scaling: the harness
    # must terminate (and have emitted everything it finished) inside the
    # driver's kill window
    t_wall0 = time.monotonic()

    def remaining() -> float:
        return GLOBAL_BUDGET_S - (time.monotonic() - t_wall0)

    spark = get_spark("bench")
    queries = {}
    queries_calib = {}  # per-phase [calib_before, calib_after] brackets
    calib = {"start": round(calibrate(), 3)}
    t_total0 = time.monotonic()

    # headline 1: full synthetic link-graph pipeline + PageRank supersteps.
    # The snapshot build runs FIRST with its own calibration bracket: r4's
    # driver run recorded extract_build_edges at 224 s vs 77 s in r1/r2 with
    # a 4x-inflated single-thread probe — the bracket lets the artifact
    # attribute such a swing to co-tenant load without a second run.
    e_path, _, cached = ensure_graph_cache(spark, BENCH_PAGES)
    if not cached:  # a cache hit measured no build: report none
        queries["extract_build_edges"] = round(time.monotonic() - t_total0, 3)
    calib["after_build"] = round(calibrate(), 3)
    queries_calib["extract_build_edges"] = [calib["start"], calib["after_build"]]
    pr = _pagerank_job(spark, BENCH_PAGES, HEADLINE_STEPS)
    n_edges, pr_wall = pr["n_edges"], pr["sec"]
    queries["pagerank_synthetic"] = round(pr_wall, 3)
    pagerank_stats = {
        "pages": BENCH_PAGES,
        "snapshot_cached": cached,
        "edges": n_edges,
        "supersteps": HEADLINE_STEPS,
        "superstep_sec": round(pr_wall / HEADLINE_STEPS, 3),
        "median_superstep_sec": round(pr["median_superstep_sec"], 3),
        "edge_traversals_per_sec": round(n_edges * HEADLINE_STEPS / pr_wall),
    }

    # headline 1c: ANF (HLL neighborhood function, 3 hops) on the same
    # snapshot — the sketch-flooding scale path. Reported as its OWN block
    # (not in the headline total) so round-over-round totals stay comparable.
    if remaining() > 300:
        from pybiodatafuse_spark.plans.bfs import anf_hll

        edges_a = spark.read.parquet(e_path)
        t0 = time.monotonic()
        anf_hll(spark, edges_a, hops=3, lgk=9).write.format("noop").mode(
            "overwrite"
        ).save()
        anf_wall = time.monotonic() - t0
        t_total0 += anf_wall  # own block — keep the headline total comparable to r1/r2
        anf_stats = {
            "hops": 3,
            "lgk": 9,  # 2^9 registers: ~4.6% rel err, 2.5x faster than lgk=11 (measured 41s vs 103s at 6.8M edges)
            "sec": round(anf_wall, 3),
            "sketch_merges_per_sec": round(n_edges * 3 / anf_wall),
        }
    else:
        anf_stats = {"skipped": "global budget exhausted before ANF block"}

    calib["after_pagerank"] = round(calibrate(), 3)

    # headline 2: representative driver-gate queries at sf. Each query gets
    # a shared-boundary calibration bracket (the probe after query k is the
    # probe before query k+1) so a per-query regression carries its own
    # load attribution in the artifact.
    qs = entrymod.queries()
    cb_prev = round(calibrate(), 3)
    for name in ["q01_pricing_summary", "q17_triangles", "q19_pagerank5",
                 "q25_minhash_lsh", "q28_knn_bruteforce", "q31_sessionize"]:
        t0 = time.monotonic()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        queries[name] = round(time.monotonic() - t0, 3)
        cb_now = round(calibrate(), 3)
        queries_calib[name] = [cb_prev, cb_now]
        cb_prev = cb_now
    calib["end"] = cb_prev

    total = round(time.monotonic() - t_total0, 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "host": host_info(spark),
        "pagerank": pagerank_stats,
        "anf": anf_stats,
        # single-thread fixed-cost probe (sec): compare across rounds — if
        # calib moved with the headline, the swing is co-tenant load, not the
        # engine (see calibrate() docstring); quiet-box reference ≈ 0.2 s
        "calibration": calib,
        # per-query [before, after] brackets (rich line only)
        "queries_calibration": queries_calib,
    }
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    _stop_jvm(spark)

    # snapshot 1: the headline phase is complete — emit it NOW so a later
    # kill cannot erase it (the consumer takes the last complete line,
    # which emit_snapshot guarantees is the compact summary)
    emit_snapshot(result)

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        for spec in pair_specs(len(os.sched_getaffinity(0)), _phys_mem()):
            run_pairs(spec, result, shuffle_partitions, remaining)

    result["wall_total_sec"] = round(time.monotonic() - t_wall0, 1)
    emit_snapshot(result)


if __name__ == "__main__":
    main()
