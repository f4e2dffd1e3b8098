"""Benchmark harness (driver contract + north-rule scaling evidence).

Runs the headline jobs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on ``local[$SPARK_GRAFT_CPUS]`` (default the usable cores) and prints JSON
result lines.
The LAST line is always a COMPACT summary (checked < 1500 chars):

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

A single global wall-clock deadline (``SPARK_GRAFT_GLOBAL_BUDGET_S``,
default 2400 s) spans headline + ANF + both scaling blocks: before each
scaling pair the harness checks the remaining budget against the observed
cost of the previous pair and stops scheduling pairs that cannot finish
(reported in the snapshot as ``pairs_skipped_for_budget``).

Headline jobs:
- pagerank_synthetic: the full link-graph pipeline on the deterministic
  synthetic pages table (extraction UDF → salted edges → PageRank to 1e-6),
  reporting edges/sec of superstep throughput — the BASELINE.json metric;
- the driver-gate queries q01/q17/q19/q25/q28/q31 at the given sf.

Scaling evidence (north rule: efficiency ≥ 0.8 from N→4N): the identical
PageRank job runs in fresh subprocess sessions in adjacent (lo, hi) pairs —
local[1]→local[4] threads, then local-cluster 1→4 separate-JVM executors;
efficiency = median over completed pairs of thr_hi / (ratio · thr_lo), no
early exit. Skipped when SPARK_GRAFT_SCALING=0 (the subprocess probes use
this to avoid recursion).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "1000000"))
CACHE_ROOT = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/tmp/spark_graft_bench")


def ensure_graph_cache(spark, n_pages: int) -> tuple[str, str, float]:
    """Materialize the deterministic synthetic snapshot (pages → extraction →
    salted edge build) as parquet ONCE; the two scaling probes then run on
    the identical snapshot (north-rule requirement). Returns
    (edges_path, verts_path, build_sec)."""
    from pybiodatafuse_spark.datagen import generate_pages
    from pybiodatafuse_spark.operators.edges import build_edges, build_vertices

    base = os.path.join(CACHE_ROOT, f"v1_{n_pages}")
    e_path, v_path = os.path.join(base, "edges"), os.path.join(base, "vertices")
    done = os.path.join(base, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            txt = f.read().strip()
        try:  # original (one-time) build cost, not 0, so cache hits still report it
            return e_path, v_path, float(txt)
        except ValueError:
            return e_path, v_path, 0.0
    t0 = time.monotonic()
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
    build_sec = time.monotonic() - t0
    with open(done, "w") as f:
        f.write(f"{build_sec:.3f}")
    return e_path, v_path, build_sec


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


PROBE_STEPS = int(os.environ.get("SPARK_GRAFT_PROBE_STEPS", "10"))
# Scaling probes run on a LARGER snapshot than the headline job: with only
# ~7M edges a superstep at 16+ cores bottoms out on fixed per-superstep cost
# (job scheduling, barrier sync ≈ 2 s) and no workload can show 4× — the
# probe must measure compute scaling, so give it enough compute per step.
SCALE_PAGES = int(os.environ.get("SPARK_GRAFT_SCALE_PAGES", "4000000"))


def _pagerank_job(spark, n_pages: int):
    """The scaling-probe job: PROBE_STEPS PageRank supersteps over the cached
    snapshot. Returns (n_edges, supersteps, superstep_wall_sec, build_sec)."""
    from pybiodatafuse_spark.plans.pagerank import pagerank

    e_path, v_path, build_sec = ensure_graph_cache(spark, n_pages)
    edges = spark.read.parquet(e_path).persist()
    verts = spark.read.parquet(v_path)
    n_edges = edges.count()
    t0 = time.monotonic()
    res = pagerank(
        spark, edges, verts, tol=None, max_iter=PROBE_STEPS,
        hub_threshold=10000, num_salts=8,
    )
    res.state.unpersist()
    wall = time.monotonic() - t0
    edges.unpersist()
    # steady-state per-superstep wall: median of the post-warmup supersteps —
    # robust to transient contention spikes from co-tenants on a shared host.
    # best (min) superstep = the least-contended sample; the scaling ratio
    # uses best-on-both-sides so a co-tenant burst during either probe does
    # not masquerade as an engine scaling failure.
    steady = sorted(res.walls[2:]) if len(res.walls) > 4 else sorted(res.walls)
    median_step = steady[len(steady) // 2]
    best_step = steady[0]
    return n_edges, PROBE_STEPS, wall, build_sec, median_step, best_step


def _scale_probe(
    cpus: int, n_pages: int, shuffle_partitions: str, master: str | None = None,
    timeout_s: float = 3000,
) -> dict:
    """Run the identical pagerank job in a fresh subprocess at local[cpus]
    (or at an explicit master, e.g. local-cluster[4,2,6144] for real
    separate-JVM executors). Both sides of a pair run at the parent
    session's ``shuffle_partitions``: the session default follows the task
    slots, which would make local[1] and local[4] different jobs."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", shuffle_partitions)
    env["SPARK_GRAFT_SCALING"] = "0"
    env["SPARK_GRAFT_BENCH_PAGES"] = str(n_pages)
    if master:
        env["SPARK_GRAFT_MASTER"] = master
        # executor-mode probes are the 2nd scaling block — keep them cheap
        # (6 supersteps still leaves 4 steady samples for median/best)
        env.setdefault("SPARK_GRAFT_PROBE_STEPS", "6")
    else:
        env.pop("SPARK_GRAFT_MASTER", None)
        # thread probes: 6 supersteps (4 steady samples) — r3's 8-step
        # probes at 3 pairs overran the driver's wall budget; 4 steady
        # samples still give a robust best/median per side
        env.setdefault("SPARK_GRAFT_PROBE_STEPS", "6")
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), "--probe"],
        capture_output=True, text=True, env=env,
        timeout=max(60.0, timeout_s),
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_probe():
    from pybiodatafuse_spark.session import get_spark

    calib_before = calibrate()
    spark = get_spark("bench-probe")
    n_edges, steps, wall, _, median_step, best_step = _pagerank_job(spark, BENCH_PAGES)
    print(json.dumps({
        "n_edges": n_edges, "supersteps": steps, "sec": round(wall, 2),
        "edges_per_sec": round(n_edges * steps / wall),
        "median_superstep_sec": round(median_step, 3),
        "edges_per_sec_steady": round(n_edges / median_step),
        "best_superstep_sec": round(best_step, 3),
        "edges_per_sec_best": round(n_edges / best_step),
        # single-thread fixed-cost probe bracketing this measurement: lets a
        # reader attribute a weak pair to co-tenant load (quiet box ≈ 0.2 s)
        "calib_before": round(calib_before, 3),
        "calib_after": round(calibrate(), 3),
    }))
    spark.stop()


def main():
    if "--probe" in sys.argv:
        run_probe()
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    from pybiodatafuse_spark.session import get_spark
    import __spark_entry__ as entrymod

    # one global wall-clock deadline across headline + ANF + scaling: the
    # harness must terminate (and have emitted everything it finished)
    # inside the driver's kill window
    t_wall0 = time.monotonic()
    global_budget_s = float(os.environ.get("SPARK_GRAFT_GLOBAL_BUDGET_S", "2400"))

    def remaining() -> float:
        return global_budget_s - (time.monotonic() - t_wall0)

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
    ensure_graph_cache(spark, BENCH_PAGES)
    calib["after_build"] = round(calibrate(), 3)
    queries_calib["extract_build_edges"] = [calib["start"], calib["after_build"]]
    n_edges, steps, pr_wall, build_sec, median_step, _ = _pagerank_job(spark, BENCH_PAGES)
    queries["extract_build_edges"] = round(build_sec, 3)
    queries["pagerank_synthetic"] = round(pr_wall, 3)
    pagerank_stats = {
        "pages": BENCH_PAGES,
        "edges": n_edges,
        "supersteps": steps,
        "superstep_sec": round(pr_wall / steps, 3),
        "median_superstep_sec": round(median_step, 3),
        "edge_traversals_per_sec": round(n_edges * steps / pr_wall),
    }

    # headline 1b: CSR fast path on the same snapshot (10 supersteps)
    from pybiodatafuse_spark.plans.csr import pagerank_csr

    e_path, v_path, _ = ensure_graph_cache(spark, BENCH_PAGES)
    edges_c = spark.read.parquet(e_path).persist()
    verts_c = spark.read.parquet(v_path)
    edges_c.count()
    t0 = time.monotonic()
    pagerank_csr(spark, edges_c, verts_c, tol=None, max_iter=10)
    csr_wall = time.monotonic() - t0
    queries["pagerank_csr_synthetic"] = round(csr_wall, 3)
    pagerank_stats["csr_superstep_sec"] = round(csr_wall / 10, 3)
    edges_c.unpersist()

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
        "pagerank": pagerank_stats,
        "anf": anf_stats,
        # single-thread fixed-cost probe (sec): compare across rounds — if
        # calib moved with the headline, the swing is co-tenant load, not the
        # engine (see calibrate() docstring); quiet-box reference ≈ 0.2 s
        "calibration": calib,
        # per-query [before, after] brackets (rich line only)
        "queries_calibration": queries_calib,
    }

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0" and remaining() > 240:
        # pre-build the scaling snapshot with THIS full-width session so the
        # first local[1] probe doesn't pay the page-synthesis + edge-build
        # single-threaded (the probes only read the parquet back)
        t0 = time.monotonic()
        ensure_graph_cache(spark, SCALE_PAGES)
        queries["scale_snapshot_prebuild"] = round(time.monotonic() - t0, 3)
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.stop()

    # ---- snapshot 1: the headline phase is complete — emit it NOW so a
    # later kill cannot erase it (the consumer takes the last complete line,
    # which emit_snapshot guarantees is the compact summary)
    def emit():
        emit_snapshot(result)

    emit()

    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        # N → 4N parallelism on the identical snapshot. Default pair is
        # local[1] → local[4]: this 32-core box is SHARED and its effective
        # DRAM bandwidth fluctuates >10× with co-tenant load (see
        # BENCH/BASELINE.md controls); beyond ~4-8 threads the shuffle/join
        # workload hits the box's memory-bandwidth ceiling, which no engine
        # can scale through (on a real cluster each added executor brings its
        # own DRAM). Probes run in ADJACENT (lo, hi) pairs so a co-tenant
        # spike hits both sides of a pair.
        lo = int(os.environ.get("SPARK_GRAFT_SCALE_LO", "1"))
        hi = int(os.environ.get("SPARK_GRAFT_SCALE_HI", "4"))
        ratio = hi / lo  # actual core ratio of the configured pair
        n_pairs = int(os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "2"))
        # per-probe throughput = best (min) steady superstep: the least-
        # contended sample on each side, so a transient co-tenant burst on
        # this SHARED box during one probe can't masquerade as an engine
        # scaling failure; the ratio needs clean samples on BOTH sides.
        key = "edges_per_sec_best"
        # floor estimate for a first pair (includes the one-time 4M-page
        # snapshot build in the first subprocess); later pairs are gated on
        # 1.05x the previous pair's measured wall
        first_pair_floor = float(os.environ.get("SPARK_GRAFT_PAIR_FLOOR_S", "300"))

        def run_pairs(n, probe_lo, probe_hi, r, on_pair):
            """HONEST estimator (r2 verdict: best-of-N with early exit is a
            favorable stopping rule): run adjacent (lo, hi) pairs to
            completion — no early exit on a good pair — and take the MEDIAN
            pair efficiency as the headline. A pair is a same-conditions
            measurement (a contention window hits both sides). Only the
            GLOBAL deadline can truncate the count: before each pair the
            remaining budget is checked against the previous pair's wall
            (or the first-pair floor), and the skip count is reported.
            ``on_pair`` re-emits the full result snapshot after every
            completed pair, so an external kill keeps all finished pairs.
            If a pair FAILS (subprocess timeout / parse error) ``on_pair``
            still fires with the failure recorded, so the consumer can
            distinguish 'scaling disabled' from 'all pairs failed'."""
            out = []
            skipped = 0
            for i in range(n):
                need = out[-1][3] * 1.05 if out else first_pair_floor
                if remaining() < need:
                    skipped = n - i
                    on_pair(out, skipped, None)
                    break
                t_pair0 = time.monotonic()
                try:
                    p_lo = probe_lo()
                    p_hi = probe_hi()
                except Exception as exc:  # subprocess timeout/parse failure
                    sys.stderr.write(f"scaling pair failed: {exc!r}\n")
                    skipped = n - i
                    on_pair(out, skipped, repr(exc)[:300])
                    break
                wall = time.monotonic() - t_pair0
                out.append((p_lo, p_hi, p_hi[key] / (r * p_lo[key]), wall))
                on_pair(out, skipped, None)
            return out, skipped

        def quiet_median(runs):
            """Secondary estimator: median over pairs whose four calibration
            brackets all sit below 0.45 s (≤ ~2.25× the quiet-box 0.2 s
            reference) — a PRE-REGISTERED validity criterion on an
            independent covariate, not a favorable stopping rule. The
            all-pairs median stays the headline; this shows what the engine
            does when the shared box is actually quiet. None when no pair
            qualifies."""
            q = [
                e for pl, ph, e, _ in runs
                if all(
                    (c is not None and c < 0.45)
                    for c in (
                        pl.get("calib_before"), pl.get("calib_after"),
                        ph.get("calib_before"), ph.get("calib_after"),
                    )
                )
            ]
            if not q:
                return None, []
            q.sort()
            m = q[len(q) // 2] if len(q) % 2 else (
                q[len(q) // 2 - 1] + q[len(q) // 2]
            ) / 2
            return round(min(m, 1.0), 3), [round(e, 3) for e in q]

        def pairs_block(runs, skipped, static, error=None):
            """Assemble a scaling block from however many pairs completed —
            called after every pair so each emitted snapshot is complete.
            With ZERO completed pairs (first pair failed or budget exhausted
            before any pair started) a stub block records why the numbers
            are missing instead of omitting the block entirely."""
            if not runs:
                block = dict(static)
                block.update({
                    "all_pairs_efficiency": [],
                    "pairs_skipped_for_budget": 0 if error else skipped,
                    "pairs_failed": skipped if error else 0,
                    "error": error,
                })
                return block, None, None
            effs = sorted(e for _, _, e, _ in runs)
            med = effs[len(effs) // 2] if len(effs) % 2 else (
                effs[len(effs) // 2 - 1] + effs[len(effs) // 2]
            ) / 2
            p_lo, p_hi, best, _ = max(runs, key=lambda t: t[2])
            block = dict(static)
            block.update({
                "scale_edges": runs[0][0]["n_edges"],
                "edges_per_sec_lo": p_lo[key],
                "edges_per_sec_hi": p_hi[key],
                "all_pairs_efficiency": [round(e, 3) for _, _, e, _ in runs],
                "pair_walls_sec": [round(w, 1) for _, _, _, w in runs],
                "pairs_skipped_for_budget": 0 if error else skipped,
                # per-pair single-thread calibration brackets [lo_before,
                # lo_after, hi_before, hi_after]: quiet box ≈ 0.2 s — a weak
                # pair with inflated brackets is co-tenant load, not the
                # engine
                "pairs_calibration": [
                    [
                        pl.get("calib_before"), pl.get("calib_after"),
                        ph.get("calib_before"), ph.get("calib_after"),
                    ]
                    for pl, ph, _, _ in runs
                ],
                "best_pair_efficiency": round(min(best, 1.0), 3),
                # steady (median-superstep) throughput covariates, taken
                # from the SAME best pair as edges_per_sec_lo/hi (r4 advice:
                # mixed provenance — last pair vs best pair — misleads
                # round-over-round comparison)
                "median_steady_lo": p_lo.get("edges_per_sec_steady"),
                "median_steady_hi": p_hi.get("edges_per_sec_steady"),
                "pairs_failed": skipped if error else 0,
                "error": error,
                "selection": f"MEDIAN of {len(runs)} completed adjacent "
                             f"lo/hi pairs (no early exit), best-steady-"
                             f"superstep per probe, clamped at 1.0; "
                             f"edges_per_sec_* and median_steady_* both "
                             f"describe the best pair",
            })
            q_med, q_list = quiet_median(runs)
            block["quiet_pairs_efficiency"] = q_list
            eff = round(min(med, 1.0), 3)
            return block, eff, q_med

        t_static = {
            "cores_lo": lo,
            "cores_hi": hi,
            "pair_core_ratio": ratio,
            "scale_pages": SCALE_PAGES,
        }

        def on_thread_pair(runs, skipped, error=None):
            block, eff, q_med = pairs_block(runs, skipped, t_static, error)
            block["efficiency_n_to_4n"] = eff
            block["efficiency_n_to_4n_quiet"] = q_med
            result["scaling"] = block
            emit()

        run_pairs(
            n_pairs,
            lambda: _scale_probe(lo, SCALE_PAGES, shuffle_partitions, timeout_s=remaining()),
            lambda: _scale_probe(hi, SCALE_PAGES, shuffle_partitions, timeout_s=remaining()),
            ratio,
            on_thread_pair,
        )

        # REAL separate-JVM executors (north rule literally: "N and 4N
        # executors"): local-cluster[N, cores, mem] spawns N executor
        # processes with their own heaps. Same median-of-completed-pairs
        # estimator. Opt out with SPARK_GRAFT_SCALE_EXEC=0.
        if os.environ.get("SPARK_GRAFT_SCALE_EXEC", "1") != "0":
            n_lo = int(os.environ.get("SPARK_GRAFT_EXEC_LO", "1"))
            n_hi = int(os.environ.get("SPARK_GRAFT_EXEC_HI", "4"))
            cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
            mem = os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "6144")
            e_pairs = int(os.environ.get("SPARK_GRAFT_EXEC_PAIRS", "2"))
            e_ratio = n_hi / n_lo
            e_static = {
                "executors_lo": n_lo,
                "executors_hi": n_hi,
                "cores_per_executor": cores,
                "executor_mem_mb": int(mem),
            }

            def on_exec_pair(runs, skipped, error=None):
                block, eff, q_med = pairs_block(runs, skipped, e_static, error)
                block["efficiency_n_to_4n_executors"] = eff
                block["efficiency_n_to_4n_executors_quiet"] = q_med
                result["scaling_executors"] = block
                emit()

            run_pairs(
                e_pairs,
                lambda: _scale_probe(
                    n_lo * cores, SCALE_PAGES, shuffle_partitions,
                    f"local-cluster[{n_lo},{cores},{mem}]",
                    timeout_s=remaining(),
                ),
                lambda: _scale_probe(
                    n_hi * cores, SCALE_PAGES, shuffle_partitions,
                    f"local-cluster[{n_hi},{cores},{mem}]",
                    timeout_s=remaining(),
                ),
                e_ratio,
                on_exec_pair,
            )

    result["wall_total_sec"] = round(time.monotonic() - t_wall0, 1)
    emit()


if __name__ == "__main__":
    main()
