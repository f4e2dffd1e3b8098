"""The bench's stdout contract (the last line is a compact summary under
1500 chars, enforced with a raise kept under ``python -O``), its host-fitted
scaling pairs and its snapshot cache."""

from __future__ import annotations

import json
import re

import pytest

import bench

GiB = 1 << 30

# the driver-facing keys of the compact line; a full run carries all of them
COMPACT_KEYS = {
    "metric", "value", "unit", "queries", "sf", "pagerank_edges_per_sec",
    "pagerank_supersteps", "anf_sec", "calib", "efficiency_n_to_4n", "pairs",
    "efficiency_n_to_4n_executors", "pairs_executors", "wall_total_sec",
}


def _runs(effs):
    probe = {"n_edges": 6_776_890, "edges_per_sec_best": 1.0e6,
             "edges_per_sec_steady": 0.9e6, "calib_before": 0.2, "calib_after": 0.21}
    return [(probe, dict(probe, edges_per_sec_best=4.0e6 * e), e, 140.0) for e in effs]


def _rich_result() -> dict:
    """A rich snapshot shaped like a full bench run: every headline query,
    both scaling blocks (built by ``pairs_block``) with their per-pair
    diagnostics."""
    threads, executors = bench.pair_specs(4, 15 * GiB)
    return {
        "metric": "headline_queries_total",
        "value": 151.2,
        "unit": "sec",
        "queries": {
            name: 12.345
            for name in (
                "extract_build_edges", "pagerank_synthetic",
                "q01_pricing_summary", "q17_triangles",
                "q19_pagerank5", "q25_minhash_lsh",
                "q28_knn_bruteforce", "q31_sessionize",
            )
        },
        "sf": "/data/sf0.1",
        "host": {"nproc": 4, "mem_total_mb": 15 * 1024, "python": "3.11.7",
                 "spark": "4.1.2", "java": "17.0.20", "git_sha": "0" * 40},
        "pagerank": {"edge_traversals_per_sec": 2.1e6, "supersteps": 31,
                     "superstep_sec": [0.9] * 31},
        "anf": {"sec": 14.2, "hops": 3},
        "calibration": {"start": 1.02, "after_build": 1.0, "end": 1.05},
        "queries_calibration": {"q01_pricing_summary": [1.0, 1.1]},
        "scaling": bench.pairs_block(threads, _runs([0.81, 0.79, 0.84, 0.77, 0.8])),
        "scaling_executors": bench.pairs_block(executors, _runs([0.9, 0.88, 0.86])),
        "wall_total_sec": 2310.0,
    }


def test_compact_summary_fits_the_line_budget():
    rich = _rich_result()
    compact = bench.compact_summary(rich)
    line = json.dumps(compact)
    assert len(line) < 1500, len(line)
    assert len(json.dumps(rich)) > len(line)
    assert compact["value"] == 151.2 and compact["queries"] == rich["queries"]
    assert compact["efficiency_n_to_4n"] == 0.8
    assert compact["efficiency_n_to_4n_executors"] == 0.88
    assert compact["pairs"] == rich["scaling"]["all_pairs_efficiency"]
    assert compact["pairs_executors"] == [0.9, 0.88, 0.86]
    assert "pair_walls_sec" not in line
    assert set(compact) == COMPACT_KEYS


def test_emit_snapshot_raises_on_an_oversized_compact_line(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "compact_summary", lambda r: {"pad": "x" * 1500})
    with pytest.raises(ValueError, match="compact bench line"):
        bench.emit_snapshot({"metric": "m"})
    assert "x" * 1500 not in capsys.readouterr().out


def _slots(master: str) -> int:
    """Task slots a probe master asks for."""
    m = re.fullmatch(r"local\[(\d+)\]|local-cluster\[(\d+),(\d+),\d+\]", master)
    return int(m[1]) if m[1] else int(m[2]) * int(m[3])


def test_pair_specs_fit_a_4_core_15_gib_host():
    specs = bench.pair_specs(4, 15 * GiB)
    assert [(s["block"], s["efficiency"]) for s in specs] == [
        ("scaling", "efficiency_n_to_4n"),
        ("scaling_executors", "efficiency_n_to_4n_executors"),
    ]
    for s in specs:
        lo, hi = (_slots(m) for m in s["masters"])
        assert s["error"] is None and hi == 4 * lo <= 4
        assert s["cores"] == [lo, hi]
    ex = specs[1]
    assert ex["masters"] == [f"local-cluster[1,1,{ex['mem_mb']}]",
                             f"local-cluster[4,1,{ex['mem_mb']}]"]
    # four executor heaps plus the probe's driver heap fit in memory
    assert (4 * ex["mem_mb"] + ex["mem_mb"]) << 20 <= 15 * GiB


def test_pair_specs_keep_two_cores_per_executor_on_a_32_core_host():
    ex = bench.pair_specs(32, 64 * GiB)[1]
    assert ex["masters"] == ["local-cluster[1,2,6144]", "local-cluster[4,2,6144]"]
    assert ex["cores"] == [2, 8] and ex["error"] is None


def test_pairs_below_4_cores_are_stubs_that_name_the_core_count(monkeypatch):
    specs = bench.pair_specs(2, 8 * GiB)
    assert all("2 cores" in s["error"] for s in specs)

    def no_probe(*a, **k):
        raise AssertionError("a stub pair must not start a probe")

    monkeypatch.setattr(bench, "_scale_probe", no_probe)
    monkeypatch.setattr(bench, "emit_snapshot", lambda result: None)
    result = _rich_result()
    for spec in specs:
        bench.run_pairs(spec, result, "2", lambda: 1e9)
    compact = bench.compact_summary(result)
    for block, eff, pairs in (("scaling", "efficiency_n_to_4n", "pairs"),
                              ("scaling_executors", "efficiency_n_to_4n_executors",
                               "pairs_executors")):
        assert "2 cores" in result[block]["error"]
        assert compact[eff] is None and compact[pairs] == []


def test_cache_hit_reports_cached_without_building(monkeypatch, tmp_path):
    monkeypatch.setattr(bench, "CACHE_ROOT", str(tmp_path))
    base = tmp_path / "v1_10"
    base.mkdir()
    (base / "_DONE").write_text("62.1")  # an old sidecar's build seconds
    # no session: any attempt to build would fail
    assert bench.ensure_graph_cache(None, 10) == (
        str(base / "edges"), str(base / "vertices"), True
    )
