"""The bench's stdout contract: the last line is a compact summary under
1500 chars, enforced with a raise (kept under ``python -O``)."""

from __future__ import annotations

import json

import pytest

import bench


def _rich_result() -> dict:
    """A rich snapshot shaped like a full bench run: every headline query,
    both scaling blocks with their per-pair diagnostics."""
    pairs = [0.81, 0.79, 0.84, 0.77, 0.8]
    scaling = {
        "all_pairs_efficiency": pairs,
        "pair_walls_sec": [[41.2, 12.9]] * 5,
        "pairs_calibration": [{"start": 1.0, "end": 1.1}] * 5,
        "selection": "median over completed pairs " * 8,
        "median_steady_lo": 1.9,
        "median_steady_hi": 0.6,
    }
    return {
        "metric": "headline_queries_total",
        "value": 151.2,
        "unit": "sec",
        "queries": {
            name: 12.345
            for name in (
                "extract_build_edges", "pagerank_synthetic",
                "pagerank_csr_synthetic", "q01_pricing_summary",
                "q17_triangles", "q19_pagerank5", "q25_minhash_lsh",
                "q28_knn_bruteforce", "q31_sessionize", "scale_snapshot_prebuild",
            )
        },
        "sf": "/data/sf0.1",
        "pagerank": {"edge_traversals_per_sec": 2.1e6, "supersteps": 31,
                     "superstep_sec": [0.9] * 31},
        "anf": {"sec": 14.2, "hops": 3},
        "calibration": {"start": 1.02, "after_build": 1.0, "end": 1.05},
        "queries_calibration": {"q01_pricing_summary": [1.0, 1.1]},
        "scaling": {**scaling, "efficiency_n_to_4n": 0.8},
        "scaling_executors": {**scaling, "efficiency_n_to_4n_executors": 0.88},
        "wall_total_sec": 2310.0,
    }


def test_compact_summary_fits_the_line_budget():
    rich = _rich_result()
    compact = bench.compact_summary(rich)
    line = json.dumps(compact)
    assert len(line) < 1500, len(line)
    assert len(json.dumps(rich)) > len(line)
    assert compact["value"] == 151.2 and compact["queries"] == rich["queries"]
    assert compact["efficiency_n_to_4n_executors"] == 0.88
    assert compact["pairs"] == rich["scaling"]["all_pairs_efficiency"]
    assert "pair_walls_sec" not in line


def test_emit_snapshot_raises_on_an_oversized_compact_line(monkeypatch, tmp_path, capsys):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "compact_summary", lambda r: {"pad": "x" * 1500})
    with pytest.raises(ValueError, match="compact bench line"):
        bench.emit_snapshot({"metric": "m"})
    assert "x" * 1500 not in capsys.readouterr().out
