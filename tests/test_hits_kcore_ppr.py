"""HITS / k-core / personalized-PageRank / host-rollup vs pure-Python oracles
(SURVEY.md §5 differential-oracle strategy), on the deterministic 400-page
link graph."""

from __future__ import annotations

from urllib.parse import urlsplit

import pytest
from pyspark.sql import functions as F

from tests.graph_fixture import oracle_edges
from tests.oracles import hits_oracle, k_core_oracle, ppr_oracle

N = 400


@pytest.fixture(scope="module")
def graph(graph400):
    return graph400


def test_hits_fixed_iterations(spark, graph):
    from pybiodatafuse_spark.plans.hits import hits

    verts, edges, page_to_id = graph
    got = {
        r["id"]: (r["auth"], r["hub"])
        for r in hits(spark, edges, verts, tol=None, max_iter=5).collect()
    }
    oe = [(s, d) for s, d, _ in oracle_edges(N, page_to_id)]
    want = hits_oracle(oe, set(page_to_id.values()), max_iter=5)
    assert set(got) == set(want)
    for v, (a, h) in want.items():
        assert got[v][0] == pytest.approx(a, abs=1e-9)
        assert got[v][1] == pytest.approx(h, abs=1e-9)
    # L2 norms are exactly 1 after the final normalization
    assert sum(a * a for a, _ in got.values()) == pytest.approx(1.0, abs=1e-9)
    assert sum(h * h for _, h in got.values()) == pytest.approx(1.0, abs=1e-9)


def test_hits_convergence(spark, graph):
    from pybiodatafuse_spark.plans.hits import hits

    verts, edges, page_to_id = graph
    # fixed-iteration trajectory equality vs the mirroring oracle — a
    # STRICTER check than approx convergence (1e-9 at the same iterate) at
    # a fraction of the superstep count
    got = {
        r["id"]: r["auth"] for r in hits(spark, edges, verts, tol=None,
                                         max_iter=12).collect()
    }
    oe = [(s, d) for s, d, _ in oracle_edges(N, page_to_id)]
    want = hits_oracle(oe, set(page_to_id.values()), max_iter=12)
    for v, (a, _) in want.items():
        assert got[v] == pytest.approx(a, abs=1e-9)


@pytest.mark.parametrize("k", [2, 3])
def test_k_core(spark, graph, k):
    from pybiodatafuse_spark.plans.kcore import k_core

    verts, edges, page_to_id = graph
    got = {r["id"]: r["core_deg"] for r in k_core(spark, edges, k=k).collect()}
    oe = [(s, d) for s, d, _ in oracle_edges(N, page_to_id)]
    want = k_core_oracle(oe, k)
    assert got == want
    assert all(d >= k for d in got.values())


def test_k_core_max_rounds_truncation(spark, graph):
    """A 1-round cap must equal exactly one synchronous peel round."""
    from pybiodatafuse_spark.plans.kcore import k_core

    verts, edges, page_to_id = graph
    got = {
        r["id"]: r["core_deg"]
        for r in k_core(spark, edges, k=3, max_rounds=1).collect()
    }
    # one round by hand on the oracle graph
    from collections import defaultdict

    nbrs: dict[int, set[int]] = defaultdict(set)
    for s, d, _ in oracle_edges(N, page_to_id):
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    alive = set(nbrs)
    doomed = {v for v in alive if len(nbrs[v]) < 3}
    alive -= doomed
    want = {v: len(nbrs[v] & alive) for v in alive if len(nbrs[v]) >= 3}
    want = {v: d for v, d in want.items() if d >= 3}
    assert got == want


def test_personalized_pagerank(spark, graph):
    from pybiodatafuse_spark.plans.pagerank import pagerank

    verts, edges, page_to_id = graph
    seed_pages = [p for p in range(N) if p % 5 == 0]
    seed_ids = {page_to_id[p] for p in seed_pages}
    seeds_df = spark.createDataFrame(
        [(i,) for i in sorted(seed_ids)], "id long"
    )
    res = pagerank(
        spark, edges, verts, tol=None, max_iter=10, hub_threshold=5,
        reset=seeds_df,
    )
    got = {r["id"]: r["rank"] for r in res.state.collect()}
    want = ppr_oracle(
        oracle_edges(N, page_to_id), set(page_to_id.values()), seed_ids,
        max_iter=10,
    )
    for v, r in want.items():
        assert got[v] == pytest.approx(r, abs=1e-9)
    # PPR conserves total mass at 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    # non-seed dangling-free sinks only receive damped mass: every seed holds
    # at least the undamped teleport share
    floor = (1.0 - 0.85) / len(seed_ids)
    assert all(got[s] >= floor - 1e-12 for s in seed_ids)


def test_ppr_resume_restart_matches_uninterrupted(spark, graph, tmp_path):
    """A PPR run stopped after its step-2 checkpoint and resumed to
    ``max_iter`` ends on the uninterrupted ranks: the resumed first superstep
    recomputes the dangling mass from the seeded state, and the teleport
    still returns only to the seeds."""
    from pybiodatafuse_spark.plans.pagerank import pagerank
    from pybiodatafuse_spark.storage import Storage, new_run_id

    verts, edges, page_to_id = graph
    seeds_df = spark.createDataFrame(
        [(page_to_id[p],) for p in range(0, N, 5)], "id long"
    )
    kw = dict(tol=None, max_iter=4, hub_threshold=5, reset=seeds_df)
    full = pagerank(spark, edges, verts, **kw)
    store = Storage(str(tmp_path / "store"))
    run_id = new_run_id()
    pagerank(
        spark, edges, verts, **{**kw, "max_iter": 2}, storage=store,
        run_id=run_id, checkpoint_every=2,
    )
    resumed = pagerank(
        spark, edges, verts, **kw, storage=store, run_id=run_id,
        checkpoint_every=2, resume=True,
    )
    assert resumed.supersteps == 4 and len(resumed.deltas) == 2
    a = {r["id"]: r["rank"] for r in full.state.select("id", "rank").collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.select("id", "rank").collect()}
    assert a.keys() == b.keys()
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12


def test_ppr_empty_seeds_raises(spark, graph):
    from pybiodatafuse_spark.plans.pagerank import pagerank

    verts, edges, _ = graph
    empty = spark.createDataFrame([], "id long")
    with pytest.raises(ValueError, match="seed set"):
        pagerank(spark, edges, verts, tol=None, max_iter=2, reset=empty)


def test_host_graph_rollup(spark, graph):
    """host_graph on the REAL extraction pipeline vertices (urls from
    datagen) vs a collected pure-Python rollup."""
    from pybiodatafuse_spark.operators.hostgraph import host_graph

    verts, edges, _ = graph
    got = {
        (r["src_host"], r["dst_host"]): (r["weight"], r["n_src_pages"])
        for r in host_graph(edges, verts).collect()
    }
    vrows = {r["id"]: r["url"] for r in verts.select("id", "url").collect()}
    from collections import defaultdict

    agg_w: dict[tuple[str, str], float] = defaultdict(float)
    agg_p: dict[tuple[str, str], set] = defaultdict(set)
    for r in edges.select("src", "dst", "weight").collect():
        su, du = vrows.get(r["src"]), vrows.get(r["dst"])
        if su is None or du is None:
            continue
        key = (urlsplit(su).hostname, urlsplit(du).hostname)
        agg_w[key] += r["weight"]
        agg_p[key].add(r["src"])
    want = {k: (w, len(agg_p[k])) for k, w in agg_w.items()}
    assert set(got) == set(want)
    for k, (w, np_) in want.items():
        assert got[k][0] == pytest.approx(w)
        assert got[k][1] == np_


def test_host_of_null_for_non_urls(spark):
    from pybiodatafuse_spark.operators.hostgraph import host_of

    df = spark.createDataFrame(
        [("http://A.Example/x",), ("mailto:a@b.c",), ("not a url",),
         ("https://u:p@h.example:8443/q?a=1",)],
        "u string",
    )
    got = [r["h"] for r in df.select(host_of(F.col("u")).alias("h")).collect()]
    assert got == ["a.example", None, None, "h.example"]
