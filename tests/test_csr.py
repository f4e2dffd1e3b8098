"""CSR fast path: identical results to the DataFrame PageRank (1e-12) and
the integrity of the spilled .npz blocks."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.csr import pagerank_csr, spill_csr_blocks
from pybiodatafuse_spark.plans.pagerank import pagerank


@pytest.fixture(scope="module")
def graph(graph400):
    verts, edges, _ = graph400
    return verts, edges


def test_csr_matches_dataframe_path(spark, graph):
    verts, edges = graph
    a = pagerank(spark, edges, verts, tol=None, max_iter=8, hub_threshold=5)
    b = pagerank_csr(spark, edges, verts, tol=None, max_iter=8, num_blocks=8)
    ra = {r["id"]: r["rank"] for r in a.state.select("id", "rank").collect()}
    rb = {r["id"]: r["rank"] for r in b.state.select("id", "rank").collect()}
    assert ra.keys() == rb.keys()
    assert max(abs(ra[k] - rb[k]) for k in ra) < 1e-12


def test_csr_convergence(spark, graph):
    """The CSR path's STOPPING machinery (tol reached → converged flag, mass
    conserved). tol=1e-4 keeps this ~30 supersteps cheaper than a full 1e-6
    run; the north-rule 1e-6 convergence itself is covered once in
    test_pagerank (DataFrame path) + gate q40, and CSR↔DataFrame identity is
    pinned at 1e-12 by test_csr_matches_dataframe_path above."""
    verts, edges = graph
    res = pagerank_csr(spark, edges, verts, tol=1e-4, max_iter=120, num_blocks=8)
    assert res.converged and res.deltas[-1] < 1e-4
    total = res.state.agg(F.sum("rank").alias("s")).first()["s"]
    assert abs(total - 1.0) < 1e-9


def test_block_structure(spark, graph, tmp_path):
    """The blocks ``spill_csr_blocks`` writes: one CSR block per pid holding
    exactly the sources ≡ pid mod num_blocks, every edge once, and each
    source's fractions summing to 1."""
    _, edges = graph
    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    edges_norm = edges.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_w")).alias("frac")
    )
    store = str(tmp_path / "blocks")
    pids = spill_csr_blocks(edges_norm, store, num_blocks=4)
    assert pids and len(set(pids)) == len(pids)
    n_edges = 0
    for pid in pids:
        with np.load(os.path.join(store, f"pid_{pid}.npz")) as z:
            srcs, indptr, dsts, fracs = z["srcs"], z["indptr"], z["dsts"], z["fracs"]
        assert len(indptr) == len(srcs) + 1
        assert indptr[-1] == len(dsts) == len(fracs)
        assert (srcs % 4 == pid).all()
        n_edges += len(dsts)
        frac_sums = np.add.reduceat(fracs, indptr[:-1])
        assert np.abs(frac_sums - 1.0).max() < 1e-9
    assert n_edges == edges.count()


def test_sidecar_respill_same_store_invalidates(spark, tmp_path):
    """Re-spilling DIFFERENT edges into the SAME store path must not serve
    stale cached blocks from reused Python workers (content-aware cache key)."""
    store = str(tmp_path / "csr_store")
    e1 = spark.createDataFrame(
        [(i, (i + 1) % 20, 1.0, 1) for i in range(20)],
        "src long, dst long, weight double, etype int",
    )
    e2 = spark.createDataFrame(
        [(i, (i + 7) % 20, 1.0, 1) for i in range(20)]
        + [(0, 13, 4.0, 1), (5, 2, 2.0, 1)],
        "src long, dst long, weight double, etype int",
    )
    # run 1 populates worker caches for this store path
    pagerank_csr(spark, e1, tol=None, max_iter=3, num_blocks=4, block_store=store)
    # run 2 re-spills different edges into the SAME path
    got = pagerank_csr(spark, e2, tol=None, max_iter=5, num_blocks=4, block_store=store)
    want = pagerank_csr(
        spark, e2, tol=None, max_iter=5, num_blocks=4,
        block_store=str(tmp_path / "fresh_store"),
    )
    g = {r["id"]: r["rank"] for r in got.state.select("id", "rank").collect()}
    w = {r["id"]: r["rank"] for r in want.state.select("id", "rank").collect()}
    assert g.keys() == w.keys()
    assert max(abs(g[k] - w[k]) for k in g) < 1e-15
