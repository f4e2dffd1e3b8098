"""Connected components: the one plan (min-label flooding) exact vs
union-find oracle, on the pages fixture and on adversarial random graphs
(paths, stars, forests)."""

from __future__ import annotations

import numpy as np
import pytest

from pybiodatafuse_spark.plans.components import components
from tests.graph_fixture import oracle_edges
from tests.oracles import components_oracle

N = 400


@pytest.mark.parametrize("algorithm", ["hash_min"])
def test_components_match_oracle_on_pages(spark, graph400, algorithm):
    verts, edges, page_to_id = graph400
    got = {
        r["id"]: r["component"]
        for r in components(spark, edges, verts, algorithm=algorithm).collect()
    }
    want = components_oracle(
        [(s, d) for s, d, _ in oracle_edges(N, page_to_id)], set(page_to_id.values())
    )
    assert got == want
    assert len(set(got.values())) >= 2  # fixture guarantees ≥2 components


@pytest.mark.parametrize("algorithm", ["hash_min"])
@pytest.mark.parametrize("case", ["path", "random_forest", "star", "isolated"])
def test_components_adversarial(spark, algorithm, case):
    rng = np.random.default_rng(7)
    if case == "path":  # long path: worst case for plain min-flooding
        vs = list(range(100, 124))
        es = [(vs[i], vs[i + 1]) for i in range(len(vs) - 1)]
    elif case == "random_forest":
        vs = list(range(200))
        es = [(int(rng.integers(0, i)), i) for i in range(1, 200) if rng.random() < 0.7]
    elif case == "star":
        vs = list(range(50))
        es = [(49, i) for i in range(49)]  # min id at a leaf
    else:
        vs = list(range(10))
        es = [(1, 2)]
    edges = spark.createDataFrame(
        [(int(a), int(b), 1.0, 1) for a, b in es], "src long, dst long, weight double, etype int"
    )
    verts = spark.createDataFrame([(int(v),) for v in vs], "id long")
    got = {
        r["id"]: r["component"]
        for r in components(spark, edges, verts, algorithm=algorithm, max_iter=60).collect()
    }
    want = components_oracle(es, set(vs))
    assert got == want


def _chain(spark, n):
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0, 1) for i in range(n - 1)],
        "src long, dst long, weight double, etype int",
    )
    return edges, spark.createDataFrame([(i,) for i in range(n)], "id long")


@pytest.mark.parametrize("algorithm,max_iter", [("hash_min", 10)])
def test_components_raise_instead_of_truncating(spark, algorithm, max_iter):
    # a 60-vertex chain needs 60 hash_min supersteps; 10 used to return 50
    # truncated components without a word
    edges, verts = _chain(spark, 60)
    with pytest.raises(RuntimeError, match="did not converge"):
        components(spark, edges, verts, algorithm=algorithm, max_iter=max_iter).collect()


def test_components_reject_retired_algorithm(spark):
    edges, verts = _chain(spark, 3)
    with pytest.raises(ValueError, match="two_phase"):
        components(spark, edges, verts, algorithm="two_phase")


@pytest.mark.parametrize("algorithm", ["hash_min"])
def test_components_without_edges_converge(spark, algorithm):
    edges, _ = _chain(spark, 1)
    verts = spark.createDataFrame([(i,) for i in range(3)], "id long")
    got = {
        r["id"]: r["component"]
        for r in components(spark, edges, verts, algorithm=algorithm).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2}
