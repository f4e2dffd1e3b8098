"""Triangle counting exact vs brute-force oracle; invariance under edge
permutation/direction flips (SURVEY.md §5 property 4)."""

from __future__ import annotations

import numpy as np

from pybiodatafuse_spark.plans.triangles import triangles
from tests.graph_fixture import id_maps, oracle_edges, spark_graph
from tests.oracles import triangles_oracle

N = 400


def test_triangles_match_oracle_on_pages(spark, pages_df):
    verts, edges = spark_graph(pages_df)
    _, page_to_id = id_maps(verts)
    es = [(s, d) for s, d, _ in oracle_edges(N, page_to_id)]
    want_total, want_per = triangles_oracle(es, set(page_to_id.values()))
    total, per_vertex = triangles(spark, edges)
    assert total == want_total
    assert want_total > 0  # fixture guarantees triangles exist
    got_per = {r["id"]: r["triangles"] for r in per_vertex.collect()}
    assert got_per == {k: v for k, v in want_per.items() if v > 0}


def test_triangles_direction_invariant(spark):
    rng = np.random.default_rng(11)
    es = list({(int(rng.integers(0, 40)), int(rng.integers(0, 40))) for _ in range(200)})
    es = [(a, b) for a, b in es if a != b]
    vs = set(range(40))
    want_total, _ = triangles_oracle(es, vs)
    fwd = spark.createDataFrame(
        [(a, b, 1.0, 1) for a, b in es], "src long, dst long, weight double, etype int"
    )
    flipped = spark.createDataFrame(
        [(b, a, 1.0, 1) for a, b in es], "src long, dst long, weight double, etype int"
    )
    assert triangles(spark, fwd)[0] == want_total
    assert triangles(spark, flipped)[0] == want_total


def test_triangles_frees_its_edge_cache(spark):
    """One call leaves exactly one new persistent RDD — the triangle set
    behind ``per_vertex`` — and ``per_vertex`` still reads correctly after
    the oriented-edge cache is released."""
    rng = np.random.default_rng(5)
    es = list({(int(rng.integers(0, 300)), int(rng.integers(0, 300))) for _ in range(2000)})
    es = [(a, b) for a, b in es if a != b]
    want_total, want_per = triangles_oracle(es, set(range(300)))
    edges = spark.createDataFrame(
        [(a, b, 1.0, 1) for a, b in es], "src long, dst long, weight double, etype int"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    total, per_vertex = triangles(spark, edges)
    assert jsc.getPersistentRDDs().size() - before == 1
    assert total == want_total > 0
    got_per = {r["id"]: r["triangles"] for r in per_vertex.collect()}
    assert got_per == {k: v for k, v in want_per.items() if v > 0}
