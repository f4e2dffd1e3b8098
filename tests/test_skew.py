"""Empirical skew handling: hub salting must spread a hub's adjacency over
multiple shuffle partitions in the superstep join (north rule: a hub domain
must not serialize a shuffle partition)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.pagerank import _prepare, pagerank


def _hub_graph(spark, n=2000):
    # vertex 0 is a hub SOURCE with n-1 out-edges; plus a sparse ring
    rows = [(0, i, 1.0, 1) for i in range(1, n)]
    rows += [(i, (i % (n - 1)) + 1, 1.0, 1) for i in range(1, n)]
    return spark.createDataFrame(rows, "src long, dst long, weight double, etype int")


def test_hub_edges_spread_across_salt_buckets(spark):
    edges = _hub_graph(spark)
    edges_norm, init, salted, _ = _prepare(edges, None, 8, 1000)
    assert salted  # the hub trips the adaptive salting on
    hub_salts = (
        edges_norm.where(F.col("src") == 0)
        .groupBy("salt").count().collect()
    )
    assert len(hub_salts) == 8  # hub adjacency split over all 8 buckets
    counts = [r["count"] for r in hub_salts]
    assert max(counts) < 2 * min(counts)  # roughly even spread
    non_hub = edges_norm.where(F.col("src") != 0).select("salt").distinct().collect()
    assert [r["salt"] for r in non_hub] == [0]  # non-hub rank rows not replicated
    edges_norm.unpersist()


def test_salted_pagerank_correct_on_hub_graph(spark):
    from tests.oracles import pagerank_oracle

    edges = _hub_graph(spark, 500)
    res = pagerank(spark, edges, tol=None, max_iter=15, hub_threshold=100, num_salts=8)
    got = {r["id"]: r["rank"] for r in res.state.select("id", "rank").collect()}
    es = [(0, i, 1.0) for i in range(1, 500)] + [
        (i, (i % 499) + 1, 1.0) for i in range(1, 500)
    ]
    want = pagerank_oracle(es, set(range(500)), tol=0.0, max_iter=15)
    assert max(abs(got[k] - want[k]) for k in want) < 1e-12
