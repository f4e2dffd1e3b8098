"""Multi-source BFS distances + the neighborhood function (ANF).

Reference anchor: the reference's graph analysis is driver-side networkx
(``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:60-80``); hop
distances from seed sets and per-vertex neighborhood growth are the
link-graph analogues a crawl-graph user asks of it (distance from seed
domains, effective-diameter estimation).

Three operators:

- :func:`bfs_distances` — frontier-driven multi-source BFS along edge
  direction on :func:`~pybiodatafuse_spark.plans.superstep.iterate`: per
  superstep only the newly reached frontier joins the (pinned,
  pre-partitioned) edge list; state = (id, dist) grows monotonically and
  stays co-partitioned with each hop's new rows. O(diameter) supersteps,
  each shuffling O(frontier).
- :func:`neighborhood_sizes` — EXACT h-hop neighborhood function
  ``N(v, h) = |{u : dist(v,u) ≤ h}|`` (self included) by iterated distinct
  pair expansion. Exact and gate-able against a recursive-CTE oracle, but the
  pair set is O(V·N̄) — the correctness baseline, not the scale path.
- :func:`anf_hll` — the scale path: ANF via HyperLogLog sketches
  (Palmer/Gibbons/Faloutsos "ANF: A Fast and Scalable Tool for Data Mining
  in Massive Graphs", KDD'02 — with HLL registers instead of FM bitmasks).
  Per vertex one fixed-size sketch (Spark's built-in datasketches
  ``hll_sketch_agg`` / ``hll_union_agg`` — all JVM-side, no Python);
  superstep: ``sk(v) ← sk(v) ∪ ⋃_{(v,u)∈E} sk(u)``. State is O(V · 2^lgk)
  bytes regardless of neighborhood size — this is what runs at 10^12 pages,
  and what effective-diameter estimates are read from. Deterministic for a
  given input (register-max is order-independent); accuracy vs the exact
  operator is asserted in tests/test_bfs_anf.py.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pin


def simple_edges(edges: DataFrame) -> DataFrame:
    """``(src, dst)`` without self-loops or parallel edges."""
    return (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _expand(
    spark: SparkSession,
    edges: DataFrame,
    origins: DataFrame,
    *,
    label: list[str],
    algorithm: str,
    max_iter: int,
) -> SuperstepResult:
    """Labeled frontier BFS on :func:`iterate`. ``origins`` holds the
    ``(*label, id)`` rows at hop 0; the state is the reached set
    ``(*label, id, dist)``, hash-partitioned on ``(*label, id)`` at the
    session shuffle-partition count like every hop's deduplicated new rows,
    so each hop's union keeps one partitioning. Hop ``k`` joins only the
    rows at ``dist = k-1`` with the pinned edge list, and its delta is the
    number of rows it added, so ``tol=0.5`` stops at the reachability
    fixpoint."""
    keys = [*label, "id"]
    e = pin(simple_edges(edges), "src")

    def step(state: DataFrame, k: int, carry: dict):
        frontier = state.where(F.col("dist") == k - 1)
        nxt = (
            frontier.hint("shuffle_hash")
            .join(e, frontier["id"] == e["src"])
            .select(*label, F.col("dst").alias("id"))
            .dropDuplicates(keys)
            .join(state.select(*keys), keys, "left_anti")
            .select(*keys, F.lit(k).cast("long").alias("dist"))
        )
        return state.unionByName(nxt), (F.col("dist") == k).cast("long"), None

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    res = iterate(
        spark,
        origins.select(*keys)
        .dropDuplicates(keys)
        .repartition(parts, *keys)
        .withColumn("dist", F.lit(0).cast("long")),
        step,
        algorithm=algorithm,
        max_iter=max_iter,
        tol=0.5,
    )
    e.unpersist()
    return res


def _reach(
    spark: SparkSession,
    edges: DataFrame,
    origins: DataFrame,
    *,
    label: list[str],
    algorithm: str,
    max_hops: int,
    allow_truncate: bool,
) -> DataFrame:
    """:func:`_expand` to the reachability fixpoint. One hop past the cap
    tells a complete result from a truncated one: if it still adds rows,
    raise — or, with ``allow_truncate``, return the rows within the cap."""
    res = _expand(
        spark, edges, origins, label=label, algorithm=algorithm,
        max_iter=max_hops + 1,
    )
    if res.converged:
        return res.state
    if not allow_truncate:
        raise RuntimeError(
            f"{algorithm}: frontier still expanding after {max_hops} hops; "
            f"raise max_hops or pass allow_truncate=True"
        )
    return res.state.where(F.col("dist") <= max_hops)


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 300,
    allow_truncate: bool = False,
) -> DataFrame:
    """Minimum hop count from any seed, along edge direction.

    ``seeds``: DataFrame with column ``id``. Returns ``(id: long,
    dist: long)`` for REACHED vertices only (seeds at dist 0); unreachable
    vertices are absent — left-join against the vertex set for ∞ semantics.

    Runs to the reachability fixpoint (the loop exits as soon as a hop adds
    nothing, so the cap is never paid on graphs with diameter < ``max_hops``
    — the common case). If vertices would STILL be reachable past
    ``max_hops``, raises ``RuntimeError`` instead of silently returning a
    truncated distance map; pass ``allow_truncate=True`` to accept the
    bounded-radius result explicitly (e.g. "distances within k hops of the
    seed domains" at crawl scale). Default cap matches the 300-level
    recursive-CTE unroll of the q55/q61 DuckDB oracles.
    """
    return _reach(
        spark, edges, seeds, label=[], algorithm="bfs_distances",
        max_hops=max_hops, allow_truncate=allow_truncate,
    )


def harmonic_centrality(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    *,
    max_hops: int = 300,
    allow_truncate: bool = False,
) -> DataFrame:
    """Sampled harmonic centrality: ``h(v) = Σ_{s ∈ sources, s ≠ v,
    s ⇝ v} 1 / dist(s, v)`` with distances measured along edge direction
    from a seed sample (the standard estimator — exact when ``sources`` is
    every vertex; at crawl scale pass a hash-mod sample and scale by the
    sampling rate). Returns ``(id, harmonic)`` for vertices reached by ≥1
    source.

    One labeled multi-origin BFS: state = (s, id, dist) pairs, frontier =
    pairs added last hop; the edge list is pinned on the join key once, so
    each hop shuffles only the O(frontier) pair set. Like
    :func:`bfs_distances`, runs to the reachability fixpoint and raises if
    pairs would still be expanding past ``max_hops`` unless
    ``allow_truncate=True`` (bounded-radius estimator mode).
    """
    reached = _reach(
        spark, edges, sources.select(F.col("id").alias("s"), "id"), label=["s"],
        algorithm="harmonic_centrality", max_hops=max_hops,
        allow_truncate=allow_truncate,
    )
    return (
        reached.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(1.0 / F.col("dist")).alias("harmonic"))
    )


def neighborhood_sizes(
    spark: SparkSession,
    edges: DataFrame,
    *,
    hops: int = 3,
) -> DataFrame:
    """EXACT ``(id, n_within)``: distinct vertices within ≤ ``hops`` forward
    hops of each vertex, self included. Materializes the bounded closure —
    use :func:`anf_hll` at scale."""
    origins = vertex_ids(simple_edges(edges)).select(F.col("id").alias("a"), "id")
    res = _expand(
        spark, edges, origins, label=["a"], algorithm="neighborhood_sizes",
        max_iter=hops,
    )
    return res.state.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("n_within")
    )


def _hll_flood(
    spark: SparkSession,
    edges: DataFrame,
    *,
    lgk: int,
    algorithm: str,
    max_iter: int,
    stop_when: Callable[[list[float]], bool] | None = None,
) -> SuperstepResult:
    """HLL sketch flooding on :func:`iterate`: state ``(id, sk)``
    hash-partitioned on ``id``; superstep ``sk(v) ← sk(v) ∪ ⋃_{(v,u)∈E}
    sk(u)``. The delta is the total reachable-pair estimate ``Σ_v |sk(v)|``
    after the hop, so ``SuperstepResult.deltas`` are the per-hop totals."""
    e = pin(simple_edges(edges), "dst")  # flood pulls FROM dst, groups BY src
    sk0 = vertex_ids(e).groupBy("id").agg(F.hll_sketch_agg("id", F.lit(lgk)).alias("sk"))

    def step(sk: DataFrame, k: int, carry: dict):
        nbr = (
            sk.hint("shuffle_hash")
            .join(e, sk["id"] == e["dst"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.hll_union_agg("sk").alias("nbr_sk"))
        )
        new = sk.join(nbr, "id", "left").select(
            "id",
            F.when(F.col("nbr_sk").isNull(), F.col("sk"))
            .otherwise(F.hll_union("sk", "nbr_sk"))
            .alias("sk"),
        )
        return new, F.hll_sketch_estimate("sk"), None

    res = iterate(
        spark, sk0, step, algorithm=algorithm, max_iter=max_iter,
        stop_when=stop_when,
    )
    e.unpersist()
    return res


def anf_hll(
    spark: SparkSession,
    edges: DataFrame,
    *,
    hops: int = 3,
    lgk: int = 12,
) -> DataFrame:
    """Approximate neighborhood function via HLL sketch flooding.

    Returns ``(id: long, n_est: double)`` ≈ ``neighborhood_sizes(...,
    hops)``. Also the building block for effective-diameter estimation:
    run with increasing ``hops`` until ``sum(n_est)`` plateaus.
    """
    res = _hll_flood(spark, edges, lgk=lgk, algorithm="anf_hll", max_iter=hops)
    return res.state.select("id", F.hll_sketch_estimate("sk").alias("n_est"))


def effective_diameter(
    spark: SparkSession,
    edges: DataFrame,
    *,
    quantile: float = 0.9,
    max_hops: int = 30,
    lgk: int = 12,
) -> tuple[int, list[float]]:
    """ANF-based effective diameter: smallest ``h`` where the total
    reachable-pair estimate reaches ``quantile`` of its converged value.
    Returns ``(h_eff, per_hop_totals)``. One HLL flood, one pass, stopped
    at the plateau: the first hop whose total grows by at most 0.01%."""
    res = _hll_flood(
        spark, edges, lgk=lgk, algorithm="effective_diameter", max_iter=max_hops,
        stop_when=lambda t: len(t) >= 2 and t[-1] <= t[-2] * 1.0001,
    )
    totals = res.deltas
    target = quantile * totals[-1]
    h_eff = next(i for i, t in enumerate(totals, start=1) if t >= target)
    return h_eff, totals


def diameter_lower_bound(
    spark: SparkSession,
    edges: DataFrame,
    *,
    start: int | None = None,
    max_hops: int = 200,
) -> int:
    """Double-BFS sweep lower bound on the directed diameter (Magnien/
    Latapy/Habib): BFS from a start vertex (min id by default), take a
    farthest vertex, BFS again from it — the second eccentricity is a lower
    bound that is exact on trees and tight in practice on web graphs. Two
    frontier floods; pairs well with the HLL `effective_diameter` upper-side
    estimate."""
    verts = vertex_ids(edges)
    if start is None:
        row = verts.agg(F.min("id")).first()
        if row is None or row[0] is None:
            return 0
        start = int(row[0])
    # pandas seeds take the Arrow path (a LocalRelation, no Python worker)
    seed = spark.createDataFrame(pd.DataFrame({"id": [start]}), "id long")
    d1 = bfs_distances(spark, edges, seed, max_hops=max_hops)
    far = d1.orderBy(F.desc("dist"), F.asc("id")).limit(1).first()
    if far is None:
        return 0
    seed2 = spark.createDataFrame(pd.DataFrame({"id": [int(far["id"])]}), "id long")
    d2 = bfs_distances(spark, edges, seed2, max_hops=max_hops)
    ecc = d2.agg(F.max("dist")).first()[0]
    return int(max(far["dist"], ecc or 0))
