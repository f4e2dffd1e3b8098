"""Strongly connected components — FW-BW coloring with trim.

The reference analyzes graphs via driver-side networkx
(``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:60-80`` builds the
graph and reports component structure); directed-reachability structure at
web scale (bow-tie CORE/IN/OUT of a crawl graph) needs a distributed SCC.

Spark-first restatement of the FW-BW-Trim coloring algorithm (Orzan'04 /
Hong et al. "On Fast Parallel Detection of Strongly Connected Components",
the standard MapReduce/Pregel SCC):

outer rounds, each over the still-active subgraph:
1. **trim to fixpoint** — a vertex with in-degree 0 or out-degree 0 in the
   active subgraph cannot lie on a cycle → it is its own singleton SCC.
   On crawl graphs trimming removes the vast majority of vertices (the
   bow-tie TENDRILS) before any propagation runs.
2. **forward coloring** — min-label flooding along edge direction to a
   fixpoint: ``f(v) = min id u with a path u ⇝ v`` (including ``v``).
3. **backward settle within color** — ``v`` belongs to the SCC of root
   ``r = f(v)`` iff ``v`` also reaches ``r``; found by flooding "settled"
   backwards from the roots (``f(v) = v``) along edges, never crossing a
   color boundary. Settled vertices get ``scc = f(v)`` and leave the game.

Every inner loop runs on the shared superstep driver
(:func:`~pybiodatafuse_spark.plans.superstep.iterate`): the trim peels an
edge state, forward coloring is ``plans.components._hash_min`` along edge
direction, and the backward settle is the BFS of ``plans.bfs`` from the
roots over the reversed same-color edges. Both propagation loops join a
pinned edge list, so each superstep shuffles only the O(active)
label/frontier state.

Outer-round count is bounded by the number of "hidden" SCC layers — small
for real web graphs (the giant SCC + trim absorbs almost everything in
round 1).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.bfs import _expand, bfs_distances, simple_edges
from pybiodatafuse_spark.plans.components import _hash_min
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_outer: int = 25,
    max_inner: int = 10_000,
) -> DataFrame:
    """Returns ``(id: long, scc: long)`` for every vertex; ``scc`` is the
    minimum vertex id in the strongly connected component (singletons map to
    themselves, matching the Tarjan/transitive-closure oracle in
    tests/test_scc.py and the q54 recursive-CTE gate).

    Every inner loop (trim peel, forward min-label coloring, backward
    settle) runs to its FIXPOINT; ``max_inner`` is a pure safety valve that
    raises ``RuntimeError`` rather than silently truncating — min-label
    flooding needs O(diameter) supersteps, so a long directed chain/cycle
    legitimately needs more than any small fixed cap (a 150-vertex cycle is
    one SCC, not 150 singletons)."""
    verts = vertex_ids(edges, vertices)

    active_e = simple_edges(edges)
    rounds: list[DataFrame] = []  # (id, scc) settled per outer round
    for outer in range(max_outer + 1):
        # ---- 1. trim to fixpoint ------------------------------------------
        # a vertex with in-degree 0 or out-degree 0 in the active subgraph is
        # a singleton SCC: drop its edges and let the final unassigned→self
        # coalesce label it. After the trim every active vertex is an src.
        trim = iterate(
            spark, active_e.withColumn("dead", F.lit(False)), _trim_step,
            algorithm="scc_trim", max_iter=max_inner, tol=0.5,
        )
        active_e = _fixpoint(trim, "trim", max_inner).select("src", "dst")
        if active_e.isEmpty():
            break
        if outer == max_outer:
            raise RuntimeError(f"SCC did not converge in {max_outer} outer rounds")

        # ---- 2. forward coloring: f(v) = min id reaching v ----------------
        fwd = _hash_min(
            spark,
            active_e,
            active_e.select(F.col("src").alias("id")).dropDuplicates(["id"]),
            max_iter=max_inner,
            algorithm="scc_forward",
        )
        f = _fixpoint(fwd, "forward coloring", max_inner).select(
            "id", F.col("label").alias("f")
        )

        # ---- 3. backward settle within color ------------------------------
        # v joins the SCC of its root f(v) iff v reaches the root through
        # same-colored vertices: a BFS from the roots along the reversed
        # same-color edges.
        f_src = f.select(F.col("id").alias("src"), F.col("f").alias("fs"))
        f_dst = f.select(F.col("id").alias("dst"), F.col("f").alias("fd"))
        same_color = (
            active_e.join(f_src, "src")
            .join(f_dst, "dst")
            .where(F.col("fs") == F.col("fd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        settle = _expand(
            spark, same_color, f.where(F.col("id") == F.col("f")), label=[],
            algorithm="scc_settle", max_iter=max_inner,
        )
        done = (
            _fixpoint(settle, "backward settle", max_inner)
            .join(f, "id")
            .select("id", F.col("f").alias("scc"))
        )
        rounds.append(done)
        settled = done.select("id")
        active_e = active_e.join(
            settled.withColumnRenamed("id", "src"), "src", "left_anti"
        ).join(settled.withColumnRenamed("id", "dst"), "dst", "left_anti")

    if not rounds:
        return verts.select("id", F.col("id").alias("scc"))
    assigned = reduce(DataFrame.unionByName, rounds)
    return verts.join(assigned, "id", "left").select(
        "id", F.coalesce("scc", F.col("id")).alias("scc")
    )


def _trim_step(state: DataFrame, k: int, carry: dict):
    """One trim peel over the active edges: drop the edges marked last peel,
    then mark an edge whose src has no in-edge or whose dst has no out-edge
    (an endpoint off every cycle). Delta = edges marked; 0 → fixpoint."""
    live = state.where(~F.col("dead"))
    has_in = live.select(F.col("dst").alias("src"), F.lit(True).alias("i")).distinct()
    has_out = live.select(F.col("src").alias("dst"), F.lit(True).alias("o")).distinct()
    new = live.join(has_in, "src", "left").join(has_out, "dst", "left").select(
        "src", "dst", (F.col("i").isNull() | F.col("o").isNull()).alias("dead")
    )
    return new, F.col("dead").cast("long"), None


def _fixpoint(res: SuperstepResult, phase: str, max_inner: int) -> DataFrame:
    if not res.converged:
        raise RuntimeError(f"SCC {phase} did not converge in {max_inner} supersteps")
    return res.state


def bowtie_decomposition(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    max_inner: int = 10_000,
    scc: DataFrame | None = None,
) -> DataFrame:
    """Bow-tie structure of a directed graph (Broder et al., "Graph structure
    in the web", WWW'00): per-vertex class over {CORE, IN, OUT, OTHER}.

    ``scc``: optionally pass a precomputed ``(id, scc)`` labeling (from
    :func:`strongly_connected_components` on the SAME edge set) to reuse it
    instead of recomputing — the SCC pass dominates the cost.

    - CORE: the largest SCC (ties broken by smallest scc id);
    - IN:   reaches CORE but is not in it;
    - OUT:  reachable from CORE but not in it;
    - OTHER: tendrils/tubes/disconnected (everything else).

    Returns ``(id: long, cls: string)``. Reachability = two frontier floods
    from the CORE set (one along reversed edges for IN, one forward for OUT),
    each shuffling only the growing reached set.
    """
    if scc is None:
        scc = strongly_connected_components(spark, edges, vertices)
    sizes = scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
    top = sizes.orderBy(F.desc("n"), F.asc("scc")).limit(1)
    core_id = top.first()
    if core_id is None:
        return scc.select("id", F.lit("OTHER").alias("cls")).limit(0)
    core_scc = core_id["scc"]
    core = scc.where(F.col("scc") == F.lit(core_scc)).select("id")

    # reached at dist > 0: the CORE seeds themselves are never IN/OUT
    out_set = bfs_distances(spark, edges, core, max_hops=max_inner).where("dist > 0")
    in_set = bfs_distances(
        spark,
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        core,
        max_hops=max_inner,
    ).where("dist > 0")
    return (
        scc.join(core.select("id", F.lit(1).alias("_c")), "id", "left")
        .join(in_set.select("id", F.lit(1).alias("_i")), "id", "left")
        .join(out_set.select("id", F.lit(1).alias("_o")), "id", "left")
        .select(
            "id",
            F.when(F.col("_c").isNotNull(), F.lit("CORE"))
            .when(F.col("_i").isNotNull(), F.lit("IN"))
            .when(F.col("_o").isNotNull(), F.lit("OUT"))
            .otherwise(F.lit("OTHER"))
            .alias("cls"),
        )
    )
