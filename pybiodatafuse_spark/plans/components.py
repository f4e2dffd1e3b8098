"""Connected components (north rule G4; reference counts them via networkx at
``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:67``).

One plan: min-label flooding (hash-min). Per-vertex state
``(id, label, changed)``; each superstep takes the minimum of the vertex's
own label and its neighbours' labels, so a component converges in
diameter + 1 supersteps. Convergence: no label changed in a superstep.

Component id = min vertex id in the component (matches the union-find oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import symmetrize, vertex_ids
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pin
from pybiodatafuse_spark.storage import Storage


def components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    algorithm: str = "hash_min",
    max_iter: int = 50,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id: long, component: long)`` for every vertex (isolated
    vertices map to themselves). ``algorithm`` accepts only ``"hash_min"``
    (the one plan; any other value raises ``ValueError``). Raises
    ``RuntimeError`` when the loop has not converged within ``max_iter``
    supersteps instead of returning truncated labels (min-label flooding
    needs diameter + 1 supersteps)."""
    if algorithm != "hash_min":
        raise ValueError(f"unknown components algorithm: {algorithm}")
    res = _hash_min(
        spark, symmetrize(edges), vertex_ids(edges, vertices), max_iter=max_iter,
        algorithm="components_hash_min", storage=storage, run_id=run_id,
        checkpoint_every=checkpoint_every,
    )
    if not res.converged:
        raise RuntimeError(f"components did not converge in {max_iter} supersteps")
    return res.state.select("id", F.col("label").alias("component"))


def _hash_min(
    spark: SparkSession,
    adj: DataFrame,
    verts: DataFrame,
    *,
    max_iter: int,
    algorithm: str,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> SuperstepResult:
    """Min-label flooding along ``adj(src, dst)`` to the fixpoint: state
    ``(id, label, changed)``, ``label(v) = min id u with u ⇝ v``, delta =
    labels changed (``tol=0.5``). Symmetrized ``adj`` gives connected
    components; directed ``adj`` is SCC forward colouring (plans.scc)."""
    # loop-invariant adjacency pinned on the join key: only the O(V) label
    # state shuffles per superstep (same reuse pattern as plans.pagerank._prepare)
    adj = pin(adj, "src")
    state0 = verts.select("id", F.col("id").alias("label"), F.lit(1).alias("changed"))

    def step(state: DataFrame, k: int, carry: dict):
        nbr_min = (
            state.hint("shuffle_hash").join(adj, state["id"] == adj["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        label = F.least("label", "nbr_label")  # least skips nulls
        new = state.select("id", "label").join(nbr_min, "id", "left").select(
            "id",
            label.alias("label"),
            (label != F.col("label")).cast("int").alias("changed"),
        )
        return new, F.col("changed"), None

    res = iterate(
        spark,
        state0,
        step,
        algorithm=algorithm,
        max_iter=max_iter,
        tol=0.5,
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
    )
    adj.unpersist()
    return res
