"""Connected components (north rule G4; reference counts them via networkx at
``/root/reference/src/pyBiodatafuse/analyzer/summarize.py:67``).

Two implementations, cross-checked by tests:

- :func:`components` (default ``algorithm="two_phase"``): the small-star /
  large-star alternation of Kiveris et al., "Connected Components in
  MapReduce and Beyond" (SOCC'14) — O(log^2 n) supersteps, each superstep a
  pair of groupBy-min + join rounds over the shrinking edge-pair state.
  Convergence: the edge-pair multiset reaches a fixpoint, detected by a
  deterministic state fingerprint (sum of per-pair xxhash64) staying equal on
  two consecutive supersteps.
- ``algorithm="hash_min"``: plain min-label flooding over per-vertex state
  (O(diameter) supersteps, count-of-changed-labels convergence) — the simple
  differential baseline.

Component id = min vertex id in the component (matches the union-find oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import symmetrize
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pin
from pybiodatafuse_spark.storage import Storage


def _large_star(pairs: DataFrame) -> DataFrame:
    nbrs = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _small_star(pairs: DataFrame) -> DataFrame:
    ordered = pairs.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = ordered.groupBy("u").agg(F.min("v").alias("m"))  # all v < u here
    with_self = ordered.unionByName(
        ordered.select("u", F.col("u").alias("v")).dropDuplicates(["u"])
    )
    return (
        with_self.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .dropDuplicates(["u", "v"])
    )


def _fingerprint() -> Column:
    # Deterministic multiset fingerprint of the pair state; equal on two
    # consecutive supersteps ⇒ fixpoint (hash-sum collision negligible). An
    # empty pair set (no edges) sums to 0, so it converges too.
    return F.xxhash64("u", "v").cast("double")


def components(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    algorithm: str = "two_phase",
    max_iter: int = 50,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id: long, component: long)`` for every vertex (isolated
    vertices map to themselves). Raises ``RuntimeError`` when the loop has
    not converged within ``max_iter`` supersteps instead of returning
    truncated labels (hash_min needs diameter + 1 supersteps)."""
    verts = (
        vertices.select("id")
        if vertices is not None
        else edges.select(F.col("src").alias("id")).unionByName(
            edges.select(F.col("dst").alias("id"))
        )
    ).dropDuplicates(["id"])

    if algorithm == "two_phase":
        labels = _two_phase(spark, edges, max_iter, storage, run_id, checkpoint_every)
    elif algorithm == "hash_min":
        res = _hash_min(
            spark, symmetrize(edges), verts, max_iter=max_iter,
            algorithm="components_hash_min", storage=storage, run_id=run_id,
            checkpoint_every=checkpoint_every,
        )
        if not res.converged:
            raise RuntimeError(
                f"components (hash_min) did not converge in {max_iter} supersteps"
            )
        labels = res.state.select("id", F.col("label").alias("component"))
    else:
        raise ValueError(f"unknown components algorithm: {algorithm}")

    return (
        verts.join(labels, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )


def _two_phase(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int,
    storage: Storage | None,
    run_id: str | None,
    checkpoint_every: int,
) -> DataFrame:
    pairs0 = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )

    def step(state: DataFrame, k: int, carry: dict):
        return _small_star(_large_star(state)), _fingerprint(), None

    res = iterate(
        spark,
        pairs0,
        step,
        algorithm="components_two_phase",
        max_iter=max_iter,
        stop_when=lambda ds: len(ds) >= 2 and ds[-1] == ds[-2],
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
    )
    if not res.converged:
        raise RuntimeError(
            f"components (two_phase) did not converge in {max_iter} supersteps"
        )
    pairs = res.state
    # At fixpoint the pair set is a union of stars (v → component-min m).
    roots = pairs.select(F.col("v").alias("id")).dropDuplicates(["id"])
    return (
        pairs.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(roots.select("id", F.col("id").alias("component")))
        .groupBy("id")
        .agg(F.min("component").alias("component"))
    )


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
        new = (
            state.select("id", "label")
            .join(nbr_min, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                    "label"
                ),
                (
                    F.least(F.col("label"), F.coalesce("nbr_label", F.col("label")))
                    != F.col("label")
                )
                .cast("int")
                .alias("changed"),
            )
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
