"""k-core decomposition by frontier-driven peeling (DataFrame supersteps).

Absent from the reference (SURVEY.md §2.8 iterative-graph family); same
superstep scaffold as pagerank/labelprop/components.

Semantics: the k-core of the undirected graph is the maximal subgraph where
every vertex has degree ≥ k. Synchronous peeling — every round removes all
vertices whose current degree is < k and decrements their surviving
neighbors' degrees — run to fixpoint (no vertex pending removal) or
``max_rounds``. Rounds after the fixpoint are identity, so a fixed-round
unroll (the SQL-oracle form) agrees with the early-stopped run.

Scale design — the naive formulation (recount degrees among survivors each
round) semi-joins the O(E) edge list twice per round and re-exchanges it on
``dst``; instead this is *frontier-driven degree decrement*:

- state is O(V): ``(id, deg)``; a round's frontier = rows with ``deg < k``;
- the frontier (which shrinks geometrically after the first rounds) joins the
  loop-invariant edge list — hash-partitioned on ``src`` with the
  shuffle-partition count and persisted, so the O(E) side never re-exchanges;
  only the frontier and the O(V) decrement rows move per round;
- one round = one join + one partial-aggregated groupBy + one left join; the
  pending-removal count (fixpoint test) is fused into the superstep engine's
  single action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import symmetrize
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pin
from pybiodatafuse_spark.storage import Storage


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    *,
    max_rounds: int = 50,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id, core_deg)`` — the vertices of the k-core with their
    degree inside the core subgraph. ``edges(src, dst, ...)`` is treated as
    undirected (symmetrized, self-loops dropped, deduplicated). Isolated
    vertices (degree 0) are never in a k-core for k ≥ 1 and don't appear."""
    if k < 1:
        raise ValueError("k_core: k must be >= 1")
    sym = pin(symmetrize(edges), "src")

    # full undirected degrees; rows with deg < k are round 1's frontier
    state0 = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )

    def step(state: DataFrame, _r: int, carry: dict):
        frontier = (
            state.where(F.col("deg") < k)
            .select(F.col("id").alias("src"))
            .hint("shuffle_hash")
        )
        dec = (
            frontier.join(sym, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("dec"))
        )
        new_state = (
            state.where(F.col("deg") >= k)
            .join(dec, "id", "left")
            .select(
                "id",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias("deg"),
            )
        )
        # pending removals: 0 → fixpoint (tol=0.5 below stops the loop)
        pending = (F.col("deg") < k).cast("double")
        return new_state, pending, None

    result: SuperstepResult = iterate(
        spark,
        state0,
        step,
        algorithm="kcore",
        max_iter=max_rounds,
        tol=0.5,
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
    )
    sym.unpersist()
    # under max_rounds truncation some rows may still be pending removal —
    # the filter is a no-op at fixpoint and the SQL oracle mirrors it
    return result.state.where(F.col("deg") >= k).select(
        "id", F.col("deg").alias("core_deg")
    )
