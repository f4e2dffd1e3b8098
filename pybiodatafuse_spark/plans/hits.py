"""HITS (hubs & authorities) as checkpointed DataFrame supersteps.

Like PageRank (plans/pagerank.py) this operator is absent from the reference
(SURVEY.md §2.8 G14 names the iterative-graph family); the structural template
is the same convergence loop as the reference's EM training
(``/root/reference/src/pyBiodatafuse/algorithms/DREAMwalk/generate_embeddings.py:165-188``).

Semantics (classic Kleinberg power iteration):

    auth_{k+1}(v) = Σ_{(u,v)∈E} hub_k(u)
    hub_{k+1}(u)  = Σ_{(u,v)∈E} auth_{k+1}(v)

with L2 normalization. Because the final answer is normalized, any positive
per-iteration scalar cancels — so the loop keeps *semi-normalized* raw values
(each update divides by the PREVIOUS iteration's carried L2 norm, which keeps
magnitudes O(1) without needing the new norm mid-superstep) and the exact
L2-normalized scores are produced once at the end from the last carried norms.
The per-superstep action sums ``Σ auth²``/``Σ hub²`` and the L1 delta of
the semi-normalized auth vector (which converges iff the normalized iteration
converges, since the scale factors converge to the principal singular value).

Scale design (mirrors pagerank._prepare):
- two loop-invariant, persisted copies of the edge list, hash-partitioned on
  the respective join key (``dst`` for the auth update, ``src`` for the hub
  update) with exactly ``spark.sql.shuffle.partitions`` partitions, so neither
  O(E) side re-exchanges across supersteps — only the O(V) score rows move;
- one superstep = two join+partial-agg rounds + one outer assemble, one
  action (count/delta/norm sums), lineage truncated every superstep
  by the shared superstep engine (AQE off inside the loop so checkpointed
  state keeps its partitioning — see plans/superstep.no_aqe).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import vertex_ids
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pin
from pybiodatafuse_spark.storage import Storage


def hits(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    tol: float | None = 1e-8,
    max_iter: int = 20,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
) -> DataFrame:
    """Returns ``(id, auth, hub)`` with both score vectors L2-normalized.

    ``edges(src, dst, ...)`` directed, deduplicated; parallel edges would
    count multiply (callers dedup — build_edges already does). ``vertices``
    optional (defaults to edge endpoints). ``tol`` is the L1 delta of the
    semi-normalized auth vector; ``tol=None`` runs exactly ``max_iter``
    supersteps (the SQL-unrollable form the driver gate uses).
    """
    e = edges.select("src", "dst").dropDuplicates(["src", "dst"])
    # loop-invariant: one copy per join key so EnsureRequirements adds no
    # edge-side exchange in either half-superstep (cf. pagerank._prepare)
    e_by_src = pin(e, "src")
    e_by_dst = pin(e, "dst")

    verts = vertex_ids(e, vertices)
    n = verts.count()
    if n == 0:
        raise ValueError("hits: empty vertex set")

    state0 = verts.select(
        "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
    )
    init_norm = math.sqrt(float(n))  # ||1-vector||₂, closed-form

    def step(state: DataFrame, k: int, carry: dict):
        a_norm = math.sqrt(carry["a2"]) if "a2" in carry else init_norm
        h_norm = math.sqrt(carry["h2"]) if "h2" in carry else init_norm
        hubs = state.select("id", (F.col("hub") / F.lit(h_norm)).alias("h")).hint(
            "shuffle_hash"
        )
        auth_new = (
            hubs.join(e_by_src, hubs["id"] == e_by_src["src"])
            .groupBy("dst")
            .agg(F.sum("h").alias("auth_new"))
        )
        # hub update consumes the *semi-normalized* new auth (divide by the
        # previous auth norm — any positive scalar cancels in the final
        # normalization; see module docstring)
        an = auth_new.select(
            F.col("dst").alias("aid"), (F.col("auth_new") / F.lit(a_norm)).alias("a")
        ).hint("shuffle_hash")
        hub_new = (
            an.join(e_by_dst, an["aid"] == e_by_dst["dst"])
            .groupBy("src")
            .agg(F.sum("a").alias("hub_new"))
        )
        new_state = (
            state.join(auth_new, state["id"] == auth_new["dst"], "left")
            .join(hub_new, state["id"] == hub_new["src"], "left")
            .select(
                state["id"],
                (F.coalesce(F.col("auth_new"), F.lit(0.0)) / F.lit(a_norm)).alias(
                    "auth"
                ),
                F.coalesce(F.col("hub_new"), F.lit(0.0)).alias("hub"),
                state["auth"].alias("prev_auth"),
            )
        )
        # delta over the stored (semi-normalized) auth values: they stabilize
        # exactly when the normalized iteration converges
        delta = F.abs(F.col("auth") - F.col("prev_auth"))
        norms = {"a2": F.col("auth") * F.col("auth"), "h2": F.col("hub") * F.col("hub")}
        return new_state, delta, norms

    result: SuperstepResult = iterate(
        spark,
        state0,
        step,
        algorithm="hits",
        max_iter=max_iter,
        tol=tol,
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
    )
    e_by_src.unpersist()
    e_by_dst.unpersist()
    # final exact L2 normalization: one cheap O(V) agg on the cached state
    norms = result.state.agg(
        F.sum(F.col("auth") * F.col("auth")).alias("a2"),
        F.sum(F.col("hub") * F.col("hub")).alias("h2"),
    ).first()
    a_n = math.sqrt(norms["a2"]) or 1.0
    h_n = math.sqrt(norms["h2"]) or 1.0
    return result.state.select(
        "id",
        (F.col("auth") / F.lit(a_n)).alias("auth"),
        (F.col("hub") / F.lit(h_n)).alias("hub"),
    )
