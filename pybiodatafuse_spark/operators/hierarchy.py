"""Hierarchy / tree operators (SURVEY.md J8, G11, J10, W4/W5).

Reference analogues in ``/root/reference/src/pyBiodatafuse/algorithms/DREAMwalk``:
- iterated self-join up the ATC tree (`generate_similarity_net.py:27-34`)
  → :func:`transitive_closure` (checkpointed iterative DataFrame self-join,
  doubling path length per superstep);
- existence-labelled pairs (`generate_files.py:52-57`)
  → :func:`label_pairs_by_edge`;
- negative sampling / stratified split (`generate_files.py:66-71`,
  `predict_associations.py:55-65`) → :func:`deterministic_sample`
  (hash-mod sampling: reproducible across runs AND mirrorable in SQL — the
  scale-safe replacement for RNG row sampling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.functions.text import hash64
from pybiodatafuse_spark.plans.superstep import _free


def transitive_closure(
    hierarchy: DataFrame, *, max_depth: int = 20, child="child", parent="parent"
) -> DataFrame:
    """All (node, ancestor) pairs of a child→parent DAG.

    Path-doubling iteration: paths_{k+1} = paths_k ∪ (paths_k ⋈ paths_k), so
    depth-d closure needs ⌈log2 d⌉ rounds, each localCheckpoint'd to stop
    plan growth — the scalable form of the reference's row-wise walk-up loop.
    If the round after the one that covers ``max_depth`` still adds pairs,
    raises ``RuntimeError`` instead of returning a truncated closure.
    """
    # lazy checkpoints: each count's job fills the checkpoint it counts
    paths = hierarchy.select(
        F.col(child).alias("node"), F.col(parent).alias("ancestor")
    ).dropDuplicates(["node", "ancestor"]).localCheckpoint(eager=False)
    n = paths.count()
    for _ in range((max(1, max_depth) - 1).bit_length() + 1):
        hop = paths.alias("a").join(
            paths.alias("b"), F.col("a.ancestor") == F.col("b.node")
        ).select(F.col("a.node").alias("node"), F.col("b.ancestor").alias("ancestor"))
        grown = (
            paths.unionByName(hop).dropDuplicates(["node", "ancestor"])
            .localCheckpoint(eager=False)
        )
        n, n_before = grown.count(), n
        _free(paths)
        paths = grown
        if n == n_before:
            return paths
    _free(paths)
    raise RuntimeError(f"transitive_closure: paths longer than max_depth={max_depth}")


def label_pairs_by_edge(
    pairs: DataFrame, edges: DataFrame, *, a="a", b="b"
) -> DataFrame:
    """(a, b, label): label=1 iff (a,b) is an edge — existence join (J10) as
    left join + isNotNull, never a driver-side has_edge loop."""
    e = edges.select(
        F.col("src").alias(a), F.col("dst").alias(b), F.lit(1).alias("_hit")
    ).dropDuplicates([a, b])
    return pairs.join(e, [a, b], "left").select(
        a, b, F.coalesce("_hit", F.lit(0)).alias("label")
    )


def deterministic_sample(
    df: DataFrame, key_col: str, *, mod: int = 10, keep: int = 0
) -> DataFrame:
    """Keep rows where hash64(key) % mod == keep: reproducible, partition-
    independent sampling (reference's rng .sample() is neither)."""
    return df.where(
        F.pmod(hash64(F.col(key_col).cast("string")), F.lit(mod)) == keep
    )


def stratified_deterministic_split(
    df: DataFrame, key_col: str, strata_col: str, *, test_mod: int = 5
) -> tuple[DataFrame, DataFrame]:
    """Per-stratum deterministic train/test split (~1/test_mod to test)."""
    bucket = F.pmod(hash64(F.concat_ws("#", F.col(strata_col).cast("string"),
                                       F.col(key_col).cast("string"))), F.lit(test_mod))
    test = df.where(bucket == 0)
    train = df.where(bucket != 0)
    return train, test


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col,
    *,
    fraction: float,
    hash_space: int = 1_000_000,
) -> DataFrame:
    """Deterministic weighted Bernoulli sample: row i kept with probability
    ``min(1, fraction · w_i / mean(w))`` — expected output size ≈
    ``fraction · count`` with inclusion proportional to weight (the
    training-mix upsampling pass: high-quality documents are kept more
    often at the same corpus budget). Reproducible and partition-independent
    (``hash64(key) % hash_space`` is the uniform draw; no RNG state).

    One scalar aggregate (mean weight) + a stateless filter — scans once.
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    mean_w = df.agg(F.avg(w).alias("m")).first()["m"]
    if not mean_w or mean_w <= 0:
        raise ValueError("weighted_sample: mean weight must be positive")
    u = F.pmod(hash64(F.col(key_col).cast("string")), F.lit(hash_space)) / F.lit(
        float(hash_space)
    )
    p = F.least(F.lit(1.0), F.lit(fraction) * w / F.lit(float(mean_w)))
    return df.where(u < p)
