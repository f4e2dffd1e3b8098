"""Skip-gram (SGNS) node embeddings over random walks (SURVEY.md §2.8 G9).

Reference: DREAMwalk shells out to a pthreaded C++ word2vec
(`algorithms/DREAMwalk/HeterogeneousSG.py:86-93`,
`HeterogeneousSG.cpp:502-511`) over a text corpus of walks. SURVEY's Spark
mapping — "distribute walks, per-partition training" — is implemented as
synchronous data-parallel SGD with **DataFrame-resident parameters**:

- embedding state lives in a DataFrame ``(id, emb, ctx)`` — never collected
  to the driver, never broadcast as a dense V×dim matrix. At 10^12 vertices
  the state is just another hash-partitioned table;
- each epoch: (1) a narrow pass over walks computes, per walk, the vertex
  ids it will touch (path vertices + its hash-seeded negative samples —
  a pure function of (walk_id, path), no RNG state); (2) those (walk_id, id)
  pairs join the state table to ship ONLY the needed vectors to each walk
  (the per-walk working set is O(walk_length · negatives), independent of V);
  (3) a cogrouped Arrow kernel trains each walk independently from the
  epoch-start vectors and emits per-(walk, vertex) deltas; (4) deltas are
  SUMMED per vertex in DETERMINISTIC walk_id order (sorted left-fold —
  gradient accumulation, so per-epoch step magnitude matches sequential
  training; independent of partitioning, batching, and shuffle order) and
  joined back into the state.
- negatives are drawn from a bounded id table (the ``neg_table_size``
  lowest-id vertices; = the full vocabulary whenever V fits, exactly
  word2vec's bounded unigram table at scale) — the only broadcast, O(table),
  independent of V.

Per-walk independent training + sorted-fold accumulation makes the result a
pure function of (walks, hyperparameters): bitwise deterministic for ANY
partitioning, and exactly reproducible by the pure-Python oracle
(tests/test_embeddings.py, __spark_entry__ q43 oracle).

Initialization is word2vec-style uniform in [-0.5/dim, 0.5/dim), seeded by
splitmix64(vertex_id, dim_index) — partition-independent and reproducible.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.datagen import _u01
from pybiodatafuse_spark.plans.superstep import iterate


def init_vectors(ids: np.ndarray, dim: int, seed: int = 42) -> np.ndarray:
    """word2vec-style init: uniform [-0.5/dim, 0.5/dim) per (id, j)."""
    out = np.empty((len(ids), dim), dtype=np.float64)
    for j in range(dim):
        out[:, j] = (_u01(ids, j, seed) - 0.5) / dim
    return out


def _sigmoid(x: float) -> float:
    return 1.0 / (1.0 + np.exp(-np.clip(x, -30.0, 30.0)))


def _walk_pairs(path: list[int], window: int):
    """(pos, center, cpos, target, neg_key) skip-gram pairs of one walk —
    the deterministic enumeration shared by the trainer, the negative-id
    pre-pass, and the pure-Python oracle."""
    for pos, center in enumerate(path):
        lo = max(0, pos - window)
        hi = min(len(path), pos + window + 1)
        for cpos in range(lo, hi):
            if cpos == pos:
                continue
            yield pos, center, cpos, path[cpos], pos * (hi - lo) + cpos


def _neg_ids_for_walk(
    wid: int, path: list[int], window: int, negatives: int, table: np.ndarray
) -> set[int]:
    out: set[int] = set()
    T = len(table)
    for _pos, _center, _cpos, _target, nk in _walk_pairs(path, window):
        key = np.int64(wid) * np.int64(1_000_003) + np.int64(nk)
        for j in range(negatives):
            u = _u01(np.array([key]), j, 7)[0]
            out.add(int(table[int(u * T)]))
    return out


def train_one_walk(
    wid: int,
    path: list[int],
    vecs: dict[int, tuple[np.ndarray, np.ndarray]],
    *,
    window: int,
    negatives: int,
    lr: float,
    table: np.ndarray,
) -> dict[int, tuple[np.ndarray, np.ndarray]]:
    """Sequential SGNS over ONE walk starting from the epoch-start vectors in
    ``vecs`` (id → (emb, ctx)); returns per-id (d_emb, d_ctx). Pure function —
    the q43 oracle calls this exact routine shape in plain numpy."""
    W = {i: v[0].copy() for i, v in vecs.items()}
    C = {i: v[1].copy() for i, v in vecs.items()}
    T = len(table)
    touched: set[int] = set()
    for _pos, center, _cpos, target, nk in _walk_pairs(path, window):
        g = (1.0 - _sigmoid(W[center] @ C[target])) * lr
        C[target] += g * W[center]
        W[center] += g * C[target]
        touched.add(center)
        touched.add(target)
        key = np.int64(wid) * np.int64(1_000_003) + np.int64(nk)
        for j in range(negatives):
            u = _u01(np.array([key]), j, 7)[0]
            neg = int(table[int(u * T)])
            if neg == target:
                continue
            gn = -_sigmoid(W[center] @ C[neg]) * lr
            C[neg] += gn * W[center]
            W[center] += gn * C[neg]
            touched.add(neg)
    return {
        i: (W[i] - vecs[i][0], C[i] - vecs[i][1]) for i in sorted(touched)
    }


def skipgram_embeddings(
    spark: SparkSession,
    walks: DataFrame,
    *,
    dim: int = 32,
    epochs: int = 3,
    window: int = 2,
    negatives: int = 3,
    lr: float = 0.025,
    seed: int = 42,
    partitions: int | None = None,
    neg_table_size: int = 1 << 17,
) -> DataFrame:
    """walks(walk_id, path array<long>) → (id: long, vector: array<double>).

    Deterministic for fixed hyperparameters — independent of partitioning:
    every walk trains from the epoch-start state and per-vertex deltas are
    summed in sorted walk_id order. ``partitions`` only sets parallelism.
    """
    part = partitions or spark.sparkContext.defaultParallelism
    walks_p = (
        walks.select("walk_id", "path").repartition(part, "walk_id").persist()
    )
    walks_p.count()

    vocab_df = (
        walks_p.select(F.explode("path").alias("id")).distinct()
    )
    # bounded negative-sample table: the lowest-id vertices (== full vocab
    # whenever it fits). The ONLY broadcast — O(neg_table_size), not O(V).
    table = np.array(
        [r["id"] for r in vocab_df.orderBy("id").limit(neg_table_size).collect()],
        dtype=np.int64,
    )
    if len(table) == 0:
        raise ValueError("skipgram_embeddings: empty walk corpus")
    b_table = spark.sparkContext.broadcast(table)

    def init_state(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            emb = init_vectors(ids, dim, seed)
            yield pd.DataFrame(
                {
                    "id": ids,
                    "emb": list(emb),
                    "ctx": [np.zeros(dim) for _ in ids],
                }
            )

    state0 = vocab_df.mapInPandas(
        init_state, schema="id long, emb array<double>, ctx array<double>"
    ).repartition(part, "id")

    def needed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tbl = b_table.value
        for pdf in batches:
            wids, vids = [], []
            for wid, path in zip(pdf["walk_id"], pdf["path"]):
                p = [int(x) for x in path]
                ids = set(p) | _neg_ids_for_walk(
                    int(wid), p, window, negatives, tbl
                )
                for v in ids:
                    wids.append(int(wid))
                    vids.append(v)
            yield pd.DataFrame({"walk_id": wids, "id": vids})

    # the (walk_id, vertex) working-set relation is epoch-invariant (ids
    # depend only on walks + hashes, not on vector values): compute once.
    need = walks_p.mapInPandas(needed, schema="walk_id long, id long").persist()
    need.count()

    def train(key, walks_pdf: pd.DataFrame, vecs_pdf: pd.DataFrame) -> pd.DataFrame:
        tbl = b_table.value
        out_w, out_id, out_de, out_dc = [], [], [], []
        vecs = {
            int(r.id): (
                np.asarray(r.emb, dtype=np.float64),
                np.asarray(r.ctx, dtype=np.float64),
            )
            for r in vecs_pdf.itertuples(index=False)
        }
        for r in walks_pdf.itertuples(index=False):
            wid = int(r.walk_id)
            path = [int(x) for x in r.path]
            deltas = train_one_walk(
                wid, path, vecs,
                window=window, negatives=negatives, lr=lr, table=tbl,
            )
            for i, (de, dc) in deltas.items():
                out_w.append(wid)
                out_id.append(i)
                out_de.append(de)
                out_dc.append(dc)
        return pd.DataFrame(
            {"walk_id": out_w, "id": out_id, "d_emb": out_de, "d_ctx": out_dc}
        )

    def sum_deltas(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # DETERMINISTIC aggregation: left-fold SUM in sorted walk_id order —
        # independent of shuffle arrival order and batching. Summing (not
        # averaging) is gradient accumulation: the per-vertex step magnitude
        # matches sequential training over the same pairs, so convergence per
        # epoch is comparable to the classic per-partition scheme while the
        # result stays a pure function of (walks, hyperparameters).
        pdf = pdf.sort_values("walk_id", kind="mergesort")
        acc_e = np.zeros(dim)
        acc_c = np.zeros(dim)
        for r in pdf.itertuples(index=False):
            acc_e = acc_e + np.asarray(r.d_emb, dtype=np.float64)
            acc_c = acc_c + np.asarray(r.d_ctx, dtype=np.float64)
        return pd.DataFrame(
            {"id": [int(key[0])], "d_emb": [acc_e], "d_ctx": [acc_c]}
        )

    delta_schema = "walk_id long, id long, d_emb array<double>, d_ctx array<double>"

    def epoch(state: DataFrame, _k: int, _carry: dict):
        vecs = need.join(state, "id").select("walk_id", "id", "emb", "ctx")
        deltas = (
            walks_p.groupBy("walk_id")
            .cogroup(vecs.groupBy("walk_id"))
            .applyInPandas(train, schema=delta_schema)
        )
        davg = deltas.groupBy("id").applyInPandas(
            sum_deltas, schema="id long, d_emb array<double>, d_ctx array<double>"
        )
        new_state = (
            state.join(davg, "id", "left")
            .select(
                "id",
                F.when(
                    F.col("d_emb").isNull(), F.col("emb")
                ).otherwise(
                    F.zip_with("emb", "d_emb", lambda a, b: a + b)
                ).alias("emb"),
                F.when(
                    F.col("d_ctx").isNull(), F.col("ctx")
                ).otherwise(
                    F.zip_with("ctx", "d_ctx", lambda a, b: a + b)
                ).alias("ctx"),
            )
            .repartition(part, "id")
        )
        return new_state, None, None

    # fixed-length loop: no delta, one superstep per epoch; iterate truncates
    # lineage every epoch and frees the state each epoch replaces
    state = iterate(
        spark, state0, epoch, algorithm="skipgram_embeddings", max_iter=epochs
    ).state

    need.unpersist()
    walks_p.unpersist()
    b_table.unpersist()
    return state.select("id", F.col("emb").alias("vector"))
