"""Generic checkpointed-iteration (superstep) engine — SURVEY.md §7 step 4.

Structural template taken from the reference's only convergence-driven loop,
DREAMwalk EM training (``/root/reference/src/pyBiodatafuse/algorithms/DREAMwalk/
generate_embeddings.py:165-188``: iterate → L1-delta convergence test →
persist), restated for Spark:

    state_{k+1} = step_fn(state_k, k, carry)  # pure DataFrame program
    materialize (lazy checkpoint + ONE fused per-partition sum action →
    rows_out, L1 delta, carry values, per-partition row counts)
    every `checkpoint_every` steps: write the durable snapshot (a side copy
    of the local checkpoint — the resume point, never read back by the
    loop), then commit the run_metadata rows buffered since the last one
    stop when delta < tol or k == max_iter

Design notes:
- ONE action per superstep, with or without storage: ``step_fn`` returns
  per-row terms, and ``groupBy(spark_partition_id()).agg(count, sum(term)…)``
  over the checkpointed new state yields every partition's row count and
  partial sums; the driver adds the partials up. An empty state sums to 0.
- Metrics bookkeeping costs no superstep job: each superstep's run_metadata
  rows (one global row, one row per partition) are buffered on the driver
  and committed in one ``Storage.log_metrics`` call per durable checkpoint
  (Pregelix writes superstep statistics with its checkpoint). A ``finally``
  commits what is buffered when the loop raises.
- Lineage is truncated every superstep by ``localCheckpoint``, with or
  without storage — iterative plans otherwise grow O(k) and stall the
  optimizer (SURVEY.md §4 item 2). That checkpoint stays the live state
  after a durable snapshot too, so the state keeps its hashpartitioning.
- Every iterative plan runs on :func:`iterate`: convergence loops (PageRank,
  HITS, CC, LPA, k-core, SCC colouring), frontier loops (BFS, harmonic,
  neighbourhood, SCC trim/settle — the state is the reached set with a hop
  column, the delta counts the rows the hop added, ``tol=0.5``) and
  fixed-length loops (random walks, ANF, skip-gram epochs: no delta,
  ``max_iter`` steps).
- :func:`pin` is the one way to cache a loop-invariant relation so that
  superstep joins read it without re-exchanging it.
- Resume: pass the last committed snapshot as ``state`` with
  ``start_step`` set to its superstep (see plans.pagerank ``resume=True``).
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.storage import Storage, new_run_id

# step_fn(state, superstep, carry) -> (new_state, delta_term, carry_terms)
#   delta_term: per-row Column over new_state whose sum is the superstep's
#   delta (None: no convergence test)
#   carry_terms: {name: per-row Column}; their sums over new_state come out of
#   the SAME action as the delta and are the next call's ``carry`` dict
#   (empty on the first call)
StepFn = Callable[
    [DataFrame, int, dict],
    tuple[DataFrame, "Column | None", "dict[str, Column] | None"],
]


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int
    deltas: list[float] = field(default_factory=list)
    run_id: str = ""
    converged: bool = False
    walls: list[float] = field(default_factory=list)  # per-superstep seconds


@contextlib.contextmanager
def no_aqe(spark: SparkSession):
    """Disable adaptive query execution for the duration of an iterative
    loop. Two reasons, both measured in BENCH/BASELINE.md:

    - AQE wraps every plan in AdaptiveSparkPlanExec, whose outputPartitioning
      is unknown at checkpoint time — so ``localCheckpoint`` LOSES the
      state's hashpartitioning and every superstep re-exchanges the O(V)
      rank/state rows. With AQE off the checkpointed LogicalRDD keeps its
      partitioning and the hop join needs NO state-side exchange.
    - AQE materializes each exchange as a blocking query stage with a
      driver-side replan barrier: on a 10-superstep loop that is tens of
      extra sync points of pure fixed cost, which is exactly the term that
      does NOT shrink with more executors (it capped N→4N executor scaling
      below 0.8 in r2).

    Inside the loop the engine's EXPLICIT hub salting
    (plans/pagerank._prepare) is the only skew handling: no runtime
    skew-join stands behind it. Non-iterative queries keep AQE on.
    """
    old = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def pin(df: DataFrame, *keys: str) -> DataFrame:
    """Cache a loop-invariant relation hash-partitioned on ``keys`` with the
    session shuffle-partition count. The cached exchange output then
    satisfies every superstep equi-join on ``keys``, so only the O(state)
    side shuffles per superstep (gated in tests/test_plans_quality.py).
    Lazy: the first superstep's action fills the cache. Callers unpersist."""
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(parts, *keys).persist(StorageLevel.MEMORY_AND_DISK_DESER)


def _free(df: DataFrame) -> None:
    """Release a superseded ``localCheckpoint`` state. DataFrame.unpersist()
    does not drop localCheckpoint blocks (they belong to the checkpointed RDD
    under the LogicalRDD, not to the scan RDD ``toRdd`` returns), which leaks
    ~state-size per superstep over a 100-superstep run — unpersist that RDD
    explicitly."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def iterate(
    spark: SparkSession,
    state: DataFrame,
    step_fn: StepFn,
    *,
    algorithm: str,
    max_iter: int,
    tol: float | None = None,
    checkpoint_every: int = 5,
    storage: Storage | None = None,
    run_id: str | None = None,
    start_step: int = 0,
    stop_when: Callable[[list[float]], bool] | None = None,
) -> SuperstepResult:
    """Run ``step_fn`` to convergence. ``step_fn(state, k, carry)`` returns
    ``(new_state, delta_term, carry_terms)`` (see :data:`StepFn`): the
    superstep's delta is the sum of ``delta_term`` over ``new_state`` (None →
    no convergence test, run ``max_iter`` steps), and ``carry`` holds the
    previous superstep's sums of ``carry_terms``.

    Convergence: ``stop_when(deltas)`` if given (e.g. fixpoint detection via
    two equal consecutive state fingerprints), else ``deltas[-1] < tol``."""
    run_id = run_id or new_run_id()
    pending: list[dict] = []  # run_metadata rows not yet committed
    with no_aqe(spark):
        # lazy checkpoint + count: the count's job fills the checkpoint, one
        # Spark job instead of two (as for each superstep below)
        state = state.localCheckpoint(eager=False)
        rows_in = state.count()
        deltas: list[float] = []
        walls: list[float] = []
        converged = False
        carry: dict = {}
        step = start_step
        try:
            for step in range(start_step + 1, max_iter + 1):
                t0 = time.monotonic()
                new_state, delta_term, carry_terms = step_fn(state, step, carry)
                terms = dict(carry_terms or {})
                if delta_term is not None:
                    terms["_delta"] = delta_term
                # Truncate lineage EVERY superstep: persisted-but-unchecked
                # plans grow per iteration (exponentially for steps that read
                # the state more than once) and Catalyst re-analysis comes to
                # dominate wall time. eager=False: the checkpoint materializes
                # inside the SAME action as the per-partition sums below — one
                # Spark job per superstep; coalesce(1) keeps its reduce side
                # one task. Durable snapshots stay on the `checkpoint_every`
                # cadence for resume.
                new_state = new_state.localCheckpoint(eager=False)
                parts = sorted(
                    new_state.groupBy(F.spark_partition_id().alias("_pid"))
                    .agg(
                        F.count(F.lit(1)).alias("_n"),
                        *[F.sum(t).alias(name) for name, t in terms.items()],
                    )
                    .coalesce(1)
                    .collect(),
                    key=lambda r: r["_pid"],
                )
                sums = {n: sum(r[n] or 0 for r in parts) for n in ("_n", *terms)}
                rows_out = sums.pop("_n")
                delta = float(sums.pop("_delta")) if delta_term is not None else None
                carry = sums
                if delta is not None:
                    deltas.append(delta)
                if stop_when is not None:
                    hit_tol = bool(deltas) and stop_when(deltas)
                else:
                    hit_tol = tol is not None and delta is not None and delta < tol
                is_checkpoint = (
                    storage is not None
                    and (step % checkpoint_every == 0 or hit_tol or step == max_iter)
                )
                # the durable snapshot is a side copy written from the local
                # checkpoint the action above filled; that checkpoint stays
                # the live state, so the next superstep keeps its partitioning
                ckpt_path = None
                if is_checkpoint:
                    ckpt_path = storage.write_checkpoint(new_state, algorithm, run_id, step)
                wall = time.monotonic() - t0
                walls.append(wall)
                if storage is not None:
                    pending.append(dict(
                        run_id=run_id, algorithm=algorithm, superstep=step,
                        rows_in=rows_in, rows_out=rows_out, l1_delta=delta,
                        wall_ms=int(wall * 1000), checkpoint_path=ckpt_path,
                        ts=datetime.now(timezone.utc),
                        partition_rows={r["_pid"]: r["_n"] for r in parts},
                    ))
                if ckpt_path is not None:
                    batch, pending = pending, []
                    storage.log_metrics(spark, batch)
                _free(state)
                state = new_state
                rows_in = rows_out
                if hit_tol:
                    converged = True
                    break
        finally:
            if pending:
                storage.log_metrics(spark, pending)
        return SuperstepResult(
            state=state, supersteps=step, deltas=deltas, run_id=run_id,
            converged=converged, walls=walls,
        )
