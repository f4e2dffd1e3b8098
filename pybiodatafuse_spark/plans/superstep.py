"""Generic checkpointed-iteration (superstep) engine — SURVEY.md §7 step 4.

Structural template taken from the reference's only convergence-driven loop,
DREAMwalk EM training (``/root/reference/src/pyBiodatafuse/algorithms/DREAMwalk/
generate_embeddings.py:165-188``: iterate → L1-delta convergence test →
persist), restated for Spark:

    state_{k+1} = step_fn(state_k, k)        # pure DataFrame program
    materialize (persist + single fused agg action → rows_out, L1 delta)
    every `checkpoint_every` steps: write snapshot (lineage truncation + resume
    point) and log per-partition lineage + metrics to the run_metadata table
    stop when delta < tol or k == max_iter

Design notes:
- ONE action per superstep: ``agg(count(*), <delta_expr>)`` on the persisted
  new state; with storage, the per-partition row counts logged to
  run_metadata are a second cheap action on the cached state.
- Lineage is truncated either by the storage checkpoint (parquet/Iceberg
  round-trip) or, without storage, ``localCheckpoint`` — iterative plans
  otherwise grow O(k) and stall the optimizer (SURVEY.md §4 item 2).
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
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.storage import Storage, new_run_id

# step_fn(state, superstep, carry) -> (new_state, delta_expr, carry_aggs)
#   carry: dict of scalar values from the previous superstep's fused agg action
#   carry_aggs: extra aliased aggregate Columns evaluated over new_state in the
#   SAME action as the delta (zero extra Spark jobs) and handed to the next call
StepFn = Callable[
    [DataFrame, int, dict],
    tuple[DataFrame, "Column | None", "list[Column] | None"],
]


@dataclass
class SuperstepResult:
    state: DataFrame
    supersteps: int
    deltas: list[float] = field(default_factory=list)
    run_id: str = ""
    converged: bool = False
    walls: list[float] = field(default_factory=list)  # per-superstep seconds


def _partition_rows(df: DataFrame) -> dict[int, int]:
    rows = df.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    return {r["pid"]: r["count"] for r in rows}


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

    Inside the loop, skew is handled by the engine's EXPLICIT hub salting
    (plans/pagerank._prepare), so losing AQE's runtime skew-join backstop
    here costs nothing. Non-iterative queries keep AQE on.
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
    """Release a superseded state snapshot. DataFrame.unpersist() does not
    drop localCheckpoint blocks (they belong to the checkpointed RDD under
    the LogicalRDD, not to the scan RDD ``toRdd`` returns), which leaks
    ~state-size per superstep over a 100-superstep run — unpersist that RDD
    explicitly."""
    try:
        plan = df._jdf.queryExecution().logical()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
    try:
        df.unpersist()
    except Exception:
        pass


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
    """Run ``step_fn`` to convergence. ``step_fn(state, k)`` returns
    ``(new_state, delta_expr)`` where ``delta_expr`` is an aggregate Column
    over ``new_state`` evaluating to the L1 delta (or None → no convergence
    test, run ``max_iter`` steps).

    Convergence: ``stop_when(deltas)`` if given (e.g. fixpoint detection via
    two equal consecutive state fingerprints), else ``deltas[-1] < tol``."""
    run_id = run_id or new_run_id()
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
        for step in range(start_step + 1, max_iter + 1):
            t0 = time.monotonic()
            new_state, delta_expr, carry_aggs = step_fn(state, step, carry)
            # Truncate lineage EVERY superstep: persisted-but-unchecked plans
            # grow per iteration (exponentially for self-referencing steps
            # like large-star) and Catalyst/AQE re-analysis comes to dominate
            # wall time. localCheckpoint materializes to executor-local
            # storage (one job); durable parquet/Iceberg snapshots below stay
            # on the `checkpoint_every` cadence for resume.
            # eager=False: the checkpoint materializes lazily inside the SAME
            # action as the fused agg below — one Spark job per superstep
            # instead of two (materialize + agg), halving per-superstep fixed
            # overhead.
            new_state = new_state.localCheckpoint(eager=False)
            aggs = [F.count(F.lit(1)).alias("_n")]
            if delta_expr is not None:
                aggs.append(delta_expr.alias("_delta"))
            aggs.extend(carry_aggs or [])
            row = new_state.agg(*aggs).first()
            carry = row.asDict()
            rows_out = row["_n"]
            delta = float(row["_delta"]) if delta_expr is not None and row["_delta"] is not None else None
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
            ckpt_path = None
            if is_checkpoint:
                ckpt_path = storage.write_checkpoint(new_state, algorithm, run_id, step)
                reloaded = storage.read_checkpoint(spark, algorithm, run_id, step)
                _free(new_state)
                new_state = reloaded.persist(StorageLevel.MEMORY_AND_DISK)
            wall = time.monotonic() - t0
            wall_ms = int(wall * 1000)
            walls.append(wall)
            if storage is not None:
                storage.log_metrics(
                    spark,
                    run_id=run_id,
                    algorithm=algorithm,
                    superstep=step,
                    rows_in=rows_in,
                    rows_out=rows_out,
                    l1_delta=delta,
                    wall_ms=wall_ms,
                    checkpoint_path=ckpt_path,
                    partition_rows=_partition_rows(new_state),
                )
            _free(state)
            state = new_state
            rows_in = rows_out
            if hit_tol:
                converged = True
                break
        return SuperstepResult(
            state=state, supersteps=step, deltas=deltas, run_id=run_id,
            converged=converged, walls=walls,
        )
