"""PageRank as checkpointed DataFrame supersteps (north rule G14).

Absent from the reference (SURVEY.md §2.8 G14); its structural template is the
reference's EM convergence loop (``generate_embeddings.py:165-188`` — iterate,
L1-delta stop at tolerance).

Semantics: weighted PageRank, damping ``d`` (default 0.85), teleport and
dangling mass returned uniformly to the seed set (every vertex unless
``reset`` names seeds), convergence when
``sum(abs(rank_k - rank_{k-1})) < tol`` (L1, default 1e-6).

Scale design:
- **One setup pass**: a single out-degree aggregate ``(src, out_w, out_deg)``
  feeds the vertex flags (``is_dangling``, and ``is_hub`` as
  ``out_deg >= hub_threshold``) and the edge fractions; one count job over
  the vertex flags sizes the teleport and decides whether to salt.
- **Loop-invariant edge prep**: ``edges_norm(src, dst, frac, salt)`` —
  contribution fraction precomputed once, hash-partitioned on the join key and
  persisted, so each superstep's join reuses the same partitioning.
- **Skew (hub) handling**: edges of sources with out-degree ≥
  ``hub_threshold`` get per-edge salt buckets; only hub rank rows are
  replicated across salts (``explode``), so a hub's adjacency fans out over
  ``num_salts`` shuffle partitions instead of serializing one (SURVEY.md §4
  item 1). This is the loop's only skew handling: the supersteps run with
  AQE off (``superstep.no_aqe``), so there is no runtime skew-join.
- **One superstep = one join + one partial-aggregated groupBy**; the L1 delta
  and the next superstep's dangling mass are terms summed in the engine's
  single materialization action (a graph without dangling vertices sums to 0).
- **One physical plan**: the pinned, ``src``-partitioned ``edges_norm`` is
  the per-partition adjacency; each superstep ships only the O(V) rank rows
  to it, so no rank state leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.operators.edges import endpoint_ids, vertex_ids
from pybiodatafuse_spark.plans.superstep import SuperstepResult, iterate, pin
from pybiodatafuse_spark.storage import Storage


def _seed(reset: DataFrame | None) -> Column:
    """The teleport flag: ``is_seed`` for personalized PageRank, else every
    vertex. Catalyst folds ``when(true, x)`` to ``x``, so uniform PageRank's
    plans carry no CASE."""
    return F.col("is_seed") if reset is not None else F.lit(True)


def _prepare(
    edges: DataFrame,
    vertices: DataFrame | None,
    num_salts: int,
    hub_threshold: int,
    reset: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, bool, Row]:
    """``(edges_norm, init, salted, counts)``: the pinned edge fractions, the
    vertex flags ``(id, is_dangling, is_hub[, is_seed])`` over ``vertices``
    (defaults to the edge endpoints), whether ``edges_norm`` is salted, and
    the one count job's row ``(n, ns, nds, nh)``: vertices, seeds, dangling
    seeds and hubs."""
    out_w = edges.groupBy("src").agg(
        F.sum("weight").alias("out_w"), F.count(F.lit(1)).alias("out_deg")
    )
    if reset is None:
        ids = vertex_ids(edges, vertices)
    else:
        # the seed flag rides the vertex de-duplication: one aggregate over
        # vertex ids ∪ seed ids, keeping the ids that are vertices
        ids = (
            endpoint_ids(edges, vertices)
            .select("id", F.lit(True).alias("_vertex"), F.lit(False).alias("is_seed"))
            .unionByName(
                reset.select("id", F.lit(False).alias("_vertex"), F.lit(True).alias("is_seed"))
            )
            .groupBy("id")
            .agg(F.max("_vertex").alias("_vertex"), F.max("is_seed").alias("is_seed"))
            .where("_vertex")
        )
    init = ids.join(out_w.select(F.col("src").alias("id"), "out_deg"), "id", "left").select(
        "id",
        F.col("out_deg").isNull().alias("is_dangling"),
        F.coalesce(F.col("out_deg") >= hub_threshold, F.lit(False)).alias("is_hub"),
        *(["is_seed"] if reset is not None else []),
    )
    seed = _seed(reset)
    counts = init.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(seed.cast("long")).alias("ns"),
        F.sum((F.col("is_dangling") & seed).cast("long")).alias("nds"),
        F.sum(F.col("is_hub").cast("long")).alias("nh"),
    ).first()
    if counts["n"] == 0:
        raise ValueError("pagerank: empty vertex set")
    if not counts["ns"]:
        raise ValueError("pagerank: reset seed set is empty or disjoint")
    # ADAPTIVE salting: replicate hub ranks over salt buckets ONLY when hubs
    # actually exist. On a hub-free graph the salt column would still sit in
    # the join key, forcing a per-superstep O(V) exchange of the rank rows
    # onto (id, salt) — but WITHOUT it the state's hashpartitioning(id) from
    # the previous superstep's join already satisfies the hop-join's
    # distribution, so the rank side crosses the wire exactly once per run
    # (first superstep) and each later superstep shuffles only the contribs
    # groupBy. Halving the per-superstep shuffles is what keeps multi-JVM
    # (separate-executor) scaling near-linear; measured in BENCH/BASELINE.md.
    # A hub source outside ``vertices`` is not counted: it has no rank row,
    # so salting its edges could not change a rank.
    salted = counts["nh"] > 0 and num_salts > 1
    cols = ["src", "dst", (F.col("weight") / F.col("out_w")).alias("frac")]
    if salted:
        cols.append(
            F.when(
                F.col("out_deg") >= hub_threshold,
                F.pmod(F.xxhash64("dst"), F.lit(num_salts)),
            )
            .otherwise(F.lit(0))
            .cast("int")
            .alias("salt")
        )
    # ALWAYS hash-partition the loop-invariant side on the join keys with
    # exactly spark.sql.shuffle.partitions partitions: the persisted exchange
    # output then *satisfies* the join's ClusteredDistribution, so
    # EnsureRequirements adds NO exchange for the edge side and each superstep
    # shuffles only the O(V) rank rows — without this the O(E) edge table
    # re-shuffles every superstep (measured: the dominant superstep cost at
    # 27M edges, and the reason 4→16-core scaling collapsed to ~1.6×).
    keys = ["src", "salt"] if salted else ["src"]
    edges_norm = pin(edges.join(out_w, "src").select(*cols), *keys)
    return edges_norm, init, salted, counts


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    *,
    damping: float = 0.85,
    tol: float | None = 1e-6,
    max_iter: int = 100,
    num_salts: int = 8,
    hub_threshold: int = 1000,
    storage: Storage | None = None,
    run_id: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    reset: DataFrame | None = None,
    init_ranks: DataFrame | None = None,
) -> SuperstepResult:
    """Returns SuperstepResult whose state is ``(id, rank, prev_rank, ...)``.

    ``edges(src, dst, weight, ...)``; ``vertices(id, ...)`` optional (defaults
    to edge endpoints). Ranks sum to 1. With ``resume=True`` (requires
    storage + run_id), restarts from the last committed checkpoint snapshot
    (north rule: any run resumable from its last checkpoint).

    ``reset``: optional seed set ``(id, ...)`` → PERSONALIZED PageRank: the
    teleport vector is uniform over the seeds instead of all vertices, and
    dangling mass likewise returns to the seeds. ``rank_0 = 1/|S|`` on seeds,
    0 elsewhere. Uniform PageRank is the same path with every vertex a seed;
    its plans fold the seed test away (no conditional in the hot superstep).

    ``init_ranks``: optional ``(id, rank)`` WARM START — e.g. yesterday's
    converged ranks re-ranked over today's crawl delta. New vertices get the
    uniform prior, then the whole vector is renormalized to sum 1; the
    fixpoint is init-independent, so warm starts converge in a handful of
    supersteps instead of O(50) (the incremental path a daily 10^12-page
    snapshot needs). Incompatible with ``resume`` (checkpoint state wins).
    """
    edges_norm, init, salted, counts = _prepare(
        edges, vertices, num_salts, hub_threshold, reset
    )
    salts = F.sequence(F.lit(0), F.lit(num_salts - 1)).cast("array<int>")
    seed = _seed(reset)
    n_seeds, nd_seed = counts["ns"], counts["nds"]
    state_cols = [c for c in init.columns if c != "id"]
    rank0 = F.when(seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))
    warm = init_ranks is not None and not resume
    if warm:
        prior = init_ranks.select(
            "id", F.col("rank").cast("double").alias("_warm_rank")
        ).dropDuplicates(["id"])
        seeded = init.join(prior, "id", "left").withColumn(
            "_raw", F.coalesce("_warm_rank", rank0)
        )
        total = seeded.agg(F.sum("_raw").alias("t")).first()["t"] or 0.0
        if total <= 0.0:
            raise ValueError("pagerank: init_ranks sums to a non-positive mass")
        state0 = seeded.select(
            "id",
            (F.col("_raw") / F.lit(float(total))).alias("rank"),
            F.lit(0.0).alias("prev_rank"),
            *state_cols,
        )
    else:
        state0 = init.select(
            "id",
            rank0.alias("rank"),
            F.lit(0.0).alias("prev_rank"),
            *state_cols,
        )

    def step(state: DataFrame, k: int, carry: dict):
        # dangling mass of the CURRENT state: summed in the previous
        # superstep's materialization action (carry); first step is closed-form
        # (rank_0 puts 1/|S| on each dangling seed).
        dangling_mass = carry.get("dangling")
        if dangling_mass is None:
            if k <= 1 and not warm:
                dangling_mass = nd_seed / n_seeds
            else:  # resumed from checkpoint: one-off recompute from state
                row = state.where("is_dangling").agg(F.sum("rank").alias("m")).first()
                dangling_mass = row["m"] if row and row["m"] is not None else 0.0
        # teleport + dangling mass return only to the seed set
        base = (1.0 - damping) / n_seeds + damping * float(dangling_mass) / n_seeds
        base_expr = F.when(seed, F.lit(base)).otherwise(F.lit(0.0))
        # shuffle_hash hints: the rank side is the small build side — SHJ
        # avoids re-sorting the (loop-invariant, persisted) edge table every
        # superstep, and keeps the contribs join off the single-threaded
        # broadcast-build path (both measured wins; see BENCH/BASELINE.md).
        if salted:
            ranks = state.select(
                "id",
                "rank",
                F.explode(
                    F.when(
                        F.col("is_hub"), salts
                    ).otherwise(F.array(F.lit(0).cast("int")))
                ).alias("salt"),
            ).hint("shuffle_hash")
            cond = (ranks["id"] == edges_norm["src"]) & (
                ranks["salt"] == edges_norm["salt"]
            )
        else:
            # hub-free: no salt column anywhere, so the rank side's
            # hashpartitioning(id) from the previous superstep's join
            # satisfies the hop-join distribution — zero rank-side exchange
            ranks = state.select("id", "rank").hint("shuffle_hash")
            cond = ranks["id"] == edges_norm["src"]
        contribs = (
            ranks.join(edges_norm, cond)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("frac")).alias("contrib"))
            .withColumnRenamed("dst", "id")
            .hint("shuffle_hash")
        )
        new_state = (
            state.join(contribs, "id", "left")
            .select(
                "id",
                (base_expr + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))).alias(
                    "rank"
                ),
                F.col("rank").alias("prev_rank"),
                *state_cols,
            )
        )
        delta = F.abs(F.col("rank") - F.col("prev_rank"))
        dangling = F.when(F.col("is_dangling"), F.col("rank"))
        return new_state, delta, {"dangling": dangling}

    start_step = 0
    if resume:
        if storage is None or run_id is None:
            raise ValueError("resume requires storage and run_id")
        last = storage.last_checkpoint_step("pagerank", run_id)
        if last is None:
            raise FileNotFoundError(f"no pagerank checkpoint for run {run_id}")
        state0 = storage.read_checkpoint(spark, "pagerank", run_id, last)
        start_step = last

    result = iterate(
        spark,
        state0,
        step,
        algorithm="pagerank",
        max_iter=max_iter,
        tol=tol,
        checkpoint_every=checkpoint_every,
        storage=storage,
        run_id=run_id,
        start_step=start_step,
    )
    edges_norm.unpersist()
    return result


def top_ranks(result: SuperstepResult, k: int = 20) -> DataFrame:
    """Top-k vertices by rank, deterministic tie-break on id (TakeOrdered —
    no global sort materialization)."""
    return (
        result.state.select("id", "rank")
        .orderBy(F.desc("rank"), F.asc("id"))
        .limit(k)
    )
