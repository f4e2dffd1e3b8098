"""Distributed weighted random walks (SURVEY.md G7 — the reference's
DREAMwalk traversal, ``generate_embeddings.py:191-263``, is a driver-side
networkx loop with per-process RNG; neither distributed nor reproducible).

Spark-first restatement:
- adjacency prepared ONCE per run: per-src neighbor array sorted by dst with
  aligned weight/etype arrays, hash-partitioned on ``src`` with exactly
  ``spark.sql.shuffle.partitions`` partitions and persisted — the cached
  exchange output then *satisfies* each hop-join's ClusteredDistribution, so
  the per-hop joins shuffle ONLY the O(active walks) frontier and never
  re-exchange the O(V) adjacency (the same loop-invariant pattern as
  plans/pagerank._prepare; gate: tests/test_plans_quality.py::
  test_walk_adjacency_side_never_reshuffles);
- each superstep advances EVERY walk one hop via a frontier ⋈ adjacency join,
  ``walk_length`` supersteps of the shared driver
  (:func:`~pybiodatafuse_spark.plans.superstep.iterate`, no delta);
- randomness is hash-based — ``u = hash64(f"{walk_id}#{step}") / 2^60`` — so
  walks are deterministic, partition-independent, and exactly reproducible by
  the pure-Python oracle (tests/test_walks.py);
- the entire hop (CDF inversion included) is built-in expressions
  (filter/size/element_at), no Python in the loop.

Walks stop early at dangling vertices (no teleport by default).

``biased_random_walks`` implements the FULL DREAMwalk traversal semantics:
edge-type transition bias (EM-trained K×K matrix), node2vec second-order
p/q weighting against the previous node's neighbor set
(``generate_embeddings.py:210-227``), and teleport either to a static
candidate list (uniform) or to a similarity-graph neighbor sampled by edge
weight (``:234-263``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pybiodatafuse_spark.functions.text import hash64
from pybiodatafuse_spark.plans.superstep import iterate, pin

_HASH_SPACE = float(1 << 60)


def _adjacency_with_cdf(edges: DataFrame) -> DataFrame:
    """(src, dsts array<long>, cdf array<double>) — neighbors sorted by dst,
    cdf normalized to end at 1.0."""
    pairs = edges.groupBy("src").agg(
        F.array_sort(F.collect_list(F.struct("dst", "weight"))).alias("nbrs")
    )
    cum = F.aggregate(
        F.col("nbrs"),
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0.0)) + x["weight"]),
        ),
    )
    # project cum once: inlined into the normalising lambda it would be
    # re-aggregated per element (O(deg^3) per source)
    return pairs.select(
        "src",
        F.transform(F.col("nbrs"), lambda x: x["dst"]).alias("dsts"),
        cum.alias("cum"),
    ).select(
        "src",
        "dsts",
        F.transform("cum", lambda c: c / F.element_at("cum", -1)).alias("cdf"),
    )


def random_walks(
    spark: SparkSession,
    edges: DataFrame,
    start_vertices: DataFrame,
    *,
    num_walks: int = 1,
    walk_length: int = 10,
) -> DataFrame:
    """Returns (walk_id, start, path array<long>) with path[0] = start.

    walk_id = start_id * num_walks + w (deterministic); u for step k of a
    walk depends only on (walk_id, k).
    """
    adj = pin(_adjacency_with_cdf(edges), "src")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frontier0 = (
        start_vertices.select(F.col("id").alias("start"))
        .crossJoin(spark.range(num_walks).select(F.col("id").alias("w")))
        .select(
            (F.col("start") * num_walks + F.col("w")).alias("walk_id"),
            F.col("start"),
            F.col("start").alias("cur"),
            F.array(F.col("start")).alias("path"),
            F.lit(False).alias("done"),
        )
    )

    def hop(frontier: DataFrame, step: int, carry: dict):
        u = (
            hash64(F.concat_ws("#", F.col("walk_id").cast("string"), F.lit(str(step))))
            / F.lit(_HASH_SPACE)
        )
        moved = (
            frontier.where(~F.col("done"))
            .hint("shuffle_hash")
            .join(adj, F.col("cur") == adj["src"], "left")
            .select(
                "walk_id",
                "start",
                F.col("dsts").isNull().alias("now_done"),
                F.when(
                    F.col("dsts").isNull(), F.col("cur")
                ).otherwise(
                    F.element_at(
                        "dsts",
                        (F.size(F.filter("cdf", lambda c: c < u)) + 1).cast("int"),
                    )
                ).alias("nxt"),
                "path",
            )
            .select(
                "walk_id",
                "start",
                F.col("nxt").alias("cur"),
                F.when(F.col("now_done"), F.col("path")).otherwise(
                    F.concat("path", F.array("nxt"))
                ).alias("path"),
                F.col("now_done").alias("done"),
            )
        )
        return _advance(moved, frontier, parts), None, None

    res = iterate(spark, frontier0, hop, algorithm="random_walks", max_iter=walk_length)
    adj.unpersist()
    return res.state.select("walk_id", "start", "path")


def _advance(moved: DataFrame, frontier: DataFrame, parts: int) -> DataFrame:
    """Next walk state: the walks moved this hop plus those already done.
    The moved rows come out of the hop join and the done rows keep the old
    state's partitions, so the union cannot keep one partitioning; the
    narrow coalesce holds the state at ``parts`` partitions instead of
    growing by ``parts`` every hop."""
    return moved.unionByName(frontier.where(F.col("done"))).coalesce(parts)


def _typed_adjacency(edges: DataFrame) -> DataFrame:
    """(src, dsts, ws, ets) aligned neighbor arrays sorted by (dst, weight,
    etype) — the biased walk computes its CDF per step (it depends on the
    previous edge type), so raw weights are kept, not a precomputed CDF."""
    pairs = edges.groupBy("src").agg(
        F.array_sort(F.collect_list(F.struct("dst", "weight", "etype"))).alias("nbrs")
    )
    return pairs.select(
        "src",
        F.transform("nbrs", lambda x: x["dst"]).alias("dsts"),
        F.transform("nbrs", lambda x: x["weight"]).alias("ws"),
        F.transform("nbrs", lambda x: x["etype"]).alias("ets"),
    )


def _neighbor_sets(edges: DataFrame) -> DataFrame:
    """(src, nbrs array<long> sorted): nodes adjacent in EITHER direction —
    the reference's ``graph.has_edge(nbr, prev) or graph.has_edge(prev,
    nbr)`` membership test (``generate_embeddings.py:217``), shipped as a
    sorted array per node for the p/q second-order weighting."""
    bidir = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return bidir.groupBy("src").agg(
        F.array_sort(F.collect_set("dst")).alias("nbrs")
    )


def biased_random_walks(
    spark: SparkSession,
    edges: DataFrame,
    start_vertices: DataFrame,
    transition_matrix: list[list[float]],
    *,
    num_walks: int = 1,
    walk_length: int = 10,
    p: float = 1.0,
    q: float = 1.0,
    teleport: float = 0.0,
    teleport_targets: list[int] | None = None,
    sim_edges: DataFrame | None = None,
) -> DataFrame:
    """Edge-type-biased node2vec walks with teleport — the full DREAMwalk
    traversal (``generate_embeddings.py:191-263``), made distributed +
    deterministic.

    Semantics per step (walk at ``cur`` arrived from ``prev`` via edge type
    ``pet``; ``pet = -1`` before the first hop):
    - **first hop** (``pet = -1``): neighbor i ∝ raw ``weight_i``
      (reference ``:291-299`` "select first edge from any neighbors");
    - **teleport**: with probability ``teleport`` (decided by
      ``u_tp = h(walk_id#step#tp)``), from the second hop on:
      - ``sim_edges(src, dst, weight)`` given → jump to a similarity-graph
        neighbor of ``cur`` sampled ∝ edge weight by CDF inversion of
        ``h(walk_id#step#sim)`` (reference ``_teleport_operation``); after
        the jump ``prev := cur`` and ``pet`` KEEPS its pre-teleport value —
        the reference appends to ``walk`` but not ``edge_walk`` (``:310``),
        so the next hop's transition bias uses the stale edge type; a walk
        whose ``cur`` has no sim neighbors cannot teleport;
      - else a static ``teleport_targets`` list → uniform jump with
        ``pet := -1`` (the r1/r2 abstraction, kept for compatibility);
    - **biased hop** (``pet ≥ 0``): neighbor i ∝
      ``weight_i × M[pet][etype_i] × pq_i`` with the node2vec second-order
      factor (reference ``:210-227``, checked in this order):
      ``pq_i = 1`` if dst_i is adjacent to ``prev`` (either direction),
      ``1/p`` if ``dst_i = prev`` (return), else ``1/q`` (in-out);
      sampled by CDF inversion of ``u = h(walk_id#step)``;
    - a vertex with no out-edges ends the walk (reference ``:316-317``
      dead-end break — checked BEFORE teleport when ``sim_edges`` is used,
      matching the reference's control flow); so does a vertex whose biased
      weights all vanish.

    Transition-matrix entries index etypes 0..K-1 (row = previous type).
    The p/q neighbor-set join is added only when ``p ≠ 1 or q ≠ 1`` — the
    first-order plan is unchanged otherwise. Exactly reproduced by the
    pure-Python oracle in tests/test_walks.py.
    """
    K = len(transition_matrix)
    mflat = F.array(
        *[F.lit(float(v)) for row in transition_matrix for v in row]
    )
    tp_arr = (
        F.array(*[F.lit(int(t)) for t in teleport_targets])
        if teleport_targets
        else None
    )
    use_sim = sim_edges is not None
    use_pq = p != 1.0 or q != 1.0
    adj = _typed_adjacency(edges)
    if use_sim:
        sim_adj = _adjacency_with_cdf(sim_edges).select(
            "src", F.col("dsts").alias("sdsts"), F.col("cdf").alias("scdf")
        )
        adj = adj.join(sim_adj, "src", "left")
    adj = pin(adj, "src")
    nbr_sets = pin(_neighbor_sets(edges), "src") if use_pq else None
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    frontier0 = (
        start_vertices.select(F.col("id").alias("start"))
        .crossJoin(spark.range(num_walks).select(F.col("id").alias("w")))
        .select(
            (F.col("start") * num_walks + F.col("w")).alias("walk_id"),
            F.col("start"),
            F.col("start").alias("cur"),
            F.lit(-1).cast("long").alias("prev"),
            F.lit(-1).cast("int").alias("pet"),
            F.array(F.col("start")).alias("path"),
            F.lit(False).alias("done"),
        )
    )

    def hop(frontier: DataFrame, step: int, carry: dict):
        u = (
            hash64(F.concat_ws("#", F.col("walk_id").cast("string"), F.lit(str(step))))
            / F.lit(_HASH_SPACE)
        )
        u_tp = (
            hash64(
                F.concat_ws(
                    "#", F.col("walk_id").cast("string"), F.lit(str(step)), F.lit("tp")
                )
            )
            / F.lit(_HASH_SPACE)
        )
        active = (
            frontier.where(~F.col("done"))
            .hint("shuffle_hash")
            .join(adj, F.col("cur") == adj["src"], "left")
            .drop("src")
        )
        if use_pq:
            # second join keyed on prev: the previous node's neighbor set
            # (pre-partitioned on src too — only the frontier re-shuffles)
            active = (
                active.hint("shuffle_hash")
                .join(
                    nbr_sets.select(
                        F.col("src").alias("_pn"), F.col("nbrs").alias("prev_nbrs")
                    ),
                    F.col("prev") == F.col("_pn"),
                    "left",
                )
                .drop("_pn")
            )
        # biased per-neighbor weights given previous edge type + p/q factor
        bias = lambda t: F.element_at(mflat, (F.col("pet") * K + t + 1).cast("int"))
        if use_pq:
            pqf = lambda d: (
                F.when(F.array_contains(F.col("prev_nbrs"), d), F.lit(1.0))
                .when(d == F.col("prev"), F.lit(1.0 / p))
                .otherwise(F.lit(1.0 / q))
            )
            bw_biased = F.zip_with(
                F.col("dsts"),
                F.arrays_zip(F.col("ws"), F.col("ets")),
                lambda d, z: z["ws"] * bias(z["ets"]) * pqf(d),
            )
        else:
            bw_biased = F.zip_with(
                F.col("ws"), F.col("ets"), lambda w, t: w * bias(t)
            )
        bw = F.when(F.col("pet") < 0, F.col("ws")).otherwise(bw_biased)
        total = F.aggregate(bw, F.lit(0.0), lambda a, x: a + x)
        cum = F.aggregate(
            bw,
            F.array().cast("array<double>"),
            lambda acc, x: F.concat(
                acc,
                F.array(F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(0.0)) + x),
            ),
        )
        idx = (
            F.size(F.filter(F.transform(cum, lambda c: c / total), lambda c: c < u)) + 1
        ).cast("int")
        if use_sim:
            u_sim = (
                hash64(
                    F.concat_ws(
                        "#",
                        F.col("walk_id").cast("string"),
                        F.lit(str(step)),
                        F.lit("sim"),
                    )
                )
                / F.lit(_HASH_SPACE)
            )
            # reference control flow: dead-end break first, then teleport
            # (only for nodes present in g_sim), from the second hop on
            can_tp = (
                (F.lit(step) >= 2)
                & (F.lit(teleport) > 0)
                & (u_tp < F.lit(teleport))
                & F.col("sdsts").isNotNull()
            )
            tp_next = F.element_at(
                "sdsts",
                (F.size(F.filter("scdf", lambda c: c < u_sim)) + 1).cast("int"),
            )
            stuck = F.col("dsts").isNull() | (~can_tp & (total <= F.lit(0.0)))
            is_tp = can_tp & F.col("dsts").isNotNull()
            new_pet = (
                F.when(is_tp | stuck, F.col("pet"))  # teleport keeps edge type
                .otherwise(F.element_at("ets", idx).cast("int"))
            )
        elif tp_arr is not None:
            is_tp = (F.lit(teleport) > 0) & (u_tp < F.lit(teleport))
            tp_next = F.element_at(
                tp_arr,
                (F.floor(u_tp / F.lit(teleport) * len(teleport_targets)) + 1).cast("int"),
            )
            stuck = ~is_tp & (F.col("dsts").isNull() | (total <= F.lit(0.0)))
            new_pet = (
                F.when(is_tp, F.lit(-1).cast("int"))
                .when(stuck, F.col("pet"))
                .otherwise(F.element_at("ets", idx).cast("int"))
            )
        else:
            is_tp = F.lit(False)
            tp_next = F.lit(None).cast("long")
            stuck = F.col("dsts").isNull() | (total <= F.lit(0.0))
            new_pet = F.when(stuck, F.col("pet")).otherwise(
                F.element_at("ets", idx).cast("int")
            )
        moved = active.select(
            "walk_id",
            "start",
            F.when(is_tp, F.lit(False)).otherwise(stuck).alias("now_done"),
            F.when(is_tp, tp_next)
            .when(stuck, F.col("cur"))
            .otherwise(F.element_at("dsts", idx))
            .alias("nxt"),
            F.when(stuck, F.col("prev")).otherwise(F.col("cur")).alias("new_prev"),
            new_pet.alias("new_pet"),
            "path",
        ).select(
            "walk_id",
            "start",
            F.col("nxt").alias("cur"),
            F.col("new_prev").alias("prev"),
            F.col("new_pet").alias("pet"),
            F.when(F.col("now_done"), F.col("path"))
            .otherwise(F.concat("path", F.array("nxt")))
            .alias("path"),
            F.col("now_done").alias("done"),
        )
        return _advance(moved, frontier, parts), None, None

    res = iterate(
        spark, frontier0, hop, algorithm="biased_random_walks", max_iter=walk_length
    )
    adj.unpersist()
    if nbr_sets is not None:
        nbr_sets.unpersist()
    return res.state.select("walk_id", "start", "path")
