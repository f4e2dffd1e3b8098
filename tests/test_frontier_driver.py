"""Frontier loops on the shared superstep driver: one Spark job per hop,
flat cache across hops, state kept at the session shuffle-partition count."""

from __future__ import annotations

HOPS = 50
FAN = 300


def _edge_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _spy_checkpoints(spark, monkeypatch, record):
    """Call ``record(df)`` on every frame about to be checkpointed — each
    hop's new state, whichever loop drives it."""
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        record(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)


def test_bfs_chain_one_job_per_hop_and_flat_cache(spark, monkeypatch):
    """A 50-hop chain with a 300-leaf fan at the seed: the fan dominates the
    reached set, so one hop's state is nearly the size of the next and any
    superseded state left cached shows up as growth."""
    from pybiodatafuse_spark.plans.bfs import bfs_distances

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    cached: list[tuple[int, int]] = []

    def record(df):
        infos = jsc.getRDDStorageInfo()
        cached.append((len(infos), sum(i.memSize() + i.diskSize() for i in infos)))

    chain = [(i, i + 1) for i in range(HOPS)]
    fan = [(0, 10_000 + j) for j in range(FAN)]
    edges = _edge_df(spark, chain + fan)
    seeds = spark.createDataFrame([(0,)], "id long")
    _spy_checkpoints(spark, monkeypatch, record)
    sc.setJobGroup("bfs-chain", "bfs_distances on a 50-hop chain")
    try:
        dist = bfs_distances(spark, edges, seeds, max_hops=HOPS + 5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    monkeypatch.undo()

    jobs = sc.statusTracker().getJobIdsForGroup("bfs-chain")
    assert len(jobs) <= HOPS + 10, len(jobs)
    got = {r["id"]: r["dist"] for r in dist.collect()}
    assert got == {
        **{i: i for i in range(HOPS + 1)},
        **{10_000 + j: 1 for j in range(FAN)},
    }
    # from hop 3 on (edge list cached, fan reached) nothing may pile up
    steady = cached[3:]
    assert len(steady) >= HOPS - 5, cached
    assert max(n for n, _ in steady) <= steady[0][0], cached
    assert max(b for _, b in steady) <= 1.5 * steady[0][1], cached


def test_frontier_state_keeps_shuffle_partition_count(spark, monkeypatch):
    """harmonic_centrality and neighborhood_sizes keep their per-hop state
    hash-partitioned at spark.sql.shuffle.partitions on a 30-hop chain (a
    union with a differently partitioned hop would add that many partitions
    every hop); random walks hold theirs there from the first hop on (their
    start state's partitioning comes from the caller's vertex frame)."""
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.bfs import harmonic_centrality, neighborhood_sizes
    from pybiodatafuse_spark.plans.walks import random_walks

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = _edge_df(spark, [(i, i + 1) for i in range(30)])
    verts = spark.range(31).select("id")
    weighted = edges.withColumn("weight", F.lit(1.0))
    for run, first_hop in (
        (lambda: harmonic_centrality(spark, edges, verts, max_hops=35).count(), 0),
        (lambda: neighborhood_sizes(spark, edges, hops=30).count(), 0),
        (lambda: random_walks(spark, weighted, verts, walk_length=30).count(), 1),
    ):
        seen: list[int] = []
        _spy_checkpoints(
            spark, monkeypatch, lambda df: seen.append(df._jdf.rdd().getNumPartitions())
        )
        run()
        monkeypatch.undo()
        assert len(seen) >= 30, seen
        assert set(seen[first_hop:]) == {parts}, seen


def test_iterate_enters_the_loop_in_one_job(spark):
    """Without storage, entering the loop (checkpoint + row count) is one
    Spark job and a join-free superstep another: 2 jobs for max_iter=1."""
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.superstep import iterate

    def step(state, k, carry):
        return state.withColumn("v", F.col("v") + 1), None, None

    state = spark.range(100).withColumn("v", F.col("id") * 2)
    sc = spark.sparkContext
    sc.setJobGroup("iterate-entry", "iterate max_iter=1 without storage")
    try:
        res = iterate(spark, state, step, algorithm="entry", max_iter=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    assert len(sc.statusTracker().getJobIdsForGroup("iterate-entry")) == 2
    assert res.supersteps == 1
    assert res.state.agg(F.sum("v")).first()[0] == sum(2 * i + 1 for i in range(100))
