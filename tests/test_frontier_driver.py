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


def _jobs_in_group(spark, group, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _bump(state, k, carry):
    """A join-free superstep whose delta term sums to the row count."""
    from pyspark.sql import functions as F

    return state.withColumn("v", F.col("v") + 1), F.lit(1.0), None


def test_stored_superstep_adds_no_bookkeeping_job(spark, tmp_path):
    """With the only durable checkpoint at ``max_iter``, a stored run's jobs
    minus a storage-free run's are the same at 2 and 6 supersteps: the
    per-partition row counts ride the superstep's one job and the metrics
    commit once, with the checkpoint."""
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.superstep import iterate
    from pybiodatafuse_spark.storage import Storage

    state = spark.range(100).withColumn("v", F.col("id") * 2)
    extra = {}
    for max_iter in (2, 6):
        kw = dict(algorithm="bump", max_iter=max_iter, checkpoint_every=max_iter)
        _, free = _jobs_in_group(
            spark, f"bump-free-{max_iter}", lambda: iterate(spark, state, _bump, **kw)
        )
        store = Storage(str(tmp_path / f"store{max_iter}"))
        _, stored = _jobs_in_group(
            spark, f"bump-stored-{max_iter}",
            lambda: iterate(spark, state, _bump, storage=store, **kw),
        )
        extra[max_iter] = stored - free
    assert extra[2] == extra[6], extra


def test_one_metrics_commit_per_durable_checkpoint(spark, tmp_path):
    """7 supersteps at ``checkpoint_every=3`` write checkpoints 3, 6 and 7:
    three run_metadata snapshots, which hold the schema's columns and one
    global row per superstep."""
    import os

    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.superstep import iterate
    from pybiodatafuse_spark.schema import RUN_METADATA_SCHEMA
    from pybiodatafuse_spark.storage import RUN_METADATA_TABLE, Storage

    store = Storage(str(tmp_path / "store"))
    res = iterate(
        spark, spark.range(100).withColumn("v", F.col("id")), _bump,
        algorithm="bump", max_iter=7, checkpoint_every=3, storage=store,
    )
    ckpts = os.listdir(os.path.join(store.root, "checkpoints", "bump", res.run_id))
    assert sorted(ckpts) == ["step=3", "step=6", "step=7"]
    assert len(store.snapshots(RUN_METADATA_TABLE)) == len(ckpts)
    metrics = store.read_metrics(spark)
    assert metrics.columns == RUN_METADATA_SCHEMA.fieldNames()
    glob = metrics.where("partition_id = -1").collect()
    assert [r["superstep"] for r in glob] == list(range(1, 8))
    assert all(r["rows_out"] == 100 and r["l1_delta"] == 100.0 for r in glob)
    assert [r["wall_ms"] for r in glob] == [int(w * 1000) for w in res.walls]


def test_partition_rows_match_a_skewed_state(spark, tmp_path):
    """One key holds 900 of 1000 rows. Each superstep's per-partition
    ``rows_out`` equals ``groupBy(spark_partition_id()).count()`` of the
    state that superstep returned."""
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.superstep import iterate
    from pybiodatafuse_spark.storage import Storage

    seen: dict[int, dict[int, int]] = {}

    def step(state, k, carry):
        new = state.withColumn("v", F.col("v") + 1).repartition(4, "key")
        seen[k] = {
            r["pid"]: r["count"]
            for r in new.groupBy(F.spark_partition_id().alias("pid")).count().collect()
        }
        return new, None, None

    state = spark.range(1000).select(
        "id", F.when(F.col("id") < 900, 0).otherwise(F.col("id")).alias("key"),
        F.lit(0).alias("v"),
    )
    store = Storage(str(tmp_path / "store"))
    iterate(
        spark, state, step, algorithm="skew", max_iter=4, checkpoint_every=2,
        storage=store,
    )
    logged: dict[int, dict[int, int]] = {}
    for r in store.read_metrics(spark).where("partition_id >= 0").collect():
        logged.setdefault(r["superstep"], {})[r["partition_id"]] = r["rows_out"]
    assert logged == seen
    assert all(max(parts.values()) >= 900 for parts in seen.values()), seen


def test_rows_before_a_failure_are_committed(spark, tmp_path):
    """A step that raises at superstep 3, before the first durable
    checkpoint (``checkpoint_every=5``), still leaves the global rows of
    supersteps 1-2 in run_metadata."""
    import pytest
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.superstep import iterate
    from pybiodatafuse_spark.storage import Storage

    def step(state, k, carry):
        if k == 3:
            raise RuntimeError("superstep 3 failed")
        return _bump(state, k, carry)

    store = Storage(str(tmp_path / "store"))
    with pytest.raises(RuntimeError, match="superstep 3 failed"):
        iterate(
            spark, spark.range(10).withColumn("v", F.col("id")), step,
            algorithm="fails", max_iter=6, checkpoint_every=5, storage=store,
        )
    glob = store.read_metrics(spark).where("partition_id = -1").collect()
    assert [r["superstep"] for r in glob] == [1, 2]
    assert all(r["checkpoint_path"] is None for r in glob)


def test_durable_checkpoint_keeps_the_live_state_partitioned(spark, tmp_path):
    """With ``checkpoint_every=2`` over 5 supersteps (snapshots at 2, 4 and
    5), every superstep after the first reads a state hash-partitioned on
    ``id`` at the shuffle-partition count: the snapshot is a side copy, not
    the next superstep's input. Each durable checkpoint costs 2 jobs over a
    storage-free run: the parquet write and the run_metadata commit."""
    from pyspark.sql import functions as F

    from pybiodatafuse_spark.plans.superstep import iterate
    from pybiodatafuse_spark.storage import Storage

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    seen: dict[int, str] = {}

    def step(state, k, carry):
        plan = state._jdf.queryExecution().executedPlan()
        seen[k] = plan.outputPartitioning().toString()
        new = state.repartition(parts, "id").withColumn("v", F.col("v") + 1)
        return new, F.lit(1.0), None

    state = spark.range(200).withColumn("v", F.col("id"))
    kw = dict(algorithm="keep-parts", max_iter=5, checkpoint_every=2)
    _, free = _jobs_in_group(
        spark, "keep-parts-free", lambda: iterate(spark, state, step, **kw)
    )
    store = Storage(str(tmp_path / "store"))
    seen.clear()
    res, stored = _jobs_in_group(
        spark, "keep-parts-stored",
        lambda: iterate(spark, state, step, storage=store, **kw),
    )
    assert sorted(seen) == [1, 2, 3, 4, 5]
    for k in range(2, 6):
        assert seen[k].startswith("hashpartitioning(id#"), seen
        assert seen[k].endswith(f", {parts})"), seen
    assert stored - free == 2 * 3, (stored, free)
    assert res.state.agg(F.sum("v")).first()[0] == sum(i + 5 for i in range(200))
