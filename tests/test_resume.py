"""North-rule resumability: kill after superstep k, resume from the durable
checkpoint, final state matches the uninterrupted run."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pybiodatafuse_spark.plans.pagerank import pagerank
from pybiodatafuse_spark.storage import Storage, new_run_id
from tests.graph_fixture import spark_graph


@pytest.mark.slow_e2e
def test_interrupt_and_resume_matches_uninterrupted(spark, pages_df, tmp_path):
    verts, edges = spark_graph(pages_df)
    edges = edges.cache()
    store = Storage(str(tmp_path / "store"))
    run_id = new_run_id()

    full = pagerank(spark, edges, verts, tol=None, max_iter=12, hub_threshold=5)

    # "crash" after 6 supersteps (checkpoint_every=3 → snapshot at step 6)
    pagerank(
        spark, edges, verts, tol=None, max_iter=6, hub_threshold=5,
        storage=store, run_id=run_id, checkpoint_every=3,
    )
    resumed = pagerank(
        spark, edges, verts, tol=None, max_iter=12, hub_threshold=5,
        storage=store, run_id=run_id, checkpoint_every=3, resume=True,
    )
    assert resumed.supersteps == 12

    a = {r["id"]: r["rank"] for r in full.state.select("id", "rank").collect()}
    b = {r["id"]: r["rank"] for r in resumed.state.select("id", "rank").collect()}
    assert a.keys() == b.keys()
    assert max(abs(a[k] - b[k]) for k in a) < 1e-12

    # lineage: metrics rows exist for both segments (1-6 live, 7-12 resumed)
    steps = {
        r["superstep"]
        for r in store.read_metrics(spark)
        .where((F.col("run_id") == run_id) & (F.col("partition_id") == -1))
        .collect()
    }
    assert steps == set(range(1, 13))


def test_table_snapshot_commit_and_time_travel(spark, tmp_path):
    """Iceberg commit model on the parquet backing: snapshot-commit appends
    (atomic metadata swap — readers never see uncommitted data dirs) +
    VERSION AS OF / TIMESTAMP AS OF time travel."""
    import os

    from pybiodatafuse_spark.storage import Storage

    st = Storage(str(tmp_path / "store"))
    s1 = st.append(spark.createDataFrame([(1,)], "x long"), "t")
    s2 = st.append(spark.createDataFrame([(2,)], "x long"), "t")
    assert (s1, s2) == (1, 2)
    assert {r["x"] for r in st.read_table(spark, "t").collect()} == {1, 2}
    assert {r["x"] for r in st.read_table(spark, "t", snapshot_id=1).collect()} == {1}
    snaps = st.snapshots("t")
    assert len(snaps) == 2
    assert {r["x"] for r in st.read_table(spark, "t", as_of=snaps[0]["ts"]).collect()} == {1}
    # an uncommitted (orphan) data dir is invisible to readers
    orphan = os.path.join(st.table_path("t"), "snap-99-deadbeef")
    spark.createDataFrame([(99,)], "x long").write.parquet(orphan)
    assert {r["x"] for r in st.read_table(spark, "t").collect()} == {1, 2}
    # resume still finds the highest atomic checkpoint
    st.write_checkpoint(spark.createDataFrame([(7,)], "x long"), "alg", "r1", 3)
    assert st.last_checkpoint_step("alg", "r1") == 3


def test_concurrent_appends_drop_no_snapshot(spark, tmp_path):
    """The commit lock gives real optimistic-concurrency semantics: N
    parallel appends → N committed snapshots with distinct consecutive ids
    (without the lock, racing read-modify-writes of metadata.json silently
    drop committed snapshots — the log_metrics-from-parallel-runs case)."""
    from concurrent.futures import ThreadPoolExecutor

    st = Storage(str(tmp_path / "store"))
    dfs = [spark.createDataFrame([(i,)], "x long") for i in range(8)]
    with ThreadPoolExecutor(max_workers=8) as ex:
        ids = list(ex.map(lambda d: st.append(d, "t"), dfs))
    assert sorted(ids) == list(range(1, 9))
    assert len(st.snapshots("t")) == 8
    assert {r["x"] for r in st.read_table(spark, "t").collect()} == set(range(8))


def test_iceberg_mode_is_honest(spark, tmp_path):
    """table_format='iceberg' never silently degrades to parquet: it demands
    a catalog at construction and a configured spark.sql.catalog.<name> at
    first use; parquet mode is unchanged."""
    import pytest

    with pytest.raises(ValueError, match="catalog"):
        Storage(str(tmp_path), table_format="iceberg")
    st = Storage(str(tmp_path), table_format="iceberg", catalog="prod")
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(RuntimeError, match="spark.sql.catalog.prod"):
        st.append(df, "t")
    with pytest.raises(RuntimeError, match="spark.sql.catalog.prod"):
        st.read_table(spark, "t")


def test_compact_and_expire_snapshots(spark, tmp_path):
    """Iceberg maintenance pair: compaction rewrites the live state into one
    base snapshot (same rows, fewer files); expiration then reclaims exactly
    the superseded pre-compaction dirs while time travel to retained
    snapshots keeps working."""
    import os

    st = Storage(str(tmp_path / "store"))
    for lo in (0, 10, 20):
        st.append(
            spark.createDataFrame([(i,) for i in range(lo, lo + 10)], "v long"),
            "t",
        )
    before = st.file_stats("t")
    assert before["n_snapshots"] == 3
    want = set(range(30))

    snap4 = st.compact(spark, "t")
    assert snap4 == 4
    after = st.file_stats("t")
    # live slice is now the single base snapshot, bin-packed
    assert after["n_snapshots"] == 1
    assert after["n_files"] < before["n_files"]
    got = {r["v"] for r in st.read_table(spark, "t").collect()}
    assert got == want
    # time travel BEFORE the compaction still reads the original dirs
    got2 = {r["v"] for r in st.read_table(spark, "t", snapshot_id=2).collect()}
    assert got2 == set(range(20))

    # pure-append history without a base is never expirable (dirs still
    # referenced by the latest state)
    st2 = Storage(str(tmp_path / "store2"))
    st2.append(spark.createDataFrame([(1,)], "v long"), "u")
    st2.append(spark.createDataFrame([(2,)], "v long"), "u")
    assert st2.expire_snapshots("u", keep_last=1) == []

    # expiring after compaction drops snapshots 1-3 and deletes their dirs
    dirs_before = {
        s["dir"]: s["id"] for s in st.snapshots("t")
    }
    expired = st.expire_snapshots("t", keep_last=1)
    assert expired == [1, 2, 3]
    assert [s["id"] for s in st.snapshots("t")] == [4]
    for d, sid in dirs_before.items():
        exists = os.path.isdir(os.path.join(st.table_path("t"), d))
        assert exists == (sid == 4)
    # the retained state is intact; expired time travel is gone
    assert {r["v"] for r in st.read_table(spark, "t").collect()} == want
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        st.read_table(spark, "t", snapshot_id=2)

    # appends stack on top of the base as usual
    st.append(spark.createDataFrame([(99,)], "v long"), "t")
    assert {r["v"] for r in st.read_table(spark, "t").collect()} == want | {99}


def test_compact_retries_on_concurrent_append(spark, tmp_path, monkeypatch):
    """Optimistic-concurrency compaction (Iceberg rewrite_data_files commit
    validation): an append that commits BETWEEN compaction's pinned read and
    its pointer swap must never be lost. The hook lands an append right
    after compact()'s first read resolves — the stale rewrite must be
    detected under the lock, discarded, and retried against the new state."""
    import os

    st = Storage(str(tmp_path / "store"))
    for lo in (0, 10):
        st.append(
            spark.createDataFrame([(i,) for i in range(lo, lo + 10)], "v long"),
            "t",
        )

    orig_read = Storage.read_table
    hooked = {"fired": False}

    def read_then_race(self, spk, name, **kw):
        df = orig_read(self, spk, name, **kw)
        if not hooked["fired"]:
            hooked["fired"] = True
            # concurrent writer commits while the rewrite is in flight
            self.append(spk.createDataFrame([(999,)], "v long"), name)
        return df

    monkeypatch.setattr(Storage, "read_table", read_then_race)
    snap = st.compact(spark, "t")
    monkeypatch.undo()

    assert hooked["fired"]
    # the racing append's rows survive the compaction
    got = {r["v"] for r in st.read_table(spark, "t").collect()}
    assert got == set(range(20)) | {999}
    # the committed base snapshot sits on top of the racing append
    snaps = st.snapshots("t")
    assert snaps[-1]["id"] == snap and snaps[-1].get("base") is True
    assert [s["id"] for s in snaps] == [1, 2, 3, 4]
    # the abandoned first rewrite dir was cleaned up: only referenced dirs
    live_dirs = {s["dir"] for s in snaps}
    on_disk = {
        d for d in os.listdir(st.table_path("t")) if os.path.isdir(
            os.path.join(st.table_path("t"), d)
        )
    }
    assert on_disk == live_dirs


def test_log_metrics_frame_is_a_local_relation(spark, tmp_path, monkeypatch):
    """The run_metadata frame takes the session's Arrow path: a LocalRelation
    in the JVM, not an RDD a Python worker serves."""
    from datetime import datetime, timezone

    st = Storage(str(tmp_path / "store"))
    written = []
    append = Storage.append

    def spy(self, df, name):
        written.append(df)
        return append(self, df, name)

    monkeypatch.setattr(Storage, "append", spy)
    ts = datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc)
    st.log_metrics(spark, [dict(
        run_id="r", algorithm="pagerank", superstep=1, rows_in=5, rows_out=5,
        l1_delta=None, wall_ms=7, checkpoint_path=None, ts=ts,
        partition_rows={0: 2, 1: 3},
    )])
    (df,) = written
    leaf = df._jdf.queryExecution().analyzed().collectLeaves().head()
    assert leaf.getClass().getSimpleName() == "LocalRelation", leaf.getClass()
    got = sorted(tuple(r) for r in st.read_metrics(spark).collect())
    naive = ts.replace(tzinfo=None)  # session time zone is UTC
    assert got == [
        ("r", "pagerank", 1, -1, 5, 5, None, 7, None, naive),
        ("r", "pagerank", 1, 0, None, 2, None, None, None, naive),
        ("r", "pagerank", 1, 1, None, 3, None, None, None, naive),
    ]


def test_read_table_runs_no_schema_inference_job(spark, tmp_path):
    """``append`` records the frame's schema, so ``read_table`` hands it to
    the parquet reader and plans without a footer-reading job; an entry
    committed without a schema still reads through inference."""
    import json

    st = Storage(str(tmp_path / "store"))
    sc = spark.sparkContext

    def read_jobs() -> tuple[DataFrame, int]:
        group = f"read-table-plan-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "read_table without an action")
        try:
            df = st.read_table(spark, "t")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, len(sc.statusTracker().getJobIdsForGroup(group))

    # a non-nullable field, as run_metadata's schema has: the commit records
    # it nullable, as the parquet reader returns it
    st.append(spark.createDataFrame([(1, "a")], "x long not null, y string"), "t")
    st.append(spark.createDataFrame([(2, "b")], "x long not null, y string"), "t")
    df, jobs = read_jobs()
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]

    # a compaction records the read-back frame's schema; the next append
    # must record the same one, or every later read infers again
    st.compact(spark, "t")
    st.append(spark.createDataFrame([(3, "c")], "x long not null, y string"), "t")
    assert len({s["schema"] for s in st.snapshots("t")}) == 1
    df, jobs = read_jobs()
    assert jobs == 0
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b"), (3, "c")]

    # a log written before schemas were recorded: inference still reads it
    meta = st._metadata_file("t")
    with open(meta) as fh:
        log = json.load(fh)
    for s in log["snapshots"]:
        s.pop("schema")
    with open(meta, "w") as fh:
        json.dump(log, fh)
    legacy = st.read_table(spark, "t")
    assert legacy.schema == df.schema
    assert sorted(tuple(r) for r in legacy.collect()) == [(1, "a"), (2, "b"), (3, "c")]
