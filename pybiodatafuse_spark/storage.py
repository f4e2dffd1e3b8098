"""Storage interface: Iceberg-shaped, parquet-backed in the sandbox.

The north rule persists per-superstep checkpoints + lineage/metrics to
Iceberg. This sandbox has no Iceberg runtime jars, so the same interface is
served by a local parquet layout that reproduces Iceberg's COMMIT MODEL
(SURVEY.md §7 hard-part (e)); on a real cluster, construct with
``table_format="iceberg"`` and a configured catalog and every write becomes
``writeTo(...).append()`` on Iceberg tables.

Iceberg semantics implemented here, not just the directory shape:
- **snapshot-commit appends**: each ``append`` writes its files into a fresh
  ``snap-<id>`` directory, then commits by atomically swapping the table's
  ``metadata.json`` (``os.replace`` — the Iceberg optimistic pointer swap).
  A crashed or half-finished write leaves an orphan data directory that NO
  reader ever sees; readers only see fully committed snapshots.
- **time travel**: ``read_table(..., snapshot_id=...)`` /
  ``(..., as_of=<iso ts>)`` reads the table as of any committed snapshot;
  ``snapshots(name)`` lists the log (id, ts, files) — Iceberg's
  ``VERSION AS OF`` / ``TIMESTAMP AS OF``.
- **schema in the metadata**: each commit records the written frame's
  schema, as Iceberg's metadata does, and ``read_table`` hands it to the
  parquet reader, which then plans without a footer-reading Spark job.
- **atomic checkpoint publish**: superstep snapshots are written to a temp
  directory and ``os.rename``d into ``step=<k>`` — resume can never observe
  a torn snapshot even without relying on ``_SUCCESS`` ordering.

Layout (parquet mode) under ``root``:
    checkpoints/<algorithm>/<run_id>/step=<k>/   — superstep state snapshots
    tables/<name>/metadata.json                  — snapshot log (commit pointer)
    tables/<name>/snap-<id>/                     — immutable per-commit data files
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time as _time
import uuid
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pybiodatafuse_spark.schema import RUN_METADATA_SCHEMA

RUN_METADATA_TABLE = "run_metadata"


def new_run_id() -> str:
    return uuid.uuid4().hex[:12]


def _read_schema(df: DataFrame) -> str:
    """``df``'s schema as JSON, in the form the parquet reader gives back:
    every field, array element and map value nullable (the file source
    makes them so), so appends and compactions of one table record one
    schema whatever nullability their frames carried."""

    def nullable(node):
        if isinstance(node, list):
            return [nullable(n) for n in node]
        if not isinstance(node, dict):
            return node
        return {
            k: True if k in ("nullable", "containsNull", "valueContainsNull")
            else v if k == "metadata" else nullable(v)
            for k, v in node.items()
        }

    return json.dumps(nullable(df.schema.jsonValue()), separators=(",", ":"), sort_keys=True)


class Storage:
    def __init__(
        self, root: str, table_format: str = "parquet", catalog: str | None = None
    ) -> None:
        if table_format not in ("parquet", "iceberg"):
            raise ValueError(f"unsupported table format: {table_format}")
        if table_format == "iceberg" and not catalog:
            raise ValueError(
                "table_format='iceberg' requires a catalog name (e.g. "
                "Storage(root, 'iceberg', catalog='prod')) with "
                "spark.sql.catalog.<name> configured on the session; "
                "use table_format='parquet' for the local snapshot-commit "
                "emulation"
            )
        self.root = root
        self.table_format = table_format
        self.catalog = catalog

    def _require_iceberg(self, spark: SparkSession) -> None:
        """Fail actionably instead of silently falling back to parquet."""
        if spark.conf.get(f"spark.sql.catalog.{self.catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog '{self.catalog}' is not configured on this "
                f"session: set spark.sql.catalog.{self.catalog}="
                "org.apache.iceberg.spark.SparkCatalog (+ warehouse/type) and "
                "add the iceberg-spark-runtime jar, or construct Storage with "
                "table_format='parquet'"
            )

    def _iceberg_ident(self, name: str) -> str:
        return f"{self.catalog}.{name}"

    # --- checkpoints --------------------------------------------------------

    def checkpoint_path(self, algorithm: str, run_id: str, step: int) -> str:
        return os.path.join(
            self.root, "checkpoints", algorithm, run_id, f"step={step}"
        )

    def write_checkpoint(self, df: DataFrame, algorithm: str, run_id: str, step: int) -> str:
        path = self.checkpoint_path(algorithm, run_id, step)
        # atomic publish: write to a temp dir, rename into place — a reader
        # (resume) can never observe a half-written snapshot directory
        tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.isdir(path):  # re-publish after a retried superstep
            shutil.rmtree(path)
        os.rename(tmp, path)
        return path

    def read_checkpoint(self, spark: SparkSession, algorithm: str, run_id: str, step: int) -> DataFrame:
        return spark.read.parquet(self.checkpoint_path(algorithm, run_id, step))

    def last_checkpoint_step(self, algorithm: str, run_id: str) -> int | None:
        """Highest superstep with a committed (_SUCCESS) snapshot, for resume."""
        base = os.path.join(self.root, "checkpoints", algorithm, run_id)
        if not os.path.isdir(base):
            return None
        steps = [
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith("step=")
            and os.path.exists(os.path.join(base, d, "_SUCCESS"))
        ]
        return max(steps) if steps else None

    # --- append-only tables: snapshot-commit + time travel ------------------

    def table_path(self, name: str) -> str:
        return os.path.join(self.root, "tables", name)

    def _metadata_file(self, name: str) -> str:
        return os.path.join(self.table_path(name), "metadata.json")

    def snapshots(self, name: str) -> list[dict]:
        """The committed snapshot log: [{"id", "ts", "dir", "schema"}...],
        oldest first (``schema``, the written frame's schema as JSON, is
        absent from entries committed before it was recorded)."""
        f = self._metadata_file(name)
        if not os.path.exists(f):
            return []
        with open(f) as fh:
            return json.load(fh)["snapshots"]

    def _commit_lock(self, name: str):
        """O_EXCL lock file serializing the metadata read-modify-write: the
        actual optimistic-concurrency piece of the Iceberg commit model.
        Without it two concurrent appends both compute ``last+1`` and the
        later ``os.replace`` silently drops the other's committed snapshot
        (e.g. ``log_metrics`` from parallel runs)."""
        lock = os.path.join(self.table_path(name), "metadata.lock")

        @contextlib.contextmanager
        def held():
            deadline = _time.monotonic() + 60.0
            while True:
                try:
                    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    break
                except FileExistsError:
                    if _time.monotonic() > deadline:
                        raise TimeoutError(
                            f"commit lock held too long: {lock} (stale? delete it)"
                        )
                    _time.sleep(0.02)
            try:
                yield
            finally:
                os.close(fd)
                os.unlink(lock)

        return held()

    def _write_log(self, name: str, snaps: list[dict]) -> None:
        """Swap in a new snapshot log: write a temp file, then ``os.replace``
        it over ``metadata.json`` — the atomic commit. Callers hold the
        commit lock."""
        tmp = self._metadata_file(name) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump({"format_version": 1, "snapshots": snaps}, fh)
        os.replace(tmp, self._metadata_file(name))

    def append(self, df: DataFrame, name: str) -> int:
        """Snapshot-commit append (Iceberg model): data lands in an immutable
        ``snap-*`` dir; the commit is one atomic metadata-pointer swap,
        serialized by a lock so concurrent appends can't drop each other's
        snapshots. Returns the new snapshot id.

        In ``iceberg`` mode this is a real ``writeTo(...).append()`` against
        the configured catalog (requires iceberg runtime jars)."""
        if self.table_format == "iceberg":
            self._require_iceberg(df.sparkSession)
            ident = self._iceberg_ident(name)
            df.writeTo(ident).createOrReplace() if not df.sparkSession.catalog.tableExists(
                ident
            ) else df.writeTo(ident).append()
            last = df.sparkSession.sql(
                f"SELECT max(snapshot_id) AS s FROM {ident}.snapshots"
            ).first()
            return int(last["s"])
        base = self.table_path(name)
        os.makedirs(base, exist_ok=True)
        # data files land OUTSIDE the lock (the slow part, parallel-safe:
        # uuid dir names can't collide); only the pointer swap is serialized
        data_dir = os.path.join(base, f"snap-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(data_dir)
        with self._commit_lock(name):
            snaps = self.snapshots(name)  # re-read under the lock
            snap_id = (snaps[-1]["id"] + 1) if snaps else 1
            snaps.append(
                {
                    "id": snap_id,
                    "ts": datetime.now(timezone.utc).isoformat(),
                    "dir": os.path.basename(data_dir),
                    "schema": _read_schema(df),
                }
            )
            self._write_log(name, snaps)
        return snap_id

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        *,
        snapshot_id: int | None = None,
        as_of: str | None = None,
    ) -> DataFrame:
        """Read the table at the latest snapshot, or time-travel with
        ``snapshot_id`` (VERSION AS OF) / ``as_of`` ISO timestamp
        (TIMESTAMP AS OF)."""
        if self.table_format == "iceberg":
            self._require_iceberg(spark)
            reader = spark.read.format("iceberg")
            if snapshot_id is not None:
                reader = reader.option("snapshot-id", str(snapshot_id))
            if as_of is not None:
                reader = reader.option("as-of-timestamp", as_of)
            return reader.table(self._iceberg_ident(name))
        snaps = self.snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"table has no committed snapshots: {name}")
        if snapshot_id is not None:
            snaps = [s for s in snaps if s["id"] <= snapshot_id]
        if as_of is not None:
            snaps = [s for s in snaps if s["ts"] <= as_of]
        if not snaps:
            raise FileNotFoundError(
                f"no snapshot of {name} at snapshot_id={snapshot_id} as_of={as_of}"
            )
        base = self.table_path(name)
        live = self._live_slice(snaps)
        # the schema the commits recorded spares the parquet reader its
        # footer-reading inference job; entries written without one infer
        reader = spark.read
        schemas = {s.get("schema") for s in live}
        if len(schemas) == 1 and None not in schemas:
            reader = reader.schema(T.StructType.fromJson(json.loads(schemas.pop())))
        return reader.parquet(*[os.path.join(base, s["dir"]) for s in live])

    @staticmethod
    def _live_slice(snaps: list[dict]) -> list[dict]:
        """The snapshot entries whose data dirs constitute the table state at
        ``snaps[-1]``: everything from the most recent REWRITE snapshot
        (``base: true`` — a compaction that materialized the full state) to
        the end; all of them when no rewrite precedes."""
        for i in range(len(snaps) - 1, -1, -1):
            if snaps[i].get("base"):
                return snaps[i:]
        return snaps

    # --- table maintenance (Iceberg rewrite_data_files / expire_snapshots) --

    def file_stats(self, name: str) -> dict:
        """(n_files, bytes) over the data dirs of the CURRENT live slice —
        the small-file pressure gauge that decides when to compact."""
        snaps = self._live_slice(self.snapshots(name))
        base = self.table_path(name)
        n_files = total = 0
        for s in snaps:
            d = os.path.join(base, s["dir"])
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    n_files += 1
                    total += os.path.getsize(os.path.join(d, f))
        return {"n_files": n_files, "bytes": total, "n_snapshots": len(snaps)}

    def compact(
        self,
        spark: SparkSession,
        name: str,
        *,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Rewrite the table's current state into one new snapshot with
        ~``target_file_bytes`` files (Iceberg's ``rewrite_data_files`` bin
        packing). Append-heavy pipelines (per-superstep metric rows, daily
        crawl deltas) otherwise accrete one small file set per commit and
        the scan's task count grows with HISTORY instead of data.

        The commit is a normal atomic pointer swap with ``base: true`` —
        readers at the new snapshot scan ONLY the compacted files, while
        time travel to any pre-compaction snapshot still sees the original
        dirs (which remain on disk until :meth:`expire_snapshots`). Returns
        the new snapshot id.

        In ``iceberg`` mode call the catalog's
        ``system.rewrite_data_files`` procedure instead (needs runtime jars).
        """
        if self.table_format == "iceberg":
            self._require_iceberg(spark)
            ident = self._iceberg_ident(name)
            spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{ident}', "
                f"options => map('target-file-size-bytes', '{target_file_bytes}'))"
            )
            last = spark.sql(
                f"SELECT max(snapshot_id) AS s FROM {ident}.snapshots"
            ).first()
            return int(last["s"])
        # OPTIMISTIC-CONCURRENCY REWRITE (Iceberg rewrite_data_files
        # semantics): the expensive file rewrite runs OUTSIDE the commit
        # lock, pinned to the snapshot observed at read time; at swap time
        # the lock re-checks that no new snapshot landed in between. Without
        # this check a concurrent append() committing during the rewrite
        # would stay in the log but have its rows permanently excluded from
        # every later read (the live slice starts at the base snapshot) — a
        # silent lost update. On conflict the orphaned rewrite dir is
        # removed and the compaction retries against the new state.
        base = self.table_path(name)
        for _attempt in range(4):
            snaps_read = self.snapshots(name)
            read_id = snaps_read[-1]["id"] if snaps_read else None
            stats = self.file_stats(name)
            df = self.read_table(
                spark, name, snapshot_id=read_id
            ) if read_id is not None else self.read_table(spark, name)
            n_out = max(1, -(-stats["bytes"] // target_file_bytes))  # ceil
            data_dir = os.path.join(base, f"snap-{uuid.uuid4().hex[:12]}")
            df.coalesce(n_out).write.mode("overwrite").parquet(data_dir)
            with self._commit_lock(name):
                snaps = self.snapshots(name)
                cur_id = snaps[-1]["id"] if snaps else None
                if cur_id == read_id:
                    snap_id = (snaps[-1]["id"] + 1) if snaps else 1
                    snaps.append(
                        {
                            "id": snap_id,
                            "ts": datetime.now(timezone.utc).isoformat(),
                            "dir": os.path.basename(data_dir),
                            "schema": _read_schema(df),
                            "base": True,
                        }
                    )
                    self._write_log(name, snaps)
                    return snap_id
            # conflicting commit landed during the rewrite: discard and retry
            shutil.rmtree(data_dir, ignore_errors=True)
        raise RuntimeError(
            f"compact({name!r}): gave up after 4 attempts — a concurrent "
            f"commit landed during every rewrite; retry when the writer quiesces"
        )

    def expire_snapshots(self, name: str, *, keep_last: int = 1) -> list[int]:
        """Drop snapshot history (Iceberg ``expire_snapshots``): retain the
        most recent ``keep_last`` snapshots, drop older entries whose data
        dirs no retained snapshot references, and DELETE those dirs. In this
        append-delta model an old append's dir stays referenced by every
        later state until a compaction (``base`` rewrite) supersedes it —
        so expiration reclaims exactly the pre-compaction history (compact,
        then expire, is the maintenance pair). Time travel to expired ids
        stops working — that is the point (bounded metadata + storage).
        Returns the expired ids.

        Safe interleaving: the log rewrite happens under the commit lock;
        dir deletion happens after the swap, so a concurrent reader that
        already resolved paths from the OLD metadata may race a delete —
        the same live-reader caveat real Iceberg documents for expire.
        """
        if keep_last < 1:
            raise ValueError("expire_snapshots: keep_last must be >= 1")
        removed_dirs: list[str] = []
        expired: list[int] = []
        with self._commit_lock(name):
            snaps = self.snapshots(name)
            if len(snaps) <= keep_last:
                return []
            kept = snaps[-keep_last:]
            # dirs still needed: union of live slices of every kept snapshot
            needed = set()
            for i in range(len(kept)):
                prefix = snaps[: len(snaps) - keep_last + i + 1]
                for s in self._live_slice(prefix):
                    needed.add(s["dir"])
            dropped = [s for s in snaps[:-keep_last] if s["dir"] not in needed]
            expired = [s["id"] for s in dropped]
            removed_dirs = [s["dir"] for s in dropped]
            new_log = [s for s in snaps if s["id"] not in set(expired)]
            self._write_log(name, new_log)
        for d in removed_dirs:
            shutil.rmtree(os.path.join(self.table_path(name), d), ignore_errors=True)
        return expired

    # --- run metadata (provenance; reference utils.py:43-78 analogue) --------

    def log_metrics(self, spark: SparkSession, supersteps: list[dict]) -> None:
        """Commit the run_metadata rows of ``supersteps`` as ONE snapshot.
        Each entry is one superstep's record: the RUN_METADATA_SCHEMA fields
        except ``partition_id``, plus ``partition_rows`` ({partition id: rows
        out}). It becomes a global row (``partition_id`` -1) and one row per
        partition whose only counter is ``rows_out``."""
        rows = []
        for s in supersteps:
            rows.append({**s, "partition_id": -1})
            rows.extend(
                {**s, "partition_id": pid, "rows_in": None, "rows_out": n,
                 "l1_delta": None, "wall_ms": None}
                for pid, n in s["partition_rows"].items()
            )
        names = RUN_METADATA_SCHEMA.fieldNames()
        # a pandas frame goes through the session's Arrow path and becomes a
        # LocalRelation; a list of tuples would become an RDD that a Python
        # worker serves. coalesce(1): a metrics append is O(supersteps ×
        # partitions) rows — one file per snapshot-commit, not one per task
        pdf = pd.DataFrame([[r[n] for n in names] for r in rows], columns=names)
        self.append(
            spark.createDataFrame(pdf, RUN_METADATA_SCHEMA).coalesce(1),
            RUN_METADATA_TABLE,
        )

    def read_metrics(self, spark: SparkSession) -> DataFrame:
        return self.read_table(spark, RUN_METADATA_TABLE).orderBy(
            "run_id", "algorithm", "superstep", "partition_id"
        )
