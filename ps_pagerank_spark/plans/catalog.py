"""Iceberg-style table catalog over partitioned Parquet + JSON manifests.

The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so this module
provides the Iceberg semantics the engine needs — versioned snapshots,
append/overwrite, time-travel reads, snapshot properties — as a thin layer:

    root/
      <table>/
        _meta.json              # {"snapshots": [...], "current": id}
        snap-000001/*.parquet   # data files written by snapshot 1
        snap-000002/*.parquet

Each snapshot manifest records the list of data directories visible at that
version (append = previous dirs + new dir; overwrite = new dir only) and a
JSON ``props`` payload (e.g. PageRank iteration number + per-iteration
metrics) — that payload is what makes runs resumable. Each snapshot also
stores its schema, so a read never infers one from the files.

Partition spec: ``partition_by`` (hive partition columns) and ``layout``
(how their values are derived, e.g. bucket key + modulus) are per table.
``overwrite`` replaces every data dir, so it writes exactly the spec it is
given — ``None`` means unpartitioned with no layout. ``append`` inherits
the stored spec and rejects a different one.

Snapshot ids are a deterministic counter (no wall clock): repeated runs of
the test suite produce byte-identical metadata apart from parquet
internals.

Concurrency contract: **one writer per table at a time**, enforced with an
advisory lockfile (``_meta.lock``, O_CREAT|O_EXCL, pid inside) held across
the whole write (metadata read → data-dir write → manifest swap). A second
writer hitting a held lock raises :class:`ConcurrentWriteError` immediately
(the Iceberg ``CommitFailedException`` analog — retry the whole write); a
lock left by a dead process is stolen. Without this, two interleaved
writers could each read the same ``current``, write the same ``snap-id``
data dir, and the loser's manifest swap would silently drop the winner's
snapshot.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


class ConcurrentWriteError(RuntimeError):
    """Another live writer holds this table's commit lock. Catalog writes
    are single-writer-per-table (module docstring); retry the whole
    write after the other commit finishes."""


class Catalog:
    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _meta_path(self, table: str) -> Path:
        return self.root / table / "_meta.json"

    def _load_meta(self, table: str) -> dict:
        p = self._meta_path(table)
        if not p.exists():
            return {"snapshots": [], "current": None}
        return json.loads(p.read_text())

    def _store_meta(self, table: str, meta: dict) -> None:
        p = self._meta_path(table)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(meta, indent=1))
        os.replace(tmp, p)  # atomic pointer swap = Iceberg commit

    def _lock_path(self, table: str) -> Path:
        return self.root / table / "_meta.lock"

    def _acquire_lock(self, table: str) -> Path:
        """Take the table's advisory commit lock or raise loudly.

        Non-blocking by design: a held lock means a concurrent writer —
        a contract violation the caller must see, not wait out. A lock
        whose recorded pid is dead (crashed writer) is stolen once."""
        lock = self._lock_path(table)
        lock.parent.mkdir(parents=True, exist_ok=True)
        for attempt in (0, 1):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return lock
            except FileExistsError:
                try:
                    pid = int(lock.read_text() or "0")
                except (OSError, ValueError):
                    pid = 0
                alive = False
                if pid:
                    try:
                        os.kill(pid, 0)
                        alive = True
                    except ProcessLookupError:
                        alive = False
                    except PermissionError:
                        alive = True  # exists, not ours
                if alive or attempt:
                    raise ConcurrentWriteError(
                        f"table {lock.parent.name!r} is being written by "
                        f"pid {pid or 'unknown'} (lock {lock}); catalog "
                        "tables are single-writer — serialize the writers "
                        "or retry after the other commit"
                    ) from None
                lock.unlink(missing_ok=True)  # stale lock of a dead writer
        raise AssertionError("unreachable")

    # -- write -------------------------------------------------------------
    def _write_snapshot(
        self,
        table: str,
        df: DataFrame,
        mode: str,
        props: dict | None,
        partition_by: list[str] | None = None,
        layout: dict | None = None,
    ) -> int:
        lock = self._acquire_lock(table)
        try:
            return self._write_snapshot_locked(
                table, df, mode, props, partition_by, layout
            )
        finally:
            lock.unlink(missing_ok=True)

    def _write_snapshot_locked(
        self,
        table: str,
        df: DataFrame,
        mode: str,
        props: dict | None,
        partition_by: list[str] | None = None,
        layout: dict | None = None,
    ) -> int:
        meta = self._load_meta(table)
        if mode == "append" and meta["snapshots"]:
            # an append adds files to the stored layout, so it inherits it;
            # a different one would mix two layouts in one table
            for key, given in (("partition_by", partition_by),
                               ("layout", layout)):
                if given is not None and given != meta.get(key):
                    raise ValueError(
                        f"table {table!r} has {key} {meta.get(key)}; got "
                        f"{given} — an append cannot change it (an "
                        "overwrite can)"
                    )
            partition_by, layout = meta.get("partition_by"), meta.get("layout")
        snap_id = (meta["snapshots"][-1]["id"] + 1) if meta["snapshots"] else 1
        data_dir = self.root / table / f"snap-{snap_id:06d}"
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive-style layout: filters on the partition columns prune
            # whole directories at read time (PartitionFilters), the
            # Iceberg partition-spec analog
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(data_dir))
        # dynamic partitionBy of an EMPTY DataFrame writes zero parquet
        # files (unlike the unpartitioned path, which writes one
        # schema-bearing empty file); including such a dir in the manifest
        # would make every later read fail schema inference. Record the
        # snapshot (props drive exactly-once replay detection) but not the
        # fileless dir; the schema stored below keeps empty tables readable.
        has_data = any(data_dir.rglob("*.parquet"))
        if not has_data:
            shutil.rmtree(data_dir, ignore_errors=True)
        prev_dirs = []
        if mode == "append" and meta["current"] is not None:
            prev_dirs = self._snapshot(meta, meta["current"])["data_dirs"]
        meta["snapshots"].append(
            {
                "id": snap_id,
                "data_dirs": prev_dirs + ([data_dir.name] if has_data else []),
                "props": props or {},
                "schema": df.schema.jsonValue(),
            }
        )
        meta["current"] = snap_id
        meta["partition_by"] = partition_by
        meta["layout"] = layout
        self._store_meta(table, meta)
        return snap_id

    def overwrite(
        self,
        table: str,
        df: DataFrame,
        props: dict | None = None,
        partition_by: list[str] | None = None,
        layout: dict | None = None,
    ) -> int:
        return self._write_snapshot(
            table, df, "overwrite", props, partition_by, layout
        )

    def append(
        self,
        table: str,
        df: DataFrame,
        props: dict | None = None,
        partition_by: list[str] | None = None,
        layout: dict | None = None,
    ) -> int:
        return self._write_snapshot(
            table, df, "append", props, partition_by, layout
        )

    def layout(self, table: str) -> dict | None:
        """The table's stored physical-layout descriptor (e.g. bucket
        column + modulus) — the source of truth writers must honor."""
        return self._load_meta(table).get("layout")

    # -- read --------------------------------------------------------------
    @staticmethod
    def _snapshot(meta: dict, snap_id: int) -> dict:
        for s in meta["snapshots"]:
            if s["id"] == snap_id:
                return s
        raise KeyError(f"snapshot {snap_id} not found")

    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Read a table at a snapshot (time travel) or its current version."""
        meta = self._load_meta(table)
        sid = snapshot_id if snapshot_id is not None else meta["current"]
        if sid is None:
            raise KeyError(f"table {table!r} has no snapshots")
        snap = self._snapshot(meta, sid)
        schema = StructType.fromJson(snap["schema"])
        dirs = [str(self.root / table / d) for d in snap["data_dirs"]]
        if not dirs:
            return spark.createDataFrame([], schema)
        # the stored schema spares the read a schema-inference job
        reader = spark.read.schema(schema)
        # each snapshot dir is its own root, hive-partitioned when it was
        # written under a spec; reading them separately keeps per-dir
        # partition discovery (and thus directory pruning) whatever spec
        # the table has now, and Catalyst pushes filters through the
        # union into every child scan
        out = reader.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(reader.parquet(d))
        return out

    def latest_snapshot(self, table: str) -> dict | None:
        meta = self._load_meta(table)
        if meta["current"] is None:
            return None
        return self._snapshot(meta, meta["current"])

    def snapshots(self, table: str) -> list[dict]:
        return self._load_meta(table)["snapshots"]

    def tables(self) -> list[str]:
        return sorted(
            p.parent.name for p in self.root.glob("*/_meta.json")
        )
