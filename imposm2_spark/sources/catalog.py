"""S7/S8/S9: materialization sink, atomic deploy swap, spatial write ordering.

Reference analogs:
  S7 imposm/db/postgis.py::PostgisDB — CREATE TABLE + batched INSERT + GiST
     index after load. Here: parquet (Iceberg-shaped API) writes, with
     `sortWithinPartitions(cell)` standing in for index/CLUSTER locality (S9,
     imposm/db/postgis.py::optimize) so tile-range reads touch few row groups.
  S8 deploy swap — imposm2 renames osm_new_* -> osm_* -> osm_old_* atomically
     (--deploy-production-tables). Here: versioned directories + an atomically
     renamed MANIFEST pointer file (parquet fallback for Iceberg's snapshot
     swap; same zero-partial-state guarantee for readers who resolve through
     the pointer).

Layout under a deploy root:
    <root>/tables/<table>/v<NNN>/...parquet
    <root>/CURRENT            (json: {"table": "vNNN", ...}, atomic rename)
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.spatial import cell_encode_col

CURRENT = "CURRENT"


def atomic_write_json(path: str, obj, *, prefix: str = ".tmp_", indent: int | None = None) -> None:
    """Durably + atomically replace `path` with `obj` as JSON: temp file in
    the target directory, fsync the data, os.replace, fsync the directory.
    Without the fsyncs, ext4 delayed allocation can journal the rename before
    the data blocks land — power loss then leaves a ZERO-LENGTH pointer file
    (the hazard Deploy.publish documents). Shared by Deploy.publish and the
    checkpoint manager's manifest commit (review r5: the checkpoint copy had
    drifted and omitted both fsyncs). A failed write unlinks its own temp."""
    import contextlib

    d = os.path.dirname(path) or "."
    fd, tmp = tempfile.mkstemp(dir=d, prefix=prefix)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(obj, f, sort_keys=True, indent=indent)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.unlink(tmp)
        raise
    dfd = os.open(d, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def write_spatial(
    df: DataFrame,
    path: str,
    lon: str | None = "lon",
    lat: str | None = "lat",
    cell_level: int = 8,
) -> None:
    """S9: range-partition + sort by Morton cell before writing, so spatially
    adjacent rows land in the same files (the CLUSTER-on-GiST analog): one
    range partition per spark.sql.shuffle.partitions, each file sorted by
    cell, no two files sharing a cell."""
    if lon and lat and lon in df.columns and lat in df.columns:
        df = df.withColumn("_cell", cell_encode_col(F.col(lon), F.col(lat), cell_level))
        n = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        df = (
            df.repartitionByRange(int(n), "_cell")
            .sortWithinPartitions("_cell")
            .drop("_cell")
        )
    df.write.mode("overwrite").parquet(path)


class Deploy:
    """Atomic multi-table publish (S8)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)

    def _pointer_path(self) -> str:
        return os.path.join(self.root, CURRENT)

    def current(self) -> dict[str, str]:
        p = self._pointer_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f)

    def table_path(self, table: str, version: str | None = None) -> str:
        v = version or self.current().get(table)
        if v is None:
            raise KeyError(f"table {table!r} not deployed")
        return os.path.join(self.root, "tables", table, v)

    def stage(self, table: str, df: DataFrame, **write_kwargs) -> str:
        """Write a NEW version directory (not yet visible to readers)."""
        cur = self.current().get(table)
        nxt = f"v{(int(cur[1:]) + 1) if cur else 1:03d}"
        write_spatial(df, os.path.join(self.root, "tables", table, nxt), **write_kwargs)
        return nxt

    def publish(self, staged: dict[str, str]) -> None:
        """Atomically flip the pointer to the staged versions (all tables at
        once — the prefix-swap analog). Readers resolving through CURRENT never
        see partial state: os.replace is atomic on POSIX.

        Durability + concurrency (review r5): the temp file is fsync'd
        before the replace and the root directory after it, so a crash or
        power loss cannot leave a truncated CURRENT (ext4 delayed
        allocation would otherwise journal the rename before the data
        blocks land). The read-modify-write of the shared map is serialized
        through an flock'd sidecar, so two publishers (one stream_updates
        loop per table against one deploy root) cannot lose each other's
        update."""
        import fcntl

        lock_path = os.path.join(self.root, ".publish.lock")
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            new = dict(self.current())
            new.update(staged)
            atomic_write_json(self._pointer_path(), new, prefix=".current_")

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.table_path(table))

    def remove_backups(self, keep: int = 1) -> list[str]:
        """--remove-backup-tables: delete all but the current (+keep-1) versions."""
        import shutil

        removed = []
        cur = self.current()
        for table, vcur in cur.items():
            tdir = os.path.join(self.root, "tables", table)
            # numeric sort: lexicographic puts v1000 before v999 and would
            # delete the newest backup while retaining stale ones (the
            # continuous-update loop crosses v999 after ~17h of minutely
            # publishes)
            # tolerate junk entries (dotfiles, editor backups, half-written
            # temp dirs): only version-shaped names participate in GC
            versions = sorted(
                (v for v in os.listdir(tdir) if re.fullmatch(r"v\d+", v)),
                key=lambda v: int(v[1:]),
            )
            # retention counts PUBLISHED versions only (<= current): a
            # staged-but-unpublished successor (stage() ran, publish() not
            # yet — the stream_updates per-batch window) must neither count
            # against the backup budget nor be deleted as a "backup"
            # (review r5: it consumed a keep slot and the newest published
            # backup was rmtree'd one version early)
            published = [v for v in versions if int(v[1:]) <= int(vcur[1:])]
            live = set(published[-keep:]) | {vcur} | (
                set(versions) - set(published)
            )
            for v in versions:
                if v not in live:
                    shutil.rmtree(os.path.join(tdir, v))
                    removed.append(f"{table}/{v}")
        return removed
