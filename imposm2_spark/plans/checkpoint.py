"""M6: resumable per-stage checkpoints with per-partition manifests.

North-rule requirement ("resumable from per-partition checkpoints with
lineage + metrics"); reference analog: imposm2's on-disk element caches are
its restart points between --read and --write runs (imposm/cache/__init__.py::
OSMCache) — but imposm2 cannot resume a crashed stage. This engine can.

Model (idiomatic Spark, two commit levels):
  * WITHIN a stage, per-partition atomicity is Spark's task-commit protocol:
    each task writes part-<n> into a _temporary dir and the committer renames
    only successful tasks — a crashed stage leaves no committed partial state
    we could mistake for output (we also require _SUCCESS).
  * ACROSS stages, this module adds one durable-commit protocol: the stage
    writes to `<root>/<stage>.__tmp__`, one atomic directory rename
    publishes it, then the fsync'd `_manifest.json` records the stage's
    identity and per-partition metrics and commits the stage. On restart, a stage whose
    manifest exists with a matching input fingerprint is SKIPPED (read back
    from parquet); everything else recomputes. Leftover tmp dirs from
    crashes are discarded. The root is a local POSIX path: the I/O is plain
    `os`/`shutil`.

Manifest contents:
  stage_id, engine_version, input_fingerprint (caller-supplied: a digest
  of everything the stage reads, e.g. an upstream snapshot id), wall_s,
  created_utc, per-partition [{file, rows, bytes}] from parquet footers
  (free — no extra pass), total rows/bytes.

At 100 TB these checkpoints are the unit of operational recovery: stage
boundaries are chosen where recompute is expensive (post-shuffle, post-kernel)
and the parquet they persist doubles as the handoff surface for downstream
consumers. Fingerprints make re-runs idempotent per (stage, input) pair.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import atomic_write_json

# Bump whenever a stage's output schema or semantics change: a manifest
# written under another version is recomputed, never reused (0.3: the spine
# checkpoints one stage, `located` = (lon, lat, n_chars, polygon_id)).
ENGINE_VERSION = "imposm2_spark/0.3"
TMP_SUFFIX = ".__tmp__"
MANIFEST = "_manifest.json"


def fingerprint_of(*parts: str) -> str:
    """Stable digest for input identity (paths, snapshot ids, content digests)."""
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _partition_stats(stage_dir: str) -> list[dict]:
    """Per-partition rows/bytes from parquet footers — no data pass."""
    import pyarrow.parquet as pq

    stats = []
    for name in sorted(os.listdir(stage_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(stage_dir, name)
        meta = pq.ParquetFile(path).metadata
        stats.append({"file": name, "rows": meta.num_rows, "bytes": os.path.getsize(path)})
    return stats


@dataclass
class CheckpointManager:
    """Orchestrates resumable stages under one checkpoint root.

    One durable-commit protocol: a stage writes `<stage>.__tmp__`, one
    atomic DIRECTORY rename publishes it, and the fsync'd `_manifest.json`
    written inside it is the commit point a restart checks. The layer's I/O
    is plain `os`/`shutil`, so the root is a driver-visible local POSIX
    path (local disk, NFS mount); an `hdfs://`/`s3://` URI root is not
    supported.
    """

    root: str

    def data_dir(self, stage_id: str) -> str:
        """The directory holding the stage's committed parquet."""
        return os.path.join(self.root, stage_id)

    def manifest(self, stage_id: str) -> dict | None:
        try:
            with open(os.path.join(self.data_dir(stage_id), MANIFEST)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _completed(self, stage_id: str, input_fingerprint: str) -> dict | None:
        """The stage's manifest when it is committed for this fingerprint
        under this engine version with a `_SUCCESS` marker, else None."""
        m = self.manifest(stage_id)
        if (
            m
            and m.get("input_fingerprint") == input_fingerprint
            and m.get("engine_version") == ENGINE_VERSION
            and os.path.exists(os.path.join(self.data_dir(stage_id), "_SUCCESS"))
        ):
            return m
        return None

    def stage(
        self,
        spark: SparkSession,
        stage_id: str,
        build: Callable[[], DataFrame],
        input_fingerprint: str = "",
    ) -> DataFrame:
        """Run-or-skip one checkpointed stage; returns the stage's DataFrame.

        `build` is only invoked when the stage must (re)compute — a skipped
        stage never constructs its plan (cheap restarts). A committed stage
        is reused only under the same `input_fingerprint`, so the caller's
        fingerprint must cover every input `build` reads.
        """
        final_dir = self.data_dir(stage_id)
        if self._completed(stage_id, input_fingerprint) is not None:
            return spark.read.parquet(final_dir)

        t0 = time.perf_counter()
        tmp_dir = final_dir + TMP_SUFFIX
        # crashed/partial prior TMP attempts: discard, never trust. The
        # committed final_dir, by contrast, is GOOD data (tasks commit
        # atomically + we required _SUCCESS) that merely has a stale
        # fingerprint — keep it readable for the whole rebuild and delete
        # it only between the successful tmp write and the rename, so a
        # failed build() never destroys the last committed checkpoint
        # (review r5: the old delete-up-front left a no-data window the
        # length of the rebuild).
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        build().write.mode("overwrite").parquet(tmp_dir)
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)
        os.rename(tmp_dir, final_dir)  # atomic publish (same filesystem)
        wall_s = round(time.perf_counter() - t0, 3)

        parts = _partition_stats(final_dir)
        manifest = {
            "stage_id": stage_id,
            "engine_version": ENGINE_VERSION,
            "input_fingerprint": input_fingerprint,
            "wall_s": wall_s,
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": parts,
            "total_rows": sum(p["rows"] for p in parts),
            "total_bytes": sum(p["bytes"] for p in parts),
        }
        # the manifest is the commit point a restart checks; it goes through
        # the shared fsync'd atomic writer (review r5: an unsynced copy could
        # survive a power loss as zero-length JSON). A failed write unlinks
        # its own temp and the next run recomputes the stage.
        atomic_write_json(
            os.path.join(final_dir, MANIFEST), manifest, prefix="._mtmp_", indent=1
        )
        return spark.read.parquet(final_dir)
