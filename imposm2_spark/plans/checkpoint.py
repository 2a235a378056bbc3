"""M6: resumable per-stage checkpoints with per-partition lineage + metrics.

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
    publishes it, then the fsync'd `_manifest.json` records lineage +
    per-partition metrics and commits the stage. On restart, a stage whose
    manifest exists with a matching input fingerprint is SKIPPED (read back
    from parquet); everything else recomputes. Leftover tmp dirs from
    crashes are discarded. The root is a local POSIX path: the I/O is plain
    `os`/`shutil`.

Manifest contents (the lineage record):
  stage_id, engine_version, input_fingerprint (caller-supplied — upstream
  snapshot id / manifest digest), parents (upstream stage ids), wall_s,
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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import atomic_write_json

# Bump whenever a stage's output schema or semantics change: a manifest
# written under another version is recomputed, never reused (0.2: the spine's
# enrich stage checkpoints (url, lon, lat, n_chars) only).
ENGINE_VERSION = "imposm2_spark/0.2"
TMP_SUFFIX = ".__tmp__"
MANIFEST = "_manifest.json"


def fingerprint_of(*parts: str) -> str:
    """Stable digest for input identity (paths, snapshot ids, parent digests)."""
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
class StageResult:
    stage_id: str
    path: str
    skipped: bool
    manifest: dict


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
    results: dict[str, StageResult] = field(default_factory=dict)

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

    def _parent_digest(self, stage_id: str, parent: str) -> str:
        """The parent's manifest digest: in-process result first, on-disk
        manifest as the cross-process fallback. A parent with NEITHER is an
        ordering bug in the caller — silently folding an empty digest here
        would freeze the child's fingerprint and later serve the child's
        STALE checkpoint after the parent changed, so raise instead."""
        if parent in self.results:
            return self.results[parent].manifest.get("digest", "")
        m = self.manifest(parent)
        if m is not None:
            return m.get("digest", "")
        raise KeyError(
            f"stage {stage_id!r} declares parent {parent!r}, but that stage"
            " has neither run in this process nor committed a manifest under"
            f" {self.data_dir(parent)} — run the parent first"
        )

    def stage(
        self,
        spark: SparkSession,
        stage_id: str,
        build: Callable[[], DataFrame],
        input_fingerprint: str = "",
        parents: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run-or-skip one checkpointed stage; returns the stage's DataFrame.

        `build` is only invoked when the stage must (re)compute — a skipped
        stage never constructs its plan (cheap restarts).
        Parent digests are folded into the fingerprint so any upstream change
        invalidates the whole downstream chain automatically.
        """
        parent_digest = fingerprint_of(
            *[self._parent_digest(stage_id, p) for p in parents]
        )
        fp = fingerprint_of(input_fingerprint, parent_digest)

        final_dir = self.data_dir(stage_id)
        m = self._completed(stage_id, fp)
        if m is not None:
            self.results[stage_id] = StageResult(stage_id, final_dir, True, m)
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
            "input_fingerprint": fp,
            "parents": list(parents),
            "wall_s": wall_s,
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "partitions": parts,
            "total_rows": sum(p["rows"] for p in parts),
            "total_bytes": sum(p["bytes"] for p in parts),
            "digest": fingerprint_of(fp, *[f"{p['file']}:{p['rows']}:{p['bytes']}" for p in parts]),
        }
        # the manifest is the commit point a restart checks; it goes through
        # the shared fsync'd atomic writer (review r5: an unsynced copy could
        # survive a power loss as zero-length JSON). A failed write unlinks
        # its own temp and the next run recomputes the stage.
        atomic_write_json(
            os.path.join(final_dir, MANIFEST), manifest, prefix="._mtmp_", indent=1
        )
        self.results[stage_id] = StageResult(stage_id, final_dir, False, manifest)
        return spark.read.parquet(final_dir)

    def lineage(self, stage_id: str) -> list[dict]:
        """Manifest chain root->stage (lineage record for audits)."""
        out, seen = [], set()

        def walk(sid: str) -> None:
            if sid in seen:
                return
            seen.add(sid)
            m = self.manifest(sid)
            if m is None:
                return
            for p in m.get("parents", []):
                walk(p)
            out.append(m)

        walk(stage_id)
        return out

    def metrics(self) -> dict[str, dict]:
        """Per-stage {rows, bytes, wall_s, skipped} — the run report."""
        return {
            sid: {
                "rows": r.manifest.get("total_rows"),
                "bytes": r.manifest.get("total_bytes"),
                "wall_s": r.manifest.get("wall_s"),
                "n_partitions": len(r.manifest.get("partitions", [])),
                "skipped": r.skipped,
            }
            for sid, r in self.results.items()
        }
