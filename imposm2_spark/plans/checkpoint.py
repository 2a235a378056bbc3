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
  * ACROSS stages, this module adds durable commit: the stage writes to
    `<root>/<stage>.__tmp__`, then one atomic directory rename publishes it,
    then `_manifest.json` records lineage + per-partition metrics. On restart,
    a stage whose manifest exists with a matching input fingerprint is SKIPPED
    (read back from parquet); everything else recomputes. Leftover tmp dirs
    from crashes are discarded.

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

import contextlib
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

    Two durable-commit strategies behind one seam (r5, r4 verdict stretch):

      * commit="rename" (default): write `<stage>.__tmp__`, one atomic
        DIRECTORY rename publishes it. Correct on a driver-visible POSIX
        filesystem (local disk, NFS mount); this layer's I/O is plain
        `os`/`shutil`, so an `hdfs://`/`s3://` URI root is NOT supported —
        object stores additionally lack atomic dir rename, which is what
        commit="snapshot"'s pointer model exists for.
      * commit="snapshot": the Iceberg model on plain parquet. Every attempt
        writes into a fresh IMMUTABLE `<stage>/snap-<fp>-aNNN/` dir that is
        NEVER renamed; the commit is one tiny pointer write
        (`<stage>/_current.json` -> snapshot name) — the only atomicity
        primitive needed is single-object PUT-replace, which S3 gives
        (last-writer-wins), exactly Iceberg's version-hint/snapshot-commit
        role. Crashed attempts leave orphan snap dirs that never need
        cleanup before retry (names are unique per attempt); `vacuum()`
        GCs everything the pointer doesn't reference. Readers that resolved
        the pointer earlier keep reading their immutable snapshot across a
        re-publish — same isolation story as sources.catalog.Deploy.
    """

    root: str
    commit: str = "rename"
    results: dict[str, StageResult] = field(default_factory=dict)

    def __post_init__(self):
        if self.commit not in ("rename", "snapshot"):
            raise ValueError(f"unknown commit strategy {self.commit!r}")

    def _dir(self, stage_id: str) -> str:
        return os.path.join(self.root, stage_id)

    def _pointer_path(self, stage_id: str) -> str:
        return os.path.join(self._dir(stage_id), "_current.json")

    def _current_snapshot(self, stage_id: str) -> str | None:
        try:
            with open(self._pointer_path(stage_id)) as f:
                return json.load(f).get("snapshot")
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def data_dir(self, stage_id: str) -> str:
        """The directory holding the stage's COMMITTED parquet (resolves the
        snapshot pointer under commit="snapshot")."""
        if self.commit == "snapshot":
            snap = self._current_snapshot(stage_id)
            if snap is None:
                raise KeyError(f"stage {stage_id!r} has no committed snapshot")
            return os.path.join(self._dir(stage_id), snap)
        return self._dir(stage_id)

    def _manifest_path(self, stage_id: str) -> str:
        if self.commit == "snapshot":
            return os.path.join(self.data_dir(stage_id), MANIFEST)
        return os.path.join(self._dir(stage_id), MANIFEST)

    def manifest(self, stage_id: str) -> dict | None:
        try:
            with open(self._manifest_path(stage_id)) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            return None

    def _completed(self, stage_id: str, input_fingerprint: str) -> tuple[dict, str] | None:
        """The validated (manifest, data_dir) pair when the stage is committed
        for this fingerprint, else None — returned as a pair so the skip path
        serves exactly what was validated (no re-read, no TOCTOU seam).

        The snapshot pointer is resolved exactly ONCE (review r5: going
        through self.manifest() + self.data_dir() read it twice, so a
        concurrent re-publish between the two reads could validate snap A's
        manifest but hand back snap B's data dir — different inputs under a
        matching fingerprint record)."""
        if self.commit == "snapshot":
            snap = self._current_snapshot(stage_id)
            if snap is None:
                return None
            data_dir = os.path.join(self._dir(stage_id), snap)
        else:
            data_dir = self._dir(stage_id)
        try:
            with open(os.path.join(data_dir, MANIFEST)) as f:
                m = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None
        if (
            m
            and m.get("input_fingerprint") == input_fingerprint
            and m.get("engine_version") == ENGINE_VERSION
            and os.path.exists(os.path.join(data_dir, "_SUCCESS"))
        ):
            return m, data_dir
        return None

    def _next_snapshot_name(self, stage_id: str, fp: str) -> str:
        """Unique immutable attempt dir: snap-<fp>-aNNN, NNN monotone from a
        listing — deterministic, no runtime randomness (lineage §2.9)."""
        sdir = self._dir(stage_id)
        os.makedirs(sdir, exist_ok=True)
        import re as _re

        attempts = [
            int(m.group(1))
            for name in os.listdir(sdir)
            if (m := _re.fullmatch(r"snap-[0-9a-f]+-a(\d+)", name))
        ]
        return f"snap-{fp}-a{max(attempts, default=0) + 1:03d}"

    def vacuum(self, stage_id: str) -> list[str]:
        """snapshot mode: delete every snap dir the pointer does not
        reference (crashed attempts, superseded snapshots), plus `.cur_*`
        pointer temps orphaned by a process kill inside the commit window
        (a failed commit unlinks its own temp; a SIGKILL cannot). Safe
        while the CURRENT snapshot has open readers; unsafe only for
        readers pinned to a superseded snapshot, or run concurrently with
        an in-flight commit on the SAME stage (same single-writer contract
        as commit itself) — retention policy is the caller's."""
        if self.commit != "snapshot":
            return []
        sdir = self._dir(stage_id)
        # A MISSING pointer means nothing was ever committed — every snap dir
        # is a crashed attempt and GC-able. A PRESENT-but-unreadable pointer
        # (e.g. truncated by power loss) is different: the snapshot it named
        # is still committed data, and treating it as "no pointer" would
        # rmtree the current snapshot. Refuse loudly instead.
        ptr = self._pointer_path(stage_id)
        if os.path.exists(ptr):
            try:
                with open(ptr) as f:
                    cur = json.load(f).get("snapshot")
            except (OSError, json.JSONDecodeError) as e:
                raise RuntimeError(
                    f"vacuum: pointer {ptr} exists but cannot be parsed ({e});"
                    " refusing to GC — repair or remove the pointer first"
                ) from e
            if cur is None:
                raise RuntimeError(
                    f"vacuum: pointer {ptr} parses but names no snapshot;"
                    " refusing to GC — repair or remove the pointer first"
                )
        else:
            cur = None
        removed = []
        for name in os.listdir(sdir) if os.path.isdir(sdir) else []:
            if name.startswith("snap-") and name != cur:
                shutil.rmtree(os.path.join(sdir, name))
                removed.append(name)
            elif name.startswith(".cur_"):
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(sdir, name))
                    removed.append(name)
        return removed

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
            f" {self._dir(parent)} — run the parent first"
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

        done = self._completed(stage_id, fp)
        if done is not None:
            m, final_dir = done
            self.results[stage_id] = StageResult(stage_id, final_dir, True, m)
            return spark.read.parquet(final_dir)

        t0 = time.perf_counter()
        if self.commit == "snapshot":
            # immutable attempt dir + pointer commit: NO directory rename —
            # crashed prior attempts are simply never pointed at, so there
            # is nothing to discard before retrying (vacuum() GCs orphans)
            snap = self._next_snapshot_name(stage_id, fp)
            final_dir = os.path.join(self._dir(stage_id), snap)
            build().write.mode("overwrite").parquet(final_dir)
        else:
            final_dir = self._dir(stage_id)
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
        # manifest lands INSIDE the data dir (immutable with its snapshot);
        # in snapshot mode the pointer write BELOW is the commit point — a
        # fully-written snapshot stays invisible until the pointer flips.
        # Both writes go through the SHARED fsync'd atomic writer (review
        # r5: the unsynced copies here could survive a power loss as
        # zero-length JSON — for the pointer, exactly the corrupt-pointer
        # state vacuum refuses on). A failed commit unlinks its own temp; a
        # process KILL in the window can leave one — vacuum() sweeps ".cur_".
        atomic_write_json(
            os.path.join(final_dir, MANIFEST), manifest, prefix="._mtmp_", indent=1
        )
        if self.commit == "snapshot":
            # single small-object replace: os.replace locally; on an object
            # store this maps to one PUT of _current.json (last-writer-wins)
            atomic_write_json(
                self._pointer_path(stage_id),
                {"snapshot": os.path.basename(final_dir)},
                prefix=".cur_",
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
