"""S1 literal form: block-parallel OSM PBF scan -> element DataFrames.

Closes the one SURVEY.md "missing by design" item: raw `.osm.pbf` input no
longer needs an external conversion. Design mirrors the reference's
process-per-block parser (imposm.parser pbf — SURVEY §2.1 S1) re-expressed
for Spark's execution model:

  1. DRIVER: `kernels.pbf.scan_blob_ranges` walks the file's framing
     headers only (4-byte lengths + BlobHeaders — ~0.01% of the bytes) and
     yields (offset, length) per OSMData blob. Blobs are self-contained by
     spec, so this is the complete parallelization index.
  2. CLUSTER: the ranges become a DataFrame; `mapInArrow` opens the file
     per partition, seeks each range, and runs the pure-Python wire decoder
     (`kernels.pbf.decode_blob`) — per-blob work is bounded (spec caps
     blobs at 32 MB / ~8k elements), Arrow carries the decoded columns out.

The driver-side header scan assumes a seekable filesystem path visible to
all executors (POSIX/NFS here; on an object store, mount or use a
ranged-GET filesystem — the read pattern is exactly HDFS
open/seek/read(length)). Elements land in the same nodes/ways/relations
schemas the import pipeline consumes (sources.fixtures.OSM_*_SCHEMA), so
`read_pbf(...)` composes directly with plans.pipeline.import_pipeline.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..kernels import pbf as kpbf
from .fixtures import OSM_NODES_SCHEMA, OSM_RELATIONS_SCHEMA, OSM_WAYS_SCHEMA

__all__ = ["read_pbf"]

# OSMData blobs per scan task (partitioning only, not rows); read at call time.
BLOBS_PER_TASK = 4


def read_pbf(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """{'nodes': df, 'ways': df, 'relations': df} from one .osm.pbf file.

    Each frame is lazy, and each decodes EVERY blob when materialized (the
    container gives no per-kind index without reading payloads), so
    consuming all three directly costs three decode passes. The intended
    flow for multi-kind consumption is the reference's own: decode once
    into the element checkpoint (S4 — `plans.checkpoint` write of the
    three frames), then every downstream stage reads columnar parquet.
    For single-kind scans (e.g. node extraction) the direct frame is
    already optimal.
    """
    ranges = [
        (off, ln)
        for off, ln, btype in kpbf.scan_blob_ranges(path)
        if btype == "OSMData"
    ]
    if not ranges:
        raise ValueError(f"{path!r} contains no OSMData blobs")
    n_parts = max(1, min(len(ranges) // BLOBS_PER_TASK, 2048))
    rdf = spark.createDataFrame(ranges, "off long, len long").repartition(n_parts)

    def _decode(kind: str, ddl: str):
        schema = to_arrow_schema(T.StructType.fromDDL(ddl))

        def rows(blob):
            nodes, ways, rels = kpbf.decode_blob(blob)
            if kind == "nodes":
                return [{"id": n.id, "lon": n.lon, "lat": n.lat, "tags": n.tags} for n in nodes]
            if kind == "ways":
                return [{"id": w.id, "refs": w.refs, "tags": w.tags} for w in ways]
            return [
                {"id": r.id,
                 "members": [{"ref": m, "type": t, "role": role} for t, m, role in r.members],
                 "tags": r.tags}
                for r in rels
            ]

        def fn(batches):
            with open(path, "rb") as f:
                for rb in batches:
                    out: list[dict] = []
                    for off, ln in zip(rb.column(0).to_pylist(), rb.column(1).to_pylist()):
                        f.seek(off)
                        out += rows(f.read(ln))
                    yield pa.RecordBatch.from_pylist(out, schema=schema)

        return rdf.mapInArrow(fn, ddl)

    return {
        "nodes": _decode("nodes", OSM_NODES_SCHEMA),
        "ways": _decode("ways", OSM_WAYS_SCHEMA),
        "relations": _decode("relations", OSM_RELATIONS_SCHEMA),
    }
