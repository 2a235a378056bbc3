"""S2 literal form: OSM XML scan -> element DataFrames.

The reference parses `.osm.xml` (optionally bz2/gzip-wrapped) with
incremental `iterparse` piped to worker processes (imposm.parser xml —
SURVEY §2.1 S2). Spark re-expression: XML is NOT block-splittable (unlike
PBF blobs), so the parallel unit is the FILE — the standard many-extracts
layout (Geofabrikt-style regional files, or `.osm.xml.{bz2,gz}` shards).
One file streams through stdlib `iterparse` inside `mapInArrow` with
`elem.clear()` after every element, so memory stays bounded at any file
size; rows batch out through Arrow in `BATCH_ROWS` chunks.

A single giant planet.osm.xml therefore decodes on ONE task — that is the
format's own limitation, and the documented answer is the PBF form
(sources/pbf.py, block-parallel) or pre-sharded XML. Element schemas match
the import pipeline's (sources.fixtures.OSM_*_SCHEMA), and XML-borne
fixtures import identically to table-borne ones (tests/test_osmxml.py).
"""

from __future__ import annotations

import bz2
import gzip
import xml.etree.ElementTree as ET

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .fixtures import OSM_NODES_SCHEMA, OSM_RELATIONS_SCHEMA, OSM_WAYS_SCHEMA

__all__ = ["read_osm_xml", "write_osm_xml"]

# rows per Arrow batch a file's scan yields (batch size only, not rows);
# read at call time.
BATCH_ROWS = 10_000


def _open(path: str):
    if path.endswith(".bz2"):
        return bz2.open(path, "rb")
    if path.endswith(".gz"):
        return gzip.open(path, "rb")
    return open(path, "rb")


def _iter_elements(path: str):
    """Yield ('node'|'way'|'relation', dict) streaming; bounded memory."""
    with _open(path) as f:
        root = None
        n_done = 0
        for ev, el in ET.iterparse(f, events=("start", "end")):
            if ev == "start":
                if root is None:
                    root = el
                continue
            tag = el.tag
            if tag == "node":
                yield tag, {
                    "id": int(el.get("id")),
                    "lon": float(el.get("lon")),
                    "lat": float(el.get("lat")),
                    "tags": {t.get("k"): t.get("v") for t in el if t.tag == "tag"},
                }
            elif tag == "way":
                yield tag, {
                    "id": int(el.get("id")),
                    "refs": [int(n.get("ref")) for n in el if n.tag == "nd"],
                    "tags": {t.get("k"): t.get("v") for t in el if t.tag == "tag"},
                }
            elif tag == "relation":
                yield tag, {
                    "id": int(el.get("id")),
                    "members": [
                        {
                            "ref": int(m.get("ref")),
                            "type": m.get("type"),
                            "role": m.get("role") or "",
                        }
                        for m in el
                        if m.tag == "member"
                    ],
                    "tags": {t.get("k"): t.get("v") for t in el if t.tag == "tag"},
                }
            else:
                continue
            # el.clear() alone is NOT bounded memory: the root keeps a
            # reference per (cleared) child — the classic iterparse leak,
            # gigabytes of empty Element objects on a planet file. Trim the
            # root's child list periodically as well.
            el.clear()
            n_done += 1
            if root is not None and n_done % 10_000 == 0:
                del root[:]


def read_osm_xml(spark: SparkSession, paths: str | list[str]) -> dict[str, DataFrame]:
    """{'nodes', 'ways', 'relations'} DataFrames from .osm.xml[.bz2|.gz]
    file(s). Parallelism = one task per file (see module docstring)."""
    if isinstance(paths, str):
        paths = [paths]
    if not paths:
        raise ValueError("no input files")
    batch_rows = BATCH_ROWS
    files = spark.createDataFrame([(p,) for p in paths], "path string").repartition(
        len(paths)
    )

    def _scan(kind: str, ddl: str):
        want = kind[:-1]  # nodes -> node, ways -> way, relations -> relation
        schema = to_arrow_schema(T.StructType.fromDDL(ddl))

        def fn(batches):
            for b in batches:
                for path in b.column(0).to_pylist():
                    buf: list[dict] = []
                    for tag, rec in _iter_elements(path):
                        if tag != want:
                            continue
                        buf.append(rec)
                        if len(buf) >= batch_rows:
                            yield pa.RecordBatch.from_pylist(buf, schema=schema)
                            buf = []
                    yield pa.RecordBatch.from_pylist(buf, schema=schema)

        return files.mapInArrow(fn, ddl)

    return {
        "nodes": _scan("nodes", OSM_NODES_SCHEMA),
        "ways": _scan("ways", OSM_WAYS_SCHEMA),
        "relations": _scan("relations", OSM_RELATIONS_SCHEMA),
    }


def write_osm_xml(path: str, nodes, ways, relations) -> None:
    """Fixture/golden writer (tests): plain attribute layout per the
    public osm.xml form; accepts the kernels.pbf record classes."""
    enc = {"<": "&lt;", ">": "&gt;", "&": "&amp;", '"': "&quot;"}

    def esc(s: str) -> str:
        return "".join(enc.get(c, c) for c in str(s))

    op = (
        bz2.open(path, "wt", encoding="utf-8")
        if path.endswith(".bz2")
        else gzip.open(path, "wt", encoding="utf-8")
        if path.endswith(".gz")
        else open(path, "w", encoding="utf-8")
    )
    with op as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        for n in nodes:
            f.write(f'  <node id="{n.id}" lon="{n.lon!r}" lat="{n.lat!r}"')
            if n.tags:
                f.write(">\n")
                for k, v in n.tags.items():
                    f.write(f'    <tag k="{esc(k)}" v="{esc(v)}"/>\n')
                f.write("  </node>\n")
            else:
                f.write("/>\n")
        for w in ways:
            f.write(f'  <way id="{w.id}">\n')
            for r in w.refs:
                f.write(f'    <nd ref="{r}"/>\n')
            for k, v in w.tags.items():
                f.write(f'    <tag k="{esc(k)}" v="{esc(v)}"/>\n')
            f.write("  </way>\n")
        for r in relations:
            f.write(f'  <relation id="{r.id}">\n')
            for t, m, role in r.members:
                f.write(f'    <member type="{t}" ref="{m}" role="{esc(role)}"/>\n')
            for k, v in r.tags.items():
                f.write(f'    <tag k="{esc(k)}" v="{esc(v)}"/>\n')
            f.write("  </relation>\n")
        f.write("</osm>\n")
