"""The M1 spine: documents -> extract -> geotag -> point-in-polygon -> tiles.

This is the flagship end-to-end flow (SURVEY.md §7 M1): the graft equivalent of
imposm2's `--read` + `--write` run (imposm/app.py::main -> writer.py pipeline),
with web documents playing the node-stream role (SURVEY.md §1.3).

Shape of the physical plan (verified by tests/test_plans.py explain checks):
  parquet/createDataFrame scan
  -> ONE MapInArrow: geotag + extract + PolygonIndex.locate per Arrow batch,
     each a whole-batch kernel (html crosses once; lon, lat, n_chars and the
     polygon ids return; no ArrowEvalPython)
  -> explode of the polygon ids (no join)
  -> codegen'd tile arithmetic
  -> single shuffle for the final tile aggregation
A polygon side over pip.MAX_BROADCAST_POLYGONS instead runs the enrich
crossing without the locate, then pip_join's cell-key shuffle join and
refine.

_enrich is the one document-enrich crossing of the package. Its callers:
  * located_points, the enrich + locate layer (with the index under the
    cap, without it over the cap); the spine, spine_resumable (which
    checkpoints exactly this layer) and the streaming spines
    (streaming.ingest, per micro-batch) run it;
  * streaming.ingest.enrich (the stream ingest's sink keeps the extracted
    text) and streaming.ingest.stream_tile_counts (geotag only, no
    extraction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import pip
from ..operators.pip import pip_join
from ..operators.tiles import assign_point_tiles

DEFAULT_ZOOMS = (8, 12)


def _enrich(
    docs: DataFrame,
    keep_cols: tuple[str, ...] = (),
    index=None,
    id_type=None,
    text_col: str | None = "n_chars",
) -> DataFrame:
    """(keep_cols..., lon, lat[, text_col][, polygon_ids]) of every
    document: the Python stage of every document path (callers in the
    module header) as ONE mapInArrow over (keep_cols..., url, html) Arrow
    batches. html crosses once and never comes back.

    * geotag runs over the whole batch (functions.geotag.geotag_batch,
      equal to geotag_pair on every row);
    * `text_col` names what the extracted text
      (functions.textx.extract_text_batch, equal to extract_text_bytes on
      every row) returns as: "n_chars" is pc.utf8_length of it, the
      codepoint count Spark's length() computes, so the text never ships
      back; "text_extracted" is the text itself; None runs no extraction;
    * with `index` (an operators.pip.PolygonIndex, broadcast here) the
      batch's points are located in the same crossing: polygon_ids is
      PolygonIndex.located_ids, a ListArray of each point's containing
      polygon ids (of type `id_type`);
    * keep columns pass through untouched, their fields (and any event-time
      watermark on them) declared as the input's."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from ..functions.geotag import geotag_batch
    from ..functions.textx import extract_text_batch

    fields = [docs.schema[c] for c in keep_cols] + [
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
    ]
    if text_col is not None:
        text_type = T.LongType() if text_col == "n_chars" else T.StringType()
        fields.append(T.StructField(text_col, text_type))
    bc = id_arrow = None
    if index is not None:
        fields.append(T.StructField("polygon_ids", T.ArrayType(id_type)))
        id_arrow = to_arrow_type(id_type)
        bc = docs.sparkSession.sparkContext.broadcast(index)
    names = [f.name for f in fields]

    def enrich(batches):
        for rb in batches:
            url, html = rb.column("url"), rb.column("html")
            lon, lat = geotag_batch(url, html)
            cols = [rb.column(c) for c in keep_cols] + [pa.array(lon), pa.array(lat)]
            if text_col is not None:
                text = extract_text_batch(html)
                cols.append(pc.utf8_length(text).cast(pa.int64()) if text_col == "n_chars" else text)
            if bc is not None:
                cols.append(bc.value.located_ids(lon, lat, id_arrow))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    inputs = [*keep_cols, *(c for c in ("url", "html") if c not in keep_cols)]
    return docs.select(*inputs).mapInArrow(enrich, T.StructType(fields))


def located_points(
    docs: DataFrame,
    polygons: DataFrame,
    cell_level: int,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(keep_cols..., lon, lat, n_chars, polygon_id): one row per document
    and containing polygon — the spine's enrich + point-in-polygon layer.

    Polygon side within pip's MAX_BROADCAST_POLYGONS (pulled eagerly, one
    capped action): extract + geotag + locate run in one Arrow crossing and
    the ids explode JVM-side. Over the cap: the same enrich without the
    locate, then pip_join's unsalted shuffle path.
    Rows are identical either way (pytest-pinned). `keep_cols` are input
    columns carried through unchanged (e.g. url, warc_ts)."""
    index = pip.polygon_index(polygons, cell_level)
    if index is None:
        return pip_join(
            _enrich(docs, keep_cols),
            polygons,
            cell_level=cell_level,
            broadcast_polygons=False,
        )
    located = _enrich(docs, keep_cols, index, polygons.schema["polygon_id"].dataType)
    return located.select(
        *keep_cols, "lon", "lat", "n_chars", F.explode("polygon_ids").alias("polygon_id")
    )


def spine(
    docs: DataFrame,
    polygons: DataFrame,
    zooms: tuple[int, ...] = DEFAULT_ZOOMS,
    cell_level: int = 12,
) -> DataFrame:
    """Full M1 flow -> per-tile (z, x, y, n_docs, n_polygons, sum_chars).

    sum_chars aggregates the extracted-text length so the extraction stage
    is a CONSUMED part of the plan — without a consumer Catalyst's column
    pruning (correctly) deletes the extract work and the flagship query
    silently stops measuring it. The enrich + locate layer is
    located_points (one Arrow crossing under the broadcast cap).
    """
    return _tile_counts(located_points(docs, polygons, cell_level), zooms)


def _tile_counts(located: DataFrame, zooms: tuple[int, ...]) -> DataFrame:
    """The spine's tile aggregate over located_points' rows."""
    tiled = assign_point_tiles(located, list(zooms))
    return tiled.groupBy("z", "x", "y").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("polygon_id").alias("n_polygons"),
        F.sum("n_chars").alias("sum_chars"),
    )


def spine_resumable(
    spark,
    docs: DataFrame,
    polygons: DataFrame,
    checkpoint_root: str,
    input_fingerprint: str,
    zooms: tuple[int, ...] = DEFAULT_ZOOMS,
    cell_level: int = 12,
) -> DataFrame:
    """The spine with one M6 durable cut (plans.checkpoint).

    The `located` stage checkpoints exactly what located_points returns,
    (lon, lat, n_chars, polygon_id), so it holds all the expensive work
    (the scan, the enrich + locate crossing and, over the broadcast cap,
    pip_join's shuffle join and refine) in rows much smaller than the
    input; no html or text column is written. The tile aggregate reads
    the checkpoint through the spine's own `_tile_counts`. A restart
    with the same docs fingerprint and polygon content reuses the stage.
    """
    from .checkpoint import CheckpointManager, fingerprint_of

    # The polygons must invalidate the stage too, not only the docs:
    # order-independent content digest via one tiny job over the (small,
    # broadcast-side by contract) dim table.
    poly_fp_row = polygons.select(
        F.sum(F.pmod(F.xxhash64(*polygons.columns), F.lit(1 << 31))).alias("s"),
        F.count("*").alias("n"),
    ).collect()[0]
    located = CheckpointManager(checkpoint_root).stage(
        spark,
        "located",
        lambda: located_points(docs, polygons, cell_level),
        input_fingerprint=fingerprint_of(
            input_fingerprint, f"polygons:{poly_fp_row['s']}:{poly_fp_row['n']}"
        ),
    )
    return _tile_counts(located, zooms)
