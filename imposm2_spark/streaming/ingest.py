"""Structured Streaming ingest: incremental document arrival -> enriched sink.

Reference context: imposm2 has NO incremental path (SURVEY.md §2.9) — its
consistency story is full re-import + atomic prefix swap (S8). Diff/replication
support arrived in imposm3. This module is the graft's incremental analog,
built on Structured Streaming file sources instead of OSM diff files:

  * `stream_ingest` — readStream over a landing directory of document parquet
    (the Iceberg-table stand-in), per-microbatch extract+geotag enrichment
    in the batch spine's one Arrow crossing (plans.pipeline._enrich; the
    sink keeps `text_extracted`), parquet append sink. Exactly-once per
    input file via the streaming checkpoint (file-source tracking +
    idempotent sink commit); each run drains the backlog with `availableNow`
    and stops, so a scheduler re-running it picks up new files.
  * `stream_spine` / `stream_curated_spine` — the batch spine's enrich +
    locate layer (plans.pipeline.located_points: one Arrow crossing under the
    broadcast cap) feeding watermarked windowed tile stats.
  * `stream_tile_counts` — event-time windowed aggregation (warc_ts) with a
    watermark for late documents: counts per (window, tile) in update mode,
    the streaming twin of the spine's tile groupBy. Its lon/lat come from
    the same crossing, run without extraction.

At production scale the landing dir is an object-store prefix and the sink an
Iceberg table (sources.catalog); the streaming checkpoint dir carries offsets
+ sink metadata, making restarts resume from the last committed microbatch —
the streaming counterpart of plans.checkpoint for the batch path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.spatial import cell_encode_col, tile_x, tile_y
from ..plans.pipeline import _enrich, located_points

DOCUMENTS_WEB_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


# Landing files per micro-batch (batch size only, not rows); read at call
# time. Suits a minutely landing backlog; a large backfill pays one
# checkpoint commit and one planning pass per this many files.
MAX_FILES_PER_TRIGGER = 8


def read_document_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over the landing directory (schema fixed, §1.2:
    never infer schemas in engine paths), MAX_FILES_PER_TRIGGER files per
    micro-batch."""
    return (
        spark.readStream.schema(DOCUMENTS_WEB_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(landing_dir)
    )


def enrich(docs: DataFrame, cell_level: int = 12) -> DataFrame:
    """Shared enrichment: every non-html column, then text_extracted, lon,
    lat (extract + geotag in one Arrow crossing) and the JVM-side cell id."""
    keep = tuple(c for c in docs.columns if c != "html")
    out = _enrich(docs, keep, text_col="text_extracted")
    return out.select(
        *keep, "text_extracted", "lon", "lat",
        cell_encode_col(F.col("lon"), F.col("lat"), cell_level).alias("cell"),
    )


def stream_ingest(
    spark: SparkSession,
    landing_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cell_level: int = 12,
) -> StreamingQuery:
    """Start the incremental ingest; returns the StreamingQuery handle.

    The query processes the current backlog (availableNow, in micro-batches
    of MAX_FILES_PER_TRIGGER landing files) then finishes.
    """
    src = read_document_stream(spark, landing_dir)
    return (
        enrich(src, cell_level)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_spine(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    polygons: DataFrame,
    sink: Callable[[DataFrame, int], None],
    zoom: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cell_level: int = 12,
) -> StreamingQuery:
    """The full M1 spine as one Structured Streaming job: extract + geotag +
    locate against the STATIC polygon side -> watermarked windowed tile
    stats.

    `cell_level` defaults to the batch spine's 12 (review r5: this twin
    defaulted to 4, whose 22.5-degree prefilter cells degrade the PIP
    equi-join prefilter toward all-pairs on realistic polygon sets — the
    result stays correct, the refine cost does not). Match it to the
    polygon fixture's cover level, as the batch spine does.

    The polygon side is static (its PolygonIndex is pulled once at start and
    broadcast; over pip.MAX_BROADCAST_POLYGONS it takes pip_join's shuffle
    path instead); the streaming side goes through only stateless ops before
    the windowed aggregation, so watermark metadata propagates and
    closed-window state is evicted — the streaming twin of
    plans.pipeline.spine, batch-parity-tested in tests/test_streaming.py.

    SINK CONTRACT — `sink` MUST upsert, not append: outputMode('update')
    re-delivers the same (window_start, x, y) key across micro-batches with
    monotonically growing counts, so the sink must overwrite by key
    (last-write-wins; e.g. MERGE INTO / dict[key] = row). A naive append sink
    double-counts. Update mode is deliberate: availableNow backfills emit
    every window's current value even when the watermark hasn't closed it yet
    — append mode would hold back all windows within `watermark` of max event
    time until a future run."""
    src = read_document_stream(spark, landing_dir)
    return _spine_query(
        src, checkpoint_dir, polygons, sink, zoom, window, watermark, cell_level
    )


def stream_curated_spine(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    polygons: DataFrame,
    sink: Callable[[DataFrame, int], None],
    zoom: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cell_level: int = 12,
) -> StreamingQuery:
    """The full streaming CURATION story: stream_spine with cross-micro-batch
    first-seen dedup chained in front — duplicate documents (same text,
    any url, arriving in any later micro-batch or after a query restart via
    the state store) are suppressed BEFORE paying extract/geotag/PIP.

    Two stateful operators in one query (supported since Spark 3.4):
    applyInPandasWithState dedup (append, processing-time timeout) feeding
    the watermarked windowed aggregation. The dedup keeper is deterministic
    (lowest url within the hash's first micro-batch), so batch/stream parity
    is testable — tests/test_streaming.py::test_curated_spine_*.

    SINK CONTRACT: same upsert-by-key rule as stream_spine.

    TERMINATION: this query drains with availableNow, and the dedup state's
    processing-time timeouts would otherwise keep Spark scheduling state-
    cleanup microbatches forever (stateful module header) — so this helper
    calls enable_drain_termination(spark), a session-wide conf flip that
    makes TTL eviction lazy-on-next-data-batch. If the same session also
    runs a continuous stateful query that RELIES on idle-time eviction,
    start that query in a separate session."""
    from .stateful import enable_drain_termination, stream_dedup_first_seen

    enable_drain_termination(spark)
    deduped = stream_dedup_first_seen(read_document_stream(spark, landing_dir))
    return _spine_query(
        deduped, checkpoint_dir, polygons, sink, zoom, window, watermark, cell_level
    )


def _spine_query(
    docs: DataFrame,
    checkpoint_dir: str,
    polygons: DataFrame,
    sink: Callable[[DataFrame, int], None],
    zoom: int,
    window: str,
    watermark: str,
    cell_level: int,
) -> StreamingQuery:
    """Shared spine query: the batch spine's located_points (extract +
    geotag + locate in ONE Arrow crossing, then explode, under the broadcast
    cap; enrich then pip_join's shuffle path over it) -> the windowed tile
    tail."""
    joined = located_points(
        docs.withWatermark("warc_ts", watermark), polygons, cell_level, ("warc_ts",)
    )
    return _windowed_tiles(
        joined, checkpoint_dir, sink, zoom, window,
        F.count("*").alias("n_rows"), F.sum("n_chars").alias("sum_chars"),
    )


def _windowed_tiles(
    points: DataFrame,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    zoom: int,
    window: str,
    *aggs: Column,
) -> StreamingQuery:
    """The one windowed tile tail: group watermarked points by (event-time
    window, tile x, tile y), aggregate `aggs`, and drain the backlog
    (availableNow) into an update-mode foreachBatch `sink`. Rows are
    (window_start, x, y, *aggs)."""
    counts = points.groupBy(
        F.window("warc_ts", window).alias("w"),
        tile_x(F.col("lon"), zoom).alias("x"),
        tile_y(F.col("lat"), zoom).alias("y"),
    ).agg(*aggs)
    return (
        counts.select(F.col("w.start").alias("window_start"), *counts.columns[1:])
        .writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def stream_tile_counts(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame, int], None],
    zoom: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Watermarked event-time tile counts, delivered via foreachBatch.

    Late documents beyond `watermark` are dropped deterministically; state for
    closed windows is evicted (bounded memory at unbounded input).

    SINK CONTRACT: same as stream_spine — update mode re-delivers keys with
    growing counts across micro-batches; `sink` must upsert by
    (window_start, x, y), never blind-append.
    """
    src = read_document_stream(spark, landing_dir)
    enriched = _enrich(src, ("warc_ts",), text_col=None).withWatermark("warc_ts", watermark)
    return _windowed_tiles(
        enriched, checkpoint_dir, sink, zoom, window, F.count("*").alias("n_docs")
    )
