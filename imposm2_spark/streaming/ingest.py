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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..functions.spatial import cell_encode_col
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


def read_document_stream(
    spark: SparkSession, landing_dir: str,
    max_files_per_trigger: int | None = 8,
) -> DataFrame:
    """File-source stream over the landing directory (schema fixed, §1.2:
    never infer schemas in engine paths).

    `max_files_per_trigger` bounds each micro-batch; the default suits a
    minutely landing backlog. A large BACKFILL (10^5 landing files) wants
    a much wider batch — or None to let availableNow size batches itself —
    rather than paying checkpoint-commit + planning overhead per 8 files
    (review r5: this was hard-coded)."""
    reader = spark.readStream.schema(DOCUMENTS_WEB_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(landing_dir)


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
    max_files_per_trigger: int | None = 8,
) -> StreamingQuery:
    """Start the incremental ingest; returns the StreamingQuery handle.

    The query processes the current backlog (availableNow) then finishes.
    `max_files_per_trigger` reaches the source reader (review r5: it was
    unplumbed, pinning every query to 8 files/micro-batch); pass None on a
    large backfill to let the trigger size batches itself.
    """
    src = read_document_stream(spark, landing_dir, max_files_per_trigger)
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
    max_files_per_trigger: int | None = 8,
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
    src = read_document_stream(spark, landing_dir, max_files_per_trigger)
    return _spine_query(
        src, checkpoint_dir, polygons, sink, zoom, window, watermark, cell_level
    )


def stream_curated_spine(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    polygons: DataFrame,
    sink: Callable[[DataFrame, int], None],
    dedup_state_ttl_ms: int = 24 * 3_600_000,
    zoom: int = 8,
    window: str = "1 hour",
    watermark: str = "2 hours",
    cell_level: int = 12,
    max_files_per_trigger: int | None = 8,
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
    src = read_document_stream(spark, landing_dir, max_files_per_trigger)
    deduped = stream_dedup_first_seen(src, state_ttl_ms=dedup_state_ttl_ms)
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
    """Shared spine tail: the batch spine's located_points (extract + geotag
    + locate in ONE Arrow crossing, then explode, under the broadcast cap;
    enrich then pip_join's shuffle path over it) -> watermarked windowed
    tile stats -> update-mode foreachBatch."""
    from ..functions.spatial import tile_x, tile_y

    joined = located_points(
        docs.withWatermark("warc_ts", watermark), polygons, cell_level, ("warc_ts",)
    )
    counts = (
        joined.groupBy(
            F.window("warc_ts", window).alias("w"),
            tile_x(F.col("lon"), zoom).alias("x"),
            tile_y(F.col("lat"), zoom).alias("y"),
        )
        .agg(F.count("*").alias("n_rows"), F.sum("n_chars").alias("sum_chars"))
        .select(
            F.col("w.start").alias("window_start"), "x", "y", "n_rows", "sum_chars"
        )
    )
    return (
        counts.writeStream.outputMode("update")
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
    max_files_per_trigger: int | None = 8,
) -> StreamingQuery:
    """Watermarked event-time tile counts, delivered via foreachBatch.

    Late documents beyond `watermark` are dropped deterministically; state for
    closed windows is evicted (bounded memory at unbounded input).

    SINK CONTRACT: same as stream_spine — update mode re-delivers keys with
    growing counts across micro-batches; `sink` must upsert by
    (window_start, x, y), never blind-append.
    """
    from ..functions.spatial import tile_x, tile_y

    src = read_document_stream(spark, landing_dir, max_files_per_trigger)
    enriched = _enrich(src, ("warc_ts",), text_col=None).withWatermark("warc_ts", watermark)
    counts = (
        enriched.groupBy(
            F.window("warc_ts", window).alias("w"),
            tile_x(F.col("lon"), zoom).alias("x"),
            tile_y(F.col("lat"), zoom).alias("y"),
        )
        .agg(F.count("*").alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), "x", "y", "n_docs")
    )
    return (
        counts.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
