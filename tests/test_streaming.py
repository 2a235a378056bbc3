"""Structured Streaming ingest: exactly-once file processing, resume across
query restarts, watermark-windowed tile counts (SURVEY.md §2.9 graft path)."""

import os

import pytest
from pyspark.sql import functions as F

from imposm2_spark.sources import testdata

pytestmark = pytest.mark.spark


def _land_batches(spark, landing, n_batches=2):
    """Split sf0.001 documents into arrival batches, one parquet file each."""
    docs = testdata.synth_documents_web(
        testdata.load(spark, "/root/testdata/sf0.001", "documents")
    )
    total = 0
    for b in range(n_batches):
        part = docs.where(F.crc32(F.col("url")) % n_batches == b)
        part.coalesce(1).write.parquet(os.path.join(landing, f"batch{b}"))
        total += part.count()
    return total


def test_stream_ingest_exactly_once_and_resume(spark, tmp_path):
    from imposm2_spark.streaming import stream_ingest

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    n1 = _land_batches(spark, landing, n_batches=1)
    q = stream_ingest(spark, landing + "/*", out, ckpt, cell_level=6)
    q.awaitTermination(120)
    got1 = spark.read.parquet(out)
    assert got1.count() == n1
    assert {"url", "lon", "lat", "cell", "text_extracted"} <= set(got1.columns)
    assert "html" not in got1.columns  # payload projected away at the sink

    # second query run over the SAME checkpoint: nothing new -> no duplicates
    q2 = stream_ingest(spark, landing + "/*", out, ckpt, cell_level=6)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1

    # new arrivals -> only the new file is processed (file-source offsets)
    docs2 = testdata.synth_documents_web(
        testdata.load(spark, "/root/testdata/sf0.001", "documents")
    ).limit(37).withColumn("url", F.concat(F.lit("late/"), F.col("url")))
    docs2.coalesce(1).write.parquet(os.path.join(landing, "batch_late"))
    q3 = stream_ingest(spark, landing + "/*", out, ckpt, cell_level=6)
    q3.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == n1 + 37
    # enrichment identical to the batch path for the same urls
    from hof_twins import staged_enrich

    batch = staged_enrich(
        testdata.synth_documents_web(
            testdata.load(spark, "/root/testdata/sf0.001", "documents")
        )
    ).select("url", "lon", "lat", "text_extracted")
    joined = final.select(
        "url",
        F.col("lon").alias("slon"),
        F.col("lat").alias("slat"),
        F.col("text_extracted").alias("stext"),
    ).join(batch, "url")
    assert joined.count() == n1  # the late urls are not in the batch side
    mismatch = joined.where(
        (F.col("slon") != F.col("lon"))
        | (F.col("slat") != F.col("lat"))
        | ~F.col("stext").eqNullSafe(F.col("text_extracted"))
    ).count()
    assert mismatch == 0


def test_stream_ingest_dirty_rows_one_per_batch(spark, tmp_path):
    """A micro-batch of NULL url, NULL html, empty html and non-ASCII html
    rows, each its own Arrow batch (maxRecordsPerBatch=1), comes out of the
    ingest crossing equal to the row functions, in the sink's column order."""
    import datetime

    from imposm2_spark.functions.geotag import geotag_pair
    from imposm2_spark.functions.textx import extract_text_bytes
    from imposm2_spark.streaming import stream_ingest
    from imposm2_spark.streaming.ingest import DOCUMENTS_WEB_SCHEMA

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (None, ts, b"<p>null url</p>", "t0", "en"),
        ("https://d.example/1", ts, None, "t1", "en"),
        ("https://d.example/2", ts, b"", "t2", "en"),
        ("https://d.example/3", ts,
         '<meta name="geo.position" content="48.2;16.3"><p>caf\u00e9 \u2603\u00a0x</p>'.encode(),
         "t3", "de"),
        ("https://d.example/4", ts, "<p>\u4e2d\u6587 &amp; b</p>".encode(), None, None),
    ]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows, DOCUMENTS_WEB_SCHEMA).coalesce(1).write.parquet(landing)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        q = stream_ingest(spark, landing, str(tmp_path / "out"), str(tmp_path / "ckpt"))
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, orig)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.columns == [
        "url", "warc_ts", "text", "lang", "text_extracted", "lon", "lat", "cell"
    ]
    got = {r.text: r for r in out.collect()}
    assert len(got) == len(rows)
    for url, _, html, text, _ in rows:
        r = got[text]
        assert r.url == url
        assert r.text_extracted == extract_text_bytes(html)
        assert (r.lon, r.lat) == geotag_pair(url, html)
        assert r.cell is not None
    assert got["t3"].text_extracted == "caf\u00e9 \u2603 x"
    assert (got["t3"].lon, got["t3"].lat) == (16.3, 48.2)


def test_stream_tile_counts_watermark(spark, tmp_path):
    import re

    from imposm2_spark.streaming import stream_tile_counts

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    _land_batches(spark, landing, n_batches=1)

    batches = []

    def sink(df, epoch_id):
        batches.append([tuple(r) for r in df.collect()])

    q = stream_tile_counts(
        spark, landing + "/*", str(tmp_path / "ckpt2"), sink, zoom=4
    )
    q.awaitTermination(120)
    rows = [r for b in batches for r in b]
    assert len(rows) > 0
    assert sum(r[3] for r in rows) == 500  # every doc lands in one tile window
    assert all(r[1] is not None and r[2] is not None for r in rows)
    # the counts consume only lon/lat: the one enrich crossing, run without
    # extraction (no n_chars or text_extracted among its outputs)
    plan = q._jsq.explainInternal(False)
    assert re.findall(r"\w*(?:EvalPython|InPandas|InArrow)\w*", plan) == [
        "MapInArrow"
    ], plan
    crossing = [ln for ln in plan.splitlines() if "MapInArrow" in ln]
    assert len(crossing) == 1 and "lon#" in crossing[0], plan
    assert "n_chars" not in crossing[0] and "text_extracted" not in crossing[0], plan


def test_stateful_stream_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: repeats in later microbatches suppressed."""
    from imposm2_spark.streaming.stateful import stream_dedup_exact

    landing = str(tmp_path / "landing3")
    os.makedirs(landing)
    rows1 = [(f"u{i}", f"text body {i % 20}") for i in range(40)]  # 20 distinct
    spark.createDataFrame(rows1, ["url", "text"]).coalesce(1).write.parquet(
        landing + "/b0"
    )

    src = (
        spark.readStream.schema("url string, text string").parquet(landing + "/*")
    )
    out_batches = []

    def sink(df, epoch):
        out_batches.append([tuple(r) for r in df.collect()])

    q = (
        stream_dedup_exact(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    first = [r for b in out_batches for r in b]
    assert len(first) == 20  # within-batch dedup
    assert all(r[3] == 0 for r in first)

    # second arrival: 10 repeats + 5 new texts -> only the 5 new emitted
    rows2 = [(f"v{i}", f"text body {i}") for i in range(10)] + [
        (f"w{i}", f"fresh text {i}") for i in range(5)
    ]
    spark.createDataFrame(rows2, ["url", "text"]).coalesce(1).write.parquet(
        landing + "/b1"
    )
    out_batches.clear()
    q2 = (
        stream_dedup_exact(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    second = [r for b in out_batches for r in b]
    texts = sorted(r[2] for r in second)
    assert texts == [f"fresh text {i}" for i in range(5)]  # repeats suppressed via state


def test_stream_spine_matches_batch(spark, tmp_path):
    """The streaming spine (stream-static PIP + windowed tile stats) must
    reproduce the batch computation of the same windowed aggregate over the
    same files — the §2.9 parity contract for the flagship pipeline."""
    from imposm2_spark.sources import fixtures
    from imposm2_spark.streaming import stream_spine

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    _land_batches(spark, landing, n_batches=2)
    polygons = fixtures.world_octants_df(spark, cell_level=4)

    rows = []
    q = stream_spine(
        spark,
        landing + "/*",
        ckpt,
        polygons,
        sink=lambda df, _bid: rows.extend(df.collect()),
        zoom=2,
        window="1 hour",
        watermark="2 hours",
        cell_level=4,
    )
    q.awaitTermination(180)
    # update-mode foreachBatch may emit a window more than once across
    # microbatches; the LAST emission per key is the final value
    got = {}
    for r in rows:
        got[(r.window_start, r.x, r.y)] = (r.n_rows, r.sum_chars)

    # batch twin over the same landing files
    from imposm2_spark.functions.spatial import tile_x, tile_y
    from imposm2_spark.operators.pip import pip_join
    from hof_twins import staged_enrich
    from imposm2_spark.streaming.ingest import DOCUMENTS_WEB_SCHEMA

    docs = spark.read.schema(DOCUMENTS_WEB_SCHEMA).parquet(landing + "/*")
    enriched = staged_enrich(docs).withColumn(
        "n_chars", F.length("text_extracted").cast("long")
    )
    joined = pip_join(
        enriched, polygons, cell_level=4,
        keep_point_cols=["url", "warc_ts", "lon", "lat", "n_chars"],
    )
    want_rows = (
        joined.groupBy(
            F.window("warc_ts", "1 hour").alias("w"),
            tile_x(F.col("lon"), 2).alias("x"),
            tile_y(F.col("lat"), 2).alias("y"),
        )
        .agg(F.count("*").alias("n_rows"), F.sum("n_chars").alias("sum_chars"))
        .select(F.col("w.start").alias("window_start"), "x", "y", "n_rows", "sum_chars")
        .collect()
    )
    want = {(r.window_start, r.x, r.y): (r.n_rows, r.sum_chars) for r in want_rows}
    assert len(want) > 0
    assert got == want


def test_stream_spine_one_python_node_no_join(spark, tmp_path):
    """Under the broadcast cap the streaming spine's micro-batch plan has the
    batch spine's shape: extract + geotag + locate in ONE Python node, then
    an explode — no join (read from the query's last execution)."""
    import re

    from imposm2_spark.sources import fixtures
    from imposm2_spark.streaming import stream_spine

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    _land_batches(spark, landing, n_batches=2)
    q = stream_spine(
        spark,
        landing + "/*",
        str(tmp_path / "ckpt"),
        fixtures.world_octants_df(spark, cell_level=4),
        sink=lambda df, _bid: df.collect(),
        zoom=2,
        cell_level=4,
    )
    q.awaitTermination(180)
    plan = q._jsq.explainInternal(False)
    assert re.findall(r"\w*(?:EvalPython|InPandas|InArrow)\w*", plan) == [
        "MapInArrow"
    ], plan
    assert "Join" not in plan, plan


def test_located_points_keeps_the_event_time_watermark(spark, monkeypatch):
    """The spine's Arrow crossing returns new columns; a carried event-time
    column must still carry its watermark, or the windowed aggregate after
    it keeps its state forever."""
    from imposm2_spark.operators import pip
    from imposm2_spark.plans.pipeline import located_points
    from imposm2_spark.sources import fixtures

    docs = spark.readStream.format("rate").load().select(
        F.concat(F.lit("https://x.example/"), F.col("value").cast("string")).alias("url"),
        F.lit("<p>x</p>").cast("binary").alias("html"),
        F.col("timestamp").alias("warc_ts"),
    ).withWatermark("warc_ts", "1 minute")
    polys = fixtures.world_octants_df(spark, cell_level=4)

    def delay():
        out = located_points(docs, polys, 4, ("warc_ts",))
        return out.schema["warc_ts"].metadata.get("spark.watermarkDelayMs")

    assert delay() == 60_000
    # over the broadcast cap: the enrich crossing, then pip_join's shuffle path
    monkeypatch.setattr(pip, "MAX_BROADCAST_POLYGONS", 1)
    assert delay() == 60_000


def test_curated_spine_dedup_suppresses_cross_batch_through_restart(spark, tmp_path):
    """r4: the full streaming curation story. stream_curated_spine chains
    first-seen stateful dedup in front of the spine; duplicate documents
    (same text, different url) arriving in a LATER micro-batch — delivered
    after a query RESTART, so suppression must come from the restored state
    store — never reach the windowed tile stats. Batch twin: the spine
    aggregate over first-seen keepers picked by the same deterministic rule
    (lowest url within the hash's first arrival batch)."""
    from imposm2_spark.sources import fixtures
    from imposm2_spark.streaming import stream_curated_spine
    from imposm2_spark.streaming.ingest import DOCUMENTS_WEB_SCHEMA

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    polygons = fixtures.world_octants_df(spark, cell_level=4)

    docs = testdata.synth_documents_web(
        testdata.load(spark, "/root/testdata/sf0.001", "documents")
    ).limit(60).cache()
    # batch0: 60 docs + 30 in-batch duplicates under different urls
    b0_dups = docs.limit(30).withColumn("url", F.concat(F.lit("d0/"), F.col("url")))
    docs.unionByName(b0_dups).coalesce(1).write.parquet(landing + "/b0")

    got = {}

    def sink(df, _bid):
        for r in df.collect():
            got[(r.window_start, r.x, r.y)] = (r.n_rows, r.sum_chars)

    q = stream_curated_spine(
        spark, landing + "/*", ckpt, polygons, sink,
        zoom=2, window="1 hour", watermark="2 hours", cell_level=4,
    )
    q.awaitTermination(180)
    assert len(got) > 0

    # batch1 after a restart: 20 cross-batch repeats (new urls) + 15 new docs
    repeats = docs.limit(20).withColumn("url", F.concat(F.lit("d1/"), F.col("url")))
    fresh = (
        testdata.synth_documents_web(
            testdata.load(spark, "/root/testdata/sf0.001", "documents")
        )
        .orderBy(F.col("url").desc())
        .limit(15)
        .withColumn("url", F.concat(F.lit("new/"), F.col("url")))
        .withColumn("text", F.concat(F.lit("unseen "), F.col("text")))
        .withColumn("html", F.col("html"))
    )
    repeats.unionByName(fresh).coalesce(1).write.parquet(landing + "/b1")

    q2 = stream_curated_spine(
        spark, landing + "/*", ckpt, polygons, sink,
        zoom=2, window="1 hour", watermark="2 hours", cell_level=4,
    )
    q2.awaitTermination(180)

    # batch twin: first-seen keeper = rn 1 over (arrival batch, url) per hash
    from pyspark.sql import Window as W

    from imposm2_spark.functions.spatial import tile_x, tile_y
    from hof_twins import staged_enrich
    from imposm2_spark.operators.pip import pip_join

    all_docs = (
        spark.read.schema(DOCUMENTS_WEB_SCHEMA).parquet(landing + "/b0")
        .withColumn("_b", F.lit(0))
        .unionByName(
            spark.read.schema(DOCUMENTS_WEB_SCHEMA).parquet(landing + "/b1")
            .withColumn("_b", F.lit(1))
        )
    )
    w = W.partitionBy(F.md5("text")).orderBy("_b", "url")
    kept = (
        all_docs.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_b")
    )
    enriched = staged_enrich(kept).withColumn(
        "n_chars", F.length("text_extracted").cast("long")
    )
    joined = pip_join(
        enriched, polygons, cell_level=4,
        keep_point_cols=["url", "warc_ts", "lon", "lat", "n_chars"],
    )
    want_rows = (
        joined.groupBy(
            F.window("warc_ts", "1 hour").alias("w"),
            tile_x(F.col("lon"), 2).alias("x"),
            tile_y(F.col("lat"), 2).alias("y"),
        )
        .agg(F.count("*").alias("n_rows"), F.sum("n_chars").alias("sum_chars"))
        .select(F.col("w.start").alias("window_start"), "x", "y", "n_rows", "sum_chars")
        .collect()
    )
    want = {(r.window_start, r.x, r.y): (r.n_rows, r.sum_chars) for r in want_rows}
    # 60 + 15 keepers total; duplicates contributed nothing
    assert sum(v[0] for v in want.values()) == 75
    assert got == want
    docs.unpersist()


def test_first_seen_keeper_across_arrow_chunks(spark, tmp_path):
    """Review r4: a group larger than the Arrow batch size reaches the
    stateful fn as MULTIPLE pandas chunks; the deterministic lowest-url
    keeper must be the min across ALL chunks, not the first chunk's min."""
    from imposm2_spark.streaming.stateful import stream_dedup_first_seen

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    # 30 rows, one text; urls DESCENDING so the global min lands in the
    # last Arrow chunk once the batch is split into chunks of 4
    rows = [(f"u{99 - i:02d}", "the only text") for i in range(30)]
    spark.createDataFrame(rows, ["url", "text"]).coalesce(1).write.parquet(
        landing + "/b0"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    out = []
    try:
        spark.conf.set(key, "4")
        src = spark.readStream.schema("url string, text string").parquet(
            landing + "/*"
        )
        q = (
            stream_dedup_first_seen(src)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(lambda df, e: out.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, orig)
    assert len(out) == 1
    assert out[0].url == "u70"  # the global min url (last arrival order)


def test_first_seen_keeper_null_order_col(spark, tmp_path):
    """Null order_col values must neither crash the keeper comparison nor
    beat real values; a group whose order_col is ALL null still emits one
    row (its first) instead of vanishing."""
    from imposm2_spark.streaming.stateful import stream_dedup_first_seen

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows = [
        (None, "mixed text"),  # null url must lose to the real min below
        ("b-url", "mixed text"),
        ("a-url", "mixed text"),
        (None, "all null text"),  # all-null group: still emitted once
        (None, "all null text"),
    ]
    spark.createDataFrame(rows, "url string, text string").coalesce(1).write.parquet(
        landing + "/b0"
    )
    src = spark.readStream.schema("url string, text string").parquet(landing + "/*")
    out = []
    q = (
        stream_dedup_first_seen(src)
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .foreachBatch(lambda df, e: out.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.text: r.url for r in out}
    assert got == {"mixed text": "a-url", "all null text": None}


def test_exact_dedup_keeper_across_arrow_chunks(spark, tmp_path):
    """Review r4 (same bug as first_seen, in stream_dedup_exact): the
    emitted (url, text) keeper must be the min url across ALL Arrow chunks
    of the group, not the first chunk's min."""
    from imposm2_spark.streaming.stateful import stream_dedup_exact

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    rows = [(f"u{99 - i:02d}", "the only text") for i in range(30)]
    spark.createDataFrame(rows, ["url", "text"]).coalesce(1).write.parquet(
        landing + "/b0"
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    out = []
    try:
        spark.conf.set(key, "4")
        src = spark.readStream.schema("url string, text string").parquet(
            landing + "/*"
        )
        q = (
            stream_dedup_exact(src)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(lambda df, e: out.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, orig)
    assert len(out) == 1
    assert out[0].url == "u70"


def test_synth_geo_meta_never_scientific_notation(spark):
    """Review r4: coordinates with |value| < 1e-3 stringified via
    cast('string') come out as '1.0E-4', which the geotag meta regex
    rejects — the planted-coordinate contract silently degraded to the
    url-hash fallback for those docs. %.4f formatting must round-trip."""
    from imposm2_spark.sources.testdata import synth_documents_web
    from imposm2_spark.streaming import enrich

    # doc_id solving (uid*7919) % 1_700_000 == 850_001 -> lat == 0.0001
    # (exactly-zero lat only exists at uid % 10 == 0, where the meta tag is
    # omitted by design); uid % 10 == 9, so the tag is present
    uid = (850_001 * pow(7919, -1, 1_700_000)) % 1_700_000
    assert uid % 10 != 0
    docs = spark.createDataFrame(
        [(int(uid), "tiny-lat doc", "en", "src0", 12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    web = synth_documents_web(docs)
    html = web.select("html").collect()[0][0].decode()
    assert "E-" not in html and "E+" not in html, html
    row = enrich(web).select("lat", "lon").collect()[0]
    assert abs(row["lat"] - 0.0001) < 1e-9  # planted value, not the fallback


class _FakeState:
    """The GroupState surface the first-seen state function touches."""

    hasTimedOut = False
    exists = False

    def update(self, v):
        self.exists, self.get = True, v

    def setTimeoutDuration(self, ms):
        pass

    def remove(self):
        self.exists = False


def test_exact_dedup_null_url_chunk_then_nonnull():
    """ADVICE r4 (medium): when an earlier pandas chunk of a new group has
    only null urls, a non-null url in a later chunk must still win — a
    null-url keeper always loses to a non-null candidate (it once raised
    `str < None` and killed the micro-batch). Unit-level drive of the one
    state function so chunk order is deterministic."""
    import pandas as pd

    from imposm2_spark.streaming.stateful import first_seen_state_fn

    chunks = iter(
        [
            pd.DataFrame({"url": [None, None], "text": ["t", "t"]}),
            pd.DataFrame({"url": ["z-url", "a-url"], "text": ["t", "t"]}),
        ]
    )
    st = _FakeState()
    out = list(first_seen_state_fn(["url", "text"], "url")(("h",), chunks, st))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert row["url"] == "a-url"  # non-null beats the null keeper
    assert st.get == (4,)


def test_first_seen_all_null_keeper_ignores_chunk_order():
    """A group whose order_col is all NULL keeps the row with the smallest
    stringified remaining columns, whatever order its chunks arrive in."""
    import pandas as pd

    from imposm2_spark.streaming.stateful import first_seen_state_fn

    chunks = [
        pd.DataFrame({"url": [None, None], "text": ["t", "t"], "lang": ["fr", "de"]}),
        pd.DataFrame({"url": [None], "text": ["t"], "lang": ["en"]}),
    ]
    fn = first_seen_state_fn(["url", "text", "lang"], "url")
    for order in (chunks, chunks[::-1]):
        st = _FakeState()
        (out,) = fn(("h",), iter(order), st)
        assert out.to_dict("records") == [{"url": None, "text": "t", "lang": "de"}]
        assert st.get == (3,)


def test_first_seen_keeper_with_array_and_map_columns(spark, tmp_path):
    """Rows tied on url are told apart by their array and map columns,
    arrays of 2+ elements included (numpy refuses their truth value, so a
    per-value pd.isna fails the micro-batch); one row per Arrow chunk, so
    the keeper is also independent of chunk order."""
    from imposm2_spark.streaming.stateful import stream_dedup_first_seen

    schema = "url string, text string, tags array<string>, attrs map<string,string>"
    rows = [
        ("u1", "same text", ["b", "d"], {"k": "2"}),
        ("u1", "same text", ["a", "c"], {"k": "1"}),
        ("u2", "same text", ["a", "a"], {"k": "0"}),
        ("u0", "other text", ["x", "y"], {"k": "9", "j": "1"}),
        ("u0", "other text", ["x", "y"], {"k": "1", "j": "1"}),
    ]
    landing = str(tmp_path / "landing")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(landing + "/b0")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    out = []
    try:
        spark.conf.set(key, "1")
        src = spark.readStream.schema(schema).parquet(landing + "/*")
        q = (
            stream_dedup_first_seen(src)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .foreachBatch(lambda df, e: out.extend(df.collect()))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        spark.conf.set(key, orig)
    got = {r.text: (r.url, r.tags, r.attrs) for r in out}
    assert len(out) == 2
    assert got == {
        "same text": ("u1", ["a", "c"], {"k": "1"}),
        "other text": ("u0", ["x", "y"], {"k": "1", "j": "1"}),
    }
