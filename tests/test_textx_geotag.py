"""F-HTML / F-GEO: frozen extractor golden bytes + geotag determinism.

The north-rule invariant: byte-identical extracted text per url, stable across
Arrow batch sizes and row order (SURVEY.md §5.2 items 1, 3, 5).
"""

import pytest

from imposm2_spark.functions import geotag, textx
from imposm2_spark.sources import fixtures


def test_extractor_golden_cases():
    cases = [
        (b"<html><body><p>hello world</p></body></html>", "hello world"),
        (b"<p>a</p><script>var x = '<b>no</b>';</script><p>b</p>", "a b"),
        (b"<style>p {color: red}</style><p>styled</p>", "styled"),
        (b"<p>&amp; &lt; &#65; &quot;</p>", '& < A "'),
        (b"<p>nested <b>bold <i>deep</i></b> tail</p>", "nested bold deep tail"),
        (b"<p>  lots \t of\n\nspace  </p>", "lots of space"),
        (b"", ""),
        (b"plain no tags", "plain no tags"),
        ("<p>unicode é中文</p>".encode(), "unicode é中文"),
        (b"<p>broken utf8 \xff\xfe</p>", "broken utf8 ��"),
        (b"<script>only script</script>", ""),
        # script is a raw-text (CDATA) element: content ends at FIRST close tag,
        # so "b" re-enters text; stray close tag ignored (HTML5 behavior)
        (b"<script><script>a</script>b</script>c", "b c"),
    ]
    for html, expected in cases:
        assert textx.extract_text_bytes(html) == expected, html
    assert textx.extract_text_bytes(None) is None


def test_extractor_matches_fixture_golden_column():
    df = fixtures.make_documents_web(120)
    extracted = textx.extract_text_series(df["html"])
    mismatches = df[extracted != df["text"]]
    assert len(mismatches) == 0, mismatches[["url", "text"]].head()


def test_extractor_idempotent_on_own_output():
    df = fixtures.make_documents_web(40)
    for t in df["text"]:
        assert textx.extract_text_bytes(f"<p>{t}</p>".encode()) == t or "&" in t or "<" in t


def test_geotag_meta_and_fallback():
    df = fixtures.make_documents_web(60)
    for _, row in df.iterrows():
        lon, lat = geotag.geotag_pair(row["url"], row["html"])
        assert lon == pytest.approx(row["golden_lon"], abs=1e-9)
        assert lat == pytest.approx(row["golden_lat"], abs=1e-9)
        assert -180.0 <= lon < 180.0
        assert -geotag.LAT_CLAMP <= lat <= geotag.LAT_CLAMP


def test_geotag_fallback_deterministic():
    u = "https://example.org/p/00000010"
    assert geotag.fallback_lon(u) == geotag.fallback_lon(u)
    assert geotag.fallback_lon(u) != geotag.fallback_lat(u)
    assert geotag.geotag_pair(u, None) == (geotag.fallback_lon(u), geotag.fallback_lat(u))
    # malformed meta falls back
    assert geotag.geotag_pair(u, b'<meta name="geo.position" content="garbage">') == (
        geotag.fallback_lon(u),
        geotag.fallback_lat(u),
    )


@pytest.mark.spark
def test_extract_udf_batch_invariance(spark):
    """Byte-identical output at maxRecordsPerBatch 100 vs 10000 (north rule)."""
    pdf = fixtures.make_documents_web(500)
    df = spark.createDataFrame(pdf, schema=fixtures.DOCUMENTS_WEB_SCHEMA)
    results = {}
    for batch in ("100", "10000"):
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch)
        out = (
            df.withColumn("tx", textx.extract_text("html"))
            .select("url", "tx")
            .collect()
        )
        results[batch] = {r.url: r.tx for r in out}
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert results["100"] == results["10000"]
    golden = dict(zip(pdf["url"], pdf["text"]))
    assert results["10000"] == golden  # byte-identical per url


@pytest.mark.spark
def test_geotag_udf_matches_golden(spark):
    pdf = fixtures.make_documents_web(300)
    df = spark.createDataFrame(pdf, schema=fixtures.DOCUMENTS_WEB_SCHEMA)
    from imposm2_spark.functions.geotag import geotag

    rows = df.select("url", geotag("url", "html").alias("g")).select(
        "url", "g.lon", "g.lat"
    ).collect()
    golden = {r["url"]: (r["golden_lon"], r["golden_lat"]) for _, r in pdf.iterrows()}
    for r in rows:
        glon, glat = golden[r.url]
        assert r.lon == pytest.approx(glon, abs=1e-9)
        assert r.lat == pytest.approx(glat, abs=1e-9)


def test_fast_extractor_differential_adversarial():
    """The gated fast path must be byte-identical to the html.parser
    reference on every input — adversarial constructs either match or fall
    back (never silently diverge)."""
    from imposm2_spark.functions.textx import (
        _fast_extract,
        extract_text_bytes,
        extract_text_bytes_reference,
    )

    cases = [
        b"<html><body><p>plain</p></body></html>",
        b"<p>a &amp; b &lt;tag&gt; &#65; &notareal; &amp</p>",
        b"<script>var x = '<p>not text</p>';</script>after",
        b"<script>x</script x></script>tail",      # bogus close stays data
        b"<script>x </script </script> tail",      # close consumed as data
        b"<script>unclosed to EOF",
        b"<ScRiPt>X</ScRiPt>ok",
        b"<script/>self-close is NOT raw text<b>kept</b>",
        b"<style>p{color:red}</style>body",
        b'<img src="a>b"/>quoted gt<br/>',
        b"<a href=foo/>slash-end<a href=foo/ >loose</a>",
        b"<!-- comment -->fallback path",
        b"<!DOCTYPE html><p>doc</p>",
        b"<?php echo ?>pi",
        b"a < b and 2<3 bare",
        b"<p>unterminated <tag",
        b"</ >bogus end",
        b"<p>nested <style>inside<script>raw</script></style>out</p>",
        b"<title>&quot;q&quot;</title>",
        b"",
        b"no tags at all",
        "<p>unicodé &eacute; ☃</p>".encode(),
        b"\xff\xfe broken utf8 <p>x</p>",
        b'<a b=="x">double-eq</a>',            # tolerant-only attr syntax
        b"<a b/c=1>slashed attr name</a>",
        b"<script src=x/>bare value eats the slash: CDATA mode",
        b"<a b = 'y' >spaced</a>",
        b'<a "quoted name">junk</a>',
        b"<p>tag at eof<b",
        b"<script>x</script  >close with spaces",
    ]
    for raw in cases:
        assert extract_text_bytes(raw) == extract_text_bytes_reference(raw), raw

    # randomized fuzz: snippets combined in every order, seeded
    import random

    rng = random.Random(4242)
    snippets = [
        "word", " ", "\t\n", "&amp;", "&#65;", "&x;", "&", "<b>", "</b>",
        "<script>", "</script>", "</script x>", "</scripty>", "<style>",
        "</style>", '<img src="a>b"/>', "<a href=foo/>", "<p", ">", '"',
        "'", "<3", "<!--c-->", "< p>", "</ScRiPt >", "café", "☃",
        "&lt;p&gt;",
    ]
    n_fast = 0
    for _ in range(600):
        doc = "".join(rng.choice(snippets) for _ in range(rng.randint(0, 25))).encode()
        assert extract_text_bytes(doc) == extract_text_bytes_reference(doc), doc
        if _fast_extract(doc.decode("utf-8", errors="replace")) is not None:
            n_fast += 1
    assert n_fast > 50  # the fast path is actually exercised by the fuzz


def test_fast_extractor_takes_fast_path_on_synthetic_pages():
    from imposm2_spark.functions.textx import _fast_extract

    pdf = fixtures.make_documents_web(100)
    for h in pdf["html"]:
        assert _fast_extract(bytes(h).decode("utf-8", errors="replace")) is not None


def test_geotag_null_url_and_html_do_not_kill_the_batch(spark):
    """Review r5: a NULL url raised AttributeError inside the pandas UDF and
    failed the whole Arrow batch; it must hash as the empty string instead
    (deterministic fallback point), and a geo-meta page still wins even
    with a NULL url."""
    from imposm2_spark.functions.geotag import fallback_lat, fallback_lon, geotag

    rows = [
        (1, None, None),
        (2, None, b'<meta name="geo.position" content="48.2;16.3">'),
        (3, "https://a.example/x", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html binary")
    got = {r.doc_id: r.geo for r in df.select("doc_id", geotag("url", "html").alias("geo")).collect()}
    assert got[1].lon == fallback_lon("") and got[1].lat == fallback_lat("")
    assert (got[2].lon, got[2].lat) == (16.3, 48.2)
    assert got[3].lon == fallback_lon("https://a.example/x")
