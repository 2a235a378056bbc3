"""F-HTML / F-GEO: frozen extractor golden bytes + geotag determinism.

The north-rule invariant: byte-identical extracted text per url, stable across
Arrow batch sizes and row order (SURVEY.md §5.2 items 1, 3, 5).
"""

import os

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
    import pyarrow as pa

    df = fixtures.make_documents_web(120)
    extracted = textx.extract_text_batch(pa.array(list(df["html"]), pa.binary())).to_pylist()
    mismatches = df[[e != t for e, t in zip(extracted, df["text"])]]
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
def test_enrich_text_batch_invariance(spark):
    """Byte-identical extracted text per url at maxRecordsPerBatch 100 vs
    10000 (north rule), through the stream ingest's enrich crossing."""
    from imposm2_spark.streaming import enrich

    pdf = fixtures.make_documents_web(500)
    df = spark.createDataFrame(pdf, schema=fixtures.DOCUMENTS_WEB_SCHEMA)
    results = {}
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    try:
        for batch in ("100", "10000"):
            spark.conf.set(key, batch)
            out = enrich(df).select("url", "text_extracted").collect()
            results[batch] = {r.url: r.text_extracted for r in out}
    finally:
        spark.conf.set(key, orig)
    assert results["100"] == results["10000"]
    golden = dict(zip(pdf["url"], pdf["text"]))
    assert results["10000"] == golden  # byte-identical per url


@pytest.mark.spark
def test_enrich_geotag_matches_golden(spark):
    from imposm2_spark.streaming import enrich

    pdf = fixtures.make_documents_web(300)
    df = spark.createDataFrame(pdf, schema=fixtures.DOCUMENTS_WEB_SCHEMA)
    rows = enrich(df).select("url", "lon", "lat").collect()
    golden = {r["url"]: (r["golden_lon"], r["golden_lat"]) for _, r in pdf.iterrows()}
    assert len(rows) == len(golden)
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
    """Review r5: a NULL url raised AttributeError inside the geotag UDF and
    failed the whole Arrow batch; it must hash as the empty string instead
    (deterministic fallback point), and a geo-meta page still wins even
    with a NULL url. A NULL html extracts to NULL."""
    from imposm2_spark.functions.geotag import fallback_lat, fallback_lon
    from imposm2_spark.streaming import enrich

    rows = [
        (1, None, None),
        (2, None, b'<meta name="geo.position" content="48.2;16.3">'),
        (3, "https://a.example/x", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, html binary")
    got = {r.doc_id: r for r in enrich(df).collect()}
    assert got[1].lon == fallback_lon("") and got[1].lat == fallback_lat("")
    assert (got[2].lon, got[2].lat) == (16.3, 48.2)
    assert got[3].lon == fallback_lon("https://a.example/x")
    assert got[1].text_extracted is None and got[3].text_extracted is None
    assert got[2].text_extracted == ""


# ---------------------------------------------------------------------------
# whole-batch kernels (the spine's crossing): equal to the row functions on
# every row of any Arrow batch
# ---------------------------------------------------------------------------
_ADVERSARIAL = [
    b"<html><body><p>plain</p></body></html>",
    b"<p>a &amp; b &lt;tag&gt; &#65; &notareal; &amp</p>",
    b"<script>var x = '<p>not text</p>';</script>after",
    b"<script>x</script x></script>tail",
    b"<script>unclosed to EOF",
    b"<ScRiPt>X</ScRiPt>ok",
    b"<script/>self-close is NOT raw text<b>kept</b>",
    b"<style>p{color:red}</style>body",
    b"<scripts>not raw text</scripts>",
    b'<img src="a>b"/>quoted gt<br/>',
    b"<a href=foo/>slash-end<a href=foo/ >loose</a>",
    b"<!-- comment -->fallback path",
    b"<!DOCTYPE html><p>doc</p>",
    b"a < b and 2<3 bare",
    b"<p>unterminated <tag",
    b"</ >bogus end",
    b"</ p>spaced end",
    b'<a title="x<3">lt in a value</a>',
    b'<a b=="x">double-eq</a>',
    b"<a b = 'y' >spaced</a>",
    b"<p>tag at eof<b",
    b"",
    b"no tags at all",
    "<p>unicodé &eacute; ☃</p>".encode(),
    "<p>nbsp\xa0and em\u2003space</p>".encode(),
    b"\xff\xfe broken utf8 <p>x</p>",
    b"nul\x00byte<p>x</p>",
    b"  \t\x0b\x0c\x1c\x1d\x1e\x1f ascii\x1fwhitespace \r\n ",
    b"<p>ends in a start tag<p",
    b'<p>ends in an open value<a b="',
    b"<p>ends in an open quote<a b='x",
    b">starts with a gt</p>",
    b'"starts with a quote" tail">',
    b"'single' quote start'>",
    b"<",
    b"</",
    b'<meta name="geo.position" content="48.2;16.3"/><p>geo</p>',
    b'<META NAME="geo.position" CONTENT=" -0.5 ; -179.9999 ">upper',
    b'<meta name="geo.position" content="1;2"><meta name="geo.position" content="3;4">',
    b'<meta name="geo.position" content="garbage">',
    b'<p>ends in a meta <meta name="geo.position" content="12.5;',
    b'7.25"> starts the rest of one',
]

_SNIPPETS = [
    "word", "other", " ", "  ", "\t", "\n", "\x0b", "\x1c", "<p>", "</p>",
    "<b>", "</b>", "<br/>", "<br />", '<a href="x y">', "<a href=x>", "</a>",
    "<img src='q'/>", "</ p >", "<p", ">", '"', "'", "<3", "&amp;", "&",
    "<script>", "</script>", "<style>", "</STYLE>", "<!--c-->", "café", "☃", "\xa0",
    "\xff", "\x00", '<meta name="geo.position" content="1.25;-3.5">',
    '<meta name="geo.position" content="', "-0.0001;0.5", '">',
]


def _fuzz_docs(rng, n):
    """Documents built from _SNIPPETS; one in two uses only snippets of the
    batch path (ASCII, strict tags, no entity, script or style)."""
    clean = [s for s in _SNIPPETS if s.isascii() and not set(s) & set("&\x00\"'")
             and "<s" not in s.lower() and "<!" not in s and s not in ("<3", "<p", ">", "</ p >")]
    docs = []
    for _ in range(n):
        pool = clean if rng.random() < 0.5 else _SNIPPETS
        text = "".join(rng.choice(pool) for _ in range(rng.randint(0, 30)))
        # the "\xff" snippet as a raw byte (invalid UTF-8)
        docs.append(text.encode().replace(b"\xc3\xbf", b"\xff"))
    return docs


def _random_batches(rng, docs, urls):
    """(url, html) Arrow batches of random sizes over docs, some sliced
    (offset != 0) and some with NULL rows; a NULL html row's bytes are left
    in the data buffer (Arrow leaves a NULL slot's bytes unspecified)."""
    import pyarrow as pa

    i = 0
    while i < len(docs):
        k = rng.randint(1, 40)
        html, url = docs[i : i + k], urls[i : i + k]
        i += k
        nulls = [rng.random() < 0.1 for _ in html]
        arr = pa.array(html, pa.binary())
        if any(nulls):
            validity = pa.array([not z for z in nulls]).buffers()[1]
            arr = pa.Array.from_buffers(pa.binary(), len(html), [validity, *arr.buffers()[1:]],
                                        null_count=sum(nulls))
        uarr = pa.array(url, pa.string())
        if rng.random() < 0.3:
            lead = rng.randint(1, 3)
            arr = pa.concat_arrays([pa.array([b"<p>x"] * lead, pa.binary()), arr])[lead:]
            uarr = pa.concat_arrays([pa.array(["u"] * lead, pa.string()), uarr])[lead:]
        yield uarr, arr


# rows that end inside a tag, a value or a meta match, and rows that start
# where such a row would continue
_OPEN_ENDS = [b"<p>x<p", b'<p>x<a b="', b"<p>x<a b='y", b"x <", b"x </",
              b'<meta name="geo.position" content="12.5;']
_OPEN_STARTS = [b"> y</p>", b'">z</a>', b"'>w", b"p>v", b'7.25">u', b'"q']


def _batches(seed):
    """Random Arrow batches over the adversarial rows, 3000 fuzz rows and
    every (open end, open start) pair as adjacent rows."""
    import random

    rng = random.Random(seed)
    runs = [[d] for d in _ADVERSARIAL + _fuzz_docs(rng, 3000)]
    runs += [[a, b] for a in _OPEN_ENDS for b in _OPEN_STARTS]
    rng.shuffle(runs)
    docs = [d for run in runs for d in run]
    urls = [None if rng.random() < 0.05 else f"https://x.example/{i}" for i in range(len(docs))]
    return list(_random_batches(rng, docs, urls))


def test_extract_text_batch_equals_row_function(monkeypatch):
    from imposm2_spark.functions.textx import extract_text_batch, extract_text_bytes

    calls = []

    def counted(h):
        calls.append(h)
        return extract_text_bytes(h)

    monkeypatch.setattr(textx, "extract_text_bytes", counted)
    n_rows = 0
    for _, html in _batches(7):
        got = extract_text_batch(html)
        assert got.type == "string" and len(got) == len(html)
        assert got.to_pylist() == [extract_text_bytes(h) for h in html.to_pylist()], html
        n_rows += len(html)
    # the batch path takes a share of the rows; the rest run the row function
    assert 0.2 * n_rows < n_rows - len(calls) < 0.8 * n_rows


def test_extract_text_batch_across_row_ends():
    """A tag grammar match that runs into the next row sends the batch to the
    row function; a `<` left at a row end stays in that row."""
    import pyarrow as pa

    from imposm2_spark.functions.textx import extract_text_batch, extract_text_bytes

    pairs = [(b"<p>x<p", b"> y"), (b'<a b="', b'">z</a>'), (b"<a b='x", b"y'>w"),
             (b"<p>x<", b"p>y"), (b"<p>x</", b"p>y"), (b"x<scr", b"ipt>y</script>"),
             (b"<p>ok</p>", b"")]
    for a, b in pairs:
        html = pa.array([b"<b>lead</b>", a, b, b"<i>tail</i>"], pa.binary())
        assert extract_text_batch(html).to_pylist() == [
            extract_text_bytes(h) for h in html.to_pylist()], (a, b)
    assert extract_text_batch(pa.array([], pa.binary())).to_pylist() == []
    assert extract_text_batch(pa.array([None, b""], pa.binary())).to_pylist() == [None, ""]


def test_geotag_batch_equals_row_function():
    import numpy as np
    import pyarrow as pa

    from imposm2_spark.functions.geotag import geotag_batch, geotag_pair

    for url, html in _batches(11) + [
        (pa.array(["a", "b"]), pa.array(_ADVERSARIAL[-2:], pa.binary())),
        (pa.array([], pa.string()), pa.array([], pa.binary())),
    ]:
        lon, lat = geotag_batch(url, html)
        want = [geotag_pair(u, h) for u, h in zip(url.to_pylist(), html.to_pylist())]
        got = list(zip(lon.tolist(), lat.tolist()))
        assert got == want, html
        assert np.signbit(lon).tolist() == [np.signbit(w[0]) for w in want]


@pytest.mark.spark
def test_synth_documents_web_same_pages_as_format_string(spark):
    """The integer rendering of the page's grid point gives the bytes the
    format_string("%.4f") + encode("utf-8") expression gave, over sf0.01
    documents fanned out 4x: rows without the meta tag (uid % 10 == 0) and
    coordinates in (-1, 0) included."""
    from pyspark.sql import functions as F

    from imposm2_spark.sources import testdata

    sf001 = os.path.join(os.path.dirname(testdata.DEFAULT_SF_DIR), "sf0.01")
    docs = testdata.load(spark, sf001, "documents")
    new = testdata.synth_documents_web(docs, replication=4, spark=spark)
    reps = spark.range(0, 4).withColumnRenamed("id", "rep").join(F.broadcast(docs))
    uid = F.col("doc_id") + F.col("rep") * F.lit(1_000_000)
    lon = (uid * testdata.LON_MUL) % testdata.LON_MOD / 10_000.0 - 180.0
    lat = (uid * testdata.LAT_MUL) % testdata.LAT_MOD / 10_000.0 - 85.0
    meta = F.when(uid % 10 != 0, F.concat(
        F.lit('<meta name="geo.position" content="'), F.format_string("%.4f", lat),
        F.lit(";"), F.format_string("%.4f", lon), F.lit('"/>'),
    )).otherwise(F.lit(""))
    old = reps.select(
        F.concat(F.lit("https://example.org/d/"), F.lpad(uid.cast("string"), 10, "0")).alias("url"),
        F.encode(F.concat(
            F.lit("<html><head><title>D"), uid.cast("string"), F.lit("</title>"), meta,
            F.lit("</head><body><p>"), F.col("text"), F.lit("</p></body></html>"),
        ), "utf-8").alias("html"),
        lat.alias("lat"), lon.alias("lon"), (uid % 10 == 0).alias("no_meta"),
    ).collect()
    got = sorted((r.url, bytes(r.html)) for r in new.select("url", "html").collect())
    assert got == sorted((r.url, bytes(r.html)) for r in old)
    assert len(got) == 4 * docs.count()
    assert any(r.no_meta for r in old)
    assert any(-1 < r.lat < 0 for r in old) and any(-1 < r.lon < 0 for r in old)
