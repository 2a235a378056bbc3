"""Text-analysis column functions: edge cases the oracle corpus can't hit."""

import pytest
from pyspark.sql import functions as F

from imposm2_spark.functions import text_analysis as ta

pytestmark = pytest.mark.spark


def _one(spark, text, col):
    return spark.createDataFrame([(text,)], ["text"]).select(col.alias("v")).first().v


def test_empty_and_whitespace_text(spark):
    for t in ("", "   "):
        assert _one(spark, t, ta.token_count_ws(F.col("text"))) == 0
        assert _one(spark, t, ta.lang_id(F.col("text"))) == "und"
        assert _one(spark, t, ta.quality_score(F.col("text"))) == 0.0


def test_lang_id_stopword_sets(spark):
    cases = {
        "the cat and the dog is in a house": "en",
        "der hund und die katze ist von den": "de",
        "le chat et la maison les des un une": "fr",
        "el perro y la casa los que en un": "es",
        "zzz qqq xxx": "und",
    }
    for text, want in cases.items():
        assert _one(spark, text, ta.lang_id(F.col("text"))) == want, text


def test_lang_id_tiebreak_prefers_lang_order(spark):
    # 'la' is in both fr and es sets; equal hits -> earlier LANG_ORDER wins (fr)
    assert _one(spark, "la la la", ta.lang_id(F.col("text"))) == "fr"


def test_fingerprint_is_order_sensitive(spark):
    a = _one(spark, "alpha beta", ta.fingerprint(F.col("text")))
    b = _one(spark, "beta alpha", ta.fingerprint(F.col("text")))
    assert a != b
    assert a == _one(spark, "alpha beta", ta.fingerprint(F.col("text")))


def test_token_count_bpe_splits_punct(spark):
    n_bpe = ta.doc_stats_udf()(F.col("text"))["n_bpe"]
    assert _one(spark, "don't stop-me now!!", n_bpe) == 9


def test_quality_monotone_in_alpha(spark):
    clean = _one(spark, "the clean readable sentence and it is fine", ta.quality_score(F.col("text")))
    noisy = _one(spark, "@@## $$%% ^^&& ))(( ||\\\\ ??>>", ta.quality_score(F.col("text")))
    assert clean > noisy
    assert noisy == 0.0


_PII_CORPUS = [
    (1, "contact me at jane.doe+spam@example.co.uk or call +1 555-867-5309 now"),
    (2, "server 192.168.1.100 went down, backup at 10.0.0.7:8080"),
    (3, "no pii here, just words and the number 42"),
    (4, "double email a@b.io c.d@e-f.org and phone 0049 1234 5678 90"),
    (5, ""),
    (6, "edgecase@x.y1 not-an-ip 999.999 1-2-3"),
]


def test_scrub_pii_goldens(spark):
    df = spark.createDataFrame(_PII_CORPUS, ["doc_id", "text"])
    got = {
        r.doc_id: r.clean
        for r in df.select("doc_id", ta.scrub_pii(F.col("text")).alias("clean")).collect()
    }
    assert got[1] == "contact me at [EMAIL] or call [PHONE] now"
    assert got[2] == "server [IP] went down, backup at [IP]:8080"
    assert got[3] == "no pii here, just words and the number 42"
    assert got[4] == "double email [EMAIL] [EMAIL] and phone [PHONE]"
    assert got[5] == ""
    # "x.y1" is not an email (the TLD tail needs 2+ letters); "999.999" is
    # not a 4-octet IP; but "999 1-2-3" IS a 9-char spaced/dashed digit run,
    # which the phone pattern masks by design (conservative scrubbing)
    assert got[6] == "edgecase@x.y1 not-an-ip 999.[PHONE]"


def test_pii_counts_match_scrub(spark):
    df = spark.createDataFrame(_PII_CORPUS, ["doc_id", "text"])
    cnts = ta.pii_counts(F.col("text"))
    rows = {
        r.doc_id: (r.email, r.ipv4, r.phone)
        for r in df.select(
            "doc_id",
            cnts["email"].alias("email"),
            cnts["ipv4"].alias("ipv4"),
            cnts["phone"].alias("phone"),
        ).collect()
    }
    assert rows[1] == (1, 0, 1)
    assert rows[2] == (0, 2, 0)
    assert rows[3] == (0, 0, 0)
    assert rows[4] == (2, 0, 1)
    assert rows[5] == (0, 0, 0)


def test_scrub_pii_duckdb_differential(spark):
    """The masked output is engine-independent: DuckDB's RE2 applies the
    same pattern chain to the same corpus and must produce byte-identical
    text (the patterns are written RE2-safe on purpose)."""
    import duckdb

    df = spark.createDataFrame(_PII_CORPUS, ["doc_id", "text"])
    got = {
        r.doc_id: r.clean
        for r in df.select("doc_id", ta.scrub_pii(F.col("text")).alias("clean")).collect()
    }
    con = duckdb.connect()
    expr = "text"
    for _name, pat, repl in ta.PII_PATTERNS:
        p = pat.replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}', 'g')"
    rows = con.execute(
        f"SELECT doc_id, {expr} AS clean FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in _PII_CORPUS)
        + ") AS t(doc_id, text)"
    ).fetchall()
    assert {i: c for i, c in rows} == got
