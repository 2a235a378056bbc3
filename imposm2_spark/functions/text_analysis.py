"""Text-analysis column functions for training-data pipelines.

Graft additions (no imposm2 analog — the reference's scalar-function surface is
the FieldType DSL, SURVEY.md §2.8; these extend it for web-text curation):
language-ID, quality scoring, token counting, and document fingerprinting.

Design rule: everything here is a pure Column expression built from JVM
higher-order functions (transform/aggregate/filter) — whole-stage codegen,
zero Python boundary, and each has a textually-parallel DuckDB oracle in
plans.registry. Integer hashing uses a rolling 31-polynomial mod 1e9+7 so
Spark and the oracle agree bit-for-bit (no float hashing).

ASCII caveat: `ascii()` (both engines) returns the leading codepoint; the
rolling hash is therefore codepoint-faithful only for ASCII text — fine for
fingerprint/dedup roles (stability matters, not linguistics), documented here.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.texthash import CHAR_MOD
from ..kernels.textstats import LANG_ORDER, LANG_STOPWORDS

# BPE-ish token pattern: letter runs, digit runs, single punctuation marks
BPE_TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens (trimmed); empty text -> empty array."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), "\\s+")
    )


def token_count_ws(text: Column) -> Column:
    return F.size(ws_tokens(text)).cast("long")


def char_hash(s: Column) -> Column:
    """Rolling 31-polynomial hash of a string's codepoints, mod CHAR_MOD."""
    return F.aggregate(
        F.transform(F.split(s, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % CHAR_MOD,
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint = rolling hash of the full text."""
    return char_hash(text)


def _stopword_hits(toks: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(toks, lambda t: F.lower(t).isin(*words))).cast("long")


def lang_expr(hits: dict[str, Column]) -> Column:
    """The lang argmax over precomputed per-language hit-count Columns —
    shared by lang_id (HOF hits) and the r6 stats-kernel path so both build
    the IDENTICAL expression tree (bit parity by construction)."""
    # lang wins iff it strictly beats all earlier langs and >= all later ones
    expr = F.lit(None).cast("string")
    for lang in reversed(LANG_ORDER):
        cond = hits[lang] > 0
        for prior in LANG_ORDER[: LANG_ORDER.index(lang)]:
            cond = cond & (hits[lang] > hits[prior])
        for later in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]:
            cond = cond & (hits[lang] >= hits[later])
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return F.coalesce(expr, F.lit("und"))


def lang_id(text: Column) -> Column:
    """Stopword-ratio language heuristic over {en, de, fr, es}.

    Winner = most stopword hits; ties break by LANG_ORDER; zero hits -> 'und'
    (undetermined, BCP-47 convention).
    """
    toks = ws_tokens(text)
    hits = {lang: _stopword_hits(toks, lang) for lang in LANG_ORDER}
    return lang_expr(hits)


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality signals (each a pure Column, ratios in [0, 1]).

    KNOWN LIMITATION (documented, deliberately unchanged): the character
    classes are ASCII — a non-ASCII letter (ü, é, ñ) counts into
    punct_chars and not alpha_chars, so quality_score systematically
    under-scores clean de/fr/es prose relative to en. The classes are
    frozen because the DuckDB oracle evaluates the textually identical
    RE2-safe patterns (unicode classes diverge between engines) and the
    driver hash pins bit parity; a production deployment targeting
    multilingual corpora should swap both twins to unicode classes
    together and re-baseline."""
    n_chars = F.length(text).cast("long")
    toks = ws_tokens(text)
    n_tokens = F.size(toks).cast("long")
    alpha_chars = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    punct_chars = F.length(F.regexp_replace(text, "[A-Za-z0-9\\s]", "")).cast("long")
    stop_hits = _stopword_hits(toks, "en")
    safe_chars = F.greatest(n_chars, F.lit(1).cast("long"))
    safe_toks = F.greatest(n_tokens, F.lit(1).cast("long"))
    # ratios are UNROUNDED here (exact int quotients); callers round at the
    # output boundary so derived scores don't compound rounding differences
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": alpha_chars / safe_chars,
        "punct_ratio": punct_chars / safe_chars,
        "stopword_ratio": stop_hits / safe_toks,
        "mean_token_len": F.aggregate(
            toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        )
        / safe_toks,
    }


def quality_expr(
    alpha_ratio: Column, stopword_ratio: Column, n_tokens: Column,
    punct_ratio: Column,
) -> Column:
    """The clamped weighted blend over precomputed ratio/count Columns —
    shared by quality_score (HOF features) and the r6 stats-kernel path so
    both build the IDENTICAL expression tree (bit parity by construction)."""
    raw = (
        F.lit(0.5) * alpha_ratio
        + F.lit(0.3) * stopword_ratio
        + F.lit(0.2) * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        - F.lit(0.5) * punct_ratio
    )
    return F.greatest(F.lit(0.0), F.least(F.lit(1.0), raw))


def quality_score(text: Column) -> Column:
    """Scalar quality score: weighted blend of the feature ratios.

    score = 0.5*alpha_ratio + 0.3*stopword_ratio + 0.2*min(n_tokens/100, 1)
            - 0.5*punct_ratio,  clamped to [0, 1] (unrounded; round at output).
    """
    f = quality_features(text)
    return quality_expr(
        f["alpha_ratio"], f["stopword_ratio"], f["n_tokens"], f["punct_ratio"]
    )


# ---------------------------------------------------------------------------
# r6 stats kernel (guide §4.2): one arrow_udf computes the
# INTEGER features (kernels/textstats.py) the scoring scan needs; the float
# ratios / blend / rounding / lang argmax then evaluate through the SAME
# shared expression builders as the HOF chain (quality_expr / lang_expr /
# feature ratios below), so the outputs are bit-identical by construction
# (differential-tested in tests/test_textstats.py).
# ---------------------------------------------------------------------------


def doc_stats_udf():
    """Arrow-batched struct UDF of kernels.textstats.doc_stats (all-NULL
    struct fields for NULL text, mirroring the NULL propagation of the
    expression chain). Marked non-deterministic so a filter on a derived
    column cannot duplicate the evaluation below the pushed-down predicate
    (guide §4.4)."""
    from pyspark.sql import types as T

    from ..kernels import textstats as ts

    schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ts.STAT_COLS]
    )

    def _stats(texts: pa.Array) -> pa.Array:
        # the kernel reads the Arrow batch in place
        nulls, cols = ts.batch_stats(texts)
        return pa.StructArray.from_arrays(
            [pa.array(cols[c], mask=nulls) for c in ts.STAT_COLS], names=list(ts.STAT_COLS)
        )

    return F.arrow_udf(_stats, schema).asNondeterministic()


def stats_ratio_features(s: Column) -> dict[str, Column]:
    """quality_features twin over the kernel stats struct `s`: the same
    ratio expressions (long/long -> double divisions, same greatest guards)
    with the integer counts read from the struct instead of recomputed."""
    n_chars = s.getField("n_chars")
    n_tokens = s.getField("n_tokens")
    safe_chars = F.greatest(n_chars, F.lit(1).cast("long"))
    safe_toks = F.greatest(n_tokens, F.lit(1).cast("long"))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": s.getField("alpha_chars") / safe_chars,
        "punct_ratio": s.getField("punct_chars") / safe_chars,
        "stopword_ratio": s.getField("h_en") / safe_toks,
    }


def stats_quality(s: Column) -> Column:
    """quality_score twin over the kernel stats struct (unrounded)."""
    f = stats_ratio_features(s)
    return quality_expr(
        f["alpha_ratio"], f["stopword_ratio"], f["n_tokens"], f["punct_ratio"]
    )


def stats_lang(s: Column) -> Column:
    """lang_id twin over the kernel stats struct."""
    return lang_expr({lang: s.getField(f"h_{lang}") for lang in LANG_ORDER})


# ---------------------------------------------------------------------------
# PII scrubbing (public recipe: the C4 / RefinedWeb curation step that masks
# contact-like strings before training). Patterns are deliberately RE2-safe
# (no backreferences/lookaround) so the Java-regex engine side and a
# DuckDB/RE2 oracle replace the exact same spans — the differential test in
# tests/test_text_analysis.py asserts byte equality on a planted corpus.
# Order matters and is fixed: emails first (their local part may contain
# digits a later pass would mis-tag), then dotted IPv4 (dots are not part of
# the phone pattern), then phone-like digit runs.
# ---------------------------------------------------------------------------
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "[PHONE]"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-class match counts {email, ipv4, phone} — counted on the
    progressively scrubbed text exactly as scrub_pii replaces (an email's
    digits never double-count as a phone)."""
    out: dict[str, Column] = {}
    cur = text
    for name, pat, repl in PII_PATTERNS:
        out[name] = F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).cast("long")
        cur = F.regexp_replace(cur, pat, repl)
    return out


def scrub_pii(text: Column) -> Column:
    """Text with every PII_PATTERNS match masked by its class token."""
    cur = text
    for name, pat, repl in PII_PATTERNS:
        cur = F.regexp_replace(cur, pat, repl)
    return cur
