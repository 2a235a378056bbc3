"""T31: hashed-feature linear quality classifier scoring (fastText-style).

The modern curation stack (CCNet, DCLM, FineWeb-Edu) gates documents with a
cheap linear classifier over bag-of-ngram features — training happens
offline; the 10^12-doc SCORING pass is the Spark-side job this operator
implements. No imposm2 analog (SURVEY §2.11 graft table, T31).

Model = (weights: gram -> integer milli-weight, bias, threshold). Features
are lowercase whitespace word UNIGRAMS plus adjacent "a_b" BIGRAMS; the
logit is the BIGINT sum of matched weights plus bias — integer arithmetic,
so results are bit-identical across partitionings and plans (the
same exactness discipline as T29 PageRank), and a DuckDB oracle can check
the scoring pass value-for-value.

One arithmetic, two plans chosen by the type of `weights`:

  * dict weights: a batched mapInArrow kernel (`_score_arrow`) — C-level
    dict lookups per gram over whole Arrow batches, zero shuffles, the
    10^12-doc configuration. Its tokenization (trim spaces, lower, ASCII
    \\s+ split) matches the JVM expression `grams_expr` and is
    differential-fuzzed against the join plan in tests/test_classify.py,
    non-ASCII text included.
  * DataFrame weights (vocabularies too large to ship in a closure):
    explode grams -> broadcast equi-join on the weight table -> one
    map-side-combined per-doc sum, left-joined back so zero-match
    documents still score (bias only). The corpus never shuffles; the
    (doc, gram) exchange is the per-doc sum only.

The join plan's gram fold binds the token array ONCE as a lambda variable
(aggregate over a 1-element array — the HOF re-evaluation guard measured in
the r3 n-gram fold and the T30 tf fold).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["score_quality", "grams_expr"]


def _tokens(text_col: Column) -> Column:
    # null text scores like empty text (bias only) instead of nulling the
    # whole row through the fold
    return F.filter(
        F.split(F.trim(F.lower(F.coalesce(text_col, F.lit("")))), r"\s+"),
        lambda x: x != "",
    )


def grams_expr(text_col: Column) -> Column:
    """Unigrams ++ adjacent bigrams ("a_b"), lowercase word tokens."""
    # bind the token array once (HOF re-evaluation guard): the bigram
    # zip_with references it three times
    return F.aggregate(
        F.array(_tokens(text_col)),
        F.array().cast("array<string>"),
        lambda _acc, tk: F.concat(
            tk,
            F.zip_with(
                F.slice(tk, 1, F.greatest(F.size(tk) - 1, F.lit(0))),
                F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
                lambda a, b: F.concat_ws("_", a, b),
            ),
        ),
    )


def score_quality(
    docs: DataFrame,
    weights: dict[str, int] | DataFrame,
    *,
    id_cols: tuple[str, ...] = ("doc_id",),
    text_col: str = "text",
    bias_milli: int = 0,
    threshold_milli: int = 0,
) -> DataFrame:
    """Score every document: (id cols..., n_grams, logit_milli, keep).

    weights: {gram: milli-weight} dict (the mapInArrow kernel) or a
    DataFrame(gram string, weight_milli long) (the broadcast-join plan).
    logit_milli = bias + sum(matched weights), BIGINT; keep = logit_milli
    >= threshold_milli. Repeated grams count once per occurrence (bag
    semantics, like fastText's sum over input features). Integer sums, so
    both plans are bit-identical.
    """
    if isinstance(weights, dict):
        return _score_arrow(
            docs, weights, id_cols, text_col, bias_milli, threshold_milli
        )
    return _score_join(docs, weights, id_cols, text_col, bias_milli, threshold_milli)


def _score_arrow(docs, weights, id_cols, text_col, bias_milli, threshold_milli):
    import re

    cols = [f.name for f in docs.schema if f.name in id_cols]
    id_schema = ", ".join(f"`{c}` {docs.schema[c].dataType.simpleString()}" for c in cols)
    out_schema = f"{id_schema}, n_grams long, logit_milli long, keep boolean"
    w = dict(weights)
    bias, thr = int(bias_milli), int(threshold_milli)
    # ASCII split mirrors the JVM regex (Java \s is ASCII-only; Python's
    # default is unicode-aware — re.ASCII pins them equal)
    ws_re = re.compile(r"\s+", re.ASCII)

    def score_batches(batches):
        import pyarrow as pa

        get = w.get
        for rb in batches:
            n_grams, logits = [], []
            for t in rb.column(len(cols)).to_pylist():
                # strip(" "): Spark's trim (the join plan) removes only
                # spaces; a bare strip() also eats U+00A0, U+2003, \x1c-\x1f
                toks = [x for x in ws_re.split((t or "").strip(" ").lower()) if x]
                s = sum(get(tk, 0) for tk in toks)
                n = len(toks)
                if n > 1:
                    s += sum(
                        get(a + "_" + b, 0) for a, b in zip(toks, toks[1:])
                    )
                    n += n - 1
                n_grams.append(n)
                logits.append(s + bias)
            yield pa.RecordBatch.from_arrays(
                [*rb.columns[: len(cols)], pa.array(n_grams, pa.int64()),
                 pa.array(logits, pa.int64()), pa.array([x >= thr for x in logits])],
                names=[*cols, "n_grams", "logit_milli", "keep"],
            )

    return docs.select(*cols, text_col).mapInArrow(score_batches, out_schema)


def _score_join(docs, wdf, id_cols, text_col, bias_milli, threshold_milli):
    base = docs.select(*id_cols, grams_expr(F.col(text_col)).alias("_grams"))
    exploded = base.select(
        *[F.col(c) for c in id_cols], F.explode("_grams").alias("gram")
    )
    sums = (
        exploded.join(F.broadcast(wdf), "gram")
        .groupBy(*id_cols)
        .agg(F.sum("weight_milli").alias("_wsum"))
    )
    scored = (
        base.join(sums, list(id_cols), "left")
        .select(
            *[F.col(c) for c in id_cols],
            F.size("_grams").cast("long").alias("n_grams"),
            (
                F.coalesce(F.col("_wsum"), F.lit(0).cast("long"))
                + F.lit(int(bias_milli)).cast("long")
            ).alias("logit_milli"),
        )
    )
    return scored.withColumn(
        "keep", F.col("logit_milli") >= F.lit(int(threshold_milli)).cast("long")
    )
