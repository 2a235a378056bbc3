"""Custom stateful streaming operator: cross-microbatch first-seen dedup.

Graft addition (SURVEY.md §2.9 + training-data ops): in a continuous ingest,
duplicate documents arrive across microbatches, so a stateless per-batch
dropDuplicates misses repeats that span batches. This module keeps
first-seen state per content hash via applyInPandasWithState — the idiomatic
Spark construct for custom stateful streaming logic (the engine's only
stateful-API surface; everything else is stateless or watermark-managed).
It holds ONE state machine, `first_seen_state_fn`: `stream_dedup_first_seen`
runs it, and `stream_dedup_exact` is a projection over that.

Semantics: emit a document iff its md5(text) was never seen before (within
the state retention window); state per hash = the count of copies seen, with
a processing-time timeout so state is bounded at unbounded input (hashes idle
longer than STATE_TTL_MS are evicted and may re-emit — documented trade-off,
identical to production dedup-cache behavior). STATE_TTL_MS is read when a
query is built.

Scale notes: state is hash-partitioned across executors by the groupBy key;
per-key state is one long; the timeout bounds total state to (arrival rate
x ttl). For exact-forever dedup at 10^12 docs, the batch MinHash/exact passes
(operators.dedup) remain the right tool; this operator is the low-latency
stream-side filter in front of them.

DRAIN TERMINATION (availableNow): once any key has a ProcessingTimeTimeout
registered, Spark schedules back-to-back "no new data but cleaning up state"
microbatches indefinitely (each advances processing time and re-arms the
check), so an availableNow query over these operators NEVER self-terminates
— it processes all data, then spins ~1 batch/sec until the TTL (hours)
elapses. For drain/backfill runs, call `enable_drain_termination(spark)`
before `.start()`: it disables no-data microbatches session-wide, making
timeout eviction lazy (fires on the next batch that carries data) — exactly
the dedup-cache trade-off above. Continuous queries (processingTime trigger)
should leave the default: paced no-data batches are what evict idle state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# Processing-time retention of a hash's first-seen state; read at call time.
STATE_TTL_MS = 24 * 3_600_000

_COUNT_STATE = T.StructType([T.StructField("n_seen", T.LongType())])


def enable_drain_termination(spark) -> None:
    """Make availableNow queries over stateful-timeout operators terminate.

    Disables no-data microbatches (session-wide; see module header for why
    and when NOT to). Idempotent; returns nothing."""
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")


def _tie_text(v) -> str:
    """A column value as keeper tie-break text, the same in every pandas
    chunk: NULL is '', arrays, structs and maps compare by their elements,
    and an integral float (a long column arrives as float64 in a chunk that
    holds a NULL) prints as the integer."""
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(map(_tie_text, v)) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_tie_text(k)}:{_tie_text(x)}" for k, x in v.items()) + "}"
    if pd.isna(v):
        return ""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def first_seen_state_fn(cols: list[str], order_col: str):
    """The first-seen state function for applyInPandasWithState.

    For a hash never seen before it emits one keeper row (`cols` only): the
    lowest `order_col`, NULLs last, then the smallest stringified remaining
    columns. The keeper is the minimum over ALL pandas chunks of the group
    (a group bigger than the Arrow batch arrives as several), so it never
    depends on chunk order. Later copies emit nothing. State is the count
    of copies seen, with STATE_TTL_MS (read now) as its timeout."""
    ttl_ms = STATE_TTL_MS
    rest = [c for c in cols if c != order_col]

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return iter(())
        (n_seen,) = state.get if state.exists else (0,)
        new_hash = n_seen == 0
        keeper, keeper_rank = None, None
        for pdf in pdfs:
            n_seen += len(pdf)
            if not new_hash or not len(pdf):
                continue
            order = pdf[order_col]
            present = order.dropna()
            k = present.min() if len(present) else None
            rows = np.flatnonzero(order == k) if k is not None else range(len(pdf))
            body = pdf[rest]
            for i in rows:
                rank = (k is None, k, tuple(map(_tie_text, body.iloc[i])))
                if keeper_rank is None or rank < keeper_rank:
                    keeper, keeper_rank = pdf.iloc[[i]][cols], rank
        state.update((n_seen,))
        state.setTimeoutDuration(ttl_ms)
        return iter(()) if keeper is None else iter([keeper])

    return fn


def stream_dedup_first_seen(
    docs: DataFrame,
    text_col: str = "text",
    order_col: str = "url",
) -> DataFrame:
    """Schema-preserving first-seen suppression, keyed on md5(`text_col`).

    Carries EVERY input column through, so it composes in front of the
    streaming spine: the first document per distinct text (the keeper
    `first_seen_state_fn` picks within the first micro-batch that contains
    the hash) is emitted once; later copies — including cross-micro-batch
    and cross-restart repeats, via the state store — are dropped."""
    cols = list(docs.columns)
    keyed = docs.withColumn("_text_hash", F.md5(text_col)).groupBy("_text_hash")
    return keyed.applyInPandasWithState(
        first_seen_state_fn(cols, order_col),
        outputStructType=docs.schema,
        stateStructType=_COUNT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_dedup_exact(docs: DataFrame) -> DataFrame:
    """Stateful streaming dedup: keeps the first document per md5(text).

    Input: a STREAMING DataFrame with (url, text) columns. Output stream:
    (text_hash, url, text, n_prior_copies) — exactly one row per distinct
    text within the state retention window, the keeper of
    `stream_dedup_first_seen` over (url, text).

    `n_prior_copies` is ALWAYS 0 by construction: append mode emits a hash
    exactly once, at first sight, when zero copies precede it — later copies
    are suppressed, never re-emitted with an updated count. The column is
    kept for schema stability; a duplicate CENSUS needs update-mode
    semantics (a different operator), not this suppressor.
    """
    kept = stream_dedup_first_seen(docs.select("url", "text"))
    return kept.select(
        F.md5("text").alias("text_hash"), "url", "text",
        F.lit(0).cast("long").alias("n_prior_copies"),
    )
