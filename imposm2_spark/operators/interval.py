"""J10: interval (range) join — bucketed explode + equi-join, never a BNLJ.

Graft addition (SURVEY.md J10; companion to the J9 as-of join). Spark has no
native interval join: the naive formulation — `p.key = i.key AND p.ts BETWEEN
i.start AND i.end` — plans the BETWEEN as a post-join filter on a sort-merge
join keyed only on `key` (O(points x intervals) per key), or degrades to a
BroadcastNestedLoopJoin when the key is absent. Both are fatal at 10^12
events. This operator instead:

  1. assigns every point to ONE time bucket `floor(ts_us / bucket_us)`;
  2. explodes every interval to the (contiguous, usually few) buckets its
     [start, end] span covers via `sequence(floor(start_us/w), floor(end_us/w))`;
  3. equi-joins on (key..., bucket) — a plain hash exchange Catalyst/AQE can
     optimize — and refines with the exact BETWEEN predicate.

Each qualifying (point, interval) pair is emitted EXACTLY once: the point
lives in a single bucket, and the interval covers that bucket at most once
(the explode is a set of distinct bucket ids), so no post-join dedup pass is
needed — the classic one-pass property of one-sided-replication interval
partitioning.

Long-interval skew: an interval spanning S buckets replicates S times, so
pick `bucket_us` near the typical interval length. Output is property-tested
identical to the unbucketed brute force for every bucket width
(tests/test_interval.py).

Null semantics follow SQL comparisons, exactly like the DuckDB oracle: a
point with a null timestamp or an interval with a null endpoint satisfies no
BETWEEN, and a null key never equi-joins — all such rows simply produce no
pairs (this is an INNER join; use the J9 as-of join for left-outer temporal
semantics).

Driver row `interval_join_clicks_errors` pins the operator against a DuckDB
BETWEEN-join oracle on the events table; tests/test_interval.py pins the
full null/boundary/long-interval matrix against a pandas brute force.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

__all__ = ["interval_join"]


def _micros(col: Column, col_type, instant: bool) -> Column:
    # Epoch-anchored microseconds, MONOTONE w.r.t. the comparison order the
    # exact BETWEEN refine uses — the property the one-pass bucket proof
    # rests on. When any participating column is instant-typed (TIMESTAMP),
    # the refine compares instants (Spark coerces a mixed NTZ side via the
    # session zone), so bucket on unix micros: wall-clock micros are NOT
    # monotone across a DST fall-back, and a point later in instant time can
    # land in a bucket BELOW its containing interval's, silently dropping the
    # pair. All-NTZ inputs compare in wall-clock space, where wall micros
    # (timestamp_diff from the epoch; unix_micros rejects NTZ) are the
    # monotone choice. The bucket id below is floor(micros / w) via Spark's
    # double-typed `/`: provably exact for |micros| < 2^53 (year ~2255) — an
    # integer quotient m/w is at least 1/w from any other integer, and the
    # division's rounding error is < (m/w)*2^-53, so a floor flip needs
    # m > 2^53.
    if instant:
        return F.unix_micros(col.cast("timestamp"))
    epoch = F.lit("1970-01-01 00:00:00").cast(col_type)
    return F.timestamp_diff("MICROSECOND", epoch, col)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | list[str],
    point_ts: str = "ts",
    start: str = "start",
    end: str = "end",
    bucket_us: int = 3_600_000_000,
    suffix: str = "_i",
) -> DataFrame:
    """Inner-join each point to every same-key interval containing it.

    A point row matches an interval row when the keys are equal and
    `start <= point_ts <= end` (both bounds inclusive, SQL comparison
    semantics — null timestamps/endpoints/keys never match). Each matching
    pair appears exactly once in the output.

    bucket_us: time-bucket width in microseconds (default 1 hour). Result is
    identical for any positive width; pick one near the TYPICAL interval
    length so most intervals explode to ~2 buckets. Too narrow inflates the
    interval-side replication; too wide degrades the refine filter's
    selectivity (more same-bucket non-matches scanned per task).

    Returns all point columns (keys first), then every non-key interval
    column suffixed with `suffix`.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if not keys:
        raise ValueError("interval_join requires at least one key column")
    for k in keys:
        if k not in points.columns or k not in intervals.columns:
            raise ValueError(f"join key {k!r} missing from one side")
    if point_ts not in points.columns:
        raise ValueError(f"point timestamp column {point_ts!r} missing")
    for c in (start, end):
        if c not in intervals.columns:
            raise ValueError(f"interval bound column {c!r} missing")
        if c in keys:
            # The bounds must survive into the suffixed payload: a bound that
            # is also a join key would vanish from ipay_cols and leave the
            # BETWEEN refine referencing a missing column deep in execution.
            raise ValueError(f"interval bound column {c!r} cannot also be a join key")
    if not isinstance(bucket_us, int) or bucket_us <= 0:
        raise ValueError(f"bucket_us must be a positive int, got {bucket_us!r}")

    reserved = {"__bkt", "__b0", "__b1"}
    clash = reserved.intersection(points.columns).union(
        reserved.intersection(intervals.columns)
    )
    if clash:
        raise ValueError(f"column names {sorted(clash)} are reserved by interval_join")

    ipay_cols = [c for c in intervals.columns if c not in keys]
    out_left = list(points.columns)
    out_right = [f"{c}{suffix}" for c in ipay_cols]
    dupes = sorted(set(out_left).intersection(out_right))
    if dupes:
        raise ValueError(
            f"suffixed interval columns {dupes} collide with point output columns; "
            f"rename them or pass a different suffix"
        )

    p_ts_type = points.schema[point_ts].dataType
    i_start_type = intervals.schema[start].dataType
    i_end_type = intervals.schema[end].dataType
    # One flavor decision for all three columns: the refine's comparison
    # space is instant iff ANY side is instant-typed (see _micros).
    instant = any(
        isinstance(t, TimestampType) for t in (p_ts_type, i_start_type, i_end_type)
    )

    # Points with a null timestamp and intervals with a null/inverted span
    # can never match (inner-join contract) — filter BEFORE the explode so
    # the predicate pushes into the scans.
    pts = points.where(F.col(point_ts).isNotNull()).withColumn(
        "__bkt",
        F.floor(_micros(F.col(point_ts), p_ts_type, instant) / F.lit(int(bucket_us))),
    )
    ivs = intervals.where(
        F.col(start).isNotNull()
        & F.col(end).isNotNull()
        & (F.col(start) <= F.col(end))
    )
    b0 = F.floor(_micros(F.col(start), i_start_type, instant) / F.lit(int(bucket_us)))
    b1 = F.floor(_micros(F.col(end), i_end_type, instant) / F.lit(int(bucket_us)))
    ivs = ivs.withColumn("__b0", b0).withColumn("__b1", b1)

    between = (F.col(point_ts) >= F.col(f"{start}{suffix}")) & (
        F.col(point_ts) <= F.col(f"{end}{suffix}")
    )
    i_proj = [F.col(c).alias(f"{c}{suffix}") for c in ipay_cols]

    iv = ivs.select(
        *keys,
        F.explode(F.sequence(F.col("__b0"), F.col("__b1"))).alias("__bkt"),
        *i_proj,
    )
    out = pts.join(iv, on=[*keys, "__bkt"], how="inner").where(between).drop("__bkt")
    return out.select(
        *[F.col(c) for c in points.columns],
        *[F.col(f"{c}{suffix}") for c in ipay_cols],
    )
