"""J9: as-of (nearest-timestamp) join — union-tag + one keyed window pass.

Graft addition (SURVEY.md J9). Spark has no native as-of join; the naive
formulation — an inequality join `l.key = r.key AND r.ts <= l.ts` followed by
a per-left max — plans as a broadcast-nested-loop (or an O(n_l * n_r)-per-key
sort-merge range join) and is fatal at 10^12 events. This operator instead:

  1. tags both inputs (`__side` 0 = right, 1 = left) and unions them into one
     frame carrying the key columns, the event timestamp, a right-payload
     struct (null on left rows) and a left-payload struct (null on right rows);
  2. runs ONE window pass partitioned by the join key, ordered by
     (ts, side, tiebreak), taking `last(right_payload, ignorenulls=True)` over
     the unbounded-preceding frame — each left row sees exactly the most
     recent right row at-or-before it (direction="backward"; "forward" flips
     the timestamp ordering to pick the earliest right row at-or-after);
  3. filters back to left rows and null-outs matches older than `tolerance_us`.

Cost shape: one hash exchange on the key + one sort — identical to a single
groupBy over the combined stream, independent of match fan-out. Right rows at
equal (key, ts) are resolved deterministically: the greatest `tiebreak` value
wins in both directions.

Skew: the window partitions by the join key, so one pathologically hot key
(say, 1% of 10^12 events on a single key) serializes into one task — the
same bound any per-key-ordered semantics has.

Semantics are pinned against a brute-force window-SQL oracle (DuckDB) in the
driver row `asof_join_clicks_views` and against an in-test pandas brute force
in tests/test_asof.py (equal-ts inclusivity, tolerance boundary, no-match
nulls, multi-key, both directions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

__all__ = ["asof_join"]


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance_us: int | None = None,
    tiebreak: str | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Join each left row to the nearest right row on the same key.

    direction="backward": nearest right with right_ts <= left_ts (inclusive).
    direction="forward":  nearest right with right_ts >= left_ts (inclusive).

    Null timestamps and null keys follow SQL comparison semantics (DuckDB
    ASOF JOIN behaves the same): a right row with a null timestamp or any
    null key never matches anything; a left row with a null timestamp or
    any null key is emitted unmatched.

    tolerance_us: if set, matches farther than this many microseconds from the
    left timestamp are nulled out (the left row is still emitted — this is a
    LEFT join; unmatched rows carry null right columns).

    tiebreak: right column deciding ties among right rows sharing (key, ts);
    the greatest value wins. Defaults to a deterministic hash of the right
    payload so equal-ts duplicates never make the output order-dependent.

    Returns all left columns, then the matched right timestamp as
    f"{right_ts}{suffix}", then every non-key right column (tiebreak included)
    suffixed with `suffix`.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be 'backward' or 'forward', got {direction!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if not keys:
        raise ValueError("asof_join requires at least one key column")
    for k in keys:
        if k not in left.columns or k not in right.columns:
            raise ValueError(f"join key {k!r} missing from one side")

    # "__rts" is the matched-timestamp field INSIDE the __r/__m struct: a
    # right payload column with that name would duplicate the struct field
    # and make the `__m.__rts` reads ambiguous deep in execution.
    reserved = {"__ts", "__side", "__tie", "__r", "__l", "__m", "__rts"}
    clash = reserved.intersection(left.columns).union(
        reserved.intersection(right.columns)
    )
    if clash:
        raise ValueError(f"column names {sorted(clash)} are reserved by asof_join")

    rpay_cols = [c for c in right.columns if c not in keys and c != right_ts]
    if tiebreak is not None and tiebreak not in rpay_cols:
        raise ValueError(f"tiebreak {tiebreak!r} is not a non-key right column")
    lpay_cols = [c for c in left.columns if c not in keys and c != left_ts]

    # A suffixed right column colliding with a left output column would emit
    # duplicate names that fail only on the NEXT select — fail loudly here.
    out_left = keys + [left_ts] + lpay_cols
    out_right = [f"{right_ts}{suffix}"] + [f"{c}{suffix}" for c in rpay_cols]
    dupes = sorted(set(out_left).intersection(out_right))
    if dupes:
        raise ValueError(
            f"suffixed right columns {dupes} collide with left output columns; "
            f"rename them or pass a different suffix"
        )

    tie_col: Column = (
        F.col(tiebreak)
        if tiebreak is not None
        else F.xxhash64(*([F.col(c) for c in rpay_cols] or [F.lit(0)]))
    )
    r_struct = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in rpay_cols])
    # F.struct() rejects zero fields: pad an all-key left side with a dummy
    # field that is never projected back out.
    l_struct = (
        F.struct(*[F.col(c) for c in lpay_cols])
        if lpay_cols
        else F.struct(F.lit(0).alias("__pad"))
    )
    r_type = right.select(r_struct.alias("s")).schema["s"].dataType
    l_type = left.select(l_struct.alias("s")).schema["s"].dataType
    # Keep the tiebreak's OWN type (a long cast would null out string/decimal
    # tiebreaks and silently de-determinize tie resolution).
    tie_type = right.select(tie_col.alias("t")).schema["t"].dataType

    # A null right timestamp satisfies neither right_ts <= left_ts nor
    # right_ts >= left_ts (SQL comparison semantics), so such rows can never
    # match — drop them BEFORE the union. Left unfiltered, a null-ts right
    # sorts NULLS FIRST under the backward ordering and becomes every
    # otherwise-unmatched left row's phantom match. Likewise a null key
    # equals nothing, but the window's partitionBy groups nulls together:
    # a right row with any null key would match the left rows with a null
    # in the same key column. Without such rights, a null-key left row
    # finds no match in its partition and is emitted unmatched.
    r_valid = F.col(right_ts).isNotNull()
    for k in keys:
        r_valid = r_valid & F.col(k).isNotNull()
    r_tagged = right.where(r_valid).select(
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        tie_col.alias("__tie"),
        r_struct.alias("__r"),
        F.lit(None).cast(l_type).alias("__l"),
    )
    l_tagged = left.select(
        *[F.col(k) for k in keys],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(tie_type).alias("__tie"),
        F.lit(None).cast(r_type).alias("__r"),
        l_struct.alias("__l"),
    )
    both = l_tagged.unionByName(r_tagged)

    backward = direction == "backward"
    ts_order = F.col("__ts").asc() if backward else F.col("__ts").desc()
    # At equal __ts the right row (side 0) sorts before the left row, so the
    # inclusive match sees it; among equal-ts rights, ascending __tie makes
    # last() pick the greatest tiebreak. Nulls-first keeps left rows' null
    # __tie from sorting after right rows.
    w = (
        W.partitionBy(*[F.col(k) for k in keys])
        .orderBy(ts_order, F.col("__side").asc(), F.col("__tie").asc_nulls_first())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    matched = F.last("__r", ignorenulls=True).over(w)
    out = both.withColumn("__m", matched).where(F.col("__side") == 1)

    # A null LEFT timestamp likewise matches nothing (the comparison is
    # unknown for every right row) — but under the forward ordering (desc,
    # NULLS LAST) a null-ts left row sorts after every right row and would
    # otherwise adopt the earliest one. The row is still emitted, unmatched
    # (LEFT-join contract).
    out = out.withColumn(
        "__m", F.when(F.col("__ts").isNotNull(), F.col("__m"))
    )

    if tolerance_us is not None:
        # The lag must be measured in the SAME space the match order lives
        # in (instant order for TIMESTAMP): timestamp_diff subtracts
        # wall-clock datetimes, so across a DST fall-back it reports a
        # 45-minute instant gap as -15 minutes (measured) — wrongly
        # accepting/rejecting DST-straddling matches for instant-typed
        # (TIMESTAMP) events. Diff unix micros for TIMESTAMP; NTZ compares
        # in wall-clock space, where timestamp_diff is the right measure
        # (unix_micros rejects NTZ, the common parquet event type).
        if isinstance(both.schema["__ts"].dataType, TimestampType):
            gap = lambda a, b: F.unix_micros(b) - F.unix_micros(a)  # noqa: E731
        else:
            gap = lambda a, b: F.timestamp_diff("MICROSECOND", a, b)  # noqa: E731
        lag = (
            gap(F.col("__m.__rts"), F.col("__ts"))
            if backward
            else gap(F.col("__ts"), F.col("__m.__rts"))
        )
        out = out.withColumn(
            "__m", F.when(lag <= F.lit(int(tolerance_us)), F.col("__m"))
        )

    proj = [F.col(k) for k in keys]
    proj.append(F.col("__ts").alias(left_ts))
    proj.extend(F.col(f"__l.{c}").alias(c) for c in lpay_cols)
    proj.append(F.col("__m.__rts").alias(f"{right_ts}{suffix}"))
    proj.extend(F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in rpay_cols)
    return out.select(*proj)
