"""J9 as-of join (operators/asof.py): brute-force parity + plan shape.

SURVEY.md J9. The operator's union+window formulation is pinned against an
in-test pandas brute force on deterministic synthetic frames: equal-timestamp
inclusivity, tie → greatest tiebreak, inclusive tolerance boundary, no-match
nulls, multi-key, both directions. The driver row `asof_join_clicks_views`
additionally pins it against a DuckDB window-SQL oracle at sf0.01.
"""

import datetime as dt
import re

import pytest

from pyspark.sql import functions as F

from imposm2_spark.operators.asof import asof_join

T0 = dt.datetime(2024, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _brute(left_rows, right_rows, direction, tolerance_us=None):
    """Brute-force expected matches: list of (lid, matched right row or None).

    right_rows: (key, ts, rid). Ties on (key, ts) resolve to max rid.
    """
    out = {}
    for lkey, lts, lid in left_rows:
        cands = []
        for rkey, rts, rid in right_rows:
            if rkey != lkey:
                continue
            lag = (lts - rts if direction == "backward" else rts - lts).total_seconds() * 1e6
            if lag < 0:
                continue
            if tolerance_us is not None and lag > tolerance_us:
                continue
            cands.append((lag, -rid, rid, rts))
        if cands:
            lag, _, rid, rts = min(cands)
            out[lid] = (rid, rts)
        else:
            out[lid] = None
    return out


LEFT = [
    # (user, ts, click_id)
    (1, _ts(10), 100),
    (1, _ts(30), 101),  # equal-ts with right rid 12/13 (tie)
    (1, _ts(200), 102),  # far from everything (tolerance case)
    (2, _ts(5), 103),  # before every right row for user 2
    (3, _ts(50), 104),  # user with no right rows at all
]
RIGHT = [
    # (user, ts, view_id)
    (1, _ts(8), 10),
    (1, _ts(10), 11),  # equal to left 100's ts (inclusive match, backward)
    (1, _ts(30), 12),
    (1, _ts(30), 13),  # tie at equal (key, ts): 13 must win
    (2, _ts(7), 20),
    (2, _ts(9), 21),
]


def _spark_result(spark, direction, tolerance_us=None, tiebreak="rid"):
    left = _mk(spark, [(k, t, i) for k, t, i in LEFT], "key long, ts timestamp, lid long")
    right = _mk(spark, [(k, t, i) for k, t, i in RIGHT], "key long, ts timestamp, rid long")
    j = asof_join(
        left, right, on="key", direction=direction, tolerance_us=tolerance_us, tiebreak=tiebreak
    )
    return {r["lid"]: (r["rid_r"], r["ts_r"]) if r["rid_r"] is not None else None for r in j.collect()}


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_matches_brute_force(spark, direction):
    got = _spark_result(spark, direction)
    want = _brute(LEFT, RIGHT, direction)
    assert got == want
    # structural expectations that make the fixture meaningful
    if direction == "backward":
        assert got[100] == (11, _ts(10))  # equal-ts inclusive
        assert got[101] == (13, _ts(30))  # tie -> max tiebreak
        assert got[103] is None  # nothing at-or-before
    assert got[104] is None  # keyless user


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_tolerance_boundary_inclusive(spark, direction):
    # left 102 at minute 200; nearest backward right is minute 30 -> lag 170min.
    tol = int(170 * 60 * 1e6)
    got = _spark_result(spark, direction, tolerance_us=tol)
    want = _brute(LEFT, RIGHT, direction, tolerance_us=tol)
    assert got == want
    if direction == "backward":
        assert got[102] == (13, _ts(30))  # exactly at tolerance: kept
    got2 = _spark_result(spark, direction, tolerance_us=tol - 1)
    want2 = _brute(LEFT, RIGHT, direction, tolerance_us=tol - 1)
    assert got2 == want2
    if direction == "backward":
        assert got2[102] is None  # one microsecond past: nulled


def test_asof_multikey_and_default_tiebreak(spark):
    left = _mk(
        spark,
        [(1, "a", _ts(10), 1), (1, "b", _ts(10), 2)],
        "k1 long, k2 string, ts timestamp, lid long",
    )
    right = _mk(
        spark,
        [(1, "a", _ts(5), 10), (1, "b", _ts(6), 20), (1, "b", _ts(6), 21)],
        "k1 long, k2 string, ts timestamp, rid long",
    )
    j = asof_join(left, right, on=["k1", "k2"], direction="backward")
    got = {r["lid"]: r["rid_r"] for r in j.collect()}
    assert got[1] == 10  # (1,a) never sees (1,b)'s rows
    assert got[2] in (20, 21)  # default hash tiebreak: deterministic pick
    # determinism across partitionings of the same data
    j2 = asof_join(
        left.repartition(7), right.repartition(3), on=["k1", "k2"], direction="backward"
    )
    got2 = {r["lid"]: r["rid_r"] for r in j2.collect()}
    assert got == got2


def test_asof_left_rows_all_preserved_and_columns(spark):
    left = _mk(spark, [(k, t, i) for k, t, i in LEFT], "key long, ts timestamp, lid long")
    right = _mk(spark, [(k, t, i) for k, t, i in RIGHT], "key long, ts timestamp, rid long")
    j = asof_join(left, right, on="key", tiebreak="rid")
    assert j.columns == ["key", "ts", "lid", "ts_r", "rid_r"]
    assert j.count() == len(LEFT)  # LEFT-join semantics: no row loss


def test_asof_plan_single_exchange_no_nested_loop(spark):
    left = _mk(spark, [(k, t, i) for k, t, i in LEFT], "key long, ts timestamp, lid long")
    right = _mk(spark, [(k, t, i) for k, t, i in RIGHT], "key long, ts timestamp, rid long")
    j = asof_join(left, right, on="key", tiebreak="rid", tolerance_us=10**9)
    p = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
    # the 100 TB property: one hash exchange on the key, no join operator at all
    assert len(re.findall(r"\n\(\d+\) Exchange", p)) == 1
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_asof_rejects_bad_args(spark):
    left = _mk(spark, [(1, _ts(0), 1)], "key long, ts timestamp, lid long")
    right = _mk(spark, [(1, _ts(0), 2)], "key long, ts timestamp, rid long")
    with pytest.raises(ValueError):
        asof_join(left, right, on="key", direction="nearest")
    with pytest.raises(ValueError):
        asof_join(left, right, on="missing")
    with pytest.raises(ValueError):
        asof_join(left, right, on="key", tiebreak="nope")


def test_asof_rejects_output_name_collisions(spark):
    # right "lid" would suffix to "lid_r"; right "ts" suffixes to "ts_r" —
    # fine. But a right column whose suffixed name equals a left column must
    # fail loudly instead of emitting duplicate output names.
    left = _mk(spark, [(1, _ts(0), 1)], "key long, ts timestamp, lid_r long")
    right = _mk(spark, [(1, _ts(0), 2)], "key long, ts timestamp, lid long")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="key")
    # reserved internal names are rejected up front
    left2 = _mk(spark, [(1, _ts(0), 1)], "key long, ts timestamp, __tie long")
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left2, right.drop("lid"), on="key")


def test_asof_payloadless_left(spark):
    # a left side with only (key, ts) exercises the struct-pad branch
    left = _mk(spark, [(1, _ts(10))], "key long, ts timestamp")
    right = _mk(spark, [(1, _ts(5), 7)], "key long, ts timestamp, rid long")
    j = asof_join(left, right, on="key", tiebreak="rid")
    rows = j.collect()
    assert j.columns == ["key", "ts", "ts_r", "rid_r"]
    assert rows[0]["rid_r"] == 7


def test_asof_string_tiebreak_stays_deterministic(spark):
    # a non-numeric tiebreak must keep its own type (a long cast would null
    # it out and de-determinize tie resolution)
    left = _mk(spark, [(1, _ts(10), 1)], "key long, ts timestamp, lid long")
    right = _mk(
        spark,
        [(1, _ts(5), "alpha"), (1, _ts(5), "zeta"), (1, _ts(5), "mid")],
        "key long, ts timestamp, tag string",
    )
    j = asof_join(left, right, on="key", tiebreak="tag")
    assert [r["tag_r"] for r in j.collect()] == ["zeta"]


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_null_timestamps_never_match(spark, direction):
    """Contract (SQL comparison semantics, same as DuckDB ASOF JOIN): a
    null-ts right row matches NOTHING (pre-fix it sorted NULLS FIRST under
    the backward ordering and became every otherwise-unmatched left's
    phantom match), and a null-ts left row is emitted UNMATCHED (pre-fix the
    forward ordering put it after every right row and matched it to the
    earliest one). Null keys likewise: a left row with any null key is
    emitted unmatched, even when a right row has a null in the same key
    column (pre-fix the window's partitionBy grouped the nulls together and
    matched them)."""
    null_ts = (
        "key",
        "key long, ts timestamp, lid long",
        [
            (1, _ts(10), 400),   # only right for key 1 is null-ts: must be unmatched
            (2, None, 401),      # null-ts left with real rights: must be unmatched
        ],
        "key long, ts timestamp, rid long",
        [
            (1, None, 40),
            (2, _ts(5), 41),
            (2, _ts(15), 42),
            (2, None, 43),
        ],
        {400: (None, None), 401: (None, None)},
    )
    # The want is DuckDB 1.0.0's plain LEFT JOIN on the keys and the ts
    # inequality, nearest match kept. Its ASOF LEFT JOIN agrees on a NULL in
    # the first key column but matches lid 3's NULL k2 (lid 3 -> 300). Every
    # right row has a twin 10 minutes after the left rows, so each direction
    # has a candidate for every key.
    null_key = (
        ["k1", "k2"],
        "k1 long, k2 string, ts timestamp, lid long",
        [
            (None, "a", _ts(10), 1),
            (7, "a", _ts(10), 2),
            (7, None, _ts(10), 3),  # multi-key row with one NULL component
        ],
        "k1 long, k2 string, ts timestamp, rid long",
        [
            (None, "a", _ts(5), 100),
            (7, "a", _ts(5), 200),
            (7, None, _ts(5), 300),
            (None, "a", _ts(20), 101),
            (7, "a", _ts(20), 201),
            (7, None, _ts(20), 301),
        ],
        {
            1: (None, None),
            2: (200, _ts(5)) if direction == "backward" else (201, _ts(20)),
            3: (None, None),
        },
    )
    for on, lschema, lrows, rschema, rrows, want in (null_ts, null_key):
        left = _mk(spark, lrows, lschema)
        right = _mk(spark, rrows, rschema)
        got = {
            r["lid"]: (r["rid_r"], r["ts_r"])
            for r in asof_join(
                left, right, on=on, direction=direction, tiebreak="rid"
            ).collect()
        }
        assert got == want, (direction, on, got)


def test_dst_fallback_instant_buckets(spark):
    """For TIMESTAMP events under a DST session zone the match order is
    instant order: across the fall-back a right row EARLIER in instant time
    but LATER in wall-clock time is still the backward match (the interval
    join's twin test pins its bucket map on the same instants)."""
    utc = dt.timezone.utc

    def instant(h, m):  # 2024-11-03: US fall-back, 02:00 PDT -> 01:00 PST
        return dt.datetime(2024, 11, 3, h, m, tzinfo=utc)

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # left 09:15 UTC = 01:15 PST (second pass of the repeated hour);
        # right 08:30 UTC = 01:30 PDT is 45 min EARLIER in instant time but
        # LATER in wall-clock time.
        left = _mk(spark, [(1, instant(9, 15), 500)], "key long, ts timestamp, lid long")
        right = _mk(spark, [(1, instant(8, 30), 50)], "key long, ts timestamp, rid long")
        got = {
            r["lid"]: r["rid_r"]
            for r in asof_join(
                left, right, on="key", direction="backward", tiebreak="rid"
            ).collect()
        }
        assert got == {500: 50}, got
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_dst_tolerance_measured_in_instant_space(spark):
    """Regression: tolerance_us must be measured in instant micros for
    TIMESTAMP events. timestamp_diff subtracts wall-clock datetimes, so
    across the US fall-back a 45-minute instant gap reads as -15 minutes
    (wrongly accepted) and across spring-forward a 30-minute gap reads as
    90 minutes (wrongly rejected)."""
    utc = dt.timezone.utc
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # Fall-back (2024-11-03): left 09:15 UTC = 01:15 PST, right 08:30 UTC
        # = 01:30 PDT — instant gap 45 min, wall-clock gap -15 min. A 30-min
        # tolerance must REJECT (wall-clock math accepted it).
        fb_l = dt.datetime(2024, 11, 3, 9, 15, tzinfo=utc)
        fb_r = dt.datetime(2024, 11, 3, 8, 30, tzinfo=utc)
        left = _mk(spark, [(1, fb_l, 500)], "key long, ts timestamp, lid long")
        right = _mk(spark, [(1, fb_r, 50)], "key long, ts timestamp, rid long")
        got = {
            r["lid"]: r["rid_r"]
            for r in asof_join(
                left, right, on="key", direction="backward",
                tiebreak="rid", tolerance_us=30 * 60 * 1_000_000,
            ).collect()
        }
        assert got == {500: None}, got

        # Spring-forward (2024-03-10): left 10:15 UTC = 03:15 PDT, right
        # 09:45 UTC = 01:45 PST — instant gap 30 min, wall-clock gap 90 min.
        # A 45-min tolerance must ACCEPT (wall-clock math rejected it).
        sf_l = dt.datetime(2024, 3, 10, 10, 15, tzinfo=utc)
        sf_r = dt.datetime(2024, 3, 10, 9, 45, tzinfo=utc)
        left = _mk(spark, [(1, sf_l, 501)], "key long, ts timestamp, lid long")
        right = _mk(spark, [(1, sf_r, 51)], "key long, ts timestamp, rid long")
        got = {
            r["lid"]: r["rid_r"]
            for r in asof_join(
                left, right, on="key", direction="backward",
                tiebreak="rid", tolerance_us=45 * 60 * 1_000_000,
            ).collect()
        }
        assert got == {501: 51}, got
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
