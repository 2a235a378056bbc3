"""J10 interval join (operators/interval.py): brute-force parity + plan shape.

SURVEY.md J10. The bucketed explode+equi-join is pinned against an in-test
pandas-free brute force on a deterministic matrix (boundary inclusivity at
both endpoints, overlapping intervals, multi-bucket spans, null timestamps /
endpoints / keys, inverted intervals) for several bucket widths — every
width must be pair-identical. The driver row `interval_join_clicks_errors`
additionally pins it against a DuckDB BETWEEN-join oracle at sf0.01.
"""

import datetime as dt

import pytest

from imposm2_spark.operators.interval import interval_join

T0 = dt.datetime(2024, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


# (user, ts, point_id)
POINTS = [
    (1, _ts(10), 100),
    (1, _ts(60), 101),   # exactly on an interval start (inclusive)
    (1, _ts(120), 102),  # exactly on an interval end (inclusive)
    (1, _ts(500), 103),  # matches nothing
    (2, _ts(10), 104),   # same ts as user-1 point, different key
    (2, _ts(90), 105),   # inside two overlapping intervals
    (3, _ts(30), 106),   # key with no intervals
    (None, _ts(10), 107),  # null key: never joins
    (1, None, 108),        # null ts: never matches
]

# (user, start, end, interval_id)
INTERVALS = [
    (1, _ts(0), _ts(30), 200),     # covers 100
    (1, _ts(60), _ts(120), 201),   # covers 101 (start) and 102 (end)
    (1, _ts(119), _ts(121), 202),  # covers 102 only
    (2, _ts(0), _ts(100), 203),    # covers 104, 105
    (2, _ts(80), _ts(95), 204),    # covers 105 (overlap with 203)
    (2, _ts(-600), _ts(2000), 205),  # huge span: exercises the multi-bucket explode; covers 104, 105
    (1, _ts(50), _ts(40), 206),    # inverted: matches nothing
    (1, None, _ts(40), 207),       # null start: matches nothing
    (1, _ts(0), None, 208),        # null end: matches nothing
    (None, _ts(0), _ts(2000), 209),  # null key: never joins
]


def _brute():
    pairs = set()
    for (pk, pts_, pid) in POINTS:
        if pk is None or pts_ is None:
            continue
        for (ik, s, e, iid) in INTERVALS:
            if ik != pk or s is None or e is None:
                continue
            if s <= pts_ <= e:
                pairs.add((pid, iid))
    return pairs


def _frames(spark):
    p = spark.createDataFrame(POINTS, "user_id long, ts timestamp, point_id long")
    i = spark.createDataFrame(
        INTERVALS, "user_id long, start timestamp, end timestamp, interval_id long"
    )
    return p, i


BUCKET_MIN = 60_000_000  # one minute in microseconds


@pytest.mark.parametrize(
    "bucket_us",
    [
        30 * BUCKET_MIN,      # typical width: interval 205 explodes to 87 buckets
        5 * BUCKET_MIN,       # narrow: every interval spans several buckets
        10_000 * BUCKET_MIN,  # huge: everything lands in one bucket
    ],
)
def test_brute_parity_all_configs(spark, bucket_us):
    p, i = _frames(spark)
    got = interval_join(
        p, i, on="user_id", point_ts="ts", start="start", end="end",
        bucket_us=bucket_us,
    )
    rows = got.collect()
    pairs = [(r["point_id"], r["interval_id_i"]) for r in rows]
    # exactly-once: no pair may be emitted twice by the explode
    assert len(pairs) == len(set(pairs))
    assert set(pairs) == _brute()
    # full payload carried through on both sides
    assert set(got.columns) == {
        "user_id", "ts", "point_id", "start_i", "end_i", "interval_id_i"
    }


def test_multi_key_join(spark):
    p = spark.createDataFrame(
        [(1, "a", _ts(10), 1), (1, "b", _ts(10), 2)],
        "k1 long, k2 string, ts timestamp, pid long",
    )
    i = spark.createDataFrame(
        [(1, "a", _ts(0), _ts(20), 10)],
        "k1 long, k2 string, start timestamp, end timestamp, iid long",
    )
    rows = interval_join(p, i, on=["k1", "k2"]).collect()
    assert [(r["pid"], r["iid_i"]) for r in rows] == [(1, 10)]


def test_validation_errors(spark):
    p, i = _frames(spark)
    with pytest.raises(ValueError, match="at least one key"):
        interval_join(p, i, on=[])
    with pytest.raises(ValueError, match="missing from one side"):
        interval_join(p, i, on="nope")
    with pytest.raises(ValueError, match="bound column 'user_id' cannot also"):
        interval_join(p, i.withColumnRenamed("start", "s2"), on="user_id", start="user_id")
    with pytest.raises(ValueError, match="bucket_us"):
        interval_join(p, i, on="user_id", bucket_us=0)
    with pytest.raises(ValueError, match="reserved"):
        interval_join(p.withColumn("__bkt", p.point_id), i, on="user_id")
    with pytest.raises(ValueError, match="collide"):
        interval_join(
            p.withColumn("interval_id_i", p.point_id), i, on="user_id"
        )


def test_stream_static_parity(spark, tmp_path):
    """interval_join is STATELESS (explode + equi-join + filter), so the same
    call composes with Structured Streaming as a stream-static enrichment —
    the 100 TB shape for tagging an event stream with slowly-changing
    windows. Streamed output over two file micro-batches must equal the
    batch join over the same files."""
    import os

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    p, i = _frames(spark)
    pts_schema = "user_id long, ts timestamp, point_id long"
    # two micro-batches, split across the point set
    p1 = spark.createDataFrame(POINTS[:5], pts_schema)
    p2 = spark.createDataFrame(POINTS[5:], pts_schema)
    p1.write.parquet(landing + "/b1")
    p2.write.parquet(landing + "/b2")

    src = spark.readStream.schema(pts_schema).parquet(landing + "/*")
    joined = interval_join(src, i, on="user_id", bucket_us=30 * BUCKET_MIN)
    rows = []
    q = (
        joined.writeStream.foreachBatch(lambda df, _bid: rows.extend(df.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # awaitTermination returns False on timeout WITHOUT raising — assert so
    # a slow host fails loudly here, not as a bogus missing-pairs diff below.
    assert q.awaitTermination(120)

    got = sorted((r["point_id"], r["interval_id_i"]) for r in rows)
    want_rows = interval_join(
        spark.read.schema(pts_schema).parquet(landing + "/*"),
        i, on="user_id", bucket_us=30 * BUCKET_MIN,
    ).collect()
    want = sorted((r["point_id"], r["interval_id_i"]) for r in want_rows)
    assert got == want == sorted(_brute())


def test_dst_fallback_instant_buckets(spark):
    """Regression: bucket ids must live in INSTANT space for TIMESTAMP
    inputs. Under a DST session zone, wall-clock micros are non-monotone
    across the fall-back (the 01:00-02:00 wall hour repeats), so a point
    inside an interval straddling the transition bucketed BELOW the
    interval's first bucket and the (key, bucket) equi-join silently
    dropped the pair — while the exact BETWEEN refine (comparing instants)
    would have kept it."""
    utc = dt.timezone.utc

    def instant(h, m):  # 2024-11-03: US fall-back, 02:00 PDT -> 01:00 PST
        return dt.datetime(2024, 11, 3, h, m, tzinfo=utc)

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        # point 09:15 UTC = 01:15 PST (second pass of the repeated hour);
        # interval [08:30 UTC = 01:30 PDT, 10:30 UTC = 02:30 PST] contains it
        # in instant time but NOT in wall-clock time (01:15 < 01:30).
        p = spark.createDataFrame(
            [(1, instant(9, 15), 100)], "user_id long, ts timestamp, point_id long"
        )
        i = spark.createDataFrame(
            [(1, instant(8, 30), instant(10, 30), 200)],
            "user_id long, start timestamp, end timestamp, interval_id long",
        )
        for bucket_us in (15 * BUCKET_MIN, 60 * BUCKET_MIN, 7 * BUCKET_MIN):
            rows = interval_join(p, i, on="user_id", bucket_us=bucket_us).collect()
            assert [(r["point_id"], r["interval_id_i"]) for r in rows] == [(100, 200)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_plan_never_nested_loop(spark):
    """The scale contract: the main path is an equi-join on (key, bucket) —
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the plan, which
    is exactly what the naive BETWEEN formulation degrades to."""
    p, i = _frames(spark)
    plan = interval_join(p, i, on="user_id")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
