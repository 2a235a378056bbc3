"""J5 kNN join: k-ring expansion ≡ brute force, fallback path, determinism.

Reference basis: SURVEY.md J5 (graft addition — imposm2 delegated nearest-
neighbor to PostGIS `<->`); semantics defined in operators/knn.py docstring.
"""

import pytest
from pyspark.sql import functions as F

from imposm2_spark.operators import knn
from imposm2_spark.operators.knn import knn_join, knn_join_brute

pytestmark = pytest.mark.spark


def _points(spark, n=200, spread=60.0):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 9973) % 10_000 / 10_000.0 * spread - spread / 2).alias("lon"),
        ((F.col("id") * 7919) % 10_000 / 10_000.0 * spread - spread / 2).alias("lat"),
    )


def _sites(spark, n=30, spread=50.0):
    return spark.range(n).select(
        F.col("id").alias("site_id"),
        ((F.col("id") * 31) % 100 / 100.0 * spread - spread / 2).alias("slon"),
        ((F.col("id") * 17) % 100 / 100.0 * spread - spread / 2).alias("slat"),
    )


def _as_set(df):
    return {(r.doc_id, r.site_id, r.rank) for r in df.collect()}


def test_kring_equals_brute(spark):
    pts, sites = _points(spark), _sites(spark)
    brute = _as_set(knn_join_brute(pts, sites, k=4))
    for level in (4, 6, 8):
        kring = _as_set(knn_join(pts, sites, k=4, level=level))
        assert kring == brute, f"level={level}"


def test_desert_points_use_fallback(spark, monkeypatch):
    # all sites clustered near (0, 0); points near (150, 70) never satisfy the
    # ring bound at level 8 within rings (1, 2) -> exercised fallback is exact
    monkeypatch.setattr(knn, "RINGS", (1, 2))
    pts = spark.range(20).select(
        F.col("id").alias("doc_id"),
        (F.lit(150.0) + F.col("id") * 0.01).alias("lon"),
        (F.lit(70.0) + F.col("id") * 0.01).alias("lat"),
    )
    sites = _sites(spark, n=10, spread=2.0)
    got = _as_set(knn_join(pts, sites, k=3, level=8))
    want = _as_set(knn_join_brute(pts, sites, k=3))
    assert got == want
    assert len(got) == 20 * 3


def test_k_larger_than_sites(spark):
    pts = _points(spark, n=10)
    sites = _sites(spark, n=3)
    out = knn_join(pts, sites, k=5, level=5)
    counts = out.groupBy("doc_id").count().collect()
    assert all(r["count"] == 3 for r in counts)  # capped at |sites|, no dupes


def test_rank_is_dense_and_deterministic(spark):
    pts, sites = _points(spark, n=50), _sites(spark)
    out = knn_join(pts, sites, k=3, level=6)
    agg = out.groupBy("doc_id").agg(
        F.count("*").alias("n"), F.sum("rank").alias("s")
    ).collect()
    assert all(r.n == 3 and r.s == 6 for r in agg)
    again = _as_set(knn_join(pts, sites, k=3, level=6))
    assert again == _as_set(out)


def test_salted_shuffle_equals_brute(spark):
    """O10a: site-side salting on the shuffle path is a pure physical rewrite.
    200 sites packed into one level-6 cell (dense-cell skew) + the scattered
    baseline sites; salted shuffle-join output must be bit-identical to brute."""
    pts = _points(spark, n=300)
    dense = spark.range(200).select(
        (F.col("id") + 1000).alias("site_id"),
        (F.col("id") % 20 / 10000.0).alias("slon"),
        (F.floor(F.col("id") / 20) / 10000.0).alias("slat"),
    )
    sites = _sites(spark).unionByName(dense)
    brute = _as_set(knn_join_brute(pts, sites, k=3))
    salted = _as_set(
        knn_join(pts, sites, k=3, level=6, broadcast_sites=False, salt_factor=8)
    )
    assert salted == brute
    unsalted = _as_set(knn_join(pts, sites, k=3, level=6, broadcast_sites=False))
    assert unsalted == brute


def test_knn_cache_lifecycle(spark, monkeypatch):
    """r5 contract (r4 verdict ask #6): knn_join is eager by design, returns
    a persisted, already-materialized frame, and releases every per-round
    intermediate cache before returning — after the caller's
    result.unpersist() the operator has left ZERO persisted RDDs behind.
    Covers both exit paths: early frontier-empty and the brute fallback."""

    def persistent_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())

    # path 1: frontier empties within the rings
    before = persistent_ids()
    res = knn_join(_points(spark), _sites(spark), k=4, level=4)
    assert res.is_cached
    assert len(res.collect()) > 0  # consume from cache
    res.unpersist()
    # subset, not equality: Spark's CacheManager dedups identical plans, so
    # a sibling test's cache can be shared-then-released here — what must
    # hold is that knn_join leaves NOTHING NEW behind
    assert persistent_ids() <= before

    # path 2: desert points force the fallback union branch
    pts = spark.range(10).select(
        F.col("id").alias("doc_id"),
        (F.lit(150.0) + F.col("id") * 0.01).alias("lon"),
        (F.lit(70.0) + F.col("id") * 0.01).alias("lat"),
    )
    before = persistent_ids()
    monkeypatch.setattr(knn, "RINGS", (1, 2))
    res = knn_join(pts, _sites(spark, n=10, spread=2.0), k=3, level=8)
    assert res.is_cached
    res.unpersist()
    assert persistent_ids() <= before


def test_registry_knn_query_releases_predecessor_cache(spark):
    """Review r5: knn_join returns a persisted frame the caller owns, and
    the registry query is that caller — repeated bench/oracle invocations
    must release the predecessor's cache (bounded at ONE live knn result),
    not pin one materialized result per rep."""
    from imposm2_spark.plans import registry

    def persistent_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    q = registry.queries()["knn_join_3"]
    before = persistent_ids()
    n1 = q(spark, "/root/testdata/sf0.001").count()
    grew1 = persistent_ids() - before
    n2 = q(spark, "/root/testdata/sf0.001").count()
    grew2 = persistent_ids() - before
    assert n1 == n2 > 0
    # the second invocation released the first's cache: the net-new set
    # never exceeds one knn result (pre-fix it grew by one per invocation)
    assert len(grew2) <= max(len(grew1), 1)


def test_knn_fallback_respects_broadcast_flag(spark, monkeypatch):
    """Review r5: the straggler fallback force-broadcast the site table even
    under broadcast_sites=False (chosen precisely when the site side is too
    big to broadcast). Both settings must produce brute-identical results on
    a site-desert fixture that forces the fallback."""
    points = spark.createDataFrame([(1, 0.0, 0.0), (2, 0.1, 0.1)],
                                   "doc_id long, lon double, lat double")
    # sites far outside every ring at level 6 -> fallback path runs
    sites = spark.createDataFrame([(10, 140.0, -30.0), (11, 150.0, -35.0)],
                                  "site_id long, slon double, slat double")
    brute = {tuple(r) for r in knn_join_brute(points, sites, k=1).collect()}
    monkeypatch.setattr(knn, "RINGS", (1,))
    for bcast in (True, False):
        got = {tuple(r) for r in knn_join(
            points, sites, k=1, broadcast_sites=bcast).collect()}
        assert got == brute, bcast
