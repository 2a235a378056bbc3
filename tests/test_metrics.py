"""A5 observe-based metrics: exact counts, no extra jobs, snapshot semantics."""

import pytest
from pyspark.sql import functions as F

from imposm2_spark.plans.metrics import Metrics

pytestmark = pytest.mark.spark


def test_observed_counts_and_extra_metrics(spark):
    mx = Metrics()
    df = spark.range(1000).select(
        F.col("id"), F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v")
    )
    df = mx.observed(df, "scan", extra={"nulls": F.count(F.when(F.col("v").isNull(), 1))})
    out = mx.observed(df.where(F.col("v").isNotNull()), "filtered")
    assert out.count() == 900
    snap = mx.snapshot()
    assert snap["scan"] == {"rows": 1000, "nulls": 100, **snap["scan"]}
    assert snap["scan"]["rows"] == 1000 and snap["scan"]["nulls"] == 100
    assert snap["filtered"]["rows"] == 900


def test_snapshot_nonblocking_for_unrun_points(spark):
    mx = Metrics()
    mx.observed(spark.range(10), "never_run")
    assert mx.snapshot()["never_run"] == {}  # returns, does not block


def test_duplicate_point_name_rejected(spark):
    mx = Metrics()
    mx.observed(spark.range(10), "p")
    with pytest.raises(ValueError):
        mx.observed(spark.range(10), "p")


def test_spine_with_metrics(spark):
    from hof_twins import staged_enrich
    from imposm2_spark.sources import testdata

    mx = Metrics()
    docs = testdata.synth_documents_web(
        testdata.load(spark, "/root/testdata/sf0.001", "documents")
    )
    enriched = mx.observed(
        staged_enrich(docs),
        "enriched",
        extra={"null_geo": F.count(F.when(F.col("lon").isNull(), 1))},
    )
    enriched.write.format("noop").mode("overwrite").save()
    snap = mx.snapshot()
    assert snap["enriched"]["rows"] == 500
    assert snap["enriched"]["null_geo"] == 0
