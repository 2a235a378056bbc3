"""T28 streaming face (streaming/profile.py): batch/stream parity of the
continuous sketch profile, state survival across a query restart, and the
mergeable-sketch corpus-total reconstruction (union of per-group sketches ==
the batch operator's 'ALL' row, no rescan)."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from imposm2_spark.functions.sketches import sketch_profile
from imposm2_spark.streaming.profile import stream_profile

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def _write_halves(spark, src_dir):
    docs = _docs(spark)
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    a.write.parquet(f"{src_dir}/b0")
    return b


def _start(spark, src_dir, ckpt, name):
    schema = _docs(spark).schema
    stream = spark.readStream.schema(schema).parquet(f"{src_dir}/*")
    prof = stream_profile(stream)
    return (
        prof.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def _batch_rows(spark):
    """The batch operator's per-group rows (the streaming face emits no
    'ALL' rollup row by design)."""
    return {
        r["group_key"]: r
        for r in sketch_profile(_docs(spark)).collect()
        if r["group_key"] != "ALL"
    }


def test_stream_profile_matches_batch_and_survives_restart(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    name = f"prof_{uuid.uuid4().hex[:8]}"
    second_half = _write_halves(spark, src)

    # Drain batch 0 (half the corpus), stop the query.
    q = _start(spark, src, ckpt, name)
    q.awaitTermination(120)
    mid = {r["group_key"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert mid and all(r["n_docs"] >= 1 for r in mid.values())

    # Land the second half AFTER the stop; restart from the same checkpoint
    # — the sketch state must resume, not restart from zero.
    second_half.write.parquet(f"{src}/b1")
    q2 = _start(spark, src, ckpt, name)
    q2.awaitTermination(120)
    got = {r["group_key"]: r for r in spark.sql(f"SELECT * FROM {name}").collect()}

    exp = _batch_rows(spark)
    assert set(got) == set(exp)
    for g, er in exp.items():
        gr = got[g]
        for c in ("n_docs", "distinct_lang", "distinct_text",
                  "p50_n_chars", "p90_n_chars"):
            assert gr[c] == er[c], (g, c, gr[c], er[c])


def test_stream_profile_sketches_reconstruct_corpus_total(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ck")
    name = f"prof_{uuid.uuid4().hex[:8]}"
    second_half = _write_halves(spark, src)
    second_half.write.parquet(f"{src}/b1")

    q = _start(spark, src, ckpt, name)
    q.awaitTermination(120)

    # Union the emitted per-group sketches into corpus totals WITHOUT
    # rescanning the corpus — the mergeable-sketch contract.
    latest = spark.sql(f"SELECT * FROM {name}")
    total = latest.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sketch_text))").alias("dt"),
        F.sum("n_docs").alias("n"),
    ).collect()[0]
    batch_all = next(
        r for r in sketch_profile(_docs(spark)).collect() if r["group_key"] == "ALL"
    )
    assert total["n"] == batch_all["n_docs"]
    assert total["dt"] == batch_all["distinct_text"]

    # KLL merge across groups reproduces the corpus median exactly too.
    merged_p50 = latest.agg(
        F.expr(
            "kll_sketch_get_quantile_double("
            "reduce(collect_list(sketch_n_chars_kll), CAST(NULL AS BINARY),"
            " (acc, x) -> CASE WHEN acc IS NULL THEN x"
            "             ELSE kll_sketch_merge_double(acc, x) END,"
            " acc -> acc), 0.5)"
        ).alias("p50")
    ).collect()[0]["p50"]
    assert merged_p50 == batch_all["p50_n_chars"]


def test_stream_profile_validation(spark):
    docs = _docs(spark)
    import pytest

    with pytest.raises(ValueError, match="missing"):
        stream_profile(docs.drop("lang"))
    with pytest.raises(ValueError, match="quantile"):
        stream_profile(docs, quantiles=(2.0,))
