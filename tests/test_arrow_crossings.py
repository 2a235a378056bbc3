"""Batch invariance of the Arrow crossings on dirty rows: each operator that
hands Arrow batches to Python returns the same rows at one row per Arrow
batch as at the session's batch size, on input with NULL and empty values
(NULL / empty text, a NULL vector and a NULL vector element, a NULL media
meta struct and a NULL payload)."""

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imposm2_spark.functions import multimodal as mm
from imposm2_spark.functions.classify import score_quality
from imposm2_spark.functions.text_analysis import doc_stats_udf
from imposm2_spark.operators import ann, curation, dedup

pytestmark = pytest.mark.spark

TEXTS = [
    (1, "the cat sat on the mat and the cat sat on the mat again today"),
    (2, None),
    (3, ""),
    (4, "the cat sat on the mat and the cat sat on the mat again today"),
    (5, "  Über straße café naïve déjà vu the cat sat on the mat  "),
    (6, "a b"),
    (7, "one two three four five six seven eight nine ten eleven twelve thirteen"),
]


def _docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def _vectors(spark):
    rnd = random.Random(5)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    rows += [(100, None), (101, [None] + [0.5] * 63), (102, [0.0] * 64)]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    emb = spark.createDataFrame(rows, schema)
    return emb, emb.where("vec_id < 4 OR vec_id >= 100")


def _media(spark):
    dirty = spark.createDataFrame(
        [(200, None, None), (201, b"\x00\x01\x02", None),
         (202, None, ("image", 8, 8, "bmp", 0))],
        mm.MEDIA_SCHEMA,
    )
    return mm.synth_media(_docs(spark)).unionByName(dirty)


CASES = {
    "simhash_clusters": lambda s: dedup.simhash_clusters(_docs(s)),
    "score_quality": lambda s: score_quality(
        _docs(s), {"the": 5, "cat": 7, "cat_sat": 11, "über": 3}, bias_milli=-2
    ),
    "doc_stats_udf": lambda s: _docs(s).select(
        "doc_id", doc_stats_udf()(F.col("text")).alias("s")
    ).select("doc_id", "s.*"),
    "repetition_metrics": lambda s: curation.repetition_metrics(_docs(s)),
    "pack_sequences": lambda s: curation.pack_sequences(_docs(s), budget=12, n_shards=2),
    "contamination_hits": lambda s: curation.contamination_hits(
        _docs(s), _docs(s).where("doc_id IN (4, 7)"), n=3
    ),
    "cosine_topk_brute": lambda s: ann.cosine_topk_brute(*_vectors(s), k=3),
    "cosine_topk_lsh": lambda s: ann.cosine_topk_lsh(*_vectors(s), k=3),
    "cosine_topk_ivf": lambda s: ann.cosine_topk_ivf(*_vectors(s), k=3),
    "media_features": lambda s: mm.media_features(_media(s)),
    "frame_sample": lambda s: mm.frame_sample(_media(s), frame_bytes=32, every=2),
}


def _rows(df):
    def freeze(v):
        return tuple(map(freeze, v)) if isinstance(v, list) else v

    return sorted((tuple(map(freeze, r)) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(CASES))
def test_dirty_rows_batch_invariant(spark, name):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = _rows(CASES[name](spark))
    orig = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        one = _rows(CASES[name](spark))
    finally:
        spark.conf.set(key, orig)
    assert default and one == default
