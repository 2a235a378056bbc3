"""Dedup + similarity-search operators: recall on planted dups, invariance.

Covers the approximate (rows-only-oracle) paths: MinHash-LSH recall against
brute-force Jaccard ground truth, embedding-LSH recall on planted near-dups,
SimHash behavior, multimodal batch-shape invariance.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

pytestmark = pytest.mark.spark

_VOCAB = (
    "the quick brown fox jumps over lazy dog table scan hash join sort merge "
    "filter spark batch row value key window part line order agg"
).split()


def _corpus(spark, n=120, dup_every=10):
    """Deterministic texts; every dup_every-th doc is a near-copy of doc i-1
    (one token changed) and every 2*dup_every-th an exact copy."""
    rows = []
    for i in range(n):
        words = [_VOCAB[(i * 7 + j * 13) % len(_VOCAB)] for j in range(30)]
        if i % (2 * dup_every) == 1 and i > 1:
            base = [_VOCAB[((i - 1) * 7 + j * 13) % len(_VOCAB)] for j in range(30)]
            words = base  # exact copy of i-1
        elif i % dup_every == 1 and i > 1:
            base = [_VOCAB[((i - 1) * 7 + j * 13) % len(_VOCAB)] for j in range(30)]
            base[15] = "changed"
            words = base  # near copy of i-1
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _brute_jaccard_pairs(df, threshold):
    from imposm2_spark.operators.dedup import ngram_jaccard_pairs

    ids = df.select("doc_id")
    pairs = ids.select(F.col("doc_id").alias("doc_a")).join(
        ids.select(F.col("doc_id").alias("doc_b")), F.col("doc_b") > F.col("doc_a")
    )
    out = ngram_jaccard_pairs(df, pairs)
    return {(r.doc_a, r.doc_b) for r in out.where(F.col("jaccard") >= threshold).collect()}


def test_minhash_lsh_recall_and_precision(spark):
    from imposm2_spark.operators.dedup import minhash_lsh_pairs

    docs = _corpus(spark)
    truth = _brute_jaccard_pairs(docs, 0.5)
    assert len(truth) >= 10  # fixture actually plants dups
    got = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, threshold=0.5).collect()}
    # precision is exact by construction (verify step); recall should be high
    assert got <= truth
    assert len(got) / len(truth) >= 0.9


def test_minhash_max_bucket_drops_boilerplate(spark):
    from imposm2_spark.operators.dedup import minhash_lsh_pairs

    same = spark.createDataFrame(
        [(i, "all the same boilerplate text body here") for i in range(50)],
        ["doc_id", "text"],
    )
    n_all = minhash_lsh_pairs(same, threshold=0.5, max_bucket=None).count()
    assert n_all == 50 * 49 // 2
    n_capped = minhash_lsh_pairs(same, threshold=0.5, max_bucket=10).count()
    assert n_capped == 0  # boilerplate bucket dropped, not exploded


@pytest.mark.parametrize("max_bucket", [None, 2, 10_000])
def test_minhash_lsh_pairs_matches_join_twin(spark, max_bucket):
    """The grouped per-bucket kernel returns the flat join composition's
    pair set with the same 9-dp Jaccard, capped or not, on the sf0.001
    documents plus a near-dup variant of each."""
    from conftest import SF_SMOKE
    from hof_twins import minhash_lsh_pairs_join
    from imposm2_spark.operators.dedup import minhash_lsh_pairs
    from imposm2_spark.sources import testdata

    docs = testdata.load(spark, SF_SMOKE, "documents").select("doc_id", "text")
    variants = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" dup")).alias("text"),
    )
    corpus = docs.unionByName(variants)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = rows(minhash_lsh_pairs(corpus, max_bucket=max_bucket))
    assert got == rows(minhash_lsh_pairs_join(corpus, max_bucket=max_bucket))
    assert got or max_bucket == 2


def test_minhash_bucket_split_across_arrow_batches(spark):
    """Buckets of 50 identical docs reach the pair kernel in 7-row Arrow
    batches: a bucket carried across batches still yields all its pairs,
    and the cap still drops it whole."""
    from imposm2_spark.operators.dedup import minhash_lsh_pairs

    same = spark.createDataFrame(
        [(i, "all the same boilerplate text body here") for i in range(50)],
        ["doc_id", "text"],
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        assert minhash_lsh_pairs(same, threshold=0.5, max_bucket=None).count() == 1225
        assert minhash_lsh_pairs(same, threshold=0.5, max_bucket=10).count() == 0
    finally:
        spark.conf.set(key, orig)


def test_simhash_identical_texts_cluster(spark):
    from hof_twins import simhash
    from imposm2_spark.operators.dedup import simhash_clusters

    docs = _corpus(spark)
    clusters = simhash_clusters(docs).collect()
    assert len(clusters) >= 1  # exact copies share fingerprints
    # near-copies have small hamming distance
    fp = docs.select("doc_id", simhash(F.col("text")).alias("s"))
    vals = {r.doc_id: r.s for r in fp.collect()}
    near = [(i, i - 1) for i in range(2, 120) if i % 10 == 1 and i % 20 != 1]
    for a, b in near:
        ham = bin(vals[a] ^ vals[b]).count("1")
        assert ham <= 8, f"near-dup pair ({a},{b}) hamming {ham}"


def _emb_df(spark, n=300, dim=64, n_dup_pairs=20):
    """Planted near-dup pairs (0,1), (2,3), ... (2p, 2p+1): odd rows are tiny
    perturbations of the PRECEDING emitted row (cosine ~0.9999)."""
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    rows = []
    finals = []
    for i in range(n):
        v = base[i].copy()
        if i % 2 == 1 and i < 2 * n_dup_pairs:
            v = finals[i - 1] + rng.standard_normal(dim).astype(np.float32) * 0.01
        finals.append(v)
        rows.append((i, [float(x) for x in v]))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_embedding_neardup_lsh_finds_planted(spark):
    from imposm2_spark.operators.ann import embedding_neardup_lsh

    emb = _emb_df(spark)
    got = {(r.vec_a, r.vec_b) for r in embedding_neardup_lsh(emb, threshold=0.95).collect()}
    planted = {(2 * p, 2 * p + 1) for p in range(20)}
    # exact-signature buckets: only hamming-0 pairs collide (~86% of planted
    # at sim 0.9999 with 16 planes) — recall gate reflects that
    assert len(got & planted) / len(planted) >= 0.7
    assert all(b > a for a, b in got)  # verify step: no malformed pairs


def test_ann_lsh_recall_vs_brute(spark):
    from imposm2_spark.operators.ann import cosine_topk_brute, cosine_topk_lsh

    emb = _emb_df(spark)
    queries = emb.where(F.col("vec_id") < 16)  # 8 planted pairs among queries
    brute = {(r.qid, r.vec_id) for r in cosine_topk_brute(emb, queries, k=1).collect()}
    approx = {(r.qid, r.vec_id) for r in cosine_topk_lsh(emb, queries, k=1).collect()}
    # hamming-1 multiprobe: near-dup partners (hamming <= 1) are candidates
    hits = len(brute & approx)
    assert hits / len(brute) >= 0.8
    assert all(q < 16 for q, _ in approx)


def test_ann_ivf_exact_when_probe_all(spark):
    """nprobe == n_lists must degenerate to exact brute-force: every corpus
    vector is in exactly one list and the query probes all of them."""
    from imposm2_spark.operators.ann import N_LISTS, cosine_topk_brute, cosine_topk_ivf

    emb = _emb_df(spark)
    queries = emb.where(F.col("vec_id") < 16)
    brute = {(r.qid, r.vec_id, r.rank) for r in cosine_topk_brute(emb, queries, k=3).collect()}
    ivf = {(r.qid, r.vec_id, r.rank)
           for r in cosine_topk_ivf(emb, queries, k=3, nprobe=N_LISTS).collect()}
    assert ivf == brute


def test_ann_ivf_recall_vs_brute(spark):
    from imposm2_spark.operators.ann import cosine_topk_brute, cosine_topk_ivf

    emb = _emb_df(spark)
    queries = emb.where(F.col("vec_id") < 16)  # 8 planted pairs among queries
    brute = {(r.qid, r.vec_id) for r in cosine_topk_brute(emb, queries, k=1).collect()}
    approx = {(r.qid, r.vec_id)
              for r in cosine_topk_ivf(emb, queries, k=1, nprobe=4).collect()}
    # a ~0.9999-cosine partner lands in the same (or a probed) coarse list
    assert len(brute & approx) / len(brute) >= 0.8


def test_ann_ivf_indexed_matches_and_prunes(spark, tmp_path):
    """Persisted index: same rows as the in-memory path at equal nprobe, and
    the parquet scan is partition-pruned to the probe lists."""
    from imposm2_spark.operators.ann import (
        cosine_topk_ivf,
        cosine_topk_ivf_indexed,
        train_centroids,
        write_ivf_index,
    )

    emb = _emb_df(spark)
    queries = emb.where(F.col("vec_id") < 16)
    path = str(tmp_path / "ivf_index")
    cents = write_ivf_index(emb, path)
    indexed = cosine_topk_ivf_indexed(spark, path, queries, k=3, nprobe=4)
    mem = cosine_topk_ivf(emb, queries, k=3, nprobe=4, centroids=cents)
    assert {tuple(r) for r in indexed.collect()} == {tuple(r) for r in mem.collect()}
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_list" in plan.split("PartitionFilters")[1][:200]
    # centroids round-trip with the index
    reread = train_centroids(emb)
    assert np.allclose(cents, reread)


def test_ivf_centroids_deterministic_unit_norm(spark):
    from imposm2_spark.operators.ann import train_centroids

    emb = _emb_df(spark)
    a = train_centroids(emb)
    b = train_centroids(emb)
    assert np.array_equal(a, b)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0)
    assert a.shape == (16, 64)


def test_cc_does_not_release_caller_checkpoint(spark):
    """Regression: the per-round checkpoint-storage release must never walk
    into the CALLER's plan — a localCheckpoint'ed pairs frame passed in must
    stay readable after the call."""
    from imposm2_spark.operators.dedup import dedup_connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    ).localCheckpoint(eager=True)
    out = dedup_connected_components(pairs).collect()
    assert len(out) == 5
    # caller's checkpointed frame still alive (blocks not unpersisted)
    assert pairs.count() == 3
    assert pairs.count() == 3


def test_dedup_connected_components_vs_union_find(spark):
    """Min-label propagation matches a driver-side union-find on a graph with
    a long chain (diameter > 1 forces multiple propagation rounds), a
    triangle, an isolated pair, and ids deliberately out of order."""
    from imposm2_spark.operators.dedup import dedup_connected_components

    pairs = [
        (10, 11), (11, 12), (12, 13), (13, 14), (14, 15),  # chain, diameter 5
        (30, 31), (31, 32), (30, 32),                      # triangle
        (50, 51),                                          # pair
        (99, 7),                                           # min label on the right
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup_connected_components(df).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in parent}
    assert got == expected
    assert got[15] == 10 and got[7] == 7 and got[99] == 7


def test_dedup_connected_components_deep_chain_converges(spark, monkeypatch):
    """A diameter-40 chain (chained boilerplate is exactly how near-dup graphs
    grow long paths) must produce correct labels well inside the round cap:
    pointer doubling makes rounds O(log diameter), and the operator must
    RAISE — never return silently wrong clusters — if the cap is hit."""
    import pytest as _pytest

    from imposm2_spark.operators import dedup
    from imposm2_spark.operators.dedup import dedup_connected_components

    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)  # force the loop
    pairs = [(i, i + 1) for i in range(100, 140)]  # one chain, diameter 40
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in dedup_connected_components(df).collect()}
    assert got == {i: 100 for i in range(100, 141)}

    # under-capped run fails LOUDLY instead of emitting under-merged labels
    monkeypatch.setattr(dedup, "MAX_ROUNDS", 2)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_connected_components(df)


def test_multimodal_features_batch_invariance(spark):
    from imposm2_spark.functions.multimodal import media_features, synth_media

    docs = _corpus(spark, n=60)
    media = synth_media(docs)
    a = media_features(media.repartition(1)).collect()
    b = media_features(media.repartition(7)).collect()
    norm = lambda rows: sorted((r.media_id, r.kind, r.n_bytes, tuple(r.features)) for r in rows)
    assert norm(a) == norm(b)
    by_kind = {r.kind for r in a}
    assert by_kind == {"image", "audio", "video"}
    assert all(len(r.features) == 16 for r in a)
    # video rows use the byte-histogram fallback (sums to 1); image/audio are
    # real decoded pixel/sample statistics
    for r in a:
        if r.kind == "video":
            assert abs(sum(r.features) - 1.0) < 1e-9


def test_multimodal_frame_sample_shape(spark):
    from imposm2_spark.functions.multimodal import frame_sample, synth_media

    docs = _corpus(spark, n=20)
    frames = frame_sample(synth_media(docs), frame_bytes=32, every=2).collect()
    assert all(r.frame_idx % 2 == 0 for r in frames)
    assert all(len(r.frame) <= 32 for r in frames)
    assert len({r.media_id for r in frames}) == 20


def test_decode_media_dispatch():
    """bmp/wav decode for real (kernels.codecs); library-dependent codecs
    still raise NotImplementedError (none present in this container)."""
    import numpy as np

    from imposm2_spark.functions.multimodal import decode_media
    from imposm2_spark.kernels import codecs

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(decode_media(codecs.encode_bmp(px), "bmp"), px)
    s = np.array([0, 1000, -1000, 32767, -32768], dtype=np.int16)
    out = decode_media(codecs.encode_wav(s), "wav")
    assert np.allclose(out * 32768.0, s)
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG", "png")


def test_cc_reliable_checkpoint_mode(spark, tmp_path, monkeypatch):
    """r4: production checkpoint rule. With a checkpoint dir set, the CC
    loop uses reliable .checkpoint() (executor-loss-safe) and produces
    identical clusters. Checkpoint files actually land in the dir."""
    import os

    from imposm2_spark.operators import dedup
    from imposm2_spark.operators.dedup import dedup_connected_components

    monkeypatch.setattr(dedup, "DRIVER_MAX_EDGES", 0)  # force the loop
    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    base = {r.doc_id: r.cluster_id for r in dedup_connected_components(df).collect()}

    ckpt = str(tmp_path / "cc_ckpt")
    sc = spark.sparkContext
    try:
        sc.setCheckpointDir(ckpt)
        reliable = {
            r.doc_id: r.cluster_id for r in dedup_connected_components(df).collect()
        }
        assert reliable == base
        assert any(os.scandir(ckpt))  # checkpoint files actually written
        # superseded round checkpoints are DELETED (review r4): only the
        # final round's rdd-* dir may remain, not one per round
        rdd_dirs = [
            d for root, dirs, _ in os.walk(ckpt) for d in dirs
            if d.startswith("rdd-")
        ]
        assert len(rdd_dirs) <= 1, rdd_dirs
    finally:
        # unset so the session-scoped fixture doesn't leak reliable mode into
        # later tests (Scala setCheckpointDir(null) clears it)
        sc._jsc.sc().setCheckpointDir(None)
        assert sc.getCheckpointDir() is None


def test_ivf_append_equals_full_rebuild(spark, tmp_path):
    """r5 incremental maintenance: base-write + append against the frozen
    centroids must land the SAME rows in the SAME list partitions as one
    full write with those centroids, and indexed search over the appended
    index must equal search over the full rebuild (and, at
    nprobe == n_lists, the exact brute top-k)."""
    from imposm2_spark.operators.ann import (
        N_LISTS,
        append_ivf_index,
        cosine_topk_brute,
        cosine_topk_ivf_indexed,
        train_centroids,
        write_ivf_index,
    )

    emb = _emb_df(spark)
    base = emb.where(F.col("vec_id") % 3 != 1)
    tail = emb.where(F.col("vec_id") % 3 == 1)
    cents = train_centroids(base)

    p_full = str(tmp_path / "full")
    p_inc = str(tmp_path / "inc")
    write_ivf_index(emb, p_full, centroids=cents)
    write_ivf_index(base, p_inc, centroids=cents)
    report = append_ivf_index(spark, p_inc, tail)
    assert report["n_appended"] == tail.count()
    # staging is crash-recovery scaffolding: a SUCCESSFUL append removes it
    # (leaving it would duplicate every appended batch on disk forever)
    import os
    assert not os.path.exists(p_inc + "__staging__")

    full_rows = {(r.vec_id, r._list) for r in spark.read.parquet(p_full).collect()}
    inc_rows = {(r.vec_id, r._list) for r in spark.read.parquet(p_inc).collect()}
    assert inc_rows == full_rows

    queries = emb.where(F.col("vec_id") < 16)
    got = {tuple(r) for r in
           cosine_topk_ivf_indexed(spark, p_inc, queries, k=3, nprobe=N_LISTS).collect()}
    rebuilt = {tuple(r) for r in
               cosine_topk_ivf_indexed(spark, p_full, queries, k=3, nprobe=N_LISTS).collect()}
    brute = {tuple(r) for r in cosine_topk_brute(emb, queries, k=3).collect()}
    assert got == rebuilt == brute

    # sidecar stats reflect the union: a second no-op-sized append sees the
    # full corpus count
    r2 = append_ivf_index(spark, p_inc, tail.limit(0))
    assert r2["n_appended"] == 0
    meta = spark.read.parquet(p_inc + "_centroids").collect()
    assert sum(r.n for r in meta) == emb.count()


def test_ivf_append_drift_metric(spark, tmp_path):
    """Drift accounting: appending in-distribution vectors keeps cosine ~1
    and no retrain flag below the volume cap; appending a large
    shifted-distribution batch trips the recommendation (either via the
    drift floor or the appended-fraction cap)."""
    from imposm2_spark.operators.ann import append_ivf_index, write_ivf_index

    emb = _emb_df(spark, n=200)
    path = str(tmp_path / "idx")
    write_ivf_index(emb, path)

    same = _emb_df(spark, n=200).where(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + 1000
    )
    r1 = append_ivf_index(spark, path, same)
    assert r1["n_appended"] == 20
    assert not r1["retrain_recommended"], r1
    assert r1["frac_appended"] < 0.5

    # 3x the base volume, all pointing along a single fixed direction the
    # training distribution never favored -> fraction cap trips for sure,
    # and populated-list means move away from their frozen centroids
    shifted = _emb_df(spark, n=200).withColumn(
        "vec_id", F.col("vec_id") + 2000
    ).withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x * F.lit(0.05) + F.lit(3.0)),
    )
    big = shifted.unionByName(
        shifted.withColumn("vec_id", F.col("vec_id") + 10000)
    ).unionByName(shifted.withColumn("vec_id", F.col("vec_id") + 20000))
    r2 = append_ivf_index(spark, path, big)
    assert r2["retrain_recommended"], r2
    assert r2["frac_appended"] > 0.5


def test_ivf_append_query_unique_dir_and_predecessor_gc(spark):
    """Review r5: q_ann_ivf_append builds its index in a UNIQUE per-invocation
    temp dir (a fixed shared path races concurrent runs: one run's overwrite
    deletes the index under another's lazy scan) and GCs the predecessor's
    dir on the next invocation — tmp litter stays bounded at one live index."""
    import os

    from imposm2_spark.plans import registry

    q = registry.queries()["ann_ivf_family"]
    n1 = q(spark, "/root/testdata/sf0.001").count()
    (d1,) = registry._IVF_APPEND_DIRS
    assert os.path.isdir(d1)
    n2 = q(spark, "/root/testdata/sf0.001").count()
    (d2,) = registry._IVF_APPEND_DIRS
    assert d2 != d1
    assert os.path.isdir(d2) and not os.path.exists(d1)
    # the SIBLING dirs too: the centroid sidecar and (if the append crashed
    # before its success-path cleanup) the staged batch copy
    assert not os.path.exists(d1 + "_centroids")
    assert not os.path.exists(d1 + "__staging__")
    assert n1 == n2 > 0


def test_ivf_append_pins_one_evaluation_and_leaves_no_cache(spark, tmp_path):
    """Review r5: append_ivf_index must evaluate the assigned batch ONCE for
    both the data append and the sidecar stats — a nondeterministic new_rows
    lineage, evaluated once for the write and again for the stats (the
    pre-fix shape), would let the sidecar describe vectors that were never
    appended. The operator pins the evaluation by STAGING the batch to
    committed parquet and appending/statting the read-back (a persist would
    not survive executor loss). Gate: with a jittering (nondeterministic)
    batch, the sidecar's per-list sumvec must equal the sums over the rows
    ACTUALLY in the index files; and no cache is left behind."""
    from pyspark.sql.functions import pandas_udf

    from imposm2_spark.operators.ann import append_ivf_index, write_ivf_index

    @pandas_udf("array<float>")
    def jitter(v: pd.Series) -> pd.Series:
        # deliberately UNSEEDED: two evaluations of this lineage produce
        # different vectors, which is exactly what the persist must mask
        return v.apply(
            lambda a: [float(x) + float(np.random.uniform(0, 0.01)) for x in a]
        )

    def persistent_ids():
        return set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )

    emb = _emb_df(spark, n=60)
    path = str(tmp_path / "idx")
    write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path)
    before = persistent_ids()
    tail = emb.where(F.col("vec_id") % 2 == 1).withColumn(
        "embedding", jitter("embedding")
    )
    report = append_ivf_index(spark, path, tail)
    assert persistent_ids() <= before  # no cache left behind
    written = spark.read.parquet(path).toPandas()
    assert report["n_appended"] == len(written) - emb.where(
        F.col("vec_id") % 2 == 0
    ).count()
    meta = spark.read.parquet(path + "_centroids").collect()
    assert sum(r.n for r in meta) == len(written)
    for r in meta:
        rows = written[written["_list"] == r.list_id]["embedding"]
        got = np.sum(np.stack(rows.to_numpy()), axis=0) if len(rows) else 0.0
        # atol tolerates float32 summation-order noise; a double evaluation
        # of the jitter lineage diverges by ~5e-3 per element per row
        assert np.allclose(np.asarray(list(r.sumvec)), got, atol=1e-4), (
            f"sidecar sumvec diverged from written rows for list {r.list_id}:"
            " the assign lineage was evaluated more than once"
        )


def test_minhash_dropped_buckets_accounting(spark):
    """Review r5: the module contract promises the max_bucket drop is not
    silent — minhash_dropped_buckets must report exactly the buckets the
    pairs path excluded, and be empty when the cap never fires."""
    from imposm2_spark.operators.dedup import minhash_dropped_buckets

    same = spark.createDataFrame(
        [(i, "all the same boilerplate text body here") for i in range(50)],
        ["doc_id", "text"],
    )
    dropped = minhash_dropped_buckets(same, max_bucket=10).collect()
    # identical texts share all 4 band keys -> all 4 buckets over the cap
    assert len(dropped) == 4
    assert all(r.n_docs == 50 for r in dropped)
    assert minhash_dropped_buckets(same, max_bucket=100).count() == 0


def test_cc_preserves_caller_cached_pairs(spark):
    """Review r5: dedup_connected_components must not clobber a cache the
    CALLER owns on `pairs` — persist() on an already-cached frame is a
    no-op, so the old unconditional unpersist() removed the caller's entry
    and forced a recompute of the whole upstream chain."""
    from imposm2_spark.operators.dedup import dedup_connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    ).persist()
    try:
        pairs.count()
        labels = dedup_connected_components(pairs)
        assert labels.count() == 5
        assert pairs.is_cached, "caller's cache was clobbered"
    finally:
        pairs.unpersist()


def test_zero_norm_vectors_excluded_from_topk(spark):
    """Review r5: a zero-norm vector has NULL cosine against everything;
    desc ordering puts NULLs last but row_number would still hand them
    ranks — with k > the real candidate count, zero vectors leaked into the
    top-k output on every search path pre-fix."""
    from imposm2_spark.operators.ann import cosine_topk_brute, cosine_topk_lsh

    rows = [(0, [1.0] * 64), (1, [0.5] * 64), (2, [0.0] * 64), (3, [0.0] * 64)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    q = emb.where(F.col("vec_id") == 0)
    for fn in (cosine_topk_brute, cosine_topk_lsh):
        got = fn(emb, q, k=4).collect()
        ids = {r.vec_id for r in got}
        assert 2 not in ids and 3 not in ids, fn.__name__
        assert ids == {1}, fn.__name__  # only the one real candidate
        # and a zero QUERY returns no rows rather than arbitrary ranks
        qz = emb.where(F.col("vec_id") == 2)
        assert fn(emb, qz, k=2).count() == 0, fn.__name__


def test_neardup_window_rejects_nonpositive_window(spark):
    """Review r5: F.sequence(1, 0) counts DOWN, emitting distance-0
    self-pairs with sim 1.0 — window < 1 must fail loudly instead."""
    from imposm2_spark.operators.ann import embedding_neardup_window

    emb = _emb_df(spark, n=10)
    for w in (0, -3):
        with pytest.raises(ValueError, match="window"):
            embedding_neardup_window(emb, threshold=0.9, window=w)


def test_neardup_lsh_none_cap_and_dropped_buckets(spark):
    """Review r5: max_bucket=None must DISABLE the hot-bucket cap (the
    sibling minhash_lsh_pairs convention) — pre-fix `count <= None` was
    NULL and silently dropped the whole corpus; and capped drops get the
    same accounting twin the minhash path has."""
    from imposm2_spark.operators.ann import (
        embedding_neardup_dropped_buckets,
        embedding_neardup_lsh,
    )

    emb = _emb_df(spark, n=60)
    capped = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_lsh(emb, threshold=0.9).collect()
    }
    uncapped = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_lsh(emb, threshold=0.9, max_bucket=None).collect()
    }
    assert uncapped and uncapped == capped  # no hot buckets at n=60
    # force the cap to fire: every planted pair shares its bucket, so a
    # max_bucket below the largest signature bucket must drop pairs AND
    # surface them in the accounting twin
    dropped = embedding_neardup_dropped_buckets(emb, max_bucket=1).collect()
    assert dropped and all(r.n_vecs > 1 for r in dropped)
    tiny = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_lsh(emb, threshold=0.9, max_bucket=1).collect()
    }
    assert tiny == set()  # bucket size 1 can never emit a pair
    assert embedding_neardup_dropped_buckets(emb, max_bucket=10_000).count() == 0


def test_verify_ivf_index_detects_divergence(spark, tmp_path):
    """Review r5: a crash between append_ivf_index's data append and its
    sidecar write (or a blind retry double-appending) leaves index files and
    sidecar stats inconsistent — verify_ivf_index is the cheap detector."""
    from imposm2_spark.operators.ann import (
        append_ivf_index,
        verify_ivf_index,
        write_ivf_index,
    )

    emb = _emb_df(spark, n=60)
    path = str(tmp_path / "idx")
    write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), path)
    report = append_ivf_index(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    assert report["n_appended"] == 30
    v = verify_ivf_index(spark, path)
    assert v["consistent"] and v["n_index"] == v["n_sidecar"] == 60

    # simulate the crash window: data lands, sidecar never updated
    extra = emb.where(F.col("vec_id") < 4).withColumn(
        "_list", F.lit(0).cast("int")
    )
    extra.write.mode("append").partitionBy("_list").parquet(path)
    v2 = verify_ivf_index(spark, path)
    assert not v2["consistent"]
    assert 0 in v2["mismatched_lists"]
    assert v2["n_index"] == 64 and v2["n_sidecar"] == 60


def test_ann_arrow_score_matches_hof(spark):
    """The matmul mapInPandas kernel must produce the same ranks as the
    oracle-parallel HOF cross-join twin on the planted fixture — the brute
    path here; the indexed path in test_ann_arrow_indexed_matches_hof."""
    from hof_twins import cosine_topk_brute_hof

    from imposm2_spark.operators.ann import cosine_topk_brute

    emb = _emb_df(spark)
    queries = emb.where(F.col("vec_id") < 16)
    hof = {(r.qid, r.vec_id, r.rank)
           for r in cosine_topk_brute_hof(emb, queries, k=3).collect()}
    arrow = {(r.qid, r.vec_id, r.rank)
             for r in cosine_topk_brute(emb, queries, k=3).collect()}
    assert arrow == hof


def test_ann_arrow_indexed_matches_hof(spark, tmp_path):
    """Indexed search: the kernel reproduces the HOF equi-join twin's ranks
    at BOTH nprobe < n_lists (probe-set masking must replicate the equi-join
    semantics) and nprobe == n_lists (exact)."""
    from hof_twins import cosine_topk_ivf_indexed_hof

    from imposm2_spark.operators.ann import (
        N_LISTS,
        cosine_topk_ivf_indexed,
        write_ivf_index,
    )

    emb = _emb_df(spark)
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(emb, path)
    queries = emb.where(F.col("vec_id") < 16)
    for nprobe in (4, N_LISTS):
        hof = {(r.qid, r.vec_id, r.rank)
               for r in cosine_topk_ivf_indexed_hof(
                   spark, path, queries, k=3, nprobe=nprobe).collect()}
        arrow = {(r.qid, r.vec_id, r.rank)
                 for r in cosine_topk_ivf_indexed(
                     spark, path, queries, k=3, nprobe=nprobe).collect()}
        assert arrow == hof, nprobe


def test_ann_arrow_tie_break_survives_batch_cut(spark):
    """Replica-heavy corpus: many vectors tie at sim 1.0, so the global
    id-asc tiebreak needs boundary-tied rows from EVERY batch — a fixed
    per-batch cut that dropped ties would lose the lowest-id winners."""
    from imposm2_spark.operators.ann import cosine_topk_brute

    base = _emb_df(spark, n=8, n_dup_pairs=0)
    reps = [base.selectExpr(f"vec_id + {1000 * (i + 1)} AS vec_id", "embedding")
            for i in range(40)]
    corpus = base
    for r in reps:
        corpus = corpus.unionByName(r)
    corpus = corpus.repartition(16)
    queries = base.where(F.col("vec_id") < 2)
    got = cosine_topk_brute(corpus, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append((r.rank, r.vec_id))
    for qid, rows in by_q.items():
        ids = [v for _, v in sorted(rows)]
        # exact replicas of the query vector, lowest ids first
        assert ids == [qid + 1000 * (i + 1) for i in range(5)], (qid, ids)


def test_ann_arrow_score_null_and_zero_vectors(spark):
    """Arrow kernel NULL semantics must match the HOF twin: zero-norm and
    NULL vectors yield NULL sims (never NaN — Spark sorts NaN above every
    real value, so a NaN would steal rank 1) and are excluded from top-k."""
    from hof_twins import cosine_topk_brute_hof

    from imposm2_spark.operators.ann import cosine_topk_brute

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),  # zero-norm: no direction
        (3, None),             # NULL vector
        (4, [0.0, 1.0, 0.0]),
        (5, [1.0, None, 0.0]),  # NULL ELEMENT: hof folds to null sim;
        #                         arrow must exclude it, not crash the task
    ]
    emb = spark.createDataFrame(rows, schema)
    queries = emb.where(F.col("vec_id") == 0)
    for fn in (cosine_topk_brute_hof, cosine_topk_brute):
        got = fn(emb, queries, k=10).collect()
        ids = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
        assert ids == [1, 4], (fn.__name__, got)
    # a NULL or null-element QUERY vector emits nothing on either side
    nullq = emb.where(F.col("vec_id").isin(3, 5))
    for fn in (cosine_topk_brute_hof, cosine_topk_brute):
        assert fn(emb, nullq, k=3).count() == 0, fn.__name__


def test_ann_arrow_composes_in_self_diff_plans(spark, tmp_path):
    """Regression for a Spark 4.1.2 correctness bug this engine must not
    re-trigger: a frame whose lineage is Filter-ON-THE-WINDOW-PARTITION-KEY
    over mapInPandas, duplicated >2x in ONE plan (the symmetric
    X.exceptAll(Y).unionAll(Y.exceptAll(X)) diff idiom), makes cross-branch
    exchange reuse resolve one copy to an EMPTY side — every row then
    reports as mismatched even though separate-action evaluation of the
    same frames agrees exactly. _topk_arrow therefore excludes self-matches
    IN-KERNEL (sim = -inf) instead of with a `vec_id != qid` Filter; this
    test pins that the arrow frames compose cleanly in duplicated plans.
    Repro details: operators/ann.py::_topk_arrow docstring."""
    from imposm2_spark.operators.ann import (
        N_LISTS,
        cosine_topk_brute,
        cosine_topk_ivf_indexed,
        write_ivf_index,
    )

    emb = _emb_df(spark, n=128)
    path = str(tmp_path / "ivf_selfdiff")
    write_ivf_index(emb, path)
    corpus = spark.read.parquet(path)
    queries = corpus.where(F.col("vec_id") < 3)
    br = cosine_topk_brute(corpus, queries, k=5)
    ivf = cosine_topk_ivf_indexed(spark, path, queries, k=5, nprobe=N_LISTS)
    # each side alone is sane
    assert br.count() == 15 and ivf.count() == 15
    # the duplicated-plan shapes that the Spark bug corrupts
    assert br.exceptAll(br).unionAll(br.exceptAll(br)).count() == 0
    assert ivf.exceptAll(ivf).unionAll(ivf.exceptAll(ivf)).count() == 0
    assert ivf.exceptAll(br).unionAll(br.exceptAll(ivf)).count() == 0


def test_jaccard_empty_both_sides_is_null_not_error(spark):
    """Review r5 (runtime-confirmed): two empty shingle sets made the union
    size 0 and plain division raised DIVIDE_BY_ZERO under Spark 4's default
    ANSI mode; the contract is NULL for the empty/empty pair."""
    from imposm2_spark.operators.dedup import jaccard

    df = spark.createDataFrame(
        [([], []), ([1, 2], []), ([1, 2], [2, 3])],
        "sa array<bigint>, sb array<bigint>",
    )
    got = df.select(jaccard(F.col("sa"), F.col("sb")).alias("j")).collect()
    assert got[0].j is None
    assert got[1].j == 0.0
    assert abs(got[2].j - 1 / 3) < 1e-9


def test_ann_index_paths_total_on_null_vectors(spark, tmp_path):
    """Review r5 (runtime-confirmed crashes): NULL vectors / NULL elements
    killed every numpy-UDF path (train_centroids, assign, probes,
    lsh_signature) while the search paths excluded them. All paths must be
    total; search results must still exclude the dirty rows."""
    from imposm2_spark.operators.ann import (
        N_LISTS,
        append_ivf_index,
        cosine_topk_brute,
        cosine_topk_ivf_indexed,
        cosine_topk_lsh,
        write_ivf_index,
    )

    emb = _emb_df(spark, n=64)
    dirty = spark.createDataFrame(
        [(9001, None), (9002, [None] + [0.5] * 63)],
        emb.schema,
    )
    corpus = emb.unionByName(dirty)
    path = str(tmp_path / "ivf_dirty")
    write_ivf_index(corpus.where(F.col("vec_id") != 9002), path)
    append_ivf_index(spark, path, corpus.where(F.col("vec_id") == 9002))
    # dirty QUERY vectors are total too: they emit no rows
    queries = emb.where(F.col("vec_id") < 4).unionByName(dirty)
    for res in (
        cosine_topk_ivf_indexed(spark, path, queries, k=3, nprobe=N_LISTS),
        cosine_topk_lsh(corpus, queries, k=3),
        cosine_topk_brute(corpus, queries, k=3),
    ):
        rows = res.collect()
        assert rows and all(r.vec_id not in (9001, 9002) for r in rows)
        assert all(r.qid not in (9001, 9002) for r in rows)


def test_ivf_sidecar_survives_crash_window_rename(spark, tmp_path):
    """Review r5: the sidecar rewrite is write-temp-then-swap; a crash
    between delete and rename leaves only `<dir>.new`, which readers must
    fall back to instead of throwing path-not-found."""
    import os

    from imposm2_spark.operators.ann import N_LISTS, cosine_topk_ivf_indexed, write_ivf_index

    emb = _emb_df(spark, n=64)
    path = str(tmp_path / "ivf_crash")
    write_ivf_index(emb, path)
    os.rename(path + "_centroids", path + "_centroids.new")  # simulate the window
    queries = emb.where(F.col("vec_id") < 3)
    got = cosine_topk_ivf_indexed(spark, path, queries, k=3, nprobe=N_LISTS)
    assert got.count() == 9


# ---------------------------------------------------------------------------
# T27 substring-level dedup (fixed-stride block form)
# ---------------------------------------------------------------------------
def test_substring_block_metrics_hand_case(spark):
    from imposm2_spark.operators.dedup import substring_block_metrics

    # block_len=4: doc 1 = 'aaaabbbbcccc' (blocks aaaa,bbbb,cccc);
    # doc 2 = 'aaaabbbbXYZW' shares 2 of its 3 blocks with doc 1;
    # doc 3 = 'qqqqqqqq' duplicates WITHIN itself (qqqq x2);
    # doc 4 = 'zz' is shorter than one block; doc 5 unique, remainder dropped.
    rows = [
        (1, "aaaabbbbcccc"),
        (2, "aaaabbbbXYZW"),
        (3, "qqqqqqqq"),
        (4, "zz"),
        (5, "mnopqrstuvw"),  # 11 chars -> 2 blocks mnop,qrst + dropped 'uvw'
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in substring_block_metrics(df, block_len=4).collect()
    }
    assert len(out) == 5  # every input doc appears, even the short one
    assert (out[1]["n_blocks"], out[1]["n_dup_blocks"]) == (3, 2)
    assert out[1]["dup_frac"] == pytest.approx(round(2 / 3, 6))
    assert out[1]["keep"] is False  # 0.666667 > 0.5
    assert (out[2]["n_blocks"], out[2]["n_dup_blocks"]) == (3, 2)
    # within-doc repetition counts: qqqq occurs twice -> both duplicated
    assert (out[3]["n_blocks"], out[3]["n_dup_blocks"]) == (2, 2)
    assert out[3]["keep"] is False
    # shorter than one block: zero blocks, clean keep
    assert (out[4]["n_blocks"], out[4]["n_dup_blocks"]) == (0, 0)
    assert out[4]["dup_frac"] == 0.0 and out[4]["keep"] is True
    # trailing remainder ignored; unique doc keeps
    assert (out[5]["n_blocks"], out[5]["n_dup_blocks"]) == (2, 0)
    assert out[5]["keep"] is True


def test_substring_block_metrics_boundary_threshold(spark):
    from imposm2_spark.operators.dedup import substring_block_metrics

    # exactly at the threshold: dup_frac == 0.5 must KEEP (<=, not <)
    rows = [(1, "aaaabbbb"), (2, "aaaacccc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_block_metrics(df, block_len=4).collect()}
    assert out[1]["dup_frac"] == 0.5 and out[1]["keep"] is True
    assert out[2]["dup_frac"] == 0.5 and out[2]["keep"] is True


def test_substring_block_metrics_null_and_empty_text(spark):
    from imposm2_spark.operators.dedup import substring_block_metrics

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "aaaabbbb")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in substring_block_metrics(df, block_len=4).collect()}
    assert len(out) == 3
    for i in (1, 2):
        assert (out[i]["n_blocks"] or 0, out[i]["n_dup_blocks"]) == (0, 0)
        assert out[i]["keep"] is True


def test_cc_driver_fallback_equals_loop(spark, monkeypatch):
    """r6 optimization: the bounded driver union-find path must produce
    identical labels AND schema to the distributed pointer-doubling loop on
    every input, and the over-cap probe must fall back to the loop. Inputs:
    chain + triangle + pair + reversed-min edge + dense cluster (long and
    int ids), and pairs with a NULL endpoint, which are no edge."""
    from imposm2_spark.operators import dedup
    from imposm2_spark.operators.dedup import dedup_connected_components

    graph = (
        [(i, i + 1) for i in range(100, 140)]
        + [(30, 31), (31, 32), (30, 32), (50, 51), (99, 7)]
        + [(200 + i, 200 + j) for i in range(6) for j in range(i + 1, 6)]
    )
    nulls = [(1, 2), (2, None), (None, 11), (5, 6)]
    inputs = [
        (graph, "doc_a long, doc_b long"),
        (graph, "doc_a int, doc_b int"),
        (nulls, "doc_a long, doc_b long"),
    ]

    def run(df, cap):
        with monkeypatch.context() as m:
            m.setattr(dedup, "DRIVER_MAX_EDGES", cap)
            out = dedup_connected_components(df)
            return out.schema, sorted(map(tuple, out.collect()))

    for rows, schema in inputs:
        df = spark.createDataFrame(rows, schema)
        fast = run(df, dedup.DRIVER_MAX_EDGES)
        loop = run(df, 0)
        assert fast == loop, schema
        # over-cap: probe comes back too big -> identical labels via the loop
        assert run(df, 3) == loop, schema
    assert loop[1] == [(1, 1), (2, 1), (5, 5), (6, 5)]
