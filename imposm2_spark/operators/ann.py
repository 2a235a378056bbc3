"""Similarity search over embedding columns (array<float>).

Graft additions for training-data pipelines (no imposm2 analog; the spatial
cousin is J5 kNN — same candidate-generation-then-exact-verify shape).

  * cosine_topk_brute — exact top-k per query: broadcast the (small) query
    matrix, score the full corpus in one matmul kernel per Arrow batch
    (_topk_arrow, shared with the persisted-IVF search), window top-k.
    The exact reference the approximate paths are recall-tested against.
    Scales linearly in |corpus| x |queries| with zero shuffle on the corpus
    side.
  * signature/bucketed LSH (random hyperplanes) — the 10^12-row scale path:
    corpus is bucketed once by signature; each query probes its own bucket
    plus hamming-1 neighbors, so the join touches a tiny corpus slice.
    Approximate: recall is property-tested on planted near-dups.
  * embedding_neardup_window — exact cosine near-dup pairs over a bounded
    candidate window (the verify kernel standalone, SQL-oracle-checked).

Float determinism: vectors are cast float32 -> float64 (exact). The
expression paths (LSH, in-memory IVF, near-dup) sum in array order via
zip_with/aggregate, so the DuckDB oracle (list_reduce in the same order)
reproduces their similarities bit-for-bit. The brute/indexed kernel sums
each row over the fixed dim, so its sims are batch-invariant and can differ
from the fold only in the last bit; its output is ranks, which are ints.

Hyperplanes are NOT runtime-random: they derive from a fixed integer LCG
(seeded by plane/dim index) so signatures are stable across runs/sessions —
a resume/lineage requirement (SURVEY.md §2.9).

Zero-norm vectors (empty-text/padding embeddings) have no direction: their
cosine against anything is NULL (0/0), so they are EXCLUDED from every
top-k result (the rank helper filters NULL sims — without that filter a
zero corpus vector would still take a row_number rank) and never satisfy a
near-dup threshold. Callers wanting zero-vector pairs must handle them
upstream. The DuckDB oracles compute 0/0 = NaN instead of NULL, which
DuckDB sorts ABOVE all values — a divergence that never fires because the
driver fixture contains no zero vectors; documenting it here so a future
fixture change doesn't rediscover it as a hash mismatch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

EMB_DIM = 64
N_PLANES = 16


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm2(a: F.Column) -> F.Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
    )


def _as_double(col: F.Column) -> F.Column:
    return col.cast("array<double>")


def _stack_f64(emb: pa.Array | pa.ChunkedArray, dim: int) -> np.ndarray:
    """Arrow list<float|double> column -> (n, dim) float64 matrix, total on
    dirty data: a NULL vector becomes a NaN row and a NULL element a NaN
    entry. Consumers behave deterministically on NaN rows — assign ->
    argmax over all-False comparisons = list 0, probes -> stable argsort =
    the first nprobe lists, lsh_signature -> (NaN > 0) = all-zero bits, the
    top-k kernel -> -inf sims, never emitted — so totality never changes a
    search result. `dim` comes from the consumer (centroid/plane/query
    width), NOT the batch: a batch of ONLY null vectors has no row to infer
    a width from."""
    if isinstance(emb, pa.ChunkedArray):
        emb = emb.combine_chunks()
    if pc.any(pc.not_equal(pc.list_value_length(emb), dim)).as_py():
        raise ValueError(f"vectors of a width other than {dim}")
    mat = np.full((len(emb), dim), np.nan)
    valid = emb.is_valid().to_numpy(zero_copy_only=False)
    # flatten() honours the slice offset and skips NULL rows' child slots
    mat[valid] = emb.flatten().to_numpy(zero_copy_only=False).reshape(valid.sum(), dim)
    return mat


def _sim_col() -> F.Column:
    """The per-candidate HOF similarity expression over the conventional
    column names (_q, _v, _qn, _nn): interpreted zip_with/aggregate fold in
    array order — bit-identical to the DuckDB oracle's list_reduce (the
    driver rows depend on this). Brute and persisted-IVF search score in
    _topk_arrow instead."""
    return F.try_divide(
        _dot(F.col("_q"), F.col("_v")), F.sqrt(F.col("_qn") * F.col("_nn"))
    )


def _topk_arrow(
    corpus: DataFrame,
    queries: pa.Table,
    k: int,
    id_col: str,
    vec_col: str,
    query_id: str,
    probes_by_qid: dict | None = None,
    list_col: str = "_list",
) -> DataFrame:
    """The scoring kernel of brute and indexed search: broadcast the
    query matrix (`queries`: query id, vector), mapInArrow over the corpus,
    ONE matmul per Arrow batch, emit only per-batch top-(k+1) candidates
    (plus boundary ties), then the usual global _rank_topk.

    Why this shape and not a per-candidate Arrow UDF: scoring 50M candidate
    ROWS through Arrow ships both 64-float vectors per row (~51 GB at the XL
    rehearsal) and measured 2x SLOWER than the interpreted HOF join. Here
    each corpus vector crosses the Python boundary exactly once and the
    emitted rows are bounded by batches x queries x (k+1) — the same
    ship-once discipline as the PIP broadcast path (operators/pip.py).

    Exactness, including ties: a batch emits every row whose sim >= the
    batch's (k+1)-th largest for that query (boundary TIES included — with
    replica-heavy corpora the global id-asc tiebreak may need a tied row
    that a fixed-size cut would drop), and any member of the true global
    top-k is necessarily within the top-(k+1) of its own batch. Zero-norm /
    NULL vectors never emit. Sim values come from one float64 matmul per
    pair — independent of batching, so results are partitioning-invariant;
    they can differ from the HOF fold only in the last bit (pairwise vs
    sequential summation).

    Self-matches are excluded INSIDE the kernel (sim -inf when corpus id ==
    query id), NOT as a `vec_id != qid` Filter above the mapInArrow. The
    filter form is the trigger shape for a Spark 4.1.2 correctness bug:
    when a frame whose lineage is Filter-on-window-partition-key over a
    Python map (found over mapInPandas) appears more than twice in ONE plan
    (e.g. the symmetric X.exceptAll(Y).unionAll(Y.exceptAll(X)) diff
    idiom), cross-branch exchange reuse resolves one copy to an EMPTY side
    and the diff reports every row as mismatched; filters on
    non-partition-key columns don't trigger it (minimal no-engine-code repro
    in tests/test_ann_dedup.py::test_ann_arrow_composes_in_self_diff_plans;
    verified against separate-action evaluation, which is always correct).

    probes_by_qid (indexed search): {qid: set(list_ids)} — a (row, query)
    pair is scored only when the row's `list_col` is in the query's probe
    set, reproducing the probe-list equi-join of cosine_topk_ivf exactly."""
    spark = corpus.sparkSession
    qids = queries.column(0).cast(pa.int64()).to_numpy()
    # a NULL element inside a query vector is NaN: the NaN sweep in gen()
    # turns every sim of that query into -inf, so it emits nothing —
    # matching the HOF twin's null fold
    qvecs = queries.column(1)
    Q = _stack_f64(qvecs, pc.max(pc.list_value_length(qvecs)).as_py() or 0)
    qn2 = (Q * Q).sum(axis=1)
    q_mask_by_list: dict | None = None
    if probes_by_qid is not None:
        all_lists = sorted({l for s in probes_by_qid.values() for l in s})
        q_mask_by_list = {
            l: np.asarray([l in probes_by_qid[int(q)] for q in qids], dtype=bool)
            for l in all_lists
        }
    bc = spark.sparkContext.broadcast((qids, Q, qn2, q_mask_by_list))
    take = k + 1
    out_schema = T.StructType(
        [
            T.StructField(query_id, T.LongType()),
            T.StructField(id_col, T.LongType()),
            T.StructField("_sim", T.DoubleType()),
        ]
    )
    cols = [id_col, vec_col] + ([list_col] if probes_by_qid is not None else [])

    def gen(batches):
        qids_, Q_, qn2_, masks = bc.value
        m = len(qids_)
        if m == 0:
            return
        for rb in batches:
            vids = rb.column(0).cast(pa.int64()).to_numpy()
            # NULL vectors (NaN rows) and NULL elements (NaN entries) end
            # with NaN sims, which the NaN sweep below turns into -inf
            V = _stack_f64(rb.column(1), Q_.shape[1])
            nn2 = (V * V).sum(axis=1)
            denom2 = nn2[:, None] * qn2_[None, :]
            # NOT one dgemm (V @ Q.T): BLAS tiles the reduction by matrix
            # SHAPE, so identical vectors in different-sized batches got
            # last-bit-different sims — which broke the deterministic id-asc
            # tie rank on replica-heavy corpora (regression test
            # test_ann_arrow_tie_break_survives_batch_cut). A per-row
            # multiply + sum(axis=1) reduces over the fixed dim with a tree
            # that depends only on dim, so sims are batch- and
            # partition-invariant.
            dots = np.empty((len(vids), len(qids_)), dtype=np.float64)
            for j in range(len(qids_)):
                dots[:, j] = (V * Q_[j]).sum(axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = dots / np.sqrt(denom2)
            sims[denom2 == 0.0] = -np.inf  # zero-norm: no direction
            # NaN sweep (NaN vector elements on either side): np.partition
            # sorts NaN as LARGEST, so a NaN left in place would poison the
            # per-batch kth cut and silently drop VALID candidates below it
            sims[np.isnan(sims)] = -np.inf
            # self-match exclusion in-kernel (docstring: the Filter form
            # triggers the Spark 4.1.2 duplicated-plan reuse bug)
            sims[vids[:, None] == qids_[None, :]] = -np.inf
            if masks is not None:
                lists = rb.column(2).to_numpy()
                allow = np.stack([masks[int(l)] for l in lists])
                sims[~allow] = -np.inf
            n = sims.shape[0]
            if n > take:
                kth = np.partition(sims, n - take, axis=0)[n - take, :]
            else:
                kth = np.full(m, -np.inf)
            emit = (sims >= kth[None, :]) & np.isfinite(sims)
            rows_i, cols_j = np.nonzero(emit)
            if len(rows_i) == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array(qids_[cols_j]), pa.array(vids[rows_i]),
                 pa.array(sims[rows_i, cols_j])],
                names=[query_id, id_col, "_sim"],
            )

    cand = corpus.select(*cols).mapInArrow(gen, out_schema)
    return _rank_topk(cand, k, id_col, query_id)


def _rank_topk(cand: DataFrame, k: int, id_col: str, query_id: str) -> DataFrame:
    """Shared top-k tail for all four search paths: NULL sims (zero-norm
    vectors, module docstring) are excluded BEFORE ranking — desc ordering
    puts NULLs last but row_number would still hand them ranks when a query
    has fewer than k real candidates."""
    w = W.partitionBy(query_id).orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        cand.where(F.col("_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, id_col, "rank")
    )


def cosine_topk_brute(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """Exact cosine top-k: (qid, vec_id, rank); self-matches excluded.

    Ranks are oracle-tested against the DuckDB fold (ann_cosine_topk) and
    against the HOF cross-join twin in tests/hof_twins.py."""
    # NULL query vectors have no direction (module docstring): they never
    # enter the query matrix, so they emit nothing
    q = queries.select(id_col, vec_col).where(F.col(vec_col).isNotNull()).toArrow()
    return _topk_arrow(corpus, q, k, id_col, vec_col, query_id)


# ---------------------------------------------------------------------------
# LSH scale path
# ---------------------------------------------------------------------------
def _hyperplanes(n_planes: int = N_PLANES, dim: int = EMB_DIM) -> np.ndarray:
    """Deterministic +-1 hyperplanes from an integer LCG (runtime-random-free)."""
    idx = np.arange(n_planes * dim, dtype=np.uint64)
    # Knuth MMIX LCG step on the flat index; sign from the top bit
    state = idx * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
    state ^= state >> np.uint64(33)
    signs = np.where((state >> np.uint64(63)) & np.uint64(1), 1.0, -1.0)
    return signs.reshape(n_planes, dim)


@F.arrow_udf(T.IntegerType())
def lsh_signature(emb: pa.Array) -> pa.Array:
    """Random-hyperplane signature: bit j = [dot(v, plane_j) > 0].

    The projection accumulates SEQUENTIALLY over dims (d=0,1,...) instead of
    BLAS matmul: matmul reorders the float sum, and the DuckDB oracle twin
    (list_reduce over [v_i * s_i] in index order) must reproduce every dot —
    and therefore every sign bit — exactly. 64 vectorized FMA passes per
    batch cost the same as the matmul at these dims."""
    planes = _hyperplanes()
    mat = _stack_f64(emb, planes.shape[1])  # NaN rows -> all-zero signature
    proj = np.zeros((mat.shape[0], planes.shape[0]), dtype=np.float64)
    for d in range(planes.shape[1]):
        proj += mat[:, [d]] * planes[:, d]
    bits = (proj > 0).astype(np.int64)
    sig = np.zeros(len(emb), dtype=np.int64)
    for j in range(planes.shape[0]):
        sig = sig * 2 + bits[:, j]
    return pa.array(sig.astype(np.int32))


def _probe_signatures(sig: F.Column, n_planes: int = N_PLANES) -> F.Column:
    """The signature itself plus all hamming-1 neighbors (multi-probe)."""
    flips = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        # 2^b as exact double->int (shift-by-column unavailable in lambdas)
        lambda b: sig.bitwiseXOR(F.pow(F.lit(2.0), b.cast("double")).cast("int")),
    )
    return F.array_union(F.array(sig), flips)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """Approximate cosine top-k: signature-bucket join + hamming-1 multiprobe.

    At scale the corpus is signed once (16-bit signature -> 65k buckets) and
    each query joins only its ~17 probe buckets: the scored candidate set is
    |corpus| / 4k per query instead of |corpus|. Recall vs brute is property-
    tested (tests/test_ann_dedup.py) on planted near-duplicates.
    """
    # norms precomputed per side (O(n)), not per pair (review r5 — the brute
    # and IVF paths already did this); try_divide(_dot, sqrt(_norm2 *
    # _norm2)) keeps the oracle's sequential-sum order, so values stay
    # bit-identical to it
    c = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
        lsh_signature(F.col(vec_col)).alias("_sig"),
    ).withColumn("_nn", _norm2(F.col("_v")))
    # UDF output must be materialized before lambda use (Catalyst forbids
    # Python UDF references inside higher-order-function lambdas)
    q = (
        queries.select(
            F.col(id_col).alias(query_id),
            _as_double(F.col(vec_col)).alias("_q"),
            lsh_signature(F.col(vec_col)).alias("_qsig"),
        )
        .withColumn("_qn", _norm2(F.col("_q")))
        .select(
            query_id,
            "_q",
            "_qn",
            F.explode(_probe_signatures(F.col("_qsig"))).alias("_sig"),
        )
    )
    # no dropDuplicates needed (review r5): each corpus row carries exactly
    # one _sig and _probe_signatures emits distinct sigs (array_union; the
    # hamming-1 flips are pairwise distinct), so a (qid, vec_id) pair joins
    # at most once — the dedup was a full extra shuffle of the candidate set
    cand = (
        c.join(F.broadcast(q), "_sig")
        .where(F.col(id_col) != F.col(query_id))
        .withColumn("_sim", _sim_col())
    )
    return _rank_topk(cand, k, id_col, query_id)


# ---------------------------------------------------------------------------
# IVF scale path (inverted-file partitioning, the second classic ANN family
# next to LSH): corpus is assigned once to n_lists coarse centroids; a query
# scores only its nprobe closest lists. SURVEY §2 training-data ops: "IVF or
# LSH-bucketed variant as the scale path" — both now exist.
# ---------------------------------------------------------------------------
N_LISTS = 16
N_PROBE = 4
# Lloyd iterations of train_centroids (a fixed count keeps it deterministic);
# read at call time.
TRAIN_ITERS = 5


def train_centroids(
    corpus: DataFrame,
    n_lists: int = N_LISTS,
    train_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic spherical k-means on a bounded sample (standard IVF
    practice: train on a sample, assign the full corpus distributed).

    Determinism, required for resume/lineage (§2.9): the sample is the first
    `train_cap` rows by id (one limit-capped collect — bounded driver memory,
    no toLocalIterator), init is the first n_lists sampled vectors, argmax
    ties break to the lowest centroid index, and Lloyd runs a FIXED iteration
    count (TRAIN_ITERS) — same corpus in, same centroids out, no runtime randomness."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(train_cap).collect()
    )
    # NULL vectors / NULL elements are excluded from the training sample
    # (review r5: list(None) raised and a None element broke the float64
    # asarray) — they carry no direction to train on; at assign time such
    # rows land deterministically in list 0 via _stack_f64's NaN rows
    X = np.asarray(
        [
            list(r[1])
            for r in rows
            if r[1] is not None and all(x is not None for x in r[1])
        ],
        dtype=np.float64,
    )
    if len(X) == 0:
        raise ValueError(
            "cannot train IVF centroids on an empty corpus (or one whose "
            "sampled vectors are all NULL)"
        )
    n_lists = min(n_lists, len(X))
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(norms == 0, 1.0, norms)
    C = Xn[:n_lists].copy()
    for _ in range(TRAIN_ITERS):
        sims = Xn @ C.T
        assign = np.argmax(sims, axis=1)  # first-max: lowest index wins ties
        for j in range(n_lists):
            members = Xn[assign == j]
            if len(members):
                m = members.mean(axis=0)
                ln = np.linalg.norm(m)
                if ln > 0:
                    C[j] = m / ln
    return C


def _normed(centroids: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(centroids, axis=1, keepdims=True)
    return centroids / np.where(n == 0, 1.0, n)


def _make_assign_udf(centroids: np.ndarray):
    cn = _normed(np.asarray(centroids, dtype=np.float64))

    @F.arrow_udf(T.IntegerType())
    def assign(emb: pa.Array) -> pa.Array:
        mat = _stack_f64(emb, cn.shape[1])  # NaN rows -> list 0 deterministically
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        sims = (mat / np.where(norms == 0, 1.0, norms)) @ cn.T
        return pa.array(np.argmax(sims, axis=1).astype(np.int32))

    return assign


def _make_probe_udf(centroids: np.ndarray, nprobe: int):
    cn = _normed(np.asarray(centroids, dtype=np.float64))

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def probes(emb: pa.Array) -> pa.Array:
        mat = _stack_f64(emb, cn.shape[1])  # NaN rows probe the first nprobe lists
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        sims = (mat / np.where(norms == 0, 1.0, norms)) @ cn.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        offsets = np.arange(len(order) + 1, dtype=np.int32) * order.shape[1]
        return pa.ListArray.from_arrays(offsets, order.ravel().astype(np.int32))

    return probes


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_lists: int = N_LISTS,
    nprobe: int = N_PROBE,
    centroids: np.ndarray | None = None,
    train_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """IVF cosine top-k: corpus assigned once to its closest list (one Arrow
    pass, linear), each query equi-joins only its nprobe probe lists — the
    scored candidate set is ~nprobe/n_lists of the corpus per query instead
    of all of it. nprobe == n_lists degenerates to exact brute-force (every
    vector is a candidate exactly once) — that configuration IS the driver
    oracle gate; recall at nprobe < n_lists is property-tested on planted
    near-dups. Hot lists (skewed data) stay correct: no bucket cap on the
    search path; AQE splits oversized join partitions at runtime."""
    if centroids is None:
        centroids = train_centroids(
            corpus, n_lists, train_cap, id_col=id_col, vec_col=vec_col
        )
    assign = _make_assign_udf(centroids)
    probe = _make_probe_udf(centroids, nprobe)
    c = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
        assign(F.col(vec_col)).alias("_list"),
    ).withColumn("_nn", _norm2(F.col("_v")))
    q = (
        queries.select(
            F.col(id_col).alias(query_id),
            _as_double(F.col(vec_col)).alias("_q"),
            probe(F.col(vec_col)).alias("_probes"),
        )
        .withColumn("_qn", _norm2(F.col("_q")))
        .select(query_id, "_q", "_qn", F.explode("_probes").alias("_list"))
    )
    cand = (
        c.join(F.broadcast(q), "_list")
        .where(F.col(id_col) != F.col(query_id))
        .withColumn("_sim", _sim_col())
    )
    return _rank_topk(cand, k, id_col, query_id)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_lists: int = N_LISTS,
    centroids: np.ndarray | None = None,
    train_cap: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Persist the IVF index as list-partitioned parquet (S7-style sink): at
    10^12 rows the index is built once and every search afterwards reads ONLY
    its probe lists via partition pruning — no full-corpus scan, no re-assign.
    Centroids ride along as a tiny sibling parquet (`<path>_centroids`) —
    written through Spark, so hdfs://, s3a://, and local paths all work the
    same as the data sink itself."""
    if centroids is None:
        centroids = train_centroids(
            corpus, n_lists, train_cap, id_col=id_col, vec_col=vec_col
        )
    assign = _make_assign_udf(centroids)
    assigned = corpus.withColumn("_list", assign(F.col(vec_col)))
    # repartition by the partition column before the partitioned write (r6,
    # guide §6): without it every task writes a file into every list dir —
    # n_tasks x n_lists small files (measured 512 at local[32]); clustering
    # first costs one shuffle and lands ~one file per list, which is also
    # what every pruned search afterwards wants to open.
    assigned.repartition("_list").write.mode("overwrite").partitionBy("_list").parquet(path)
    spark = corpus.sparkSession
    # per-list running stats seed the append path's drift metric (r5);
    # reading the just-written index back avoids re-running the assign UDF
    # over the source and rides the partition layout
    back = spark.read.parquet(path)
    stats = _list_stats(back, vec_col)
    n_base = sum(n for n, _ in stats.values())
    _write_centroid_meta(spark, path, centroids, stats, n_base)
    return centroids


def _list_stats(df_assigned: DataFrame, vec_col: str):
    """Per-list (n, elementwise sumvec) for the drift metric: posexplode the
    vector and hash-agg on (_list, pos) — map-side combinable, and the
    collect is bounded at n_lists x dim rows (~1k) regardless of corpus
    size."""
    ex = df_assigned.select(
        "_list", F.posexplode(_as_double(F.col(vec_col))).alias("_pos", "_x")
    )
    rows = (
        ex.groupBy("_list", "_pos").agg(F.sum("_x").alias("_s"),
                                        F.count("*").alias("_n"))
        .collect()
    )
    stats: dict[int, tuple[int, dict[int, float]]] = {}
    for r in rows:
        n, sums = stats.setdefault(int(r["_list"]), (0, {}))
        # a position whose every value in the list is NULL (dirty vectors
        # with NULL elements) sums to SQL NULL — count it as 0 in the drift
        # stats; both the writers and verify_ivf_index share this helper,
        # so the convention stays self-consistent
        sums[int(r["_pos"])] = float(r["_s"]) if r["_s"] is not None else 0.0
        stats[int(r["_list"])] = (int(r["_n"]), sums)
    out = {}
    for lst, (n, sums) in stats.items():
        dim = max(sums) + 1
        out[lst] = (n, np.asarray([sums.get(i, 0.0) for i in range(dim)]))
    return out


def _write_centroid_meta(spark, path: str, centroids: np.ndarray,
                         stats: dict, n_base: int) -> None:
    rows = []
    for j in range(len(centroids)):
        n, s = stats.get(j, (0, np.zeros(len(centroids[j]))))
        rows.append((int(j), [float(x) for x in centroids[j]], int(n),
                     [float(x) for x in s], int(n_base)))
    # repartition(1), NOT coalesce(1): coalescing a parallelized local
    # collection gives the single task preferred locations spanning every
    # parent partition, and the scheduler burns the full spark.locality.wait
    # (3s default) before launching it — measured 4.9s vs 0.5s for this
    # 16-row write. The 16-row shuffle repartition adds is negligible.
    #
    # Write-temp-then-swap (review r5): overwriting the sidecar IN PLACE
    # left a crash window where the index's only copy of centroids+stats
    # was deleted mid-rewrite and every later search threw path-not-found
    # instead of verify reporting inconsistency. Now: write <dir>.new, then
    # delete-old + rename — a crash leaves either the old dir (pre-delete)
    # or .new (pre-rename), and _read_centroid_meta falls back to .new.
    cpath = _centroids_path(path)
    tmp = cpath + ".new"
    spark.createDataFrame(
        rows, "list_id int, vec array<double>, n bigint, sumvec array<double>,"
              " n_base bigint"
    ).repartition(1).write.mode("overwrite").parquet(tmp)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    fs = jpath(cpath).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(jpath(cpath), True)
    fs.rename(jpath(tmp), jpath(cpath))


def append_ivf_index(
    spark,
    path: str,
    new_rows: DataFrame,
    vec_col: str = "embedding",
    drift_cos_floor: float = 0.95,
    max_appended_frac: float = 0.5,
) -> dict:
    """Incremental IVF maintenance (r4 verdict ask #3): assign `new_rows` to
    the FROZEN centroids and append them to the list partitions — no
    reassign/rewrite of the existing index, so maintenance cost is linear in
    the batch, not the corpus. Per-list running stats (n, sumvec) persist in
    the centroids sidecar; the drift metric compares each frozen centroid to
    its list's running mean direction and recommends a retrain when any
    populated list drifts below `drift_cos_floor` or the appended fraction
    since training exceeds `max_appended_frac` (frozen assignments degrade
    recall at nprobe < n_lists as the data distribution moves; at
    nprobe == n_lists results stay exact regardless — that configuration is
    the driver oracle gate for this path).

    Returns {n_appended, frac_appended, min_drift_cos, retrain_recommended,
    drift: {list_id: cos}}.

    Failure contract (review r5): the batch is first STAGED to
    `<path>__staging__` (one committed write — the read-back is what gets
    appended AND what the stats describe, so even a nondeterministic
    `new_rows` lineage (sample/limit/moving landing dir) cannot diverge the
    two; a persist() would NOT survive executor loss, whose recompute
    re-evaluates the lineage). A crash BEFORE the append leaves the index
    untouched (staging is overwritten next attempt, and removed once the
    sidecar commit succeeds); a crash BETWEEN the
    append and the sidecar write leaves the sidecar stale — detectable with
    `verify_ivf_index`, repaired by rebuilding via write_ivf_index. Retrying
    a FAILED append double-appends the batch (plain parquet has no
    multi-file atomic commit; that is Iceberg's job) — verify first. Single
    writer per index, as with the checkpoint manager."""
    meta = _read_centroid_meta(spark, path)
    meta.sort(key=lambda r: r["list_id"])
    centroids = np.asarray([list(r["vec"]) for r in meta], dtype=np.float64)
    assign = _make_assign_udf(centroids)
    assigned = new_rows.withColumn("_list", assign(F.col(vec_col)))
    staging = path.rstrip("/") + "__staging__"
    # repartition("_list") on both writes: see write_ivf_index (guide §6)
    assigned.repartition("_list").write.mode("overwrite").partitionBy("_list").parquet(staging)
    # explicit schema: an EMPTY batch writes no part files and inference
    # would fail; the schema also keeps _list typed int across the round-trip
    back = spark.read.schema(assigned.schema).parquet(staging)
    back.repartition("_list").write.mode("append").partitionBy("_list").parquet(path)
    batch = _list_stats(back, vec_col)
    stats, n_base = {}, 0
    for r in meta:
        n_base = int(r["n_base"])
        s = np.asarray(list(r["sumvec"]), dtype=np.float64)
        n, bs = batch.get(int(r["list_id"]), (0, 0.0))
        stats[int(r["list_id"])] = (int(r["n"]) + n, s + bs)
    _write_centroid_meta(spark, path, centroids, stats, n_base)
    # staging has served its crash-recovery purpose once the sidecar is
    # committed; leaving it would keep a full redundant copy of every
    # appended batch beside the index forever. Deleted through Hadoop's
    # FileSystem so hdfs:// and s3a:// paths work the same as the writes.
    jpath = spark._jvm.org.apache.hadoop.fs.Path(staging)
    jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)

    cn = _normed(centroids)
    drift = {}
    for j, (n, s) in stats.items():
        ln = np.linalg.norm(s)
        if n > 0 and ln > 0:
            drift[j] = float(np.dot(cn[j], s / ln))
    n_total = sum(n for n, _ in stats.values())
    n_appended = sum(n for n, _ in batch.values())
    frac = (n_total - n_base) / max(n_base, 1)
    min_drift = min(drift.values()) if drift else 1.0
    return {
        "n_appended": n_appended,
        "frac_appended": frac,
        "min_drift_cos": min_drift,
        "retrain_recommended": bool(
            min_drift < drift_cos_floor or frac > max_appended_frac
        ),
        "drift": drift,
    }


def verify_ivf_index(spark, path: str, vec_col: str = "embedding") -> dict:
    """Detect index/sidecar divergence (review r5): recompute per-list
    (n, sumvec) from the index data and compare against the sidecar. A crash
    between append_ivf_index's data append and its sidecar write — or a
    blind retry of a failed append — leaves the two inconsistent; this is
    the cheap detector (one map-side-combinable agg over the index, the same
    _list_stats the writers use). Returns {consistent, mismatched_lists,
    n_index, n_sidecar}; on inconsistency, rebuild with write_ivf_index
    (or re-derive the sidecar from the index if centroids are trusted)."""
    actual = _list_stats(spark.read.parquet(path), vec_col)
    meta = _read_centroid_meta(spark, path)
    mismatched = []
    n_sidecar = 0
    for r in meta:
        n_sidecar += int(r["n"])
        a_n, a_s = actual.get(int(r["list_id"]), (0, np.zeros(len(r["sumvec"]))))
        s = np.asarray(list(r["sumvec"]), dtype=np.float64)
        if a_n != int(r["n"]) or not np.allclose(a_s, s, rtol=1e-9, atol=1e-6):
            mismatched.append(int(r["list_id"]))
    extra = sorted(set(actual) - {int(r["list_id"]) for r in meta})
    mismatched.extend(extra)
    n_index = sum(n for n, _ in actual.values())
    return {
        "consistent": not mismatched,
        "mismatched_lists": sorted(mismatched),
        "n_index": n_index,
        "n_sidecar": n_sidecar,
    }


def _centroids_path(path: str) -> str:
    return path.rstrip("/") + "_centroids"


def _read_centroid_meta(spark, path: str) -> list:
    """Sidecar rows, crash-window aware: when the main dir is missing but
    `<dir>.new` exists, a sidecar swap died between delete and rename — the
    .new dir holds the complete committed rewrite (it is fully written
    BEFORE the delete), so reading it IS the recovery."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(_centroids_path(path)).collect()
    except AnalysisException:
        try:
            return spark.read.parquet(_centroids_path(path) + ".new").collect()
        except AnalysisException:
            raise FileNotFoundError(
                f"no centroid sidecar at {_centroids_path(path)!r} (nor a "
                "crash-window .new dir); rebuild with write_ivf_index"
            ) from None


def _load_centroids(spark, path: str) -> np.ndarray:
    rows = _read_centroid_meta(spark, path)
    rows.sort(key=lambda r: r["list_id"])
    return np.asarray([list(r["vec"]) for r in rows], dtype=np.float64)


def cosine_topk_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    nprobe: int = N_PROBE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
) -> DataFrame:
    """Search a persisted IVF index with partition pruning: the union of the
    query batch's probe lists becomes a static IN filter on the partition
    column, so the parquet scan touches only those directories
    (tests/test_ann_dedup.py asserts the PartitionFilters in the plan), and
    _topk_arrow scores each row only against the queries that probe its
    list. The probe-list pull is one bounded collect (queries are the small
    side by contract — they are broadcast into the kernel anyway)."""
    centroids = _load_centroids(spark, path)
    probe = _make_probe_udf(centroids, nprobe)
    q = (
        queries.select(
            F.col(id_col).alias(query_id),
            _as_double(F.col(vec_col)).alias("_q"),
            probe(F.col(vec_col)).alias("_probes"),
        )
        # NULL query vectors never enter the query matrix (as in brute)
        .where(F.col("_q").isNotNull())
        .toArrow()
    )
    probes_by_qid: dict[int, set] = {}
    last: dict[int, int] = {}  # a repeated query id keeps its last vector
    for i, (qid, lists) in enumerate(
        zip(q.column(0).to_pylist(), q.column(2).to_pylist())
    ):
        probes_by_qid.setdefault(qid, set()).update(lists)
        last[qid] = i
    probe_lists = sorted(set().union(*probes_by_qid.values()))
    pruned = (
        spark.read.parquet(path)
        .where(F.col("_list").isin(probe_lists))
        .select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"), "_list")
    )
    return _topk_arrow(
        pruned,
        q.take([last[qid] for qid in sorted(last)]),
        k,
        id_col,
        "_v",
        query_id,
        probes_by_qid=probes_by_qid,
    )


def embedding_neardup_window(
    corpus: DataFrame,
    threshold: float,
    window: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine near-dup pairs over the bounded id window (oracle twin).

    Plan shape matters: the naive range predicate (b > a AND b <= a + w)
    compiles to a BroadcastNestedLoopJoin scoring |corpus|^2 pairs. Instead
    the candidate ids are GENERATED (explode of 1..window) and both sides
    attach by equi-join — two hash joins, |corpus| x window scored pairs,
    and the cosine is computed exactly once per pair."""
    if window < 1:
        # F.sequence(1, 0) would COUNT DOWN (default step -1), emitting
        # distance-0 self-pairs with sim 1.0 that pass any threshold
        raise ValueError(f"window must be >= 1, got {window}")
    pair_ids = corpus.select(
        F.col(id_col).alias("vec_a"),
        F.explode(F.sequence(F.lit(1), F.lit(window))).alias("_d"),
    ).select("vec_a", (F.col("vec_a") + F.col("_d")).alias("vec_b"))
    a = corpus.select(
        F.col(id_col).alias("vec_a"), _as_double(F.col(vec_col)).alias("_va")
    ).withColumn("_na", _norm2(F.col("_va")))
    b = corpus.select(
        F.col(id_col).alias("vec_b"), _as_double(F.col(vec_col)).alias("_vb")
    ).withColumn("_nb", _norm2(F.col("_vb")))
    # per-side norm precompute; try_divide(_dot, sqrt(_norm2 * _norm2))
    # keeps the oracle's sequential-sum order, so the rounded sim matches
    # it bit-for-bit
    return (
        pair_ids.join(a, "vec_a")
        .join(b, "vec_b")  # inner join drops ids past the corpus end
        .select(
            "vec_a",
            "vec_b",
            F.round(
                F.try_divide(
                    _dot(F.col("_va"), F.col("_vb")),
                    F.sqrt(F.col("_na") * F.col("_nb")),
                ),
                9,
            ).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


def embedding_neardup_lsh(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Near-dup pairs at scale: signature-bucket self-join + exact verify.

    `max_bucket=None` disables the hot-bucket cap (same convention as
    dedup.minhash_lsh_pairs — review r5: `count <= None` evaluated to NULL
    and silently dropped the ENTIRE corpus). Capped drops are not silent:
    `embedding_neardup_dropped_buckets` is the accounting twin."""
    c = corpus.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
        lsh_signature(F.col(vec_col)).alias("_sig"),
    ).withColumn("_n2", _norm2(F.col("_v")))
    if max_bucket is not None:
        counts = c.groupBy("_sig").count()
        c = c.join(
            F.broadcast(counts.where(F.col("count") <= max_bucket).drop("count")),
            "_sig",
            "left_semi",
        )
    a = c.select(
        F.col(id_col).alias("vec_a"), F.col("_v").alias("_va"),
        F.col("_n2").alias("_na"), "_sig",
    )
    b = c.select(
        F.col(id_col).alias("vec_b"), F.col("_v").alias("_vb"),
        F.col("_n2").alias("_nb"), "_sig",
    )
    pairs = a.join(b, "_sig").where(F.col("vec_b") > F.col("vec_a"))
    # no dropDuplicates (review r5): each row carries exactly one _sig, so a
    # (vec_a, vec_b) pair joins at most once; per-side norm precompute, then
    # try_divide(_dot, sqrt(_norm2 * _norm2)) in the oracle's sequential-sum
    # order (oracle bit-parity preserved)
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(
            F.try_divide(
                _dot(F.col("_va"), F.col("_vb")), F.sqrt(F.col("_na") * F.col("_nb"))
            ),
            9,
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)


def embedding_neardup_dropped_buckets(
    corpus: DataFrame,
    vec_col: str = "embedding",
    max_bucket: int = 10_000,
) -> DataFrame:
    """No-silent-caps accounting for embedding_neardup_lsh's `max_bucket`
    (review r5 — mirrors dedup.minhash_dropped_buckets): the (sig, n_vecs)
    buckets the cap excluded from candidate generation. Hot signature
    buckets are exactly where boilerplate/exact-dup embeddings concentrate,
    so run this alongside a capped pass to quantify the recall loss; an
    empty result proves the cap never fired."""
    sigs = corpus.select(lsh_signature(F.col(vec_col)).alias("_sig"))
    return (
        sigs.groupBy("_sig")
        .agg(F.count("*").alias("n_vecs"))
        .where(F.col("n_vecs") > max_bucket)
        .select(F.col("_sig").alias("sig"), "n_vecs")
    )
