"""Deduplication operators for training-data pipelines.

Graft additions (no imposm2 analog; the closest reference concept is the
inserted-way anti-join P4, SURVEY.md §2.2). Four tiers:

  * exact        — md5 hash-groupBy (registered directly in plans.registry)
  * minhash_lsh  — shingle -> MinHash signature -> banded LSH buckets ->
                   exact-Jaccard verify. THE scale path for near-dup text at
                   10^12 docs: candidates are the pairs within one
                   (band_idx, band_key) bucket, enumerated per bucket by one
                   grouped kernel, never an all-pairs product.
  * simhash      — 32-bit majority-vote fingerprint; equal fingerprints ->
                   near-dup clusters (cheap, single groupBy).
  * ngram_jaccard— exact word-shingle Jaccard on an explicit candidate-pair
                   set (minhash_lsh's verify as JVM array expressions,
                   exposed standalone).

All hashing is integer (rolling 31-polynomial mod 1e9+7, fixed permutation
constants; both live in kernels/texthash.py). Signature, shingle and SimHash
scans and the LSH pair verify run the batched NumPy kernels there,
bit-identical to the DuckDB oracle twins in plans.registry.

Scale notes (10^12 docs):
  * the LSH buckets shuffle on (band_idx, band_key); hot buckets (boiler-
    plate pages) are bounded by `max_bucket` — buckets larger than that are
    dropped (they are boilerplate clusters, better handled by the exact-dup
    pass). Truncation is not silent: `minhash_dropped_buckets` returns the
    dropped (band_idx, band_key, n_docs) rows for the same inputs, the
    no-silent-caps accounting signal.
  * signatures are 16 longs + bands 4 longs per doc — tiny vs the text;
    the bucket shuffle carries each doc's distinct shingles, 4 bytes each,
    once per band.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import char_hash
from ..kernels.texthash import _COMBINE, CHAR_MOD, N_BANDS, PERMS, SHINGLE_N


def token_hashes(text: F.Column) -> F.Column:
    """Per-token rolling hashes; tokens = single-space split (corpus shape)."""
    return F.transform(F.split(text, " "), char_hash)


def shingle_hashes(th: F.Column) -> F.Column:
    """Word-3-gram hashes from token hashes: ((h_i*C + h_i+1)*C + h_i+2) mod M.

    <SHINGLE_N tokens -> empty array (guarded: sequence(1, n) DESCENDS for
    n < 1, which would index element_at(th, 0) and fail)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(th) - (SHINGLE_N - 1)),
        lambda i: (
            (
                (F.element_at(th, i) * _COMBINE + F.element_at(th, i + 1)) % CHAR_MOD
            )
            * _COMBINE
            + F.element_at(th, i + 2)
        )
        % CHAR_MOD,
    )
    return F.when(F.size(th) >= SHINGLE_N, grams).otherwise(
        F.array().cast("array<long>")
    )


def jaccard(sa: F.Column, sb: F.Column) -> F.Column:
    """Exact set-Jaccard over shingle-hash arrays, rounded for hash-compare."""
    inter = F.size(F.array_intersect(F.array_distinct(sa), F.array_distinct(sb)))
    union = F.size(F.array_union(sa, sb))
    return _jaccard_ratio(inter, union)


def _jaccard_ratio(n_inter: F.Column, n_union: F.Column) -> F.Column:
    """round(n_inter / n_union, 9) from distinct-shingle counts.

    try_divide, not `/`: two EMPTY shingle sets make the union size 0, and
    plain division under Spark 4's default ANSI mode raises DIVIDE_BY_ZERO
    and aborts the job (review r5, runtime-confirmed) — the documented
    contract is NULL for the empty/empty pair, same rationale as the ann
    operators' try_divide(_dot, sqrt(_norm2 * _norm2)) on zero-norm
    vectors."""
    return F.round(F.try_divide(n_inter.cast("double"), n_union), 9)


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shs, m0..m15, band0..band3); docs with <SHINGLE_N tokens dropped.

    One mapInArrow pass through kernels/texthash.py::batch_signatures, which
    hashes, shingles, MinHashes and bands each Arrow batch on one unit
    stream (texthash.text_units). The whole chain is integer arithmetic, so
    the kernel is BIT-IDENTICAL to the interpreted HOF expressions the
    oracle mirrors (differential-tested against them in
    tests/test_texthash.py incl. non-ASCII and empty-token edges)."""
    import pyarrow as pa

    from ..kernels import texthash as tx

    longs = [f"m{j}" for j in range(len(PERMS))] + [f"band{b}" for b in range(N_BANDS)]
    schema = f"{id_col} long, shs array<long>, " + ", ".join(f"{c} long" for c in longs)

    def gen(batches):
        for rb in batches:
            rows, offsets, shs, sig, bands = tx.batch_signatures(rb.column(1))
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    [_ids(rb, rows), _lists(offsets, shs), *map(pa.array, sig),
                     *map(pa.array, bands)],
                    names=[id_col, "shs", *longs],
                )

    return docs.select(id_col, text_col).mapInArrow(gen, schema)


def shingle_frame(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shs): per-doc word-3-gram shingle hashes; <SHINGLE_N-token and
    NULL-text docs dropped (the minhash_signatures row contract minus the
    signature columns), from the token/shingle half of the same batch
    kernel (kernels/texthash.py::batch_shingles)."""
    import pyarrow as pa

    from ..kernels import texthash as tx

    def gen(batches):
        for rb in batches:
            rows, offsets, shs = tx.batch_shingles(rb.column(1))
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    [_ids(rb, rows), _lists(offsets, shs)], names=[id_col, "shs"]
                )

    return docs.select(id_col, text_col).mapInArrow(gen, f"{id_col} long, shs array<long>")


def _ids(rb, rows):
    """Column 0 of Arrow batch `rb` at positions `rows`, as int64."""
    import pyarrow as pa

    return rb.column(0).take(pa.array(rows)).cast(pa.int64())


def _lists(offsets, values):
    """array<long> column: row k = values[offsets[k]:offsets[k+1]]."""
    import pyarrow as pa

    return pa.ListArray.from_arrays(pa.array(offsets.astype("int32")), pa.array(values))


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int | None = 10_000,
) -> DataFrame:
    """Verified near-dup pairs: (doc_a, doc_b, jaccard), every row has
    jaccard >= threshold.

    Candidates = pairs sharing any LSH band bucket; exact Jaccard verifies.
    `max_bucket` drops degenerate boilerplate buckets (see module docstring;
    `minhash_dropped_buckets` reports what was dropped).

    Grouped per bucket, not a flat self-join: one mapInArrow scan
    (kernels/texthash.py::batch_band_sets) gives each doc its band keys and
    its distinct shingles, sorted and packed as int32s into one binary value
    `shs`. The (id, shs) row is exploded once per band, shuffled and sorted
    on (band_idx, band_key), and ONE mapInArrow kernel
    (kernels/texthash.py::bucket_pairs) walks the sorted buckets, skips
    those over `max_bucket`, enumerates each bucket's pairs and verifies
    them by a sorted merge of their packed sets, yielding (doc_a, doc_b,
    n_inter, n_union). A pair colliding in several uncapped bands comes out
    once per band; one distinct() over those four longs keeps it once
    (n_inter and n_union are functions of the pair), and the JVM rounds the
    ratio with the same expression as `jaccard`. So the packed sets cross
    one exchange (once per doc and band) and no per-pair product or
    join-back exists.

    RECALL CONTRACT (review r5): the output is a SUBSET of all qualifying
    pairs — LSH candidate generation is probabilistic. With the frozen
    banding (4 bands x 4 rows), P(candidate | jaccard=j) = 1-(1-j^4)^4:
    ~31% at j=0.5, ~67% at j=0.7, ~98% at j=0.9. The banding is sized for
    the near-identical crawl-mirror regime (j >= ~0.8, where recall is
    >90%); pairs in [threshold, ~0.7) are under-sampled by design — the
    scale tradeoff every banded-LSH dedup makes (more bands with fewer rows
    raise recall at low j but explode the candidate count). For exhaustive
    pairs above a low threshold use ngram_jaccard_pairs on an explicit
    candidate set instead."""
    import pyarrow as pa

    from ..kernels import texthash as tx

    bands = [f"band{b}" for b in range(N_BANDS)]

    def gen(batches):
        for rb in batches:
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).cast(pa.int64()), *tx.batch_band_sets(rb.column(1))],
                names=["id", *bands, "shs"])

    scan = docs.select(id_col, text_col).mapInArrow(
        gen, "id long, " + ", ".join(f"{b} long" for b in bands) + ", shs binary")
    return _verified_pairs(scan, "id", threshold, max_bucket)


def _verified_pairs(
    sets: DataFrame, id_col: str, threshold: float, max_bucket: int | None
) -> DataFrame:
    """minhash_lsh_pairs after its scan: the bucket shuffle, pair kernel and
    verify over a frame of (id_col, band0..band3, shs) rows, shs being a
    document's packed shingle set (kernels/texthash.py::batch_band_sets);
    rows whose shs is NULL hold no shingles and are skipped."""
    from ..kernels import texthash as tx

    rows = sets.where(F.col("shs").isNotNull()).select(
        F.col(id_col).cast("long").alias("id"),
        "shs",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )
    found = (
        rows.repartition("band_idx", "band_key")
        .sortWithinPartitions("band_idx", "band_key")
        .mapInArrow(lambda batches: tx.bucket_pairs(batches, max_bucket),
                    "doc_a long, doc_b long, n_inter long, n_union long")
    )
    ratio = _jaccard_ratio(F.col("n_inter"), F.col("n_union"))
    return (
        found.where(ratio >= threshold)
        .distinct()
        .select("doc_a", "doc_b", ratio.alias("jaccard"))
    )


def minhash_dropped_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = 10_000,
) -> DataFrame:
    """No-silent-caps accounting for minhash_lsh_pairs' `max_bucket` drop
    (review r5 — the module contract promised this signal): the
    (band_idx, band_key, n_docs) rows whose buckets exceed `max_bucket` and
    are therefore excluded from candidate generation. Same banding lineage
    as the pairs path, one extra hash-agg over the slim band rows — run it
    alongside a capped dedup to quantify (and alert on) what was skipped;
    an empty result proves the cap never fired."""
    sig = minhash_signatures(docs, id_col, text_col)
    bands = sig.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(N_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )
    return (
        bands.groupBy("band_idx", "band_key")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > max_bucket)
    )


def simhash_clusters(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Docs sharing a SimHash fingerprint — near-dup clusters in one groupBy.

    Fingerprints are 32-bit majority votes over the token hashes, from the
    batched NumPy kernel (kernels/texthash.py::simhash_from_tokens,
    differential-tested bit-identical to the HOF fold the oracle mirrors).
    NULL text fingerprints as 0, as the fold does over an empty token array
    (parity pytest incl. NULL rows). The groupBy shuffles (simhash, partial
    agg)."""
    import numpy as np
    import pyarrow as pa

    from ..kernels import texthash as tx

    def gen(batches):
        for rb in batches:
            fps = np.fromiter(
                (tx.simhash_from_tokens(tx.token_hashes_doc(t))
                 for t in rb.column(1).to_pylist()),
                dtype=np.int64,
                count=rb.num_rows,
            )
            yield pa.RecordBatch.from_arrays(
                [rb.column(0).cast(pa.int64()), pa.array(fps)], names=[id_col, "simhash"]
            )

    fp = docs.select(id_col, text_col).mapInArrow(gen, f"{id_col} long, simhash long")
    return (
        fp.groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_docs") > 1)
    )


# pair tables up to this many rows are labelled on the driver (_cc_driver)
DRIVER_MAX_EDGES = 1_000_000
# pointer-doubling rounds before the loop gives up (diameter ~2^MAX_ROUNDS)
MAX_ROUNDS = 25


def dedup_connected_components(
    pairs: DataFrame, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Near-dup CLUSTERS from a verified pair table: (doc_id, cluster_id)
    where cluster_id = the smallest doc id reachable through the pair graph
    (connected components). Pairs with a NULL endpoint are no edge. The
    output's id type is the input's on either path.

    Min-label propagation WITH pointer doubling — a bounded driver-side plan
    loop; data never reaches the driver. Each round does (a) neighbor-min
    propagation (one equi-join + one groupBy) and (b) a doubling hop
    label <- label(label) (one self-join): labels form a pointer forest onto
    smaller ids, so path lengths halve per round and convergence takes
    O(log diameter) rounds — a diameter-10^6 chain of boilerplate pages needs
    ~20 rounds, not 10^6. Labels only decrease and are bounded below by the
    component minimum, and the fixpoint test is on the COMBINED update, so
    changed == 0 still certifies neighbor-min stability (= correct labels).
    At 10^12 docs the label frame is 2 longs/node over dup nodes only —
    orders of magnitude smaller than the corpus. Exact (oracle: recursive
    CTE transitive closure in plans.registry::dedup_minhash_clusters).

    Raises RuntimeError if `MAX_ROUNDS` rounds exhaust before the fixpoint —
    silently returning under-converged (wrong) cluster ids would under-dedup
    downstream curation. With doubling, that means a component diameter
    around 2^25.

    Small integral graphs skip the loop (optimization r6, guide §1.2 "the
    distributed algorithm" + §3.1 "broadcast the side that fits"): near-dup
    pair graphs hold DUP nodes only, and the loop pays ~2 jobs x O(seconds)
    of fixed latency per doubling round regardless of size. When the pair
    table fits `DRIVER_MAX_EDGES` rows (ONE bounded limit(cap+1) Arrow
    collect — the pip_join MAX_BROADCAST_POLYGONS contract; ~16 bytes/edge,
    so ~mid-MB of driver memory), labels are computed with NumPy over the
    collected edges (_cc_driver) — identical output, pytest-pinned equal to
    the loop, zero iterative rounds. Larger or non-integral graphs take the
    loop.

    Round state lives in checkpoints: reliable `.checkpoint()` files when
    the SparkContext has a checkpoint dir (production clusters:
    `sc.setCheckpointDir("hdfs://.../ckpt")`; they survive executor loss and
    superseded rounds are deleted), else `localCheckpoint` blocks (fast, but
    lost with an executor). Labels are identical either way (pytest-gated).
    """
    from pyspark.sql.types import IntegerType, LongType, ShortType

    # read before the NULL filter: a filtered frame is never cached itself,
    # but it reads through the caller's cache
    caller_cached = pairs.is_cached
    pairs = pairs.where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
    widths = [ShortType, IntegerType, LongType]
    types = [type(pairs.schema[c].dataType) for c in (a_col, b_col)]
    if all(t in widths for t in types):
        # bounded probe-and-collect in ONE action: evaluates the (possibly
        # expensive) pair lineage exactly once on the fast path; if the
        # extra row comes back the graph is big and the loop re-evaluates —
        # the rare path by construction (dup graphs are corpus-tiny).
        head = pairs.select(a_col, b_col).limit(DRIVER_MAX_EDGES + 1).toArrow()
        if head.num_rows <= DRIVER_MAX_EDGES:
            # the loop's ids take the wider endpoint type (its edge union)
            id_type = max(types, key=widths.index)()
            return _cc_driver(pairs.sparkSession, head, id_type)
    reliable = pairs.sparkSession.sparkContext.getCheckpointDir() is not None

    def _round_checkpoint(df: DataFrame) -> DataFrame:
        if reliable:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # the symmetric union reads `pairs` twice — persist it so an expensive
    # upstream (the LSH verify chain) executes once, released after edges
    # materialize. If the CALLER already cached pairs, leave their cache
    # alone (review r5: persist() on a cached frame is a no-op but
    # unpersist() is not — the old unconditional pair clobbered it)
    if not caller_cached:
        pairs = pairs.persist()
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
        .persist()
    )
    labels.count()
    if not caller_cached:
        pairs.unpersist()
    converged = False
    for it in range(MAX_ROUNDS):
        nbr_min = (
            edges.join(labels, edges["src"] == labels["id"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels["id"] == nbr_min["dst"], "left").select(
            labels["id"],
            F.least("label", F.coalesce("nbr_label", "label")).alias("_l1"),
            F.col("label").alias("_prev"),
        )
        # pointer doubling: label values ARE node ids (initialized id->id and
        # only ever replaced by smaller existing labels), so label(label)
        # resolves through the same frame and shortcuts chains geometrically.
        # Round 0 skips the hop — labels are still the identity map, so
        # label(label) is a no-op join.
        if it == 0:
            new_labels = _round_checkpoint(
                stepped.withColumnRenamed("_l1", "label")
            )
            changed = new_labels.where(F.col("label") != F.col("_prev")).count()
            # NO _release_local_checkpoint here: round-0 `labels` is the
            # initial persist()ed frame whose plan may embed the CALLER's
            # checkpointed input (e.g. a localCheckpoint'ed pairs frame) —
            # walking it would unpersist caller-owned blocks. Rounds >= 1
            # only ever see our own checkpoint as the plan leaf.
            labels.unpersist()
            labels = new_labels.drop("_prev")
            if changed == 0:
                converged = True
                break
            continue
        hop = labels.select(F.col("id").alias("_hid"), F.col("label").alias("_hlabel"))
        # checkpoint (not persist): each round references `labels` TWICE,
        # so lineage doubles per round — caching truncates execution but not
        # the logical plan, and Catalyst's tree walk OOMs around round 10.
        # An eager checkpoint materializes the round AND cuts the plan to a
        # LogicalRDD; _round_checkpoint picks local vs reliable per the
        # checkpoint-dir rule above.
        new_labels = (
            stepped.join(hop, stepped["_l1"] == hop["_hid"], "left")
            .select(
                "id",
                F.least("_l1", F.coalesce("_hlabel", "_l1")).alias("label"),
                "_prev",
            )
        )
        new_labels = _round_checkpoint(new_labels)
        changed = new_labels.where(F.col("label") != F.col("_prev")).count()
        labels.unpersist()
        if not reliable:
            # local-checkpoint blocks need the explicit rdd release
            _release_local_checkpoint(labels)
        else:
            # superseded reliable checkpoint: delete its files, keep only the
            # latest round's (rounds >= 1 only ever see our own checkpoint as
            # the plan leaf — round 0's frame is caller-owned, same contract
            # as the local-release rule above)
            _delete_reliable_checkpoint(labels)
        labels = new_labels.drop("_prev")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"dedup_connected_components did not converge in {MAX_ROUNDS} "
            "rounds (component diameter ~2^rounds with pointer doubling); "
            "raise MAX_ROUNDS rather than consuming under-merged clusters"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def _cc_driver(spark, edges, id_type) -> DataFrame:
    """Exact connected components of a bounded, collected Arrow edge table
    (two non-NULL integer columns) — the small-graph engine behind
    dedup_connected_components. Returns (doc_id, cluster_id) of type
    `id_type` for every node appearing in the edges, cluster_id = the
    smallest id reachable through the pair graph — identical to the
    distributed loop's output (pytest-pinned).

    Whole-array min-label hooking: nodes are numbered in id order and every
    node points at a smaller-or-equal number, so following pointers ends at
    the smallest node of a tree. Each round hooks, for every edge whose
    endpoints reach different roots, the larger root onto the smaller one,
    then jumps pointers (label <- label[label]) until each node points at
    its root; it stops when no edge joins two roots."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    ends = [edges.column(i).to_numpy().astype(np.int64) for i in (0, 1)]
    nodes, idx = np.unique(np.concatenate(ends), return_inverse=True)
    ea, eb = idx[: len(ends[0])], idx[len(ends[0]) :]
    label = np.arange(len(nodes))
    while True:
        la, lb = label[ea], label[eb]
        apart = la != lb
        if not apart.any():
            break
        np.minimum.at(label, np.maximum(la, lb)[apart], np.minimum(la, lb)[apart])
        while True:
            jumped = label[label]
            if (jumped == label).all():
                break
            label = jumped
    arrow_type = to_arrow_type(id_type)
    return spark.createDataFrame(
        pa.table({"doc_id": pa.array(nodes, arrow_type),
                  "cluster_id": pa.array(nodes[label], arrow_type)}),
        StructType([StructField("doc_id", id_type), StructField("cluster_id", id_type)]),
    )


def _delete_reliable_checkpoint(df: DataFrame) -> None:
    """Delete the checkpoint FILES a reliably-checkpointed frame owns.

    Reliable round checkpoints are durable by design, but each round
    supersedes the last: without explicit deletion a 20-round CC run leaves
    ~20 full label-frame copies under the checkpoint dir (Spark only
    auto-cleans with spark.cleaner.referenceTracking.cleanCheckpoints=true,
    default false). Called on the SUPERSEDED round only — the latest
    checkpoint backs the returned DataFrame and is kept. Best-effort."""
    try:
        sc = df.sparkSession.sparkContext
        jvm = sc._jvm
        plans = [df._jdf.logicalPlan()]
        while plans:
            p = plans.pop()
            if p.getClass().getSimpleName() == "LogicalRDD":
                opt = p.rdd().getCheckpointFile()
                if opt.isDefined():
                    path = jvm.org.apache.hadoop.fs.Path(opt.get())
                    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
                    fs.delete(path, True)
                continue
            kids = p.children()
            for i in range(kids.size()):
                plans.append(kids.apply(i))
    except Exception:
        pass  # leak is bounded by run length; never fail the caller


def _release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor storage a localCheckpoint'ed frame holds.

    Dataset.unpersist() only clears CacheManager entries; the checkpoint's
    RDD-level persist needs an explicit RDD.unpersist (measured: persistent-
    RDD count drops to 0 with this, stays 1 without). Walks the logical plan
    to the LogicalRDD leaf (the frame in the loop is a projection over it).
    Best-effort: never fails the caller."""
    try:
        plans = [df._jdf.logicalPlan()]
        while plans:
            p = plans.pop()
            if p.getClass().getSimpleName() == "LogicalRDD":
                p.rdd().unpersist(False)
                continue
            kids = p.children()
            for i in range(kids.size()):
                plans.append(kids.apply(i))
    except Exception:
        pass  # storage falls back to ContextCleaner GC


def ngram_jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Exact word-shingle Jaccard for an explicit candidate-pair table.

    Pairs referencing a doc with < SHINGLE_N tokens keep the empty-shingle
    semantics (jaccard 0.0, or null when both sides are empty) — no rows are
    dropped relative to the caller's pair table."""
    # token hashes bound ONCE via the single-element-array transform trick:
    # shingle_hashes references its input
    # ~5x inside interpreted lambdas (no CSE), so inlining token_hashes there
    # re-runs the per-char fold per reference — measured 25x slower at sf0.1.
    sh = docs.select(
        F.col(id_col),
        F.element_at(
            F.transform(
                F.array(token_hashes(F.col(text_col))),
                lambda th: shingle_hashes(th),
            ),
            1,
        ).alias("shs"),
    )
    return (
        pairs.join(sh.select(F.col(id_col).alias(a_col), F.col("shs").alias("sa")), a_col)
        .join(sh.select(F.col(id_col).alias(b_col), F.col("shs").alias("sb")), b_col)
        .select(a_col, b_col, jaccard(F.col("sa"), F.col("sb")).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# T27: exact substring-level dedup (fixed-stride block form)
# ---------------------------------------------------------------------------
DUP_BLOCK_LEN = 20
DUP_BLOCK_FRAC_MAX = 0.5


def substring_block_metrics(
    docs: DataFrame,
    block_len: int = DUP_BLOCK_LEN,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_frac: float = DUP_BLOCK_FRAC_MAX,
) -> DataFrame:
    """T27 exact substring dedup metrics (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", fixed-stride block form).

    The suffix-array formulation of exact substring dedup doesn't distribute;
    the standard cluster-scale approximation is content blocks at a fixed
    stride: split each doc into non-overlapping `block_len`-char blocks
    (trailing remainder ignored), call a block DUPLICATED iff its exact
    content occurs >= 2 times corpus-wide (within- or cross-document), and
    score each doc by its duplicated-block fraction. Returns one row per
    input doc: (id, n_blocks, n_dup_blocks, dup_frac, keep) with
    dup_frac = round(n_dup_blocks / max(n_blocks, 1), 6) and
    keep = dup_frac <= max_frac evaluated on the ROUNDED value (bit-exact
    vs the DuckDB oracle twin in plans.registry). Docs shorter than
    `block_len` have n_blocks = 0, dup_frac = 0.0, keep = true.

    Scale shape (10^12 docs): block enumeration is an in-row
    sequence+explode (no shuffle); duplicate detection is ONE map-side-
    combinable hash-agg keyed by block content (hot boilerplate blocks
    arrive pre-combined per map task, so a 10^9-occurrence block is not a
    straggler); attribution is a left-semi equi-join of the block stream
    against the >=2 keys plus one narrow per-doc count agg. Shuffle bytes
    ~ corpus bytes / 1 — the linear cost any exact-content pass pays; for
    narrower shuffle rows key the agg+join by xxhash64(block) instead of
    the string (collision risk ~ n^2/2^64; kept content-keyed here so the
    semantics are exactly the oracle's). All expressions JVM-side, zero
    Python crossings."""
    base = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.floor(F.length(text_col) / block_len).cast("long").alias("n_blocks"),
    )
    blocks = (
        base.where(F.col("n_blocks") > 0)
        .select(
            id_col,
            F.col("_t"),
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_blocks") - 1)
            ).alias("_p"),
        )
        .select(
            id_col,
            F.col("_t")
            .substr((F.col("_p") * block_len + 1).cast("int"), F.lit(block_len))
            .alias("block"),
        )
    )
    dup_keys = (
        blocks.groupBy("block")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= 2)
        .select("block")
    )
    per_doc = (
        blocks.join(dup_keys, "block", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_blocks"))
    )
    dup_frac = F.round(
        F.col("n_dup_blocks") / F.greatest("n_blocks", F.lit(1)), 6
    )
    return (
        base.select(id_col, "n_blocks")
        .join(per_doc, id_col, "left")
        .withColumn("n_dup_blocks", F.coalesce("n_dup_blocks", F.lit(0)))
        .withColumn("dup_frac", dup_frac)
        .withColumn("keep", F.col("dup_frac") <= max_frac)
    )
