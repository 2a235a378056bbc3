"""operators.curation: decontamination, stratified sampling, sequence packing.

Property-level gates on top of the driver's row-exact oracles: planted
contamination is removed and nothing else, sampling is a deterministic subset
at roughly the requested rate, and packing matches an independent reference
greedy scan with every bin within budget.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def _docs(spark, n=200):
    rows = []
    for i in range(n):
        words = [f"w{(i * 13 + j * 7) % 97}" for j in range(10 + (i * 31) % 40)]
        rows.append((i, " ".join(words), f"src{i % 5}"))
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


class TestDecontaminate:
    def test_planted_copies_flagged_and_removed(self, spark):
        from imposm2_spark.operators.curation import contamination_hits, decontaminate

        docs = _docs(spark)
        test = docs.where(F.col("doc_id") % 10 == 0).select("doc_id", "text")
        clean_train = docs.where(F.col("doc_id") % 10 != 0).select("doc_id", "text")
        planted = test.select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text"
        )
        train = clean_train.unionByName(planted)

        hits = {r.doc_id: r.n_hits for r in contamination_hits(train, test).collect()}
        planted_ids = {r.doc_id for r in planted.collect()}
        # every planted full copy with >= 13 tokens is flagged
        long_enough = {
            r.doc_id + 10_000
            for r in test.collect()
            if len(r.text.split()) >= 13
        }
        assert long_enough <= set(hits)
        assert all(h >= 1 for h in hits.values())

        kept = {r.doc_id for r in decontaminate(train, test).collect()}
        assert kept.isdisjoint(long_enough)
        # docs too short to carry a 13-gram are never flagged
        assert (planted_ids - long_enough) <= kept

    def test_hit_count_equals_distinct_grams(self, spark):
        from imposm2_spark.operators.curation import contamination_hits

        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(20)))], ["doc_id", "text"]
        )
        copy = docs.select((F.col("doc_id") + 100).alias("doc_id"), "text")
        hits = contamination_hits(copy, docs).collect()
        # 20 tokens -> 8 distinct 13-grams, all shared
        assert hits == [type(hits[0])(doc_id=101, n_hits=8)] or (
            hits[0].doc_id == 101 and hits[0].n_hits == 8
        )


class TestStratifiedSample:
    def test_deterministic_subset_at_rate(self, spark):
        from imposm2_spark.operators.curation import stratified_sample

        docs = _docs(spark, n=2000)
        rate = F.when(F.col("source") == "src0", F.lit(0.8)).otherwise(F.lit(0.2))
        a = {r.doc_id for r in stratified_sample(docs, rate).collect()}
        b = {r.doc_id for r in stratified_sample(docs, rate).collect()}
        assert a == b  # rerun-identical (no RNG)
        assert a <= {r.doc_id for r in docs.collect()}
        src0 = {r.doc_id for r in docs.where(F.col("source") == "src0").collect()}
        rest = {r.doc_id for r in docs.where(F.col("source") != "src0").collect()}
        assert 0.65 <= len(a & src0) / len(src0) <= 0.95
        assert 0.1 <= len(a & rest) / len(rest) <= 0.3

    def test_rate_bounds(self, spark):
        from imposm2_spark.operators.curation import stratified_sample

        docs = _docs(spark, n=100)
        assert stratified_sample(docs, F.lit(0.0)).count() == 0
        assert stratified_sample(docs, F.lit(1.0)).count() == 100

    def test_negative_ids_sample_at_rate(self, spark):
        """ADVICE r3: Spark's % preserves sign, so a plain-modulo hash made
        every negative id hash negative and ALWAYS pass `< threshold`,
        breaking the rate. pmod keeps negative ids sampled at ~rate."""
        from imposm2_spark.operators.curation import stratified_sample

        docs = spark.range(-2000, 0).withColumnRenamed("id", "doc_id")
        kept = stratified_sample(docs, F.lit(0.2)).count()
        assert 250 <= kept <= 550  # ~rate, NOT all 2000
        assert stratified_sample(docs, F.lit(0.0)).count() == 0


class TestPackSequences:
    def test_matches_reference_greedy_and_budget(self, spark):
        from imposm2_spark.operators.curation import pack_sequences

        docs = _docs(spark, n=300)
        budget, n_shards = 128, 4
        out = pack_sequences(docs, budget=budget, n_shards=n_shards).collect()
        got = {(r.shard, r.doc_id): r.seq_id for r in out}

        # independent reference scan
        toks = {
            r.doc_id: len(r.text.split()) for r in docs.collect()
        }
        want = {}
        for shard in range(n_shards):
            ids = sorted(i for i in toks if i % n_shards == shard)
            acc, cur = 0, -1
            for i in ids:
                if cur < 0 or acc + toks[i] > budget:
                    cur += 1
                    acc = toks[i]
                else:
                    acc += toks[i]
                want[(shard, i)] = cur
        assert got == want

        # every multi-doc sequence fits the budget
        seq_tot: dict = {}
        seq_n: dict = {}
        for r in out:
            seq_tot[(r.shard, r.seq_id)] = seq_tot.get((r.shard, r.seq_id), 0) + r.n_tok
            seq_n[(r.shard, r.seq_id)] = seq_n.get((r.shard, r.seq_id), 0) + 1
        for k, tot in seq_tot.items():
            assert tot <= budget or seq_n[k] == 1

    def test_oversized_doc_own_sequence(self, spark):
        from imposm2_spark.operators.curation import pack_sequences

        docs = spark.createDataFrame(
            [
                (0, " ".join(["a"] * 10)),
                (4, " ".join(["b"] * 999)),  # over budget alone
                (8, " ".join(["c"] * 10)),
                (12, None),  # NULL text: no tokens, joins the open sequence
            ],
            "doc_id long, text string",
        )
        rows = pack_sequences(docs, budget=100, n_shards=4).collect()
        assert {r.doc_id: r.seq_id for r in rows} == {0: 0, 4: 1, 8: 2, 12: 2}
        assert {r.doc_id: r.n_tok for r in rows}[12] == 0


class TestRepetitionMetrics:
    def test_hand_computed_vectors(self, spark):
        from imposm2_spark.operators.curation import repetition_metrics

        docs = spark.createDataFrame(
            [
                (1, "a b a b a"),  # heavy repetition
                (2, "x y z w"),    # all distinct
                (3, "solo"),       # single token, no bigrams
                (4, ""),           # empty text -> [''] single slot
            ],
            ["doc_id", "text"],
        )
        got = {r.doc_id: r for r in repetition_metrics(docs).collect()}

        r1 = got[1]
        assert r1.n_tokens == 5
        assert r1.dup_token_frac == 0.6          # 1 - 2/5
        assert r1.dup_token_char_frac == 0.333333  # 3 dup chars / 9
        # "a b" and "b a" both occur twice; tie -> lexicographically greatest
        # gram "b a", covered 2*3=6 of 9 chars
        assert r1.top_bigram_char_frac == 0.666667
        assert r1.keep is False

        r2 = got[2]
        assert (r2.dup_token_frac, r2.dup_token_char_frac) == (0.0, 0.0)
        assert r2.top_bigram_char_frac == 0.428571  # "z w" once, 3/7
        assert r2.keep is False  # top-bigram over threshold on a tiny doc

        r3 = got[3]
        assert (r3.n_tokens, r3.top_bigram_char_frac, r3.keep) == (1, 0.0, True)

        r4 = got[4]
        assert (r4.n_tokens, r4.dup_token_frac, r4.dup_token_char_frac,
                r4.top_bigram_char_frac, r4.keep) == (1, 0.0, 0.0, 0.0, True)

    def test_no_nulls_and_keep_thresholds(self, spark):
        from imposm2_spark.operators.curation import (
            DUP_TOKEN_CHAR_FRAC_MAX,
            DUP_TOKEN_FRAC_MAX,
            TOP_BIGRAM_CHAR_FRAC_MAX,
            repetition_metrics,
        )

        out = repetition_metrics(_docs(spark)).cache()
        n = out.count()
        assert n == 200
        for c in out.columns:
            assert out.where(F.col(c).isNull()).count() == 0, c
        # keep flag is exactly the conjunction of the three rounded metrics
        mismatch = out.where(
            F.col("keep")
            != (
                (F.col("dup_token_frac") <= DUP_TOKEN_FRAC_MAX)
                & (F.col("dup_token_char_frac") <= DUP_TOKEN_CHAR_FRAC_MAX)
                & (F.col("top_bigram_char_frac") <= TOP_BIGRAM_CHAR_FRAC_MAX)
            )
        ).count()
        assert mismatch == 0
        out.unpersist()


class TestMixSources:
    WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}

    def test_unweighted_source_dropped_and_deterministic(self, spark):
        from imposm2_spark.operators.curation import mix_sources

        docs = _docs(spark)  # sources src0..src4
        kept = mix_sources(docs, self.WEIGHTS, token_budget=2000)
        a = {r.doc_id for r in kept.collect()}
        assert {r.source for r in kept.select("source").distinct().collect()} <= set(
            self.WEIGHTS
        )  # src4 carries no weight -> gone entirely
        b = {r.doc_id for r in mix_sources(docs, self.WEIGHTS, 2000).collect()}
        assert a == b and len(a) > 0  # rerun-identical (resume contract)

    def test_rates_cap_at_one_and_budget_shapes_sample(self, spark):
        from imposm2_spark.functions.text_analysis import token_count_ws
        from imposm2_spark.operators.curation import mix_sources, source_mix_rates

        docs = _docs(spark)
        # budget far above the corpus: every weighted source caps at 1.0 and
        # every weighted doc is kept
        rates = {r.source: r.rate for r in
                 source_mix_rates(docs, self.WEIGHTS, 10**9).collect()}
        assert set(rates) == set(self.WEIGHTS)
        assert all(r == 1.0 for r in rates.values())
        n_weighted = docs.where(F.col("source") != "src4").count()
        assert mix_sources(docs, self.WEIGHTS, 10**9).count() == n_weighted
        # tight budget: rates fall strictly under 1 and the kept token mass
        # lands near rate * total per source (LCG is uniform-ish)
        tight = source_mix_rates(docs, self.WEIGHTS, 2000)
        for r in tight.collect():
            assert 0.0 < r.rate < 1.0
        kept = mix_sources(docs, self.WEIGHTS, 2000)
        got = {
            r.source: r.n_tok
            for r in kept.groupBy("source")
            .agg(F.sum(token_count_ws(F.col("text"))).alias("n_tok"))
            .collect()
        }
        for r in tight.collect():
            assert got.get(r.source, 0) <= r.total_tokens


class TestRepetitionProperty:
    @staticmethod
    def _reference(text):
        """Independent pure-Python twin of repetition_metrics (no Spark)."""
        toks = text.split(" ")
        n = len(toks)
        n_chars = len(text)
        dup_frac = round(1.0 - len(set(toks)) / n, 6)
        seen = set()
        dup_chars = 0
        for t in toks:
            if t in seen:
                dup_chars += len(t)
            else:
                seen.add(t)
        dup_char_frac = round(dup_chars / max(n_chars, 1), 6)
        grams = [f"{toks[i]} {toks[i+1]}" for i in range(n - 1)]
        if grams:
            from collections import Counter

            cnt = Counter(grams)
            best = max(cnt.items(), key=lambda kv: (kv[1], kv[0]))
            top = round(min(1.0, best[1] * len(best[0]) / max(n_chars, 1)), 6)
        else:
            top = 0.0
        return (n, dup_frac, dup_char_frac, top)

    def test_matches_python_reference_on_random_corpora(self, spark):
        """Randomized cross-check: the JVM HOF/agg plan must agree with a
        direct Python implementation on every metric (seeded corpus of
        short high-collision vocab docs — the worst case for the
        first-occurrence and tie-break logic)."""
        import random

        from imposm2_spark.operators.curation import repetition_metrics

        rng = random.Random(20260817)
        vocab = ["a", "bb", "ccc", "x", "yz", "q"]
        rows = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
            for i in range(300)
        ]
        got = {
            r.doc_id: (r.n_tokens, r.dup_token_frac, r.dup_token_char_frac,
                       r.top_bigram_char_frac)
            for r in repetition_metrics(
                spark.createDataFrame(rows, ["doc_id", "text"])
            ).collect()
        }
        for i, text in rows:
            assert got[i] == self._reference(text), (i, text, got[i])


def test_mix_sources_accepts_integer_weights(spark):
    """Pile/LLaMA-style integer mix weights must not crash the strict
    DoubleType verifier (pre-fix: FIELD_DATA_TYPE_UNACCEPTABLE)."""
    from imposm2_spark.operators.curation import mix_sources
    from imposm2_spark.sources import testdata

    docs = testdata.load(spark, "/root/testdata/sf0.001", "documents")
    out = mix_sources(docs, {"src0": 3, "src1": 1}, token_budget=10_000)
    assert out.count() > 0


def test_repetition_arrow_kernel_matches_hof_twin(spark):
    """r5: repetition_metrics moved to an Arrow-batched kernel (now mapInArrow); the
    retired pure-HOF formulation stays as the differential twin and must
    match row-for-row — including the tie-break-by-gram-STRING cases where
    token-tuple ordering would differ ('ab c' vs 'a bc'), empty text,
    single-token docs, consecutive-space empties, and non-ASCII tokens."""
    import random

    from hof_twins import repetition_metrics_hof
    from imposm2_spark.operators.curation import repetition_metrics

    rng = random.Random(5)
    vocab = ["a", "bb", "ab", "c", "bc", "ü", "zz"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30))))
        for i in range(200)
    ]
    rows += [
        (1000, ""),
        (1001, "solo"),
        (1002, "a  b"),          # split keeps the empty middle token
        (1003, "ab c ab c a bc"),  # gram-string tie-break probe
        (1004, "ü ü ü ü"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {tuple(r) for r in repetition_metrics(df).collect()}
    want = {tuple(r) for r in repetition_metrics_hof(df).collect()}
    assert got == want


def test_curate_releases_predecessor_cache(spark):
    """Review r5: persisted DataFrames live in the SQL CacheManager until
    explicit unpersist — each curate() call must release its predecessor's
    gated frame, bounding the footprint at one live invocation."""
    from imposm2_spark.plans import curate as C
    from imposm2_spark.session import _SCOPES

    docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again and again")
         for i in range(40)],
        "doc_id long, text string",
    )
    C.curate(docs).count()
    prev = _SCOPES["curate"][0]
    assert prev.storageLevel.useMemory
    # r6: predecessors release BEFORE the successor persists (CacheManager
    # keys by semantic plan equality — releasing after dropped the fresh
    # cache of an identical-input rerun). With a DIFFERENT input the old
    # entry must be gone and the new one live: footprint = one invocation.
    docs2 = docs.where(F.col("doc_id") % 2 == 0)
    C.curate(docs2).count()
    assert not prev.storageLevel.useMemory
    assert _SCOPES["curate"] and _SCOPES["curate"][0] is not prev
    assert _SCOPES["curate"][0].storageLevel.useMemory
    # identical-input rerun: the shared entry stays LIVE for the new frame
    # (the old bug dropped it and every rep after the first ran uncached)
    C.curate(docs2).count()
    assert _SCOPES["curate"][0].storageLevel.useMemory


def test_registry_window_guard_is_a_real_raise():
    """Review r5: the 50-row driver-window invariant must survive python -O
    (asserts compile out) — it guards against silent oracle-coverage loss."""
    import pytest

    from imposm2_spark.plans import registry as R

    added = []
    try:
        while sum(1 for n in R._QUERIES if n in R._ORACLES) <= 50:
            name = f"__fake_overflow_{len(added)}"
            R._QUERIES[name] = lambda s, d: None
            R._ORACLES[name] = "SELECT 1"
            added.append(name)
        with pytest.raises(RuntimeError, match="artifact window"):
            R.queries()
    finally:
        for n in added:
            R._QUERIES.pop(n, None)
            R._ORACLES.pop(n, None)
    R.queries()  # restored registry is consistent again
