"""Physical-plan shape assertions (SURVEY.md §4 O1/O2/O11/O12 guarantees).

These lock in the properties that make the engine scale: predicate pushdown
reaching the parquet scan, column pruning, map-side partial aggregation,
broadcast joins for small sides, and no gratuitous shuffles. A regression
here is a 100x cost bug at 100 TB even when results stay correct.
"""

import pytest
from pyspark.sql import functions as F

from imposm2_spark.plans import registry
from imposm2_spark.sources import fixtures, testdata

pytestmark = pytest.mark.spark

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted"):
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def plan_nodes(plan):
    """Operator names of a formatted plan, one per node (detail headers)."""
    import re

    return re.findall(r"\n\(\d+\) (\w+)", plan)


def is_python(node):
    """Does the node evaluate Python (Arrow/batch UDFs, pandas/arrow maps)?"""
    return "Python" in node or "InPandas" in node or "InArrow" in node


def python_nodes(plan):
    """Nodes that evaluate Python."""
    return [n for n in plan_nodes(plan) if is_python(n)]


def join_nodes(plan):
    return [n for n in plan_nodes(plan) if "Join" in n or "Cartesian" in n]


def n_exchanges(plan):
    """Count shuffle operators once (formatted mode lists each node twice:
    tree line '+- Exchange (n)' and detail header '(n) Exchange')."""
    import re

    return len(re.findall(r"\n\(\d+\) Exchange", plan))


def test_pricing_summary_pushdown_pruning_partial_agg(spark):
    p = plan_of(registry.queries()["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: 6 of 16 lineitem columns read
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp_ntz>" in p
    assert "partial_sum" in p  # map-side combine before the exchange
    assert n_exchanges(p) == 1  # exactly one shuffle (the groupBy)


def test_revenue_by_region_broadcasts_dims(spark):
    p = plan_of(registry.queries()["join_revenue_by_region"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 2  # nation + region never shuffle
    assert "SortMergeJoin" not in p or p.count("SortMergeJoin") <= 1


def test_tile_assign_is_shuffle_free(spark):
    # family row = assign UNION expire (J6d fold): the ONLY exchange allowed
    # is the expiry distinct hash-agg, which by design shuffles (x, y) tile
    # ids — never point payloads; the whole family stays JVM-only
    p = plan_of(registry.queries()["tile_assign_z8"](spark, SF))
    assert n_exchanges(p) == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p  # JVM-only
    # the per-point assign projection alone is pure codegen — zero shuffles
    from imposm2_spark.functions import spatial
    from pyspark.sql import functions as F

    pts = testdata.derived_points(spark, SF)
    pa = plan_of(
        pts.select(
            "doc_id",
            spatial.tile_x(F.col("lon"), 8).alias("x"),
            spatial.tile_y(F.col("lat"), 8).alias("y"),
        )
    )
    assert "Exchange" not in pa


def test_pip_join_broadcasts_polygons_no_point_shuffle(spark):
    from imposm2_spark.operators.pip import pip_join

    pts = testdata.derived_points_dense(spark, SF)
    polys = fixtures.polygons_admin_df(spark)
    p = plan_of(pip_join(pts, polys, keep_point_cols=["doc_id"]))
    # the polygon side rides a broadcast PolygonIndex: the (big) point side
    # crosses into Python once, with no join and no exchange at all
    assert python_nodes(p) == ["ArrowEvalPython"]
    assert join_nodes(p) == []
    assert n_exchanges(p) == 0


def test_raster_patch_join_single_scan(spark):
    """J6 raster side scans the point side ONCE: one explode of the ancestor
    chain + one broadcast equi-join — not a per-block-level rescan (a 10^12-row
    side must never be read `zoom` times)."""
    import re

    p = plan_of(registry.queries()["raster_patch_join_z6"](spark, SF))
    assert len(re.findall(r"\n\(\d+\) Scan parquet", p)) == 1  # one point scan
    assert len(re.findall(r"\n\(\d+\) BroadcastHashJoin", p)) == 1  # one equi-join
    assert len(re.findall(r"\n\(\d+\) Generate", p)) == 1  # one explode
    assert "BroadcastNestedLoopJoin" not in p
    assert "Union" not in p  # no per-level branch union


def test_tfidf_tokenizes_once(spark):
    """TF-IDF must not re-tokenize the corpus for document frequency: one
    tokenizing scan (plus the metadata-only corpus count) and window-based
    df — a dfreq self-join would scan and explode the corpus twice."""
    import re

    p = plan_of(registry.queries()["text_tfidf_top3"](spark, SF))
    assert len(re.findall(r"\n\(\d+\) Scan parquet", p)) <= 2
    assert len(re.findall(r"\n\(\d+\) Generate", p)) == 1  # one explode


def test_minhash_lsh_band_shuffle_carries_no_arrays(spark):
    """T2 scale shape, on the operator's own plan: the shingle arrays cross
    ONE exchange, the (band_idx, band_key) bucket shuffle that feeds the
    grouped pair kernel; the pair de-duplication exchange moves longs only;
    no join (no self-join, no shingle join-back); two Python crossings (the
    signature scan and the pair kernel)."""
    import re

    from imposm2_spark.operators.dedup import minhash_lsh_pairs

    docs = testdata.load(spark, SF, "documents").select("doc_id", "text")
    p = plan_of(minhash_lsh_pairs(docs))
    exchanges = [blk for blk in re.split(r"\n\(\d+\) ", p) if blk.startswith("Exchange\n")]
    assert exchanges, p

    def line(blk, head):
        return next(l for l in blk.splitlines() if l.startswith(head))

    with_arrays = [blk for blk in exchanges if "shs#" in line(blk, "Input")]
    assert len(with_arrays) == 1, p
    assert re.search(r"hashpartitioning\(band_idx#\d+, band_key#\d+L,",
                     line(with_arrays[0], "Arguments")), with_arrays[0]
    for blk in exchanges:
        if blk is not with_arrays[0]:
            cols = re.search(r"Input \[\d+\]: \[(.*)\]", blk).group(1).split(", ")
            assert all(re.fullmatch(r"\w+#\d+L", c) for c in cols), blk
    assert join_nodes(p) == []
    assert len(python_nodes(p)) == 2, python_nodes(p)


def test_curate_reads_each_text_in_one_crossing(spark, monkeypatch):
    """curate reads the text in ONE Python node, over the exact-deduped
    texts: the scan that gives stats, band keys and packed shingle sets.
    The pair kernel reads the packed sets only, and the one cached frame is
    the gated scan output. Checked on the lineage of the pairs it clusters
    and of the frame it returns."""
    import re

    from imposm2_spark import session
    from imposm2_spark.plans import curate as curate_mod

    seen = []
    real = curate_mod.dedup_connected_components

    def spy(pairs, *args, **kwargs):
        seen.append(pairs)
        return real(pairs, *args, **kwargs)

    monkeypatch.setattr(curate_mod, "dedup_connected_components", spy)
    docs = testdata.load(spark, SF, "documents").select("doc_id", "text")
    kept = curate_mod.curate(docs)
    assert len(seen) == 1
    for df in (seen[0], kept):
        readers = set()
        # an AQE plan lists a cached subtree twice (final and initial plan):
        # count distinct Python nodes by their Arguments line
        for blk in re.split(r"\n\(\d+\) ", plan_of(df)):
            lines = blk.splitlines()
            if lines and is_python(lines[0]) and any(
                l.startswith("Input") and re.search(r"\btext#\d+", l) for l in lines
            ):
                readers.add(next(l for l in lines if l.startswith("Arguments")))
        assert len(readers) == 1, readers
    assert len(session._SCOPES["curate"]) == 1


def test_import_pipeline_prunes_tags_before_shuffle(spark):
    """S3: the tag whitelist map_filter sits in the scan-side projection, so
    full tag maps never shuffle through the J1 way-resolve join."""
    # build the two-spec import directly (its driver row folded into the
    # all-tables family in r5) — the whitelist narrowing claim needs the
    # NARROW spec list, which the 16-table family row no longer exercises
    from imposm2_spark.operators import defaultmapping as dm2
    from imposm2_spark.plans.import_pipeline import import_tables

    nodes, ways, relations = fixtures.osm_dfs(spark)
    lu = import_tables(spark, nodes, ways, relations, [dm2.LANDUSAGES, dm2.MINORROADS])[
        "landusages"
    ]
    p = plan_of(lu)
    assert "map_filter" in p
    # the whitelist is the given specs' keys, not everything
    from imposm2_spark.operators import defaultmapping as dm
    from imposm2_spark.operators.mapping import spec_tag_keys

    keys = spec_tag_keys([dm.LANDUSAGES, dm.MINORROADS])
    assert {"landuse", "natural", "leisure", "amenity", "highway",
            "name", "type", "layer", "bridge", "tunnel", "oneway"} <= keys
    assert "boundary" not in keys and "place" not in keys


def test_relation_size_routing_pushes_below_resolve_join(spark):
    """O10b routing shape: the small/chunked paths filter on the way-member
    count stamped at explode time, and those complementary predicates must
    push below the J2 member-resolve join (each member row crosses the fat
    join ONCE across the union). The old count-aggregate router executed the
    joined frame three times per action."""
    from imposm2_spark.operators.assemble import assemble_relations, assemble_ways

    nodes, ways, relations = fixtures.osm_dfs(spark)
    aw = assemble_ways(ways, nodes.select("id", "lon", "lat"))
    rel = relations.where(
        F.element_at("tags", "type").isin("multipolygon", "boundary")
    )
    p = plan_of(assemble_relations(rel, aw), mode="simple")
    scan_side_filters = [
        l for l in p.splitlines()
        if "Filter" in l and "size(filter(members" in l
    ]
    assert any("<= 4096" in l for l in scan_side_filters)
    assert any("> 4096" in l for l in scan_side_filters)
    # no routing aggregate over the joined frame anymore
    assert "left_anti" not in p.lower()


def test_node_pass_routes_before_wkb(spark):
    """G1 scale shape: the point-WKB Arrow stage runs AFTER tag routing, so
    its input is the routed subset (~10^8 of 10^11 nodes at planet scale) —
    Catalyst cannot push a filter/semi-join through mapInArrow. In the plan
    tree the routing BroadcastHashJoin must sit BELOW MapInArrow (children
    print after parents); the old shape had the Python stage directly over
    the scan with the routing join above it."""
    from imposm2_spark.operators import defaultmapping as dm
    from imposm2_spark.plans.import_pipeline import import_tables

    nodes, ways, relations = fixtures.osm_dfs(spark)
    out = import_tables(spark, nodes, ways, relations, [dm.PLACES])
    p = plan_of(out["places"], mode="simple")
    assert "MapInArrow" in p
    below = p.split("MapInArrow", 1)[1]
    assert "BroadcastHashJoin" in below  # route's spec join feeds the stage


def test_mapping_route_uses_broadcast(spark):
    p = plan_of(registry.queries()["mapping_route"](spark, SF))
    assert "BroadcastHashJoin" in p  # the mapping spec is broadcast (J8)


def test_text_ops_stay_jvm_side(spark):
    """ADVICE r5 fix: the old assertion only checked ArrowEvalPython/
    BatchEvalPython, so it was vacuous for rows that deliberately run
    mapInPandas kernels (quality_classifier's arrow engine). Now: genuinely
    JVM-only rows additionally forbid MapInPandas; rows with deliberate
    Arrow-batched kernels still forbid row-at-a-time Python."""
    for name in ("text_tfidf_top3", "dedup_substrings", "dedup_exact"):
        p = plan_of(registry.queries()[name](spark, SF))
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name
        assert "MapInPandas" not in p, name
    # r6: text_stats_family (stats struct UDF) and dedup_simhash_clusters
    # (fingerprint kernel) moved to the deliberate Arrow-batched group
    for name in ("quality_classifier", "text_repetition",
                 "dedup_ngram_jaccard_adjacent", "dedup_minhash_family",
                 "decontaminate_train_test", "text_stats_family",
                 "dedup_simhash_clusters", "curate_corpus",
                 "vocab_top_ngrams"):
        p = plan_of(registry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name


def test_spine_python_stages_are_arrow_batched(spark):
    docs = testdata.synth_documents_web(testdata.load(spark, SF, "documents"))
    polys = fixtures.world_octants_df(spark, cell_level=4)
    from imposm2_spark.plans.pipeline import spine

    p = plan_of(spine(docs, polys, zooms=(2,), cell_level=4))
    # extract + geotag + point-in-polygon in ONE whole-batch Arrow crossing
    # (html crosses once), the polygon ids exploded JVM-side: no join
    assert python_nodes(p) == ["MapInArrow"]
    assert "ArrowEvalPython" not in p
    assert join_nodes(p) == []


def test_dedup_exact_single_shuffle(spark):
    p = plan_of(registry.queries()["dedup_exact"](spark, SF))
    assert n_exchanges(p) == 1
    assert "partial_min" in p or "partial_count" in p  # map-side combine


def test_spine_batch_size_invariance(spark):
    """§5.2.5: identical results across Arrow batch sizes (the classic
    vectorized-UDF bug class: state leaking across batch boundaries)."""
    from imposm2_spark.plans.pipeline import spine

    docs = testdata.synth_documents_web(testdata.load(spark, SF, "documents"))
    polys = fixtures.world_octants_df(spark, cell_level=4)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig = spark.conf.get(key)
    try:
        results = []
        for batch in ("64", "10000"):
            spark.conf.set(key, batch)
            rows = spine(docs, polys, zooms=(2,), cell_level=4).collect()
            results.append(sorted(map(tuple, rows)))
        assert results[0] == results[1]
    finally:
        spark.conf.set(key, orig)


def test_sample_stratified_full_pushdown_no_shuffle(spark):
    """The LCG keep rule is a pure codegen filter: the whole predicate lands
    in the scan's DataFilters and the plan has no exchange and no Python."""
    p = plan_of(registry.queries()["sample_stratified"](spark, SF))
    assert n_exchanges(p) == 0
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "1103515245" in p  # the LCG reached the scan/filter, not a UDF


def test_decontaminate_broadcasts_test_grams(spark):
    """Train side must flow through ONE broadcast hash join against the
    distinct test-gram set — no sort-merge join, no train-side text shuffle
    (only the final per-doc count agg exchanges)."""
    p = plan_of(registry.queries()["decontaminate_train_test"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_sheds_text_before_shuffle(spark):
    """Only (shard, doc_id, n_tok) may cross the single shard exchange: the
    token count is computed scan-side so document text never shuffles."""
    import re

    p = plan_of(registry.queries()["pack_sequences_512"](spark, SF))
    assert n_exchanges(p) == 1
    # the Exchange detail block: partitioned on shard, and its Input column
    # list carries no text column
    m = re.search(
        r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\].*?"
        r"Arguments: hashpartitioning\(shard",
        p,
        re.S,
    )
    assert m is not None, p
    assert "text" not in m.group(1)


def test_ivf_search_broadcasts_probes_no_corpus_shuffle(spark):
    from imposm2_spark.operators.ann import cosine_topk_ivf

    emb = testdata.load(spark, SF, "embeddings")
    df = cosine_topk_ivf(emb, emb.where(F.col("vec_id") < 4), k=3, nprobe=2)
    p = plan_of(df)
    assert "BroadcastHashJoin" in p  # probe rows broadcast to corpus lists
    assert "SortMergeJoin" not in p  # corpus never shuffles for the join


def test_ngram_jaccard_pairs_binds_token_hashes_once(spark):
    """The HOF re-evaluation trap (verify SKILL, r3/r4): shingle_hashes
    references its input ~5x inside interpreted lambdas, which have no
    common-subexpression elimination — inlining token_hashes there re-runs
    the per-character fold per reference (measured 25x slower at sf0.1).
    The fix binds the token-hash array once per verify side; lock that shape
    by counting the split-on-space feeding the char fold in the analyzed
    plan: exactly one per side (doc_a + doc_b), not ~5."""
    from imposm2_spark.operators.dedup import ngram_jaccard_pairs

    docs = testdata.load(spark, SF, "documents")
    pairs = docs.select(F.col("doc_id").alias("doc_a")).withColumn(
        "doc_b", F.col("doc_a") + 1
    )
    out = ngram_jaccard_pairs(docs, pairs)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("split(text") == 2, analyzed


def test_repetition_metrics_linear_shape(spark):
    """T23 scale shape: EVERYTHING is in-row — duplicate accounting and the
    top-bigram mode are per-doc kernel work, so the query is a scan-project
    with no join, no aggregation, and no KEYED exchange. (The r4-initial
    explode -> hash-agg -> join shape cost 3 exchanges and 12s of a 19.8s XL
    run.) r6: the one allowed exchange is load_spread's conditional
    round-robin repartition — the §2.5 unsplittable-single-row-group input
    fix — which is data-independent (no hashpartitioning on any key) and
    disappears on production-sized inputs."""
    p = plan_of(registry.queries()["text_repetition"](spark, SF))
    assert n_exchanges(p) <= 1, p
    assert "hashpartitioning" not in p
    assert "Join" not in p
    assert "HashAggregate" not in p


def test_mix_sources_broadcasts_rates_no_corpus_shuffle(spark):
    """T24 scale shape: the per-source rate table (one row per domain)
    broadcasts onto the corpus; the only hash exchange is the map-side-
    combined token-totals aggregation. The corpus itself never shuffles —
    the keep rule is a codegen filter."""
    p = plan_of(registry.queries()["mix_sources"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "partial_sum" in p  # token totals combine map-side


@pytest.mark.parametrize(
    "name",
    [
        "curate_corpus",
        "dedup_minhash_family",
        "import_pipeline_all_tables",
        "apply_osm_diff",
        "pack_sequences_512",
        "merge_lines_roads",
        "bloom_dedup_probe",
    ],
)
def test_partition_invariance_shuffle_heavy(spark, name):
    """r5 (r4 verdict ask #8): the five shuffle-heaviest queries must be
    bit-stable under partition-layout perturbation — shuffle-partition
    count (8 vs 32) and Arrow batch size (tiny 7 vs default), the two knobs
    that reorder rows within groups and re-chunk pandas groups (the r4
    latent-bug class: chunk-order nondeterminism in keepers, first-chunk
    picks). Core-count identity (local[8] == local[32]) is asserted every
    round by bench_scaling.py's output-identity gate; this pins the
    intra-session layout axes at sf0.001."""
    q = registry.queries()[name]

    def canon(df):
        def v(x):
            if isinstance(x, list):
                return tuple(v(e) for e in x)
            if isinstance(x, dict):
                return tuple(sorted((k, v(val)) for k, val in x.items()))
            return x
        return sorted(tuple(v(c) for c in row) for row in df.collect())

    sp_key = "spark.sql.shuffle.partitions"
    ar_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    orig_sp, orig_ar = spark.conf.get(sp_key), spark.conf.get(ar_key)
    try:
        spark.conf.set(sp_key, "32")
        spark.conf.set(ar_key, orig_ar)
        baseline = canon(q(spark, SF))
        assert baseline, name
        for sp, ar in ((8, orig_ar), (32, 7), (8, 7)):
            spark.conf.set(sp_key, str(sp))
            spark.conf.set(ar_key, str(ar))
            got = canon(q(spark, SF))
            assert got == baseline, (name, sp, ar)
    finally:
        spark.conf.set(sp_key, orig_sp)
        spark.conf.set(ar_key, orig_ar)


def test_dedup_substrings_jvm_only_combined_aggs(spark):
    """T27 substring dedup: the duplicate-block detection and the per-doc
    attribution are both map-side-combinable hash-aggs, and the whole plan
    stays JVM-side (no Python crossing, no cartesian) — the shape that makes
    the exact-content pass linear at 10^12 docs."""
    p = plan_of(registry.queries()["dedup_substrings"](spark, SF))
    assert p.count("partial_count") == 2  # block agg + per-doc agg combine
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_spine_fused_stage_matches_staged_path(spark):
    """r6: the fused extract+geotag+length crossing must reproduce the
    staged (extract, then geotag, then length) tile rows exactly."""
    from imposm2_spark.operators.pip import pip_join
    from imposm2_spark.operators.tiles import assign_point_tiles
    from hof_twins import staged_enrich
    from imposm2_spark.plans.pipeline import spine

    docs = testdata.synth_documents_web(testdata.load(spark, SF, "documents"))
    polys = fixtures.world_octants_df(spark, cell_level=4)
    fused = sorted(
        map(tuple, spine(docs, polys, zooms=(2,), cell_level=4).collect())
    )
    enriched = staged_enrich(docs).withColumn(
        "n_chars", F.length("text_extracted").cast("long")
    )
    joined = pip_join(
        enriched, polys, cell_level=4,
        keep_point_cols=["url", "lon", "lat", "n_chars"],
    )
    tiled = assign_point_tiles(joined, [2])
    staged = tiled.groupBy("z", "x", "y").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("polygon_id").alias("n_polygons"),
        F.sum("n_chars").alias("sum_chars"),
    )
    assert fused == sorted(map(tuple, staged.collect())) and len(fused) > 0
