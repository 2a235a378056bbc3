"""M6 resume tests (SURVEY.md §5.2.6): skip-completed restart, invalidation,
partial-write recovery, lineage + per-partition metrics."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from imposm2_spark.plans.checkpoint import (
    ENGINE_VERSION,
    MANIFEST,
    TMP_SUFFIX,
    CheckpointManager,
    fingerprint_of,
)

pytestmark = pytest.mark.spark


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


def _run_pipeline(spark, root, calls, fp="v1"):
    """Two-stage pipeline; `calls` records which stage builders actually ran."""
    mgr = CheckpointManager(root)

    def s1():
        calls.append("s1")
        return spark.range(100).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        ).repartition(4)

    df1 = mgr.stage(spark, "stage1", s1, input_fingerprint=fp)

    def s2():
        calls.append("s2")
        return df1.groupBy((F.col("id") % 5).alias("k")).agg(F.sum("v").alias("s"))

    df2 = mgr.stage(spark, "stage2", s2, parents=("stage1",))
    return mgr, df2


def test_first_run_writes_manifests(spark, root):
    calls = []
    mgr, df2 = _run_pipeline(spark, root, calls)
    assert calls == ["s1", "s2"]
    m1 = mgr.manifest("stage1")
    assert m1["total_rows"] == 100
    assert len(m1["partitions"]) == 4
    assert sum(p["rows"] for p in m1["partitions"]) == 100
    assert all(p["bytes"] > 0 for p in m1["partitions"])
    assert df2.count() == 5


def test_restart_skips_completed_stages(spark, root):
    calls = []
    _, first = _run_pipeline(spark, root, calls)
    first_rows = sorted((r.k, r.s) for r in first.collect())

    calls2 = []
    mgr2, second = _run_pipeline(spark, root, calls2)
    assert calls2 == []  # both stages skipped — builders never invoked
    assert mgr2.results["stage1"].skipped and mgr2.results["stage2"].skipped
    assert sorted((r.k, r.s) for r in second.collect()) == first_rows


def test_fingerprint_change_invalidates_chain(spark, root):
    calls = []
    _run_pipeline(spark, root, calls, fp="v1")
    calls2 = []
    _run_pipeline(spark, root, calls2, fp="v2")
    # stage1 input changed -> recompute; stage2's parent digest changed too
    assert calls2 == ["s1", "s2"]


def test_downstream_only_recompute(spark, root):
    calls = []
    _run_pipeline(spark, root, calls)
    shutil.rmtree(os.path.join(root, "stage2"))
    calls2 = []
    _run_pipeline(spark, root, calls2)
    assert calls2 == ["s2"]  # stage1 untouched, stage2 rebuilt


def test_partial_write_is_discarded(spark, root):
    calls = []
    _run_pipeline(spark, root, calls)
    # simulate a crash: leftover tmp dir + a final dir without _SUCCESS
    os.makedirs(os.path.join(root, "stage1" + TMP_SUFFIX), exist_ok=True)
    os.remove(os.path.join(root, "stage1", "_SUCCESS"))
    calls2 = []
    _run_pipeline(spark, root, calls2)
    assert "s1" in calls2  # incomplete stage not trusted
    assert not os.path.exists(os.path.join(root, "stage1" + TMP_SUFFIX))


def test_corrupt_manifest_recomputes(spark, root):
    calls = []
    _run_pipeline(spark, root, calls)
    with open(os.path.join(root, "stage1", MANIFEST), "w") as f:
        f.write("{not json")
    calls2 = []
    _run_pipeline(spark, root, calls2)
    assert calls2 == ["s1", "s2"]


def test_engine_version_change_recomputes(spark, root):
    """A stage written under another engine version (an older output
    schema) is recomputed, not reused, even with a matching fingerprint."""
    calls = []
    mgr, _ = _run_pipeline(spark, root, calls)
    assert mgr.manifest("stage1")["engine_version"] == ENGINE_VERSION
    path = os.path.join(root, "stage1", MANIFEST)
    with open(path) as f:
        m = json.load(f)
    m["engine_version"] = "imposm2_spark/0.0"
    with open(path, "w") as f:
        json.dump(m, f)
    calls2 = []
    mgr2, df2 = _run_pipeline(spark, root, calls2)
    assert calls2[0] == "s1" and not mgr2.results["stage1"].skipped
    assert mgr2.manifest("stage1")["engine_version"] == ENGINE_VERSION
    assert df2.count() == 5


def test_lineage_and_metrics(spark, root):
    calls = []
    mgr, _ = _run_pipeline(spark, root, calls)
    chain = mgr.lineage("stage2")
    assert [m["stage_id"] for m in chain] == ["stage1", "stage2"]
    assert chain[1]["parents"] == ["stage1"]
    met = mgr.metrics()
    assert met["stage1"]["rows"] == 100 and met["stage1"]["n_partitions"] == 4
    assert met["stage2"]["skipped"] is False
    # manifest is valid json on disk with a digest covering partition stats
    with open(os.path.join(root, "stage2", MANIFEST)) as f:
        m = json.load(f)
    assert m["digest"] == fingerprint_of(
        m["input_fingerprint"],
        *[f"{p['file']}:{p['rows']}:{p['bytes']}" for p in m["partitions"]],
    )


def test_spine_resumable_end_to_end(spark, tmp_path):
    """Integration: the real spine resumes and matches the plain spine."""
    from imposm2_spark.plans.pipeline import spine, spine_resumable
    from imposm2_spark.sources import fixtures, testdata

    docs = testdata.synth_documents_web(
        testdata.load(spark, "/root/testdata/sf0.001", "documents")
    )
    polys = fixtures.world_octants_df(spark, cell_level=4)
    want = sorted(
        (r.z, r.x, r.y, r.n_docs, r.n_polygons, r.sum_chars)
        for r in spine(docs, polys, zooms=(2,), cell_level=4).collect()
    )
    root = str(tmp_path / "spine_ckpt")
    kw = dict(zooms=(2,), cell_level=4, input_fingerprint="sf0.001")
    got1 = sorted(
        (r.z, r.x, r.y, r.n_docs, r.n_polygons, r.sum_chars)
        for r in spine_resumable(spark, docs, polys, root, **kw).collect()
    )
    assert got1 == want
    # restart: stages skipped (manifests intact), identical output
    from imposm2_spark.plans.checkpoint import CheckpointManager

    got2 = sorted(
        (r.z, r.x, r.y, r.n_docs, r.n_polygons, r.sum_chars)
        for r in spine_resumable(spark, docs, polys, root, **kw).collect()
    )
    assert got2 == want
    mgr = CheckpointManager(root)
    assert mgr.manifest("enrich")["total_rows"] == 500
    assert mgr.manifest("pip_join")["parents"] == ["enrich"]


def test_spine_resumable_enrich_is_one_crossing_without_text(spark, tmp_path, monkeypatch):
    """The enrich stage runs the spine's enrich crossing: exactly one
    Python node, and the checkpoint holds no html or text column."""
    import re

    from conftest import SF_SMOKE
    from imposm2_spark.plans.pipeline import spine_resumable
    from imposm2_spark.sources import fixtures, testdata

    built = {}
    real = CheckpointManager.stage

    def spy(self, spark, stage_id, build, **kw):
        def capture():
            built[stage_id] = build()
            return built[stage_id]

        return real(self, spark, stage_id, capture, **kw)

    monkeypatch.setattr(CheckpointManager, "stage", spy)
    docs = testdata.synth_documents_web(testdata.load(spark, SF_SMOKE, "documents"))
    polys = fixtures.world_octants_df(spark, cell_level=4)
    root = str(tmp_path / "spine_ckpt")
    spine_resumable(
        spark, docs, polys, root, "sf0.001", zooms=(2,), cell_level=4
    ).collect()
    plan = built["enrich"]._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"\w*(?:EvalPython|InPandas|InArrow)\w*", plan) == [
        "MapInArrow"
    ]
    cols = spark.read.parquet(CheckpointManager(root).data_dir("enrich")).columns
    assert cols == ["url", "lon", "lat", "n_chars"]
    assert not {"html", "text", "text_extracted"} & set(cols)


def test_spine_resumable_invalidates_on_polygon_change(spark, tmp_path):
    """Review r4: the pip_join checkpoint must be invalidated when the
    POLYGONS input changes, not only when docs/enrich change — pre-fix the
    second run silently returned tiles built against the old polygon set."""
    from imposm2_spark.plans.pipeline import spine, spine_resumable
    from imposm2_spark.sources import fixtures, testdata

    docs = testdata.synth_documents_web(
        testdata.load(spark, "/root/testdata/sf0.001", "documents")
    )
    polys_a = fixtures.world_octants_df(spark, cell_level=4)
    polys_b = fixtures.polygons_admin_df(spark, cell_level=4)
    root = str(tmp_path / "spine_ckpt")
    kw = dict(zooms=(2,), cell_level=4, input_fingerprint="sf0.001")

    got_a = sorted(
        tuple(r) for r in spine_resumable(spark, docs, polys_a, root, **kw).collect()
    )
    got_b = sorted(
        tuple(r) for r in spine_resumable(spark, docs, polys_b, root, **kw).collect()
    )
    want_b = sorted(
        tuple(r) for r in spine(docs, polys_b, zooms=(2,), cell_level=4).collect()
    )
    assert got_b == want_b
    assert got_a != got_b  # the two polygon sets genuinely differ


def test_failed_pointer_commit_unlinks_its_temp(spark, root, monkeypatch):
    """The manifest write is a stage's commit point: when its os.replace
    fails, the call raises AND removes its `._mtmp_*` staging temp (the
    stage dir must not accumulate one temp per failed commit attempt), and
    the next run recomputes the stage rather than serve uncommitted data."""
    real_replace = os.replace

    def poisoned(src, dst):
        if os.path.basename(dst) == MANIFEST:
            raise OSError("simulated manifest commit failure")
        return real_replace(src, dst)

    calls = []

    def build():
        calls.append("s1")
        return spark.range(5).select(F.col("id"))

    with monkeypatch.context() as m:
        m.setattr(os, "replace", poisoned)
        with pytest.raises(OSError, match="simulated manifest commit failure"):
            CheckpointManager(root).stage(spark, "stage1", build, input_fingerprint="v1")
    sdir = os.path.join(root, "stage1")
    assert not [n for n in os.listdir(sdir) if n.startswith("._mtmp_")]
    mgr = CheckpointManager(root)
    assert mgr.manifest("stage1") is None
    assert mgr.stage(spark, "stage1", build, input_fingerprint="v1").count() == 5
    assert calls == ["s1", "s1"] and not mgr.results["stage1"].skipped


def test_failed_rebuild_keeps_previous_committed_output(spark, root):
    """Review r5: a stage whose input fingerprint changed must keep its LAST
    COMMITTED parquet readable until the replacement is fully written — the
    old delete-up-front left a no-data window the length of the rebuild, so
    a failing build() destroyed the only good checkpoint."""
    mgr = CheckpointManager(root)
    mgr.stage(
        spark, "stage1",
        lambda: spark.range(10).select(F.col("id")), input_fingerprint="v1",
    )
    final_dir = mgr.data_dir("stage1")
    assert spark.read.parquet(final_dir).count() == 10

    def exploding():
        raise RuntimeError("rebuild blew up")

    with pytest.raises(RuntimeError, match="rebuild blew up"):
        mgr.stage(spark, "stage1", exploding, input_fingerprint="v2")
    # the committed v1 output is still there and still readable
    assert spark.read.parquet(final_dir).count() == 10
    m = mgr.manifest("stage1")
    assert m is not None and m["input_fingerprint"] == fingerprint_of(
        "v1", fingerprint_of()
    )
    # and a successful retry still replaces it
    df = mgr.stage(
        spark, "stage1",
        lambda: spark.range(7).select(F.col("id")), input_fingerprint="v2",
    )
    assert df.count() == 7


def test_parent_digest_cross_process_and_missing(spark, root):
    """Review r5: a parent absent from the in-process results dict must fall
    back to its ON-DISK manifest digest (cross-process resume computes the
    same child fingerprint and skips), and a parent with neither must raise —
    silently folding an empty digest would freeze the child's fingerprint and
    later serve a STALE child checkpoint after the parent changed."""
    calls = []
    _run_pipeline(spark, root, calls)
    assert calls == ["s1", "s2"]

    # fresh manager, child called WITHOUT staging the parent in-process:
    # on-disk fallback must yield the same fingerprint -> skip, not rebuild
    mgr2 = CheckpointManager(root)
    ran = []

    def s2():
        ran.append("s2")
        return spark.range(1).select(F.col("id"))

    mgr2.stage(spark, "stage2", s2, parents=("stage1",))
    assert ran == []
    assert mgr2.results["stage2"].skipped

    # a parent that never ran anywhere: loud, not silent
    mgr3 = CheckpointManager(str(root) + "_empty")
    with pytest.raises(KeyError, match="run the parent first"):
        mgr3.stage(spark, "child", s2, parents=("ghost",))
