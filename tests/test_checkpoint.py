"""M6 resume tests (SURVEY.md §5.2.6): skip-completed restart, invalidation,
partial-write recovery, per-partition manifests, and the resumable spine's
one `located` stage."""

import json
import os
import re

import pytest
from conftest import SF_SMOKE
from pyspark.sql import functions as F

from imposm2_spark.operators import pip
from imposm2_spark.plans.checkpoint import (
    ENGINE_VERSION,
    MANIFEST,
    TMP_SUFFIX,
    CheckpointManager,
)
from imposm2_spark.plans.pipeline import spine, spine_resumable
from imposm2_spark.sources import fixtures, testdata

pytestmark = pytest.mark.spark


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


def _run_pipeline(spark, root, calls, fp="v1"):
    """Two independent stages under one root, each under its own input
    fingerprint; `calls` records which stage builders actually ran."""
    mgr = CheckpointManager(root)

    def s1():
        calls.append("s1")
        return spark.range(100).select(
            F.col("id"), (F.col("id") * 3).alias("v")
        ).repartition(4)

    mgr.stage(spark, "stage1", s1, input_fingerprint=fp)

    def s2():
        calls.append("s2")
        return spark.range(100).groupBy((F.col("id") % 5).alias("k")).agg(
            F.sum(F.col("id") * 3).alias("s")
        )

    df2 = mgr.stage(spark, "stage2", s2, input_fingerprint="w1")
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
    _, second = _run_pipeline(spark, root, calls2)
    assert calls2 == []  # both stages skipped — builders never invoked
    assert sorted((r.k, r.s) for r in second.collect()) == first_rows


def test_fingerprint_change_invalidates_chain(spark, root):
    """A stage recomputes when its own input fingerprint changes, and only
    that stage: the other stage under the same root is reused."""
    calls = []
    _run_pipeline(spark, root, calls, fp="v1")
    calls2 = []
    mgr, _ = _run_pipeline(spark, root, calls2, fp="v2")
    assert calls2 == ["s1"]
    assert mgr.manifest("stage1")["input_fingerprint"] == "v2"
    assert mgr.manifest("stage2")["input_fingerprint"] == "w1"


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
    assert calls2 == ["s1"]


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
    assert calls2 == ["s1"]
    assert mgr2.manifest("stage1")["engine_version"] == ENGINE_VERSION
    assert df2.count() == 5


PYTHON_NODE = re.compile(r"\w*(?:EvalPython|InPandas|InArrow)\w*")
SPINE_KW = dict(zooms=(2,), cell_level=4)


def _spine_inputs(spark, polygons=fixtures.world_octants_df):
    docs = testdata.synth_documents_web(testdata.load(spark, SF_SMOKE, "documents"))
    return docs, polygons(spark, cell_level=4)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _python_nodes(df):
    return PYTHON_NODE.findall(df._jdf.queryExecution().executedPlan().toString())


@pytest.fixture()
def built(monkeypatch):
    """stage id -> the frames its builder returned, one per invocation."""
    built = {}
    real = CheckpointManager.stage

    def spy(self, spark, stage_id, build, **kw):
        def capture():
            built.setdefault(stage_id, []).append(build())
            return built[stage_id][-1]

        return real(self, spark, stage_id, capture, **kw)

    monkeypatch.setattr(CheckpointManager, "stage", spy)
    return built


def test_spine_resumable_end_to_end(spark, tmp_path, built):
    """The resumable spine checkpoints one stage, `located`, matches the
    plain spine, and a restart reuses the stage without building it."""
    docs, polys = _spine_inputs(spark)
    want = _rows(spine(docs, polys, **SPINE_KW))
    root = str(tmp_path / "spine_ckpt")
    assert _rows(spine_resumable(spark, docs, polys, root, "sf0.001", **SPINE_KW)) == want
    assert os.listdir(root) == ["located"] and len(built["located"]) == 1
    # one located row per (document, polygon): each lies in one tile per zoom
    m = CheckpointManager(root).manifest("located")
    assert m["total_rows"] == sum(r[3] for r in want)

    assert _rows(spine_resumable(spark, docs, polys, root, "sf0.001", **SPINE_KW)) == want
    assert len(built["located"]) == 1  # the restart invoked no builder


def test_spine_resumable_over_cap_matches_spine(spark, tmp_path, monkeypatch, built):
    """Over pip.MAX_BROADCAST_POLYGONS the stage is located_points' shuffle
    path (enrich crossing, then pip_join's refine) and the rows still equal
    the spine's with the cap as shipped."""
    docs, polys = _spine_inputs(spark)
    want = _rows(spine(docs, polys, **SPINE_KW))
    monkeypatch.setattr(pip, "MAX_BROADCAST_POLYGONS", 0)
    root = str(tmp_path / "spine_ckpt")
    assert _rows(spine_resumable(spark, docs, polys, root, "sf0.001", **SPINE_KW)) == want
    assert sorted(_python_nodes(built["located"][0])) == ["ArrowEvalPython", "MapInArrow"]


def test_spine_resumable_enrich_is_one_crossing_without_text(spark, tmp_path, built):
    """Under the cap the located stage is the spine's one enrich + locate
    crossing: exactly one Python node, and the checkpoint holds
    located_points' columns, no html or text."""
    docs, polys = _spine_inputs(spark)
    root = str(tmp_path / "spine_ckpt")
    spine_resumable(spark, docs, polys, root, "sf0.001", **SPINE_KW).collect()
    assert _python_nodes(built["located"][0]) == ["MapInArrow"]
    cols = spark.read.parquet(CheckpointManager(root).data_dir("located")).columns
    assert cols == ["lon", "lat", "n_chars", "polygon_id"]


def test_spine_resumable_invalidates_on_polygon_change(spark, tmp_path, built):
    """The checkpoint is invalidated when the POLYGONS input changes, not
    only when the docs do: a docs-only fingerprint would silently return
    tiles built against the old polygon set."""
    docs, polys_a = _spine_inputs(spark)
    _, polys_b = _spine_inputs(spark, fixtures.polygons_admin_df)
    root = str(tmp_path / "spine_ckpt")

    got_a = _rows(spine_resumable(spark, docs, polys_a, root, "sf0.001", **SPINE_KW))
    got_b = _rows(spine_resumable(spark, docs, polys_b, root, "sf0.001", **SPINE_KW))
    assert len(built["located"]) == 2  # the polygon change recomputed the stage
    assert got_b == _rows(spine(docs, polys_b, **SPINE_KW))
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
    assert calls == ["s1", "s1"]


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
    assert m is not None and m["input_fingerprint"] == "v1"
    # and a successful retry still replaces it
    df = mgr.stage(
        spark, "stage1",
        lambda: spark.range(7).select(F.col("id")), input_fingerprint="v2",
    )
    assert df.count() == 7
