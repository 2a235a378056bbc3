"""G6 generalized tables, U1 union views, S7-S9 deploy swap."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from imposm2_spark.kernels import wkb
from imposm2_spark.operators import defaultmapping as dm
from imposm2_spark.operators.generalize import (
    GeneralizedTableSpec,
    generalized_lines,
    generalized_table,
    materialize_generalized,
    union_view,
)
from imposm2_spark.plans.import_pipeline import import_tables
from imposm2_spark.sources import fixtures
from imposm2_spark.sources.catalog import Deploy

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def landusages(spark):
    nodes, ways, relations = fixtures.osm_dfs(spark)
    return import_tables(spark, nodes, ways, relations, [dm.LANDUSAGES])["landusages"].cache()


def test_generalized_table_simplifies_and_drops(spark, landusages):
    gen = generalized_table(landusages, tolerance=0.5, where=F.col("area") > 50.0)
    rows = {r.id: r for r in gen.collect()}
    # only large relations survive the where-clause
    assert all(r.area > 50.0 for r in rows.values())
    # a square at tol 0.5 keeps its 5 closure points (corners > tol)
    r1 = rows[1]
    assert len(r1.polygons[0][0]) == 5
    t, polys = wkb.parse_wkb(bytes(r1.wkb))
    assert t == wkb.WKB_MULTIPOLYGON


def test_generalized_table_collapse_drops_feature(spark, landusages):
    # at tolerance 100 every 10x10 square collapses -> empty table
    gen = generalized_table(landusages, tolerance=100.0)
    assert gen.count() == 0


def test_generalized_chain_spec_level(spark, landusages):
    """Spec-level GeneralizedTable chain (imposm2 landusages_gen0 FROM
    landusages_gen1): gen0 originates from gen1's output, where-gates apply
    per level, areas survive exactly at sub-corner tolerance."""
    gspecs = [
        GeneralizedTableSpec("g1", origin="landusages", tolerance=0.01,
                             where="area >= 50.0"),
        GeneralizedTableSpec("g0", origin="g1", tolerance=0.01,
                             where="area >= 100.0"),
    ]
    out = materialize_generalized({"landusages": landusages}, gspecs)
    origin_areas = {r.id: r.area for r in landusages.collect()}
    g1 = {r.id: r.area for r in out["g1"].collect()}
    g0 = {r.id: r.area for r in out["g0"].collect()}
    assert set(g1) == set(origin_areas)  # all fixture areas >= 50
    assert g1 == pytest.approx(origin_areas)  # tol 0.01 < any corner deviation
    assert set(g0) == {i for i, a in g1.items() if a >= 100.0}
    # the two 96.0-area parks gated out; way 81 absent from the origin itself:
    # with [LANDUSAGES] only, its highway=track tag is whitelist-pruned (S3)
    # so P4 suppression folds it into relation 8 — imposm2 parse-time filter
    # semantics
    assert set(g0) == {3, 5, 6, 7, 8}


def test_generalized_chain_declared_specs(spark, landusages):
    """The declared defaultmapping chain materializes end-to-end."""
    out = materialize_generalized(
        {"landusages": landusages}, [dm.LANDUSAGES_GEN1, dm.LANDUSAGES_GEN0]
    )
    n1 = out["landusages_gen1"].count()
    n0 = out["landusages_gen0"].count()
    assert 0 < n0 <= n1 <= landusages.count()
    assert all(r.area > 0 for r in out["landusages_gen0"].collect())


def test_generalized_lines(spark):
    df = spark.createDataFrame(
        [(1, [[0.0, 0.0], [1.0, 0.001], [2.0, 0.0], [3.0, -0.001], [4.0, 0.0]])],
        "id long, coords array<array<double>>",
    )
    out = generalized_lines(df, tolerance=0.01).collect()[0]
    assert out.coords == [[0.0, 0.0], [4.0, 0.0]]


def test_union_view_null_padding(spark, landusages):
    nodes, ways, relations = fixtures.osm_dfs(spark)
    tables = import_tables(spark, nodes, ways, relations, [dm.MINORROADS, dm.LANDUSAGES])
    v = union_view({"minorroads": tables["minorroads"], "landusages": tables["landusages"]})
    assert "src_table" in v.columns
    assert "z_order" in v.columns and "area" in v.columns
    rows = v.collect()
    land = [r for r in rows if r.src_table == "landusages"]
    roads = [r for r in rows if r.src_table == "minorroads"]
    assert all(r.z_order is None for r in land)  # NULL-padded
    assert all(r.area is None for r in roads)
    assert len(land) > 0 and len(roads) > 0


def test_deploy_swap_atomic(spark, tmp_path):
    dep = Deploy(str(tmp_path))
    df1 = spark.createDataFrame([(1, 13.0, 52.0), (2, -70.0, 40.0)], "id long, lon double, lat double")
    v1 = dep.stage("pts", df1)
    dep.publish({"pts": v1})
    assert dep.read(spark, "pts").count() == 2

    df2 = spark.createDataFrame([(3, 0.0, 0.0)], "id long, lon double, lat double")
    v2 = dep.stage("pts", df2)
    # staged but not published: readers still see v1
    assert dep.read(spark, "pts").count() == 2
    dep.publish({"pts": v2})
    assert {r.id for r in dep.read(spark, "pts").collect()} == {3}
    # backup removal keeps only current
    removed = dep.remove_backups()
    assert removed == ["pts/v001"]
    assert dep.read(spark, "pts").count() == 1


def test_write_spatial_orders_by_cell(spark, tmp_path):
    rng = np.random.default_rng(42)
    df = spark.createDataFrame(
        [(int(i), float(lon), float(lat)) for i, (lon, lat) in enumerate(
            zip(rng.uniform(-170, 170, 500), rng.uniform(-80, 80, 500)))],
        "id long, lon double, lat double",
    )
    from imposm2_spark.sources.catalog import write_spatial

    path = str(tmp_path / "spatial")
    write_spatial(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 500
    assert {r.id for r in back.collect()} == set(range(500))

    # S9 layout: part files in partition order, each sorted by its level-8
    # Morton cell, and no cell range shared between two files
    import glob

    import pyarrow.parquet as pq

    from imposm2_spark.kernels.cells import cell_encode

    ranges = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        t = pq.read_table(f)
        if t.num_rows == 0:
            continue
        cells = cell_encode(t["lon"].to_numpy(), t["lat"].to_numpy(), 8)
        assert (np.diff(cells) >= 0).all(), f
        ranges.append((cells[0], cells[-1]))
    assert len(ranges) > 1
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges


def test_remove_backups_numeric_version_order(spark, tmp_path):
    """Review r4: version dirs must sort numerically — lexicographic order
    puts v1000 before v999 and deletes the newest backup while keeping
    stale ones."""
    import os

    from imposm2_spark.sources.catalog import Deploy

    dep = Deploy(str(tmp_path / "dep"))
    tdir = os.path.join(dep.root, "tables", "t")
    for v in ("v0998", "v0999", "v1000", "v1001"):
        os.makedirs(os.path.join(tdir, v))
    # stage() zero-pads to 3 digits only; simulate the >=v1000 regime the
    # continuous-update loop reaches, plus a legacy 3-digit dir
    os.rename(os.path.join(tdir, "v0998"), os.path.join(tdir, "v998"))
    os.rename(os.path.join(tdir, "v0999"), os.path.join(tdir, "v999"))
    dep.publish({"t": "v1001"})
    removed = dep.remove_backups(keep=2)
    assert sorted(os.listdir(tdir)) == sorted(["v1000", "v1001"])
    assert set(removed) == {"t/v998", "t/v999"}


def test_remove_backups_tolerates_junk_entries(spark, tmp_path):
    """ADVICE r4: a stray dotfile / editor backup / half-written temp dir in
    tables/<t>/ crashed GC (int('DS_Store'[1:]) etc.); only version-shaped
    names may participate, junk is skipped untouched."""
    import os

    from imposm2_spark.sources.catalog import Deploy

    dep = Deploy(str(tmp_path / "dep"))
    tdir = os.path.join(dep.root, "tables", "t")
    for v in ("v001", "v002", "v003"):
        os.makedirs(os.path.join(tdir, v))
    os.makedirs(os.path.join(tdir, "v003.tmp-8f2"))  # half-written stage
    with open(os.path.join(tdir, ".DS_Store"), "w") as f:
        f.write("junk")
    dep.publish({"t": "v003"})
    removed = dep.remove_backups(keep=1)
    assert set(removed) == {"t/v001", "t/v002"}
    assert sorted(os.listdir(tdir)) == sorted([".DS_Store", "v003", "v003.tmp-8f2"])


def test_generalized_table_null_geometry_row(spark, landusages):
    """Review r5: a NULL polygons cell (e.g. union_view NULL-padding or a
    nullable geometry read back from parquet) must be dropped BEFORE the
    Python boundary — pre-fix it killed the task, either as 'NoneType is
    not iterable' inside the UDF or as the pyarrow all-NULL deep-nested
    batch crash (r3 gotcha) before the UDF even ran."""
    nulled = landusages.limit(2).withColumn(
        "polygons",
        F.when(F.lit(True), F.lit(None)).cast(landusages.schema["polygons"].dataType),
    )
    mixed = landusages.unionByName(nulled)
    n_plain = generalized_table(landusages, tolerance=0.5).count()
    assert generalized_table(mixed, tolerance=0.5).count() == n_plain


def test_union_view_empty_raises(spark):
    from imposm2_spark.operators.generalize import union_view

    with pytest.raises(ValueError, match="at least one table"):
        union_view({})


def test_deploy_publish_failure_leaves_pointer_intact(spark, tmp_path, monkeypatch):
    """Review r5: a failed pointer PUT must leave the previous CURRENT
    readable and no .current_ temp litter (publish now fsyncs and cleans
    its temp under the flock'd critical section)."""
    import os

    dep = Deploy(str(tmp_path))
    df = spark.createDataFrame([(1, 13.0, 52.0)], "id long, lon double, lat double")
    v1 = dep.stage("t1", df)
    dep.publish({"t1": v1})
    assert dep.current() == {"t1": v1}

    real_replace = os.replace

    def poisoned(src, dst):
        if os.path.basename(dst) == "CURRENT":
            raise OSError("simulated PUT failure")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", poisoned)
    v2 = dep.stage("t1", df)
    with pytest.raises(OSError, match="simulated PUT failure"):
        dep.publish({"t1": v2})
    monkeypatch.undo()
    assert dep.current() == {"t1": v1}  # old pointer intact
    litter = [n for n in os.listdir(str(tmp_path)) if n.startswith(".current_")]
    assert litter == []


def test_remove_backups_ignores_staged_unpublished_versions(spark, tmp_path):
    """Review r5: a staged-but-unpublished successor (stage() ran, publish()
    not yet — the stream_updates per-batch window) must neither count
    against the backup budget nor be deleted: pre-fix it consumed a keep
    slot and the newest PUBLISHED backup was rmtree'd one version early."""
    import os

    from imposm2_spark.sources.catalog import Deploy

    dep = Deploy(str(tmp_path / "dep"))
    tdir = os.path.join(dep.root, "tables", "t")
    for v in ("v001", "v002", "v003", "v004"):
        os.makedirs(os.path.join(tdir, v))
    dep.publish({"t": "v003"})  # v004 is staged, not published
    removed = dep.remove_backups(keep=2)
    # keep=2 of the PUBLISHED versions (v002, v003) + the in-flight v004
    assert sorted(os.listdir(tdir)) == ["v002", "v003", "v004"]
    assert removed == ["t/v001"]
