"""End-to-end import pipeline: fixture OSM layer -> mapped geometry tables.

The --write analog (SURVEY §3.2): asserts relation-before-way dependency (P4),
per-table routing, and that the grid filler lands in buildings/minorroads."""

import pytest
from pyspark.sql import functions as F

from imposm2_spark.operators import defaultmapping as dm
from imposm2_spark.plans.import_pipeline import import_tables
from imposm2_spark.sources import fixtures

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def tables(spark):
    nodes, ways, relations = fixtures.osm_dfs(spark)
    out = import_tables(spark, nodes, ways, relations, dm.ALL_SPECS)
    return {k: v.cache() for k, v in out.items()}


def test_landusages_from_relations_and_ways(tables):
    rows = {r.id: r for r in tables["landusages"].collect()}
    # MP-01 park relation (rel_id 1)
    assert rows[1].type == "park" and rows[1].area == pytest.approx(96.0)
    # MP-06 inherited forest (rel_id 6)
    assert rows[6].type == "forest"
    # MP-07 way 71 suppressed (relation 7 took it); relation 7 present
    assert 71 not in rows and 7 in rows
    # MP-09 degenerate: neither relation 9 nor way 91 appear
    assert 9 not in rows and 91 not in rows


def test_waterareas_from_mp02(tables):
    rows = {r.id: r for r in tables["waterareas"].collect()}
    assert rows[2].type == "water" and rows[2].area == pytest.approx(100.0)


def test_buildings_grid_blocks(tables):
    b = tables["buildings"]
    assert b.count() == 81  # 9x9 closed blocks, all building=yes
    one = b.where(F.col("id") == 100_010).collect()[0]
    assert one.type == "yes" and one.area == pytest.approx(1e-4)


def test_minorroads_streets(tables):
    m = tables["minorroads"]
    rows = m.collect()
    # streets 0,3,6,9 tagged residential + MP-08 way 81 (highway=track)
    assert {r.id for r in rows} == {100_000, 100_003, 100_006, 100_009, 81}
    by_id = {r.id: r for r in rows}
    assert by_id[100_000].name == "street 0"
    assert by_id[100_000].z_order == 4  # residential rank, no layer/bridge


def test_mp08_way_emitted_to_both(tables):
    # way 81 has highway=track (minorroads) AND landuse=park; it was NOT
    # suppressed (distinct tags), so it appears as a landusage way polygon too
    minor_ids = {r.id for r in tables["minorroads"].collect()}
    # way 81 is closed; linestring tables accept closed ways as lines
    assert 81 in minor_ids
    land_ids = {r.id for r in tables["landusages"].collect()}
    assert 81 in land_ids and 8 in land_ids


def test_places_empty_no_node_tags(tables):
    assert tables["places"].count() == 0


def test_import_tables_releases_predecessor_caches(spark):
    """Review r5: CacheManager entries are not GC'd with Python references —
    each import_tables() call must unpersist its predecessor's six cached
    intermediates, bounding the footprint at one live invocation."""
    from imposm2_spark.plans import import_pipeline as IP
    from imposm2_spark.operators import defaultmapping as dm
    from imposm2_spark.session import _SCOPES
    from imposm2_spark.sources import fixtures

    nodes, ways, relations = fixtures.osm_dfs(spark)
    out1 = IP.import_tables(spark, nodes, ways, relations, dm.ALL_SPECS)
    next(iter(out1.values())).count()
    prev = list(_SCOPES["import_tables"])
    assert prev and any(df.storageLevel.useMemory for df in prev)
    out2 = IP.import_tables(spark, nodes, ways, relations, dm.ALL_SPECS)
    next(iter(out2.values())).count()
    assert all(not df.storageLevel.useMemory for df in prev)
    held = _SCOPES["import_tables"]
    assert held and all(df not in prev for df in held)
