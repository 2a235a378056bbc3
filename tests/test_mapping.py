"""Mapping DSL parity tests: routing + field-type truth tables (FIXTURES TAG-01).

Reference analog: imposm2's tag-mapping unit tests (SURVEY.md §5.1) — the
north_star requires matching these row-for-row; the truth tables here encode
the frozen engine semantics documented in operators/mapping.py.
"""

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from imposm2_spark.operators import defaultmapping as dm
from imposm2_spark.operators.mapping import (
    ANY,
    Bool,
    Class,
    Direction,
    Integer,
    OneOfInt,
    TableSpec,
    WayZOrder,
    ZOrder,
    build_tables,
    route,
)

pytestmark = pytest.mark.spark


def _elements(spark, rows):
    return spark.createDataFrame(rows, "id long, tags map<string,string>")


def test_route_basic_and_any(spark):
    els = _elements(
        spark,
        [
            (1, {"highway": "primary", "name": "A1"}),
            (2, {"building": "hut"}),  # __any__ match
            (3, {"highway": "footway"}),  # not mapped
            (4, {"landuse": "forest", "highway": "primary"}),  # two tables
            (5, {}),
        ],
    )
    routed = route(els, dm.ALL_SPECS, spark)
    got = {(r.id, r.table, r.matched_key, r.matched_value) for r in routed.collect()}
    assert got == {
        (1, "mainroads", "highway", "primary"),
        (2, "buildings", "building", "hut"),
        (4, "mainroads", "highway", "primary"),
        (4, "landusages", "landuse", "forest"),
    }


def test_route_deterministic_multi_match_same_table(spark):
    """landuse=park and leisure=park both map to landusages: smallest (key,
    value) pair wins -> landuse before leisure."""
    els = _elements(spark, [(1, {"leisure": "park", "landuse": "park"})])
    r = route(els, [dm.LANDUSAGES], spark).collect()
    assert len(r) == 1
    assert (r[0].matched_key, r[0].matched_value) == ("landuse", "park")


def test_bool_truth_table(spark):
    cases = {
        None: False, "no": False, "false": False, "0": False, "": False,
        "NO": False, "False": False,
        "yes": True, "true": True, "1": True, "viaduct": True,
    }
    rows = [(i, ({"bridge": v} if v is not None else {})) for i, v in enumerate(cases)]
    df = _elements(spark, rows).select(
        "id", Bool("bridge").column(F.col("tags"), None, None).alias("b")
    )
    got = {r.id: r.b for r in df.collect()}
    for i, (v, expected) in enumerate(cases.items()):
        assert got[i] == expected, f"bridge={v!r}"


def test_direction_truth_table(spark):
    cases = {"yes": 1, "true": 1, "1": 1, "-1": -1, "reverse": -1,
             "no": 0, "0": 0, "weird": 0, None: 0}
    rows = [(i, ({"oneway": v} if v is not None else {})) for i, v in enumerate(cases)]
    df = _elements(spark, rows).select(
        "id", Direction("oneway").column(F.col("tags"), None, None).alias("d")
    )
    got = {r.id: r.d for r in df.collect()}
    for i, (v, expected) in enumerate(cases.items()):
        assert got[i] == expected, f"oneway={v!r}"


def test_integer_and_oneofint(spark):
    rows = [
        (1, {"population": "12000", "admin_level": "2"}),
        (2, {"population": "many", "admin_level": "11"}),
        (3, {"population": "-5", "admin_level": "x"}),
        (4, {}),
    ]
    df = _elements(spark, rows).select(
        "id",
        Integer("population").column(F.col("tags"), None, None).alias("pop"),
        OneOfInt("admin_level", (1, 2, 3, 4, 5, 6)).column(F.col("tags"), None, None).alias("lvl"),
    )
    got = {r.id: (r.pop, r.lvl) for r in df.collect()}
    assert got == {1: (12000, 2), 2: (None, None), 3: (-5, None), 4: (None, None)}


def test_way_z_order_formula(spark):
    els = _elements(
        spark,
        [
            (1, {"highway": "motorway"}),
            (2, {"highway": "motorway", "layer": "2"}),
            (3, {"highway": "residential", "bridge": "yes"}),
            (4, {"highway": "residential", "tunnel": "yes"}),
            (5, {"highway": "primary", "layer": "-1"}),
        ],
    )
    routed = route(els, [dm.MAINROADS, dm.MINORROADS], spark)
    z = WayZOrder().column(F.col("tags"), F.col("matched_key"), F.col("matched_value"))
    got = {r.id: r.z for r in routed.select("id", z.alias("z")).collect()}
    ranks = dm.WayZOrder().ranks if hasattr(dm, "WayZOrder") else None
    assert got[1] == 14          # motorway rank
    assert got[2] == 14 + 20     # + layer*10
    assert got[3] == 4 + 1       # residential + bridge
    assert got[4] == 4 - 1       # residential - tunnel
    assert got[5] == 10 - 10     # primary + layer -1


def test_zorder_priority_list(spark):
    els = _elements(spark, [(1, {"place": "city"}), (2, {"place": "hamlet"})])
    tables = build_tables(els, [dm.PLACES], spark)
    got = {r.id: r.z_order for r in tables["places"].collect()}
    assert got == {1: 5, 2: 8}


def test_field_filter_drops_rows(spark):
    els = _elements(
        spark,
        [
            (1, {"boundary": "administrative", "admin_level": "2"}),
            (2, {"boundary": "administrative", "admin_level": "9"}),
            (3, {"boundary": "administrative"}),
        ],
    )
    tables = build_tables(els, [dm.ADMIN], spark)
    rows = tables["admin"].collect()
    assert [r.id for r in rows] == [1]
    assert rows[0].admin_level == 2


def test_build_tables_field_columns(spark):
    els = _elements(
        spark,
        [(7, {"highway": "secondary", "name": "B96", "oneway": "yes",
              "bridge": "viaduct", "ref": "B 96"})],
    )
    # Class (SURVEY F3) is no default-mapping field: add it to one spec
    mainroads = replace(dm.MAINROADS, fields=(*dm.MAINROADS.fields, ("class", Class())))
    specs = [mainroads if s is dm.MAINROADS else s for s in dm.ALL_SPECS]
    tables = build_tables(els, specs, spark)
    r = tables["mainroads"].collect()[0]
    assert (r.id, r.name, r.type, r.tunnel, r.bridge, r.oneway, r.ref) == (
        7, "B96", "secondary", False, True, 1, "B 96"
    )
    assert r["class"] == "highway"  # the matched mapping key
    # untouched tables are empty, schema intact
    assert tables["places"].count() == 0
    assert "z_order" in tables["places"].columns


def test_route_stays_broadcast(spark):
    els = _elements(spark, [(1, {"highway": "primary"})])
    plan = route(els, dm.ALL_SPECS, spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
