"""Default table specs — the imposm/defaultmapping.py analog, as pure data.

A representative subset of imposm2's default mapping (places, roads split by
class, buildings, landusages, waterways/waterareas, admin boundaries), enough
to exercise every FieldType except Class (the matched key; tested on its own
in tests/test_mapping.py) and the union-view/generalized-table machinery.
Semantics per table follow the public imposm.org default mapping docs.
"""

from __future__ import annotations

from .generalize import GeneralizedTableSpec
from .mapping import (
    Bool,
    Direction,
    Integer,
    Name,
    OneOfInt,
    PseudoArea,
    String,
    TableSpec,
    Type,
    WayZOrder,
    ZOrder,
    GEOM_LINESTRING,
    GEOM_POINT,
    GEOM_POLYGON,
)

PLACES = TableSpec(
    name="places",
    geom_type=GEOM_POINT,
    mapping={
        "place": (
            "country", "state", "region", "county", "city", "town",
            "village", "hamlet", "suburb", "locality",
        )
    },
    fields=(
        ("name", Name()),
        ("name_en", Name("name:en")),
        ("name_de", Name("name:de")),
        ("type", Type()),
        ("z_order", ZOrder(("country", "state", "region", "county", "city",
                            "town", "village", "hamlet", "suburb", "locality"))),
        ("population", Integer("population")),
    ),
)

MAINROADS = TableSpec(
    name="mainroads",
    geom_type=GEOM_LINESTRING,
    mapping={
        "highway": ("motorway", "motorway_link", "trunk", "trunk_link",
                    "primary", "primary_link", "secondary", "secondary_link"),
    },
    fields=(
        ("name", Name()),
        ("type", Type()),
        ("tunnel", Bool("tunnel")),
        ("bridge", Bool("bridge")),
        ("oneway", Direction("oneway")),
        ("ref", String("ref")),
        ("z_order", WayZOrder()),
    ),
)

MINORROADS = TableSpec(
    name="minorroads",
    geom_type=GEOM_LINESTRING,
    mapping={
        "highway": ("tertiary", "tertiary_link", "residential", "unclassified",
                    "road", "living_street", "service", "track"),
    },
    fields=(
        ("name", Name()),
        ("type", Type()),
        ("tunnel", Bool("tunnel")),
        ("bridge", Bool("bridge")),
        ("oneway", Direction("oneway")),
        ("z_order", WayZOrder()),
    ),
)

RAILWAYS = TableSpec(
    name="railways",
    geom_type=GEOM_LINESTRING,
    mapping={"railway": ("rail", "tram", "light_rail", "subway", "narrow_gauge")},
    fields=(
        ("name", Name()),
        ("type", Type()),
        ("tunnel", Bool("tunnel")),
        ("bridge", Bool("bridge")),
        ("z_order", WayZOrder()),
    ),
)

BUILDINGS = TableSpec(
    name="buildings",
    geom_type=GEOM_POLYGON,
    mapping={"building": ("__any__",)},
    fields=(("name", Name()), ("type", Type()), ("area", PseudoArea())),
)

LANDUSAGES = TableSpec(
    name="landusages",
    geom_type=GEOM_POLYGON,
    mapping={
        "landuse": ("park", "forest", "residential", "retail", "commercial",
                    "industrial", "grass", "farmland", "cemetery", "meadow"),
        "natural": ("wood", "scrub", "wetland", "heath"),
        "leisure": ("park", "garden", "playground", "golf_course", "pitch"),
        "amenity": ("university", "school", "college", "hospital"),
    },
    fields=(("name", Name()), ("type", Type()), ("area", PseudoArea())),
)

WATERWAYS = TableSpec(
    name="waterways",
    geom_type=GEOM_LINESTRING,
    mapping={"waterway": ("river", "stream", "canal", "drain", "ditch")},
    fields=(("name", Name()), ("type", Type())),
)

WATERAREAS = TableSpec(
    name="waterareas",
    geom_type=GEOM_POLYGON,
    mapping={
        "waterway": ("riverbank",),
        "natural": ("water",),
        "landuse": ("reservoir", "basin"),
    },
    fields=(("name", Name()), ("type", Type()), ("area", PseudoArea())),
)

ADMIN = TableSpec(
    name="admin",
    geom_type=GEOM_POLYGON,
    mapping={"boundary": ("administrative",)},
    fields=(
        ("name", Name()),
        ("type", Type()),
        ("admin_level", OneOfInt("admin_level", (1, 2, 3, 4, 5, 6))),
    ),
    field_filter=(OneOfInt("admin_level", (1, 2, 3, 4, 5, 6)),),
)

MOTORWAYS = TableSpec(
    name="motorways",
    geom_type=GEOM_LINESTRING,
    mapping={"highway": ("motorway", "motorway_link", "trunk", "trunk_link")},
    fields=(
        ("name", Name()),
        ("type", Type()),
        ("tunnel", Bool("tunnel")),
        ("bridge", Bool("bridge")),
        ("oneway", Direction("oneway")),
        ("ref", String("ref")),
        ("z_order", WayZOrder()),
    ),
)

AMENITIES = TableSpec(
    name="amenities",
    geom_type=GEOM_POINT,
    mapping={
        "amenity": ("university", "school", "library", "fuel", "hospital",
                    "fire_station", "police", "townhall"),
    },
    fields=(("name", Name()), ("type", Type())),
)

TRANSPORT_POINTS = TableSpec(
    name="transport_points",
    geom_type=GEOM_POINT,
    mapping={
        "highway": ("mini_roundabout", "bus_stop", "traffic_signals"),
        "railway": ("station", "halt", "tram_stop", "crossing",
                    "level_crossing", "subway_entrance"),
        "aeroway": ("aerodrome", "terminal", "helipad", "gate"),
    },
    fields=(("name", Name()), ("type", Type()), ("ref", String("ref"))),
)

TRANSPORT_AREAS = TableSpec(
    name="transport_areas",
    geom_type=GEOM_POLYGON,
    mapping={
        "railway": ("station", "platform"),
        "aeroway": ("aerodrome", "terminal", "helipad", "apron"),
    },
    fields=(("name", Name()), ("type", Type()), ("area", PseudoArea())),
)

AEROWAYS = TableSpec(
    name="aeroways",
    geom_type=GEOM_LINESTRING,
    mapping={"aeroway": ("runway", "taxiway")},
    fields=(("name", Name()), ("type", Type())),
)

BARRIERPOINTS = TableSpec(
    name="barrierpoints",
    geom_type=GEOM_POINT,
    mapping={
        "barrier": ("block", "bollard", "cattle_grid", "chain", "cycle_barrier",
                    "entrance", "horse_stile", "gate", "spikes", "lift_gate",
                    "kissing_gate", "fence", "yes", "wire_fence", "toll_booth",
                    "stile"),
    },
    fields=(("name", Name()), ("type", Type())),
)

BARRIERWAYS = TableSpec(
    name="barrierways",
    geom_type=GEOM_LINESTRING,
    mapping={
        "barrier": ("city_wall", "fence", "hedge", "retaining_wall", "wall",
                    "bollard", "gate", "spikes", "lift_gate", "kissing_gate",
                    "embankment", "yes", "wire_fence"),
    },
    fields=(("name", Name()), ("type", Type())),
)

ALL_SPECS = [
    PLACES, MAINROADS, MINORROADS, RAILWAYS, BUILDINGS, LANDUSAGES,
    WATERWAYS, WATERAREAS, ADMIN, MOTORWAYS, AMENITIES, TRANSPORT_POINTS,
    TRANSPORT_AREAS, AEROWAYS, BARRIERPOINTS, BARRIERWAYS,
]

# union view over the road-ish tables (imposm2 `roads` UnionView analog)
ROADS_UNION_TABLES = ("mainroads", "minorroads", "railways")

# Generalized-table chain (imposm2 defaultmapping landusages_gen1/gen0:
# tolerance + min-area where, gen0 chained FROM gen1). Units are map units
# (degrees here); thresholds scaled to this engine's fixture/test geometry.
LANDUSAGES_GEN1 = GeneralizedTableSpec(
    name="landusages_gen1", origin="landusages", tolerance=1.0,
    where="area >= 50.0",
)
LANDUSAGES_GEN0 = GeneralizedTableSpec(
    name="landusages_gen0", origin="landusages_gen1", tolerance=2.0,
    where="area >= 100.0",
)
MAINROADS_GEN0 = GeneralizedTableSpec(
    name="mainroads_gen0", origin="mainroads", tolerance=1.0, kind="line",
)
GENERALIZED_SPECS = [LANDUSAGES_GEN1, LANDUSAGES_GEN0, MAINROADS_GEN0]
