"""P1-P3 + F1-F10: the declarative mapping DSL compiled to Spark expressions.

Reference analog: imposm/mapping.py — Mapping subclasses (Points, LineStrings,
Polygons) declare `mapping={tag_key: (values...)}` and `fields=((col, FieldType),
...)`; imposm/dbimporter.py routes each element to every matching table. Here the
spec is pure data; routing is ONE broadcast join of exploded tag entries against
the spec table (the join IS the router — SURVEY.md P2), and every FieldType
compiles to a Column expression (JVM-side, codegen; no UDFs).

Match semantics (frozen):
  * element matches a table iff some tag (k, v) has k in the table's mapping and
    v in its value tuple, or the tuple contains '__any__' (imposm2 wildcard).
  * one output row per (element, table); when several tag pairs match the same
    table, the lexicographically smallest (key, value) pair wins (deterministic
    under tag-map iteration order — a documented divergence from imposm2, whose
    row choice followed dict order).
  * field_filter entries additionally gate the row (P3).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import cache_scope

ANY = "__any__"


# --------------------------------------------------------------------------
# Field types (imposm/mapping.py ~L400-650 semantics, SURVEY.md §2.8)
# --------------------------------------------------------------------------
class FieldType:
    """Compiles to a Column given (tags, matched_key, matched_value)."""

    def column(self, tags: Column, key: Column, value: Column) -> Column:
        raise NotImplementedError


@dataclass(frozen=True)
class String(FieldType):
    key: str

    def column(self, tags, key, value):
        return F.element_at(tags, self.key)


@dataclass(frozen=True)
class Name(FieldType):
    """imposm2 Name: the name tag — or a localized variant ('name:en',
    'name:de', ... via imposm2's mapping-config name columns, F2) — empty
    string when absent."""

    key: str = "name"

    def column(self, tags, key, value):
        return F.coalesce(F.element_at(tags, self.key), F.lit(""))


@dataclass(frozen=True)
class Type(FieldType):
    """The matched mapping VALUE (e.g. 'residential')."""

    def column(self, tags, key, value):
        return value


@dataclass(frozen=True)
class Class(FieldType):
    """The matched mapping KEY (e.g. 'highway')."""

    def column(self, tags, key, value):
        return key


FALSE_VALUES = ("", "0", "no", "false")


@dataclass(frozen=True)
class Bool(FieldType):
    """Frozen truth table: NULL/''/'0'/'no'/'false' (case-insensitive) -> false,
    anything else present -> true."""

    key: str

    def column(self, tags, key, value):
        v = F.lower(F.element_at(tags, self.key))
        return F.when(v.isNull() | v.isin(*FALSE_VALUES), F.lit(False)).otherwise(
            F.lit(True)
        )

    def predicate(self, tags: Column) -> Column:
        """As a field_filter: keep rows where the bool is true."""
        return self.column(tags, None, None)


@dataclass(frozen=True)
class Direction(FieldType):
    """oneway: 1/yes/true -> 1, -1/reverse -> -1, else 0 (imposm2 Direction)."""

    key: str

    def column(self, tags, key, value):
        v = F.lower(F.element_at(tags, self.key))
        return (
            F.when(v.isin("1", "yes", "true"), F.lit(1))
            .when(v.isin("-1", "reverse"), F.lit(-1))
            .otherwise(F.lit(0))
        )


@dataclass(frozen=True)
class Integer(FieldType):
    """Parse int, NULL on failure (imposm2 Integer swallows ValueError)."""

    key: str

    def column(self, tags, key, value):
        return F.element_at(tags, self.key).try_cast("int")


@dataclass(frozen=True)
class OneOfInt(FieldType):
    """Keep only listed ints (admin_level); NULL otherwise. As a field_filter
    it drops the row when the value is not allowed."""

    key: str
    allowed: tuple[int, ...]

    def column(self, tags, key, value):
        v = F.element_at(tags, self.key).try_cast("int")
        return F.when(v.isin(*self.allowed), v)

    def predicate(self, tags: Column) -> Column:
        return F.element_at(tags, self.key).try_cast("int").isin(*self.allowed)


DEFAULT_WAY_RANKS = (
    "minor", "road", "unclassified", "residential", "tertiary_link", "tertiary",
    "secondary_link", "secondary", "primary_link", "primary", "trunk_link",
    "trunk", "motorway_link", "motorway",
)


@dataclass(frozen=True)
class WayZOrder(FieldType):
    """Road draw order (imposm/mapping.py::WayZOrder semantics, frozen formula):
    z = rank(matched value in ranks, 1-based, 0 if absent) + 10 * int(layer)
        + 1 if bridge truthy, - 1 if tunnel truthy."""

    ranks: tuple[str, ...] = DEFAULT_WAY_RANKS

    def column(self, tags, key, value):
        rank = F.array_position(F.lit(list(self.ranks)).cast("array<string>"), value)
        layer = F.coalesce(F.element_at(tags, "layer").try_cast("int"), F.lit(0))
        bridge = Bool("bridge").column(tags, key, value)
        tunnel = Bool("tunnel").column(tags, key, value)
        return (
            rank.cast("int")
            + layer * 10
            + F.when(bridge, 1).otherwise(0)
            - F.when(tunnel, 1).otherwise(0)
        )


@dataclass(frozen=True)
class PseudoArea(FieldType):
    """F10 — imposm2 PseudoArea (imposm/mapping.py::PseudoArea): the polygon's
    area in squared map units, used by renderers for label ordering. The
    geometry kernel computes `area` at assembly time (shoelace, holes
    subtracted); this field type surfaces it through the mapping DSL. NULL
    when the element frame carries no geometry (imposm2 returns None when the
    geometry is missing too)."""

    source_col: str = "area"

    @property
    def requires(self) -> tuple[str, ...]:
        return (self.source_col,)

    null_type = "double"

    def column(self, tags, key, value):
        return F.col(self.source_col).cast("double")


@dataclass(frozen=True)
class ZOrder(FieldType):
    """Rank by position of the matched value in a priority list (1-based; 0 if
    absent) — imposm2 ZOrder."""

    types: tuple[str, ...]

    def column(self, tags, key, value):
        return F.array_position(
            F.lit(list(self.types)).cast("array<string>"), value
        ).cast("int")


# --------------------------------------------------------------------------
# Table specs
# --------------------------------------------------------------------------
GEOM_POINT, GEOM_LINESTRING, GEOM_POLYGON = "point", "linestring", "polygon"


@dataclass(frozen=True)
class TableSpec:
    name: str
    geom_type: str
    mapping: dict[str, tuple[str, ...]]
    fields: tuple[tuple[str, FieldType], ...] = ()
    field_filter: tuple[FieldType, ...] = ()  # each must expose .predicate(tags)

    def spec_rows(self) -> list[tuple[str, str, str, str]]:
        return [
            (self.name, self.geom_type, k, v)
            for k, vals in sorted(self.mapping.items())
            for v in sorted(vals)
        ]


def spec_tag_keys(specs: list[TableSpec]) -> set[str]:
    """S3: the parse-time tag whitelist implied by a spec list — every mapping
    key, every field/filter source key, plus the keys the engine itself needs
    ('type' for relation routing, 'name' for Name/A4 inheritance). Matches
    imposm2's tag_filter (imposm/app.py::main builds it from the mapping file):
    tags outside this set never survive past the scan, so they neither shuffle
    through J1/J2 nor count as 'own interesting tags' in P4 suppression."""
    keys: set[str] = {"type", "name"}
    for s in specs:
        keys.update(s.mapping.keys())
        for _, ft in list(s.fields) + [(None, f) for f in s.field_filter]:
            k = getattr(ft, "key", None)
            if isinstance(k, str):
                keys.add(k)
            if isinstance(ft, WayZOrder):
                keys.update(("layer", "bridge", "tunnel"))
    return keys


def prune_tags(df: DataFrame, keys: set[str], tags_col: str = "tags") -> DataFrame:
    """map_filter the tag map down to the whitelist (one projection, no UDF)."""
    allowed = sorted(keys)
    return df.withColumn(
        tags_col, F.map_filter(F.col(tags_col), lambda k, v: k.isin(*allowed))
    )


def spec_df(spark: SparkSession, specs: list[TableSpec]) -> DataFrame:
    rows = [r for s in specs for r in s.spec_rows()]
    return spark.createDataFrame(
        rows, "table string, geom_type string, match_key string, match_value string"
    )


def route(
    elements: DataFrame,
    specs: list[TableSpec],
    spark: SparkSession,
    id_col: str = "id",
    tags_col: str = "tags",
) -> DataFrame:
    """P1+P2: one row per (element, matched table) with matched_key/matched_value.

    Physical shape: explode(map_entries(tags)) -> broadcast hash join on tag key
    (wildcard handled by an equi-post-condition) -> min_by dedup per (id, table).
    """
    entries = elements.select(
        F.col(id_col).alias("_eid"),
        F.col(tags_col).alias("_tags"),
        *[c for c in elements.columns if c not in (id_col, tags_col)],
        F.explode(F.map_entries(F.col(tags_col))).alias("_kv"),
    ).select("*", F.col("_kv.key").alias("_k"), F.col("_kv.value").alias("_v"))

    spec = F.broadcast(spec_df(spark, specs))
    matched = entries.join(
        spec,
        (entries["_k"] == spec["match_key"])
        & ((spec["match_value"] == entries["_v"]) | (spec["match_value"] == ANY)),
        "inner",
    ).withColumn(
        "matched_value",
        F.when(F.col("match_value") == ANY, F.col("_v")).otherwise(F.col("match_value")),
    )

    carried = [c for c in elements.columns if c not in (id_col, tags_col)]
    # deterministic single match per (element, table): smallest (key, value)
    dedup = matched.groupBy("_eid", "table", "geom_type").agg(
        F.min(F.struct(F.col("_k").alias("k"), F.col("matched_value").alias("v"))).alias("_m"),
        F.first("_tags").alias("_tags"),
        *[F.first(c).alias(c) for c in carried],
    )
    return dedup.select(
        F.col("_eid").alias(id_col),
        "table",
        "geom_type",
        F.col("_m.k").alias("matched_key"),
        F.col("_m.v").alias("matched_value"),
        F.col("_tags").alias(tags_col),
        *carried,
    )


def apply_fields(routed: DataFrame, spec: TableSpec, tags_col: str = "tags") -> DataFrame:
    """P3 + F*: filter to one table, apply field_filter predicates, derive columns."""
    df = routed.where(F.col("table") == spec.name)
    tags = F.col(tags_col)
    for flt in spec.field_filter:
        df = df.where(flt.predicate(tags))
    # one schema fetch (each .columns is a driver round-trip; this fn runs
    # once per table so the chattiness multiplies across a 16-table import)
    columns = df.columns
    derived_names = {name for name, _ in spec.fields}
    cols = [
        F.col(c)
        for c in columns
        if c not in ("table", "geom_type", "matched_key", "matched_value", tags_col)
        and c not in derived_names  # derived fields shadow carried columns
    ]
    derived = []
    for name, ft in spec.fields:
        required = getattr(ft, "requires", ())
        if any(r not in columns for r in required):
            # geometry-derived field over a frame with no geometry -> NULL
            derived.append(F.lit(None).cast(getattr(ft, "null_type", "string")).alias(name))
        else:
            derived.append(
                ft.column(tags, F.col("matched_key"), F.col("matched_value")).alias(name)
            )
    return df.select(*cols, *derived)


def build_tables(
    elements: DataFrame,
    specs: list[TableSpec],
    spark: SparkSession,
    id_col: str = "id",
    tags_col: str = "tags",
) -> dict[str, DataFrame]:
    """The full P1-P3/F* stage: route once, derive fields per table spec.

    r6: "route once" is now physically true — with several specs, each
    per-table apply_fields branch used to re-execute the routing join +
    dedup aggregation (DataFrame branches share no work without a cache);
    the routed frame is persisted across the branches (released on the next
    invocation, session.cache_scope)."""
    hold = cache_scope("build_tables")
    routed = route(elements, specs, spark, id_col=id_col, tags_col=tags_col)
    if len(specs) > 1:
        routed = hold(routed)
    return {s.name: apply_fields(routed, s, tags_col=tags_col) for s in specs}
