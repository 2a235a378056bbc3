"""G6 + U1: generalized (simplified) tables and union views.

Reference analogs:
  G6 imposm/mapping.py::GeneralizedTable + imposm/db/postgis.py CTAS —
     `CREATE TABLE t_gen AS SELECT ST_Simplify(geometry, tol) ... WHERE ...`;
     here Douglas-Peucker (kernels.simplify) over Arrow batches, with the same
     drop-small-features intent: rings that collapse below 4 points vanish and
     are counted.
  U1 imposm/mapping.py::UnionView — UNION ALL with NULL-padded missing columns;
     here unionByName(allowMissingColumns=True) + a `src_table` discriminator.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels import geom, simplify
from ..kernels.wkb import coords_rows, multipolygon_wkb

_POLY_T = T.ArrayType(T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))


def _simplify_polygons(polys, tolerance: float) -> list:
    """Simplified [shell, hole, ...] per polygon: a collapsed shell drops
    its polygon incl. holes, a collapsed hole only itself."""
    out = []
    for rings in polys:
        shell = simplify.simplify_ring(rings[0], tolerance)
        if shell is None:
            continue
        holes = (simplify.simplify_ring(h, tolerance) for h in rings[1:])
        out.append([shell] + [h for h in holes if h is not None])
    return out


def generalized_table(
    origin: DataFrame,
    tolerance: float,
    where: Column | None = None,
    polygons_col: str = "polygons",
) -> DataFrame:
    """The GeneralizedTable CTAS: filter -> simplify -> recompute area/wkb,
    dropping features whose geometry collapsed at this tolerance. One Arrow
    crossing reads the geometry once and emits the surviving rows with
    their simplified polygons, area and wkb.

    NULL geometry rows (union_view NULL-padding, nullable parquet read-back)
    are dropped by a filter ahead of the crossing (review r5): a generalized
    table holds no feature without a geometry."""
    df = origin.where(F.col(polygons_col).isNotNull())
    if where is not None:
        df = df.where(where)
    cols = [c for c in df.columns if c not in ("area", "wkb")]
    out_schema = T.StructType(
        [T.StructField(c, _POLY_T) if c == polygons_col else df.schema[c] for c in cols]
        + [T.StructField("area", T.DoubleType()), T.StructField("wkb", T.BinaryType())]
    )

    def _batch(it):
        for b in it:
            keep, kept = [], []
            for i, polys in enumerate(coords_rows(b.column(polygons_col))):
                out = _simplify_polygons(polys, tolerance)
                if out:
                    keep.append(i)
                    kept.append(out)
            keep = pa.array(keep, pa.int64())
            simplified = pa.array(
                [[[r.tolist() for r in p] for p in polys] for polys in kept],
                b.schema.field(polygons_col).type,
            )
            yield pa.RecordBatch.from_arrays(
                [simplified if c == polygons_col else b.column(c).take(keep) for c in cols]
                + [
                    pa.array([geom.polygons_area(p) for p in kept], pa.float64()),
                    pa.array([multipolygon_wkb(p) for p in kept], pa.binary()),
                ],
                names=cols + ["area", "wkb"],
            )

    return df.select(*cols).mapInArrow(_batch, out_schema)


def simplify_lines_udf(tolerance: float):
    @F.arrow_udf(T.ArrayType(T.ArrayType(T.DoubleType())))
    def _udf(coords: pa.Array) -> pa.Array:
        return pa.array(
            [simplify.simplify_line(c, tolerance).tolist() for c in coords_rows(coords)],
            coords.type,
        )

    return _udf


def generalized_lines(
    origin: DataFrame, tolerance: float, where: Column | None = None,
    coords_col: str = "coords",
) -> DataFrame:
    # NULL geometry dropped before the Python boundary — see generalized_table
    df = origin.where(F.col(coords_col).isNotNull())
    if where is not None:
        df = df.where(where)
    return df.withColumn(coords_col, simplify_lines_udf(tolerance)(F.col(coords_col)))


@dataclass(frozen=True)
class GeneralizedTableSpec:
    """Spec-level GeneralizedTable declaration (imposm/mapping.py::
    GeneralizedTable: `tolerance` + `where`, origin may itself be a
    generalized table — the gen0-from-gen1 chain). Units are map units
    (degrees in this engine); `where` is a SQL boolean over the origin's
    columns, applied BEFORE simplification like the reference's CTAS WHERE."""

    name: str
    origin: str
    tolerance: float
    where: str | None = None
    kind: str = "polygon"  # 'polygon' -> generalized_table, 'line' -> generalized_lines


def materialize_generalized(
    tables: dict[str, DataFrame], gspecs: list[GeneralizedTableSpec]
) -> dict[str, DataFrame]:
    """Materialize generalized tables in declaration order; later specs may
    originate from earlier generalized outputs (the reference's chained CTAS)."""
    out = dict(tables)
    for g in gspecs:
        origin = out[g.origin]
        w = F.expr(g.where) if g.where else None
        if g.kind == "polygon":
            out[g.name] = generalized_table(origin, g.tolerance, where=w)
        else:
            out[g.name] = generalized_lines(origin, g.tolerance, where=w)
    return out


def union_view(tables: dict[str, DataFrame], names: list[str] | None = None) -> DataFrame:
    """U1: NULL-padded union with a src_table discriminator column."""
    names = names or sorted(tables)
    if not names:
        # reduce() over an empty list raises an opaque TypeError far from
        # the cause (review r5) — name the real problem instead
        raise ValueError("union_view requires at least one table")
    parts = [tables[n].withColumn("src_table", F.lit(n)) for n in names]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
