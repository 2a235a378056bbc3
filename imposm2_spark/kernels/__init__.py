"""Vectorized NumPy geometry/cell kernels (the engine's "Cython role").

Reference analog: imposm2's hot paths were Cython (imposm/cache/kc.pyx) and
Shapely/GEOS (imposm/geom.py, imposm/multipolygon.py). This engine has neither;
every kernel here is pure NumPy over Arrow batches, called from Arrow UDFs,
mapInArrow and applyInArrow — never per-row Python in the Spark hot path.
Geometry columns reach them as (N,2) float64 views (wkb.coords_rows).
"""
