"""imposm2_spark — a from-scratch PySpark-native spatial import-and-tiling engine.

Re-expresses the pipeline semantics of omniscale/imposm2 (an OSM batch importer:
tag mapping -> geometry assembly -> generalized tables -> atomic deploy) as idiomatic
Spark DataFrame operators over Common-Crawl-style web-page tables, plus the spatial
query layer the north rule adds: hierarchical cell index (Morton/quadkey, H3/S2-style),
point-in-polygon joins, kNN, raster<->vector tile assignment, and the large-scale
training-data ops (dedup, similarity search, text analysis).

Design rules (see SURVEY.md):
- DataFrame/Catalyst first; Python only behind Arrow-batched crossings
  (mapInArrow, applyInArrow, arrow_udf).
- No per-row Python UDFs anywhere (enforced by tests/test_no_row_udfs.py).
- All kernels NumPy-vectorized over Arrow batches.
"""

__version__ = "0.1.0"
