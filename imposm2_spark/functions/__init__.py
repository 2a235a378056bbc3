"""Scalar-function surface: column expressions + vectorized Arrow UDFs.

Reference analog: the FieldType classes of imposm/mapping.py (SURVEY.md §2.8)
plus the graft's web-document functions (HTML->text, geotag, cell encode).
Everything here is a pure Column expression (JVM-side, codegen'd), an
arrow_udf, or a plain-Python/Arrow kernel: the document
functions (textx, geotag) are whole-batch Arrow kernels that
plans.pipeline._enrich runs in its one mapInArrow crossing, with their
per-row twins (extract_text_bytes, geotag_pair) as fallback and reference.
Never a row-at-a-time Python UDF.
"""
