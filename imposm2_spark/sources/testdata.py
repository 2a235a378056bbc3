"""Driver testdata loaders (S1 scan role) + derived deterministic point sets.

The sandbox's Iceberg-table stand-in is plain parquet (SURVEY.md Appendix A);
`load` is the single scan entry so a real Iceberg catalog can slot in later.

`derived_points` assigns each document a deterministic (lon, lat) by integer
arithmetic on doc_id — the SQL-expressible twin of the blake2b url-hash geotag
(functions.geotag), used by every DuckDB-oracle-checked spatial query so the
oracle can reproduce it exactly (see plans.registry PTS_SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table not in TABLES:
        raise ValueError(f"unknown table {table!r}; expected one of {TABLES}")
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def load_spread(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """`load` + a scale-adaptive parallelism floor for CPU-heavy consumers.

    The driver tables are single-file parquet with ONE row group (verified:
    documents/embeddings at every sf), and parquet byte-range splits land on
    row-group boundaries — so the scan yields ~2 partitions no matter the
    core count, and a scan-bound plan (interpreted hash folds, regex chains,
    Arrow kernels) runs 2 tasks on 32 cores. This is the guide §2.5
    "unsplittable input" case: repartition immediately after the read.

    Scale-adaptive by construction: the round-robin repartition fires ONLY
    when the scan has fewer partitions than the session's parallelism — a
    production-sized table (>= cores x maxPartitionBytes) never triggers it,
    so nothing here is tuned to local[32]. Deterministic under retries via
    Spark's default sort-before-repartition. Use plain `load` for cheap
    scan-bound plans where pushdown/zero-shuffle shape matters more than
    parallelism (their plan locks pin that choice)."""
    df = load(spark, sf_dir, table)
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df


# lon in [-180, 180), lat in [-85, 85) on a 0.0001-degree grid — exact in f64
LON_MOD, LAT_MOD = 3_600_000, 1_700_000
LON_MUL, LAT_MUL = 9973, 7919


def derived_points(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """spread=True applies the load_spread parallelism floor (see
    derived_points_dense); zero-shuffle consumers (tile-assign plan locks)
    keep the raw scan."""
    docs = (load_spread if spread else load)(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ((F.col("doc_id") * LON_MUL) % LON_MOD / 10_000.0 - 180.0).alias("lon"),
        ((F.col("doc_id") * LAT_MUL) % LAT_MOD / 10_000.0 - 85.0).alias("lat"),
    )


PTS_SQL = f"""
SELECT doc_id,
       ((doc_id * {LON_MUL}) % {LON_MOD}) / 10000.0 - 180.0 AS lon,
       ((doc_id * {LAT_MUL}) % {LAT_MOD}) / 10000.0 - 85.0  AS lat
FROM documents
"""

# dense variant: every document lands in [-20, 20)^2 so polygon-join queries
# have non-vacuous results at every sf (the admin grid covers [-10, 10]^2)
DENSE_MOD = 400_000


def derived_points_dense(
    spark: SparkSession, sf_dir: str, spread: bool = False
) -> DataFrame:
    """spread=True applies the load_spread parallelism floor — for consumers
    whose per-point work (PIP refine UDF, kNN candidate fan-out) dominates;
    zero-shuffle consumers (tile math plan locks) keep the raw scan."""
    docs = (load_spread if spread else load)(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        ((F.col("doc_id") * LON_MUL) % DENSE_MOD / 10_000.0 - 20.0).alias("lon"),
        ((F.col("doc_id") * LAT_MUL) % DENSE_MOD / 10_000.0 - 20.0).alias("lat"),
    )


PTS_DENSE_SQL = f"""
SELECT doc_id,
       ((doc_id * {LON_MUL}) % {DENSE_MOD}) / 10000.0 - 20.0 AS lon,
       ((doc_id * {LAT_MUL}) % {DENSE_MOD}) / 10000.0 - 20.0 AS lat
FROM documents
"""


def replicate_docs(
    docs: DataFrame, replication: int, spark: SparkSession, cols: tuple[str, ...] = ("text",)
) -> DataFrame:
    """Crawl-mirror fan-out of the bench.py headlines:
    replicate the docs table R times with DISJOINT doc_ids (rep * 1e6 shift
    — testdata ids stay far below 1e6) and verbatim payload columns, via a
    parallel range x broadcast cross-join so partitioning follows the range
    and parallelism is free."""
    if replication <= 1:
        return docs.select("doc_id", *cols)
    reps = spark.range(0, replication, numPartitions=max(32, replication // 4))
    return (
        reps.withColumnRenamed("id", "rep")
        .join(F.broadcast(docs))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(1_000_000)).alias("doc_id"),
            *cols,
        )
    )


def _grid4(units: Column) -> Column:
    """`units` * 1e-4 as "%.4f" renders it, from integer arithmetic: sign,
    integer part, '.', the 4-digit fraction. Not cast("string") of the
    double: Java's Double.toString turns |v| < 1e-3 into scientific notation
    ("1.0E-4"), which the geotag meta regex rejects. On this exact grid
    nothing rounds, so this equals format_string("%.4f") of the double
    (java.util.Formatter per value) without its cost."""
    mag = F.abs(units)
    frac = mag % 10_000
    return F.concat(
        F.when(units < 0, F.lit("-")).otherwise(F.lit("")),
        ((mag - frac) / 10_000).cast("long").cast("string"),
        F.lit("."),
        F.lpad(frac.cast("string"), 4, "0"),
    )


def synth_documents_web(
    docs: DataFrame, replication: int | None = None, spark: SparkSession | None = None
) -> DataFrame:
    """Wrap the driver `documents` table into the input_hint web-page shape
    (url, warc_ts, html, text, lang) with pure Column ops — no Python boundary.

    Every 10th document omits the geo.position meta tag so the geotag fallback
    path is exercised. With `replication`, the table is fanned out R times via
    a parallel range x broadcast cross join (bench-scale input without reading
    bigger files; partition count follows the range, so parallelism is free).
    """
    if replication and replication > 1:
        if spark is None:
            raise ValueError("spark session required for replication")
        reps = spark.range(0, replication, numPartitions=max(32, replication // 4))
        docs = reps.withColumnRenamed("id", "rep").join(F.broadcast(docs))
    else:
        docs = docs.withColumn("rep", F.lit(0))

    uid = F.col("doc_id") + F.col("rep") * F.lit(1_000_000)
    # the point in 1e-4 degree units: lon = (uid * LON_MUL) % LON_MOD / 1e4
    # - 180, lat = (uid * LAT_MUL) % LAT_MOD / 1e4 - 85
    lon = (uid * LON_MUL) % LON_MOD - 1_800_000
    lat = (uid * LAT_MUL) % LAT_MOD - 850_000
    meta = F.when(
        uid % 10 != 0,
        F.concat(
            F.lit('<meta name="geo.position" content="'),
            _grid4(lat),
            F.lit(";"),
            _grid4(lon),
            F.lit('"/>'),
        ),
    ).otherwise(F.lit(""))
    # cast, not encode(..., "utf-8"): the same bytes without encode's
    # per-row UTF-8 validation
    html = F.concat(
        F.lit("<html><head><title>D"),
        uid.cast("string"),
        F.lit("</title>"),
        meta,
        F.lit("</head><body><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    ).cast("binary")
    return docs.select(
        F.concat(F.lit("https://example.org/d/"), F.lpad(uid.cast("string"), 10, "0")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        html.alias("html"),
        F.col("text"),
        F.col("lang"),
    )


# ---------------------------------------------------------------------------
# Street-segment fixture (J11 merge_lines): a deterministic road network
# derived from doc_id arithmetic so the DuckDB oracle reproduces it exactly
# (same pattern as derived_points / PTS_SQL).
#
# Per doc_id d: street grp = d % N_STREETS, position seq = d div N_STREETS,
# r = ((d * SEG_MIX) % 101) % 10 picks the segment kind
# (mod a prime first: a plain % 10 of the product collapses to d % 10,
# making every street all-chains or all-spurs):
#   r <= 6  chain segment, 3 vertices  v(seq) -> m(seq) -> v(seq+1)
#   r in {7,8}  spur, 2 vertices       v(seq) -> (x(seq), y(seq) + 77)
#   r == 9  absent (gap -> the chain breaks into runs)
# with v(s) = (100 s, 1000 grp + (s^2 % 7) * 10) shared EXACTLY between
# consecutive chain segments, and m(s) a deterministic off-axis midpoint so
# lengths are non-trivial. A spur's first vertex coincides with a chain
# vertex, making that endpoint degree-3 — a junction the degree-2 stitch
# rule must break at. All coordinates are integral doubles (exact in f64).
# ---------------------------------------------------------------------------
N_STREETS = 20
SEG_MIX = 2_654_435_761  # Knuth multiplicative-hash constant


def derived_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return segments_from_docs(load(spark, sf_dir, "documents").select("doc_id"))


def segments_from_docs(docs: DataFrame) -> DataFrame:
    """Segment synthesis over ANY (doc_id) frame — a replicated id space
    (replicate_docs) works too: replica blocks (+rep*1e6) form their own
    far-apart street runs since seq/grp arithmetic is pure id math."""
    d = F.col("doc_id")
    grp = (d % N_STREETS).alias("grp")
    base = docs.select(
        d.alias("seg_id"),
        grp,
        F.expr(f"doc_id div {N_STREETS}").alias("seq"),
        ((d * F.lit(SEG_MIX)) % 101 % 10).alias("r"),
    ).where(F.col("r") <= 8)
    s, g, r = F.col("seq"), F.col("grp"), F.col("r")
    x0 = (s * 100.0).cast("double")
    y0 = (g * 1000.0 + (s * s % 7) * 10.0).cast("double")
    xm = (s * 100.0 + 50.0).cast("double")
    ym = (g * 1000.0 + ((2 * s * s + 2 * s + 1) % 13) * 10.0).cast("double")
    x1 = ((s + 1) * 100.0).cast("double")
    y1 = (g * 1000.0 + ((s + 1) * (s + 1) % 7) * 10.0).cast("double")
    return base.select(
        "seg_id",
        F.concat(F.lit("street_"), g.cast("string")).alias("name"),
        F.when(r <= 6, F.array(x0, xm, x1)).otherwise(F.array(x0, x0)).alias("xs"),
        F.when(r <= 6, F.array(y0, ym, y1)).otherwise(F.array(y0, y0 + 77.0)).alias("ys"),
    )


SEGS_SQL = f"""
SELECT seg_id, 'street_' || grp AS name, r,
       100.0 * seq AS x0, 1000.0 * grp + ((seq * seq) % 7) * 10.0 AS y0,
       100.0 * seq + 50.0 AS xm,
       1000.0 * grp + ((2 * seq * seq + 2 * seq + 1) % 13) * 10.0 AS ym,
       CASE WHEN r <= 6 THEN 100.0 * (seq + 1) ELSE 100.0 * seq END AS x1,
       CASE WHEN r <= 6 THEN 1000.0 * grp + (((seq + 1) * (seq + 1)) % 7) * 10.0
            ELSE 1000.0 * grp + ((seq * seq) % 7) * 10.0 + 77.0 END AS y1
FROM (
  SELECT doc_id AS seg_id, doc_id % {N_STREETS} AS grp,
         doc_id // {N_STREETS} AS seq, ((doc_id * {SEG_MIX}) % 101) % 10 AS r
  FROM documents
) WHERE r <= 8
"""
