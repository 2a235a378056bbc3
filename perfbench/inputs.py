"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the same
rows, so two runs with one seed measure identical inputs. Nothing is read
from disk; the document corpus is generated in the shape of the sf0.1
`documents` test table (doc_id, text, lang), whose statistics are stated
below with make_documents.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Shape of the sf0.1 `documents` table (5000 rows), measured from its parquet
# file with pyarrow:
#   words per document   10..99, flat (each decade holds 509..592 documents;
#                        mean 54.1); a near-duplicate adds one word
#   vocabulary           the 30 words below, each ~3.3% of all tokens, with no
#                        skew by position or language; "a" and "the" are two
#                        of them, so ~6.6% of tokens are English stopwords
#   near-duplicates      250 documents (5%) are another document plus " dup"
#                        (246 carry one "dup", 4 carry two or three)
#   exact duplicates     8 texts occur twice
#   lang label           en 41%, zh 15%, es 15%, fr 15%, de 14%; the label
#                        does not change the text's vocabulary
#   lowercase ASCII words and single spaces: no digits, punctuation or
#   upper case
VOCAB = (
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
)
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP_SHARE, EXACT_DUP_SHARE = 0.05, 0.0016
NEAR_DUP_WORD = "dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.41, 0.15, 0.15, 0.15, 0.14)
DOCS_SCHEMA = "doc_id long, text string, lang string"

# doc ids stay below 10^6 so the rep * 10^6 id shift of replicated documents
# keeps replicas disjoint
ID_BLOCK = 10_000
ID_BLOCKS = 90


def doc_id_base(seed: int) -> int:
    """The seed moves the id range, and with it every derived point."""
    return (seed % ID_BLOCKS) * ID_BLOCK


def make_documents(seed: int, n: int) -> pd.DataFrame:
    """n documents in the measured sf0.1 shape (see above)."""
    rng = np.random.default_rng(seed)
    base = doc_id_base(seed)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < NEAR_DUP_SHARE:
            text = f"{texts[int(rng.integers(0, i))]} {NEAR_DUP_WORD}"
        elif i and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            text = texts[int(rng.integers(0, i))]
        else:
            k = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
            text = " ".join(vocab[rng.integers(0, len(vocab), k)])
        texts.append(text)
    langs = rng.choice(LANGS, size=n, p=LANG_SHARES)
    return pd.DataFrame({"doc_id": np.arange(base, base + n, dtype=np.int64),
                         "text": texts, "lang": langs})


def documents_df(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    return spark.createDataFrame(pdf, DOCS_SCHEMA)


def fan_out(spark: SparkSession, df: DataFrame, replicas: int) -> DataFrame:
    """`replicas` verbatim copies of every row, one replica per partition."""
    reps = spark.range(0, replicas, numPartitions=replicas)
    return reps.crossJoin(F.broadcast(df)).drop("id")


# ---------------------------------------------------------------------------
# curate: per-replica variants
# ---------------------------------------------------------------------------
# A replica row keeps its text verbatim or becomes a variant. The choice is
# integer arithmetic on (doc_id, rep, seed) that Spark and Python evaluate
# identically, so the expected output can be derived outside Spark. The share
# of verbatim rows is the same for every seed (one half), so every seed sends
# about the same number of distinct documents through MinHash-LSH; the seed
# picks which rows they are.
VARIANT_MUL, REP_MUL = 2_654_435_761, 40_503
SUBST_AT = 6  # a variant replaces the word at index rep % 6
VERBATIM_PERMILLE = 500


def replica_word(rep: int) -> str:
    """A letters-only token unique to one replica, never a VOCAB word."""
    s, r = "", rep
    while True:
        s += "qxzjvw"[r % 6]
        r //= 6
        if r == 0:
            return "zq" + s


def is_variant_py(doc_id: int, rep: int, seed: int) -> bool:
    return (doc_id * VARIANT_MUL + rep * REP_MUL + seed) % 1000 >= VERBATIM_PERMILLE


def variant_text_py(text: str, rep: int) -> str:
    words = text.split(" ")
    tok = replica_word(rep)
    return " ".join(
        tok if i == rep % SUBST_AT else w for i, w in enumerate(words)
    )


def replicate_with_variants(
    spark: SparkSession, docs: DataFrame, seed: int, replicas: int
) -> DataFrame:
    """(doc_id, text): `replicas` copies of every document, one replica per
    partition, ids shifted by rep * 10^6 (as testdata.replicate_docs does),
    and the variant rows rewritten.

    One replica per partition, as fan_out: testdata.replicate_docs' floor
    of 32 partitions made per-task overhead most of a curate iteration on
    4 vCPUs (9 s at 32 partitions, 4 s at 4, same output)."""
    rep, base = F.col("rep"), F.col("doc_id")
    rows = spark.range(0, replicas, numPartitions=replicas).withColumnRenamed("id", "rep")
    rows = rows.crossJoin(F.broadcast(docs))
    variant = (base * F.lit(VARIANT_MUL) + rep * F.lit(REP_MUL) + F.lit(seed)) % 1000 >= F.lit(
        VERBATIM_PERMILLE)
    words = F.array(*[F.lit(replica_word(r)) for r in range(replicas)])
    tok = F.element_at(words, (rep + 1).cast("int"))
    at = (rep % SUBST_AT).cast("int")
    swapped = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w, i: F.when(i == at, tok).otherwise(w),
        ),
        " ",
    )
    return rows.select(
        (base + rep * F.lit(1_000_000)).alias("doc_id"),
        F.when(variant, swapped).otherwise(F.col("text")).alias("text"),
    )


# ---------------------------------------------------------------------------
# import: replicated OSM fixture plus one oversized relation
# ---------------------------------------------------------------------------
ID_SPACE = 10_000_000  # per-replica id offset: disjoint node/way/rel ids
MEGA_BASE = 900_000_000_000
MEGA_MEMBERS = 1000


def replicated_osm(spark: SparkSession, base, replicas: int, seed: int):
    """(nodes, ways, relations): the fixture tables x `replicas`, every id
    and reference shifted into its own id space. The seed rotates which id
    spaces are used, so ids differ between seeds while counts do not."""
    nodes0, ways0, rels0 = base
    first = (seed % 97) * replicas
    reps = spark.range(first, first + replicas, numPartitions=4).withColumnRenamed("id", "_rep")
    off = F.col("_rep") * F.lit(ID_SPACE)
    nodes = reps.join(F.broadcast(nodes0)).select(
        (F.col("id") + off).alias("id"), "lon", "lat", "tags"
    )
    ways = reps.join(F.broadcast(ways0)).select(
        (F.col("id") + off).alias("id"),
        F.transform("refs", lambda r: r + off).alias("refs"),
        "tags",
    )
    rels = reps.join(F.broadcast(rels0)).select(
        (F.col("id") + off).alias("id"),
        F.transform(
            "members",
            lambda m: F.struct(
                (m["ref"] + off).alias("ref"),
                m["type"].alias("type"),
                m["role"].alias("role"),
            ),
        ).alias("members"),
        "tags",
    )
    return nodes, ways, rels


def mega_relation_rows(n_members: int, seed: int):
    """One multipolygon relation whose outer ring is cut into
    n_members - 4 two-point way segments (every third one reversed), plus
    a 4-segment square hole: the single heavily skewed assembly group.
    Returns (nodes, ways, relations) row lists; the seed sets the radius
    and the ring's start angle."""
    rng = np.random.default_rng(seed + 11)
    radius = 60.0 + 40.0 * float(rng.random())
    phase = 2 * np.pi * float(rng.random())
    n = n_members - 4
    theta = phase + np.linspace(0.0, 2 * np.pi, n, endpoint=False)
    ring = np.c_[radius * np.cos(theta), radius * np.sin(theta)]
    b = MEGA_BASE
    nodes = [(b + i, float(ring[i, 0]), float(ring[i, 1]), {}) for i in range(n)]
    ways = []
    for i in range(n):
        a, c = b + i, b + (i + 1) % n
        ways.append((b + 10_000_000 + i, [a, c] if i % 3 else [c, a], {}))
    for j, (x, y) in enumerate([(-2.0, -2.0), (2.0, -2.0), (2.0, 2.0), (-2.0, 2.0)]):
        nodes.append((b + n + j, x, y, {}))
    for j in range(4):
        ways.append((b + 20_000_000 + j, [b + n + j, b + n + (j + 1) % 4], {}))
    members = [(w[0], "way", "outer" if k < n else "inner") for k, w in enumerate(ways)]
    rels = [(b, members, {"type": "multipolygon", "landuse": "meadow"})]
    return nodes, ways, rels
