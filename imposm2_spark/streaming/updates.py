"""§2.9 + S6b + S8: the diff-update loop — minutely-diff deployment on
Structured Streaming over the S8 atomic swap, one availableNow drain per run.

Reference analog: imposm2 itself has none — diff/replication arrived in
imposm3 (SURVEY.md §2.9); imposm2's consistency story is re-import + swap
(S8). This loop supplies the successor workflow on the same S8 swap:
download an OSC change file, apply create/modify/delete to the live
tables, keep readers consistent throughout. Here: a file-source stream of
versioned diff records is drained in micro-batches; each batch folds into the deployed
table via `operators.merge.apply_diff` (tombstones retained, see below) and
is published as a new version through `sources.catalog.Deploy`'s atomic
pointer swap — readers resolving through CURRENT never observe a partial
batch.

Exactly-once WITHOUT an idempotent-sink ledger: `apply_diff` is a
version-monotonic upsert, so REPLAYING a batch (the failure mode of
foreachBatch's at-least-once contract after a checkpoint-recovered restart)
is a no-op — max(version, diff-over-base) picks the same winners again.
Tombstones (`keep_tombstones=True`) make this hold even when a replayed or
late batch carries lower-version ops for deleted ids: the retained delete
row outranks them. `read_current` filters tombstones for consumers.

Scale shape: each micro-batch is ONE map-side-combinable aggregation over
base ∪ diff, then a full rewrite of the new version directory — the
copy-on-write parquet stand-in for an Iceberg `MERGE INTO` (which would
rewrite only the data files containing matched keys; `Deploy`'s pointer
swap is exactly the snapshot-commit role Iceberg metadata plays). At
10^12 rows you partition the table by key range so a minutely diff
touches few partitions, and `remove_backups` bounds version retention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.merge import apply_diff
from ..sources.catalog import Deploy

TOMBSTONE_OP = "delete"
# The OSC change vocabulary a diff record's op must come from; read at call
# time.
OSC_OPS = ("create", "modify", TOMBSTONE_OP)


def read_current(spark: SparkSession, deploy: Deploy, table: str) -> DataFrame:
    """Consumer view of the deployed table: tombstones filtered out."""
    from pyspark.sql import functions as F

    df = deploy.read(spark, table)
    if "op" in df.columns:
        # null-safe: a null-op row (malformed record kept by apply_diff's
        # conservative filter) stays visible rather than vanishing
        df = df.where(~F.col("op").eqNullSafe(TOMBSTONE_OP))
    return df


def stream_updates(
    diffs: DataFrame,
    deploy: Deploy,
    table: str,
    key: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Drain the diff stream's backlog (availableNow) into versioned
    publishes of `table`, then stop; a scheduler re-runs it for new diffs.

    Each micro-batch: read the CURRENT version (tombstones included, so
    deletes stay authoritative across batches) -> apply_diff -> stage the
    next version directory -> atomic pointer swap. The spatial sort in
    Deploy.stage is skipped (lon=None) — diff tables are keyed, not
    spatial; pass a spatially-keyed Deploy wrapper if tile locality is
    needed on the updated table.
    """
    spark = diffs.sparkSession
    # fail at call time, not as an opaque StreamingQueryException inside the
    # first micro-batch: the base version must already be published
    deploy.table_path(table)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        base = deploy.read(spark, table)
        # a malformed change set (op outside OSC_OPS, or NULL) fails the
        # micro-batch loudly BEFORE any version is staged — the stream stops
        # with the ValueError in StreamingQueryException.cause and CURRENT
        # still points at the last good version (pytest-gated)
        nxt = apply_diff(
            base, batch_df, key=key, keep_tombstones=True, allowed_ops=OSC_OPS,
        )
        # stage writes the new version dir; publish flips CURRENT atomically
        staged = deploy.stage(table, nxt, lon=None, lat=None)
        deploy.publish({table: staged})

    # no outputMode: Spark ignores it under foreachBatch (delivery semantics
    # live entirely in _apply), so setting one would only suggest update-mode
    # state semantics this query does not have
    return (
        diffs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
