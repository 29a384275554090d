"""Continuous sketch maintenance: a Count-Min grid kept current over
micro-batches via the mergeability property (union of streams = sum
of grids).

Per batch: build the BATCH's grid (bounded: depth*width cells no
matter the batch size), cell-wise-sum it into the stored grid, commit
through the state store's CAS. History is never re-read; the running
state is one grid. This is the streaming twin of dedup_stream's
fingerprint loop, with bounded rather than growing state — the shape
a 100 TB/day token-frequency monitor actually runs.

Replay caveat (and why the loop records batch ids): unlike the
fingerprint MERGE, a SUM is NOT idempotent — re-adding a replayed
batch would double-count it. Each commit records its batch id
(``store.last_batch()``); a batch at or below it is skipped, which
composes with foreachBatch's monotonically increasing batch ids to
make at-least-once delivery exactly-once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from trello_github_etl_spark.operators.sketch import (
    countmin_table,
    merge_countmin,
)
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.streaming import foreach_batch

GRID_SCHEMA = StructType(
    [
        StructField("d", LongType()),
        StructField("cell", LongType()),
        StructField("cnt", LongType()),
    ]
)


def read_grid(spark: SparkSession, store: VersionedStateStore) -> DataFrame:
    return store.read(spark, empty=GRID_SCHEMA)


def apply_batch(
    spark: SparkSession,
    store: VersionedStateStore,
    batch: DataFrame,
    batch_id: int,
    token_col: str = "token",
) -> bool:
    """Merge one micro-batch's grid into the state; returns False if
    the batch id was already applied (replay → skipped). The gate
    assumes the store lives and dies with the checkpoint
    (``streaming.foreach_batch``)."""
    # base BEFORE the gate: a commit landing between the two reads
    # then fails the CAS instead of slipping past the gate
    base = store.latest_version()
    if batch_id <= store.last_batch():
        return False
    current = store.read(spark, base, empty=GRID_SCHEMA)
    batch_grid = countmin_table(batch, token_col).select(
        F.col("d").cast("long"), F.col("cell").cast("long"), "cnt"
    )
    merged = merge_countmin(current.unionByName(batch_grid))
    store.commit(
        merged,
        op=f"cms-batch:{batch_id}",
        expected_version=base,
        batch_id=batch_id,
    )
    return True


def stream_sketch(
    stream: DataFrame,
    store: VersionedStateStore,
    checkpoint_dir: str,
    token_col: str = "token",
):
    """foreachBatch wiring for a live token stream."""
    return foreach_batch(
        stream,
        [store],
        checkpoint_dir,
        lambda batch, batch_id: apply_batch(
            batch.sparkSession, store, batch, batch_id, token_col
        ),
    )
