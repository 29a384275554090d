"""Continuous crawl ingestion: incremental dedup as a Structured
Streaming ``foreachBatch`` loop over the versioned fingerprint state.

Each micro-batch of documents runs the SAME pure plan as batch mode
(``dedup.incremental_dedup``): classify every new doc against the
corpus fingerprint state and within its batch, then commit the kept
docs' fingerprints back through the state store's CAS commit. A
re-delivered batch replans to all-``dup_existing`` — at-least-once
delivery composes to an exactly-once corpus, the same idempotency
argument as the upsert stream (``sink_stream.py``).

The state the stream maintains is fingerprints only (16 bytes/doc):
day-N cost is O(batch + corpus-fps), never O(corpus text).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from trello_github_etl_spark.operators.dedup import incremental_dedup
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.streaming import foreach_batch

FP_SCHEMA = StructType([StructField("fp", StringType())])


def read_fps(spark: SparkSession, store: VersionedStateStore) -> DataFrame:
    """Current fingerprint state; empty before the first commit."""
    return store.read(spark, empty=FP_SCHEMA)


def dedup_batch(
    spark: SparkSession,
    store: VersionedStateStore,
    batch: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One micro-batch: classify, commit kept fps, return verdicts.

    The commit carries the state version the classification read as
    its CAS expectation — two racing micro-batch executors cannot
    both publish (one aborts loudly and retries on re-delivery).
    """
    base = store.latest_version()
    fps = read_fps(spark, store)
    verdicts = incremental_dedup(batch, fps, text_col).localCheckpoint(
        eager=True
    )
    # 'kept' excludes NULL-fingerprint (no_text) docs, so the state
    # never accumulates a meaningless NULL fp row
    kept = verdicts.filter(F.col("verdict") == "kept").select("fp")
    new_state = fps.select("fp").unionByName(kept).distinct()
    # CAS even from the empty store (base=0): two writers racing from
    # an empty state must not both publish v1 — that was the exact
    # lost-update window this loop exists to close
    store.commit(new_state, op="dedup-batch", expected_version=base)
    return verdicts


def stream_dedup(
    stream: DataFrame,
    store: VersionedStateStore,
    checkpoint_dir: str,
    on_batch: Callable[[int, DataFrame], None] | None = None,
):
    """``streaming.foreach_batch`` over the batch plan; ``on_batch``
    gets the verdicts."""
    return foreach_batch(
        stream,
        [store],
        checkpoint_dir,
        lambda batch, _: dedup_batch(batch.sparkSession, store, batch),
        on_batch,
    )
