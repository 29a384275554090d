"""Structured Streaming loops over the versioned state store."""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from trello_github_etl_spark.plans.state_store import VersionedStateStore


def foreach_batch(
    stream: DataFrame,
    stores: Iterable[VersionedStateStore],
    checkpoint_dir: str,
    step: Callable[[DataFrame, int], object],
    on_batch: Callable[[int, object], None] | None = None,
) -> DataStreamWriter:
    """The one wiring of every ``stream_*`` loop: run ``step(batch,
    batch_id)`` per micro-batch and hand ``(batch_id, result)`` to
    ``on_batch``. Returns the writer; the caller adds a trigger and
    starts it.

    First, startup crash recovery on every store the loop commits to:
    a crash between a batch's state write and its manifest publish
    leaves an orphan that would wedge the retried commit
    (``VersionedStateStore.recover_orphans``; safe, since this wiring
    is the one writer and is not yet running). Batch ids belong to the
    checkpoint's lineage, so the checkpoint and the stores must live
    and die together: a reset checkpoint restarts at batch 0, and a
    replay gate would skip new batches up to its stored id."""
    for store in stores:
        store.recover_orphans()

    def handle(batch: DataFrame, batch_id: int) -> None:
        out = step(batch, batch_id)
        if on_batch is not None:
            on_batch(batch_id, out)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
