"""Continuously-maintained rollup: a Structured Streaming
``foreachBatch`` loop that keeps a materialized aggregate current by
IVM delta-merge (operators/ivm.py) instead of recomputing.

Per micro-batch: aggregate the batch to delta state (exact decimal
measures), merge it into the current rollup, and commit the result
through the versioned state store's CAS. Work per batch is |batch| +
|state of affected keys| with one shuffle on the group keys — the base
stream is never replayed, which is what makes a 100 TB/day rollup
maintainable. With Delta available, the merge collapses into
``MERGE INTO``.

At-least-once caveat: plain additive merge double-counts a replayed
batch, so each commit records its batch id (``store.last_batch()``)
and the merge skips batches at-or-below it (the checkpoint replays
whole batches with stable ids — monotone gate ⇒ effectively-once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trello_github_etl_spark.operators.ivm import merge_agg_state
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.streaming import foreach_batch


def read_rollup(
    spark: SparkSession, state_dir: str, schema: str
) -> tuple[DataFrame, int]:
    """(current rollup, last merged batch_id); empty/-1 before batch 0."""
    store = VersionedStateStore(state_dir)
    return store.read(spark, empty=schema), store.last_batch()


def merge_rollup_delta(
    delta: DataFrame,
    state_dir: str,
    batch_id: int,
    keys: list[str],
    measure_names: list[str],
    count_col: str = "n_rows",
) -> bool:
    """Merge one micro-batch's pre-aggregated delta into the rollup
    state at ``state_dir``; returns False when ``batch_id`` was
    already merged (the effectively-once replay gate). Factored out of
    stream_rollup so composed pipelines (composed_stream.py) share the
    identical gate + commit instead of forking it. A merge computed
    from a base another writer has since advanced fails with
    ``CommitConflictError`` instead of dropping that writer's rows.
    The gate assumes state_dir lives and dies with the checkpoint
    (``streaming.foreach_batch``).
    """
    store = VersionedStateStore(state_dir)
    # base BEFORE the gate: a commit landing between the two reads
    # then fails the CAS instead of slipping past the gate
    base = store.latest_version()
    if batch_id <= store.last_batch():
        return False  # replayed batch: already merged
    state = store.read(delta.sparkSession, base, empty=delta.schema)
    merged = merge_agg_state(state, delta, keys, measure_names, count_col)
    # SUM widens decimal precision per merge (18,2 -> 28,2 ->
    # 38,2); pin measures back to the delta's types so the stored
    # schema is stable across arbitrarily many batches. Ceiling
    # (r4 code review): once a running total exceeds the DELTA
    # type's range the non-ANSI cast yields NULL — callers whose
    # totals can outgrow a batch's natural type should aggregate
    # the delta at the wide type up front (e.g. sum over
    # decimal(38,2)) so the pinned type carries the headroom.
    merged = merged.select(
        *[F.col(k) for k in keys],
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in delta.schema.fields
            if f.name not in keys
        ],
    )
    store.commit(
        merged, op="rollup-batch", expected_version=base, batch_id=batch_id
    )
    return True


def stream_rollup(
    batches: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    measures: dict[str, "F.Column"],
    count_col: str = "n_rows",
):
    """Maintain ``groupBy(keys).agg(measures, count)`` over a stream.

    ``measures`` maps output column name → exact-typed aggregate
    expression evaluated per micro-batch (decimal sums, counts —
    anything addition-mergeable).
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> bool:
        delta = batch_df.groupBy(*keys).agg(
            *[expr.alias(name) for name, expr in measures.items()],
            F.count(F.lit(1)).alias(count_col),
        )
        return merge_rollup_delta(
            delta, state_dir, batch_id, keys, list(measures.keys()), count_col
        )

    return foreach_batch(
        batches, [VersionedStateStore(state_dir)], checkpoint_dir, merge_batch
    )
