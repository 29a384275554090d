"""Continuous crawl ingestion, SEMANTIC edition: incremental
SemDeDup as a Structured Streaming ``foreachBatch`` loop over a
versioned exemplar state (VERDICT r10 #4 — the MinHash family had
its day-N path via dd10/dd23 + neardup_stream; this is the
embedding family's).

Each micro-batch runs the SAME pure plan as batch mode
(``dedup.incremental_semantic_dedup``): assign the new vectors to
the FROZEN committed centroids (no re-clustering — that is what
makes the run incremental; re-seeding is a separate dd24 re-run, the
LSM major compaction of this design), probe the same-cell committed
exemplars for cosine >= threshold, elect min-id keepers among
same-cell batch pairs, then CAS-commit the kept vectors into the
exemplar state.

Idempotency under at-least-once delivery: on a re-delivered batch,
previously-KEPT vectors are now in state and score cosine 1.0
against themselves, so they replan to ``dup_of_state`` and the
admit is a no-op. The one self-identity blind spot is the ZERO
vector: cosine is DEFINED 0.0 against everything (including itself,
similarity.cosine's guard), so a replayed zero vector classifies
'kept' again — admission therefore de-duplicates by ID (anti-join
against state) rather than trusting the verdict, keeping the state
exactly-once for every vector class. Previously-DROPPED vectors
replay to the same dropped verdicts (classification is
deterministic given state).

State is (id, vector) exemplar rows. Day-N cost here is
O(batch x cell-occupancy) for the probe plus the state read; a
deployment persists (id, cell, norm) alongside so the state side
never re-pays assignment (the dd32 registration recomputes it only
so the DuckDB oracle can check the whole derivation — dd23's
lesson-40 caveat, same shape).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trello_github_etl_spark.operators.dedup import (
    incremental_semantic_dedup,
)
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.streaming import foreach_batch


def read_exemplars(
    spark: SparkSession,
    store: VersionedStateStore,
    like: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Current committed exemplar state; before the first commit, an
    empty frame typed like the batch (the element type — float vs
    double — must match the corpus, so it is derived, not assumed)."""
    return store.read(spark, empty=like.select(id_col, vec_col).schema)


def semantic_dedup_batch(
    spark: SparkSession,
    store: VersionedStateStore,
    centroids: DataFrame,
    batch: DataFrame,
    threshold: float = 0.92,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cache_key: str | None = None,
) -> DataFrame:
    """One micro-batch transaction: classify against the committed
    exemplars, CAS-commit the genuinely new keepers, return verdicts.

    Verdicts are pinned (localCheckpoint) BEFORE any state advance so
    the returned frame and the committed rows describe the same
    classification — and because the assignment + probe pipeline (the
    dominant per-batch cost) feeds both the verdict output and the
    kept-id selection, the pin also stops it re-planning per consumer
    (the neardup_stream discipline)."""
    base = store.latest_version()
    state = read_exemplars(spark, store, batch, vec_col, id_col)
    verdicts = incremental_semantic_dedup(
        batch,
        state,
        centroids,
        threshold=threshold,
        vec_col=vec_col,
        id_col=id_col,
        cache_key=cache_key,
    ).localCheckpoint(eager=True)
    kept_ids = verdicts.filter(F.col("verdict") == "kept").select(id_col)
    # admit by ID, not by verdict alone: a replayed ZERO vector
    # re-classifies 'kept' (cosine's zero-norm guard scores it 0.0
    # against its own committed copy), and the anti-join is what
    # keeps its admission exactly-once (module doc). Fresh rows only
    # -> a fully-replayed or empty batch skips the commit entirely
    # (no-op versions churn history under at-least-once delivery).
    fresh = (
        batch.select(id_col, vec_col)
        .join(kept_ids, id_col)
        .join(state.select(id_col), id_col, "left_anti")
    )
    if not fresh.isEmpty():
        store.commit(
            state.unionByName(fresh),
            op="semantic-dedup-batch",
            expected_version=base,
        )
    return verdicts


def stream_semantic_dedup(
    stream: DataFrame,
    store: VersionedStateStore,
    centroids: DataFrame,
    checkpoint_dir: str,
    threshold: float = 0.92,
    on_batch: Callable[[int, DataFrame], None] | None = None,
):
    """``streaming.foreach_batch`` over the batch plan; ``on_batch``
    gets the verdicts."""
    return foreach_batch(
        stream,
        [store],
        checkpoint_dir,
        lambda batch, _: semantic_dedup_batch(
            batch.sparkSession, store, centroids, batch, threshold
        ),
        on_batch,
    )
