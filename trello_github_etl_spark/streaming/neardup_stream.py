"""Continuous crawl ingestion, near-dup edition: incremental
MinHash-LSH dedup as a Structured Streaming ``foreachBatch`` loop
over a versioned band-bucket state.

Each micro-batch runs the SAME pure plan as batch mode
(``dedup.incremental_near_dedup``): band the new docs ONCE with the
shared scheme (``dedup.lsh_band_keys``, pinned via localCheckpoint so
the signature pipeline — the dominant per-batch cost — is not
re-planned for the state commit), probe the corpus band-bucket state
for collisions, elect min-id keepers within the batch, then commit
the kept docs' band keys back through the state store's CAS commit.
Idempotency under at-least-once delivery: on a re-delivered batch the
previously-KEPT docs' keys are already in state, so they replan to
``dup_existing_near`` and the state commit is a no-op; previously-
DROPPED docs replan to the same dropped verdicts (the classification
is deterministic given state — a ``dup_batch_near`` doc whose keeper
was itself dropped stays ``dup_batch_near``, its bucket key was never
admitted). Either way the corpus state is exactly-once; unlike the
exact-fp stream, the replayed VERDICT labels are not uniformly
``dup_existing`` (see incremental_near_dedup's recall note).

The state is band keys only (``LSH_BANDS`` short strings per kept
doc): day-N cost is O(batch + corpus-band-keys), never O(corpus
text) — and because batch mode writes the identical keys, a corpus
bootstrapped offline continues seamlessly under streaming ingestion.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from trello_github_etl_spark.operators.dedup import (
    incremental_near_dedup,
    lsh_band_keys,
)
from trello_github_etl_spark.plans.state_store import VersionedStateStore
from trello_github_etl_spark.streaming import foreach_batch

BAND_SCHEMA = StructType([StructField("band_key", StringType())])


def read_bands(spark: SparkSession, store: VersionedStateStore) -> DataFrame:
    """Current band-bucket state; empty before the first commit."""
    return store.read(spark, empty=BAND_SCHEMA)


def classify_batch(
    spark: SparkSession,
    store: VersionedStateStore,
    batch: DataFrame,
    text_col: str = "text",
) -> tuple[int, DataFrame, DataFrame, DataFrame]:
    """The CLASSIFY half of the near-dup micro-batch transaction:
    returns (base_version, bands, batch_bands, verdicts). Shared by
    near_dedup_batch and composed_stream.ingest_batch so the pinning
    discipline cannot fork (r7 code review).

    The batch is banded ONCE and pinned: the classifier and the later
    state commit both consume these keys, and without the checkpoint
    the signature pipeline (tokenize -> shingle -> 8x md5 min-agg,
    the dominant per-batch cost) would re-plan for each consumer
    (r5 code review). Verdicts are pinned BEFORE any state advance,
    so callers' returned frames and committed keys describe the same
    classification.
    """
    base = store.latest_version()
    bands = read_bands(spark, store)
    batch_bands = lsh_band_keys(batch, text_col).localCheckpoint(eager=True)
    verdicts = incremental_near_dedup(
        batch, bands, text_col, batch_bands=batch_bands
    ).localCheckpoint(eager=True)
    return base, bands, batch_bands, verdicts


def admit_kept(
    store: VersionedStateStore,
    bands: DataFrame,
    batch_bands: DataFrame,
    kept_ids: DataFrame,
    base: int,
    op: str = "near-dedup-batch",
) -> bool:
    """The ADMIT half: CAS-commit the kept docs' band keys; returns
    False on the no-op skip. The commit carries the state version the
    classification read as its CAS expectation — two racing
    micro-batch executors cannot both publish (one aborts loudly and
    retries on re-delivery).

    Empty or fully-replayed batch ⇒ zero kept docs ⇒ the "new" state
    would be byte-identical to the old one. Committing it anyway
    churns a fresh version per replay (at-least-once delivery makes
    replays routine, and each no-op version is a full state rewrite
    the vacuum later has to walk) — skip instead (ADVICE r5/r6).
    The isEmpty probe is a limit-1 scan over the already-pinned
    batch_bands join, not a recompute of the signature pipeline.
    """
    kept_keys = batch_bands.join(kept_ids, "doc_id").select("band_key")
    if kept_keys.isEmpty():
        return False
    new_state = bands.select("band_key").unionByName(kept_keys).distinct()
    store.commit(new_state, op=op, expected_version=base)
    return True


def near_dedup_batch(
    spark: SparkSession,
    store: VersionedStateStore,
    batch: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """One micro-batch: classify, commit kept docs' band keys,
    return verdicts (classify_batch + admit_kept)."""
    base, bands, batch_bands, verdicts = classify_batch(
        spark, store, batch, text_col
    )
    kept_ids = verdicts.filter(F.col("verdict") == "kept").select("doc_id")
    admit_kept(store, bands, batch_bands, kept_ids, base)
    return verdicts


def stream_near_dedup(
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
        lambda batch, _: near_dedup_batch(batch.sparkSession, store, batch),
        on_batch,
    )
