"""Sequence packing for LLM pretraining batches — the step between a
cleaned corpus and the trainer: fill fixed token-budget sequences
from variable-length documents (BASELINE.json north star; no
reference analog — cited as spec-free extension).

Two industry-standard strategies, two very different Spark shapes:

- ``concat_chunk_packing`` (GPT-style): concatenate the shard's token
  stream and cut every ``budget`` tokens; documents may straddle
  sequence boundaries. Pure prefix-sum window math — one shuffle per
  shard ordering, no Python, no state — so it scales like any
  windowed aggregation.
- ``greedy_pack`` (no-split first-fit-sequential): a document never
  straddles sequences; open a new sequence when the next document
  would overflow the budget. Inherently sequential per shard (the
  bin index depends on every prior decision — not expressible as an
  associative window), so it runs as ``applyInPandas`` over shards:
  per-group linear state, Arrow-batched, deterministic doc_id order.

Sharding is the scale lever for BOTH: packing quality only needs
*local* order, so the corpus is hash-sharded (``doc_id % shards``)
and each shard packs independently — parallelism = ``shards``,
regardless of corpus size. At 100 TB you set shards ≈ a few × the
cluster's task slots; the per-shard stream stays a narrow sorted
pass. The greedy variant's state is three integers per shard —
nothing accumulates in memory.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

PACK_SCHEMA = (
    "shard long, doc_id long, n_tokens long, seq_idx long, fill long"
)


def concat_chunk_packing(
    docs: DataFrame,
    budget: int,
    shards: int = 8,
    id_col: str = "doc_id",
    cost_col: str = "n_tokens",
    order_col: str | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """Concatenate-and-chunk packing plan. Returns one row per doc:
    (shard, doc_id, n_tokens, start_seq, start_off, end_seq) — which
    fixed-size sequence the doc starts in, at what offset, and where
    it ends. Empty docs get start_seq == end_seq.

    ``order_col`` overrides the within-shard stream order (default:
    ``id_col``); production packing orders by a shuffle key so the
    training stream is permuted (pipe7), with ``id_col`` as the
    unique tie-break. ``shard_col`` supplies a precomputed shard
    (e.g. a hash-key prefix) instead of the default ``id % shards``.
    """
    iid = F.col(id_col)
    order = (
        [id_col] if order_col is None else [order_col, id_col]
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum(cost_col).over(w), F.lit(0))
    n = F.col(cost_col)
    shard = iid % shards if shard_col is None else F.col(shard_col)
    return (
        docs.withColumn("shard", shard)
        .withColumn("_prev", prev_cum)
        .select(
            "shard",
            iid.alias("doc_id"),
            n.alias("n_tokens"),
            F.floor(F.col("_prev") / budget).alias("start_seq"),
            (F.col("_prev") % budget).alias("start_off"),
            F.floor(
                (F.col("_prev") + F.greatest(n, F.lit(1)) - 1) / budget
            ).alias("end_seq"),
        )
    )


SHUFFLE_BUCKETS = 256  # first hex byte of the key; order-preserving


def _salted_bucket_rank(docs, id_col, salt, stage_col=None):
    """Shared core of deterministic_shuffle / curriculum_order: salted
    md5 key, first-hex-byte range buckets (optionally nested under a
    stage level), driver prefix-sum offsets laid out in (stage DESC,)
    bucket ASC order, per-cell window rank.
    Returns (keyed_frame, global_position_column)."""
    iid = F.col(id_col)
    key = F.md5(F.concat(F.lit(salt + "|"), iid.cast("string")))
    cols = [iid.alias("doc_id")]
    if stage_col is not None:
        cols.append(F.col(stage_col).cast("int").alias("stage"))
    cols += [
        key.alias("_key"),
        F.conv(F.substring(key, 1, 2), 16, 10).cast("int").alias("bucket"),
    ]
    keyed = docs.select(*cols)
    # Both the counts collect below and the ranking pass read `keyed`.
    # Without a stage, the counts pass prunes to the id column
    # (ReadSchema: struct<doc_id:bigint>), and hashing every id again
    # costs less than pinning (id, key, bucket) for every document:
    # on a 4-core box pipe6 took 0.80 s of CPU per op with an eager
    # localCheckpoint and 0.56 s without one at sf0.1, 1.29 -> 1.04 s
    # at 50k docs.
    # A stage is the caller's text score (pipe9), which is dearer to
    # compute twice than to pin once: pipe9 at 50k docs went 5.23 ->
    # 8.46 s without its checkpoint, so that one materialization stays.
    if stage_col is not None:
        keyed = keyed.localCheckpoint(eager=True)
    group = (["stage"] if stage_col is not None else []) + ["bucket"]
    counts = {
        tuple(r[c] for c in group): r["n"]
        for r in keyed.groupBy(*group).agg(F.count("*").alias("n")).collect()
    }
    if stage_col is not None and any(k[0] is None for k in counts):
        raise ValueError(
            "curriculum_order: NULL stage values — clamp or filter "
            "the stage column before ordering (pipe9 uses "
            "least/greatest bounds)"
        )
    stages = (
        sorted({k[0] for k in counts}, reverse=True)
        if stage_col is not None
        else [None]
    )
    keys, offsets, acc = [], [], 0
    for s in stages:
        for b in range(SHUFFLE_BUCKETS):
            keys.append(s * SHUFFLE_BUCKETS + b if stage_col is not None else b)
            offsets.append(acc)
            acc += counts.get((s, b) if stage_col is not None else (b,), 0)
    if keys:
        lookup = (
            F.col("stage") * SHUFFLE_BUCKETS + F.col("bucket")
            if stage_col is not None
            else F.col("bucket")
        )
        # one parsed map literal: a create_map of F.lit pairs is one
        # py4j round-trip per key and per value (512 for pipe6, up to
        # 5,120 for pipe9), the lesson similarity.lsh_bucket records
        offset_map = F.expr(
            "map_from_arrays(array({}), array({}))".format(
                ", ".join(map(str, keys)), ", ".join(f"{v}L" for v in offsets)
            )
        )
        offset_col = F.element_at(offset_map, lookup)
    else:  # empty input (no observed stages): position map degenerates
        offset_col = F.lit(0)
    w = Window.partitionBy(*group).orderBy("_key", "doc_id")
    return keyed, (offset_col + F.row_number().over(w)).cast("long")


def deterministic_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    salt: str = "shuffle-epoch-0",
) -> DataFrame:
    """Deterministic global shuffle — the training-order permutation
    every pretraining run needs, reproducible on any cluster size
    (never RNG, never row order; same contract as the hash splits).

    Rank = position in the ordering by ``md5(salt || id)``. A naive
    ``row_number() OVER (ORDER BY key)`` collapses to ONE partition —
    the classic global-sort bottleneck — so _salted_bucket_rank
    computes the same rank in two parallel phases: (1) the first hex
    byte of the key range-buckets the corpus (md5-uniform →
    balanced); per-bucket counts (≤ 256 rows, KBs) come to the
    driver and become a broadcast prefix-sum offset map, then (2) a
    window ranks WITHIN each bucket in parallel and adds the
    bucket's offset. Changing ``salt`` reshuffles (epoch reseeding)
    without touching the data.

    Returns (doc_id, bucket, shuffle_pos) with shuffle_pos a dense
    1-based total order.
    """
    keyed, pos = _salted_bucket_rank(docs, id_col, salt)
    return keyed.select("doc_id", "bucket", pos.alias("shuffle_pos"))


def curriculum_order(
    docs: DataFrame,
    stage_col: str = "stage",
    id_col: str = "doc_id",
    salt: str = "curriculum-0",
) -> DataFrame:
    """Curriculum training order: a dense global position ordered by
    (stage DESC, md5 key) — highest-stage (e.g. highest-quality
    decile) documents first, deterministically shuffled WITHIN each
    stage (same epoch-reseed contract as deterministic_shuffle, same
    _salted_bucket_rank core one stage level deeper: |stages|×256
    cells, offsets laid out stage-descending).  ``stage`` must be a
    deterministically derived small non-null int (callers clamp; the
    offset-map key packs stage*256+bucket).

    Returns (doc_id, stage, curriculum_pos), 1-based dense order.
    """
    keyed, pos = _salted_bucket_rank(docs, id_col, salt, stage_col)
    return keyed.select("doc_id", "stage", pos.alias("curriculum_pos"))


def greedy_pack(
    docs: DataFrame,
    budget: int,
    shards: int = 8,
    id_col: str = "doc_id",
    cost_col: str = "n_tokens",
) -> DataFrame:
    """No-split packing: per shard in doc_id order, a doc joins the
    open sequence unless it would overflow ``budget`` — then a new
    sequence opens. Oversized docs (> budget) get a sequence of their
    own. Returns (shard, doc_id, n_tokens, seq_idx, fill) where
    ``fill`` is the sequence occupancy after placing the doc.
    """

    def pack_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seqs, fills = [], []
        seq, fill = 0, 0
        first = True
        for n in pdf["n_tokens"]:
            n = int(n)
            if first:
                seq, fill, first = 0, n, False
            elif fill + n > budget:
                seq, fill = seq + 1, n
            else:
                fill += n
            seqs.append(seq)
            fills.append(fill)
        pdf["seq_idx"] = seqs
        pdf["fill"] = fills
        return pdf[["shard", "doc_id", "n_tokens", "seq_idx", "fill"]]

    base = docs.select(
        (F.col(id_col) % shards).alias("shard"),
        F.col(id_col).alias("doc_id"),
        F.col(cost_col).cast("long").alias("n_tokens"),
    )
    return base.groupBy("shard").applyInPandas(pack_shard, PACK_SCHEMA)
