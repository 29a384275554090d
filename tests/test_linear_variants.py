"""Linear-occupancy ANN mining quartet (VERDICT r11 #1): s18/s19/s20/
dd35 — constant-expected-cell-size nlist (similarity.linear_nlist),
two-level assignment (ivf_assign_2level), and cell_join block
salting, all derived from the one ``linear_nlist`` cell argument.
(Block salting's pair-multiset identity is asserted on cell_join
itself in tests/test_cell_blocks.py, and end to end on
mutual_knn_graph here.)

Claim family:
- RECALL DOMINANCE: at fixture scale the linear policy's recall vs
  the brute-force ground truth is no worse than the √N policy's
  (cells are the SAME SIZE OR LARGER below the N = target² crossover
  — 4096 vectors — so candidates can only grow; above it the trade
  inverts by design and is documented, not asserted).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from trello_github_etl_spark.operators import dedup
from trello_github_etl_spark.operators import similarity as sim

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _emb(spark, sf, cols=("vec_id", "embedding")):
    return spark.read.parquet(f"{sf}/embeddings.parquet").select(*cols)


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# linear_nlist policy
# ---------------------------------------------------------------------------


def test_linear_nlist_policy():
    t = sim.LINEAR_CELL_TARGET
    assert sim.linear_nlist(1) == sim.IVF_NLIST_MIN
    assert sim.linear_nlist(t * sim.IVF_NLIST_MIN) == sim.IVF_NLIST_MIN
    # exact ceiling division
    assert sim.linear_nlist(t * 100) == 100
    assert sim.linear_nlist(t * 100 + 1) == 101
    # constant occupancy: k tracks N linearly (√N does not)
    assert sim.linear_nlist(t * 10_000) == 10_000
    # clamp
    assert sim.linear_nlist(t * (sim.LINEAR_NLIST_MAX + 5)) == sim.LINEAR_NLIST_MAX
    with pytest.raises(ValueError):
        sim.linear_nlist(100, target=0)


def test_auto_seed_accepts_callable_and_validates(spark):
    emb = _emb(spark, SF001)
    cents, suffix, k = sim.auto_seed_centroids(emb, sim.linear_nlist)
    n = emb.count()
    assert k == sim.linear_nlist(n)
    assert suffix == f"|auto-k{k}-n{n}"
    assert cents.count() == min(k, n)
    with pytest.raises(ValueError):
        sim.auto_seed_centroids(emb, lambda n: 0)


# ---------------------------------------------------------------------------
# two-level assignment
# ---------------------------------------------------------------------------


def test_two_level_assignment_shape_and_occupancy(spark):
    emb = _emb(spark, SF001)
    cents, _suffix, k = sim.auto_seed_centroids(emb, sim.linear_nlist)
    cells = sim.ivf_assign_2level(emb, cents, k, cache_key="tlv-shape|sf0.001")
    got = cells.collect()
    # every vector assigned exactly once, to a valid seed id
    assert len(got) == emb.count()
    assert {r["vec_id"] for r in got} == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }
    assert all(0 <= r["cell"] < k for r in got)
    # output shape matches ivf_assign's contract (cell_pairs-ready)
    assert cells.columns == ["vec_id", "cell", "embedding", "_norm"]


def _knn_lin(spark, monkeypatch, blocks):
    monkeypatch.setattr(sim, "LINEAR_PAIR_BLOCKS", blocks)
    return _rows(
        sim.mutual_knn_graph(
            _emb(spark, SF001), k=3, cache_key="tlv-knn|sf0.001"
        )
    )


def test_mutual_knn_blocked_identity(spark, monkeypatch):
    # end to end through the linear policy: the derived block salting
    # leaves the mutual-kNN edge set bit-identical
    assert _knn_lin(spark, monkeypatch, 1) == _knn_lin(spark, monkeypatch, 4)


def _incr_lin(spark):
    emb = _emb(spark, SF001)
    v = F.col("vec_id")
    batch = emb.filter(v % 5 == 0).select(
        (v + 100000).alias("vec_id"), "embedding"
    ).unionByName(
        emb.filter(v % 7 == 1).select(
            v.alias("vec_id"),
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
    )
    return dedup.incremental_semantic_dedup(
        batch,
        emb,
        sim.linear_nlist,
        threshold=0.9,
        cache_key="tlv-incr|sf0.001",
    )


def test_incremental_semdedup_linear_exact_dups_hit_state(spark):
    # the re-embedded exact dups must hit the state through the
    # two-level cells (identical vectors share supers AND seeds)
    verdicts = {t[0]: t[2] for t in _rows(_incr_lin(spark))}
    assert all(
        verdicts[i] == "dup_of_state" for i in verdicts if i >= 100000
    )


# ---------------------------------------------------------------------------
# recall dominance vs the √N tier (brute-force ground truth)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb01(spark):
    rows = _emb(spark, SF01, ("vec_id", "embedding", "label")).collect()
    ids = sorted(r["vec_id"] for r in rows)
    by = {r["vec_id"]: r for r in rows}
    M = np.array([by[i]["embedding"] for i in ids], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    np.fill_diagonal(S, -math.inf)
    labels = np.array([by[i]["label"] for i in ids])
    return ids, S, labels


def _mutual_truth(ids, S, k=3):
    topk = {
        i: {ids[j] for j in np.argsort(-S[idx], kind="stable")[:k]}
        for idx, i in enumerate(ids)
    }
    return {
        (min(i, j), max(i, j))
        for i in ids
        for j in topk[i]
        if i in topk[j]
    }


def test_mutual_knn_linear_recall_dominates(spark, emb01):
    ids, S, _labels = emb01
    truth = _mutual_truth(ids, S)
    emb = _emb(spark, SF01)
    e_sqrt = {
        (r["vec_a"], r["vec_b"])
        for r in sim.mutual_knn_graph(
            emb, sim.auto_nlist, k=3, cache_key="tlv-r15|sf0.01"
        ).collect()
    }
    e_lin = {
        (r["vec_a"], r["vec_b"])
        for r in sim.mutual_knn_graph(
            emb, sim.linear_nlist, k=3, cache_key="tlv-r18|sf0.01"
        ).collect()
    }
    rec_sqrt = len(e_sqrt & truth) / len(truth)
    rec_lin = len(e_lin & truth) / len(truth)
    # measured 0.222 / 0.222 at sf0.01 (uniform-random corpus = the
    # documented worst case; RECALL.json has the clustered lift)
    assert rec_lin >= rec_sqrt - 0.02
    assert rec_lin >= 0.15


def test_hard_negatives_linear_recall_dominates(spark, emb01):
    ids, S, labels = emb01
    k = 3
    truth = set()
    for idx, i in enumerate(ids):
        order = np.argsort(-S[idx], kind="stable")
        cross = [j for j in order if labels[j] != labels[idx]][:k]
        truth |= {(i, ids[j]) for j in cross}
    embl = _emb(spark, SF01, ("vec_id", "embedding", "label"))
    p_sqrt = {
        (r["anchor_id"], r["neg_id"])
        for r in sim.hard_negative_mining(
            embl, sim.auto_nlist, k=k, cache_key="tlv-r17|sf0.01"
        ).collect()
    }
    p_lin = {
        (r["anchor_id"], r["neg_id"])
        for r in sim.hard_negative_mining(
            embl, sim.linear_nlist, k=k, cache_key="tlv-r20|sf0.01"
        ).collect()
    }
    rec_sqrt = len(p_sqrt & truth) / len(truth)
    rec_lin = len(p_lin & truth) / len(truth)
    assert rec_lin >= rec_sqrt - 0.02
    assert rec_lin >= 0.15


def test_margin_linear_recall_dominates(spark, emb01):
    ids, S, _labels = emb01
    idx_of = {i: n for n, i in enumerate(ids)}
    xs = [i for i in ids if i % 2 == 0]
    ys = [i for i in ids if i % 2 == 1]
    k = 4
    # brute-force margin over the FULL x × y candidate set
    C = S[np.ix_([idx_of[i] for i in xs], [idx_of[j] for j in ys])]
    ax = np.sort(C, axis=1)[:, ::-1][:, :k].mean(axis=1)
    ay = np.sort(C, axis=0)[::-1][:k, :].mean(axis=0)
    truth = {}
    for a, x in enumerate(xs):
        denom = (ax[a] + ay) / 2.0
        marg = np.where(denom > 0, C[a] / denom, 0.0)
        # (margin desc, y_id asc) — ys is ascending, argmax keeps first
        truth[x] = ys[int(np.argmax(marg))]
    emb = _emb(spark, SF01)
    sx = emb.filter(F.col("vec_id") % 2 == 0)
    sy = emb.filter(F.col("vec_id") % 2 == 1)
    best_sqrt = {
        r["x_id"]: r["y_id"]
        for r in sim.margin_alignment(
            sx, sy, sim.auto_nlist, k=k, cache_key="tlv-r16|sf0.01"
        ).collect()
    }
    best_lin = {
        r["x_id"]: r["y_id"]
        for r in sim.margin_alignment(
            sx, sy, sim.linear_nlist, k=k, cache_key="tlv-r19|sf0.01"
        ).collect()
    }
    agree_sqrt = sum(best_sqrt.get(x) == truth[x] for x in xs) / len(xs)
    agree_lin = sum(best_lin.get(x) == truth[x] for x in xs) / len(xs)
    assert agree_lin >= agree_sqrt - 0.02
    assert agree_lin >= 0.15


def test_ivf_assign_2level_rejects_nondense_cent_ids(spark):
    """r12 ADVICE: the supers filter assumes dense cent_ids 0..k-1;
    non-dense ids (or a k inconsistent with the frame) would leave
    supers empty/undersized and the inner join on __sup would
    silently drop rows. The collected seed table now validates seed
    coverage == k and raises instead."""
    emb = _emb(spark, SF001).limit(64)
    k = 4
    # ids shifted by +10: no centroid has cent_id < ceil(sqrt(4)) = 2,
    # so supers would be empty and every row would silently vanish
    cents = (
        _emb(spark, SF001)
        .limit(k)
        .select(
            (F.monotonically_increasing_id() + 10).alias("cent_id"),
            F.col("embedding").alias("c_vec"),
        )
    )
    with pytest.raises(ValueError, match="dense"):
        sim.ivf_assign_2level(emb, cents, k).collect()
