"""cell_pairs' giant-cell block-salting lever (blocks=B): the pair
multiset must be EXACTLY the plain cell-equi-join's — blocking only
re-partitions the pair enumeration (each unordered pair matches on
exactly one ordered block combination), it never adds, drops, or
rescores a candidate. Asserted bit-exact (cos doubles included), on
cell_join itself for every join shape the operators build, plus the
plumbing through semantic_dedup and mutual_knn_graph and the plan shape (explicit
AQE-exempt exchange, no cartesian product).
SCALE.md lesson 37.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from trello_github_etl_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _cells(spark, nlist=4):
    emb = _emb(spark)
    cents, _, _ = similarity.auto_seed_centroids(emb, nlist=nlist)
    return similarity.ivf_assign(emb, cents, 1)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_cell_pairs_blocked_multiset_bit_identical(spark):
    """blocks=1 vs B ∈ {2, 3, 7}: same (va, vb, cos) rows, same
    double bits — the blocked join scores the identical candidate set
    with the identical prenormed-cosine expression. B=7 > the number
    of rows in some cells, so empty blocks are exercised too."""
    cells = _cells(spark)
    base = sorted(similarity.cell_pairs(cells).collect())
    assert base  # fixture produces within-cell pairs
    for b in (2, 3, 7):
        got = sorted(similarity.cell_pairs(cells, blocks=b).collect())
        assert got == base, f"blocks={b} diverged"


def test_cell_pairs_blocks_validation(spark):
    cells = _cells(spark)
    with pytest.raises(ValueError, match="blocks must be >= 1"):
        similarity.cell_pairs(cells, blocks=0)


def test_semantic_dedup_pair_blocks_identical(spark):
    """pair_blocks is purely a physical re-plan: full output frame
    equality on both the static-centroid path (dd14's shape) and the
    self-seeding auto path (dd24's shape)."""
    emb = _emb(spark)
    cents = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_vec")
    )
    plain = sorted(dedup.semantic_dedup(emb, cents, threshold=0.8).collect())
    blocked = sorted(
        dedup.semantic_dedup(emb, cents, threshold=0.8, pair_blocks=2).collect()
    )
    assert blocked == plain
    auto_plain = sorted(dedup.semantic_dedup(emb, threshold=0.8).collect())
    auto_blocked = sorted(
        dedup.semantic_dedup(emb, threshold=0.8, pair_blocks=3).collect()
    )
    assert auto_blocked == auto_plain


def test_mutual_knn_pair_blocks_identical(spark, monkeypatch):
    """mutual_knn_graph's derived block count (LINEAR_PAIR_BLOCKS on
    its linear_nlist default) is purely a physical re-plan: the same
    edge rows unblocked and blocked."""
    emb = _emb(spark)
    monkeypatch.setattr(similarity, "LINEAR_PAIR_BLOCKS", 1)
    plain = sorted(similarity.mutual_knn_graph(emb, k=3).collect())
    assert plain
    monkeypatch.setattr(similarity, "LINEAR_PAIR_BLOCKS", 2)
    blocked = sorted(similarity.mutual_knn_graph(emb, k=3).collect())
    assert blocked == plain


def _label_cells(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding", "label"
    )
    cents, _, _ = similarity.auto_seed_centroids(emb, nlist=4)
    return similarity.ivf_assign(emb, cents, 1, extra_cols=("label",))


def _self_join(cells, blocks):
    # cell_pairs' / mutual_knn_graph's shape: id inequality
    return similarity.cell_join(
        cells, cells, "vec_id", "vec_id", blocks,
        F.col("x.vec_id") < F.col("y.vec_id"),
    ).select("x.vec_id", "y.vec_id")


def _self_label_join(cells, blocks):
    # hard_negative_mining's shape: id AND label inequality
    return similarity.cell_join(
        cells, cells, "vec_id", "vec_id", blocks,
        (F.col("x.vec_id") < F.col("y.vec_id"))
        & (F.col("x.label") != F.col("y.label")),
    ).select("x.vec_id", "y.vec_id", "x.label", "y.label")


def _cross_label_join(cells, blocks):
    # margin_alignment's / the state probe's cross-side shape, with
    # the label predicate ANDed on
    xs = cells.filter(F.col("vec_id") % 2 == 0)
    ys = cells.filter(F.col("vec_id") % 2 == 1).select(
        "cell",
        F.col("vec_id").alias("_y_id"),
        F.col("label").alias("_y_label"),
    )
    return similarity.cell_join(
        xs, ys, "vec_id", "_y_id", blocks,
        F.col("x.label") != F.col("y._y_label"),
    ).select("vec_id", "_y_id", "label", "_y_label")


@pytest.mark.parametrize(
    "join",
    [_self_join, _self_label_join, _cross_label_join],
    ids=["self", "self-label", "cross-label"],
)
def test_cell_join_blocked_identity(spark, join):
    """cell_join's block salting is purely a physical re-plan: B=4
    yields exactly the B=1 (plain cell equi-join) row multiset, with
    the caller's predicates still applied inside the join."""
    cells = _label_cells(spark)
    plain = sorted(map(tuple, join(cells, 1).collect()))
    assert plain  # the fixture produces candidates on every shape
    assert sorted(map(tuple, join(cells, 4).collect())) == plain


def test_ivf_cell_operators_take_one_cell_argument():
    """Each IVF-cell operator takes ONE cell argument (a table or a
    named policy) and derives assignment, block salting and the
    repartition from it: no two_level, no nlist beside centroids, no
    centroid count, and pair_blocks only where dd26 sets it."""
    import inspect

    ops = {
        "semantic_dedup": dedup.semantic_dedup,
        "incremental_semantic_dedup": dedup.incremental_semantic_dedup,
        "mutual_knn_graph": similarity.mutual_knn_graph,
        "margin_alignment": similarity.margin_alignment,
        "hard_negative_mining": similarity.hard_negative_mining,
    }
    settable = 0
    for name, fn in ops.items():
        params = set(inspect.signature(fn).parameters)
        assert "two_level" not in params, name
        assert "nlist" not in params, name
        assert "centroids" in params, name
        assert ("pair_blocks" in params) == (name == "semantic_dedup"), name
        knobs = {"centroids", "pair_blocks"}
        if name == "incremental_semantic_dedup":
            assert "k" not in params
        settable += len(params & knobs)
    assert settable == 6


def test_blocked_plan_shape(spark):
    """The blocked join must (a) stay an equi-join — no cartesian
    product, no broadcast of the corpus side — and (b) carry the
    explicit numPartitions exchange (REPARTITION_BY_NUM), which is
    exempt from AQE byte-based coalescing: the join's cost is the
    cosine folds in its condition, invisible to byte stats (SCALE.md
    lessons 36/37)."""
    cells = _cells(spark)
    plan = _plan(similarity.cell_pairs(cells, blocks=4))
    assert "CartesianProduct" not in plan
    # the shuffle_hash hint must hold even though the fixture side
    # fits under autoBroadcastJoinThreshold — a corpus-side broadcast
    # is the lesson-36 at-scale killer this shape exists to avoid
    assert "BroadcastHashJoin" not in plan
    assert "ShuffledHashJoin" in plan
    assert "REPARTITION_BY_NUM" in plan
    assert "_blk" in plan and "_pb" in plan
