"""The self-seeding cell policies of semantic_dedup and
mutual_knn_graph — VERDICT r5 #1 / r6 #1: the √N clamp, the
auto==explicit equivalence, the cell-argument guard, and the
dense-renumber fix that lets non-integer id columns through
ivf_assign's int(cent_id) literal inlining.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from trello_github_etl_spark.operators import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_auto_nlist_clamp_edges():
    # floor clamp: tiny corpora still get 16 cells
    assert similarity.auto_nlist(1) == 16
    assert similarity.auto_nlist(0) == 16
    assert similarity.auto_nlist(256) == 16
    assert similarity.auto_nlist(257) == 17  # ceil(sqrt(257)) = 17
    # the dd14/dd24 fixture sizes (union corpus = N + N/50):
    # sf0.01 -> 510, sf0.1 -> 2040, sf1 -> 20400
    assert similarity.auto_nlist(510) == 23
    assert similarity.auto_nlist(2040) == 46
    assert similarity.auto_nlist(20400) == 143
    # ceiling clamp: 4096 cells max (4096² = 16.7M vectors)
    assert similarity.auto_nlist(4096**2) == 4096
    assert similarity.auto_nlist(10**9) == 4096
    # delegation: the dedup-side name is the same function
    assert dedup.semantic_dedup_nlist(510) == 23
    assert dedup.semantic_dedup_nlist(10**9) == 4096


def test_auto_seed_validations(spark):
    emb = _emb(spark)
    with pytest.raises(ValueError, match="nlist must be >= 1"):
        similarity.auto_seed_centroids(emb, nlist=0)
    # the cell argument is a table or one of the two named policies;
    # any other cell-count callable is refused, not silently run flat
    with pytest.raises(ValueError, match="auto_nlist or linear_nlist"):
        dedup.semantic_dedup(emb, lambda n: 8)
    with pytest.raises(ValueError, match="auto_nlist or linear_nlist"):
        similarity.mutual_knn_graph(emb, lambda n: 8)


def test_auto_seed_suffix_folds_k_and_n(spark):
    emb = _emb(spark)
    n = emb.count()
    k = similarity.auto_nlist(n)
    _, suffix, got_k = similarity.auto_seed_centroids(emb)
    assert suffix == f"|auto-k{k}-n{n}" and got_k == k
    # explicit nlist also folds the corpus count: a corpus changing
    # under a reused base cache key must miss the centroid cache on
    # this path too (r7 advice)
    _, suffix_k, got_k7 = similarity.auto_seed_centroids(emb, nlist=7)
    assert suffix_k == f"|auto-k7-n{n}" and got_k7 == 7


def test_semantic_dedup_auto_equals_explicit(spark):
    """The auto path must be byte-equal to passing the same seeds
    explicitly: nlist lowest-id vectors, dense cent_ids 0..k-1."""
    emb = _emb(spark)
    k = similarity.auto_nlist(emb.count())
    explicit = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(
            (
                F.row_number().over(
                    Window.partitionBy(F.lit(0)).orderBy("vec_id")
                )
                - F.lit(1)
            ).alias("cent_id"),
            F.col("embedding").alias("c_vec"),
        )
    )
    auto_rows = sorted(
        dedup.semantic_dedup(emb, threshold=0.92).collect()
    )
    explicit_rows = sorted(
        dedup.semantic_dedup(emb, explicit, threshold=0.92).collect()
    )
    assert auto_rows == explicit_rows
    # contract: one row per input vector, every vector verdicted
    assert len(auto_rows) == emb.count()
    assert {r["verdict"] for r in auto_rows} <= {"kept", "dup_semantic"}
    # dense cells: every assignment lands in [0, k)
    assert all(0 <= r["cell"] < k for r in auto_rows)


def test_mutual_knn_auto_equals_explicit(spark):
    """The √N policy (centroids=auto_nlist) must equal the same
    structure passed as explicit centroids; and the default must be
    the linear policy (centroids=linear_nlist)."""
    emb = _emb(spark)
    cents, _, _ = similarity.auto_seed_centroids(emb)
    sqrt_tier = sorted(
        similarity.mutual_knn_graph(
            emb, similarity.auto_nlist, k=3
        ).collect()
    )
    explicit = sorted(similarity.mutual_knn_graph(emb, cents, k=3).collect())
    assert sqrt_tier == explicit
    assert len(sqrt_tier) > 0
    default = sorted(similarity.mutual_knn_graph(emb, k=3).collect())
    linear_explicit = sorted(
        similarity.mutual_knn_graph(
            emb, similarity.linear_nlist, k=3
        ).collect()
    )
    assert default == linear_explicit
    assert len(default) > 0


def test_auto_path_accepts_string_ids(spark):
    """The r6-advice crash: auto seeds fed corpus ids into
    ivf_assign's int(cent_id) literal inlining, so a string id_col
    died at plan build. Dense renumbering fixes it."""
    emb = _emb(spark).withColumn(
        "sid", F.format_string("doc-%04d", F.col("vec_id"))
    ).select("sid", "embedding")
    cents, _, _ = similarity.auto_seed_centroids(emb, 4, "embedding", "sid")
    out = dedup.semantic_dedup(emb, cents, id_col="sid")
    rows = out.collect()
    assert len(rows) == emb.count()
    # string ids survive into the id and group columns; cells dense
    assert all(r["sid"].startswith("doc-") for r in rows)
    assert all(0 <= r["cell"] < 4 for r in rows)
    # lexicographic lowest-id seeding: doc-0000.. are the seeds, and
    # group exemplars are min-id within group
    for r in rows:
        assert r["group_id"] <= r["sid"] or r["verdict"] == "kept"


def test_ivf_assign_broadcast_path_bit_identical(spark, monkeypatch):
    """ivf_assign's two centroid-shipping strategies — inlined
    literals (k <= IVF_INLINE_MAX) and the one-row broadcast array
    (k above it; SCALE.md lesson 34) — must be bit-identical: same
    fold expression, same doubles (pickle round-trips float64 exactly
    like repr), same lowest-cent_id tie-break."""
    emb = _emb(spark)
    cents, _, _ = similarity.auto_seed_centroids(emb, nlist=8)
    lit1 = sorted(
        similarity.ivf_assign(emb, cents, 1)
        .select("vec_id", "cell", "_norm")
        .collect()
    )
    lit2 = sorted(
        similarity.ivf_assign(emb, cents, 3)
        .select("vec_id", "cell", "_norm", "_crank")
        .collect()
    )
    monkeypatch.setattr(similarity, "IVF_INLINE_MAX", 2)
    bc1 = sorted(
        similarity.ivf_assign(emb, cents, 1)
        .select("vec_id", "cell", "_norm")
        .collect()
    )
    bc2 = sorted(
        similarity.ivf_assign(emb, cents, 3)
        .select("vec_id", "cell", "_norm", "_crank")
        .collect()
    )
    assert lit1 == bc1
    assert lit2 == bc2


def test_auto_nlist_properties_hypothesis():
    """Property pins for the √N clamp (no Spark needed): bounded,
    monotone, and exactly ceil(√N) in the unclamped band."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=0, max_value=10**14))
    def check(n):
        k = similarity.auto_nlist(n)
        assert similarity.IVF_NLIST_MIN <= k <= similarity.IVF_NLIST_MAX
        assert k <= similarity.auto_nlist(n + 1)  # monotone
        if 256 <= n <= 4096**2:
            assert k == math.ceil(math.sqrt(n))

    check()
