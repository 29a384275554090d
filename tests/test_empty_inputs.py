"""Zero-row robustness: every operator family must plan and execute
over empty tables (at 100 TB, empty partitions/splits are routine;
reduce-style code that assumes a first row dies there). Each
representative query must run without raising; global aggregates may
legitimately produce their one empty-input row."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# One per family: filter, scan-agg, join, anti, group-concat, window
# top-k, fuzzy, owners, CDC, session windows, as-of, range join,
# tokens, dedup (exact/LSH/jaccard/decontaminate), ANN (brute/IVF/
# quantized/kmeans), cleaning chain, chunking, profiler, TPC-H sweep
# members, SQL front door.
REPRESENTATIVE = [
    "p1_filter_open_orders", "a4_pricing_summary", "j1_order_line_rollup",
    "j9_customers_without_orders", "a1_order_markdown_checklist",
    "o1_top3_orders_per_segment", "j6_fuzzy_substring_join",
    "j7_owner_resolution", "cdc_field_changes", "w3_session_windows",
    "as1_last_view_before_click", "rj1_error_followup_stats",
    "t1_token_stats", "t7_pii_redaction", "dd1_exact_dups",
    "dd3_minhash_lsh_pairs", "dd5_jaccard_pairs", "dd8_decontaminate",
    "s1_cosine_topk", "s4_ivf_topk", "s8_quantized_topk",
    "s9_kmeans_refine", "pipe1_clean_corpus", "pipe3_token_chunks",
    "prof1_orders_stats", "tpch18_large_orders", "tpch21_waiting_supplier",
    "sql1_region_revenue", "t8_repetition_stats", "t9_collapse_repeats",
    "sql5_recursive_month_spine", "sql6_lateral_topk_per_customer",
    # round-2 operator families: two-star components (dd6),
    # incremental dedup, triangles, adaptive ratio, chi-square grid,
    # JL projection, packing (window + applyInPandas), corpus shuffle
    "dd6_dup_clusters", "dd10_incremental_dedup",
    "dd11_triangle_counts", "t8a_top_word_adaptive",
    "t10_source_lang_chisq", "s11_random_projection",
    "pipe4_concat_packing", "pipe5_greedy_pack", "pipe6_corpus_shuffle",
    # round-4: readability (narrow pass) and scaled-cell SemDeDup
    # (ivf_assign scores an inlined — possibly empty — centroid
    # literal per row, so zero centroids just yields zero rows).
    "t15_readability", "dd15_semantic_dedup_nlist64",
    # round-5 session 2: span audit (grouped-array), keeper election
    # (components over zero pairs), incremental near-dup (empty band
    # state + empty batch bar its literal row), vocab/OOV, epoch mix,
    # DSIR fold, mutual-kNN graph, FK audit, adapted TPC-H tail
    "dd21_repeated_ngram_coverage", "dd22_dup_cluster_keepers",
    "dd23_incremental_near_dedup", "t16_vocab_coverage",
    "samp6_epoch_mix", "samp7_dsir_importance", "s15_mutual_knn_graph",
    "dq2_referential_integrity", "tpch2_min_cost_supplier",
    "tpch11_important_parts", "tpch20_excess_suppliers",
    # round-7: self-seeding SemDeDup (count=0 → clamp floor k=16 →
    # limit(16) of nothing → ivf_assign's empty-centroid branch) and
    # star edges (empty banding → empty hubs → empty edge list)
    "dd24_semantic_dedup_auto",
    "dd25_lsh_star_edges",
]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        src = os.path.join(SF_DIR, f"{t}.parquet")
        spark.read.parquet(src).limit(0).write.parquet(
            os.path.join(str(d), f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_runs_on_empty_tables(spark, empty_sf_dir, name):
    qs = entrymod.queries()
    df = qs[name](spark, empty_sf_dir)
    n = df.count()
    assert n >= 0
    df.limit(5).collect()  # execution, not just planning


@pytest.mark.parametrize("name", ["s12_pq_topk", "s13_pq_rerank_topk"])
def test_pq_family_empty_corpus_is_loud(spark, empty_sf_dir, name):
    """PQ operators cannot train a codebook on an empty corpus; the
    failure must be the explicit undersized-seed error (ADVICE r3),
    not an IndexError from rows[0]."""
    qs = entrymod.queries()
    with pytest.raises(Exception) as ei:
        qs[name](spark, empty_sf_dir).count()
    msg = str(ei.value)
    assert "IndexError" not in msg
    assert "seed" in msg or "centroid" in msg.lower()
