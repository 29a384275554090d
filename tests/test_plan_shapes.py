"""Physical-plan regression pins: the scale properties SCALE.md
claims (narrow passes, broadcast-only joins, no stray exchanges) are
asserted here so a refactor that silently re-introduces a shuffle or
a sort-merge join fails CI, not the 100 TB run."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _q(spark, name):
    return entrymod.queries()[name](spark, SF_DIR)


def test_pii_redaction_is_one_narrow_pass(spark):
    plan = _plan(_q(spark, "t7_pii_redaction"))
    assert "Join" not in plan
    # only the ensure_parallelism round-robin repartition may appear
    assert plan.count("Exchange") <= 1
    assert "RoundRobinPartitioning" in plan or "Exchange" not in plan


def test_bloom_probe_has_no_join_operators(spark):
    from trello_github_etl_spark.operators import bloom as B
    from trello_github_etl_spark.io import load_table

    keys = (
        load_table(spark, SF_DIR, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_custkey"
    )
    probed = B.probe_bloom(orders, B.build_bloom(keys, "c_custkey"), "o_custkey")
    plan = _plan(probed)
    assert "Join" not in plan and "Exchange" not in plan


def test_ivf_assignment_is_narrow(spark):
    from trello_github_etl_spark.operators import similarity
    from trello_github_etl_spark.io import load_table

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents = emb.filter(F.col("vec_id") < similarity.NUM_CENTROIDS).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_vec")
    )
    plan = _plan(similarity.ivf_assign(emb, cents, 1))
    assert "Join" not in plan
    assert plan.count("Exchange") <= 1  # ensure_parallelism only


def test_dim_joins_broadcast_never_sort_merge(spark):
    for name in ("j2_customer_geo_rollup", "sql1_region_revenue",
                 "tpch5_local_supplier_volume"):
        plan = _plan(_q(spark, name))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_filters_reach_the_parquet_scan(spark):
    plan = _plan(_q(spark, "p1_filter_open_orders"))
    assert "PushedFilters: [" in plan
    assert "EqualTo(o_orderstatus,O)" in plan or "o_orderstatus" in plan.split(
        "PushedFilters"
    )[1].split("]")[0]


def test_argmax_is_aggregate_not_window(spark):
    """a11 must stay a partial/final hash aggregate (one candidate per
    key crosses the shuffle), never regress to a Window ROW_NUMBER
    that sorts every row."""
    plan = _plan(_q(spark, "a11_latest_order_argmax"))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    # partial aggregation before the exchange: two aggregate levels
    assert (plan.count("HashAggregate") + plan.count("ObjectHashAggregate")) >= 2


def test_moments_are_one_combinable_aggregate(spark):
    """prof2: five power sums in ONE two-phase hash aggregate — no
    window, no second scan, no join."""
    plan = _plan(_q(spark, "prof2_moments"))
    assert "Window" not in plan and "Join" not in plan
    assert plan.count("Scan parquet") == 1


def test_levenshtein_join_is_broadcast_over_distinct(spark):
    """fz1: the theta join must be a broadcast nested-loop over the
    deduped name dimension, never a cartesian over base part rows."""
    plan = _plan(_q(spark, "fz1_levenshtein_pairs"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_keyset_page_is_topk_over_scan(spark):
    """o7: the cursor predicate must reach the scan and the page must
    be a TakeOrdered TopK — no global sort, no exchange."""
    plan = _plan(_q(spark, "o7_keyset_page"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "o_orderdate" in plan.split("FileScan")[1].split("ReadSchema")[0]


def test_repetition_stats_single_narrow_pass(spark):
    # The whole point of the HOF design: everything happens in one
    # Project over the scan — no shuffle, no Python workers.
    for name in ("t8_repetition_stats", "t9_collapse_repeats"):
        plan = _plan(_q(spark, name))
        assert "Join" not in plan, name
        assert plan.count("Exchange") <= 1, name  # ensure_parallelism only
        assert "EvalPython" not in plan, name


def test_adaptive_top_ratio_is_single_scan(spark):
    """t8a's whole value proposition: ONE corpus scan (marker rows +
    token rows from the same explode), never a second read of the
    documents table, no join, no Python workers. Two Exchanges are
    the two groupBy levels (+ ensure_parallelism round-robin)."""
    plan = _plan(_q(spark, "t8a_top_word_adaptive"))
    assert plan.count("Scan parquet") == 1
    assert "Join" not in plan
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final, two levels


def test_corpus_shuffle_has_no_single_partition_sort(spark):
    """pipe6 computes a GLOBAL rank, but the plan must never collapse
    to one partition (the naive row_number() OVER (ORDER BY key)
    does): ranking runs as a bucket-partitioned window, global order
    restored by broadcast prefix-sum offsets."""
    plan = _plan(_q(spark, "pipe6_corpus_shuffle"))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(bucket" in plan
    assert "row_number()" in plan
    # pipe9's curriculum order: same guarantee one level deeper —
    # the window partitions on the composite (stage, hex-bucket) key
    plan9 = _plan(_q(spark, "pipe9_curriculum_order"))
    assert "SinglePartition" not in plan9
    assert "hashpartitioning(stage" in plan9
    assert "row_number()" in plan9


def test_incremental_dedup_single_fp_exchange_on_probe_path(spark):
    """dd10's contract: the batch is classified with ONE fp-keyed
    Exchange on the probe path — the window rides the same
    partitioning the join needs (the corpus side contributes its own
    tiny distinct-fps exchange, broadcast to the join). No Python,
    one Window."""
    plan = _plan(_q(spark, "dd10_incremental_dedup"))
    assert plan.count("Window") == 1
    assert "EvalPython" not in plan
    # ≤2 fp exchanges total: corpus distinct + probe-path window/join
    assert plan.count("Exchange hashpartitioning(fp") <= 2


def test_end_to_end_pipeline_is_one_scan_two_shuffles(spark):
    """pipe7's whole pitch: gates fuse into ONE corpus scan, and the
    entire clean->shuffle->pack chain shuffles exactly twice (dedup
    fingerprint window, shard/pack window) — no materialization
    barrier between pipeline stages."""
    plan = _plan(_q(spark, "pipe7_clean_shuffle_pack"))
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Window") == 2
    assert "EvalPython" not in plan


def test_semantic_dedup_pair_join_is_cell_equi_join(spark):
    """dd14's within-cluster pairing must be an equi-join on the cell
    key — never a cartesian/nested-loop all-pairs scan of the corpus
    (the entire point of clustering first)."""
    from trello_github_etl_spark.io import load_table
    from trello_github_etl_spark.operators import dedup, similarity

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = emb.filter(
        F.col("vec_id") < similarity.NUM_CENTROIDS
    ).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_vec")
    )
    # plan-shape check on the pair stage: build it directly (the full
    # operator's components step is iterative above the union-find
    # cutoff, so its final plan reflects label joins, not the pairing)
    cells = similarity.ivf_assign(emb, cents, 1)
    x, y = cells.alias("x"), cells.alias("y")
    pairs = x.join(
        y,
        (F.col("x.cell") == F.col("y.cell"))
        & (F.col("x.vec_id") < F.col("y.vec_id")),
    )
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipe8_single_scan_no_udf(spark):
    """pipe8's pitch: the whole Gopher/C4 rule stack — quality,
    repetition, PII, winnow dedup — reads the corpus exactly once
    (dup planting is an in-plan explode, not a self-union) and stays
    entirely JVM-side."""
    plan = _plan(_q(spark, "pipe8_quality_filter"))
    assert plan.count("Scan parquet") == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_rerank_fetch_is_broadcast(spark):
    """s13: the exact-rerank stage may touch the float corpus ONLY
    via a broadcast candidate fetch — if the Q×shortlist id list ever
    shuffles the corpus (SortMergeJoin) the whole two-stage design
    degrades to a full-corpus exchange."""
    plan = _plan(_q(spark, "s13_pq_rerank_topk"))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_tpch18_scans_lineitem_once(spark):
    """VERDICT r3 #2: Q18 must aggregate lineitem exactly once — the
    HAVING subquery's per-orderkey SUM is the output total_qty, so a
    second lineitem scan + re-aggregation is pure waste (it was the
    slowest benched query).  Pin: one lineitem scan, one HashAggregate
    pair over it, and no re-join of the raw lineitem after the agg."""
    plan = _plan(_q(spark, "tpch18_large_orders"))
    assert plan.lower().count("lineitem") <= 2  # scan line + its ReadSchema echo
    # one partial+final agg pair on l_orderkey, nothing else aggregates
    n_aggs = plan.count("HashAggregate")
    assert n_aggs <= 2, f"expected <=2 HashAggregate nodes, saw {n_aggs}:\n{plan}"


def test_no_inferred_filter_duplicates_generator_input(spark):
    """InferFiltersFromGenerate puts size(e)>0 below explode(e); when
    e aliases an expensive expression, pushdown inlines the WHOLE
    subtree into a pre-shuffle interpreted Filter (SCALE.md lesson
    22 — a measured 100x on the winnow stream at sf1). gen.exploded
    dodges it; this pin fails if a refactor reverts to plain explode
    over a computed array in the hot document operators."""
    from trello_github_etl_spark.io import load_table
    from trello_github_etl_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        dedup.winnow_fingerprints(docs),
        dedup.jaccard_pairs(docs),
        dedup.minhash_signatures(docs),
    ):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        for line in optimized.splitlines():
            if line.strip().startswith("Filter"):
                assert "md5" not in line, (
                    "expensive expression duplicated into an inferred "
                    "filter:\n" + line[:300]
                )


def test_split_leakage_is_one_hash_agg_no_joins(spark):
    """dd18's whole contamination audit must stay ONE fp-keyed
    hash-aggregation: no join against a split-assignment table (the
    split is computed inline from doc_id) and no pair expansion.
    The only exchanges allowed are ensure_parallelism's round-robin
    and the single hash-partitioning for the groupBy."""
    plan = _plan(_q(spark, "dd18_split_leakage"))
    assert "Join" not in plan
    assert plan.count("hashpartitioning") <= 1


def test_near_dup_leakage_adds_no_join_over_dd3(spark):
    """dd19 decorates dd3's banded pair stream with two narrow split
    expressions and a filter — same number of join operators as dd3
    itself (the band self-join), no assignment-table join on top."""
    dd3_joins = _plan(_q(spark, "dd3_minhash_lsh_pairs")).count("Join")
    dd19_joins = _plan(_q(spark, "dd19_near_dup_split_leakage")).count("Join")
    assert dd19_joins == dd3_joins


def test_dd21_grouped_reads_corpus_once_no_join(spark):
    """dd21's default ('grouped') strategy: one tokenize+hash pass —
    the augmented corpus is 3 unioned scans of documents.parquet, and
    they must appear exactly once (the 'rescan' strategy doubles
    them), with no join operator anywhere (flagging happens by
    in-group array expansion, not a hot-set probe)."""
    plan = _plan(_q(spark, "dd21_repeated_ngram_coverage"))
    assert "Join" not in plan
    assert plan.count("FileScan") == 3


def test_tpch2_reads_lineitem_once(spark):
    """Q2's per-part min must be a window over the one (part, supp)
    aggregate — the groupBy+join-back formulation planned a SECOND
    full lineitem scan (differently-pruned consumers never reuse the
    aggregate subtree; SCALE.md lesson 31's join-shaped sibling)."""
    plan = _plan(_q(spark, "tpch2_min_cost_supplier"))
    assert plan.count("lineitem.parquet") == 1


def test_tpch11_tpch20_read_lineitem_once(spark):
    """The scalar-total (Q11) and per-part-total (Q20) consumers must
    ride windows over their own aggregate frames — the derived-agg +
    join-back forms each planned a second full lineitem scan."""
    for name in ("tpch11_important_parts", "tpch20_excess_suppliers"):
        plan = _plan(_q(spark, name))
        assert plan.count("lineitem.parquet") == 1, name


def test_pipe10_no_single_partition_one_scan(spark):
    """The shard manifest must never globally sort or collect a
    shard: one corpus scan, shard-keyed window + agg on the same
    exchange, zero SinglePartition operators."""
    plan = _plan(_q(spark, "pipe10_shard_plan"))
    assert "SinglePartition" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange") <= 2  # round-robin + shard key


def test_ivf_assignment_broadcast_path_shape(spark):
    """Above IVF_INLINE_MAX cells the centroid table ships as a
    ONE-ROW broadcast (SCALE.md lesson 34): the plan must carry a
    BroadcastNestedLoopJoin against the single packed row and NO
    shuffle exchange beyond ensure_parallelism's round-robin — the
    assignment stays one pass over the corpus either way. The
    literal path (k <= IVF_INLINE_MAX) stays join-free."""
    from trello_github_etl_spark.io import load_table
    from trello_github_etl_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    big_cents, _, _ = similarity.auto_seed_centroids(
        emb, nlist=similarity.IVF_INLINE_MAX + 1
    )
    plan = _plan(similarity.ivf_assign(emb, big_cents, 1))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # no data shuffle: the only partitioning movements allowed are
    # ensure_parallelism's round-robin and the seed-prep single
    # partition (k rows); the corpus is never hash/range-repartitioned
    assert "hashpartitioning" not in plan.lower()
    assert "rangepartitioning" not in plan.lower()
    small_cents, _, _ = similarity.auto_seed_centroids(emb, nlist=4)
    small_plan = _plan(similarity.ivf_assign(emb, small_cents, 1))
    assert "Join" not in small_plan


def test_t17_gopher_rules_is_one_narrow_pass(spark):
    plan = _plan(_q(spark, "t17_gopher_quality_rules"))
    assert "Join" not in plan
    # ensure_parallelism's round-robin is the only exchange
    assert plan.count("Exchange") <= 1
    # the rule HOF trees must be evaluated once: keep references the
    # projected booleans, not re-inlined aggregate() trees
    assert plan.count("aggregate(") <= 2  # r_mean_len's sum, once per bound


def test_t18_pii_scrub_is_one_narrow_pass(spark):
    plan = _plan(_q(spark, "t18_pii_scrub"))
    assert "Join" not in plan and plan.count("Exchange") <= 1


def test_t19_surprisal_broadcasts_vocab_no_global_window(spark):
    plan = _plan(_q(spark, "t19_unigram_surprisal_buckets"))
    # vocab-side and offsets joins broadcast; the corpus is never the
    # build side of a sort-merge join
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # the rank window partitions by the value bucket — a global
    # (empty-partition-spec) row_number window would print
    # 'windowspecdefinition(' without a partition column before the
    # ORDER BY; assert every row_number spec carries _bkt
    import re

    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^,]*),", plan):
        assert "_bkt" in m.group(1)


def test_t16_vocab_topk_is_distributed_no_global_window(spark):
    plan = _plan(_q(spark, "t16_vocab_coverage"))
    # the top-K vocab selection must plan as TakeOrderedAndProject
    # (each partition keeps K rows, driver merges P*K) — NOT a
    # SinglePartition row_number window over the Heaps-law-unbounded
    # distinct-token domain (VERDICT r10 finding #1)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_dd28_span_dedup_no_window_no_cartesian(spark):
    plan = _plan(_q(spark, "dd28_span_dedup"))
    assert "Window" not in plan  # rebuild is collect+array_sort, not a window
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan  # keeper join is an equi-join


def test_dd29_containment_same_candidate_shape_as_dd5(spark):
    p29 = _plan(_q(spark, "dd29_containment_pairs"))
    p5 = _plan(_q(spark, "dd5_jaccard_pairs"))
    # shared machinery: same join/exchange inventory, no pair
    # self-join (candidates come from in-group expansion)
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in p29 and op not in p5
    assert p29.count("Exchange") == p5.count("Exchange")


def test_dd30_containment_cap_engages_before_expansion(spark):
    p30 = _plan(_q(spark, "dd30_containment_capped"))
    p29 = _plan(_q(spark, "dd29_containment_pairs"))
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in p30
    # the df-cap aggregate (countDistinct doc_id AS _df <= 20) and its
    # shingle join exist only in the capped twin, and they sit BEFORE
    # pair expansion (the cap is a candidate-generation lever, not a
    # post-filter)
    assert "_df" in p30 and "_df" not in p29
    assert p30.count("Exchange") > p29.count("Exchange")


def test_dd31_url_dedup_scan_fused_single_keyed_shuffle(spark):
    plan = _plan(_q(spark, "dd31_url_canonical_dedup"))
    # canonicalization is a pure projection fused into the scan; the
    # only data movement is ensure_parallelism's round-robin plus ONE
    # hash exchange on canon_url for the keyed window — no join, no
    # global (empty-partition-spec) window
    assert "Join" not in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange") <= 2
    assert "canon_url" in plan


def test_t20_classifier_scoring_is_scan_fused(spark):
    plan = _plan(_q(spark, "t20_quality_classifier_deciles"))
    # scoring never explodes or joins: bigrams, hashing, weights, and
    # the dot product fold inside the scan projection (no Generate);
    # the only joins are the ntile machinery's broadcasts
    assert "Generate" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # ntile offsets/stats


def test_s16_margin_alignment_cell_join_partitioned_window(spark):
    import re

    plan = _plan(_q(spark, "s16_margin_alignment"))
    # candidates come from the cell equi-join, never the |X|x|Y|
    # product; the top-1 window is keyed on x_id, never global
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for m in re.finditer(
        r"row_number\(\) windowspecdefinition\(([^,]*),", plan
    ):
        assert "x_id" in m.group(1)


def test_dd32_incremental_semdedup_equi_joins_only(spark):
    plan = _plan(_q(spark, "dd32_incremental_semantic_dedup"))
    # state probe and in-batch candidates are equi-joins on cell
    # (never an all-pairs product); assignment is ivf_assign's
    # narrow codegen pass (no join, no window on the corpus side)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_t21_backoff_lm_no_global_window_no_cartesian(spark):
    import re

    plan = _plan(_q(spark, "t21_backoff_lm_ppl_deciles"))
    assert "CartesianProduct" not in plan
    # every row_number window must be partitioned (_bkt, the ntile
    # machinery) — never a partitionless single-task sort
    for m in re.finditer(
        r"row_number\(\) windowspecdefinition\(([^,]*),", plan
    ):
        assert "_bkt" in m.group(1)
    # LM lookups are equi-joins; the unigram sides broadcast
    assert "BroadcastHashJoin" in plan


def test_pipe12_ccnet_stack_no_cartesian_partitioned_windows(spark):
    import re

    plan = _plan(_q(spark, "pipe12_ccnet_stack"))
    assert "CartesianProduct" not in plan
    # every row_number window is the ntile machinery's (_bkt-keyed,
    # never a global single-task rank over the corpus); the keeper
    # election's min window is keyed on the projected fingerprint
    # (_w0 = the md5 expression). The only ordering-first (global)
    # windows left are the ntile offsets frame's running sums over
    # its 32 bucket rows — KB-scale by construction.
    for m in re.finditer(
        r"row_number\(\) windowspecdefinition\(([^,]*),", plan
    ):
        assert "_bkt" in m.group(1)
    keeper_specs = [
        m.group(1)
        for m in re.finditer(r"min\(doc_id[^)]*\) windowspecdefinition\(([^,]*),", plan)
    ]
    assert keeper_specs and all("_w0" in s for s in keeper_specs)


def test_pipe11_stack_composes_without_blowup(spark):
    plan = _plan(_q(spark, "pipe11_filter_stack"))
    # three subplans joined 1:1:1 on doc_id — no cartesian products;
    # the only nested-loop joins are the ntile machinery's 1-row
    # broadcast stats denominators (BuildRight Cross — the
    # adjudicated crossJoin(broadcast(1-row)) pattern), and every
    # row_number window spec carries its value bucket
    assert "CartesianProduct" not in plan
    import re

    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "BuildRight" in ln and "Cross" in ln
    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^,]*),", plan):
        assert "_bkt" in m.group(1)


def test_dd33_repeated_kgram_spans_linear_no_pairs(spark):
    import re

    plan = _plan(_q(spark, "dd33_repeated_kgram_spans"))
    # suffix-array-style dedup must never materialize doc pairs: the
    # only join is the postings->repeated-keys equi-join, and the
    # gaps-and-islands windows are keyed on doc_id (never global)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    specs = re.findall(r"windowspecdefinition\(([^,]*),", plan)
    assert specs  # lag + running sum are present...
    for s in specs:
        assert "doc_id" in s  # ...and every spec is doc-keyed


def test_t22_domain_rollup_scan_fused_zero_joins(spark):
    plan = _plan(_q(spark, "t22_domain_quality_rollup"))
    # host + canonical URL + all six structural rule booleans are one
    # projection fused into the documents scan; the only shuffles are
    # ensure_parallelism's round-robin and the groupBy(domain)
    # aggregate (countDistinct adds its expand, not a join)
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Generate" not in plan
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan


def test_s17_hard_negatives_label_filter_inside_cell_join(spark):
    import re

    plan = _plan(_q(spark, "s17_hard_negative_mining"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the label inequality must sit in the PAIR-JOIN condition (same-
    # label candidates rejected before any cosine fold), not in a
    # post-join Filter: find the cell-keyed join line and check it
    # carries the label comparison
    join_lines = [
        ln for ln in plan.splitlines()
        if ("Join" in ln and "cell" in ln)
    ]
    assert join_lines, plan
    assert any("label" in ln for ln in join_lines), join_lines
    # the top-k window is anchor-keyed, never global
    for m in re.finditer(
        r"row_number\(\) windowspecdefinition\(([^,]*),", plan
    ):
        assert "anchor_id" in m.group(1)


def test_pipe13_provenance_stack_no_cartesian(spark):
    plan = _plan(_q(spark, "pipe13_provenance_stack"))
    # three axes compose via doc_id/domain hash joins; nothing may
    # plan as a product, and no window may go global
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_dd34_overlap_matrix_no_doc_pair_join(spark):
    plan = _plan(_q(spark, "dd34_cross_source_overlap"))
    # pair expansion happens INSIDE the per-fingerprint source array
    # (a Generate over <= C(n_sources,2) elements), never as a
    # doc-level self-join; no products, no global windows
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan
    assert "Generate" in plan
    assert "Window" not in plan


def test_t23_tvd_no_token_self_join_single_scan(spark):
    plan = _plan(_q(spark, "t23_source_unigram_tvd"))
    # the oracle's token-level counts-x-counts self-join is exactly
    # what Spark must NOT do at a 10^9-token vocabulary: pairs come
    # from the in-array expansion (Generate over the per-token source
    # set). The only cross product is the declared sources-x-sources
    # totals frame (rows = #sources). The pinned counts cache serves
    # every downstream reference, so the tokenize pass runs once.
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "InMemoryTableScan" in plan


def test_board_customize_has_no_cross_join_and_parses_bounty_once(spark):
    """The board dimensions reach the rows as scalar subqueries, not
    broadcast cross joins, and the staged check-item parser puts each
    bounty-regex use in the plan once."""
    from trello_github_etl_spark.functions import text
    from trello_github_etl_spark.operators.board_pipeline import (
        customize_cards,
        customize_check_items,
    )
    from trello_github_etl_spark.queries import board_q

    entities = board_q._board_entities(spark)
    cards = customize_cards(entities, board_q.STATUS_MAP, board_q.SECADM)
    items = customize_check_items(entities, cards.select("id"))
    for df in (cards, items):
        plan = _plan(df)
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
    plan = _plan(items)
    # the amount's regexp_extract (group 1) and the first-match split
    assert plan.count(f"{text.BOUNTY_RE}, 1)") == 1
    assert plan.count(text.BOUNTY_RE) == 2
    # task_type's first-match strip is one limit-2 split, not an
    # extract + instr + substring splice repeating the pattern
    assert plan.count(r"\s*Tasks?\s*") == 1
