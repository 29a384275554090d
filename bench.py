"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line (the LAST stdout line), kept SMALL:
{"metric": "...", "value": N, "unit": "sec", "sf": ..., "n_queries":
 N, "queries": {<the 5 worst only>}, "calibration_secs": ...,
 "ref_secs": ...}

Each query is executed to completion via a noop-format write so the
full plan runs with every output column materialized (a bare
``.count()`` would let Catalyst prune expensive projections); timings
exclude session startup but include all shuffles/scans.

Statistical honesty (VERDICT r2 #2): every query runs N times
(default 3, env SPARK_GRAFT_BENCH_RUNS); the per-query MEDIANS — the
FULL map — go to stderr and the sibling ``BENCH_spread.json``, never
the stdout line.  VERDICT r3 #1 and r12 #2: the driver tail-captures
only the last ~2000 chars of stdout; inlining first ``spread`` (r3)
and then the grown 89-entry ``queries`` map (r5..r12) pushed the
line's head — where ``value`` lives — out of the window, so
``BENCH_r05..r12.json`` all recorded ``"parsed": null``.  The stdout
line therefore carries ONLY the headline total plus the 5 worst
queries; tests/test_bench_line.py pins the size budget.

Driver-noise attribution (VERDICT r12 #5): the constant-work
calibration probe anti-correlated with observed query speed in both
r11 and r12 — it measures raw CPU, not the I/O+shuffle mix the
queries see, so it cannot normalize round-over-round driver deltas.
``ref_secs`` replaces it as the normalizer: a fixed 3-query reference
cohort (t1/dd3/s1 — scan-, shuffle- and vector-shaped) is re-timed at
the START, MIDDLE and END of the sweep; the summed per-query medians
move with whatever the machine is doing DURING the sweep.  Compare
rounds as value/ref_secs; calibration_secs stays for continuity.

Sub-second queries get extra runs (n*2+1, VERDICT r3 #3: mm1's median
tripled on n=3 pure noise — tiny queries need more samples for a
stable median).

r15 measurement changes (both declared in OPTIMIZATION_r15.md):
- post-sweep outlier RE-TIME pass (VERDICT r14 #1) — see the inline
  comment in main(); retimed names ride the stdout line (`retimed`),
  pre-retime medians stay in the stderr/sibling detail.
- the IVF Python-side seed memos are cleared before EVERY timed run
  (VERDICT r14 #5), so ivf-family medians are cold-seed numbers from
  this round on (a one-time step change vs r14 and earlier).

Every timed run is one ``registry.run(..., "noop")``: it starts cold
(seed memos and CacheManager cleared), tags the run's jobs with
``q:<name>`` and reports the jobs and the persistent RDDs the run
left behind; the detail records both per query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from trello_github_etl_spark import registry
from trello_github_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one representative per operator family. Update as
# coverage widens; keep total runtime bounded.
HEADLINE = [
    # relational core
    "p1_filter_open_orders",
    "a4_pricing_summary",
    "j2_customer_geo_rollup",
    "j1_order_line_rollup",
    "j9_customers_without_orders",
    "a1_order_markdown_checklist",
    "o4_top10_orders",
    "o1_top3_orders_per_segment",
    "tpch5_local_supplier_volume",
    "tpch6_revenue_change",
    "tpch18_large_orders",
    "skew1_salted_event_rollup",
    "sql1_region_revenue",
    "prof1_orders_stats",
    "prof2_moments",
    "a11_latest_order_argmax",
    "bloom1_runtime_filter",
    "zo1_zorder_key",
    # scalar/parse + board-domain
    "f3_title_split",
    "j7_owner_resolution",
    "cdc_field_changes",
    "ivm1_delta_merge",
    # windows + temporal joins
    "w3_session_windows",
    "as1_last_view_before_click",
    "rj1_error_followup_stats",
    # LLM-pipeline
    "t1_token_stats",
    "t7_pii_redaction",
    "t8_repetition_stats",
    "pipe1_clean_corpus",
    "pipe2_source_cap",
    "dd8_decontaminate",
    # dd6_dup_clusters (iterative components) is oracle-verified but
    # excluded here: at test scale its runtime is ~90% fixed per-round
    # job-scheduling overhead, not data work.
    "dd3_minhash_lsh_pairs",
    # dd5_jaccard_pairs (uncapped all-pairs-within-shingle, kept for
    # oracle parity) was the last pair emitter in the headline with no
    # inflation lever — 13.3 s at sf1 and the one quadratic surface
    # reachable from the bench (VERDICT r4 watch item). The headline
    # now benches its production twin dd7 (max_shingle_df=10 engaged,
    # mirroring dd17's HAMMING_BAND_DF); measured effect in SCALE.md
    # lesson 28.
    "dd7_jaccard_df_capped",
    "s1_cosine_topk",
    "s4_ivf_topk",
    "mm1_decode_features",
    "mm4_audio_segments",
    # round-3 additions
    "dd12_winnow_pairs",
    "dd14_semantic_dedup",
    "t14_bigram_novelty",
    "samp3_temperature_rebalance",
    "pipe8_quality_filter",
    "bp1_quickview_rows",
    "s12_pq_topk",
    # round-4 additions
    "dd15_semantic_dedup_nlist64",
    "s13_pq_rerank_topk",
    "dd17_simhash_hamming_pairs",
    "pipe9_curriculum_order",
    "mm5_image_ahash_pairs",
    "dq1_expectations",
    # round-5 additions
    "dd18_split_leakage",
    "dd19_near_dup_split_leakage",
    "dd20_train_decontaminate",
    "dd21_repeated_ngram_coverage",
    "t16_vocab_coverage",
    "samp7_dsir_importance",
    # dd22 (cluster keepers) embeds dd6's iterative components and is
    # excluded for dd6's reason: fixed per-round scheduling overhead
    # dominates at test scale. dd23 is the incremental classifier.
    "dd23_incremental_near_dedup",
    "dq2_referential_integrity",
    "s15_mutual_knn_graph",
    "ivm4_join_view_delta",
    "pipe10_shard_plan",
    "ivm5_signed_join_delta",
    # round-7 additions
    "dd24_semantic_dedup_auto",
    "dd25_lsh_star_edges",
    "dd26_semantic_dedup_blocked",
    # round-8 additions
    "dd27_lsh_pairs_capped",
    # round-9 additions
    "t17_gopher_quality_rules",
    "t18_pii_scrub",
    "t19_unigram_surprisal_buckets",
    "dd28_span_dedup",
    "dd29_containment_pairs",
    # round-10 additions
    "dd30_containment_capped",
    "dd31_url_canonical_dedup",
    "t20_quality_classifier_deciles",
    "pipe11_filter_stack",
    # round-11 additions
    "t21_backoff_lm_ppl_deciles",
    "dd32_incremental_semantic_dedup",
    "s16_margin_alignment",
    "pipe12_ccnet_stack",
    "dd33_repeated_kgram_spans",
    "t22_domain_quality_rollup",
    "s17_hard_negative_mining",
    "pipe13_provenance_stack",
    "dd34_cross_source_overlap",
    "t23_source_unigram_tvd",
    # round-12 additions: the linear-occupancy ANN-mining quartet
    "s18_mutual_knn_linear",
    "s19_margin_alignment_linear",
    "s20_hard_negatives_linear",
    "dd35_incremental_semdedup_linear",
    # round-14 additions (VERDICT r13 #6): the slowest NON-headline
    # queries by the r13 registry benches, so a regression in the
    # long tail is driver-visible each round instead of living only
    # in the full-registry artifacts the driver never parses. Ranked
    # by run2 (run1's bp2 24.2s / cdc_creates 9.6s were the
    # documented transient machine spike — run2 has them at 1.4/0.4s;
    # bp2 kept anyway as the one board-fixture query with real cost).
    "dd16_pagerank_dup_graph",
    "dd22_dup_cluster_keepers",
    "dd6_dup_clusters",
    "s10_ivf_trained_topk",
    "bp2_card_issue_bodies",
    # round-14: the true-partsupp TPC-H plan families (VERDICT r13 #3)
    "tpch2ps_min_cost_partsupp",
    "tpch11ps_partsupp_value",
    "tpch20ps_excess_availqty",
]


# Reference cohort for driver-noise normalization (VERDICT r12 #5):
# one parquet-scan-dominated query, one shuffle/join-dominated one,
# one vector-math one — the three cost shapes the headline mixes.
# Membership is FROZEN: changing it breaks round-over-round
# comparability of ref_secs.
REF_COHORT = ["t1_token_stats", "dd3_minhash_lsh_pairs", "s1_cosine_topk"]


def _ref_cohort_sample(spark, samples: dict[str, list[float]]) -> None:
    """One timed run of each cohort query (started cold by
    registry.run, so a sibling query's persisted subtree can't
    subsidize the reading).
    Partial corpora (docs/embeddings-only sfN dirs) skip missing
    tables silently — ref_secs then sums whatever cohort survives,
    which is still internally consistent across rounds at the same
    SF."""
    for name in REF_COHORT:
        if name not in registry.QUERIES:
            continue
        try:
            run = registry.run(spark, name, SF_DIR, "noop")
            samples.setdefault(name, []).append(run.secs)
        except Exception:  # noqa: BLE001 — normalizer must never kill the bench
            pass


def compact_line(
    timings: dict[str, float],
    sf: str,
    calibration: float,
    ref_secs: float,
    errors: dict[str, str],
    ref_n: int | None = None,
    retimed: list[str] | None = None,
) -> dict:
    """COMPACT stdout line (VERDICT r12 #2): the driver tail-captures
    ~2000 chars of stdout; the full 89-entry queries map overflowed
    it every round since r5, truncating away `value`. Carry only the
    5 worst queries — the full map lives in BENCH_spread.json and on
    stderr. tests/test_bench_line.py pins the size budget against a
    full-registry-sized timing map."""
    worst5 = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    line = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "queries": worst5,
        "calibration_secs": calibration,
        "ref_secs": ref_secs,
    }
    if retimed:
        # VERDICT r14 #1: the names whose medians were re-timed after
        # the sweep (pooled with the original runs) — bounded at 10 by
        # the suspect selection, so the line stays inside the driver's
        # capture window (tests/test_bench_line.py).
        line["retimed"] = sorted(retimed)
    if ref_n is not None:
        # r13 ADVICE: _ref_cohort_sample swallows cohort failures —
        # without the surviving-cohort size on the line, a partial
        # cohort (missing table, errored query) skews round-over-round
        # value/ref_secs normalization ~33% undetected. ref_n is the
        # count of cohort queries that actually produced medians;
        # partial_ref flags the degraded-normalizer case loudly.
        line["ref_n"] = ref_n
        if ref_n < len(REF_COHORT):
            line["partial_ref"] = True
    if errors:
        # count only, on the compact line (full messages live in the
        # sibling artifacts/stderr). partial=true marks that `value`
        # sums only the SURVIVING queries — without it, a run where a
        # heavy query failed would read as a round-over-round speedup
        # (post-r10 review).
        line["error_count"] = len(errors)
        line["partial"] = True
    return line


def retime_suspects(
    timings: dict[str, float],
    spread: dict[str, list],
    ref_samples: dict[str, list[float]],
) -> list[str]:
    """Select the post-sweep re-time candidates (VERDICT r14 #1) —
    see the caller comment in main() for the rationale. Returns at
    most 10 names, worst-first: every >=1s query whose median exceeds
    2.5x its own min-of-run, plus — only when the sweep shows the
    machine moved (a dispersion suspect exists, or a ref-cohort
    query's start/middle/end samples spread beyond 1.5x) — the >=2s
    members of the worst-5."""
    machine_moved = any(
        len(v) > 1 and max(v) > 1.5 * min(v) for v in ref_samples.values()
    )
    by_worst = sorted(timings, key=lambda k: timings[k], reverse=True)
    suspects = [
        n
        for n in by_worst
        if timings[n] >= 1.0 and timings[n] > 2.5 * spread[n][0]
    ]
    if suspects or machine_moved:
        for n in by_worst[:5]:
            if timings[n] >= 2.0 and n not in suspects:
                suspects.append(n)
    return suspects[:10]


def _calibration_secs(spark) -> float:
    """Constant-work CPU reference (VERDICT r5 #4): hash-fold 50M
    synthetic longs on all cores — zero I/O, zero data dependence, so
    the median of 3 runs measures THIS MACHINE under THIS driver, not
    the queries. Driver-to-driver bench comparisons divide by it
    instead of eyeballing ±20% machine noise: a query delta that
    tracks the calibration delta is the machine; one that doesn't is
    the code. xxhash64 summed as decimal so the fold can't overflow
    or be constant-folded away."""
    runs = []
    for _ in range(3):
        t0 = time.time()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(cast(xxhash64(id) as decimal(38,0))) AS h"
        ).write.format("noop").mode("overwrite").save()
        runs.append(time.time() - t0)
    return round(statistics.median(runs), 3)


def main() -> None:
    registry.load_all()
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers once with the cheapest query.
    # Partial corpora (the sfN scale-probe dirs carry only
    # documents/embeddings) can't run the relational warmup — t1 reads
    # documents only and is similarly cheap.
    try:
        registry.run(spark, "o4_top10_orders", SF_DIR, "collect")
    except Exception:
        registry.run(spark, "t1_token_stats", SF_DIR, "collect")
    # Warm the PYTHON worker pool too (VERDICT r3 #3): the first
    # Arrow/mapInPandas job in a session forks 32 python workers and
    # initializes Arrow — ~1.5-2.5 s that previously landed inside
    # whichever Python-path query ran first (mm1's 0.30→0.76 s median
    # "regression" was exactly this cold start under n=3).
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    calibration = _calibration_secs(spark)
    print(f"# calibration: {calibration}s", file=sys.stderr)

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Optional subset (e.g. the sf1 heavy-hitter bench): comma list.
    # The sentinel ALL benches the ENTIRE registry — the honest
    # full-registry timing source for tools/ratio_gate.py (median of
    # n noop-write runs; the correctness sweeps' per-query secs are
    # single-shot and include the driver collect, whose Arrow
    # transfer grows with RESULT size — a measurement artifact that
    # produced 12 false scale flags on the first r9 gate run).
    names_env = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if names_env == "ALL":
        headline = sorted(registry.QUERIES)
    elif names_env:
        headline = [n for n in names_env.split(",") if n]
    else:
        headline = HEADLINE
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    all_runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    work: dict[str, dict[str, int]] = {"jobs": {}, "pins": {}}
    ref_samples: dict[str, list[float]] = {}
    _ref_cohort_sample(spark, ref_samples)  # START-of-sweep sample
    midpoint = len(headline) // 2
    for qi, name in enumerate(headline):
        if qi == midpoint and qi > 0:
            _ref_cohort_sample(spark, ref_samples)  # MIDDLE sample
        if name not in registry.QUERIES:
            continue
        # n runs, report the median: single shots are ±30% noisy
        # (JIT/worker-pool warmup, GC); the median is robust to one
        # outlier in either direction. registry.run times the build
        # with the action: iterative operators (e.g. connected
        # components) do real work during plan construction.
        # One failing query must not lose the whole artifact (r9
        # advice): an ALL-mode sweep against a partial sfN dir (e.g.
        # make_sfN.py's docs/embeddings-only corpora) raises on every
        # relational query — record the failure and keep going.
        try:
            done = [registry.run(spark, name, SF_DIR, "noop") for _ in range(n_runs)]
            # Sub-second queries are noise-dominated at small n (VERDICT
            # r3 #3): once we know the query is fast, take extra samples
            # — the marginal cost is trivial and the median stabilizes.
            if statistics.median(r.secs for r in done) < 1.0 and n_runs > 1:
                done += [
                    registry.run(spark, name, SF_DIR, "noop")
                    for _ in range(n_runs + 1)
                ]
        except Exception as exc:  # noqa: BLE001 — keep sweeping
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"# {name}: FAILED {errors[name]}", file=sys.stderr)
            continue
        runs = [r.secs for r in done]
        timings[name] = round(statistics.median(runs), 3)
        work["jobs"][name] = len(done[-1].jobs)
        work["pins"][name] = len(done[-1].pins)
        all_runs[name] = runs
        # [min, max, n]: n records the ACTUAL sample count (sub-second
        # queries take extra runs), not the configured n_runs
        spread[name] = [round(min(runs), 3), round(max(runs), 3), len(runs)]
        print(
            f"# {name}: median {timings[name]}s "
            f"(min {spread[name][0]}, max {spread[name][1]}, n={len(runs)}, "
            f"jobs {work['jobs'][name]}, pins {work['pins'][name]})",
            file=sys.stderr,
        )

    _ref_cohort_sample(spark, ref_samples)  # END-of-sweep sample

    # Post-sweep outlier re-time pass (VERDICT r14 #1): the r14 driver
    # sweep hit a slow machine window mid-run and reported three
    # UNTOUCHED queries (s18/s19/t23) at 2-4x their same-session 8-core
    # and r13 values — one transient poisoned the round-over-round
    # artifact. After the sweep, re-time
    #   (a) any query whose median exceeds 2.5x its own min-of-run (a
    #       PARTIAL window: some runs fast, some slow), always; and
    #   (b) the worst-5 by median (the only per-query numbers the
    #       driver's stdout line carries — the trio class, where EVERY
    #       run landed inside the window and within-query dispersion is
    #       silent), but only when the sweep shows evidence the machine
    #       moved: a dispersion suspect exists, or a ref-cohort query's
    #       start/middle/end samples spread beyond 1.5x. A clean run
    #       adds zero retime cost.
    # One fresh n_runs block each, POOLED with the original runs (the
    # VERDICT asked for the re-timed median alone; pooling is strictly
    # more robust — the reported median then spans both machine states
    # instead of whichever one the retime block happened to sample).
    # Pre-retime medians stay visible in the stderr/sibling detail
    # (`pre_retime`).
    pre_retime: dict[str, float] = {}
    if timings:
        for name in retime_suspects(timings, spread, ref_samples):
            try:
                fresh = [
                    registry.run(spark, name, SF_DIR, "noop").secs
                    for _ in range(n_runs)
                ]
            except Exception:  # noqa: BLE001 — retime must never kill the bench
                continue
            pooled = all_runs[name] + fresh
            pre_retime[name] = timings[name]
            timings[name] = round(statistics.median(pooled), 3)
            all_runs[name] = pooled
            spread[name] = [
                round(min(pooled), 3),
                round(max(pooled), 3),
                len(pooled),
            ]
            print(
                f"# retime {name}: median {pre_retime[name]} -> "
                f"{timings[name]}s (fresh {[round(x, 3) for x in fresh]})",
                file=sys.stderr,
            )
    ref_medians = {
        n: round(statistics.median(v), 3) for n, v in ref_samples.items()
    }
    ref_secs = round(sum(ref_medians.values()), 3)
    print(f"# ref cohort medians: {ref_medians}", file=sys.stderr)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Spread/min-max detail AND the full per-query median map: stderr
    # + sibling file, never the stdout JSON line (the driver
    # tail-captures ~2000 chars of stdout; keep that line small).
    detail = {
        "queries": timings,
        "spread": spread,
        "runs": n_runs,
        "calibration_secs": calibration,
        "ref_cohort": ref_medians,
        "ref_secs": ref_secs,
        **work,
    }
    if pre_retime:
        # medians as the main sweep measured them, BEFORE the retime
        # pool — kept so round-over-round comparisons can see both
        detail["pre_retime"] = pre_retime
    if errors:
        detail["errors"] = errors
    print(f"# spread: {json.dumps(detail)}", file=sys.stderr)
    # Only a FULL headline run may overwrite the sibling artifact — a
    # SPARK_GRAFT_BENCH_QUERIES subset run would silently clobber it
    # with partial data. Non-default SF runs get their own sibling
    # (BENCH_spread_sf1.json etc.) so the driver's sf0.1 artifact
    # never carries another decade's numbers.
    # sf must be a bare number to name a file with — an SF_DIR
    # without an 'sf<N>' suffix would otherwise bake a PATH into
    # the filename and the open() below would fail silently into
    # the read-only-checkout except (r5 code review)
    sf_token = sf if sf.replace(".", "", 1).isdigit() else "custom"
    if names_env == "ALL":
        # full-registry medians: ratio_gate's scale/regression input.
        # SPARK_GRAFT_BENCH_OUT names the artifact for REPEAT runs
        # (ratio_gate pools same-code runs on both sides — r11), so
        # run2 never clobbers run1.
        try:
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    os.environ.get(
                        "SPARK_GRAFT_BENCH_OUT",
                        f"BENCH_registry_sf{sf_token}.json",
                    ),
                ),
                "w",
            ) as fh:
                json.dump(
                    {
                        "queries": timings,
                        "spread": spread,
                        "runs": n_runs,
                        "calibration_secs": calibration,
                        "ref_cohort": ref_medians,
                        "ref_secs": ref_secs,
                        "sf": sf,
                        "errors": errors,
                        "pre_retime": pre_retime,
                    },
                    fh,
                    indent=1,
                    sort_keys=True,
                )
                fh.write("\n")
        except OSError:
            pass
    if names_env is None:
        spread_name = (
            "BENCH_spread.json"
            if SF_DIR.rstrip("/") == "/root/testdata/sf0.1"
            else f"BENCH_spread_sf{sf_token}.json"
        )
        try:
            with open(
                os.path.join(os.path.dirname(os.path.abspath(__file__)), spread_name),
                "w",
            ) as fh:
                json.dump(detail, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except OSError:
            pass  # read-only checkout: stderr copy above still has it
    print(
        json.dumps(
            compact_line(
                timings,
                sf,
                calibration,
                ref_secs,
                errors,
                len(ref_medians),
                retimed=list(pre_retime),
            )
        )
    )


if __name__ == "__main__":
    main()
