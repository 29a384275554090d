"""The STANDING skew gate (VERDICT r7 #1): correctness + bench on the
deterministic skewed fixture, every round.

r7's one-off skew stress (tools/skew_stress.py) caught two real
scale-killers but ran only when someone remembered. This gate makes
the Zipfian / giant-dup-family / giant-embedding-cluster corpus a
third standing scale next to sf0.01 and sf0.1:

1. builds ``.data/skew`` via tools/make_skew.py if absent
   (deterministic — same bytes every run);
2. runs tools/verify_local.py over the dedup/similarity lever
   queries (the operators whose 100 TB claims depend on skew
   behavior) and writes ``CORRECTNESS_skew.json``;
3. runs bench.py on the same set (with calibration_secs) and writes
   ``BENCH_skew.json``.

Every giant-family lever the repo advertises is thereby re-receipted
per round on data where it ENGAGES: dd27's band-df cap drops the
1,000-member family's bands, dd25/dd6/dd22 recover the family as
one component through O(d) star edges, dd16's cap bounds PageRank's
pair graph, dd24/dd26/s15 meet a 400-member single-cell embedding
cluster, dd7/dd17/dd21 and the winnowing pair dd12/dd13 meet 20%-df
boilerplate shingles (the gate asserts the df caps actually ENGAGE
— it counts fingerprints/shingles whose document frequency exceeds
each registered cap on the fixture and fails on zero, a direct
receipt at the lever itself; r8 VERDICT #4, hardened per r9 advice
because final kept-pair counts can coincide even when a cap bites).

Usage: python tools/skew_gate.py [--skip-bench]
Exit non-zero iff any correctness row fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKEW_DIR = os.path.join(ROOT, ".data", "skew")

# The dedup/similarity lever set: every query whose scale story is
# about SKEW (caps, star edges, block salting, adaptive cells) plus
# the exact-dup baseline. Relational/text queries are gated at
# sf0.01/sf0.1 where their plans don't depend on skew levers.
SKEW_QUERIES = [
    "dd1_exact_dups",
    "dd5_jaccard_pairs",
    "dd6_dup_clusters",
    "dd7_jaccard_df_capped",
    "dd12_winnow_pairs",
    "dd13_winnow_df_capped",
    "dd16_pagerank_dup_graph",
    "dd17_simhash_hamming_pairs",
    "dd21_repeated_ngram_coverage",
    "dd22_dup_cluster_keepers",
    "dd24_semantic_dedup_auto",
    "dd25_lsh_star_edges",
    "dd26_semantic_dedup_blocked",
    "dd27_lsh_pairs_capped",
    "dd28_span_dedup",
    "dd29_containment_pairs",
    "dd30_containment_capped",
    "s15_mutual_knn_graph",
    # r9 VERDICT #5: the u³-Zipfian token distribution stresses the
    # surprisal vocab join's hot keys and the global ntile's bucket
    # skew — with_global_rank's value-bucket design must shrug it off
    "t19_unigram_surprisal_buckets",
    # r10 VERDICT #6: the 1,000-fetch hot canonical URL stresses the
    # keeper election's canon_url window partition; the Zipfian token
    # mix stresses t20's hashed-bigram fold and the decile ranker's
    # value buckets; t21's bigram LM meets hot bigram keys in both
    # the count shuffle and the probe join; dd32's state probe and
    # s16's cross-side candidates meet the 400-member single-cell
    # embedding cluster
    "dd31_url_canonical_dedup",
    "t20_quality_classifier_deciles",
    "t21_backoff_lm_ppl_deciles",
    "dd32_incremental_semantic_dedup",
    "s16_margin_alignment",
    # pipe12's keeper election meets the 1,000-member exact-dup
    # family as ONE hot fingerprint window partition
    "pipe12_ccnet_stack",
    # r11 additions: dd33's posting list meets the 1,000-member
    # exact family as ~10^3-occurrence k-gram keys through the
    # repeated-keys join (the AQE skew-join case its docstring
    # claims); t22's domain rollup meets the 1,000-fetch hot host as
    # one heavy groupBy(domain) partition; s17's cross-label pair
    # join meets the 400-member single-cell embedding cluster
    # (labels rotate % 10 inside it, so ~90% of its quadratic
    # candidates are cross-label and survive to scoring)
    "dd33_repeated_kgram_spans",
    "t22_domain_quality_rollup",
    "s17_hard_negative_mining",
    # dd34's source-overlap matrix meets the 1,000-member exact
    # family as ONE fingerprint spanning all 20 sources -> a C(20,2)
    # pair expansion inside a single hot group
    "dd34_cross_source_overlap",
    # t23's (source, tok) count shuffle meets the u^3-Zipfian token
    # head; the per-token source-set expansion stays bounded by the
    # 20 sources regardless of token heat
    "t23_source_unigram_tvd",
]

# Bench subset: the lever queries with meaningful data work. dd6/dd22/
# dd16 are excluded for bench.py's standing reason — iterative
# jobs are ~90% fixed per-round scheduling overhead at this scale, so
# their medians measure the scheduler, not the levers (they remain in
# the correctness sweep above).
BENCH_QUERIES = [
    "dd1_exact_dups",
    "dd7_jaccard_df_capped",
    "dd12_winnow_pairs",
    "dd13_winnow_df_capped",
    "dd17_simhash_hamming_pairs",
    "dd21_repeated_ngram_coverage",
    "dd24_semantic_dedup_auto",
    "dd25_lsh_star_edges",
    "dd26_semantic_dedup_blocked",
    "dd27_lsh_pairs_capped",
    "dd30_containment_capped",
    "s15_mutual_knn_graph",
    "t19_unigram_surprisal_buckets",
    "dd31_url_canonical_dedup",
    "t20_quality_classifier_deciles",
    "t21_backoff_lm_ppl_deciles",
    "dd32_incremental_semantic_dedup",
    "s16_margin_alignment",
    "dd33_repeated_kgram_spans",
    "t22_domain_quality_rollup",
    "s17_hard_negative_mining",
    "dd34_cross_source_overlap",
    "t23_source_unigram_tvd",
]


def _cap_engagement_receipts() -> int:
    """Direct receipts that the fixture engages the registered df
    caps (r9 advice): count hot keys ABOVE each cap at the point the
    cap applies — fingerprint df for dd13, shingle df for dd7 and
    dd30. The thresholds are IMPORTED from the registered call sites
    (r10 advice: restating the literals here meant a cap change
    would leave the gate asserting engagement at a stale value —
    silently measuring a lever nothing uses). Runs in-process AFTER
    the correctness sweep's subprocess exits and BEFORE bench's
    starts, so no two JVMs ever time concurrently."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F
    from trello_github_etl_spark.functions.urls import canonicalize_url
    from trello_github_etl_spark.operators import dedup
    from trello_github_etl_spark.operators.textstats import shingles
    from trello_github_etl_spark.queries.llm_q import (
        DD7_MAX_SHINGLE_DF,
        DD13_MAX_FP_DF,
        DD30_MAX_SHINGLE_DF,
        _augmented_docs,
        _messy_url,
    )
    from trello_github_etl_spark.session import get_spark

    spark = get_spark("skew-cap-receipts")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = _augmented_docs(spark, SKEW_DIR)
        # dd13's exact registered input: even-id half corpus
        fps = dedup.winnow_fingerprints(
            docs.filter(F.col("doc_id") % 2 == 0)
        )
        hot_fp = (
            fps.groupBy("wfp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > DD13_MAX_FP_DF)
            .count()
        )
        # dd7/dd30's candidate input: full augmented corpus; df is
        # countDistinct(doc_id) per shingle, matching
        # dedup._shingle_pair_counts' `rare` filter exactly
        sh_df = (
            docs.select(
                "doc_id", F.explode(shingles(F.col("text"))).alias("shingle")
            )
            .groupBy("shingle")
            .agg(F.countDistinct("doc_id").alias("_df"))
        )
        hot7, hot30 = (
            sh_df.agg(
                F.sum(
                    (F.col("_df") > DD7_MAX_SHINGLE_DF).cast("long")
                ).alias("h7"),
                F.sum(
                    (F.col("_df") > DD30_MAX_SHINGLE_DF).cast("long")
                ).alias("h30"),
            ).collect()[0]
        )
        # dd31's hot-key receipt (r10 VERDICT #6): the fixture must
        # contain at least one canonical URL with >= 500 fetches via
        # THE REGISTERED derivation (messy-url synth + canonicalize),
        # or the keeper window's hot-partition claim is untested
        from trello_github_etl_spark.io import load_table

        raw_docs = load_table(spark, SKEW_DIR, "documents")
        hot_urls = (
            raw_docs.select(
                canonicalize_url(_messy_url(F.col("doc_id"))).alias("cu")
            )
            .groupBy("cu")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 500)
            .count()
        )
        # dd33's hot-key receipt (r11): the fixture must push >= 1
        # k-gram key to >= 500 corpus-wide occurrences via the
        # REGISTERED derivation (augmented corpus, sliding
        # KGRAM_WORDS windows) — that is the heavy side of the
        # repeated-keys join whose skew story dd33 claims
        from trello_github_etl_spark.operators.span_dedup import (
            kgram_postings,
        )
        from trello_github_etl_spark.operators.textstats import tokens

        toks = docs.select("doc_id", tokens(F.col("text")).alias("_tk"))
        hot_kgrams = (
            kgram_postings(toks)
            .groupBy("kgram_key")
            .agg(F.count(F.lit(1)).alias("_occ"))
            .filter(F.col("_occ") >= 500)
            .count()
        )
        # t22's hot-domain receipt (r11): >= 1 canonical host with
        # >= 500 docs via the registered derivation — the heavy
        # groupBy(domain) partition the rollup's skew story names
        from trello_github_etl_spark.functions.urls import canonical_host

        hot_domains = (
            raw_docs.select(
                canonical_host(_messy_url(F.col("doc_id"))).alias("h")
            )
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") >= 500)
            .count()
        )
    finally:
        spark.stop()
    failed = False
    # Two receipt kinds (r11 ADVICE): CAP receipts prove a registered
    # df cap actually bites on the fixture (keys ABOVE the cap exist);
    # EXISTENCE receipts prove the fixture presents the hot keys a
    # query's skew story names — there is no cap to engage (dd31/dd33
    # treat heavy keys as signal), so their pass/fail wording must not
    # claim one (a future failure would otherwise misdirect triage
    # toward a nonexistent cap knob).
    for kind, label, hot in (
        ("cap", f"dd13 fingerprint-df cap ({DD13_MAX_FP_DF})", hot_fp),
        ("cap", f"dd7 shingle-df cap ({DD7_MAX_SHINGLE_DF})", hot7 or 0),
        ("cap", f"dd30 shingle-df cap ({DD30_MAX_SHINGLE_DF})", hot30 or 0),
        ("exist", "dd31 hot canonical URL (>= 500 fetches)", hot_urls),
        ("exist", "dd33 hot k-gram key (>= 500 occurrences)", hot_kgrams),
        ("exist", "t22 hot domain (>= 500 docs)", hot_domains),
    ):
        if hot > 0:
            if kind == "cap":
                print(f"cap engaged: {label} — {hot} hot keys above cap")
            else:
                print(f"skew receipt: {label} — {hot} hot keys present")
        elif kind == "cap":
            print(f"SKEW GATE FAILED: {label} has 0 keys above cap "
                  f"on the fixture — dead configuration")
            failed = True
        else:
            print(f"SKEW GATE FAILED: {label} has 0 hot keys on the "
                  f"fixture — the skew story has nothing to bite on")
            failed = True
    return 1 if failed else 0


def _mega_band_receipt() -> int:
    """VERDICT r14 #7: the r14 capped-pairs rewrite buffers a band's
    doc_ids in ONE aggregation buffer BEFORE the size filter drops it
    (collect_list → filter(size <= cap)), so a pathological band whose
    df vastly exceeds the cap now materializes its id list where the
    old count-first shape did not. This receipt stresses exactly that
    buffer: 100,000 docs with IDENTICAL text ⇒ every LSH band is one
    100k-member group, far above every registered cap. PASS = the
    capped path completes (the O(d) buffer holds ~800 KB/group, no
    OOM) and emits ZERO pairs (every band capped out), and the star-
    edge emitter recovers the family as one hub with exactly d-1
    edges. Runs on a synthetic in-process frame — the lever is the
    aggregation shape, not the fixture bytes."""
    sys.path.insert(0, ROOT)
    from pyspark.sql import functions as F
    from trello_github_etl_spark.operators import dedup
    from trello_github_etl_spark.session import get_spark

    d = 100_000
    spark = get_spark("skew-mega-band")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.range(0, d).select(
            F.col("id").alias("doc_id"),
            F.lit(
                "identical boilerplate body shared by every document "
                "in the planted mega family"
            ).alias("text"),
        )
        capped = dedup.minhash_lsh_pairs(docs, max_band_df=20).count()
        edges = dedup.lsh_candidate_edges(docs).count()
    finally:
        spark.stop()
    failed = False
    if capped == 0:
        print(
            f"mega-band receipt: capped pairs on a {d}-member planted "
            f"band completed with 0 pairs (cap engaged, O(d) agg "
            f"buffer held)"
        )
    else:
        print(
            f"SKEW GATE FAILED: mega-band capped path emitted {capped} "
            f"pairs — the band-df cap did not drop the planted family"
        )
        failed = True
    if edges == d - 1:
        print(
            f"mega-band receipt: star edges recovered the family as "
            f"one hub ({edges} edges = d-1)"
        )
    else:
        print(
            f"SKEW GATE FAILED: star edges on the mega band returned "
            f"{edges}, expected {d - 1}"
        )
        failed = True
    return 1 if failed else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--skip-bench", action="store_true")
    args = ap.parse_args()

    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "make_skew.py")],
        check=True,
    )

    # --- correctness sweep -> CORRECTNESS_skew.json
    log_path = os.path.join(ROOT, ".data", "skew_sweep.log")
    with open(log_path, "w") as log:
        rc = subprocess.run(
            [
                sys.executable,
                os.path.join(ROOT, "tools", "verify_local.py"),
                "--sf", SKEW_DIR, *SKEW_QUERIES,
            ],
            stdout=log, stderr=subprocess.STDOUT,
        ).returncode
    subprocess.run(
        [
            sys.executable, os.path.join(ROOT, "tools", "sweep_to_json.py"),
            log_path, os.path.join(ROOT, "CORRECTNESS_skew.json"),
        ],
        check=True,
    )
    if rc != 0:
        print("SKEW CORRECTNESS FAILED — see CORRECTNESS_skew.json")
        return rc

    # --- cap-engagement assertions (r8 VERDICT #4, receipt made
    # DIRECT per r9 advice): the old check compared dd12's vs dd13's
    # FINAL kept-pair counts, an indirect signal that can coincide
    # (equal counts are possible when every cap-dropped candidate was
    # sub-threshold anyway) or spuriously differ. The gate now
    # measures engagement at the lever itself: count the fixture's
    # fingerprints / shingles whose document frequency exceeds the
    # registered caps — >0 hot keys means the cap provably dropped
    # candidate generation, regardless of what survived downstream.
    # diagnostic voice on ANY failure (r8 advice, kept through the
    # r10 receipt rewrite): a missing fixture table or an in-process
    # Spark error must fail as a gate message, not a raw traceback
    try:
        rc = _cap_engagement_receipts()
    except Exception as exc:  # noqa: BLE001
        print(f"SKEW GATE FAILED: cap-engagement receipts errored — "
              f"{type(exc).__name__}: {exc}")
        return 1
    if rc != 0:
        return rc

    # --- mega-band buffer receipt (VERDICT r14 #7)
    try:
        rc = _mega_band_receipt()
    except Exception as exc:  # noqa: BLE001
        print(f"SKEW GATE FAILED: mega-band receipt errored — "
              f"{type(exc).__name__}: {exc}")
        return 1
    if rc != 0:
        return rc

    # --- bench -> BENCH_skew.json (bench.py's stdout JSON line, which
    # carries calibration_secs; the stderr spread detail is embedded)
    if not args.skip_bench:
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=SKEW_DIR,
            SPARK_GRAFT_BENCH_QUERIES=",".join(BENCH_QUERIES),
        )
        # No check=True, and scan stdout lines from the END for the
        # JSON record (r8 advice): a bench failure or a stray trailing
        # print must surface the captured output, not die on an
        # uncaught CalledProcessError/JSONDecodeError with the
        # diagnosis swallowed.
        proc = subprocess.run(
            [sys.executable, os.path.join(ROOT, "bench.py")],
            env=env, capture_output=True, text=True,
        )
        if proc.returncode != 0:
            print(f"SKEW BENCH FAILED (exit {proc.returncode})")
            print("--- bench stdout ---\n" + proc.stdout)
            print("--- bench stderr ---\n" + proc.stderr)
            return proc.returncode or 1
        rec = None
        for line in reversed(proc.stdout.strip().splitlines()):
            try:
                parsed = json.loads(line)
            except json.JSONDecodeError:
                continue
            if isinstance(parsed, dict) and "metric" in parsed:
                rec = parsed
                break
        if rec is None:
            print("SKEW BENCH FAILED: no JSON metric line in stdout")
            print("--- bench stdout ---\n" + proc.stdout)
            print("--- bench stderr ---\n" + proc.stderr)
            return 1
        rec["sf"] = "skew"  # bench derives sf from the dir name
        for sline in proc.stderr.splitlines():
            if sline.startswith("# spread: "):
                rec["spread_detail"] = json.loads(sline[len("# spread: "):])
        with open(os.path.join(ROOT, "BENCH_skew.json"), "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"BENCH_skew.json: total {rec['value']}s, "
              f"calibration {rec['calibration_secs']}s")

    print("skew gate PASS")
    return 0


if __name__ == "__main__":
    sys.exit(main())
