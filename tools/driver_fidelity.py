"""Driver-fidelity smoke: run registered queries on a BARE
SparkSession (none of session.py's defaults) against their DuckDB
oracles — the closest local replica of the driver's unknown session
configuration. io.py self-provisions the two CORRECTNESS-relevant
confs (UTC session TZ, parquet nanos fallback), and this script
proves that holds without any engine-side session setup.

Usage: python tools/driver_fidelity.py [--sf DIR] [names...]
(defaults to a representative cross-family sample at sf0.01)
"""

from __future__ import annotations

import argparse
import os
import sys

# the checkout this file lives in, not a hardcoded path — running the
# smoke from another clone must test THAT clone
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.verify_local import normalize, oracle_db  # noqa: E402
from trello_github_etl_spark import registry  # noqa: E402

DEFAULT_SAMPLE = [
    "pipe5_greedy_pack",  # applyInPandas / Arrow
    "f3_title_split",  # pandas UDF
    "t8a_top_word_adaptive",  # marker-row explode routing
    "dd10_incremental_dedup",  # join+window shared key
    "s9_kmeans_refine",  # iterative fixed-point
    "w3_session_windows",  # session TZ sensitivity
    "as1_last_view_before_click",  # raw TIMESTAMP surface
    "pipe6_corpus_shuffle",  # driver-side prefix sums
    "cdc_scd2_history",  # state/CDC
    "sql5_recursive_month_spine",  # WITH RECURSIVE front door
    "j7_owner_resolution",  # fuzzy-owner family
    "pipe9_curriculum_order",  # composite-bucket prefix sums (r4)
    "s13_pq_rerank_topk",  # codebook collect + broadcast refine (r4)
    "dd21_repeated_ngram_coverage",  # grouped-array span audit (r5)
    "samp7_dsir_importance",  # sorted-fold double determinism (r5)
    "dd24_semantic_dedup_auto",  # count→√N seeds→broadcast cents (r7)
    "dd25_lsh_star_edges",  # band-hub star relation (r7)
    "t19_unigram_surprisal_buckets",  # raise_error guard + DIV + ntile (r10)
    "dd31_url_canonical_dedup",  # regex/HOF canonicalization + DIV (r10)
    "t20_quality_classifier_deciles",  # nested-hash HOF fold (r10)
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    # deliberately bare: no shuffle-partition, TZ, or ANSI overrides
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    con = oracle_db(args.sf)
    oracles = entrymod.oracle_sql()
    names = args.names or DEFAULT_SAMPLE
    fails = 0
    for name in names:
        run = registry.run(spark, name, args.sf, "collect")
        srows = [tuple(r) for r in run.value]
        rel = con.sql(oracles[name])
        drows = rel.fetchall()
        ok = (
            sorted(run.columns) == sorted(rel.columns)
            and len(srows) == len(drows)
            and normalize(srows, run.columns) == normalize(drows, rel.columns)
        )
        print(("PASS " if ok else "FAIL ") + name)
        fails += not ok
    print(f"{len(names) - fails} pass, {fails} fail (bare session)")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
