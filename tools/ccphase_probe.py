"""Phase probe for the dup-graph family (guide §1): time the
edge-generation half (LSH star edges / capped pairs) separately from
the iterative half, and dump the edge-gen formatted plan so shared
subtree reuse (or its absence) is visible.

Usage: python tools/ccphase_probe.py [--sf /root/testdata/sf0.1] [--runs 3]
"""

from __future__ import annotations

import argparse
import io
import os
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.operators import dedup  # noqa: E402
from trello_github_etl_spark.queries.llm_q import (  # noqa: E402
    PAGERANK_BAND_DF,
    _augmented_docs,
)
from trello_github_etl_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def timed(label, runs, fn):
    ts = []
    for _ in range(runs):
        t0 = time.time()
        fn()
        ts.append(round(time.time() - t0, 3))
    print(f"{label}: median {round(statistics.median(ts), 3)}s runs={ts}",
          flush=True)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans-dir", default=os.path.join(REPO, "plans", "r14"))
    args = ap.parse_args()
    os.makedirs(args.plans_dir, exist_ok=True)

    registry.load_all()
    spark = get_spark("ccphase")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    docs = _augmented_docs(spark, args.sf)

    # Phase A: star-edge generation (dd6/dd22's shared edge half)
    timed("edge_gen_star", args.runs,
          lambda: noop(dedup.lsh_candidate_edges(_augmented_docs(spark, args.sf))))
    buf = io.StringIO()
    with redirect_stdout(buf):
        dedup.lsh_candidate_edges(docs).explain("formatted")
    with open(os.path.join(args.plans_dir, "edge_gen_star_plan.txt"), "w") as fh:
        fh.write(buf.getvalue())

    # Phase A': capped pair generation (dd16's edge half)
    timed("edge_gen_pairs_capped", args.runs,
          lambda: noop(dedup.minhash_lsh_pairs(
              _augmented_docs(spark, args.sf), max_band_df=PAGERANK_BAND_DF)))
    spark.catalog.clearCache()

    # Phase B: CC loop alone over a PRE-MATERIALIZED edge list
    edges = dedup.lsh_candidate_edges(docs).localCheckpoint(eager=True)
    n_edges = edges.count()
    print(f"edges materialized: {n_edges}", flush=True)
    timed("cc_plain_on_edges", args.runs,
          lambda: noop(dedup.connected_components(edges)))
    timed("cc_twostar_on_edges", args.runs,
          lambda: noop(dedup.connected_components_twostar(edges)))

    # Phase C: pagerank loop alone over pre-materialized capped pairs
    pairs = dedup.minhash_lsh_pairs(
        docs, max_band_df=PAGERANK_BAND_DF).localCheckpoint(eager=True)
    print(f"capped pairs materialized: {pairs.count()}", flush=True)
    timed("pagerank_on_pairs", args.runs,
          lambda: noop(dedup.pagerank(pairs)))

    # Label parity spot check (two-star vs plain) on the real edge set
    a = dedup.connected_components(edges)
    b = dedup.connected_components_twostar(edges)
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    print(f"twostar-vs-plain label diff rows: {diff}", flush=True)


if __name__ == "__main__":
    main()
