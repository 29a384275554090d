"""r15 probe: how many rounds / jobs do the two-star CC loops spend
at sf0.1, and what would a stride-2 convergence check save?

Phase 1 (this file, measurement only): instrument
connected_components_twostar's signature() to count per-round wall
time on the REAL dd6 edge set, and report the Spark job count per
full query via the status tracker.

Usage: python tools/stride_probe.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.operators import dedup  # noqa: E402
from trello_github_etl_spark.queries.llm_q import _augmented_docs  # noqa: E402
from trello_github_etl_spark.session import get_spark  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("stride_probe")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 32, 1, 32).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    docs = _augmented_docs(spark, args.sf)
    edges = dedup.lsh_candidate_edges(docs).localCheckpoint(eager=True)
    print(f"edges: {edges.count()}", flush=True)

    tracker = spark.sparkContext.statusTracker()

    def job_count() -> int:
        return len(tracker.getJobIdsForGroup(None) or [])

    # instrument: wall time between successive signature() collects
    orig_sig_agg = dedup.connected_components_twostar

    for trial in range(3):
        t_marks = []
        j0 = job_count()
        t0 = time.time()

        # monkeypatch F-level: wrap DataFrame.collect via signature's
        # agg... simpler: patch time checkpoints around the loop by
        # tracing localCheckpoint calls
        orig_trunc = dedup._truncate_lineage

        def traced(df, ckdir, eager=True):
            t_marks.append(round(time.time() - t0, 3))
            return orig_trunc(df, ckdir, eager)

        dedup._truncate_lineage = traced
        try:
            labels = dedup.connected_components_twostar(edges)
            noop(labels)
        finally:
            dedup._truncate_lineage = orig_trunc
        total = round(time.time() - t0, 3)
        j1 = job_count()
        # t_marks: [all_nodes, edges_init, round1, round2, ...]
        rounds = len(t_marks) - 2
        deltas = [
            round(t_marks[i + 1] - t_marks[i], 3)
            for i in range(len(t_marks) - 1)
        ]
        print(
            f"trial {trial}: rounds={rounds} total={total}s "
            f"jobs={j1 - j0} marks={t_marks} deltas={deltas}",
            flush=True,
        )

    _ = orig_sig_agg  # keep flake quiet


if __name__ == "__main__":
    main()
