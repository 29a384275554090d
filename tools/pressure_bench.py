"""Memory-pressure insurance for the dedup family (VERDICT r4 #2).

All sf1 scale claims were measured on local[32] with the default 8g
driver heap and never under pressure. This tool re-runs the heavy
hitters at sf1 with CONSTRAINED resources — local[8], 4g heap (half
the cores', half the memory's share per task is ~16x less than the
comfortable config) — one fresh JVM per query so an OOM kills only
its subprocess, and records per-query wall time + shuffle spill
(memory/disk bytes spilled, summed over completed stages via the UI
REST API) into PRESSURE_sf1.json. SCALE.md lesson 28 interprets the
numbers.

Usage: python tools/pressure_bench.py [--sf <repo>/.data/sf1]
                                      [--out PRESSURE_sf1.json]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

QUERIES = ["dd3_minhash_lsh_pairs", "dd5_jaccard_pairs",
           "dd12_winnow_pairs", "dd14_semantic_dedup",
           "dd17_simhash_hamming_pairs", "pipe7_clean_shuffle_pack",
           # r5 session-2 additions: the grouped-array span audit
           # (linear per-group buffering is its one pressure surface),
           # the band-state near-dup probe, and the DSIR bucket fold
           "dd21_repeated_ngram_coverage", "dd23_incremental_near_dedup",
           "samp7_dsir_importance",
           # r7 additions: the self-seeding SemDeDup (sqrt(N) cells ⇒
           # k=143 at sf1 through the broadcast-centroid path), the
           # adaptive mutual-kNN graph, and the star-edge relation
           "dd24_semantic_dedup_auto", "s15_mutual_knn_graph",
           "dd25_lsh_star_edges",
           # r8 addition: the capped pair list — its banded subtree is
           # now PINNED via lazy localCheckpoint (persisted
           # MEMORY_AND_DISK partitions are a new pressure surface)
           "dd27_lsh_pairs_capped"]

CHILD = r"""
import json, sys, urllib.request
sys.path.insert(0, sys.argv[3])  # repo root from the parent — never a hardcoded checkout
from trello_github_etl_spark.session import get_spark
from trello_github_etl_spark import registry
registry.load_all()

name, sf_dir = sys.argv[1], sys.argv[2]
spark = get_spark(
    f"pressure-{name}",
    master="local[8]",
    extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4057"},
)
spark.sparkContext.setLogLevel("ERROR")
# the ACTUAL bound address: on a port collision Spark walks up via
# spark.port.maxRetries, and scraping the hardcoded port would read a
# DIFFERENT app's UI after this query already paid its full runtime
ui_base = spark.sparkContext.uiWebUrl
# same materialization discipline as bench.py: noop write runs the
# full plan with every output column realized
run = registry.run(spark, name, sf_dir, "noop")

app_id = spark.sparkContext.applicationId
base = f"{ui_base}/api/v1/applications/{app_id}"
stages = json.loads(urllib.request.urlopen(f"{base}/stages").read())
mem_spill = sum(s.get("memoryBytesSpilled", 0) for s in stages)
disk_spill = sum(s.get("diskBytesSpilled", 0) for s in stages)
shuffle_write = sum(s.get("shuffleWriteBytes", 0) for s in stages)
peak_mem = max((s.get("peakExecutionMemory", 0) for s in stages), default=0)
print("CHILD_RESULT " + json.dumps({
    "secs": round(run.secs, 1),
    "jobs": len(run.jobs),
    "pins": len(run.pins),
    "memory_bytes_spilled": mem_spill,
    "disk_bytes_spilled": disk_spill,
    "shuffle_write_bytes": shuffle_write,
    "peak_execution_memory": peak_mem,
    "n_stages": len(stages),
}))
"""


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(REPO_ROOT, ".data", "sf1"))
    ap.add_argument("--out", default="PRESSURE_sf1.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    env = dict(os.environ)
    env["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    env["SPARK_GRAFT_CPUS"] = "8"

    results: dict[str, dict] = {}
    for name in args.names or QUERIES:
        t0 = time.time()
        rec: dict = {}
        try:
            proc = subprocess.run(
                [sys.executable, "-c", CHILD, name, args.sf, REPO_ROOT],
                env=env, capture_output=True, text=True, timeout=1800,
            )
        except subprocess.TimeoutExpired:
            # a GC-thrashing query is exactly what this tool probes
            # for — record it and keep sweeping instead of losing
            # every completed result (r5 code review)
            results[name] = {"error": "timeout>1800s",
                             "secs": round(time.time() - t0, 1)}
            print(name, json.dumps(results[name]))
            continue
        for line in proc.stdout.splitlines():
            if line.startswith("CHILD_RESULT "):
                rec = json.loads(line[len("CHILD_RESULT "):])
        if not rec:
            tail = (proc.stderr or "")[-2000:]
            oom = "OutOfMemoryError" in tail or proc.returncode in (137, -9)
            rec = {"error": "oom" if oom else f"exit {proc.returncode}",
                   "secs": round(time.time() - t0, 1),
                   "stderr_tail": tail.splitlines()[-5:]}
        results[name] = rec
        print(name, json.dumps(rec)[:200])

    artifact = {
        "sf": args.sf,
        "config": {"master": "local[8]", "driver_memory": "4g",
                   "comparison": "BENCH_sf1.json ran local[32] / 8g"},
        "queries": results,
    }
    with open(args.out, "w") as fh:
        json.dump(artifact, fh, indent=1)
        fh.write("\n")
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
