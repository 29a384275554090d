"""50x scale probe (the per-round new-operator receipt): median-of-3
wall time per query at sf0.1 and at .data/sf5 (50x rows, built by
tools/make_sfN.py --mult 50), ratio in BENCH_sf5_r<N>ops.json.

A healthy corpus-linear operator lands well under 50x (fixed
overhead amortizes); a capped/blocked lever should land in single
digits; a quadratic surface shows up unmistakably. r10's numbers for
the same methodology: dd30 4.07x, dd31 1.39x, t20 1.10x.

Run SOLO — no concurrent Spark job may time alongside (SCALE.md
standing rule). The sf5 dir carries only documents/embeddings, so
only queries over those tables can probe here.

    python tools/probe_50x.py --out BENCH_sf5_r11ops.json q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import _calibration_secs  # noqa: E402
from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"
SF5 = os.path.join(ROOT, ".data", "sf5")


def _median_secs(spark, name: str, sf_dir: str, runs: int = 3) -> float:
    times = [registry.run(spark, name, sf_dir, "noop").secs for _ in range(runs)]
    return round(statistics.median(times), 3)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("probe-50x")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"calibration_secs": _calibration_secs(spark), "sf": SF5}
    for name in args.names:
        m01 = _median_secs(spark, name, SF01)
        m5 = _median_secs(spark, name, SF5)
        out[name] = {
            "sf0.1": m01,
            "sf5": m5,
            "ratio_50x": round(m5 / m01, 2),
        }
        print(f"{name}: sf0.1 {m01}s  sf5 {m5}s  ratio {out[name]['ratio_50x']}x")
    with open(os.path.join(ROOT, args.out), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
