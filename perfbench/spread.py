"""Run the benchmark once per seed and report each end-to-end metric's
median and spread: the distance between its first and third quartile
as a share of its median. A metric is steady when its spread stays
under a third of its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload board_etl --seeds 1-10 [--logs DIR]

Run from the repository root; runs are sequential. With ``--logs`` each
run's standard error (per-op medians, unit times) is kept as
``DIR/<workload>-<seed>.err``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import median, quartile_spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--logs", help="directory for each run's standard error")
    args = ap.parse_args()
    if args.logs:
        os.makedirs(args.logs, exist_ok=True)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        if args.logs:
            with open(os.path.join(args.logs, f"{args.workload}-{seed}.err"), "w") as err:
                out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        else:
            out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if out.returncode != 0:
            print(f"seed {seed}: exit {out.returncode}", file=sys.stderr)
            return 1
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps({"seed": seed, **result}), flush=True)
        if not result["correct"]:
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])

    ok = True
    for metric in bench["end_to_end"]:
        name, bound = metric["name"], metric["bound"]
        spread = quartile_spread(values[name])
        steady = spread < bound / 3
        ok &= steady
        print(
            f"{args.workload} {name}: median {median(values[name]):.4f} {metric['unit']}, "
            f"spread {spread:.4f} (bound {bound}){'' if steady else '  NOT STEADY'}"
        )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
