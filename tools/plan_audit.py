"""Full-registry plan audit: one row per registered query with the
scale red flags the optimization guide says to hunt (guide §1.1, §7.2).

For every registered query, builds the DataFrame at --sf and scans
``explain('formatted')`` for:

- Python-boundary nodes (BatchEvalPython / ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas / MapInArrow) — must only appear
  at the three justified sites (split_title pandas UDF, packing
  applyInPandas, multimodal mapInPandas codecs);
- CartesianProduct / BroadcastNestedLoopJoin — must only appear where
  a docstring documents the bound (1-row aggregates, t23 source grid);
- per-plan Exchange / SortMergeJoin / Generate counts (top offenders
  are the next optimization targets);
- parquet scans whose ReadSchema carries more than --wide-cols columns
  (column-pruning failures).

Writes PLAN_AUDIT.json and prints a summary table. Driver-comparable
with plans/ dumps; no timing is done (plan-shape only, so machine
noise is irrelevant).

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.01]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PY_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
)
JOIN_NODES = ("CartesianProduct", "BroadcastNestedLoopJoin")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--wide-cols", type=int, default=8)
    args = ap.parse_args()

    registry.load_all()
    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows = {}
    for name in sorted(registry.QUERIES):
        try:
            plan = registry.run(spark, name, args.sf, "explain").value
        except Exception as exc:  # noqa: BLE001
            rows[name] = {"error": str(exc)[:200]}
            continue
        # count only tree nodes (the numbered operator list repeats
        # each name once in the tree and once in the detail section;
        # count occurrences of "(<n>) <Name>" detail headers)
        def n_nodes(kind: str) -> int:
            return len(re.findall(rf"^\(\d+\) {kind}\b", plan, re.M))

        wide = []
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
            ncols = m.group(1).count(",") + 1 if m.group(1) else 0
            if ncols > args.wide_cols:
                wide.append(ncols)
        rows[name] = {
            "exchanges": n_nodes("Exchange") + n_nodes("BroadcastExchange"),
            "smj": n_nodes("SortMergeJoin"),
            "bhj": n_nodes("BroadcastHashJoin"),
            "generate": n_nodes("Generate"),
            "py_nodes": sorted(
                {k for k in PY_NODES if re.search(rf"^\(\d+\) .*{k}", plan, re.M) or f"{k}" in plan}
            ),
            "loop_joins": sorted({k for k in JOIN_NODES if k in plan}),
            "wide_scans": wide,
            "plan_nodes": len(re.findall(r"^\(\d+\) ", plan, re.M)),
        }
        print(
            f"{name}: ex={rows[name]['exchanges']} smj={rows[name]['smj']} "
            f"py={','.join(rows[name]['py_nodes']) or '-'} "
            f"loop={','.join(rows[name]['loop_joins']) or '-'}",
            flush=True,
        )

    out = os.path.join(REPO, "PLAN_AUDIT.json")
    with open(out, "w") as fh:
        json.dump(rows, fh, indent=1, sort_keys=True)

    py = {n: r for n, r in rows.items() if r.get("py_nodes")}
    loops = {n: r for n, r in rows.items() if r.get("loop_joins")}
    wide = {n: r for n, r in rows.items() if r.get("wide_scans")}
    errs = {n: r for n, r in rows.items() if "error" in r}
    print("\n== summary ==")
    print(f"queries: {len(rows)}, errors: {len(errs)}")
    print(f"python-boundary plans: {sorted(py)}")
    print(f"nested-loop/cartesian plans: {sorted(loops)}")
    print(f"wide-scan plans (> {args.wide_cols} cols): {sorted(wide)}")
    top = sorted(
        (r.get("exchanges", 0), n) for n, r in rows.items() if "error" not in r
    )[-12:]
    print("most exchanges:")
    for ex, n in reversed(top):
        print(f"  {n}: {ex}")


if __name__ == "__main__":
    main()
