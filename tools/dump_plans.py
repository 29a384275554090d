"""Regenerate PLANS.md: the physical plan of every bench headline
query at sf0.01, for plan-level review without running Spark.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
MAX_LINES = 40


def main() -> None:
    registry.load_all()
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical plans of the bench headline queries\n",
        "Generated by `python tools/dump_plans.py` (sf0.01, AQE initial "
        "plans in `explain('formatted')` form; ReusedExchange/coalescing "
        "appear at runtime). Long plans "
        f"are truncated to {MAX_LINES} lines.\n",
    ]
    for name in HEADLINE:
        plan = registry.run(spark, name, SF_DIR, "explain").value
        lines = plan.strip().splitlines()
        shown = lines[:MAX_LINES]
        if len(lines) > MAX_LINES:
            shown.append(f"... ({len(lines) - MAX_LINES} more lines)")
        out.append(f"## {name}\n\n```\n" + "\n".join(shown) + "\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md with {len(HEADLINE)} plans")


if __name__ == "__main__":
    main()
