"""The bench and the tools reach a registry builder only through
``registry.run``, which starts each query cold and tags its jobs. A
script that calls ``QUERIES[name](...)`` or ``qs[name](...)`` itself
skips both."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILDER_CALL = re.compile(r"\b(?:QUERIES|qs)\[")


def test_bench_and_tools_call_builders_only_through_the_runner():
    hits = [
        f"{f.relative_to(ROOT)}:{i}: {line.strip()}"
        for f in [ROOT / "bench.py", *sorted((ROOT / "tools").glob("*.py"))]
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if BUILDER_CALL.search(line)
    ]
    assert not hits, "builder called outside registry.run:\n" + "\n".join(hits)
