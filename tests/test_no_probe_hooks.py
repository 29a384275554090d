"""No module-level A/B switches: once a measurement has picked the
winner, an operator contract keeps one implementation, and no script
flips a production module from outside.

The guard looks for an assignment to another module's private
upper-case attribute (``dedup._SOME_SWITCH = "x"``), the shape every
retired probe hook took. A probe that set a deleted attribute would
not fail — it would silently measure nothing — so the shape itself is
banned in program code, tools and the bench. Memo ``.clear()`` calls
do not match, and tests stay free to use ``monkeypatch.setattr``.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED = [ROOT / "trello_github_etl_spark", ROOT / "tools", ROOT / "bench.py"]
HOOK = re.compile(r"\b\w+\._[A-Z0-9]*[A-Z][A-Z0-9_]*\s*=(?!=)")


def _python_files():
    for p in SCANNED:
        yield from ([p] if p.is_file() else sorted(p.rglob("*.py")))


def test_no_module_attribute_switches_are_set_from_outside():
    # the pattern catches the retired hook shapes and spares memo resets
    assert HOOK.search('dedup._SOME_PIN = "persist"')
    assert HOOK.search("sim._2LEVEL_SHAPE = shape")
    assert not HOOK.search("similarity._CENTROID_CACHE.clear()")
    assert not HOOK.search("if dedup._FLAG == 1:")
    hits = [
        f"{f.relative_to(ROOT)}:{i}: {line.strip()}"
        for f in _python_files()
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if HOOK.search(line)
    ]
    assert not hits, "module-level A/B switch set from outside:\n" + "\n".join(hits)

