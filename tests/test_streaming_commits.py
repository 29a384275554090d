"""One state-commit path: every streaming loop publishes its state
through ``plans/state_store.VersionedStateStore`` (atomic manifest
publish, CAS, orphan recovery). A module under ``streaming/`` that
writes a DataFrame or flips a file with ``os.replace`` itself has
grown a second commit protocol, without the store's conflict
detection."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STREAMING = ROOT / "trello_github_etl_spark" / "streaming"


def _state_writes(source: str):
    """Line numbers of ``os.replace`` and DataFrame ``.write.<...>`` /
    ``.writeTo`` uses; a plain ``f.write(...)`` call is not one."""
    for node in ast.walk(ast.parse(source)):
        if not isinstance(node, ast.Attribute):
            continue
        if (
            node.attr == "replace"
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            yield node.lineno
        elif node.attr == "writeTo" or (
            isinstance(node.value, ast.Attribute) and node.value.attr == "write"
        ):
            yield node.lineno


def test_streaming_modules_commit_only_through_the_state_store():
    assert list(_state_writes("os.replace(tmp, dst)")) == [1]
    assert list(_state_writes("df.write.mode('overwrite').parquet(p)")) == [1]
    assert list(_state_writes("df.writeTo('t').append()")) == [1]
    assert not list(_state_writes("f.write(version)\ndf.writeStream.start()"))
    hits = [
        f"{f.relative_to(ROOT)}:{line}"
        for f in sorted(STREAMING.rglob("*.py"))
        for line in sorted(_state_writes(f.read_text()))
    ]
    assert not hits, "state published outside the store:\n" + "\n".join(hits)
