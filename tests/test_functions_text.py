"""Golden-pair + property tests for the scalar parse layer.

Corpora from FIXTURES.md §C (ported from the reference's
tests/dash-parser-re.js golden pairs and lib/transform.js comments).
"""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from trello_github_etl_spark.functions import text
from trello_github_etl_spark.functions.checklist import with_parsed_check_item
from trello_github_etl_spark.functions.split_title import split_title_desc_py

# (input, expected capture) — tests/dash-parser-re.js:5–13
BOUNTY_GOLDEN = [
    ("Some task (1.0 Dash)", "1.0"),
    ("Some task (1 DASH)", "1"),
    ("Some task (0.5 dash)", "0.5"),
    ("Some task ( 0.5 Dash ))", "0.5"),
    ("Some task ( 0.5Dash ).", "0.5"),
    ("Some task ( .5 Dash )   ", ".5"),
    ("Some (task) ( .5 Dash )   yo", ".5"),
    ("Create :XcoinHeart: emoji image (0.1 Dash)", "0.1"),
]

# (input, expected output) — lib/transform.js:18–22 comments
INDEX_GOLDEN = [
    ("1) do this", "do this"),
    ("  2)  do that", "do that"),
    ("b 3) do that", "b 3) do that"),
    ("4)do other", "4)do other"),
]


def test_bounty_extract_golden(spark):
    df = spark.createDataFrame([(s,) for s, _ in BOUNTY_GOLDEN], ["name"])
    got = [
        r.amt
        for r in df.select(
            text.extract_bounty_amount(F.col("name")).alias("amt")
        ).collect()
    ]
    assert got == [exp for _, exp in BOUNTY_GOLDEN]


def test_bounty_strip_matches_js_semantics(spark):
    import re

    pat = re.compile(r"\s+\(\s*((\d+)?(\.\d+)?)\s*Dash\s*\)\s*", re.I)

    def js_strip(name: str) -> str:
        m = pat.search(name)
        return name.replace(m.group(0), "", 1).strip() if m else name

    df = spark.createDataFrame([(s,) for s, _ in BOUNTY_GOLDEN], ["name"])
    got = [
        r.s
        for r in df.select(text.strip_bounty(F.col("name")).alias("s")).collect()
    ]
    assert got == [js_strip(s) for s, _ in BOUNTY_GOLDEN]


def test_bounty_empty_amount_matches_but_yields_null(spark):
    df = spark.createDataFrame([("Some task ( Dash )",)], ["name"])
    row = df.select(
        text.extract_bounty_amount(F.col("name")).alias("amt"),
        text.strip_bounty(F.col("name")).alias("s"),
    ).collect()[0]
    assert row.amt is None
    assert row.s == "Some task"


def test_index_prefix_golden(spark):
    df = spark.createDataFrame([(s,) for s, _ in INDEX_GOLDEN], ["name"])
    got = [
        r.c
        for r in df.select(text.strip_index_prefix(F.col("name")).alias("c")).collect()
    ]
    assert got == [exp for _, exp in INDEX_GOLDEN]


@given(
    st.text(
        alphabet=st.sampled_from("ab c\tx0189.()"),
        max_size=200,
    )
)
@settings(max_examples=300, deadline=None)
def test_split_title_py_properties(name):
    title, desc = split_title_desc_py(name)
    words = __import__("re").split(r"\s", name)
    longest = max((len(w) for w in words), default=0)
    # title never exceeds 50 + longest word + "..." + trailing space
    assert len(title) <= 50 + longest + 4
    if len(name) + 1 <= 50:
        # no overflow: title = whitespace-normalized name + trailing space
        assert title == __import__("re").sub(r"\s", " ", name) + " "
        assert desc == ""


def test_split_title_native_matches_python(spark):
    rng = random.Random(42)
    vocab = ["alpha", "b", "gamma-ray", "x" * 49, "y" * 60, "", "zz"]
    cases = [
        "",
        "a",
        "x" * 50,
        "x" * 51,
        "one two  three   four",
        "trailing space ",
        " leading",
    ]
    for _ in range(200):
        n = rng.randint(1, 12)
        cases.append(" ".join(rng.choice(vocab) for _ in range(n)))
    df = spark.createDataFrame([(c,) for c in cases], ["name"])
    split = text.split_title_desc(F.col("name"))
    rows = df.select(
        "name", split["title"].alias("t"), split["desc"].alias("d")
    ).collect()
    for r in rows:
        pt, pd_ = split_title_desc_py(r.name)
        assert (r.t, r.d) == (pt, pd_), f"mismatch on {r.name!r}"


def test_parse_check_item_composite(spark):
    cases = [
        # index prefix + bounty + long tail
        ("1) " + "word " * 20 + "(1.5 Dash)",),
        # bounty only, short name → title keeps trailing space
        ("Fix the thing (0.5 dash)",),
        # neither
        ("plain short task",),
    ]
    df = spark.createDataFrame(cases, ["name"])
    parsed = with_parsed_check_item(df, "name", "p")
    assert parsed.columns == ["name", "p"]  # no staging column leaks
    rows = parsed.collect()

    p0 = rows[0].p
    assert p0.amount == "1.5"
    assert p0.title.endswith("...")
    assert p0.desc.endswith("Bounty: 1.5 Dash")

    p1 = rows[1].p
    assert p1.amount == "0.5"
    assert p1.title == "Fix the thing "  # trailing space: no overflow, faithful
    assert p1.desc == "Bounty: 0.5 Dash"

    p2 = rows[2].p
    assert p2.amount is None
    assert p2.title == "plain short task "
    assert p2.desc == ""


def test_env_dsl_parse(spark):
    dsl = "Concepts:Pending, None:Considering"
    row = spark.range(1).select(text.parse_env_dsl(F.lit(dsl)).alias("m")).collect()[0]
    assert row.m == {"Concepts": "Pending", "None": "Considering"}


def test_kv_key(spark):
    row = spark.range(7, 8).select(text.kv_key("meta:card", F.col("id")).alias("k")).collect()[0]
    assert row.k == "meta:card:7"
