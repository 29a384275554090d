"""The benchmark's own pure helpers. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from perfbench import boardgen, sink, tables
from perfbench.trace import (
    JIT_THREADS,
    Span,
    _stat,
    percentile_reportable,
    quartile_spread,
    self_times,
)


def test_percentile_needs_ten_samples_beyond():
    assert not percentile_reportable(3, 0.9)
    assert not percentile_reportable(99, 0.9)
    assert percentile_reportable(100, 0.9)
    assert percentile_reportable(20, 0.5)
    assert not percentile_reportable(999, 0.99)


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span("cycle", 0.0, 10.0, None, 1),
        Span("sink", 1.0, 4.0, 0, 1),
        Span("retry", 2.0, 3.0, 1, 1),
        Span("merge", 5.0, 9.0, 0, 1),
        Span("cycle", 10.0, 12.0, None, 2),
    ]
    assert self_times(spans) == {"cycle": 10 - 3 - 4 + 2, "sink": 2.0, "retry": 1.0, "merge": 4.0}


def test_quartile_spread():
    assert quartile_spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert round(quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]), 9) == round(3.0 / 3.0, 9)


def test_board_generator_is_deterministic():
    a_boards, a_expected = boardgen.generate(7, 60)
    b_boards, b_expected = boardgen.generate(7, 60)
    assert a_boards == b_boards
    assert a_expected == b_expected
    c_boards, _ = boardgen.generate(8, 60)
    assert c_boards != a_boards


def test_board_generator_expected_counts():
    boards, expected = boardgen.generate(3, 200)
    cold, drift = expected
    assert len(boards) == 2
    assert cold.creates == len(cold.open) and cold.updates == cold.field_changes == 0
    assert drift.creates > 0 and drift.updates > 0 and drift.field_changes > 0
    retitled = [t for t, _ in drift.open.values() if t and t.endswith("(rev 1)")]
    assert retitled and set(drift.open) != set(cold.open)
    # the generator keeps the fixture's edge cases: both checklist formats
    cards = boards[0]["cards"]
    assert any("checklists" in c for c in cards)
    assert any("checklists" not in c for c in cards)


def test_refusals_are_seeded_and_follow_the_backoff_rule():
    keys = [f"create:c{i}:None" for i in range(5000)]
    refused = [sink.refusals(1, k) for k in keys]
    assert refused == [sink.refusals(1, k) for k in keys]
    assert 0.01 < sum(r > 0 for r in refused) / len(keys) < 0.03
    values = {
        "sent_create": 10, "sent_update": 0, "sent_field": 0,
        "rate_limited": 3, "second_refusals": 1, "backoffs": 3,
        "backoff_s_requested": 2 * 60.0 + 120.0,
    }
    assert sink.check_counts(values, {"create": 10, "update": 0, "field": 0}) == []
    assert sink.check_counts({**values, "backoff_s_requested": 180.0}, {"create": 10}) != []
    assert sink.check_counts(values, {"create": 11}) != []


def test_tables_are_deterministic():
    a = tables.build_tables(5, 0.0001)
    b = tables.build_tables(5, 0.0001)
    assert set(a) == {"region", "nation", *tables.ROWS}
    assert all(a[t].equals(b[t]) for t in a)
    assert not tables.build_tables(6, 0.0001)["lineitem"].equals(a["lineitem"])


def test_documents_carry_near_duplicates():
    docs = tables.build_tables(2, 0.002)["documents"].to_pydict()
    texts = docs["text"]
    dups = [t for t in texts if t.endswith(" dup")]
    assert len(dups) == len(texts) // 20
    assert all(t[: -len(" dup")] in texts for t in dups)
    assert docs["source"][:21] == [f"src{i % 20}" for i in range(21)]


def test_stat_reads_fields_after_the_thread_name(tmp_path):
    path = tmp_path / "stat"
    path.write_text("42 (C2 CompilerThre) S 7 0 0 0 -1 0 0 0 0 0 31 5 0 0 20 0\n")
    fields = _stat(str(path), JIT_THREADS)
    assert fields[1] == "7" and (fields[11], fields[12]) == ("31", "5")
    path.write_text("43 (a (b) c) R 7 0 0 0 -1 0 0 0 0 0 1 2 0 0 20 0\n")
    assert _stat(str(path), JIT_THREADS) is None
    assert _stat(str(path))[0] == "R"
    assert _stat(str(tmp_path / "gone")) is None


def test_metric_names_match_benchmark_json():
    import json
    import os

    from perfbench import workloads

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for kind, printed in (("end_to_end", workloads.END_TO_END), ("per_layer", workloads.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in bench[kind]} == printed
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
