"""The label-propagation oracle's fixpoint guard (round 8).

dd6/dd22's DuckDB oracle replays bounded-round min-label
propagation (queries/llm_q._CLUSTERS_CTES) and keeps rows only when
round R equals round R-1. These tests pin the guard's SEMANTICS on
the pattern itself, DuckDB-only (no Spark): an under-provisioned
round bound must EMPTY the result — a loud row-count mismatch at the
gate — and may never emit a half-converged labeling, which would be
a silent wrong answer the value hash might even accept on lucky
subsets. The positive case pins that self-loop LP converges to
min-reachable labels. Round 8's first sf1 sweep is the live receipt:
LP_ROUNDS=12 under the sf1 graph's measured 15-round need produced
oracle_rows=0 and a loud FAIL, exactly this contract.
"""

from __future__ import annotations

import duckdb
import pytest

from trello_github_etl_spark.queries.llm_q import LP_ROUNDS


def _lp_sql(rounds: int) -> str:
    """The _CLUSTERS_CTES lp pattern over a `pairs(u, v)` table."""
    return f"""
    WITH RECURSIVE
    edges AS MATERIALIZED (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
      UNION ALL
      SELECT n, n FROM (SELECT u AS n FROM pairs UNION SELECT v FROM pairs)
    ),
    lp AS (
      SELECT n AS doc_id, n AS lbl, 0 AS it
      FROM (SELECT u AS n FROM pairs UNION SELECT v FROM pairs)
      UNION ALL
      SELECT e.v AS doc_id, MIN(l.lbl) AS lbl, l.it + 1 AS it
      FROM lp l JOIN edges e ON e.u = l.doc_id
      WHERE l.it < {rounds}
      GROUP BY e.v, l.it
    ),
    lp_all AS MATERIALIZED (
      SELECT doc_id, lbl, it FROM lp WHERE it >= {rounds - 1}
    ),
    lp_fin AS (SELECT doc_id, lbl FROM lp_all WHERE it = {rounds}),
    lp_prev AS (SELECT doc_id, lbl FROM lp_all WHERE it = {rounds - 1}),
    labels AS (
      SELECT f.doc_id, f.lbl AS cluster_id FROM lp_fin f
      WHERE (SELECT COUNT(*) FROM lp_fin x JOIN lp_prev p USING (doc_id)
             WHERE x.lbl <> p.lbl) = 0
    )
    SELECT doc_id, cluster_id FROM labels ORDER BY doc_id
    """


@pytest.fixture()
def con():
    c = duckdb.connect()
    # a 7-node path (min-label eccentricity 6), a 3-clique, a pair
    c.execute("CREATE TABLE pairs(u BIGINT, v BIGINT)")
    path = [(i, i + 1) for i in range(1, 7)]
    c.executemany(
        "INSERT INTO pairs VALUES (?, ?)",
        path + [(10, 11), (10, 12), (11, 12), (20, 21)],
    )
    return c


def test_converged_bound_yields_min_reachable_labels(con):
    got = con.sql(_lp_sql(10)).fetchall()
    assert got == (
        [(i, 1) for i in range(1, 8)]
        + [(10, 10), (11, 10), (12, 10)]
        + [(20, 20), (21, 20)]
    )


def test_underprovisioned_bound_empties_never_mislabels(con):
    # the 7-node path needs 6 rounds; 3 is not enough — the guard
    # must return ZERO rows (loud row-count FAIL at the gate), not a
    # partially-propagated labeling
    assert con.sql(_lp_sql(3)).fetchall() == []


def test_exact_diameter_bound_converges(con):
    # 6 rounds reach fixpoint but round 5 != round 6 — the guard
    # compares R vs R-1, so convergence is certified only at R=7
    assert con.sql(_lp_sql(6)).fetchall() == []
    assert len(con.sql(_lp_sql(7)).fetchall()) == 12


def test_repo_bound_covers_measured_need_with_margin():
    # sf1's band-collision graph measured 15 rounds (round 8); the
    # committed bound must keep >= 2x margin so corpus drift fails
    # loudly in the guard, not silently in review
    assert LP_ROUNDS >= 30
