"""Pandas-path fetch parity gate (round 13, from the r12 t19 red).

THE GAP THIS CLOSES: verify_local / the pytest oracle tests fetch
DuckDB results via fetchall(), which returns HUGEINT (int128) as
exact Python ints — but a pandas-path fetch (duckdb rel.df(), the
shape the driver's canonicalizer evidently uses) coerces HUGEINT to
float64. Local duckdb 1.0.0 reproduces this: SUM(BIGINT) fetched as
3.0, not 3. t19's oracle carried exactly such a column and passed
every fetchall-based gate at four scale factors, then failed its
first driver exposure. This gate fetches BOTH engines the pandas way
(spark df.toPandas(), duckdb rel.df()), canonicalizes (sorted
columns, stringified cells, sorted rows), and demands equality —
any cross-engine representation divergence a pandas-path driver
could see fails HERE first.

Usage: python tools/pandas_fetch_gate.py [--sf DIR] [--out FILE] [names...]
(defaults: every registered query at sf0.01; artifact PANDAS_FETCH.json)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

import numpy as np

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from tools.verify_local import oracle_db  # noqa: E402
from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.session import get_spark  # noqa: E402


def _cell(v) -> str:
    """One pandas cell -> canonical string. NULL-likes unify (None /
    NaN / NaT) because a pandas fetch erases WHICH null the engine
    sent; everything else renders through the repr a canonicalizer
    would see."""
    # Unified null check (r13 ADVICE): pandas.isna covers None, NaN,
    # NaT, AND pandas.NA — a nullable-dtype column (e.g. Int64) from
    # either fetch path would otherwise stringify as '<NA>' against
    # the other side's 'NULL', a false FAIL. Guard against arrays
    # (isna on a list/ndarray returns an array, not a scalar).
    if not isinstance(v, (list, tuple, np.ndarray)):
        try:
            import pandas as _pd

            if _pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass
    if isinstance(v, float) and math.isnan(v):
        return "NULL"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return repr(int(v))
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if hasattr(v, "isoformat"):
        # DATE-representation unification: Spark's pandas fetch gives
        # datetime.date for DATE columns while DuckDB's gives a
        # midnight datetime64 — same logical value, different carrier.
        # Driver evidence says this class is reconciled downstream
        # (ivm3_rollup_cascade outputs a DATE and has 12 rounds of
        # green driver rows), so midnight-truncation is applied to
        # BOTH sides; a genuine timestamp column is timestamps on
        # both engines and still compares at full precision.
        iso = v.isoformat()
        return iso[:-9] if iso.endswith("T00:00:00") else iso
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canon(pdf) -> list[tuple[str, ...]]:
    cols = sorted(pdf.columns)
    col_vals = [[_cell(v) for v in pdf[c].tolist()] for c in cols]
    return sorted(zip(*col_vals)) if col_vals else []


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="PANDAS_FETCH.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    names = args.names or sorted(oracles)

    spark = get_spark("pandas-fetch-gate")
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_db(args.sf)

    results: dict[str, dict] = {}
    n_fail = 0
    for name in names:
        if name not in oracles:
            continue
        t0 = time.time()
        rec: dict = {"match": False, "err": None}
        try:
            spdf = registry.run(spark, name, args.sf, "pandas").value
            dpdf = con.sql(oracles[name]).df()
            a, b = canon(spdf), canon(dpdf)
            rec["rows"] = len(a)
            rec["match"] = (
                sorted(spdf.columns.tolist())
                == sorted(dpdf.columns.tolist())
                and a == b
            )
            if not rec["match"]:
                # name the first divergent (row, column) pair so a
                # failure localizes without re-running anything
                cols = sorted(spdf.columns)
                diff = next(
                    (
                        (i, cols[j], ra[j], rb[j])
                        for i, (ra, rb) in enumerate(zip(a, b))
                        for j in range(len(cols))
                        if ra[j] != rb[j]
                    ),
                    None,
                )
                rec["first_diff"] = (
                    list(map(str, diff)) if diff else "row-count/columns"
                )
        except Exception as exc:  # noqa: BLE001 — sweep must finish
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["secs"] = round(time.time() - t0, 2)
        results[name] = rec
        status = "PASS" if rec["match"] else "FAIL"
        if not rec["match"]:
            n_fail += 1
        print(f"{status} {name} ({rec['secs']}s)"
              + (f" {rec.get('first_diff') or rec['err']}" if not rec["match"] else ""))

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), args.out) if not os.path.isabs(
            args.out) else args.out, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(results)} checked, {n_fail} fail -> {args.out}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
