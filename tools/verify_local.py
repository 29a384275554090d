"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, column
names, and the full order-insensitive multiset of values (exact,
including float bits). Stricter than any hash — if this passes, the
driver's hash comparison passes.

Usage: python tools/verify_local.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from trello_github_etl_spark import registry  # noqa: E402
from trello_github_etl_spark.io import TABLES, table_path  # noqa: E402
from trello_github_etl_spark.session import get_spark  # noqa: E402


def normalize(rows, cols):
    """Rows → sorted list of tuples keyed by sorted column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            # Timestamps → ISO string so Spark/DuckDB types unify.
            if hasattr(v, "isoformat"):
                v = v.isoformat()
            if isinstance(v, (list, tuple)):
                v = tuple(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per registry table under
    ``sf_dir``, the relations every oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        try:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        except duckdb.Error:
            # partial fixture dirs are legitimate (.data/sf5 carries
            # only documents/embeddings by design — tools/make_sfN.py);
            # a query over a missing table then fails LOUDLY in its
            # own row instead of killing the whole sweep here
            print(f"note: table {t!r} absent at {sf_dir}; view skipped")
    return con


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    names = args.names or sorted(registry.QUERIES)

    spark = get_spark("verify_local")
    con = oracle_db(args.sf)

    # Each query additionally emits one machine-readable line
    # ("RESULT {json}") that tools/sweep_to_json.py copies VERBATIM
    # into the CORRECTNESS artifact, so the artifact records exactly
    # what was checked rather than being re-inferred from the human
    # log format (ADVICE r3: the converter used to fabricate
    # oracle_rows/schema_match from a 'PASS' regex).
    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        t0 = time.time()
        rec = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "err": None,
        }

        def emit(human: str) -> None:
            rec["secs"] = round(time.time() - t0, 1)
            print(human)
            print(f"RESULT {json.dumps({name: rec})}")

        try:
            run = registry.run(spark, name, args.sf, "collect")
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"spark error: {e}"
            emit(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        srows, scols = run.value, run.columns
        # Spark-side wall time alone (build + collect), BEFORE the
        # DuckDB oracle runs: `secs` includes the oracle + multiset
        # compare, which grows with sf and pollutes scale ratios
        # (tools/ratio_gate.py prefers this field — at sf1, s1's
        # brute-force SQL oracle is 30x its Spark time). `jobs` counts
        # the jobs tagged with the query; `pins` the persistent RDDs it
        # left registered (registry.run says why clearCache() alone
        # does not release them).
        rec["spark_secs"] = round(run.secs, 2)
        rec.update(jobs=len(run.jobs), pins=len(run.pins))
        rec["spark_rows"] = len(srows)
        if name not in oracles:
            rec.update(rows_match=True, schema_match=None, hash_match=None)
            emit(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            dcols = rel.columns
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"duckdb error: {e}"
            emit(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        rec["oracle_rows"] = len(drows)

        problems = []
        rec["rows_match"] = len(srows) == len(drows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        if not rec["schema_match"]:
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sn = normalize([tuple(r) for r in srows], scols)
            dn = normalize(drows, dcols)
            rec["hash_match"] = sn == dn
            if sn != dn:
                mism = sum(1 for a, b in zip(sn, dn) if a != b)
                problems.append(f"values differ ({mism}/{len(sn)} rows)")
                for a, b in zip(sn, dn):
                    if a != b:
                        print(f"  spark : {a!r}\n  duckdb: {b!r}")
                        break
        if problems:
            rec["err"] = "; ".join(problems)
            emit(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            emit(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
