"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark at the given sf dir, runs the
matching ``oracle_sql()`` on DuckDB over the same parquet files (registered
under the same view names the driver uses), and compares row count, column
names, and an order-insensitive value multiset (floats rounded to 9dp for
comparison — the queries themselves already round displayed floats to 6dp).

Usage: python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, list):
        return tuple(norm_cell(x) for x in v)
    try:  # decimals, dates, timestamps → canonical string
        import decimal
        import datetime

        if isinstance(v, decimal.Decimal):
            return round(float(v), 9)
        if isinstance(v, (datetime.date, datetime.datetime)):
            return str(v)
    except Exception:
        pass
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    # NULL-safe sort: (is-None, value) pairs never compare None against a
    # concrete value (tuple comparison resolves on the bool first)
    return sorted(
        (tuple(norm_cell(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((v is None, v) for v in t),
    ), [cols[i] for i in order]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # one thread, as tests/test_catalog.py: a parallel double sum adds in
    # no fixed order, so a value on a rounding boundary can flip
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from skyline_spark.session import get_spark

    spark = get_spark("parity-check", cores=8)

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            results[name] = {"status": "FAIL", "err": f"spark error: {e}"[:300]}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            results[name] = {"status": "rows_only", "rows": len(srows)}
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e).splitlines()[0][:200]}")
            results[name] = {"status": "FAIL", "err": f"duckdb error: {e}"[:300]}
            n_fail += 1
            continue
        sn, sc = norm_rows(scols, srows)
        dn, dc = norm_rows(dcols, drows)
        ok = True
        if sc != dc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={dc}")
            ok = False
        elif len(sn) != len(dn):
            print(f"FAIL  {name}: rowcount spark={len(sn)} duck={len(dn)}")
            ok = False
        elif sn != dn:
            diffs = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
            print(f"FAIL  {name}: values differ; first diffs: {diffs}")
            ok = False
        if ok:
            print(f"ok    {name}: {len(sn)} rows [{time.time()-t0:.1f}s]")
            results[name] = {"status": "ok", "rows": len(sn),
                             "secs": round(time.time() - t0, 2)}
            n_pass += 1
        else:
            results[name] = {"status": "FAIL"}
            n_fail += 1

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED")
    out_json = os.environ.get("PARITY_JSON")
    if out_json:
        import json

        with open(out_json, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_ok": n_pass,
                       "n_rows_only": n_rows_only, "n_fail": n_fail,
                       "results": results}, f, indent=1, sort_keys=True)
        print(f"wrote {out_json}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
